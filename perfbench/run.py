#!/usr/bin/env python3
"""graft benchmark: one workload of registered SparkEntry query keys,
fully materialized, in fresh JVMs.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

It compiles the library and the harness with the Scala compiler that
ships in the Spark distribution, generates the seed's input tables with
tools/gen_sf.py, runs the workload closed-loop for S seconds, writes
every key's output once more for the DuckDB oracle (tools/check.py),
and prints one line per metric and, last, one JSON object. Workload
key lists, the kg_build stage each key stands for, the layer-to-metric
map and the first baseline live in perfbench/workloads.json.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".bench_build" / "graftbench"
HEAP = "2g"
RUN_LIMIT_S = 170
# build.sbt's jdk17AddOpens: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        fail("no library sources under src/main/scala; run from the repository root")
    return main + sorted(HERE.glob("*.scala"))


def spark_jars():
    """The Spark distribution's jars directory, as build.sbt names it."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        fail("build.sbt names no unmanagedBase jars directory")
    return Path(m.group(1))


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def build():
    """Compiles the library and the harness once per source state."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = WORK / f"classes-{h.hexdigest()[:16]}"
    if (classes / "BUILT").exists():
        return classes
    jars = spark_jars()
    compiler = [jars / f"scala-{n}-2.13.17.jar" for n in ("compiler", "library", "reflect")]
    if not all(j.exists() for j in compiler):
        fail(f"Scala 2.13.17 compiler jars not found in {jars}")
    for old in WORK.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    classes.mkdir(parents=True)
    log(f"perfbench: compiling {len(files)} Scala files")
    args = WORK / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
         "-classpath", f"{jars}/*", f"@{args}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    (classes / "BUILT").write_text("ok\n")
    return classes


def generate(seed, sf):
    """The seed's input tables: tools/gen_sf.py with every one of its
    fixed generator seeds mixed with `seed`."""
    out = WORK / "data" / f"sf{sf}-seed{seed}"
    if (out / "DONE").exists():
        return out
    gen_path = ROOT / "tools" / "gen_sf.py"
    import numpy as np
    spec = importlib.util.spec_from_file_location("gen_sf", gen_path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    base = np.random.default_rng
    np.random.default_rng = lambda s=None: base([seed, s])
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen.main(sf, str(tmp))
    finally:
        np.random.default_rng = base
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    (out / "DONE").write_text("ok\n")
    return out


def key_modules():
    """key -> owning module object, read from SparkEntry's registrations."""
    src = (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text()
    return dict(re.findall(r'"(q_\w+)"\s*->\s*\((\w+)\.\w+\s+_\)', src))


def java(classes, main, args, cwd=None, env=None, props=(), timeout=None):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           *(f"-D{p}" for p in props)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(classes), main, *args]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=cwd, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} did not finish within {timeout:.0f} s")
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def canary(classes, deadline):
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", classpath(classes), "graftbench.Canary", str(cpus())],
        capture_output=True, text=True, timeout=max(1, deadline - time.time()))
    m = re.search(r"canary_mops (\S+)", out.stdout)
    return float(m.group(1)) if m else float("nan")


def oracle_check(data, verify, keys, deadline):
    """Keys whose written output does not match the DuckDB oracle."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(data), str(verify)],
                       cwd=verify, capture_output=True, text=True,
                       timeout=max(1, deadline - time.time()))
    log(r.stdout.strip())
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    return {k: ("oracle mismatch" if re.search(rf"^FAIL {k}\b", r.stdout, re.M) else
                "no oracle result") for k in keys if k not in passed}


def run(a):
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/gen_sf.py", "tools/check.py"):
        if not (ROOT / need).exists():
            fail(f"{need} not found; run from the root of a graft checkout")
    started = time.time()
    deadline = started + RUN_LIMIT_S
    spec = json.loads((HERE / "workloads.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; choose from {', '.join(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    modules = key_modules()
    missing = [k for k in w["keys"] if k not in modules]
    if missing:
        fail(f"keys not registered in SparkEntry: {missing}")
    classes = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)
    data = generate(a.seed, spec["scale_factor"])

    rundir = WORK / "runs" / f"{a.workload}-trace{a.trace}"
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = rundir / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    props = [f"java.io.tmpdir={tmp}"]
    common = ["--data", str(data), "--cpus", str(cpus()),
              "--keys", ",".join(f"{k}:{modules[k]}" for k in w["keys"]),
              "--cold", "1" if w["cold"] else "0"]

    canary_pre = canary(classes, deadline)
    out = rundir / "result.json"
    launched = time.time()
    code = java(classes, "graftbench.Harness", common + [
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(out),
        "--verify", str(rundir / "verify"), "--spans", str(rundir / "spans.jsonl")],
        cwd=rundir, env=env, props=props, timeout=max(1, deadline - time.time()))
    if code != 0 or not out.exists():
        fail(f"harness JVM exited with code {code}")
    main = json.loads(out.read_text())
    canary_post = canary(classes, deadline)
    bad = oracle_check(data, rundir / "verify", w["keys"], deadline)
    shutil.rmtree(tmp, ignore_errors=True)

    errors = {**{k: f"threw: {v}" for k, v in main["errors"].items()},
              **{k: f"oracle: {v}" for k, v in bad.items()}}
    attempted = main["attempted"] + len(w["keys"])
    failed = main["failed"] + len(bad)
    e2e = {
        "setup_s": main["setup_end_ms"] / 1000 - launched,
        "wall_s": main["wall_s"],
        "query_geomean_s": main["query_geomean_s"],
        "query_tail_s": main["query_tail_s"],
        "cpu_s": main["cpu_s"],
        "peak_rss_mb": main["peak_rss_mb"],
        "ok_frac": 1 - failed / attempted,
    }
    print(f"workload {a.workload} seed {a.seed} sf {spec['scale_factor']} cpus {cpus()} "
          f"keys {len(w['keys'])} timed_passes {main['passes']} trace {a.trace}")
    print(f"canary_mops pre {canary_pre:.1f} post {canary_post:.1f} threads {cpus()} (metadata)")
    for k, v in sorted(errors.items()):
        print(f"failed {k} {v}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    notes = {
        "setup_s": "JVM launch to the end of the first pass",
        "query_tail_s": f"p{main['tail_pct']:g} of n={main['tail_n']} key executions",
        "ok_frac": f"failed_frac {failed / attempted:.6f} = {failed} of {attempted}",
    }
    if a.trace:
        metrics = {m["name"]: main["layers"].get(m["name"], 0.0) for m in bench["per_layer"]}
        metrics["trace.wall_ratio"] = main["trace_overhead"]
        notes["trace.wall_ratio"] = "traced over untraced median pass wall, same JVM"
    else:
        metrics = e2e
    for k, v in metrics.items():
        print(f"{k} {v!r} {units.get(k, '')}" + (f"  ({notes[k]})" if k in notes else ""))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }))


def selftest():
    classes = build()
    code = java(classes, "graftbench.HarnessTest", [],
                props=["user.language=de", "user.country=DE"], timeout=120)
    sys.exit(code)


def main():
    # a SIGTERM unwinds like Ctrl-C, so a running JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        selftest()
    if not a.workload:
        fail("--workload is required")
    run(a)


if __name__ == "__main__":
    main()
