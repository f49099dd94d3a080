package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}
import graft.ops.ScratchCache

/** One key execution: `build` is the call into the owning module (eager
  * rounds, checkpoints and sink writes happen there), `exec` the
  * materializing write. A key that throws carries its error and no
  * timing. `startNs` is on the `System.nanoTime` clock. */
final case class KeyRun(key: String, module: String, startNs: Long,
    buildNs: Long, execNs: Long, error: Option[String]) {
  def seconds: Double = (buildNs + execNs) / 1e9
}

final case class PassRun(index: Int, traced: Boolean, startNs: Long,
    wallNs: Long, cpuNs: Long, keys: Seq[KeyRun],
    layers: Map[String, Double])

/** Failures and end-to-end figures of a set of passes. */
final case class Summary(attempted: Int, failed: Int,
    errors: Map[String, String], wallS: Double, cpuS: Double,
    geomeanS: Double, tail: (Double, Double, Int))

/** Runs one workload's keys back to back, pass after pass, in a fresh
  * JVM (a closed loop with one client thread).
  *
  * Pass 0 is set-up: its end marks `setup_end_ms`. It writes each key's
  * output `coalesce(1)` to parquet under `--verify DIR` for the oracle
  * compare, where the timed passes use Spark's `noop` sink; a separate
  * correctness pass would cost every run one more full pass. Timed
  * passes follow until `--seconds` have passed. With
  * `--trace 1` every second timed pass runs with the [[Tracer]]
  * attached and the others without, at least untraced, traced,
  * untraced, so the traced/untraced wall ratio is measured in the same
  * JVM with the warm-up trend on both sides of the traced pass.
  *
  * Usage: Harness --data DIR --keys k:Module,... --seconds S --cpus N
  *   --verify DIR --out FILE [--trace 0|1] [--cold 0|1] [--spans FILE]
  */
object Harness {
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def firstLine(e: Throwable): String = {
    val head = Option(e.getMessage).getOrElse("").linesIterator
      .find(_.trim.nonEmpty).getOrElse("")
    (e.getClass.getName + (if (head.nonEmpty) ": " + head else "")).take(300)
  }

  def runKey(key: String, module: String, build: () => DataFrame,
      exec: DataFrame => Unit): KeyRun = {
    val t0 = System.nanoTime()
    try {
      val df = build()
      val t1 = System.nanoTime()
      exec(df)
      KeyRun(key, module, t0, t1 - t0, System.nanoTime() - t1, None)
    } catch {
      case NonFatal(e) => KeyRun(key, module, t0, 0L, 0L, Some(firstLine(e)))
    }
  }

  def summarize(passes: Seq[PassRun]): Summary = {
    val runs = passes.flatMap(_.keys)
    val ok = runs.filter(_.error.isEmpty)
    val errors = runs.flatMap(r => r.error.map(r.key -> _)).toMap
    if (ok.isEmpty)
      return Summary(runs.size, runs.size, errors, Double.NaN, Double.NaN,
        Double.NaN, (Double.NaN, Double.NaN, 0))
    val perKey = ok.groupBy(_.key).values.map(rs => Stats.median(rs.map(_.seconds)))
    Summary(runs.size, runs.size - ok.size, errors,
      Stats.median(passes.map(_.wallNs / 1e9)),
      Stats.median(passes.map(_.cpuNs / 1e9)),
      Stats.geomean(perKey.toSeq), Stats.tail(ok.map(_.seconds)))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** VmHWM of this JVM in MB (0 where /proc is absent). */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .stream().filter(_.startsWith("VmHWM:")).findFirst()
      if (line.isPresent) line.get.split("\\s+")(1).toDouble / 1024 else 0.0
    } catch { case NonFatal(_) => 0.0 }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def flag(k: String): Boolean = m.get(k).contains("1")
    def opt(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      "arguments come as --name value pairs")
    Args(args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.graft.landmarks.memo", "false")
      .config("spark.graft.edges.memo", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val data = a("data")
    val cpus = a("cpus").toInt
    val keys = a("keys").split(",").toSeq.map { kv =>
      val Array(k, m) = kv.split(":"); k -> m
    }
    val entries = SparkEntry.queries
    keys.foreach { case (k, _) => require(entries.contains(k), s"unknown key $k") }
    val spark = session(cpus)
    val cold = a.flag("cold")
    val tracer = if (a.flag("trace")) Some(new Tracer(spark, data, cpus)) else None

    val verify = a("verify")
    def pass(index: Int, traced: Boolean): PassRun = {
      tracer.filter(_ => traced).foreach(_.attach())
      val t0 = System.nanoTime()
      val (cpu0, gc0, jit0) = (cpuNs(), gcMs(), jitMs())
      if (cold) TableNames.foreach(Tables.refresh(spark, data, _))
      var releaseNs = 0L
      var scratchMb = 0.0
      var tablesMb = 0.0
      val runs = keys.map { case (key, module) =>
        val r = runKey(key, module, () => entries(key)(spark, data),
          if (index == 0) _.coalesce(1).write.mode("overwrite").parquet(s"$verify/$key")
          else _.write.format("noop").mode("overwrite").save())
        val held = if (traced) storageMb(spark) else 0.0
        val r0 = System.nanoTime()
        ScratchCache.releaseAll()
        releaseNs += System.nanoTime() - r0
        if (traced) {
          tablesMb = storageMb(spark)
          scratchMb = math.max(scratchMb, held - tablesMb)
        }
        r
      }
      val wallNs = System.nanoTime() - t0
      val (cpu1, gc1, jit1) = (cpuNs(), gcMs(), jitMs())
      val layers = tracer.filter(_ => traced).map { t =>
        t.drainAndDetach()
        val ok = runs.filter(_.error.isEmpty)
        t.passLayers(t0, wallNs) ++
          ok.map(r => s"key.${r.key}.ms" -> (r.buildNs + r.execNs) / 1e6) ++
          ok.groupBy(_.module).toSeq.flatMap { case (m, rs) =>
            Seq(s"$m.build_ms" -> rs.map(_.buildNs).sum / 1e6,
              s"$m.exec_ms" -> rs.map(_.execNs).sum / 1e6)
          } ++ Seq(
            "ScratchCache.release_ms" -> releaseNs / 1e6,
            "ScratchCache.mb" -> scratchMb,
            "Tables.cache_mb" -> tablesMb,
            "jvm.gc_ms" -> (gc1 - gc0).toDouble,
            "jvm.jit_ms" -> (jit1 - jit0).toDouble)
      }.getOrElse(Map.empty[String, Double])
      PassRun(index, traced, t0, wallNs, cpu1 - cpu0, runs, layers.toMap)
    }

    Files.createDirectories(Paths.get(verify))
    val setup = pass(0, traced = false)
    val setupEndMs = System.currentTimeMillis()
    val timed = ArrayBuffer.empty[PassRun]
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    val minPasses = if (tracer.isDefined) 3 else 1
    while (System.nanoTime() < deadline || timed.size < minPasses) {
      val i = timed.size + 1
      timed += pass(i, traced = tracer.isDefined && i % 2 == 0)
    }
    val rssMb = peakRssMb()

    val oracle = keys.flatMap { case (k, _) => SparkEntry.oracleSql.get(k).map(k -> Json.str(_)) }
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"), Json.obj(oracle))

    val untraced = timed.filterNot(_.traced).toSeq
    val traced = timed.filter(_.traced).toSeq
    val e2e = summarize(untraced)
    val all = summarize(setup +: timed.toSeq)
    val layerMedians = traced.flatMap(_.layers.keys).distinct.sorted.map { k =>
      val vs = traced.map(_.layers.getOrElse(k, 0.0))
      k -> (if (k == "op.peak_mem_mb") vs.max else Stats.median(vs))
    }
    val overhead = if (traced.nonEmpty && untraced.nonEmpty)
      Stats.median(traced.map(_.wallNs / 1e9)) / Stats.median(untraced.map(_.wallNs / 1e9))
    else Double.NaN
    tracer.foreach(t => a.opt("spans").foreach(t.writeSpans(_, traced)))

    val out = Json.obj(Seq(
      "setup_end_ms" -> Json.num(setupEndMs.toDouble),
      "passes" -> Json.num(timed.size.toDouble),
      "attempted" -> Json.num(all.attempted.toDouble),
      "failed" -> Json.num(all.failed.toDouble),
      "errors" -> Json.obj(all.errors.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "wall_s" -> Json.num(e2e.wallS),
      "cpu_s" -> Json.num(e2e.cpuS),
      "query_geomean_s" -> Json.num(e2e.geomeanS),
      "query_tail_s" -> Json.num(e2e.tail._2),
      "tail_pct" -> Json.num(e2e.tail._1),
      "tail_n" -> Json.num(e2e.tail._3.toDouble),
      "peak_rss_mb" -> Json.num(rssMb),
      "pass_walls_s" -> Json.arr(timed.toSeq.map(p => Json.num(p.wallNs / 1e9))),
      "setup_keys_s" -> Json.nums(setup.keys.map(k => k.key -> k.seconds)),
      "trace_overhead" -> Json.num(overhead),
      "layers" -> Json.nums(layerMedians)))
    Files.writeString(Paths.get(a("out")), out + "\n")
    spark.stop()
  }
}
