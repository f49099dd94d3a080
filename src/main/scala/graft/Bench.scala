package graft
import java.util.Locale
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // interleaved reps cycle ~104 distinct query plans between a
      // query's reps; the default 100-entry codegen class cache evicts
      // everything in between and every rep pays full recompilation —
      // size it to hold the whole suite's generated classes
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // HOST CANARY (r18 verdict ask #3): a fixed pure-JVM workload
    // timed before warm-up and again after the timed reps, written
    // INTO the bench JSON as canary_pre/canary_post — every bench
    // window artifact carries its own host-speed reading, so
    // cross-round record ratios read against a number instead of a
    // binary A/B. ~4 s total; the checksums keep the work JIT-live.
    val (canPreS, canPreM, canPreCk) = graft.tools.HostCanary.measure(1)
    // pass reflects steady-state execution — codegen compiled, JIT'ed,
    // and the shared table cache (Tables.cached) materialized — not
    // first-query JVM warmup or cache-fill cost.
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case NonFatal(_) => () }
      finally graft.ops.ScratchCache.releaseAll()
    }
    // Min-of-N per query, with the reps INTERLEAVED as full suite
    // passes (pass 1 times every query, then pass 2, ...): a machine
    // load spike — even one lasting minutes — overlaps each query's
    // reps in at most one pass, so the per-query min survives it.
    // Back-to-back reps would put all N reps of a query inside one
    // spike (round 2's driver run recorded a ~46% phantom inflation
    // from exactly that). Min (not median/mean) because external noise
    // is strictly additive.
    //
    // SCRATCH-CACHE CONTRACT: operator-local scratch frames
    // (graft.ops.ScratchCache) are released after EVERY query
    // execution, warm-up and timed reps alike. Each rep therefore
    // measures a SELF-CONTAINED query execution — its multi-consumer
    // intermediates are built and consumed within the timed run, the
    // honest per-query cost. (The earlier keep-warm contract assumed
    // plan-canonical cache re-matching across reps; that never held
    // for checkpoint-backed frames — ccLabels rounds mint fresh RDDs
    // each rep — so blocks and release thunks accumulated every rep
    // and executor storage grew rep-over-rep, risking eviction/OOM
    // that skews timings. Per-query release keeps storage flat; the
    // JIT/codegen warm-up and the shared Tables cache still carry
    // across reps.)
    //
    // A query that THROWS records -1 (never a timing): time-to-
    // exception would otherwise masquerade as a fast valid
    // measurement, hiding a red query behind a green-looking number.
    // The exception's first line is kept per key (`errors` in the
    // JSON) so a failing artifact names its own root cause — round
    // 7's 19 reds were diagnosable only by re-running tests because
    // the bench recorded nothing but -1.
    val best = scala.collection.mutable.Map.empty[String, Double]
    val errors = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to reps; (name, fn) <- SparkEntry.queries) {
      val t0 = System.nanoTime()
      val t = try { fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case NonFatal(e) =>
        errors(name) = Bench.firstLine(e)
        -1.0
      }
      finally graft.ops.ScratchCache.releaseAll()
      if (t >= 0)
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
    }
    val (canPostS, canPostM, canPostCk) = graft.tools.HostCanary.measure(2)
    val canaryJson = {
      def leg(s: Double, m: Double, ck: Long) =
        """{"single_mops":%.1f,"x32_mops":%.1f,"ck":%d}"""
          .formatLocal(Locale.ROOT, s, m, ck & 0xff)
      s""""canary_pre":${leg(canPreS, canPreM, canPreCk)},""" +
        s""""canary_post":${leg(canPostS, canPostM, canPostCk)}"""
    }
    val results =
      SparkEntry.queries.keys.map(n => n -> best.getOrElse(n, -1.0)).toMap
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // ASCENDING-by-seconds entry order (ties by name, deterministic):
    // the harness that reads this output keeps only a fixed-size TAIL
    // of it, so whatever sits at the END of the per-query dict is what
    // stays auditable — cheap keys first puts every expensive key (the
    // ones a perf comparison is about) inside the surviving window.
    val ordered = results.toSeq.sortBy { case (k, v) => (v, k) }
    def dict(vs: Seq[(String, Double)], fmt: Double => String) =
      vs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    // stdout values at 3 decimals (1 ms — below bench noise): ~30%
    // shorter line, more keys inside the captured tail. bench_full.json
    // keeps full precision.
    val qs = dict(ordered, v => "%.3f".formatLocal(Locale.ROOT, v))
    val qsFull = dict(ordered, _.toString)
    // total sums only successful queries; the failed list + their -1
    // entries make a red query impossible to miss in the JSON
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errorsJson = failed
      .map(k => "\"" + k + "\":\"" + jsonEscape(errors.getOrElse(k, "unknown")) + "\"")
      .mkString("{", ",", "}")
    // r19 verdict ask #2: the SHORT total line prints FIRST and the full
    // per-query line prints LAST, so a tail-capturing harness sees as
    // much of the per-query dict as its window allows and the line's
    // closing keys — metric/value/sf placed AFTER the dict — always
    // survive. (JSON key order is semantically irrelevant; only the
    // tail-visibility of the totals depends on it.)
    def line(qdict: String) =
      s"""{"queries":$qdict,"failed":$failedJson,"errors":$errorsJson,$canaryJson,"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"sf":"$sfDir"}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"sf":"$sfDir"}""")
    // Also persist the FULL per-query line (full-precision values):
    // harnesses that capture only an output tail keep all ~214 timings
    // auditable on disk (override the path with SPARK_GRAFT_BENCH_OUT;
    // best-effort — an unwritable path must not fail the bench)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line(qsFull) + "\n")
    catch { case NonFatal(_) => () }
    println(line(qs))
    spark.stop()
  }

  /** Exception class + first message line, the one string that names a
    * failure's root cause in the bench artifact. */
  def firstLine(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("")
    val head = msg.linesIterator.find(_.nonEmpty).getOrElse("")
    (e.getClass.getSimpleName + (if (head.nonEmpty) ": " + head else ""))
      .take(300)
  }

  /** Minimal JSON string escaping for the hand-rolled bench line. */
  def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }
}
