package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev utility: time the named queries (or all) N times each at the
  * Bench config and print per-rep + min seconds — for iterating on one
  * slow query without paying a full bench pass.
  * Usage: runMain graft.tools.Time <sfDir> <reps> [--conf k=v ...] [query ...]
  */
object Time {
  def main(args: Array[String]): Unit = {
    val (confArgs, rest) = args.partition(_.startsWith("--conf="))
    val confs = confArgs.map(_.stripPrefix("--conf=").split("=", 2))
      .collect { case Array(k, v) => (k, v) }
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (rest.length > 1) rest(1).toInt else 3
    val names = if (rest.length > 2) rest.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    names.foreach { n =>
      // warm-up rep (codegen, table cache), then timed reps; scratch
      // state drains after EVERY execution (same contract as Bench) so
      // each timing is a self-contained run, not a warm-cache replay
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => println(s"$n failed: ${e.getMessage}") }
      finally graft.ops.ScratchCache.releaseAll()
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case _: Throwable => () } // already reported by warmup
        finally graft.ops.ScratchCache.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-22s min=${ts.min}%6.2fs  reps=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
