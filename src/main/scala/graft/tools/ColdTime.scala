package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev probe: time a standing-index key's COLD path honestly (r16
  * verdict ask #4) — delete the tmpdir artifacts matching a prefix,
  * run the key once (build + maintenance + ledger) and once more warm
  * (ledger read), print both walls.
  * Usage: runMain graft.tools.ColdTime <sfDir> <artifactPrefix> <key...>
  */
object ColdTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val prefix = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warm-up on an unrelated cheap key so the cold wall
    // measures the artifact build, not classloading
    SparkEntry.queries("q_agg_global")(spark, sfDir).count()
    graft.ops.ScratchCache.releaseAll()
    names.foreach { n =>
      // anchored `prefix + 16-hex fingerprint` shape, same as
      // dropStaleIndexDirs — a bare startsWith could wipe a sibling
      // dataset's LIVE artifacts when one name string-prefixes another
      graft.ops.DedupSim.dropStaleIndexDirs(prefix, keep = "")
      def one(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        graft.ops.ScratchCache.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = one()
      val warm = one()
      println(f"$n%-22s cold=$cold%6.2fs  warm=$warm%6.2fs")
    }
    spark.stop()
  }
}
