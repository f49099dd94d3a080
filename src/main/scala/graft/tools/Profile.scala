package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev utility: run the named queries N times each at the Bench config
  * with a stage-metrics listener attached, printing per-rep wall time
  * NEXT TO the executor-side evidence (run time, GC time, memory/disk
  * spill, shuffle bytes) — the tool for adjudicating whether a bench
  * excursion was plan cost (run time scales with wall), GC (gcTime
  * dominates), spill (disk bytes appear), or host contention (wall
  * inflates while every executor-side number stays flat).
  * Usage: runMain graft.tools.Profile <sfDir> <reps> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q_graph_hits")
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
    // accumulate stage metrics between marks; listener events are
    // async, so each rep waits for the bus to drain before reading
    val agg = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[String, Long].withDefaultValue(0L))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) agg.updateAndGet { a =>
          a + ("stages" -> (a("stages") + 1)) +
            ("runMs" -> (a("runMs") + m.executorRunTime)) +
            ("gcMs" -> (a("gcMs") + m.jvmGCTime)) +
            ("cpuMs" -> (a("cpuMs") + m.executorCpuTime / 1000000L)) +
            ("memSpill" -> (a("memSpill") + m.memoryBytesSpilled)) +
            ("diskSpill" -> (a("diskSpill") + m.diskBytesSpilled)) +
            ("shufRead" ->
              (a("shufRead") + m.shuffleReadMetrics.totalBytesRead)) +
            ("shufWrite" ->
              (a("shufWrite") + m.shuffleWriteMetrics.bytesWritten))
        }
      }
    })
    def drain(): Unit =
      // public-API flush: a tiny job forces the bus past prior events
      spark.sparkContext.parallelize(Seq(1), 1).count()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count() // warm-up
      catch { case e: Throwable => println(s"$n failed: ${e.getMessage}") }
      finally graft.ops.ScratchCache.releaseAll()
      (1 to reps).foreach { r =>
        drain(); Thread.sleep(300)
        agg.set(Map.empty[String, Long].withDefaultValue(0L))
        val t0 = System.nanoTime()
        // a failed rep must read as FAILED, not as a suspiciously fast
        // wall time — this tool adjudicates bench excursions (ADVICE
        // r15)
        val failed =
          try { SparkEntry.queries(n)(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(e.getClass.getSimpleName) }
          finally graft.ops.ScratchCache.releaseAll()
        val wall = (System.nanoTime() - t0) / 1e9
        drain(); Thread.sleep(300)
        val a = agg.get()
        val mark = failed.map(c => s" FAILED($c)").getOrElse("")
        println(f"$n rep$r$mark wall=$wall%6.2fs stages=${a("stages")}%3d " +
          f"run=${a("runMs") / 1e3}%7.2fs cpu=${a("cpuMs") / 1e3}%7.2fs " +
          f"gc=${a("gcMs") / 1e3}%6.2fs " +
          f"memSpill=${a("memSpill") / 1e6}%.1fMB " +
          f"diskSpill=${a("diskSpill") / 1e6}%.1fMB " +
          f"shufR=${a("shufRead") / 1e6}%.1fMB " +
          f"shufW=${a("shufWrite") / 1e6}%.1fMB")
      }
    }
    spark.stop()
  }
}
