package graftbench

import java.io.PrintWriter
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Splits traced passes across Spark's layers with public listener
  * APIs only: a `SparkListener` for jobs, stages and tasks, and a
  * `QueryExecutionListener` that reads planning phases and walks each
  * executed plan's SQL metrics.
  *
  * It is attached for one pass and detached after [[drainAndDetach]],
  * which runs a marker job and waits until the listener bus has
  * delivered it, so every event of the pass has been counted. SQL
  * metrics are read as deltas per metric id: a cached plan or a reused
  * exchange walked again adds only what ran since it was last read,
  * and a metric created before the pass (a table cache filled during
  * set-up) counts from its value when first seen.
  */
final class Tracer(spark: SparkSession, dataDir: String, cpus: Int)
    extends SparkListener with QueryExecutionListener {
  private val DrainProp = "graftbench.drain"
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMs(nanoTime: Long): Double = (nanoTime + epochOffsetNs) / 1e6

  private val dataRoot = new java.io.File(dataDir).getCanonicalPath + "/"

  // per-pass counters, reset by attach()
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val tableRows = new java.util.IdentityHashMap[AnyRef, java.lang.Long]
  // kept across passes
  private val lastMetric = mutable.Map.empty[Long, Long]
  private val stageIsSql = mutable.Map.empty[Int, Boolean]
  private val jobStart = mutable.Map.empty[Int, (Long, Option[Long])]
  private val sqlStart = mutable.Map.empty[Long, Long]
  /** (kind, id, startMs, endMs, sql execution id) of listener-side spans. */
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Option[Long])]
  private var drainJob = -1
  private var drainStages = Set.empty[Int]
  private var drained = new CountDownLatch(1)
  private var metricFloor = 0L

  def attach(): Unit = synchronized {
    c.clear(); jobIntervals.clear(); tableRows.clear()
    drained = new CountDownLatch(1)
    // accumulator ids only grow: every metric below this one predates the pass
    metricFloor = spark.sparkContext.longAccumulator.id
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drainAndDetach(): Unit = {
    val sc = spark.sparkContext
    val latch = synchronized(drained)
    sc.setLocalProperty(DrainProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainProp, null)
    require(latch.await(120, TimeUnit.SECONDS), "listener bus did not drain")
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(DrainProp) != null)) {
      drainJob = e.jobId; drainStages = e.stageIds.toSet
    } else {
      val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      e.stageIds.foreach(stageIsSql(_) = sqlId.isDefined)
      jobStart(e.jobId) = (e.time, sqlId)
      c("spark.jobs") += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == drainJob) drained.countDown()
    else jobStart.remove(e.jobId).foreach { case (t0, sqlId) =>
      jobIntervals += ((t0, e.time))
      spans += (("job", e.jobId.toLong, t0, e.time, sqlId))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!drainStages(e.stageInfo.stageId)) c("spark.stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && !drainStages(e.stageId)) {
      c("spark.tasks") += 1
      c("spark.task_run_ms") += m.executorRunTime
      c("spark.task_cpu_ms") += m.executorCpuTime / 1e6
      c("spark.gc_ms") += m.jvmGCTime
      c("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("spark.shuffle_read_mb") +=
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6
      c("spark.spill_mb") += m.diskBytesSpilled / 1e6
      if (!stageIsSql.getOrElse(e.stageId, true)) c("op.unattributed_ms") += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(s.executionId).foreach { t0 =>
          spans += (("sql", s.executionId, t0, s.time, None))
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planned(qe)
      var writes = false
      walk(qe.executedPlan) { p =>
        if (p.isInstanceOf[DataWritingCommandExec]) writes = true
        account(p)
      }
      if (writes) c("op.write_ms") += durationNs / 1e6
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    synchronized(planned(qe))

  private def planned(qe: QueryExecution): Unit = {
    c("spark.sql_execs") += 1
    c("spark.plan_ms") += qe.tracker.phases.values.map(_.durationMs).sum
  }

  private def walk(p: SparkPlan)(visit: SparkPlan => Unit): Unit = {
    visit(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other                    => other.children
    }
    (kids ++ p.subqueries).foreach(walk(_)(visit))
  }

  private def delta(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map { m: SQLMetric =>
      val v = math.max(0L, m.value)
      val d = v - lastMetric.getOrElse(m.id, if (m.id < metricFloor) v else 0L)
      lastMetric(m.id) = v
      math.max(0L, d)
    }.getOrElse(0L)

  private def isTableScan(f: FileSourceScanExec): Boolean =
    f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dataRoot))

  private def account(p: SparkPlan): Unit = {
    p match {
      case _: ShuffleExchangeExec =>
        c("op.exchange_ms") += delta(p, "shuffleWriteTime") / 1e6 + delta(p, "fetchWaitTime")
      case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec =>
        c("op.agg_ms") += delta(p, "aggTime")
      case _: SortExec => c("op.sort_ms") += delta(p, "sortTime")
      case _: ShuffledHashJoinExec => c("op.join_build_ms") += delta(p, "buildTime")
      case _: BroadcastExchangeExec =>
        c("op.join_build_ms") += delta(p, "buildTime")
        c("op.broadcast_ms") += delta(p, "collectTime") + delta(p, "broadcastTime")
      case f: FileSourceScanExec if isTableScan(f) =>
        c("Tables.scan_ms") += delta(p, "scanTime") + delta(p, "metadataTime")
        c("Tables.scan_mb") += delta(p, "filesSize") / 1e6
      case i: InMemoryTableScanExec if isTableCache(i.relation.cachedPlan) =>
        tableRows.put(i.relation.cacheBuilder, i.relation.cacheBuilder.rowCountStats.value)
      case _ =>
    }
    p.metrics.get("peakMemory").foreach { m =>
      c("op.peak_mem_mb") = math.max(c("op.peak_mem_mb"), m.value / 1e6)
    }
  }

  /** A table cache holds a bare scan of an input table: a parquet scan
    * under the data directory with no exchange above it. */
  private def isTableCache(plan: SparkPlan): Boolean = {
    var scan = false
    var exchange = false
    walk(plan) {
      case f: FileSourceScanExec => scan ||= isTableScan(f)
      case _: Exchange           => exchange = true
      case _                     =>
    }
    scan && !exchange
  }

  /** Layer figures of the pass that ran over [startNs, startNs + wallNs). */
  def passLayers(startNs: Long, wallNs: Long): Seq[(String, Double)] = synchronized {
    val lo = epochMs(startNs).toLong
    val hi = epochMs(startNs + wallNs).toLong
    val busy = Stats.unionLength(jobIntervals.toSeq, lo, hi)
    var rows = 0L
    tableRows.values.forEach(r => rows += r)
    c.toSeq ++ Seq(
      "spark.driver_gap_ms" -> (hi - lo - busy).toDouble,
      "spark.core_busy_frac" -> c("spark.task_run_ms") / (wallNs / 1e6 * cpus),
      "Tables.cache_rows" -> rows.toDouble)
  }

  /** Writes the span tree, one JSON object per line: pass → key →
    * {build, exec} from the harness, then SQL executions and jobs from
    * the listener, each naming the span that caused it. A SQL
    * execution's parent is the build or exec span it started in; a
    * job's is its SQL execution, else the build or exec span. */
  def writeSpans(file: String, passes: Seq[PassRun]): Unit = synchronized {
    val out = new PrintWriter(file, "UTF-8")
    var next = 0L
    val phases = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    def emit(id: String, parent: String, kind: String, name: String, s: Double, e: Double): Unit =
      out.println(Json.obj(Seq("id" -> Json.str(id), "parent" -> Json.str(parent),
        "kind" -> Json.str(kind), "name" -> Json.str(name),
        "start_ms" -> Json.num(s), "end_ms" -> Json.num(e))))
    passes.foreach { p =>
      next += 1
      val pid = next
      emit(s"h$pid", "", "pass", s"pass${p.index}", epochMs(p.startNs), epochMs(p.startNs + p.wallNs))
      p.keys.foreach { k =>
        next += 1
        val kid = next
        val b = epochMs(k.startNs)
        val x = epochMs(k.startNs + k.buildNs)
        val e = epochMs(k.startNs + k.buildNs + k.execNs)
        emit(s"h$kid", s"h$pid", "key", k.key, b, e)
        Seq(("build", b, x), ("exec", x, e)).foreach { case (kind, s0, e0) =>
          next += 1
          phases += ((next, s0, e0))
          emit(s"h$next", s"h$kid", kind, s"${k.module}.$kind", s0, e0)
        }
      }
    }
    def enclosing(t: Long): String =
      phases.find { case (_, s0, e0) => t >= math.floor(s0) && t <= math.ceil(e0) }
        .map(x => s"h${x._1}").getOrElse("")
    val sqlIds = spans.collect { case ("sql", id, _, _, _) => id }.toSet
    spans.foreach { case (kind, id, s0, e0, sqlId) =>
      val parent = sqlId.filter(sqlIds).map(i => s"sql$i").getOrElse(enclosing(s0))
      emit(s"$kind$id", parent, kind, kind, s0.toDouble, e0.toDouble)
    }
    out.close()
  }
}
