package graft.ops

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Registry for operator-local cached/checkpointed intermediates.
  *
  * Operators return LAZY DataFrames, so they cannot unpersist their own
  * multi-consumer intermediates before the caller has executed the
  * result — the cache would be gone before it was ever read. Instead
  * every operator-local `.cache()` / `localCheckpoint` / persisted RDD
  * registers a release thunk here, and the HARNESS frees them at the
  * right moment:
  *
  *  - [[graft.Verify]] calls [[releaseAll]] after each query's output
  *    is written, so a full correctness pass (one run per query key)
  *    has no net cache growth (each query's scratch frames live only
  *    while that query runs);
  *  - [[graft.Bench]] releases after every query execution (warm-up
  *    and timed reps alike), so executor storage stays FLAT across
  *    reps: checkpoint-backed registrations (ccLabels rounds) create
  *    fresh RDDs each rep that plan-canonical cache matching can never
  *    reuse — without the per-query drain they would accumulate
  *    rep-over-rep and risk eviction/OOM mid-bench;
  *  - long-lived sessions (notebooks) call [[releaseAll]] whenever they
  *    want scratch memory back — table-level caches
  *    ([[graft.Tables]]) are NOT registered here and survive.
  *
  * Thread-safe; releasing is idempotent (Spark ignores unpersist of an
  * already-unpersisted plan, and RDD release thunks guard themselves).
  */
object ScratchCache {
  private val live =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  /** Cache `df` and register it for the next [[releaseAll]]. */
  def cache(df: DataFrame): DataFrame = {
    df.cache()
    live.add(() => df.unpersist(false))
    df
  }

  /** Register an arbitrary release action (e.g. freeing a
    * localCheckpoint's RDD blocks via
    * [[GraphOps.unpersistCheckpoint]]). */
  def defer(release: () => Unit): Unit = live.add(release)

  /** Free every registered scratch frame.
    *
    * For `.cache()`-backed registrations this is safe at any time —
    * a still-needed frame lazily recomputes (correctness is never
    * cache-dependent, only speed). Registrations deferred for
    * LOCAL-CHECKPOINT blocks (ccLabels' final round) are different:
    * their lineage is truncated, so a dependent result that has NOT
    * yet been fully consumed fails with missing-block errors after
    * release rather than recomputing. Call releaseAll only once every
    * result derived from registered frames has been materialized
    * (collected/written/counted) — which is exactly how Verify, Bench
    * and the specs use it.
    *
    * A release that throws a non-fatal exception is skipped so the rest
    * still run; a fatal error propagates (the remaining registrations
    * stay queued for the next call). */
  def releaseAll(): Unit = {
    var r = live.poll()
    while (r != null) {
      try r() catch { case NonFatal(_) => () }
      r = live.poll()
    }
  }
}
