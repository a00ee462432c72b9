package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Lifecycle contract for per-call persisted scratch frames.
  *
  * Operators persist intermediate frames so one expensive pass (a
  * decode, a centroid cross join, a daily rollup) feeds several
  * consumers instead of recomputing per consumer. Most of those
  * frames are referenced by the RETURNED lazy plan, so the operator
  * cannot `unpersist` in a try/finally — the caller's action has not
  * run yet and would silently recompute the scratch. Before this
  * utility the frames simply leaked: a long-lived session (the
  * 471-key bench loop, or any serving session answering many
  * queries) accumulated block-manager storage without bound, and
  * DISK_ONLY blocks are never reclaimed until the ContextCleaner
  * happens to GC the plan — unpredictable by design.
  *
  * The contract: an operator that persists scratch for its returned
  * plan calls [[defer]] on the frame at the END of its body (after
  * any internal actions — a deferral is released by the NEXT action
  * completion, so deferring before an internal `collect` would drop
  * the cache mid-build). The frame is then unpersisted
  * automatically, without blocking, after the first subsequent
  * action on the session completes (a [[QueryExecutionListener]]
  * armed once per session), or eagerly when the driver calls
  * [[release]]. Either way the cache serves exactly the consuming
  * action and is reclaimed immediately after — the bounded-lifetime
  * shape the frames always claimed in their comments.
  *
  * What this deliberately does NOT cover: the train-once artifacts
  * (unigram train/apply, the HITS trajectory) and the per-corpus
  * `vecs` projection — their whole point is surviving across calls;
  * the artifacts are bounded by the [[Artifacts]] registry's
  * eviction instead, and `vecs` is one cache-manager entry per
  * session and corpus.
  *
  * Unpersisting is always a performance hint, never a correctness
  * edge: a released frame recomputes from its (deterministic) plan.
  * So the listener can afford to be approximately ordered — it
  * releases only entries deferred strictly before the completed
  * action began (start ≈ completion − reported duration), which
  * keeps a late-delivered event from an operator's own internal
  * action from dropping scratch the main action still wants.
  */
object Scratch {

  private final case class Entry(df: Dataset[_], tsNanos: Long)

  private val pending =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[Entry]]()

  private val armed =
    ConcurrentHashMap.newKeySet[SparkSession]()

  /** Register a persisted frame for automatic unpersist after the
    * next completed action on its session. Call at the end of the
    * operator body, after any internal actions. Returns the frame.
    */
  def defer[T](df: Dataset[T]): Dataset[T] = {
    val spark = df.sparkSession
    arm(spark)
    pending
      .computeIfAbsent(spark, _ => new ConcurrentLinkedQueue[Entry]())
      .add(Entry(df, System.nanoTime()))
    df
  }

  /** Persist at MEMORY_AND_DISK and immediately defer — ONLY for
    * frames with no internal action between persist and return.
    */
  def persistDeferred(df: DataFrame): DataFrame =
    defer(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Eagerly unpersist every deferred frame for the session — the
    * driver-side hook (Bench/Verify call it after each consuming
    * action; a serving loop calls it between requests). Idempotent.
    */
  def release(spark: SparkSession): Unit =
    releaseBefore(spark, Long.MaxValue)

  /** Number of frames currently awaiting release (test hook). */
  def pendingCount(spark: SparkSession): Int = {
    val q = pending.get(spark)
    if (q == null) 0 else q.size()
  }

  private def arm(spark: SparkSession): Unit =
    if (armed.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          releaseBefore(qe.sparkSession, System.nanoTime() - durationNs)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit =
          releaseBefore(qe.sparkSession, System.nanoTime())
      })
    }

  private def releaseBefore(spark: SparkSession, cutoffNanos: Long): Unit = {
    val q = pending.get(spark)
    if (q != null) {
      val stopped = spark.sparkContext.isStopped
      val it = q.iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.tsNanos < cutoffNanos) {
          it.remove()
          // a stopped context cannot (and need not) drop blocks
          if (!stopped) e.df.unpersist(blocking = false)
        } else if (stopped) it.remove()
      }
      if (stopped) { pending.remove(spark); armed.remove(spark); () }
    }
  }
}
