package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** Bounded LRU memo for session-long values — the one under
  * [[Artifacts]], the registry of train-once artifacts (the unigram
  * vocabulary, the HITS trajectory, the near-dup pairs, the ANN
  * stores), and `Tables`' parquet schema cache. These are
  * deliberately long-lived (the whole point is that
  * one session trains once and every consumer key reuses the
  * artifact), but before this cache they were plain
  * `ConcurrentHashMap`s keyed by SparkSession with no eviction: a
  * multi-tenant serving session accumulating (corpus, params)
  * combinations grew without bound, stopped sessions stayed pinned
  * for the JVM's lifetime, and `computeIfAbsent` ran a full Spark
  * job (the localCheckpoint) while holding the map bin lock —
  * serializing unrelated trainings that hashed to the same bin.
  *
  * This cache fixes all three: a small capacity with LRU eviction,
  * dead-session entries dropped on every access, and the compute
  * running OUTSIDE the lock (two racing callers may both train; the
  * loser's artifact is released immediately — a bounded, rare cost,
  * vs. a lock held across a Spark job).
  *
  * Eviction RELEASES the artifact's storage, not just the reference:
  * the memo frames are localCheckpoint-backed (so `Bench`'s
  * clearCache between runs cannot wipe them), which means their
  * blocks live at the RDD layer — [[MemoCache.freeLocalCheckpoint]]
  * walks the plan's `LogicalRDD` leaves and unpersists the
  * checkpointed RDDs directly instead of waiting for the
  * ContextCleaner to notice the dropped reference.
  */
final class MemoCache[K, V](capacity: Int,
    sessionOf: K => SparkSession)(release: V => Unit) {
  require(capacity >= 2, "capacity < 2 cannot hold a train/apply pair")

  // access-ordered: iteration starts at the least-recently-used entry
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)

  def getOrCompute(k: K)(compute: => V): V = {
    val hit = map.synchronized(map.get(k))
    if (hit != null) return hit
    val v = compute // outside the lock: this is a Spark job
    var evicted = List.empty[V]
    val winner = map.synchronized {
      val prior = map.get(k)
      if (prior != null) { evicted ::= v; prior }
      else {
        map.put(k, v)
        val it = map.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey != k &&
              (sessionOf(e.getKey).sparkContext.isStopped
                || map.size() > capacity)) {
            evicted ::= e.getValue
            it.remove()
          }
        }
        v
      }
    }
    evicted.foreach(release)
    winner
  }

  /** Drop every entry whose key satisfies `p`, releasing its value. */
  def removeWhere(p: K => Boolean): Unit = {
    var dropped = List.empty[V]
    map.synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) { dropped ::= e.getValue; it.remove() }
      }
    }
    dropped.foreach(release)
  }

  /** Test hooks. */
  def size: Int = map.synchronized(map.size())
  def keys: List[K] = map.synchronized(map.keySet().asScala.toList)
}

object MemoCache {
  /** Unpersist the checkpointed RDD blocks behind a
    * localCheckpoint-backed frame (no-op for other plans, and for
    * frames of an already-stopped session — nothing left to free).
    */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
}
