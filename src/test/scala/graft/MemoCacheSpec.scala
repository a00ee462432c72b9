package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.{Artifacts, MemoCache}

/** The bounded session-memo contract (MemoCache.scala): capacity-LRU
  * eviction actually RELEASES the evicted localCheckpoint blocks —
  * the bound under the train-once [[graft.operators.Artifacts]]
  * registry.
  */
class MemoCacheSpec extends SparkSpec {

  private def ckptLevel(df: DataFrame): StorageLevel =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getStorageLevel
    }.getOrElse(StorageLevel.NONE)

  private def frame(n: Int): DataFrame =
    spark.range(n.toLong).toDF("x").localCheckpoint()

  test("getOrCompute computes once per key and caches the frame") {
    val cache = new MemoCache[Int, DataFrame](4, _ => spark)(
      MemoCache.freeLocalCheckpoint)
    var computes = 0
    def get(k: Int) = cache.getOrCompute(k) { computes += 1; frame(10 + k) }
    val a = get(1); val b = get(1)
    assert(computes == 1 && (a eq b))
    assert(cache.size == 1)
  }

  test("LRU overflow evicts the least-recently-used entry AND " +
      "unpersists its checkpointed blocks") {
    val cache = new MemoCache[Int, DataFrame](2, _ => spark)(
      MemoCache.freeLocalCheckpoint)
    val f1 = cache.getOrCompute(1)(frame(11))
    val f2 = cache.getOrCompute(2)(frame(12))
    assert(ckptLevel(f1) != StorageLevel.NONE)
    // touch 1 so 2 becomes the LRU victim
    cache.getOrCompute(1)(fail("must hit"))
    val f3 = cache.getOrCompute(3)(frame(13))
    assert(cache.size == 2)
    assert(ckptLevel(f2) == StorageLevel.NONE,
      "evicted frame's checkpoint blocks were not released")
    assert(ckptLevel(f1) != StorageLevel.NONE)
    assert(ckptLevel(f3) != StorageLevel.NONE)
    // the evicted frame still ANSWERS (released blocks recompute via
    // the plan only when lineage exists; a localCheckpoint has none,
    // so consumers must re-enter through getOrCompute — which works)
    val f2b = cache.getOrCompute(2)(frame(12))
    assert(f2b.count() == 12)
  }

  test("the engine's memos are MemoCache-bounded (not raw maps)") {
    // the one registry every train-once artifact goes through holds
    // at most Capacity entries, however many keys pass through it
    val kind = "memo_bound_probe"
    (0 to Artifacts.Capacity).foreach(i =>
      Artifacts.value(spark, s"/bound/corpus$i", kind)(Seq(i)))
    assert(Artifacts.count(kind) == Artifacts.Capacity)
    // the newest entry is live: a hit builds nothing
    assert(Artifacts.value[Seq[Int]](spark,
      s"/bound/corpus${Artifacts.Capacity}", kind)(fail("must hit"))
      == Seq(Artifacts.Capacity))
  }

  test("evicting a memoized TempDir store deletes its directory") {
    // the first of Capacity + 1 stores is the LRU victim
    val dirs = (0 to Artifacts.Capacity).map(i =>
      Artifacts.dir(spark, s"/evict/corpus$i", "memo_evict")(_ => ()))
    def exists(d: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(d))
    assert(!exists(dirs.head), "evicted store directory still on disk")
    assert(dirs.tail.forall(exists))
  }
}
