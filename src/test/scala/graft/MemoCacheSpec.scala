package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, MemoCache, TextAnalysis}

/** The bounded session-memo contract (MemoCache.scala): capacity-LRU
  * eviction actually RELEASES the evicted localCheckpoint blocks —
  * the round-18 bound on the previously-unbounded train-once caches
  * (unigram vocab/apply, HITS edges).
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
    // a compile-time-ish pin: the three train-once memos expose the
    // bounded type, so a future regression back to an unbounded map
    // breaks this line
    val a: graft.operators.MemoCache[_, _] =
      graft.operators.TextAnalysis.ugTrainMemo
    val b: graft.operators.MemoCache[_, _] =
      graft.operators.TextAnalysis.ugApplyMemo
    val c: graft.operators.MemoCache[_, _] =
      graft.operators.Relational.hitsEdgeMemo
    assert(a.size >= 0 && b.size >= 0 && c.size >= 0)
  }

  test("evicting a memoized TempDir store deletes its directory") {
    def evictsDir[K](memo: MemoCache[K, String], key: Int => K): Unit = {
      // capacity 4: the first of five inserts is the LRU victim
      val dirs = (0 to 4).map(i => memo.getOrCompute(key(i))(
        TempDirs.create("graft_memo_evict").toString))
      def exists(d: String) = java.nio.file.Files.exists(
        java.nio.file.Paths.get(d))
      assert(!exists(dirs.head), "evicted store directory still on disk")
      assert(dirs.tail.forall(exists))
    }
    evictsDir(Dedup.posDirMemo, i => (spark, s"/evict/corpus$i", 32))
    evictsDir(TextAnalysis.lmDirMemo, i => (spark, s"/evict/corpus$i", 2L))
  }
}
