package graft

import graft.operators.{Dedup, Relational, TextMapReduce}

/** Plan-hygiene gates: these hold at any scale factor, so they are the
  * checks that predict 100 TB behavior — pushdown reaches the scan,
  * fixed-size dims broadcast, aggregations are partial before the
  * exchange, and no operator degenerates into a cartesian product.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q6: all three filters are pushed to the parquet scan") {
    val p = plan(Relational.q6RevenueDelta(spark, sf))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
  }

  test("q6: scan reads only the four needed columns") {
    val p = plan(Relational.q6RevenueDelta(spark, sf))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
  }

  test("q5: fixed-cardinality dims broadcast, fact joins shuffle") {
    val p = plan(Relational.q5LocalSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("wordcount aggregates partially before the exchange") {
    val p = plan(TextMapReduce.wordCount(spark, sf))
    // partial + final HashAggregate around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert("Exchange".r.findAllIn(p).size >= 1)
  }

  test("quantile_bucket cutpoints are the bounded KLL sketch, not an " +
      "exact-percentile value buffer") {
    val p = plan(graft.operators.Pipeline.quantileBuckets(spark, sf))
    // exact Percentile holds every value in one aggregation buffer —
    // a single-point memory funnel at 100 TB; the KLL sketch is O(k)
    assert(!p.contains("percentile("), s"exact percentile in plan:\n$p")
    assert(p.contains("kllsketch") || p.contains("KllSketch"),
      s"KLL cutpoint aggregate missing from plan:\n$p")
  }

  test("group_sample ranks on bounded TopKPerKey heaps, never a " +
      "per-group window sort; entity_match candidates are equi-joined") {
    val p = plan(graft.operators.Pipeline.groupSample(spark, sf))
    assert(p.contains("TopKPerKey"), s"bounded heap missing:\n$p")
    assert(!p.contains("Window"), s"hot-group window sort in plan:\n$p")
    val em = plan(graft.operators.Quality.entityMatch(spark, sf))
    assert(!em.contains("CartesianProduct"))
    assert(!em.contains("BroadcastNestedLoopJoin"))
  }

  test("minhash LSH candidate join is a hash join, not cartesian") {
    val p = plan(Dedup.minhashLsh(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("simhash candidate join is keyed, not cartesian") {
    val p = plan(Dedup.simhash(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("pack_bins: no window is partitioned by shard alone " +
      "(parallelism must not be bounded by nShards)") {
    val p = plan(graft.operators.Pipeline.packBins(spark, sf))
    // every windowspecdefinition over `shard` must also carry the
    // range-slice id — a shard-only spec caps the stage at 8 tasks
    val shardOnlyWindow =
      """windowspecdefinition\(shard#\d+L?, doc_id""".r
    assert(shardOnlyWindow.findFirstIn(p).isEmpty,
      s"found an nShards-bounded window in:\n$p")
    assert(p.contains("pid"), "range-slice id missing from the plan")
  }

  test("q4 EXISTS compiles to a left-semi join (no row duplication)") {
    val p = plan(Relational.q4OrderPriority(spark, sf))
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
  }

  test("q18 reads lineitem once (window feeds filter and aggregate)") {
    val p = plan(Relational.q18LargeOrders(spark, sf))
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
  }

  test("q19 OR-of-ANDs stays a hash join, never a cartesian") {
    val p = plan(Relational.q19Disjunctive(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q21 reads lineitem once (single-aggregation reformulation, " +
      "no EXISTS self-joins)") {
    val p = plan(Relational.q21WaitingSupplier(spark, sf))
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
    assert(!p.contains("CartesianProduct"))
  }

  test("q7/q8: both nation-dim copies broadcast, facts never nested-loop") {
    for (df <- Seq(Relational.q7VolumeShipping(spark, sf),
        Relational.q8MarketShare(spark, sf))) {
      val p = plan(df)
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q15: max-revenue comparison happens in the decimal domain") {
    val df = Relational.q15TopSupplier(spark, sf)
    // the revenue column reaching the max-filter must still be decimal
    // (a double-domain tie could break differently across engines)
    val rev = df.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(rev.nonEmpty)
    assert(df.head().getDouble(2) > 0.0)
  }

  test("scd2 lookup and funnel3 are pure window compositions — " +
      "zero joins on the event stream") {
    val lookup = plan(Relational.scd2Lookup(spark, sf))
    // the as-of union+window shape: no join operator anywhere
    assert(!lookup.contains("Join"), s"unexpected join in scd2 lookup:\n$lookup")
    val f3 = plan(Relational.funnel3(spark, sf))
    assert(!f3.contains("Join"), s"unexpected join in funnel3:\n$f3")
    assert(!f3.contains("CartesianProduct"))
  }

  test("text_chunk is a pure projection: zero shuffles, two-column scan") {
    val p = plan(graft.operators.Pipeline.chunk(spark, sf))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only doc_id+text:\n$p")
  }

  test("DSIR: the lambda model broadcasts and the top-k is the bounded " +
      "TopKPerKey operator, not a global sort") {
    val p = plan(graft.operators.Pipeline.dsirSelect(spark, sf))
    // the per-doc scoring join against the fixed 4096-row model must
    // be broadcast — a shuffle join there re-keys the whole corpus
    assert(p.contains("BroadcastHashJoin"), s"model join not broadcast:\n$p")
    assert(p.contains("TopKPerKeyPartial"),
      s"global top-k must run through bounded heaps:\n$p")
    assert(!p.contains("window"), s"no window sort in DSIR:\n$p")
  }

  test("partitioned layout: the event_type filter prunes at the " +
      "DIRECTORY level, not per-row") {
    val p = plan(graft.sources.Formats.partitionPrunedEvents(spark, sf))
    assert(p.contains("PartitionFilters"), s"no partition pruning:\n$p")
    // the filter must live in PartitionFilters (directory pruning) —
    // the data files of other event types are never opened
    val scan = p.linesIterator.dropWhile(!_.contains("PartitionFilters"))
      .take(1).mkString
    assert(scan.contains("event_type"), s"partition filter missing:\n$scan")
    // event_type is a partition column, so it must NOT be in the
    // data-file read schema
    assert(!p.contains("ReadSchema: struct<ts") ||
      !p.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("event_type")),
      s"partition column read from data files:\n$p")
  }

  test("retrieval stack: rrf/mmr/metrics rank on bounded heaps or " +
      "grouped kernels — no cartesian, no corpus-keyed window") {
    import graft.operators.Similarity
    val rrf = plan(Similarity.rrfFusion(spark, sf))
    assert(!rrf.contains("CartesianProduct"), s"cartesian in rrf:\n$rrf")
    assert(rrf.contains("TopKPerKey"), s"bounded heap missing in rrf:\n$rrf")
    assert(!rrf.contains("Window"), s"window rank in rrf:\n$rrf")
    val mmr = plan(Similarity.mmrDiversify(spark, sf))
    assert(!mmr.contains("CartesianProduct"), s"cartesian in mmr:\n$mmr")
    // the greedy loop is ONE kernel over grouped pools — the plan
    // must carry exactly one MmrPick projection and no per-round
    // TopKPerKey cascade beyond the single pool cut
    assert(mmr.contains("mmrpick") || mmr.contains("MmrPick"),
      s"MmrPick kernel missing:\n$mmr")
    val met = plan(Similarity.retrievalMetrics(spark, sf))
    assert(!met.contains("CartesianProduct"), s"cartesian in metrics:\n$met")
  }

  test("round-15 operators keep the bounded-plan discipline: rake's " +
      "only window is doc-partitioned, vocab coverage's head is a " +
      "bounded top-k, modularity and theil-u never go cartesian") {
    import graft.operators.{Stats, TextAnalysis}
    val rake = plan(TextAnalysis.rakeKeywords(spark, sf))
    // the islands window must be keyed on doc_id — a corpus-global
    // window would funnel the token stream through one task
    val rakeWindows = rake.linesIterator
      .filter(_.contains("Window")).mkString("\n")
    assert(!rakeWindows.contains("partitionBy=[]"),
      s"unpartitioned window in rake plan:\n$rakeWindows")
    assert(!rake.contains("CartesianProduct"))
    val vc = plan(TextAnalysis.vocabCoverage(spark, sf))
    assert(vc.contains("TakeOrderedAndProject"),
      s"vocab head is not a bounded top-k:\n$vc")
    val mod = plan(graft.operators.Dedup.modularity(spark, sf))
    assert(!mod.contains("CartesianProduct"))
    val tu = plan(Stats.theilU(spark, sf))
    assert(!tu.contains("CartesianProduct"))
  }

  test("round-15 additions keep the plan discipline: recall report and " +
      "index stats never go cartesian, maintenance decision and the " +
      "regression-diagnostics omnibus rank on per-type windows only") {
    import graft.operators.{AnnIndex, Similarity, Stats}
    // ann_recall_report: brute truth × IVF probe — both sides bounded
    // query batches; any cartesian or corpus-keyed window here would
    // be the 100 TB killer this report exists to measure around
    val rr = plan(Similarity.annRecallReport(spark, sf))
    assert(!rr.contains("CartesianProduct"), s"cartesian in recall:\n$rr")
    val rrWin = rr.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!rrWin.contains("partitionBy=[]"),
      s"unpartitioned window in recall report:\n$rrWin")
    val ist = plan(AnnIndex.indexStats(spark, sf))
    assert(!ist.contains("CartesianProduct"), s"cartesian in stats:\n$ist")
    val mnt = plan(AnnIndex.annMaintain(spark, sf))
    assert(!mnt.contains("CartesianProduct"), s"cartesian in maintain:\n$mnt")
    // the new stats omnibus keys: one moment pass + broadcast back,
    // never a cartesian, never a global window
    for ((name, df) <- Seq(
        "ljung_box" -> Stats.ljungBox(spark, sf),
        "cooks_distance" -> Stats.cooksDistance(spark, sf),
        "breusch_pagan" -> Stats.breuschPagan(spark, sf),
        "median_test" -> Stats.medianTest(spark, sf),
        "gumbel_return" -> Stats.gumbelReturn(spark, sf),
        "logrank" -> Stats.logrank(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
      val w = p.linesIterator.filter(_.contains("Window")).mkString("\n")
      assert(!w.contains("partitionBy=[]"),
        s"unpartitioned window in $name:\n$w")
    }
  }

  test("round-16 additions keep the plan discipline: substring spans " +
      "partial-aggregate on the gram hash and window only per " +
      "(pair, diagonal); the unigram trainer's corpus passes stay " +
      "window-free") {
    import graft.operators.{Dedup, TextAnalysis}
    val sp = plan(Dedup.substringSpans(spark, sf))
    assert(!sp.contains("CartesianProduct"), s"cartesian in spans:\n$sp")
    assert(sp.contains("HashAggregate"),
      s"no partial aggregate on the gram hash:\n$sp")
    val spWin = sp.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!spWin.contains("partitionBy=[]"),
      s"unpartitioned window in spans:\n$spWin")
    val ug = plan(TextAnalysis.unigramLm(spark, sf))
    // the 1-row total joins as a broadcast nested-loop, never a
    // cartesian over the piece table
    assert(!ug.contains("CartesianProduct"),
      s"cartesian in unigram trainer:\n$ug")
    assert(!ug.contains("Window"), s"window in unigram trainer:\n$ug")
  }

  test("wordcount whole-stage codegen covers the tokenize+agg path") {
    // AQE's toString hides codegen stage markers pre-execution;
    // disable it for this single inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = TextMapReduce.wordCount(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("*("), s"no codegen stages in:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("round-19: the substring families' per-character position " +
      "frame is the SHARED parquet artifact on the corpus path (one " +
      "hash pass per session+corpus+k, both keys scan the same " +
      "store, columnar re-reads, lineage-free of the documents " +
      "scan); the *Over spec path keeps the r17 per-call DISK_ONLY " +
      "persist") {
    for (df <- Seq(Dedup.substringSpans(spark, sf),
        Dedup.substringDedup(spark, sf))) {
      val opt = df.queryExecution.optimizedPlan.toString
      // the pos frame arrives as a parquet store scan — never a
      // lineage-cutting localCheckpoint RDD, never a fresh per-call
      // persist of the whole per-character projection
      assert(opt.contains("Relation [doc_id") && opt.contains("parquet"),
        s"position frame not read from the shared store:\n$opt")
      assert(!opt.contains("LogicalRDD"),
        s"lineage-cutting localCheckpoint in the plan:\n$opt")
      assert(!opt.contains("InMemoryRelation"),
        s"per-call persist on the corpus path (store expected):\n$opt")
    }
    // both keys resolve to the SAME store directory (the memo)
    val d1 = graft.operators.Artifacts.dir(spark, sf, "substr_pos", 32)(
      _ => throw new IllegalStateException("store should already exist"))
    assert(graft.operators.Artifacts.count("substr_pos") >= 1 && d1.nonEmpty)
    // the planted/spec path still builds its own DISK_ONLY frame
    // with lineage intact (executor loss recomputes instead of
    // aborting; the ~20x-corpus scratch stays off the
    // execution-memory budget)
    import spark.implicits._
    val docs = Seq((1L, "abcdefghij" * 8), (2L, "abcdefghij" * 8))
      .toDF("doc_id", "text")
    val opt2 = Dedup.substringDedupOver(docs, 32)
      .queryExecution.optimizedPlan.toString
    assert(opt2.contains("InMemoryRelation"),
      s"spec-path position frame not persisted:\n$opt2")
    assert(opt2.contains("StorageLevel(disk, 1 replicas)"),
      s"spec-path position frame not DISK_ONLY:\n$opt2")
    assert(!opt2.contains("LogicalRDD"),
      s"lineage-cutting localCheckpoint in the spec path:\n$opt2")
    graft.operators.Scratch.release(spark)
  }

  test("round-17 sink planner keys keep the plan discipline: the " +
      "optimize report and the streaming write-audit-publish answer " +
      "without cartesians (their 1-row scalar attaches broadcast)") {
    val so = plan(graft.sources.Formats.sinkOptimizeReport(spark, sf))
    assert(!so.contains("CartesianProduct"),
      s"cartesian in the optimize report:\n$so")
    val wap = plan(graft.streaming.EventStreams.sinkWap(spark, sf))
    assert(!wap.contains("CartesianProduct"),
      s"cartesian in the WAP readback:\n$wap")
    // the adaptive-probe decision frame is bounded (nQueries x cells)
    // and every window partitions; the corpus never meets a cartesian
    val ap = plan(graft.operators.Similarity.annAdaptiveProbe(spark, sf))
    assert(!ap.contains("CartesianProduct"),
      s"cartesian in adaptive probe:\n$ap")
    val apw = ap.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!apw.contains("partitionBy=[]"),
      s"unpartitioned window in adaptive probe:\n$apw")
  }
}
