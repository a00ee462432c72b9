package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CatalystExprs.dot_product

/** End-to-end corpus curation — the composition this engine exists
  * for: near-dup removal (keep one canonical doc per cluster) ∘
  * quality filter ∘ language filter ∘ PII scrub, in one declarative
  * plan. Each stage is an already-verified operator; composing them
  * costs no extra passes because Catalyst fuses the projections.
  */
object Pipeline {

  def curate(spark: SparkSession, sfDir: String,
      minWords: Long = 20, maxPii: Long = 0): DataFrame = {
    // near-dup edges come from the MinHash-LSH path: at 100 TB the
    // candidate join is keyed on band signatures, never an all-pairs
    // shingle self-join. Banding is matched to the 0.5 threshold
    // (32×4 via Dedup.bandingFor: ~87% recall at jaccard = 0.5,
    // ~99% at 0.6, measured and pinned on a planted borderline
    // corpus in DedupSpec); this corpus's planted dups sit at
    // jaccard ≈ 1 where recall is ~100%, so the result equals the
    // exact edge set — the standard, now-quantified LSH dedup trade.
    val canonical = Dedup.clustersLsh(spark, sfDir)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id")
    val quality = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("n_words"))
      .filter(col("n_words") >= minWords)
    val lang = TextAnalysis.langId(spark, sfDir)
      .filter(col("pred_lang") === "en")
      .select(col("doc_id"), col("pred_lang"))
    // PII scrub: a doc leaking more than `maxPii` matches is dropped
    // outright (default 0 = strictest). Projection-only stage —
    // Catalyst fuses it into the same documents scan as quality/lang.
    val scrubbed = TextAnalysis.piiRedactOver(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        (col("n_email") + col("n_phone") + col("n_id")).as("n_pii"))
      .filter(col("n_pii") <= maxPii)
    // boilerplate-span cleaning: surviving docs carry the word stream
    // with corpus-repeated 10-grams removed — the text a training run
    // would actually consume
    val cleaned = Dedup.spanClean(spark, sfDir)
      .select(col("doc_id"), col("text_clean"))
    canonical
      .join(quality, "doc_id")
      .join(lang, "doc_id")
      .join(scrubbed, "doc_id")
      .join(cleaned, "doc_id")
      .select("doc_id", "n_words", "pred_lang", "n_pii", "text_clean")
  }

  /** Deterministic stratified sampling: each language keeps a
    * different fraction, selected by an md5 prefix over a salted
    * doc_id — reproducible across engines, runs, and cluster sizes
    * (the property a training-data pipeline needs; `rand()` sampling
    * is none of those). Hex chars compare identically in every
    * engine, so the rate is cutoff/16.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = when(col("lang") === "en", lit("c"))  // 12/16
      .when(col("lang") === "de", lit("8"))            //  8/16
      .when(col("lang") === "es", lit("4"))            //  4/16
      .otherwise(lit("2"))                             //  2/16
    Tables.documents(spark, sfDir)
      .withColumn("h", substring(md5(concat(lit("strat1"), col("doc_id"))), 1, 1))
      .filter(col("h") < cutoff)
      .select(col("doc_id"), col("lang"), col("h"))
  }

  /** Deterministic content-keyed sharding: doc → one of `nShards`
    * training shards via an md5-derived hash — balanced, stable under
    * reordering/rescaling, and identical in any engine. Emits the
    * assignment plus per-shard composition stats (what a packing job
    * consumes).
    */
  def shardAssign(spark: SparkSession, sfDir: String,
      nShards: Int = 8): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("shard",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % nShards).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** Near-dup-aware train/eval split: the split is a function of the
    * CLUSTER id, never the doc, so no document in eval has a
    * near-duplicate in train — the contamination guarantee an LLM
    * data pipeline actually needs. ~13/16 of clusters land in train
    * via the md5 prefix rule.
    *
    * Rides the THRESHOLD-MATCHED LSH cluster path (`clustersLsh`,
    * 32×4 banding at τ=0.5 via `Dedup.bandingFor`) — the 100 TB
    * shape, candidates keyed on band signatures. The guarantee is
    * therefore probabilistic with measured recall: ~87% per
    * borderline pair at jaccard = 0.5, ≳99% from 0.6 up, ≈100% for
    * true near-dups — pinned by the planted-corpus recall spec in
    * DedupSpec. (The previous 16×8 banding recalled ~6% of
    * borderline pairs, which could not support any guarantee.)
    *
    * `exact = true` instead clusters over the exact df-capped
    * candidate closure (`Dedup.clusters`) — the HARD no-leakage
    * guarantee the function name implies, for callers who need it and
    * can afford the exact candidate join at their scale. Both paths
    * produce identical output on corpora whose near-dups are true
    * dups (spec-pinned); only the borderline-pair recall differs.
    */
  def leakageSafeSplit(spark: SparkSession, sfDir: String,
      exact: Boolean = false): DataFrame = {
    val cl = if (exact) Dedup.clusters(spark, sfDir)
             else Dedup.clustersLsh(spark, sfDir)
    cl.withColumn("split",
        when(substring(md5(concat(lit("split1"), col("cluster_id"))), 1, 1) < "d",
          "train").otherwise("eval"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-Res):
    * each doc gets key = ln(u)/w with u an md5-derived uniform and
    * w its weight (here n_chars); the global top-k by key IS a
    * weighted sample without replacement — inclusion probability
    * proportional to weight, the sampler a curriculum/quality-weighted
    * data mix actually needs. Deterministic for the same reasons as
    * `stratifiedSample` (md5, not rand()): identical across engines,
    * runs, and cluster sizes. The ln-domain key keeps the arithmetic
    * to one libm call whose ORDERING (never its value) matters —
    * md5-spread keys are never within an ulp of each other, and the
    * key itself stays out of the output.
    *
    * Scale shape: global top-k = TakeOrderedAndProject (per-partition
    * heaps, k rows to the driver) — no global sort, no single-task
    * funnel.
    */
  def weightedSample(spark: SparkSession, sfDir: String,
      k: Int = 100): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("n_chars") > 0)
      .withColumn("u",
        (conv(substring(md5(concat(lit("wsamp1"), col("doc_id").cast("string"))), 1, 6),
          16, 10).cast("double") + lit(0.5)) / lit(16777216.0))
      .withColumn("es_key", log(col("u")) / col("n_chars"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Deterministic fixed-k sample PER GROUP — the per-source /
    * per-language inspection draw every curation run ships alongside
    * its aggregate report (8 eyeball rows per event_type, stable
    * across reruns and engines). Rank = md5 of the row id rendered in
    * decimal — a uniform, engine-portable hash order (identical
    * lowercase hex in Spark and DuckDB), so "random" needs no RNG
    * state and reruns are reproducible.
    *
    * Scale shape: [[graft.plans.TopKPerKey]] bounded per-partition
    * heaps (k rows per group per task, merged once) — never a
    * per-group `row_number` window, whose sort would ship every row
    * of a hot group to one reducer. The oracle IS that window,
    * affordable at gate SFs.
    */
  def groupSample(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        md5(col("event_id").cast("string").cast("binary")).as("hk"))
    graft.plans.TopKPerKey(ev, Seq("event_type"),
        Seq(("hk", false), ("event_id", false)), k)
      .select(col("event_type"), col("event_id"), col("hk"), col("rnk"))
  }

  /** Benchmark decontamination — the 13-gram overlap filter: a corpus
    * document is contaminated when it shares any 13-word shingle with
    * the benchmark set. The benchmark's shingle set is SMALL by
    * definition (eval sets are), so it broadcasts and the corpus
    * streams through one hash join — at 100 TB the corpus is never
    * shuffled. Here the "benchmark" is the first `nBench` docs (a
    * deterministic stand-in for an external eval suite).
    */
  def decontaminate(spark: SparkSession, sfDir: String,
      nBench: Long = 20): DataFrame = {
    val sh13 = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.CatalystExprs.word_ngrams(
          filter(split(col("text"), TextMapReduce.WordSplit), w => w =!= ""),
          13)).as("g"))
    val bench = sh13.filter(col("doc_id") < nBench)
      .select(col("g")).distinct()
    sh13.filter(col("doc_id") >= nBench)
      .join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** DECONTAMINATION SWEEP (`q_decontaminate_sweep`) — the n-gram
    * SIZE sensitivity report published contamination analyses run
    * before fixing a single n (GPT-3 used 13-grams, later surveys
    * sweep down to 8 and below; a short n catches paraphrases but
    * floods on common phrases, a long n misses everything but exact
    * copies): for each n in the grid, how many corpus documents the
    * exact n-gram gate flags, total hits, and the flag rate. One
    * tokenize pass feeds every leg (the word arrays checkpoint);
    * per leg it is the `q_decontaminate` shape verbatim — per-doc
    * distinct grams, the bench side (an eval suite — small by
    * definition) broadcast, corpus never shuffled.
    */
  def decontaminateSweep(spark: SparkSession, sfDir: String,
      nBench: Long = 20, ns: Seq[Int] = Seq(4, 8, 13)): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "").as("w"))
      .localCheckpoint()
    val corpusDocs = words.filter(col("doc_id") >= nBench)
      .agg(count(lit(1)).as("n_corpus"))
    ns.map { n =>
      val sh = words.select(col("doc_id"),
        explode(graft.functions.CatalystExprs.word_ngrams(col("w"), n))
          .as("g"))
      val bench = sh.filter(col("doc_id") < nBench).select("g").distinct()
      sh.filter(col("doc_id") >= nBench)
        .join(broadcast(bench), "g")
        .agg(countDistinct(col("doc_id")).as("n_docs_flagged"),
          count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(corpusDocs))
        .select(lit(n.toLong).as("n_gram"),
          col("n_docs_flagged"), col("n_hits"),
          round(col("n_docs_flagged").cast("double") /
            col("n_corpus").cast("double"), 6).as("flag_rate"))
    }.reduce(_ unionAll _)
  }

  /** FUZZY decontamination — the near-duplicate complement to the
    * exact 13-gram gate above: a lightly paraphrased benchmark answer
    * shares almost no 13-grams with the original but keeps ~all of
    * its 3-word shingles, so eval contamination surveys (GPT-3
    * appendix C, PaLM) test n-gram OVERLAP, not exact n-gram
    * containment. Estimated Jaccard = agreeing fraction of the 16
    * md5-MinHash permutations (`Dedup.minhashSigs`, the
    * oracle-gateable signature family), candidates from the 4×4 LSH
    * band join so nothing quadratic ever forms, flagged at est ≥
    * `minMatch`/16 (default ½).
    *
    * Scale shape: signatures are a pure projection over each side;
    * the benchmark side is SMALL BY DEFINITION (an eval suite, not a
    * corpus), so its bands and signatures broadcast — the corpus is
    * never shuffled at all, and per-pair scoring touches only the
    * banded candidates. est_jaccard = n_match/16 is an exact binary
    * fraction, so the double survives the hash gate bit-identically.
    */
  def decontaminateFuzzy(spark: SparkSession, sfDir: String,
      nBench: Long = 20, minMatch: Int = 8): DataFrame = {
    val sigs = Dedup.minhashSigs(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
    val bench = sigs.filter(col("doc_id") < nBench)
    val corpus = sigs.filter(col("doc_id") >= nBench)
    val cands = Dedup.bandsFromSigs(corpus)
      .join(broadcast(Dedup.bandsFromSigs(bench)
        .withColumnRenamed("doc_id", "bench_id")), Seq("band", "sig"))
      .select("doc_id", "bench_id").distinct()
    cands
      .join(corpus, "doc_id")
      .join(broadcast(bench
        .select(col("doc_id").as("bench_id"), col("sig").as("bsig"))),
        "bench_id")
      .withColumn("n_match", aggregate(
        zip_with(col("sig"), col("bsig"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .filter(col("n_match") >= minMatch)
      .select(col("doc_id"), col("bench_id"), col("n_match"),
        (col("n_match") / lit(16.0)).as("est_jaccard"))
  }

  /** Token-budget bin packing ("sequential fill"): within each
    * training shard, documents in deterministic (doc_id) order
    * accumulate into bins of ~`budget` tokens — bin id =
    * floor(prior-tokens / budget). Emits per-bin composition.
    *
    * Scale shape (the mr_sort pattern, not a per-shard window): a
    * single `Window.partitionBy(shard)` would bound parallelism at
    * `nShards` tasks — ~12 TB per task at 100 TB. Instead the data is
    * RANGE-partitioned on (shard, doc_id) so each of P tasks owns a
    * contiguous slice; per-slice token totals (P×nShards tiny rows)
    * turn into broadcast prefix offsets, and the running sum inside
    * each slice is a window keyed on (shard, slice) — parallelism
    * proportional to the data, identical output.
    */
  def packBins(spark: SparkSession, sfDir: String,
      nShards: Int = 8, budget: Long = 2000): DataFrame =
    packBinsOver(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => x =!= ""))
            .cast("long").as("n_tokens")),
      nShards, budget)

  /** Pack-bins fed by the TRAINED tokenizer's real token counts
    * (`bpe_apply`), not the whitespace proxy — context-window packing
    * budgets are token budgets, so this is the composition a training
    * pipeline actually runs: train merges once, encode the corpus,
    * pack to the token budget.
    */
  def packBinsBpe(spark: SparkSession, sfDir: String,
      nShards: Int = 8, budget: Long = 2000): DataFrame =
    packBinsOver(
      TextAnalysis.bpeApply(spark, sfDir)
        .select(col("doc_id"), col("n_tokens")),
      nShards, budget)

  /** Deterministic greedy sequence packing over any (doc_id,
    * n_tokens) frame. */
  def packBinsOver(counts: DataFrame, nShards: Int,
      budget: Long): DataFrame =
    runningOffsets(counts, nShards)
      .withColumn("bin", floor(col("cum_before") / budget).cast("long"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"))

  /** The distributed prefix sum shared by bin packing and sequence
    * packing: (doc_id, shard, n_tokens, cum_before) where cum_before
    * = same-shard tokens of all strictly-smaller doc ids. Two-level:
    * per-partition running sums + a P×nShards offset window — never a
    * shard-global sort of the corpus.
    */
  private def runningOffsets(counts: DataFrame, nShards: Int): DataFrame = {
    val spark = counts.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val base = counts
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % nShards).as("shard"),
        col("n_tokens"))
    // pid is captured right after the range exchange and persisted, so
    // both consumers read one deterministic snapshot of the slicing;
    // reclaimed after the caller's action (Scratch lifecycle)
    val ranged = Scratch.persistDeferred(
      base.repartitionByRange(p, col("shard"), col("doc_id"))
        .withColumn("pid", spark_partition_id()))
    val partials = ranged.groupBy("pid", "shard")
      .agg(sum(col("n_tokens")).as("t"))
    // offset of a (pid, shard) slice = same-shard tokens in lower pids
    // (range partitioning ⇒ lower pid ⇔ strictly smaller doc_id);
    // the window runs over P×nShards rows — driver-trivial
    val wOff = Window.partitionBy(col("shard")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("offset", coalesce(sum(col("t")).over(wOff), lit(0L)))
      .select("pid", "shard", "offset")
    val wRun = Window.partitionBy(col("shard"), col("pid"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .join(broadcast(offsets), Seq("pid", "shard"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("n_tokens")).over(wRun), lit(0L)))
      .select("doc_id", "shard", "n_tokens", "cum_before")
  }

  /** Fixed-length SEQUENCE packing — the layout a causal-LM training
    * run actually consumes (GPT-style: documents concatenated in
    * order and sliced into `seqLen`-token sequences, documents
    * flowing ACROSS sequence boundaries, zero padding): each doc gets
    * its first sequence id, its token offset within it, and the
    * number of sequences it spans — a pure projection over the same
    * distributed prefix sum `q_pack_bins` uses (no extra shuffle).
    * `q_pack_bins` answers "which docs share a budgeted bin";
    * this answers "where exactly does my 4096-token window cut".
    */
  def packSequences(spark: SparkSession, sfDir: String,
      nShards: Int = 8, seqLen: Long = 512): DataFrame =
    runningOffsets(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => x =!= ""))
            .cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 1),
      nShards)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("cum_before") / seqLen).cast("long").as("seq_id"),
        (col("cum_before") % seqLen).as("pos"),
        (floor((col("cum_before") + col("n_tokens") - 1) / seqLen)
          - floor(col("cum_before") / seqLen) + 1).cast("long").as("n_seqs"))

  /** Per-DOMAIN token-budget capping — the "no single domain may
    * dominate the corpus" rule every web-scale pretraining mix
    * applies (Common-Crawl-style per-host caps): each source keeps
    * documents, in a deterministic md5-permuted order (an unbiased
    * within-domain sample, not "whatever sorted first"), until its
    * running token mass reaches the budget; a document is kept iff
    * the mass BEFORE it is under budget, so the straddling doc lands
    * inside and the cap overshoots by at most one document. Budget =
    * `total_tokens div (capDenom × n_sources)` — exact integer
    * arithmetic end to end, no doubles anywhere.
    *
    * Scale shape: the per-source running sum is the SAME two-level
    * prefix sum as `runningOffsets` — per-range-slice partials plus a
    * P×n_sources offset window — so a billion-document domain never
    * sorts in one task; the only corpus-sized exchange is the range
    * partition on (source, ord).
    */
  def domainCap(spark: SparkSession, sfDir: String,
      capDenom: Long = 2L): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"),
        md5(concat(lit("cap1"), col("doc_id").cast("string"))).as("ord"))
    val totals = base.agg(sum(col("n_tokens")).as("total"),
      countDistinct(col("source")).as("ns"))
    val ranged = Scratch.persistDeferred(
      base.repartitionByRange(p, col("source"), col("ord"))
        .withColumn("pid", spark_partition_id()))
    val partials = ranged.groupBy("pid", "source")
      .agg(sum(col("n_tokens")).as("t"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("offset", coalesce(sum(col("t")).over(wOff), lit(0L)))
      .select("pid", "source", "offset")
    val wRun = Window.partitionBy(col("source"), col("pid"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .join(broadcast(offsets), Seq("pid", "source"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("n_tokens")).over(wRun), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_before"),
        (col("cum_before") <
          expr(s"total div (${capDenom}L * ns)")).as("kept"))
  }

  /** Data-MIXTURE weights — the static domain-reweighting step of a
    * training-data pipeline (DoReMi-style mixing, without the learned
    * part): given a target of equal token share per language, compute
    * each language's actual whitespace-token mass, its share, and the
    * up/down-sampling weight that moves it to target, capped at
    * `maxUpsample` (unbounded upsampling of a tiny domain just
    * replays it verbatim). One aggregation over one corpus scan; the
    * grand total broadcasts back over the per-language rows as a
    * 1-row cross join. All ratios are single IEEE double divisions of
    * exact integer masses — bit-identical across engines.
    */
  def mixWeights(spark: SparkSession, sfDir: String,
      maxUpsample: Double = 4.0): DataFrame = {
    val perLang = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("t"))
      .groupBy("lang")
      .agg(sum(col("t")).as("n_tokens"))
    val totals = perLang.agg(
      sum(col("n_tokens")).as("total"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(totals))
      .withColumn("share",
        col("n_tokens").cast("double") / col("total").cast("double"))
      .withColumn("weight",
        least(lit(maxUpsample),
          (lit(1.0) / col("n_langs").cast("double")) / col("share")))
      .select(col("lang"), col("n_tokens"), col("share"), col("weight"))
  }

  /** MATERIALIZE the data mixture: apply `mixWeights` to the corpus,
    * emitting each document's integer copy count for one training
    * epoch — floor(weight) guaranteed copies plus one more when the
    * doc's deterministic md5-uniform falls under the fractional part
    * (so per-language expected mass matches the target exactly,
    * reproducibly across engines/runs/cluster sizes). The 5-row
    * weight table broadcasts; the corpus streams through one map —
    * no shuffle at all beyond the weight aggregation itself.
    */
  def mixSample(spark: SparkSession, sfDir: String,
      maxUpsample: Double = 4.0): DataFrame = {
    val wts = mixWeights(spark, sfDir, maxUpsample).select("lang", "weight")
    Tables.documents(spark, sfDir)
      .join(broadcast(wts), "lang")
      .withColumn("u",
        (conv(substring(md5(concat(lit("mix1"), col("doc_id").cast("string"))), 1, 6),
          16, 10).cast("double") + lit(0.5)) / lit(16777216.0))
      .withColumn("n_copies",
        (floor(col("weight"))
          + when(col("u") < col("weight") - floor(col("weight")), lit(1))
            .otherwise(lit(0))).cast("long"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("n_copies"))
  }

  /** Vector-table statistics per label: min/max norm (order-stable
    * extremes — a SUM of norms would be shuffle-order-dependent) and
    * cardinality.
    */
  def vectorStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"),
        sqrt(dot_product(
          transform(col("embedding"), _.cast("double")),
          transform(col("embedding"), _.cast("double")))).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))

  /** Quantile-bucket feature binning — the curriculum/quality-tier
    * primitive ("split the corpus into length deciles, sample tier 9
    * harder"): cutpoints are the (nBuckets−1) interior quantiles of
    * the feature, bucket = 1 + #cutpoints strictly below the value
    * (ties land in the LOWER bucket, deterministically).
    *
    * Scale shape: NOT `ntile()` — that is a window over one global
    * sort (a single-reducer funnel at 100 TB). Cutpoints are one
    * 1-row aggregate broadcast everywhere, assignment is a pure
    * projection. The cutpoint aggregate is the mergeable KLL sketch
    * (`KllSketch`, O(k)-bounded buffers with map-side partials), NOT
    * exact `percentile` — exact percentile holds every value in one
    * aggregation buffer, a 100 TB memory funnel. At the gate SFs
    * (≤ 5000 docs) k=8192 keeps the sketch in its exact regime, so
    * DuckDB's `quantile_cont` still gates the full path bit-for-bit.
    * Cross-engine: both engines interpolate `lo + frac·(hi−lo)` over
    * doubles, the same IEEE tree the agg_kll gate already pins.
    */
  def quantileBucketsOver(vals: DataFrame, nBuckets: Int,
      kllK: Int = 8192): DataFrame = {
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cuts = vals.agg(
      graft.functions.KllSketch.kll_quantiles(
        col("x"), kllK, probs).as("cuts"))
    vals.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("x"),
        graft.functions.KllSketch.bucket_below(col("cuts"), col("x"))
          .cast("long").as("bucket"))
  }

  def quantileBuckets(spark: SparkSession, sfDir: String,
      nBuckets: Int = 10): DataFrame =
    quantileBucketsOver(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars").cast("double").as("x")),
      nBuckets)

  /** Token-window chunking — the step between curation and packing
    * in every training pipeline: split each document's word stream
    * into fixed-size windows with overlap (stride < window), so
    * context survives window boundaries. Chunk count is
    * 1 + ceil((n − size)/stride) (always ≥ 1 for a non-empty doc;
    * the last window is allowed to run short rather than dropping
    * tail tokens — the lossless convention).
    *
    * Scale shape: a pure projection — split, per-doc window math,
    * `explode` of a bounded chunk-id sequence, `slice`. NO shuffle
    * at all; chunking 100 TB is exactly one map over the corpus.
    * Integer window arithmetic goes through explicit `floor` (both
    * engines truncate identically; raw int CAST does not — DuckDB
    * rounds half-even).
    */
  def chunkOver(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(stride >= 1 && chunkSize >= stride,
      s"need 1 <= stride <= chunkSize, got $chunkSize/$stride")
    val words = docs.select(col("doc_id"),
        filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "").as("w"))
      .filter(size(col("w")) >= 1)
      .withColumn("n_chunks",
        when(size(col("w")) <= chunkSize, lit(1L))
          .otherwise(lit(1L) + floor(
            (size(col("w")) - lit(chunkSize) + lit(stride - 1))
              .cast("double") / lit(stride.toDouble)).cast("long")))
    words
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("w"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
          .cast("long").as("n_words"),
        array_join(slice(col("w"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  def chunk(spark: SparkSession, sfDir: String,
      chunkSize: Int = 32, stride: Int = 24): DataFrame =
    chunkOver(Tables.documents(spark, sfDir), chunkSize, stride)

  /** Temperature-scaled source mixing (the multilingual-sampling
    * scheme of mT5/XLM-R: q_l ∝ p_l^α with α = 1/2): raises the
    * sampling share of low-resource languages without the hard
    * per-language target `q_mix_weights` imposes. α is FIXED at 1/2
    * so the power is `sqrt` — correctly rounded by IEEE 754 in every
    * engine, unlike libm `pow` which is not cross-engine safe.
    *
    * Cross-engine determinism: each sqrt-share is rounded to 9
    * decimals and the normalizer is summed IN DECIMAL (order-free);
    * the remaining arithmetic is IEEE double division of identical
    * inputs. Scale shape: one corpus scan → per-language aggregate,
    * two 1-row broadcasts back over the (tiny) language table.
    */
  def mixTemperature(spark: SparkSession, sfDir: String): DataFrame =
    mixTemperatureOver(Tables.documents(spark, sfDir))

  /** Same operator over any (lang, text) frame (planted specs). */
  def mixTemperatureOver(docs: DataFrame): DataFrame = {
    val perLang = docs
      .select(col("lang"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("t"))
      .groupBy("lang")
      .agg(sum(col("t")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("total"))
    val scored = perLang.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens").cast("double") / col("total").cast("double"))
      .withColumn("r", round(sqrt(col("share")), 9).cast("decimal(18,9)"))
    val norm = scored.agg(sum(col("r")).as("z"))
    scored.crossJoin(broadcast(norm))
      .select(col("lang"), col("n_tokens"), col("share"),
        (col("r").cast("double") / col("z").cast("double")).as("temp_share"),
        round((col("r").cast("double") / col("z").cast("double"))
          / col("share"), 6).as("boost"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"):
    * score every raw document by how target-like it is under two
    * hashed unigram bag-of-words LMs — here target = the English
    * slice, raw = the whole corpus — and keep the top-k. Features
    * are words hashed into `nBuckets` buckets (md5-derived, the one
    * hash both engines compute identically), so the model is a FIXED
    * nBuckets-row table no matter how large the vocabulary grows.
    * Per-bucket weight λ = ln(cT+1) − ln(NT+B) − ln(cR+1) + ln(NR+B)
    * (add-one smoothing); a document's importance is its
    * token-frequency-weighted mean λ.
    *
    * Cross-engine: λ is rounded to 6 decimals at the BUCKET level
    * and per-doc sums run in decimal (the perplexity discipline —
    * libm ln ulp differences are absorbed by the rounding).
    *
    * Scale shape: token→bucket is a projection; the two count
    * tables are partial-agg shuffles that END at nBuckets rows; the
    * λ table (nBuckets rows) BROADCASTS into the per-doc
    * aggregation, so scoring is one corpus scan + one doc-keyed
    * partial agg. The global top-k runs through the bounded
    * `TopKPerKey` heaps — ≤ k rows per partition reach the final
    * merge, never a corpus-wide sort.
    */
  def dsirSelect(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, k: Int = 100): DataFrame =
    dsirSelectOver(Tables.documents(spark, sfDir), nBuckets, k)

  /** Same operator over any (doc_id, lang, text) frame (planted
    * specs). */
  def dsirSelectOver(docs: DataFrame,
      nBuckets: Int, k: Int): DataFrame = {
    // ONE corpus scan: everything downstream (both count tables, both
    // totals, the per-doc score) derives from this persisted per-doc
    // term-frequency frame — without it each aggregate would re-read
    // and re-tokenize the corpus (4 extra full scans at 100 TB). The
    // tf frame is bounded by Σ distinct (doc, bucket) pairs ≤ token
    // count, and far smaller in practice.
    val tf = docs
      .select(col("doc_id"), col("lang"),
        explode(filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "")).as("word"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("word")), 1, 6), 16, 10).cast("long")
          % nBuckets).as("bucket"))
      .groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("tf"))
    Scratch.persistDeferred(tf)
    val rawCnt = tf.groupBy("bucket").agg(sum(col("tf")).as("c_raw"))
    val tgtCnt = tf.filter(col("lang") === "en")
      .groupBy("bucket").agg(sum(col("tf")).as("c_tgt"))
    val nRaw = tf.agg(sum(col("tf")).as("n_raw"))
    val nTgt = tf.filter(col("lang") === "en")
      .agg(sum(col("tf")).as("n_tgt"))
    val lam = rawCnt.join(tgtCnt, Seq("bucket"), "left")
      .na.fill(0L, Seq("c_tgt"))
      .crossJoin(broadcast(nRaw)).crossJoin(broadcast(nTgt))
      .select(col("bucket"),
        round(log(col("c_tgt") + 1) - log(col("n_tgt") + nBuckets)
            - log(col("c_raw") + 1) + log(col("n_raw") + nBuckets), 6)
          .cast("decimal(18,6)").as("lam"))
    val perDoc = tf
      .join(broadcast(lam), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("lam")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens"), 6)
          .as("avg_logratio"))
    graft.plans.TopKPerKey(perDoc.withColumn("g", lit(1)),
        Seq("g"), Seq(("avg_logratio", true), ("doc_id", false)), k)
      .select(col("doc_id"), col("n_tokens"), col("avg_logratio"),
        col("rnk"))
  }

  /** Corpus-drift monitoring via the Population Stability Index —
    * the gate every growing corpus runs between ingest runs ("did
    * this batch's length/quality distribution shift?"). Runs are the
    * id-ordered halves (the `dedup_incremental` framing); bucket
    * edges are the FIRST run's deciles, so drift is measured against
    * the baseline's own shape. PSI term per bucket =
    * (p2 − p1)·ln(p2/p1), both shares add-½ smoothed so an emptied
    * bucket yields a finite, large term instead of ±∞ (the standard
    * PSI practice). Σterms < 0.1 is the conventional "stable" bar —
    * asserted in the spec, summed by the caller.
    *
    * Scale shape: the baseline's cutpoints come from the mergeable
    * KLL sketch (O(k) buffers, exact regime at gate SFs so DuckDB's
    * `quantile_cont` gates bit-for-bit) and broadcast; bucket
    * assignment is a projection; the only shuffle ends at nBuckets
    * rows. Cross-engine: ln(p2/p1) rounded to 6 decimals before the
    * (exact-double) multiply, the product rounded again — the
    * perplexity discipline.
    */
  def driftPsi(spark: SparkSession, sfDir: String,
      nBuckets: Int = 10, kllK: Int = 8192): DataFrame = {
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("double").as("x"))
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val tagged = docs.crossJoin(broadcast(mx))
      .withColumn("run",
        when(col("doc_id") <
          floor((col("mx") + 1) / lit(2.0)).cast("long"), lit(1L))
          .otherwise(lit(2L)))
      .select(col("run"), col("x"))
    val cuts = tagged.filter(col("run") === 1).agg(
      graft.functions.KllSketch.kll_quantiles(
        col("x"), kllK, probs).as("cuts"))
    val counts = tagged.crossJoin(broadcast(cuts))
      .select(col("run"),
        graft.functions.KllSketch.bucket_below(col("cuts"), col("x"))
          .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("run") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("run") === 2, 1L).otherwise(0L)).as("n2"))
    psiFromCounts(counts, nBuckets)
  }

  /** The smoothed PSI projection over final (bucket, n1, n2) counts —
    * ONE definition shared by the batch [[driftPsi]] and the
    * streaming drained-counts twin (`stream_drift`): the add-½
    * smoothing constant and the round(ln)·round discipline must never
    * diverge between batch and stream, or the shared oracle would
    * catch one and miss the other.
    */
  private[graft] def psiFromCounts(counts: DataFrame,
      nBuckets: Int): DataFrame = {
    val totals = counts.agg(sum(col("n1")).as("t1"),
      sum(col("n2")).as("t2"))
    val half = 0.5 * nBuckets
    counts.crossJoin(broadcast(totals))
      .withColumn("p1", (col("n1").cast("double") + 0.5)
        / (col("t1").cast("double") + half))
      .withColumn("p2", (col("n2").cast("double") + 0.5)
        / (col("t2").cast("double") + half))
      .select(col("bucket"), col("n1"), col("n2"),
        round((col("p2") - col("p1"))
          * round(log(col("p2") / col("p1")), 6), 6).as("psi_term"))
  }

  /** One-row corpus health report — the summary stage every pipeline
    * run emits alongside its output shards: scale, composition,
    * exact-dup rate, and the English share that drives the curate
    * defaults. One scan; the three DISTINCT counts share a single
    * aggregate (Catalyst expands, each distinct is a partial agg).
    * All values are exact integers or single IEEE divisions —
    * nothing engine-sensitive.
    */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("t"),
        col("text"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("t")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        // distinct over md5(text), not text: the distinct shuffle
        // ships 32-char digests instead of whole documents
        (count(lit(1)) - countDistinct(md5(col("text"))))
          .as("n_dup_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("n_tokens"), col("n_chars"), col("n_dup_docs"),
        (col("n_en").cast("double") / col("n_docs").cast("double"))
          .as("share_en"))

  /** Deterministic epoch shuffle — the training ORDER a data loader
    * materializes: every document gets a seed-keyed md5 order hash;
    * the hash prefix assigns the shard and the within-shard sort by
    * (hash, doc_id) gives each document its position. Changing the
    * seed string reshuffles the epoch; nothing depends on engine,
    * run, or cluster layout (`rand()` is none of those).
    *
    * The per-shard `row_number` window IS the production shape: shard
    * writers emit their file in shuffle-key order, so the window
    * partition is one output shard. At 100 TB `nShards` grows with
    * the corpus to hold the target shard size (and with it the
    * per-shard sort) constant — the q_pack_bins/IVF discipline; a
    * GLOBAL position would instead be ntile's full sort, rejected in
    * q_quantile_bucket for the same reason.
    */
  /** LENGTH-CURRICULUM SCHEDULE — the "short documents first"
    * ordering a curriculum-training run consumes (Bengio et al.,
    * ICML'09): phase = token-count quartile from the bounded KLL
    * sketch (the `q_quantile_bucket` recipe — never an exact-
    * percentile whole-column buffer), documents shuffled WITHIN each
    * phase by the seed-keyed md5 order (`q_epoch_shuffle`'s recipe,
    * so consecutive positions are not length-sorted within a phase —
    * curriculum orders phases, shuffle de-correlates within), and
    * `global_pos` = cumulative earlier-phase sizes + within-phase
    * position.
    *
    * Scale shape: one projection computes token counts, the KLL cut
    * aggregate is O(k), the within-phase rank is a per-phase window
    * (nPhases constant — the q_epoch_shuffle per-shard trade), and
    * the offsets window runs over nPhases rows, broadcast back.
    * Hash-gated: md5 order keys, integer ranks, and exact-regime KLL
    * cutpoints replay in DuckDB's `quantile_cont`.
    */
  def curriculum(spark: SparkSession, sfDir: String,
      nPhases: Int = 4, seed: String = "cur"): DataFrame = {
    val vals = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "")).cast("double").as("x"))
    // both the rank branch and the offsets branch read `phased`;
    // persist so tokenize + KLL-cut + bucket run ONCE per corpus
    val phased = Scratch.persistDeferred(
      quantileBucketsOver(vals, nPhases)
        .withColumnRenamed("bucket", "phase"))
    val wPhase = Window.partitionBy(col("phase"))
      .orderBy(col("h"), col("doc_id"))
    val pos = phased
      .withColumn("h", md5(concat(lit(seed + ":"), col("doc_id"))))
      .withColumn("phase_pos", row_number().over(wPhase).cast("long"))
    val wOff = Window.orderBy(col("phase"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // nPhases rows — the offsets window is driver-trivial by design
    val offs = phased.groupBy("phase").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select("phase", "off")
    pos.join(broadcast(offs), "phase")
      .select(col("doc_id"), col("x").cast("long").as("n_tokens"),
        col("phase"), col("phase_pos"),
        (col("off") + col("phase_pos")).as("global_pos"))
  }

  def epochShuffle(spark: SparkSession, sfDir: String,
      nShards: Int = 8, seed: String = "epoch1"): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(concat(lit(seed + ":"), col("doc_id"))).as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 1, 6), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))

  /** The TRAINING-SHARD row layout the writer materializes: one row
    * per (document, epoch copy), placed at (shard, pos), carrying the
    * trained tokenizer's real token count. All-long ⇒ TSV-safe.
    */
  val ShardSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      Seq("shard", "pos", "doc_id", "copy", "n_tokens").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)))

  /** END-TO-END TRAINING-SHARD WRITER — the composition an LLM data
    * pipeline actually ships, materialized: curate (near-dup ∘
    * quality ∘ langid ∘ PII) → apply the DoReMi mixture (per-doc
    * epoch copy counts) → shuffle copies into shards at deterministic
    * positions (the `q_epoch_shuffle` md5 recipe keyed on (doc,
    * copy)) → attach the TRAINED tokenizer's real token counts
    * (`bpe_apply` — context budgets are token budgets) → write the
    * shard rows through the DSv2 two-phase-commit sink
    * ([[graft.sources.v2.GraftSinkSource]]: per-task temps → task
    * commits → one atomic driver publish + manifest) → and answer
    * from the MANIFEST-scoped read-back only. The gate therefore
    * hashes the whole chain INCLUDING serialization, the commit
    * protocol, and visibility (the `q_dsv2_sink` pattern over a real
    * pipeline, not a demo rollup).
    *
    * Scale shape: every stage is an already-verified operator with
    * its own 100 TB story (LSH-banded curate candidates, broadcast
    * 5-row mixture, projection-only shard assignment); the only new
    * state is the per-shard position, a row_number over nShards
    * partitions of the CURATED (small) epoch — the `q_epoch_shuffle`
    * discipline. The sink writes one TSV per task attempt; retries
    * never double-write (exactly-once spec reuse).
    */
  def shardWrite(spark: SparkSession, sfDir: String,
      nShards: Int = 8, seed: String = "epoch1"): DataFrame = {
    val curated = curate(spark, sfDir).select("doc_id")
    val copies = mixSample(spark, sfDir).join(curated, "doc_id")
    val toks = TextAnalysis.bpeApply(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"))
    val epoch = copies
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      .withColumn("h",
        md5(concat(lit(seed + ":"), col("doc_id"), lit(":"), col("copy"))))
      .withColumn("shard",
        conv(substring(col("h"), 1, 6), 16, 10).cast("long") % nShards)
    val rows = epoch.join(toks, "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"), col("copy"))).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("copy"),
        col("n_tokens"))
    val dir = graft.TempDirs.create("graft_shard_store").toString
    rows.write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    graft.sources.v2.GraftSink.readBack(spark, dir, ShardSchema)
  }

  /** The shard-STORE row layout the incremental writer appends: which
    * shard each kept document landed in, tagged with the ingest run
    * that admitted it. All-long + a tab-free tag ⇒ TSV-safe.
    */
  val AppendSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("run",
        org.apache.spark.sql.types.StringType)))

  /** INCREMENTAL SHARD APPEND — the DAILY-INGEST composition: run 1
    * exact-dedups its batch against itself, lands its keepers in the
    * shard store through the DSv2 two-phase-commit sink, and persists
    * its fingerprints ([[IncrementalDedup.writeFingerprints]]); run 2
    * then dedups its NEW batch against the persisted store WITHOUT
    * re-reading run 1's text ([[IncrementalDedup.decideWithStore]])
    * and APPENDS its keepers — the sink's merge-on-append manifest
    * keeps both commits visible. The answer is the manifest-scoped
    * read-back of the whole store, so the gate hashes incremental
    * dedup ∘ shard assignment ∘ serialization ∘ the append commit
    * protocol in one oracle: because runs are id-ordered, the
    * two-run composition reproduces ONE-SHOT exact dedup's global
    * min-id canonical bit-for-bit, and a single one-shot SQL gates
    * the whole incremental pipeline (the [[IncrementalDedup]]
    * equivalence, now carried through the sink).
    *
    * Scale shape: day N scans day N's text once plus a store that
    * grows with the unique corpus; shard assignment is a pure md5
    * projection; the only shuffles are the fingerprint-keyed dedup
    * aggregations. Nothing re-reads or rewrites earlier runs' shards
    * — append publishes a new manifest, it never touches old parts.
    */
  def shardAppend(spark: SparkSession, sfDir: String,
      nShards: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: Column => Column): DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    def shardOf(id: Column): Column =
      conv(substring(md5(concat(lit("shard:"), id)), 1, 6), 16, 10)
        .cast("long") % nShards
    val fpDir = graft.TempDirs.create("graft_fp_append").toString
    val storeDir = graft.TempDirs.create("graft_shard_append").toString
    val sink = "graft.sources.v2.GraftSinkSource"
    // run 1: self-dedup (min-id canonical per exact hash), land + persist
    val b1 = half(col("doc_id") <= _)
    b1.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("canon",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("canon"))
      .select(shardOf(col("doc_id")).as("shard"), col("doc_id"),
        lit("r1").as("run"))
      .write.format(sink).option("path", storeDir).mode("append").save()
    IncrementalDedup.writeFingerprints(b1, fpDir, "r1")
    // run 2: decide vs artifacts alone, append only the new keepers
    val b2 = half(col("doc_id") > _)
    IncrementalDedup
      .decideWithStore(Tables.parquet(spark, s"$fpDir/fp"), b2)
      .join(b2.select("doc_id"), "doc_id")
      .filter(!col("is_dup"))
      .select(shardOf(col("doc_id")).as("shard"), col("doc_id"),
        lit("r2").as("run"))
      .write.format(sink).option("path", storeDir).mode("append").save()
    graft.sources.v2.GraftSink.readBack(spark, storeDir, AppendSchema)
  }

  /** The WAP store row: which batch admitted each doc. All-long + a
    * tab-free tag ⇒ TSV-safe. */
  val WapSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))

  /** Run a WRITE–AUDIT–PUBLISH sequence: per batch, ONE bounded
    * 2-value audit aggregate (rows, violations of the
    * `q_expectations` completeness rule n_chars > 0 ∧ text ≠ '');
    * a clean batch publishes through the sink's two-phase commit,
    * a dirty batch publishes NOTHING — quarantine is the absence of
    * a manifest entry, the same visibility contract `q_dsv2_sink`
    * proves. The returned ledger measures visibility FROM THE STORE
    * (manifest read-back), never from intent. The audit verdict is
    * driver-side by nature — it gates an action, not a row transform;
    * the collect is one 2-long row per batch.
    */
  def wapRun(spark: SparkSession,
      batches: Seq[(String, DataFrame)], dir: String): DataFrame = {
    import spark.implicits._
    val ledger = batches.map { case (tag, b) =>
      val a = b.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("n_chars") <= 0 || col("text") === "", 1L)
          .otherwise(0L)), lit(0L)).as("bad")).head
      val (n, bad) = (a.getLong(0), a.getLong(1))
      if (bad == 0)
        b.select(lit(tag).as("batch"), col("doc_id"),
            col("n_chars").cast("long").as("n_chars"))
          .write.format("graft.sources.v2.GraftSinkSource")
          .option("path", dir).mode("append").save()
      (tag, n, bad, bad == 0)
    }
    val visible = graft.sources.v2.GraftSink.readBack(spark, dir, WapSchema)
      .groupBy("batch").agg(count(lit(1)).as("n_visible"))
    ledger.toDF("batch", "n_rows", "n_bad", "published")
      .join(visible, Seq("batch"), "left")
      .select(col("batch"), col("n_rows"), col("n_bad"), col("published"),
        coalesce(col("n_visible"), lit(0L)).as("n_visible"))
  }

  /** WRITE–AUDIT–PUBLISH over the documents corpus — the ingestion
    * gate pattern (staging + audit + atomic publish) every production
    * lakehouse runs before data becomes queryable: batch r1 is the
    * clean mid-split half, batch r2 is the other half POISONED with
    * three planted rows the audit must catch (negative n_chars,
    * empty text — the payload a WAP gate exists to stop). r1
    * publishes and is visible from the manifest; r2 quarantines and
    * contributes ZERO visible rows even though its write was
    * attempted. Gated by one SQL that recomputes the split, the
    * audit counts (+3 planted), and the visibility rule.
    */
  def wap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: Column => Column): DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    val poison = Seq((-1L, "", -1L), (-2L, "", -1L), (-3L, "", -1L))
      .toDF("doc_id", "text", "n_chars")
    val dir = graft.TempDirs.create("graft_wap_store").toString
    wapRun(spark, Seq(
      ("r1", half(col("doc_id") <= _)),
      ("r2", half(col("doc_id") > _).unionByName(poison))), dir)
  }

  /** EFFECTIVE SAMPLE SIZE of the length-weighted mix (`q_ess`) —
    * Kish's ESS = (Σw)²/Σw² per source with w = n_chars: when a
    * weighted sampler ([[weightedSample]], the mix_* family) draws
    * proportional to length, a source whose mass sits in a few huge
    * documents contributes far fewer EFFECTIVE documents than its
    * count suggests — ESS/n is the one-number alarm ("this source is
    * 10k docs but statistically 900"). Exact DECIMAL(38,0) moments
    * (w up to 2³¹ squares past BIGINT at corpus scale), one IEEE dag,
    * rounded 6. One partial-agg shuffle.
    */
  def effectiveSampleSize(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars").cast("long").as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast(d380)).as("sw"),
        sum((col("w").cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
          col("w").cast(org.apache.spark.sql.types.DecimalType(19, 0)))
          .cast(d380)).as("sw2"))
      .select(col("source"), col("n_docs"),
        round(col("sw").cast("double") * col("sw").cast("double") /
          col("sw2").cast("double"), 6).as("ess"),
        round(col("sw").cast("double") * col("sw").cast("double") /
          col("sw2").cast("double") / col("n_docs").cast("double"), 6)
          .as("ess_ratio"))
  }

  /** Deterministic GROUP-AWARE k-FOLD assignment (`q_kfold`) — the
    * cross-validation splitter next to [[leakageSafeSplit]]'s
    * train/eval cut: every USER's events land in exactly one of k
    * folds (fold = 48-bit md5 of the user id mod k — a pure function
    * of the GROUP key, so no user ever straddles folds and the
    * assignment is identical across engines, reruns and cluster
    * sizes; the evaluation loop's no-leakage precondition by
    * construction, never by shuffle-and-hope). The report is the
    * balance audit a split ships with: per-fold users, events and
    * exact purchase cents — a skewed fold shows up as a lopsided row.
    * ONE scan, one partial-agg shuffle; a spec pins the within-±20%
    * user balance and the user→fold functional dependency.
    */
  def kfoldAssign(spark: SparkSession, sfDir: String, k: Int = 5)
      : DataFrame = {
    val d182 = org.apache.spark.sql.types.DecimalType(18, 2)
    Tables.events(spark, sfDir)
      .withColumn("fold",
        conv(substring(md5(concat(lit("kfold1:"),
          col("user_id").cast("string"))), 1, 12), 16, 10).cast("long")
          % k)
      .groupBy("fold")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        (sum(when(col("event_type") === "purchase",
          col("value").cast(d182)).otherwise(lit(0).cast(d182))) * 100)
          .cast("long").as("purchase_cents"))
  }
}
