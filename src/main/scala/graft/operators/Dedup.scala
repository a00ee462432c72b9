package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication family for training-data curation (SURVEY §2.C).
  *
  * Scale design: the oracle-gated exact and n-gram-Jaccard variants
  * are correctness baselines; the MinHash-LSH and SimHash variants are
  * the 100 TB paths — their shuffles are keyed on small band
  * signatures (threshold-matched minhash bands, 4×12-bit simhash
  * chunks) so the candidate join never goes quadratic. All hashing is
  * md5-prefix/affine-modular arithmetic through codegen'd kernel
  * expressions — no UDFs, and every variant is DuckDB-hash-gated
  * (the md5 Carter–Wegman program; xxhash64 survives only inside the
  * substring-dedup k-gram prefilter, whose output is exact-verified
  * before anything the gate sees).
  */
object Dedup {

  /** Exact dedup: md5 grouping, canonical = min doc_id per group.
    * One window shuffle on the fingerprint.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val byFp = Window.partitionBy(col("fp"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  /** Per-doc distinct shingle frame (doc_id, sh) from any
    * (doc_id, text) frame. Repartitioned first: a small parquet
    * arrives as one partition and the per-doc shingle/signature work
    * is the expensive part — at any scale it should spread over the
    * cluster.
    */
  def shinglesOf(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    documents
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), TextAnalysis.shingles(col("text")).as("sh"))
      // tokenize+shingle dominates every consumer; persist so candidate
      // generation and verification share ONE pass (Spark's cache
      // manager matches the identical plan across ngramJaccard /
      // minhashLsh / clusters in a session). MEMORY_AND_DISK spills
      // rather than recomputing at cluster scale.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def docShingles(spark: SparkSession, sfDir: String): DataFrame =
    shinglesOf(Tables.documents(spark, sfDir))

  /** Stop-shingle document-frequency cap for exact candidate
    * generation, mirroring `Multimodal.frameDup`'s hot-chunk cap: a
    * shingle shared by more than `DefaultMaxDf` documents ("of the
    * and" in any English corpus) is dropped from candidate KEYING —
    * without the cap, one hot shingle makes the candidate join
    * quadratic in its document frequency, which is the plan's
    * scale-killer at 100 TB.
    *
    * The Jaccard itself is still computed on the FULL shingle sets, so
    * capping only affects which pairs are surfaced as candidates.
    * Pigeonhole safety: for a pair with jaccard ≥ τ, the shared set
    * covers ≥ τ·|A| shingles of each side, so the pair can only be
    * missed when capped shingles make up ≥ τ of a document — at τ=0.5,
    * a document more than half made of corpus-wide boilerplate, which
    * is exactly the document a curation pipeline wants handled by the
    * hot-shingle path (or dropped by quality filters), not by letting
    * the join go quadratic.
    */
  val DefaultMaxDf: Long = 100L

  /** Node budget under which an iterative graph operator's node-sized
    * per-iteration frames (scores, degrees, labels, frontiers)
    * broadcast (~4M nodes ≈ a few hundred MB built — the guide's
    * comfortable broadcast range). The iteration loops read these
    * frames through `localCheckpoint`, whose LogicalRDD reports
    * UNKNOWN size stats, so the planner sort-merge-joined edges
    * against a node vector every round; one bounded pre-flight count
    * re-attaches the decision, and past the budget the shuffle shape
    * stands (a web-scale node vector cannot ship to every executor).
    */
  private[graft] val GraphBroadcastNodeBudget = 4L * 1000 * 1000

  /** Broadcast `df` when the graph's node count sits under the
    * budget; identity otherwise. Partially applied once per operator
    * call from the operator's own bounded pre-flight count.
    */
  private[graft] def graphSized(nNodes: Long)(df: DataFrame): DataFrame =
    if (nNodes <= GraphBroadcastNodeBudget) broadcast(df) else df

  /** Exact n-gram Jaccard near-dup pairs: candidates share ≥1
    * NON-HOT shingle (df ≤ maxDf), jaccard = |∩|/|∪| ≥ threshold over
    * the full shingle sets. Integer-exact arithmetic → the final
    * division is bit-identical in DuckDB (oracle-gated).
    *
    * The verified pair list is a train-once [[Artifacts]] frame per
    * (corpus, threshold, maxDf): every graph analytic reads it
    * (`q_pagerank`, `q_label_prop`, `q_kcore`, `q_bfs_hops`,
    * `q_triangles`, `q_clustering_coeff`, `q_assortativity`,
    * `q_capture_recapture`, `dedup_clusters`, … all iterate the
    * IDENTICAL pair set), so one session computes the candidate join
    * once and serves every consumer from the checkpointed copy — at
    * 100 TB a production pipeline persists the near-dup edge list and
    * every downstream job reloads it.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5, maxDf: Long = DefaultMaxDf): DataFrame =
    Artifacts.frame(spark, sfDir, "dedup_pairs", threshold, maxDf)(
      jaccardFromStats(corpusPairStats(spark, sfDir, maxDf), threshold))

  private def jaccardFromStats(stats: DataFrame,
      threshold: Double): DataFrame =
    stats
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")

  /** Same operator over an arbitrary (doc_id, sh) shingle frame.
    *
    * Plan: every shingle is rare XOR hot, so the FULL intersection
    * splits as |∩| = shared-rare + shared-hot. Shared-rare comes
    * straight off the capped self-join as a pair aggregation (no
    * distinct pass, no per-pair array work — the round-2 shape);
    * shared-hot intersects the per-doc HOT arrays, which are tiny by
    * the cap's definition (few shingles in any doc exceed df>maxDf).
    * An array_intersect over the full shingle arrays per candidate
    * pair measured 4× slower — candidates number far more than
    * verified pairs.
    */
  def ngramJaccardOver(docs: DataFrame, threshold: Double,
      maxDf: Long = DefaultMaxDf): DataFrame =
    jaccardFromStats(pairStats(docs, maxDf), threshold)

  /** Inter-source DUPLICATION MATRIX (`q_source_overlap`): which
    * sources copy from which — the verified near-dup pairs rolled up
    * to (source, source) cells with pair counts and mean Jaccard.
    * A hot off-diagonal cell means one scrape mirrors another (count
    * the corpus once, not twice in the training mix); a hot diagonal
    * means a source is internally boilerplate-heavy. Rides the SAME
    * capped candidate generation as `dedup_ngram_jaccard` (shared
    * `pairStats` — no new quadratic surface), then two doc→source
    * joins and one #sources²-bounded rollup; the mean follows the
    * round-6 decimal-sum discipline so the gate hashes it exactly.
    */
  def sourceOverlap(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    ngramJaccard(spark, sfDir, threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("jsum"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        round(col("jsum").cast("double") / col("n_pairs"), 6)
          .as("mean_jaccard"))
  }

  /** Exact n-gram CONTAINMENT near-dup pairs — |∩| / min(|A|,|B|) ≥
    * threshold. Containment is the subset/quote detector Jaccard
    * misses: a short document fully embedded in a long one has
    * containment 1.0 but Jaccard ≈ |short|/|long| → below any usable
    * Jaccard threshold. Same candidate generation and integer-exact
    * arithmetic as the Jaccard verifier (shared `pairStats`), so the
    * final division is bit-identical in DuckDB (oracle-gated).
    *
    * Candidate-recall pigeonhole w.r.t. the SMALLER side: containment
    * ≥ τ means ≥ τ·min(|A|,|B|) shingles are shared, so a pair is only
    * missed when hot (df > maxDf) shingles make up ≥ τ of the smaller
    * document — the boilerplate case the hot-shingle path owns.
    */
  def ngramContainment(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, maxDf: Long = DefaultMaxDf): DataFrame =
    containmentFromStats(corpusPairStats(spark, sfDir, maxDf), threshold)

  /** Same containment operator over an arbitrary (doc_id, sh) frame. */
  def ngramContainmentOver(docs: DataFrame, threshold: Double,
      maxDf: Long = DefaultMaxDf): DataFrame =
    containmentFromStats(pairStats(docs, maxDf), threshold)

  private def containmentFromStats(stats: DataFrame,
      threshold: Double): DataFrame =
    stats
      .withColumn("containment",
        col("n_common").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "n_common", "containment")

  /** Shared candidate-pair intersection stats for the exact near-dup
    * verifiers: (doc_a, doc_b, n_common, n_a, n_b) for every pair
    * sharing ≥1 non-hot (df ≤ maxDf) shingle, with n_common computed
    * over the FULL shingle sets (rare via the pair aggregation, hot
    * via the tiny per-doc hot arrays).
    *
    * A threshold-INDEPENDENT [[Artifacts]] frame per (corpus, maxDf):
    * every exact near-dup consumer — the Jaccard and containment
    * verifiers, the threshold sweep, the LSH parameter planner — reads
    * the identical frame and differs only in the filter/projection
    * applied on top, so the candidate self-join (the expensive pass)
    * runs once per session and corpus.
    */
  private def corpusPairStats(spark: SparkSession, sfDir: String,
      maxDf: Long): DataFrame =
    Artifacts.frame(spark, sfDir, "dedup_pair_stats", maxDf)(
      pairStats(docShingles(spark, sfDir), maxDf))

  private def pairStats(docs: DataFrame, maxDf: Long): DataFrame = {
    val sh = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    // one df aggregation feeds both the rare keying and the hot
    // arrays; persisted so the second consumer doesn't redo the
    // full shingle shuffle (one slim (s, df) row per distinct
    // shingle). Like docShingles, the cache is deliberately left to
    // Spark's cache manager: repeated calls build the IDENTICAL plan,
    // which maps onto the same cache entry — one entry per corpus,
    // not per call.
    val dfs = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = sh.join(dfs.filter(col("df") <= maxDf).select("s"), "s")
    val rareCommon = keyed.as("a").join(keyed.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_rare_common"))
    val hotPerDoc = sh.join(dfs.filter(col("df") > maxDf).select("s"), "s")
      .groupBy("doc_id").agg(collect_list(col("s")).as("hot_sh"))
    // per-doc shingle count straight off the array — no second explode
    val counts = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    rareCommon
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "n_b"), "doc_b")
      .join(hotPerDoc.select(col("doc_id").as("doc_a"), col("hot_sh").as("hot_a")),
        Seq("doc_a"), "left")
      .join(hotPerDoc.select(col("doc_id").as("doc_b"), col("hot_sh").as("hot_b")),
        Seq("doc_b"), "left")
      .withColumn("n_common",
        col("n_rare_common") +
          when(col("hot_a").isNull || col("hot_b").isNull, lit(0L))
            .otherwise(size(array_intersect(col("hot_a"), col("hot_b"))).cast("long")))
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
  }

  /** Connected components over the near-dup pair graph → per-document
    * cluster assignment (cluster id = min doc_id reachable; singletons
    * map to themselves). This is what a curation pipeline actually
    * consumes: "keep one doc per cluster".
    *
    * Iterative min-label propagation, driver-coordinated like any
    * Spark graph algorithm: converges in graph-diameter rounds (dedup
    * clusters are shallow — near-dup graphs are cliques-ish), each
    * round one shuffle keyed on doc_id.
    */
  def clusters(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5, maxIters: Int = 20): DataFrame =
    componentsOver(
      Tables.documents(spark, sfDir).select(col("doc_id")),
      ngramJaccard(spark, sfDir, threshold).select(col("doc_a"), col("doc_b")),
      maxIters)

  /** DUPLICATION TOKEN WASTE (`q_dup_token_waste`) — the compute bill
    * duplication actually costs: every non-canonical member of a
    * near-dup cluster is token mass a training run pays for twice
    * (the headline number of the dedup papers — "X% of the tokens are
    * repeats"). One row: corpus docs/tokens, dup docs/tokens (cluster
    * members that are not their cluster's canonical min-id), and the
    * waste share — exact integer token counts off the gated
    * [[clusters]] assignment joined to one tokenize projection, one
    * final division.
    */
  def dupTokenWaste(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), w => w =!= ""))
          .cast("long").as("n_tokens"))
    clusters(spark, sfDir).join(toks, "doc_id")
      .withColumn("dup", col("doc_id") =!= col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("dup"), col("n_tokens")).otherwise(0L))
          .as("dup_tokens"))
      .select(col("n_docs"), col("n_dup_docs"),
        col("total_tokens").cast("long").as("total_tokens"),
        col("dup_tokens").cast("long").as("dup_tokens"),
        round(col("dup_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("waste_share"))
  }

  /** Same clustering over MinHash-LSH verified pairs — the 100 TB
    * path: candidate edges come from the banded signature join, never
    * an all-pairs shingle self-join.
    */
  def clustersLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5, maxIters: Int = 20): DataFrame =
    componentsOver(
      Tables.documents(spark, sfDir).select(col("doc_id")),
      minhashLsh(spark, sfDir, threshold).select(col("doc_a"), col("doc_b")),
      maxIters)

  /** Min-label connected components over an arbitrary edge set —
    * adaptive between two strategies, like any production CC:
    *
    * SMALL graphs (≤ `DriverEdgeCutoff` edges after dedup candidate
    * generation — the common case, since near-dup edges are a tiny
    * fraction of any corpus): union-find with path compression on the
    * driver. The distributed loop pays several shuffles of fixed
    * latency per round; for a graph that fits in one task that is
    * pure overhead. The edge list at the cutoff is ~16 MB.
    *
    * LARGE graphs: iterative min-label propagation. Each round:
    * (1) propagate the min neighbor label (one shuffle keyed on
    * doc_id), (2) pointer-jump `l(v) := l(l(v))` so chains collapse
    * in O(log diameter) rounds instead of O(diameter). The
    * convergence check is folded into the round's single materializing
    * action (a `chg` flag counted on the same cached result — no extra
    * join+count pass), and lineage is truncated with `localCheckpoint`
    * every few rounds so the plan stays bounded however many rounds
    * run. Exits LOUDLY on non-convergence: a silently-capped iteration
    * would surface only as an unexplained wrong cluster_id downstream.
    */
  val DriverEdgeCutoff: Long = 1L << 20

  private[graft] def componentsOver(verts: DataFrame, edges0: DataFrame,
      maxIters: Int, driverCutoff: Long = DriverEdgeCutoff): DataFrame = {
    val spark = verts.sparkSession
    // ONE bounded collect decides the path and, on the driver path,
    // is the edge list: it stops at cutoff + 1 rows (a limit is an
    // Int, and no driver array holds more). Explicit long cast: an
    // int32 doc_id column would otherwise ClassCastException in getLong
    val limit = math.max(0L, math.min(driverCutoff, Int.MaxValue - 1L))
    val got = edges0.select(col("doc_a").cast("long"),
      col("doc_b").cast("long")).limit(limit.toInt + 1).collect()
    if (got.length <= driverCutoff) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      got.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // min-id root ⇒ representative is the component minimum
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      import spark.implicits._
      val mapping = parent.keys.toSeq.map(k => (k, find(k)))
        .toDF("doc_id", "lbl")
      return verts
        .join(broadcast(mapping), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    }
    componentsDistributed(verts, edges0.cache(), maxIters)
  }

  private def componentsDistributed(verts: DataFrame, edges: DataFrame,
      maxIters: Int): DataFrame = {
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // only edge-active vertices ride the loop: at corpus scale near-dup
    // components cover a small fraction of documents, and a singleton
    // needs no propagation — it rejoins as its own cluster at the end
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    var cached: DataFrame = null
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val neighborMin = sym
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("dst_lbl")), "dst")
        .groupBy(col("src"))
        .agg(min(col("dst_lbl")).as("nmin"))
      val stepped = labels
        .join(neighborMin, labels("doc_id") === neighborMin("src"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nmin"), col("cluster_id")) < col("cluster_id")).as("chg"))
      // pointer jumping: labels are vertex ids, so l(l(v)) is a plain
      // self-join on the label value. `chg` covers BOTH the propagation
      // and the jump — the loop only exits from a verified fixed point
      // of the combined operator, which is the propagation fixed point
      // (= correct component minima).
      val next = stepped.as("s")
        .join(stepped.select(col("doc_id").as("lbl_id"),
          col("cluster_id").as("lbl_lbl")).as("t"),
          col("s.cluster_id") === col("t.lbl_id"), "left")
        .select(col("s.doc_id").as("doc_id"),
          coalesce(col("lbl_lbl"), col("s.cluster_id")).as("cluster_id"),
          (col("s.chg") ||
            coalesce(col("lbl_lbl"), col("s.cluster_id")) < col("s.cluster_id"))
            .as("chg"))
        .cache()
      changed = next.filter(col("chg")).count() // materialize + converge-check
      if (cached != null) cached.unpersist()
      cached = next
      labels = next.select("doc_id", "cluster_id")
      iter += 1
      if (iter % 4 == 0) {
        labels = labels.localCheckpoint() // bound plan depth
        cached.unpersist()
        cached = null
      }
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          s"($changed labels still changing) — raise maxIters")
    val active = labels.localCheckpoint() // cut lineage before caches go away
    if (cached != null) cached.unpersist()
    sym.unpersist()
    edges.unpersist()
    verts
      .join(active.withColumnRenamed("cluster_id", "lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  /** Text-span dedup — C4's CROSS-DOCUMENT repetition signal: for
    * each document, how many of its distinct `spanWords`-word spans
    * also occur in another document. (Spans are per-doc distinct, so
    * repetition WITHIN one document is invisible here by design —
    * that is `text_c4_filters`' dup_words statistic.) A doc whose
    * spans are mostly seen elsewhere is boilerplate or a near-copy;
    * C4 drops the repeated three-sentence spans, and this emits the
    * per-doc evidence that decision consumes:
    * (n_spans, n_dup_spans, dup_ratio).
    *
    * Plan shape at 100 TB: one shingle pass (distinct spans per doc in
    * the array domain), one shuffle keyed on the span for the
    * document-frequency count (a window over the same key the rows
    * already shuffle on), one aggregation back per doc. No pairwise
    * join at all — repetition is a property of the span, not of a
    * document pair, so this scales strictly better than pair dedup.
    */
  def spanDedup(spark: SparkSession, sfDir: String,
      spanWords: Int = 10): DataFrame =
    spanDedupOver(Tables.documents(spark, sfDir), spanWords)

  /** Same operator over an arbitrary (doc_id, text) frame. */
  def spanDedupOver(documents: DataFrame, spanWords: Int): DataFrame = {
    val spark = documents.sparkSession
    val spans = documents
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.CatalystExprs.word_ngrams(
          filter(split(col("text"), TextMapReduce.WordSplit), w => w =!= ""),
          spanWords).as("spans"))
    val sp = spans.select(col("doc_id"), explode(col("spans")).as("span"))
    // spans are per-doc distinct, so count-over-span = document
    // frequency; the window reuses the shuffle the count needs anyway
    val bySpan = Window.partitionBy(col("span"))
    val perDoc = sp
      .withColumn("df", count(lit(1)).over(bySpan))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Span-removal CLEANING: the acting twin of `spanDedup`'s evidence.
    * Every word position covered by any corpus-repeated `spanWords`-
    * gram occurrence is dropped; `text_clean` is the surviving word
    * stream (word-domain output — tokenization is the same
    * letter-run split every text operator here uses). Repetition is
    * per-doc-distinct document frequency ≥ 2, exactly `spanDedup`'s
    * statistic, so "which spans are boilerplate" agrees between the
    * evidence and the cleaner. The rule is position-set union —
    * order-independent, hence deterministic and engine-portable.
    *
    * Plan shape at 100 TB: one (pos, gram) explode, one shuffle on
    * the gram for document frequency, one join back, one per-doc
    * covered-set aggregation (bounded by doc length). No pairwise
    * join — same scaling argument as `spanDedup`.
    */
  def spanClean(spark: SparkSession, sfDir: String,
      spanWords: Int = 10): DataFrame =
    spanCleanOver(Tables.documents(spark, sfDir), spanWords)

  /** Same operator over an arbitrary (doc_id, text) frame. */
  def spanCleanOver(documents: DataFrame, spanWords: Int): DataFrame = {
    val spark = documents.sparkSession
    val words = documents
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        filter(split(col("text"), TextMapReduce.WordSplit), w => w =!= "")
          .as("w"))
    Scratch.persistDeferred(words)
    val posGrams = words
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(w) >= $spanWords
           |  THEN transform(sequence(0, size(w) - $spanWords),
           |         i -> struct(i AS p, concat_ws(' ',
           |           slice(w, i + 1, $spanWords)) AS g))
           |  ELSE cast(array() as array<struct<p:int,g:string>>) END"""
        .stripMargin)).as("pg"))
      .select(col("doc_id"), col("pg.p").as("p"), col("pg.g").as("g"))
    // per-doc-distinct spans → count = document frequency (the
    // spanDedup statistic); the join back fans out to every position
    val dfTab = posGrams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
    val cov = posGrams
      .join(dfTab.filter(col("df") >= 2).select("g"), "g")
      .select(col("doc_id"),
        explode(expr(s"sequence(p, p + ${spanWords - 1})")).as("c"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("c"))).as("cov"))
    words.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("cov"), expr("cast(array() as array<int>)")).as("cov"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("cov")).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("w"),
          (x, i) => !array_contains(col("cov"), i))).as("text_clean"))
  }

  // ---- MinHash + banded LSH ------------------------------------------

  val NumPerms = 128

  /** (bands, rows) matched to the dedup threshold from the banding
    * S-curve (collision probability 1−(1−s^r)^b; the curve's midpoint
    * sits near (1/b)^(1/r)):
    *
    *   - τ ≥ 0.7 → 16 bands × 8 rows: midpoint ≈ 0.71, recall ≈ 0.96
    *     at s = 0.8 and ≈ 5% at s = 0.5 (aggressive precision).
    *   - τ < 0.7 → 32 bands × 4 rows: midpoint ≈ 0.42, recall ≈ 0.87
    *     at s = 0.5, ≈ 0.99 at s = 0.6 (the 0.5-threshold regime —
    *     16×8 here would recall only ~6% of borderline pairs).
    *
    * Both use all 128 permutations, so the signature is shared and
    * only the band fold changes. Measured recall on a planted
    * borderline corpus is pinned in DedupSpec.
    */
  def bandingFor(threshold: Double): (Int, Int) =
    if (threshold >= 0.7) (16, 8) else (32, 4)

  /** 48-bit md5-prefix hash per shingle — ONE md5 per shingle, the
    * base hash of the whole MinHash family (batch AND streaming): md5
    * is the one hash both engines compute identically, which is what
    * makes every LSH candidate set DuckDB-oracle-reproducible.
    */
  def md5PrefixHashes(sh: Column): Column =
    graft.functions.CatalystExprs.md5_prefix_array(sh)

  /** minhash signature (array<long> of NumPerms) from a shingle
    * array: the Carter–Wegman permutation family (see [[PermCoef]])
    * over 48-bit md5-prefix shingle hashes — the streaming near-dup
    * recipe, extended to the full 128-permutation signature, so the
    * batch LSH path is oracle-gated like the streaming one (formerly
    * xxhash64-signed and rows-gated). One codegen'd pass computes all
    * permutation minima (the HOF formulation re-evaluates nested
    * lambda subtrees per element and is orders of magnitude slower).
    */
  def minhashSignature(sh: Column): Column = {
    val coef = (0 until NumPerms).map(permCoef)
    graft.functions.CatalystExprs.minhash_sig_cw(
      md5PrefixHashes(sh),
      coef.map(_._1).toArray, coef.map(_._2).toArray,
      coef.map(_._3).toArray, 2147483647L)
  }

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard.
    *
    * Pipeline: signature → band keys per doc (banding matched to the
    * threshold via `bandingFor`) → shuffle on (band, key) → candidate
    * pairs from same-bucket self-join → exact-Jaccard verification.
    * Band key space is tiny per band, so the shuffle stays balanced at
    * any corpus size; the verify join is proportional to the candidate
    * count, not n².
    */
  def minhashLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame =
    minhashLshOver(docShingles(spark, sfDir), threshold)

  /** Same operator over an arbitrary (doc_id, sh) shingle frame, with
    * an optional explicit banding override (the recall spec measures
    * tuned vs mis-tuned banding on one planted corpus).
    */
  def minhashLshOver(shd: DataFrame, threshold: Double,
      banding: Option[(Int, Int)] = None): DataFrame = {
    val (bands, rows) = banding.getOrElse(bandingFor(threshold))
    require(bands * rows == NumPerms, s"banding $bands×$rows != $NumPerms perms")
    val sig = shd
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh")))
    // EXACT string band keys (the oracle's array_to_string slice) —
    // an xxhash64 fold is a cheaper shuffle key, but a fold collision
    // could surface a candidate no oracle reproduces; exactness is
    // what keeps this path hash-gated
    val banded = sig
      .select(col("doc_id"),
        posexplode(graft.functions.CatalystExprs.band_key_strings(
          col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(shd.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shd.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ---- SimHash --------------------------------------------------------

  /** Token-hash array for SimHash (custom one-pass expression). */
  def tokenHashes(text: Column): Column =
    graft.functions.CatalystExprs.xxhash_array(
      filter(split(text, TextMapReduce.WordSplit), w => w =!= ""))

  /** 64-bit SimHash from a token-hash array: bit j is set when the
    * majority of tokens have bit j set (custom one-pass expression).
    */
  def simhashCol(hashes: Column): Column =
    graft.functions.CatalystExprs.simhash64(hashes)

  /** SimHash near-dup pairs at Hamming distance ≤ maxDist.
    *
    * Candidate generation by the pigeonhole trick: split the 48-bit
    * hash into 4 12-bit chunks; any pair within Hamming ≤ 3 agrees on
    * ≥1 chunk, so the join is keyed on (chunk_idx, chunk_value) —
    * linear shuffle, no n² compare.
    *
    * Token hashes are 48-bit md5 prefixes (`Md5PrefixArray`, the
    * MinHash family's base hash), NOT xxhash64: md5 is what DuckDB
    * can recompute, so the whole pipeline — per-bit majority vote,
    * chunk keys, Hamming verify — replays in the oracle and the key
    * is hash-gated (the Carter–Wegman precedent applied to SimHash).
    * `simhash64` over 48-bit inputs leaves bits 48-63 clear (a
    * strict-majority vote over all-zero bits), so the one kernel
    * serves both widths.
    */
  def simhash(spark: SparkSession, sfDir: String,
      maxDist: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.CatalystExprs.md5_prefix_array(
          filter(split(col("text"), TextMapReduce.WordSplit), w => w =!= ""))
          .as("hs"))
      // a tokenless document has no content signal — simhash64 of an
      // empty array is all-ones, which would spuriously pair every
      // such doc with every other; drop them (the oracle's token
      // explode drops them implicitly)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), simhashCol(col("hs")).as("sh64"))
    val chunked = docs.select(
        col("doc_id"), col("sh64"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("sh64"), c * 12).bitwiseAND(lit(0xFFFL)).as("cval"))
        }: _*)).as("ck"))
      .select(col("doc_id"), col("sh64"),
        col("ck.chunk").as("chunk"), col("ck.cval").as("cval"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cval") === col("y.cval")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sh64").as("ha"), col("y.sh64").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Embedding-cosine near-dup pairs on the scale path: candidates
    * come from the banded sign-random-projection join (linear shuffle
    * keyed on (band, code) — never an all-pairs comparison), then the
    * exact cosine verifies each candidate. Approximate BY DESIGN and
    * named for it: a pair disagreeing on every band is not surfaced,
    * the standard LSH recall trade (tune bands/planes for recall at
    * scale). Callers needing exhaustive pairs at small scale should
    * compose an explicit cross join — this module deliberately does
    * not offer one under a near-dup name.
    */
  def embeddingNearDupLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.45): DataFrame =
    Similarity.annLsh(spark, sfDir, threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))

  /** DEDUP-QUALITY EVALUATION as a first-class operator — the
    * `q_retrieval_metrics` twin for the near-dup family: on a bounded
    * audit slice (doc_id < nDocs, a CONSTANT regardless of corpus
    * size — the slice is the eval budget, exactly like a retrieval
    * harness's query batch), compute the exact Jaccard-≥ τ truth set
    * with NO df cap and NO banding, run the production MinHash-LSH
    * path over the same slice, and report candidate-generation
    * precision/recall. This is the number an operator watches before
    * trusting a banding config at 100 TB — the SimilaritySpec /
    * DedupSpec recall floors, promoted from test-time assertions to
    * a queryable report.
    *
    * Truth generation is the shingle-posting join (word-keyed,
    * bounded by the slice), never an n² text cross join; both sides
    * exact-verify at the same τ over the same shingle sets, so every
    * metric is a ratio of pair counts — integer divisions, hash-gated.
    */
  def dedupMetrics(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, nDocs: Int = 500): DataFrame =
    dedupMetricsOver(
      docShingles(spark, sfDir).filter(col("doc_id") < nDocs), threshold)

  /** Same eval over an arbitrary (doc_id, sh) shingle frame with an
    * optional banding override — the spec's hook for proving the
    * report DISCRIMINATES: tuned banding must score near-1 recall on
    * a planted borderline corpus, mis-tuned banding must not.
    */
  def dedupMetricsOver(shd: DataFrame, threshold: Double,
      banding: Option[(Int, Int)] = None): DataFrame = {
    val post = shd.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = shd.select(col("doc_id"), size(col("sh")).as("n"))
    val truth = post.as("x").join(post.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(col("n_common").cast("double")
        / (col("na") + col("nb") - col("n_common")).cast("double")
        >= threshold)
      .select("doc_a", "doc_b")
    val found = minhashLshOver(shd, threshold, banding)
      .select("doc_a", "doc_b")
    val hit = found.join(truth, Seq("doc_a", "doc_b"))
    val tC = truth.agg(count(lit(1)).as("n_truth"))
    val fC = found.agg(count(lit(1)).as("n_found"))
    val hC = hit.agg(count(lit(1)).as("n_hit"))
    tC.crossJoin(broadcast(fC)).crossJoin(broadcast(hC))
      .select(col("n_truth"), col("n_found"), col("n_hit"),
        when(col("n_found") > 0,
          col("n_hit").cast("double") / col("n_found").cast("double"))
          .otherwise(lit(0.0)).as("precision"),
        when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth").cast("double"))
          .otherwise(lit(0.0)).as("recall"))
  }

  /** DEDUP THRESHOLD SWEEP — the tuning report the near-dup family's
    * threshold parameter deserves (0.5 is a convention, not a law):
    * ONE pair-stats pass (the shared df-capped candidate path), then
    * per threshold t ∈ {0.5..0.9} the pair count, the distinct docs
    * touched, and the greedy drop-count upper bound (distinct max-id
    * doc over kept pairs — what min-id canonical dedup would remove
    * if every pair were its own cluster). Threshold predicates are
    * EXACT INTEGERS (10·|∩| ≥ t10·|∪|) — no float boundary can
    * reclassify a pair; empty thresholds still report 0 (the grid
    * left-join, no silent truncation). The sweep costs ONE candidate
    * verification regardless of how many thresholds it prices.
    */
  def dedupSweep(spark: SparkSession, sfDir: String,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val base = corpusPairStats(spark, sfDir, maxDf)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("n_a"), col("n_b"))
    val grid = spark.range(5, 10).select(col("id").as("t10"))
    val kept = base.crossJoin(broadcast(grid))
      .filter(col("n_common") * 10 >=
        col("t10") * (col("n_a") + col("n_b") - col("n_common")))
      .select(col("t10"), col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val byT = kept.groupBy("t10")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(greatest(col("doc_a"), col("doc_b")))
          .as("n_dropped_greedy"))
    val aff = kept.select(col("t10"), col("doc_a").as("d"))
      .unionByName(kept.select(col("t10"), col("doc_b").as("d")))
      .groupBy("t10").agg(countDistinct(col("d")).as("n_docs_affected"))
    grid.join(byT, Seq("t10"), "left").join(aff, Seq("t10"), "left")
      .select(col("t10"),
        (col("t10").cast("double") / 10.0).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        coalesce(col("n_dropped_greedy"), lit(0L)).as("n_dropped_greedy"))
  }

  /** Canonicalized exact dedup: normalize text (lowercase, strip
    * non-alphanumerics to spaces, collapse runs, trim) BEFORE the
    * md5 group — catches the formatting/casing/punctuation variants
    * raw `exact` misses, at identical cost (the normalization is
    * three codegen'd string ops in the scan projection). The first
    * normalization stage every real text-dedup pipeline runs.
    */
  def canonicalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9]", " "), " +", " "))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_fp"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(canon).as("canon_fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  /** PageRank over the near-dup graph — ITERATIVE graph analytics
    * beyond connected components (centrality picks the canonical
    * representative of a dup cluster better than min-id when edges
    * carry meaning). Power iteration as join-based message passing:
    * each round is one (edges ⋈ deg ⋈ pr) shuffle + a per-node
    * aggregation — the standard distributed shape, `iters` rounds,
    * plan depth linear in `iters` (fine for the small fixed count;
    * the CC operator's checkpoint discipline applies beyond that).
    *
    * Determinism across engines AND shuffle orders: per-edge
    * contributions are rounded to 9 decimals and summed IN DECIMAL,
    * the damping update rounds back to 9 — every iteration's scores
    * are bit-identical in Spark and DuckDB (the oracle unrolls the
    * same three iterations as CTEs). Nodes with no edges hold
    * pr = 0.15 (teleport only) in both.
    */
  def pageRank(spark: SparkSession, sfDir: String,
      iters: Int = 3): DataFrame =
    pageRankRunFull(spark, sfDir, iters, eps = None)._1

  /** CONVERGENCE-MODE PageRank (`q_pagerank_converged`): instead of a
    * fixed unroll, iterate until the L1 delta between successive
    * score vectors is ≤ `eps` (default 0 — an EXACT fixed point on
    * the round-9 decimal lattice every step quantizes to) with a
    * round cap, so answer quality stops being round-count-defined.
    * Each iteration adds ONE bounded 1-row driver read (the L1
    * scalar) on top of the fixed variant's per-round cost; the output
    * carries the rounds actually run and the convergence flag. The
    * fixed-round `q_pagerank` stays the DuckDB-gated twin (its oracle
    * is the 3-round unroll); this key is rows-gated, and its spec
    * pins the fixed-point certificate — running ONE more round from
    * the converged vector moves L1 by ≤ eps — plus agreement with the
    * fixed-round twin's trajectory.
    */
  def pageRankConverged(spark: SparkSession, sfDir: String,
      eps: Double = 0.0, maxIters: Int = 30): DataFrame = {
    val (out, iters, converged) =
      pageRankRunFull(spark, sfDir, maxIters, Some(eps))
    out.select(col("doc_id"), col("pagerank"), col("deg"),
      lit(iters.toLong).as("n_iters"), lit(converged).as("converged"))
  }

  private def pageRankRunFull(spark: SparkSession, sfDir: String,
      maxIters: Int, eps: Option[Double]): (DataFrame, Int, Boolean) = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
    // The edge set and degrees are re-read every iteration: compute
    // them ONCE, eagerly, with truncated lineage (localCheckpoint) —
    // and checkpoint each iteration's scores so the optimizer never
    // sees an iters-deep nested plan. The final result is
    // materialized before returning, so nothing persisted leaks past
    // this call (the round-4 advisory).
    val sym = e.unionByName(
        e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .localCheckpoint()
    val deg = sym.groupBy("doc_a").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // checkpointed frames report unknown size stats, so the planner
    // sort-merge-joined every per-iteration node-sized frame; one
    // bounded pre-flight count (parquet-metadata-only) re-attaches
    // the broadcast decision the stats loss hid, with the sort-merge
    // shape kept past the budget (a web-scale score vector cannot
    // ship to every executor)
    val sized = graphSized(docs.count()) _
    var pr = docs.select(col("doc_id"), lit(1.0).as("pr")).localCheckpoint()
    var itersRun = 0
    var converged = false
    while (itersRun < maxIters && !converged) {
      val contrib = sym
        .join(sized(deg), "doc_a")
        .join(sized(pr.select(col("doc_id").as("doc_a"), col("pr"))),
          "doc_a")
        .select(col("doc_b").as("doc_id"),
          round(col("pr") / col("deg"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(28, 9)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("s"))
      val next = docs.join(sized(contrib), Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(lit(0.15) + lit(0.85) * coalesce(col("s").cast("double"), lit(0.0)),
            9).as("pr"))
        .localCheckpoint()
      itersRun += 1
      eps.foreach { e =>
        // ONE bounded 1-row driver read per round: the L1 step size
        val l1 = next.join(
            sized(pr.select(col("doc_id"), col("pr").as("prev"))), "doc_id")
          .agg(coalesce(sum(abs(col("pr") - col("prev"))), lit(0.0)))
          .first().getDouble(0)
        if (l1 <= e) converged = true
      }
      pr = next
    }
    (pr.join(sized(deg.select(col("doc_a").as("doc_id"), col("deg"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("pr").as("pagerank"),
        coalesce(col("deg"), lit(0L)).as("deg")),
      itersRun, converged)
  }

  /** Per-node triangle counts over the near-dup graph — the third
    * graph analytic (after components and PageRank): triangle
    * membership separates genuinely mutual dup clusters from chains
    * of borderline pairs. DEGREE-ORDERED orientation (each edge
    * points from its lower-(deg, id) endpoint): every node's
    * out-degree is O(√m), so the wedge self-join below stays bounded
    * on hub nodes — the standard distributed triangle-counting shape,
    * two shuffles (wedge build + closing-edge semi check). Each
    * triangle materializes exactly once because the closing edge of a
    * wedge (v, w with rank(v) < rank(w), both above u) is necessarily
    * oriented v→w. The oracle orients by id instead (its canonical
    * a<b<c 3-way join) — per-node counts are orientation-invariant,
    * so the two agree row-for-row.
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val deg = e.select(col("doc_a").as("id"))
      .unionByName(e.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withRanks = e
      .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
    val ra = struct(col("da").as("d"), col("doc_a").as("id"))
    val rb = struct(col("db").as("d"), col("doc_b").as("id"))
    val d = withRanks.select(
      when(ra < rb, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(ra < rb, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(ra < rb, rb).otherwise(ra).as("dst_rank"))
    val tri = d.as("e1").join(d.as("e2"),
        col("e1.src") === col("e2.src")
          && col("e1.dst_rank") < col("e2.dst_rank"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
      .join(d.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"),
        "left_semi")
    tri.select(col("u").as("doc_id"))
      .unionByName(tri.select(col("v").as("doc_id")))
      .unionByName(tri.select(col("w").as("doc_id")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Neighbor-set Jaccard between wedge-connected node pairs over the
    * near-dup graph — the link-prediction / entity-consolidation
    * analytic (fourth in the family after components, PageRank,
    * triangles): two docs whose NEIGHBORHOODS overlap heavily are
    * cluster-mates even if their own edge fell below the dedup
    * threshold. Common neighbors come from ONE wedge self-join
    * through the shared endpoint (a < b canonicalizes each pair);
    * degrees from one tiny aggregate joined back. The wedge fan-out
    * is Σ deg(n)² — bounded here by the same df-cap that bounds the
    * LSH candidate join, and at 100 TB by capping hub degrees before
    * the wedge (the `dedup_substring` de-skew recipe).
    */
  def graphJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val sym = e.unionByName(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val deg = sym.groupBy(col("doc_a").as("id"))
      .agg(count(lit(1)).as("deg"))
    val half = sym.select(col("doc_a").as("a"), col("doc_b").as("n"))
    val common = half
      .join(half.select(col("a").as("b"), col("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("da") + col("db") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** BFS hop distance from the graph's anchor node (the minimum
    * doc_id touching any near-dup edge) — the reachability analytic
    * (fifth in the graph family): how many dup-hops separate a
    * document from the cluster seed, the per-node input to
    * chain-length capping (a doc 4 borderline hops from the seed is
    * usually NOT a duplicate of it, the transitive-closure trap
    * C4-style pipelines guard against).
    *
    * Distributed shape: synchronous frontier BFS — each round joins
    * ONLY the newly-settled frontier against the (localCheckpointed)
    * edge list, dedups the candidates, and anti-joins the settled set,
    * so round cost is O(edges out of the frontier), never O(E·iters);
    * per-round `localCheckpoint` keeps plan depth constant exactly as
    * in [[clusters]]. Unweighted min-hop is
    * shuffle-order-deterministic, so the gate is an exact hash match
    * against the oracle's unrolled relational recurrence
    * (d_k = min(d_{k-1}, 1 + min over in-neighbors) truncated at the
    * same round count — equivalent to frontier BFS at depth k).
    */
  def bfsHops(spark: SparkSession, sfDir: String, iters: Int = 4): DataFrame = {
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val sym = e.unionByName(
        e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    val src = sym.agg(min(col("doc_a")).as("doc_id"))
    // checkpointed frontier/settled frames lose size stats; one
    // bounded pre-flight count re-attaches the broadcast decision
    // (see GraphBroadcastNodeBudget)
    val sized = graphSized(sym.select("doc_a").distinct().count()) _
    var dist = src.select(col("doc_id"), lit(0L).as("hop")).localCheckpoint()
    var frontier = dist.select("doc_id")
    for (i <- 1 to iters) {
      val next = sym
        .join(sized(frontier.select(col("doc_id").as("doc_a"))), "doc_a")
        .select(col("doc_b").as("doc_id")).distinct()
        .join(sized(dist), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(i.toLong).as("hop"))
        .localCheckpoint()
      dist = dist.unionByName(next).localCheckpoint()
      frontier = next.select("doc_id")
    }
    dist
  }

  /** k-core decomposition (k = 2) of the near-dup graph — the sixth
    * graph analytic: iterative peeling strips pendant/chain structure
    * until every surviving node keeps degree ≥ k WITHIN the survivor
    * set. The 2-core separates mutually-supported dup clusters from
    * the borderline chains `bfsHops` measures — the standard "is this
    * cluster real or a daisy chain" screen before canonical selection.
    *
    * Distributed shape: each peel round is ONE degree partial-agg
    * over the edges restricted to surviving endpoints (two semi
    * joins) — O(E) per round at a small fixed round count, plan depth
    * held constant by per-round `localCheckpoint` (the PageRank
    * discipline). The FIXED round count is what makes the gate
    * engine-exact (the oracle unrolls the same rounds as CTEs); the
    * spec pins that peeling has CONVERGED by that depth at the gate
    * SFs (round R equals round R+1), so the fixed-depth answer is the
    * true fixpoint there — the loud-convergence story of the CC loop.
    * `in_core` is `core_deg ≥ k` over the final survivor set, which
    * post-convergence is exactly 2-core membership.
    */
  def kcore(spark: SparkSession, sfDir: String, k: Int = 2,
      iters: Int = 4): DataFrame = {
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    kcoreOver(e, k, iters)
  }

  /** Same peel over any canonical (doc_a < doc_b) edge list — planted
    * triangle-vs-chain specs pin the peel order.
    */
  def kcoreOver(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val sym = e.unionByName(
        e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    val nodes = sym.select(col("doc_a").as("id")).distinct().localCheckpoint()
    // the survivor set is node-bounded but checkpoint-backed (unknown
    // stats): one bounded count re-attaches the broadcast decision
    val sized = graphSized(nodes.count()) _
    var alive = nodes
    def survivorDeg(a: DataFrame): DataFrame = sym
      .join(sized(a.select(col("id").as("doc_a"))), Seq("doc_a"), "left_semi")
      .join(sized(a.select(col("id").as("doc_b"))), Seq("doc_b"), "left_semi")
      .groupBy("doc_a").agg(count(lit(1)).as("deg"))
    for (_ <- 1 to iters) {
      alive = survivorDeg(alive).filter(col("deg") >= k)
        .select(col("doc_a").as("id"))
        .localCheckpoint()
    }
    nodes
      // the survivor-degree frame is node-bounded, so the same budget
      // that broadcasts the semi-join sides broadcasts it here — the
      // final peel round was the one join left sort-merging a
      // checkpoint-backed (stats-less) node vector (r18 plan residual)
      .join(sized(survivorDeg(alive)
          .select(col("doc_a").as("id"), col("deg").as("core_deg"))),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        (coalesce(col("core_deg"), lit(0L)) >= k).as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
  }

  /** Semi-supervised LABEL PROPAGATION over the near-dup graph — the
    * weak-supervision analytic (seventh in the family): a
    * deterministic quarter of the graph's nodes (doc_id % 4 = 0) is
    * seeded with its document's language label, and each round every
    * still-unlabeled node adopts the MAJORITY label among all its
    * labeled neighbors — count desc, label asc tie-break, a total
    * order, so the spread is engine- and shuffle-order-deterministic.
    * A label, once assigned, never changes (seed clamping): each
    * round only EXTENDS the labeled set, the loop is monotone, and a
    * fixed round count gates exactly against the oracle's unrolled
    * CTE rounds.
    *
    * Distributed shape: each round is one edges⋈labels join into a
    * partial-agg (node, label) vote count plus a bounded per-node
    * argmax — the PageRank shape, O(E) per round for a small fixed
    * count, plan depth held by per-round `localCheckpoint`. At 100 TB
    * the vote join is keyed on the node id and AQE-skew-splittable;
    * hub degrees are already bounded by the LSH df-cap upstream.
    */
  def labelProp(spark: SparkSession, sfDir: String,
      iters: Int = 3): DataFrame = {
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val nodes = e.select(col("doc_a").as("doc_id"))
      .unionByName(e.select(col("doc_b").as("doc_id"))).distinct()
    val seeds = nodes.filter(col("doc_id") % 4 === 0)
      .join(docs, "doc_id")
      .select(col("doc_id"), col("lang").as("label"))
    labelPropOver(e, seeds, iters)
  }

  /** PARTITION MODULARITY (`q_modularity`) — Newman's Q of the
    * LANGUAGE partition over the near-dup graph: do near-duplicates
    * stay within a language (high Q — per-language curation is safe)
    * or cross languages (low Q — translated/templated mirrors that a
    * per-language dedup pass would MISS)? Q = Σ_c [e_c/m −
    * (d_c/2m)²] over the gold lang communities — unlike the
    * connected-components partition (edge-closed by definition, every
    * edge internal), a label partition makes Q a real diagnostic.
    *
    * One edge scan joins both endpoint labels; within-counts and
    * degree sums partial-agg to the |langs|-bounded frame; each
    * community term is one IEEE dag on exact integers rounded 6 and
    * summed IN DECIMAL (the ANOVA discipline). Per-community rows
    * carry the shared Q (the anova broadcast shape).
    */
  def modularity(spark: SparkSession, sfDir: String): DataFrame =
    modularityOver(
      ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint(),
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")))

  /** Same operator over any canonical edge list + (doc_id, lang)
    * label frame — a planted two-community graph with one cross edge
    * pins Q = 0.21875 exactly. */
  private[graft] def modularityOver(e: DataFrame,
      lang: DataFrame): DataFrame = {
    val el = e
      .join(lang.select(col("doc_id").as("doc_a"), col("lang").as("la")),
        "doc_a")
      .join(lang.select(col("doc_id").as("doc_b"), col("lang").as("lb")),
        "doc_b")
      .localCheckpoint()
    val mm = el.agg(count(lit(1)).as("m"))
    val win = el.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lang")).agg(count(lit(1)).as("e_w"))
    val dg = el.select(col("la").as("lang"))
      .unionByName(el.select(col("lb").as("lang")))
      .groupBy("lang").agg(count(lit(1)).as("d_c"))
    val terms = dg.join(win, Seq("lang"), "left")
      .crossJoin(broadcast(mm))
      .select(col("lang"),
        coalesce(col("e_w"), lit(0L)).as("e_within"), col("d_c"),
        round(coalesce(col("e_w"), lit(0L)).cast("double") /
          col("m").cast("double") -
          (col("d_c").cast("double") / (lit(2L) * col("m"))
            .cast("double")) *
          (col("d_c").cast("double") / (lit(2L) * col("m"))
            .cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))
          .as("term_d"))
      .localCheckpoint()
    val q = terms.agg(round(sum(col("term_d")).cast("double"), 6).as("q"))
    terms.crossJoin(broadcast(q))
      .select(col("lang"), col("e_within"), col("d_c"),
        col("term_d").cast("double").as("term"), col("q"))
  }

  /** One spread round: the still-unlabeled neighbors of the labeled
    * set vote (count desc, label asc — a total order), tagged with
    * the round number. ONE definition shared by the fixed-round and
    * convergence-mode variants so the vote rule can never drift.
    */
  private def lpRound(sym: DataFrame, labeled: DataFrame,
      i: Long, sized: DataFrame => DataFrame): DataFrame = {
    val votes = sym
      .join(sized(labeled.select(col("doc_id").as("doc_a"), col("label"))),
        "doc_a")
      .select(col("doc_b").as("doc_id"), col("label"))
      .join(sized(labeled.select("doc_id")), Seq("doc_id"), "left_anti")
      .groupBy("doc_id", "label").agg(count(lit(1)).as("c"))
    votes
      .groupBy("doc_id")
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
      .select(col("doc_id"), col("m.l").as("label"), lit(i).as("rnd"))
  }

  private def lpSym(e: DataFrame): DataFrame =
    e.unionByName(
        e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()

  private def lpFinish(nodes: DataFrame, labeled: DataFrame,
      sized: DataFrame => DataFrame): DataFrame =
    nodes
      .join(sized(labeled), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), lit("unlabeled")).as("label"),
        coalesce(col("rnd"), lit(-1L)).as("rnd"))

  /** Same spread over any canonical edge list + (doc_id, label) seed
    * set — planted chain/tie specs pin the vote and clamp rules.
    */
  def labelPropOver(e: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val sym = lpSym(e)
    val nodes = sym.select(col("doc_a").as("doc_id")).distinct()
      .localCheckpoint()
    val sized = graphSized(nodes.count()) _
    var labeled = seeds
      .select(col("doc_id"), col("label"), lit(0L).as("rnd"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      labeled = labeled.unionByName(lpRound(sym, labeled, i.toLong, sized))
        .localCheckpoint()
    }
    lpFinish(nodes, labeled, sized)
  }

  /** CONVERGENCE-MODE label propagation (`q_label_prop_converged`):
    * iterate until NO label changes — the loop is monotone (seed
    * clamping: a round only EXTENDS the labeled set), so "no changes"
    * is exactly "this round labeled nobody new", read as ONE bounded
    * 1-row driver count per round on top of the fixed variant's
    * per-round O(E) cost, with a round cap. The output carries the
    * rounds actually run and the convergence flag; the fixed-round
    * `q_label_prop` stays the DuckDB-gated twin (its oracle is the
    * unrolled CTE), this key is rows-gated and its spec pins the
    * fixed-point CERTIFICATE — one more round from the converged
    * state labels nothing — plus agreement with the twin's
    * trajectory on every round it shares.
    */
  def labelPropConverged(spark: SparkSession, sfDir: String,
      maxIters: Int = 30): DataFrame = {
    val e = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    val nodes0 = e.select(col("doc_a").as("doc_id"))
      .unionByName(e.select(col("doc_b").as("doc_id"))).distinct()
    val seeds = nodes0.filter(col("doc_id") % 4 === 0)
      .join(docs, "doc_id")
      .select(col("doc_id"), col("lang").as("label"))
    labelPropConvergedOver(e, seeds, maxIters)
  }

  private[graft] def labelPropConvergedOver(e: DataFrame,
      seeds: DataFrame, maxIters: Int): DataFrame = {
    val sym = lpSym(e)
    val nodes = sym.select(col("doc_a").as("doc_id")).distinct()
      .localCheckpoint()
    val sized = graphSized(nodes.count()) _
    var labeled = seeds
      .select(col("doc_id"), col("label"), lit(0L).as("rnd"))
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (rounds < maxIters && !converged) {
      val picked = lpRound(sym, labeled, (rounds + 1).toLong, sized)
        .localCheckpoint()
      rounds += 1
      // ONE bounded 1-row driver read per round: the newly-labeled
      // count — zero means the monotone spread reached its fixed point
      if (picked.count() == 0L) converged = true
      else labeled = labeled.unionByName(picked).localCheckpoint()
    }
    lpFinish(nodes, labeled, sized)
      .select(col("doc_id"), col("label"), col("rnd"),
        lit(rounds.toLong).as("n_rounds"), lit(converged).as("converged"))
  }

  // ---- Exact-substring (suffix-style) dedup --------------------------

  /** Exact duplicated-SUBSTRING span detection — the character-level
    * complement of [[spanDedup]]'s word-window repetition check: find,
    * per document, the maximal character spans every k-gram of which
    * occurs at least twice in the corpus (across documents or within
    * one). This is the distributed formulation of suffix-array
    * training-data dedup: a length-L duplicated substring (L ≥ k)
    * appears as L−k+1 consecutive duplicated k-gram start positions,
    * so merging consecutive duplicated positions recovers the maximal
    * duplicated span and its exact character extent.
    *
    * Plan shape at 100 TB: one explode pass emits (doc, pos, hash)
    * with the k-gram reduced to an 8-byte `xxhash64` BEFORE the
    * shuffle (the raw 32-char shingle never leaves its scan task); the
    * occurrence count is `groupBy(h).count()` — map-side partial
    * aggregation collapses a hot shingle to one row per scan task, and
    * the join back on `h` is AQE-skew-splittable (a window over the
    * hash would ship EVERY (doc, pos) row of a corpus-wide boilerplate
    * shingle — licence headers, navigation chrome, exactly what this
    * operator hunts — to a single reducer); one shuffle back on doc_id
    * for the consecutive-run merge; tiny per-doc aggregate out. No suffix
    * array, no pairwise join — corpus-scale cost is linear in total
    * characters. Hash collisions (≈ n²/2⁶⁵ for n shingles) can only
    * over-mark a position as duplicated; at the gated SFs the
    * probability is < 10⁻⁶ and the DuckDB oracle (raw substrings)
    * confirms zero collisions in practice.
    */
  def substringDedup(spark: SparkSession, sfDir: String, k: Int = 32): DataFrame = {
    val (pos, counts) = substrStore(spark, sfDir, k)
    substringDedupFromPos(Tables.documents(spark, sfDir), pos, counts, k)
  }

  /** Same operator over any (doc_id, text) frame — planted shared-
    * sentence specs pin the exact span arithmetic. The spec path
    * keeps its own per-call DISK_ONLY pos frame and derives its
    * counts inline.
    */
  def substringDedupOver(documents: DataFrame, k: Int): DataFrame = {
    val pos = scratchPos(documents, k)
    substringDedupFromPos(documents, pos, posCountsOver(pos), k)
  }

  /** The shared exact-substring store — the (doc_id, position,
    * xxhash64(k-gram)) frame AND its per-hash occurrence counts
    * (`dedup_substring` and `dedup_substring_span` run the IDENTICAL
    * hash pass and the IDENTICAL groupBy(h) count; they differ only
    * in the filter on the counts and what they join back). Built
    * once per (session, corpus, k) into an [[Artifacts]] TempDir
    * parquet store (a production suffix-style dedup persists this hash
    * pass once and every analysis reloads it): the store survives
    * cache clearing, keeps the ~20x-corpus-bytes frame off the
    * execution-memory budget, and re-reads cost a plain columnar scan.
    * The counts table is derived FROM the written pos store, so the
    * explode+hash pass runs exactly once per session.
    */
  private def substrStore(spark: SparkSession, sfDir: String,
      k: Int): (DataFrame, DataFrame) = {
    val dir = Artifacts.dir(spark, sfDir, "substr_pos", k) { d =>
      posOver(Tables.documents(spark, sfDir), k)
        .write.mode("overwrite").parquet(s"$d/pos")
      posCountsOver(Tables.parquet(spark, s"$d/pos"))
        .write.mode("overwrite").parquet(s"$d/counts")
    }
    (Tables.parquet(spark, s"$dir/pos"),
      Tables.parquet(spark, s"$dir/counts"))
  }

  /** Positions are per-(doc, i) unique, so count-by-hash = total
    * corpus occurrences of the k-gram (within-doc repeats included);
    * partial aggregation keeps hot hashes from funneling raw rows.
    */
  private def posCountsOver(pos: DataFrame): DataFrame =
    pos.groupBy("h").agg(count(lit(1)).as("c"))

  /** The per-call pos frame for the `*Over` spec paths: DISK_ONLY
    * persist, NOT localCheckpoint — the frame is one row per corpus
    * CHARACTER, so it must neither compete with execution memory nor
    * cut lineage (a lost executor under localCheckpoint aborts the
    * job; under persist the lost blocks just recompute from the
    * scan). Scratch-deferred: reclaimed right after the caller's
    * action instead of waiting on the ContextCleaner.
    */
  private def scratchPos(documents: DataFrame, k: Int): DataFrame = {
    val pos = posOver(documents, k)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    Scratch.defer(pos)
    pos
  }

  /** One explode pass emits (doc, pos, hash) with the k-gram reduced
    * to an 8-byte `xxhash64` BEFORE any shuffle — the raw 32-char
    * shingle never leaves its scan task.
    */
  private def posOver(documents: DataFrame, k: Int): DataFrame = {
    val spark = documents.sparkSession
    documents
      .repartition(spark.sparkContext.defaultParallelism)
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - lit(k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        xxhash64(col("text").substr(col("i"), lit(k))).as("h"))
  }

  private def substringDedupFromPos(documents: DataFrame, pos: DataFrame,
      counts: DataFrame, k: Int): DataFrame = {
    val dupHashes = counts
      .filter(col("c") >= 2)
      .select("h")
    val dup = pos.join(dupHashes, "h")
      .select(col("doc_id"), col("i"))
    // consecutive duplicated start positions share (i − row_number):
    // the gaps-and-islands fold that turns k-gram hits into maximal
    // character spans [min i, max i + k − 1]
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = dup
      .withColumn("grp", col("i") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(k - 1)).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_chars"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"))
  }

  /** MAXIMAL cross-document duplicated-span DELIMITATION
    * (`dedup_substring_span`) — the variable-length completion of
    * [[substringDedup]]: that key detects which characters sit inside
    * SOME duplicated k-gram; this one reports, per document PAIR, the
    * exact maximal shared spans as (doc_a, doc_b, start_a, start_b,
    * len) — the published exact-substring training-data dedup output
    * (suffix-array dedup reports maximal repeated spans; a fixed-k
    * detector alone only flags them). The suffix-array-free
    * distributed formulation: a shared span of length L ≥ k between
    * two documents appears as L−k+1 k-gram matches on ONE alignment
    * diagonal (ia − ib constant), at CONSECUTIVE ia — so grouping
    * matches by (pair, diagonal) and merging consecutive runs
    * (gaps-and-islands) recovers the maximal span and its exact
    * extent in both documents.
    *
    * Plan shape at 100 TB: the SAME single hash pass as
    * [[substringDedup]] — one explode emits (doc, pos, xxhash64(gram))
    * with the raw gram never leaving its scan task; a
    * document-frequency-style OCCURRENCE CAP (2 ≤ corpus occurrences
    * ≤ maxOcc, partial-aggregated) bounds the anchor self-join's
    * fan-out to maxOcc² per gram — corpus-wide boilerplate grams
    * (licence headers) are dropped rather than exploded, the
    * `pairStats` hot-shingle discipline. The run merge shuffles once
    * on (pair, diagonal) — fine-grained keys, no skew pile-up. The
    * gate joins on the 8-byte hash while the DuckDB oracle joins raw
    * substrings: a collision can only conjure a span, and the oracle
    * confirms zero at the gated SFs (the [[substringDedup]]
    * collision argument, ≈ n²/2⁶⁵).
    */
  def substringSpans(spark: SparkSession, sfDir: String, k: Int = 32,
      maxOcc: Int = 32, minLen: Int = 48): DataFrame = {
    val (pos, counts) = substrStore(spark, sfDir, k)
    substringSpansFromPos(pos, counts, k, maxOcc, minLen)
  }

  /** Same operator over any (doc_id, text) frame — planted
    * shared-sentence specs pin the exact (start_a, start_b, len)
    * arithmetic and the maximality of the merged runs. The spec path
    * keeps its own per-call DISK_ONLY pos frame and derives its
    * counts inline.
    */
  private[graft] def substringSpansOver(documents: DataFrame, k: Int,
      maxOcc: Int, minLen: Int): DataFrame = {
    val pos = scratchPos(documents, k)
    substringSpansFromPos(pos, posCountsOver(pos), k, maxOcc, minLen)
  }

  private def substringSpansFromPos(pos: DataFrame, counts: DataFrame,
      k: Int, maxOcc: Int, minLen: Int): DataFrame = {
    val keep = counts
      .filter(col("c") >= 2 && col("c") <= maxOcc)
      .select("h")
    val anchored = pos.join(keep, "h")
    val pairs = anchored
      .select(col("h"), col("doc_id").as("doc_a"), col("i").as("ia"))
      .join(anchored.select(col("h"), col("doc_id").as("doc_b"),
        col("i").as("ib")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ia"), col("ib"),
        (col("ia") - col("ib")).as("diag"))
    // consecutive ia on one (pair, diagonal) share (ia − row_number):
    // each island is one maximal shared span
    val byDiag = Window.partitionBy(col("doc_a"), col("doc_b"),
      col("diag")).orderBy(col("ia"))
    pairs
      .withColumn("grp", col("ia") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min(col("ia")).as("sa"), max(col("ia")).as("ea"))
      .filter(col("ea") - col("sa") + lit(k) >= minLen)
      .select(col("doc_a"), col("doc_b"),
        col("sa").cast("long").as("start_a"),
        (col("sa") - col("diag")).cast("long").as("start_b"),
        (col("ea") - col("sa") + lit(k)).cast("long").as("len"))
  }

  // ── md5-MinHash signature family ────────────────────────────────
  // ONE recipe for every MinHash consumer: the streaming near-dup
  // path (EventStreams.nearDupStream) and fuzzy decontamination
  // (Pipeline.decontaminateFuzzy) use the 16-perm signature below;
  // the batch LSH path (`minhashSignature`) uses the same family at
  // the full 128-perm width. md5 is deliberately the base hash: it is
  // the one hash both engines compute identically, which is what
  // makes all these LSH paths fully DuckDB-oracle-gated.

  val NearDupPerms = 16
  val NearDupBandRows = 4

  /** Permutation i's Carter–Wegman coefficients (a, b, c) — one
    * formula for the whole family, so the 16-permutation streaming
    * signature is literally the prefix of the 128-permutation batch
    * one. The permutation is
    * mh_i = (a_i·(h div 2²⁴) + b_i·(h mod 2²⁴) + c_i) mod (2³¹−1)
    * over the 48-bit md5-prefix shingle hash h: ONE md5 per shingle
    * (md5 is ~the whole projection cost — 16×md5 measured 4.7 s at
    * sf0.1 vs <1 s for md5-once + arithmetic perms), and every term
    * stays < 2⁵⁶ so the identical expression runs overflow-free in
    * DuckDB BIGINT (which errors on wrap — the reason a 64-bit
    * multiplicative mix can't be the oracle-side hash). Splitting h
    * keeps products small AND makes the sum wrap the 2³¹−1 modulus,
    * so the argmins are genuinely independent (a non-wrapping affine
    * map would rank every permutation identically).
    */
  def permCoef(i: Int): (Long, Long, Long) =
    (1000003L * (i + 1) % 2147483647L,
      998244353L * (i + 7) % 2147483647L,
      777767777L * (i + 13) % 2147483647L)

  val PermCoef: IndexedSeq[(Long, Long, Long)] =
    (0 until NearDupPerms).map(permCoef)

  /** The 16-permutation MinHash signature as a pure PROJECTION:
    * 3-word shingles built array-side, ONE md5 per shingle, the 16
    * permutation minima `array_min`s of Carter–Wegman affine maps of
    * that hash (no explode, no shuffle — signing 100 TB is one map).
    * Docs with fewer than 3 words carry no signature and are dropped.
    * Works identically on batch and streaming frames.
    */
  def minhashSigs(docs: DataFrame): DataFrame = {
    val w = filter(split(col("text"),
      TextMapReduce.WordSplit), x => x =!= "")
    docs
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .withColumn("sh", expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', " +
          "element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))"))
      .select(col("doc_id"),
        graft.functions.CatalystExprs.minhash_sig_cw(
          md5PrefixHashes(col("sh")),
          PermCoef.map(_._1).toArray, PermCoef.map(_._2).toArray,
          PermCoef.map(_._3).toArray, 2147483647L).as("sig"))
  }

  /** LSH band keys from a signature frame: 4 bands of 4 rows
    * concatenated into a string key — the join/state key both the
    * streaming near-dup state store and the decontamination candidate
    * join shuffle on.
    */
  def bandsFromSigs(sigs: DataFrame): DataFrame = {
    val nBands = NearDupPerms / NearDupBandRows
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until NearDupBandRows)
          .map(r => element_at(col("sig"), b * NearDupBandRows + r + 1)): _*)
          .as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
  }

  /** MinHash LSH band signatures straight from documents. */
  def minhashBands(docs: DataFrame): DataFrame =
    bandsFromSigs(minhashSigs(docs))

  /** CONTENT-DEFINED CHUNKING — the rolling-boundary rule behind
    * rsync/LBFS/restic-style dedup storage, where chunk boundaries
    * follow CONTENT, not offsets (an insertion early in a document
    * shifts every fixed-size block but leaves later content-defined
    * chunks identical — the property that makes chunk stores dedup
    * across edits): a cut lands after position i when the hash of
    * the trailing 8-char window satisfies h ≡ 0 (mod 64), giving
    * ~64-char expected chunks; the window hash is the usual 24-bit
    * md5 prefix, so DuckDB replays every boundary. Emits one row per
    * chunk with its offset, length, and content hash — the rows a
    * chunk store ingests (cross-doc sharing is then a plain
    * chunk-hash groupBy, the [[graft.operators.Multimodal.frameDup]]
    * shape).
    *
    * Scale shape: boundary detection and chunk slicing are pure
    * per-document array projections (HOF filter/transform over ≤len
    * positions — per-doc bounded, no shuffle); the only shuffle is
    * whatever aggregation the consumer runs on the chunk rows.
    */
  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunksOver(graft.Tables.documents(spark, sfDir))

  /** CHUNK-STORE savings report — the number a [[cdcChunks]] store
    * exists to produce: if every distinct chunk is stored once and
    * duplicates become references (the restic/borg model), how many
    * bytes does this corpus actually occupy? One partial-aggregated
    * pass over the chunk rows to (hash → count, length), then a
    * constant-size rollup: total vs unique chunks and bytes, and the
    * dedup ratio as one exact-integer division. The per-hash length
    * is well-defined because equal md5 ⇒ equal content ⇒ equal
    * length (min() is just the aggregate-legal way to say "the").
    */
  def chunkStoreStats(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunks(spark, sfDir)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("refs"), min(col("chunk_len")).as("len"))
      .agg(sum(col("refs")).as("n_chunks"),
        count(lit(1)).as("n_unique"),
        sum(col("refs") * col("len")).as("bytes_logical"),
        sum(col("len")).as("bytes_stored"))
      .select(col("n_chunks"), col("n_unique"), col("bytes_logical"),
        col("bytes_stored"),
        round(col("bytes_logical").cast("double")
          / col("bytes_stored"), 6).as("dedup_ratio"))

  /** Same chunker over any (doc_id, text) frame (edit-shift specs).
    * The boundary scan runs in the codegen'd [[CatalystExprs.cdc_cuts]]
    * kernel — bit-identical to (and replacing) the interpreted
    * `filter(sequence(8, greatest(n, 8)), i -> i < n AND
    * conv(substring(md5(substring(text, i-7, 8)), 1, 6), 16, 10) % 64
    * = 0)` HOF form the DuckDB oracle still replays (CatalystExprsSpec
    * pins the equality per position).
    */
  private[graft] def cdcChunksOver(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") >= 1)
      .withColumn("cuts",
        graft.functions.CatalystExprs.cdc_cuts(col("text")))
      .withColumn("b", expr(
        "concat(array(0), cuts, array(n))"))
      .select(col("doc_id"), col("text"), explode(expr(
        """transform(sequence(1, size(b) - 1),
          |  j -> struct(
          |    j AS chunk_idx,
          |    element_at(b, j) + 1 AS start,
          |    element_at(b, j + 1) - element_at(b, j) AS chunk_len))"""
          .stripMargin)).as("c"))
      .select(col("doc_id"),
        col("c.chunk_idx").cast("long").as("chunk_idx"),
        col("c.start").cast("long").as("start"),
        col("c.chunk_len").cast("long").as("chunk_len"),
        md5(expr("substring(text, c.start, c.chunk_len)")).as("chunk_hash"))

  /** GLOBAL CLUSTERING COEFFICIENT of the near-dup graph
    * (`q_clustering_coeff`) — the one-number transitivity summary
    * (Watts–Strogatz): C = 3·triangles / wedges, the probability that
    * two neighbors of a node are themselves connected. Read next to
    * `q_triangles` (per-node memberships) it separates a dup corpus
    * of tight mutual CLIQUES (C → 1: safe to collapse clusters) from
    * CHAINS of borderline pairs (C → 0: collapsing over-merges).
    *
    * Triangles use [[triangles]]' degree-ordered orientation (hub
    * wedge fan-out bounded O(√m) per node); wedges are one integer
    * fold Σ d(d−1)/2 over the degree frame; both ride ONE
    * localCheckpointed edge set. The single division is the only IEEE
    * step. Output: edges, wedges, triangles, C.
    */
  def clusteringCoeff(spark: SparkSession, sfDir: String): DataFrame =
    clusteringCoeffOver(
      ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint())

  /** Same operator over any canonical (doc_a < doc_b) edge frame — a
    * planted clique-plus-pendant pins T, wedges and C by hand.
    */
  private[graft] def clusteringCoeffOver(e: DataFrame): DataFrame = {
    val deg = e.select(col("doc_a").as("id"))
      .unionByName(e.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // consumed by the orientation AND the wedges
    val withRanks = e
      .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
    val ra = struct(col("da").as("d"), col("doc_a").as("id"))
    val rb = struct(col("db").as("d"), col("doc_b").as("id"))
    val d = withRanks.select(
      when(ra < rb, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(ra < rb, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(ra < rb, rb).otherwise(ra).as("dst_rank"))
    val tri = d.as("e1").join(d.as("e2"),
        col("e1.src") === col("e2.src")
          && col("e1.dst_rank") < col("e2.dst_rank"))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(d.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"),
        "left_semi")
      .agg(count(lit(1)).as("t"))
    // one integer fold end-to-end: sum(deg*(deg-1)) is even by
    // construction, and `div` keeps the halving in BIGINT (Column `/`
    // is IEEE double division — loses exactness past 2^53)
    val wedges = deg.agg(
      expr("sum(deg * (deg - 1)) div 2").as("wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    ne.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select(col("n_edges"), col("wedges").as("n_wedges"),
        col("t").as("n_triangles"),
        when(col("wedges") > 0,
          round(lit(3.0) * col("t").cast("double") /
            col("wedges").cast("double"), 6)).as("global_cc"))
  }

  /** LSH S-CURVE (`q_lsh_scurve`) — the banding TUNING TABLE every
    * LSH deployment consults before picking (bands, rows): the
    * probability a pair at Jaccard similarity s becomes a candidate
    * under b bands of r rows is P(s) = 1 − (1 − s^r)^b, evaluated
    * here for the repo's own 32×4 banding over a fixed s grid. Both
    * powers are EXPONENTIATION BY SQUARING spelled out as plain
    * multiplications (s⁴ = (s²)²; x³² = five squarings) — identical
    * IEEE sequences in both engines, no libm pow anywhere; the grid
    * is a 19-row literal explode. Read next to the MEASURED recall
    * specs in DedupSpec: the curve is the theory the measurements
    * validate.
    */
  /** The LSH planner's literal probability grid: for every (bands,
    * rows) factorization of the 128-perm signature and every 0.05
    * jaccard bucket (midpoint s), the banding collision probability
    * p = 1 − (1 − s^r)^b and its complement — computed ONCE here in
    * Scala and interpolated into BOTH engines (the SPRT/NDCG
    * literal-table discipline: zero runtime pow anywhere).
    * `is_fp` marks buckets below the target threshold τ = 0.7.
    */
  val LshPlannerTau = 0.7
  val LshPlannerConfigs: Seq[(Int, Int)] =
    Seq(1, 2, 4, 8, 16, 32, 64, 128).map(r => (128 / r, r))
  val LshPlannerTable: Seq[(Int, Int, Int, Boolean, Double, Double)] =
    for {
      (b, r) <- LshPlannerConfigs
      bucket <- 0 until 20
    } yield {
      val s = (bucket + 0.5) / 20.0
      val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      (b, r, bucket, s < LshPlannerTau, p, 1.0 - p)
    }

  /** LSH BANDING PLANNER (`q_lsh_param_planner`) — choose (bands,
    * rows) for the 128-perm MinHash family against THIS corpus's
    * measured similarity distribution, not the textbook curve alone:
    * the df-capped `pairStats` pass yields the candidate-pair jaccard
    * HISTOGRAM (0.05 buckets, exact integer bucketing (20·|∩|) div
    * |∪|); each config's expected false-candidate count (verify cost)
    * and expected missed-pair count (recall cost) are the histogram
    * weighted by the literal probability grid, per-bucket terms
    * rounded 6 and DECIMAL-summed; cost = fp + 10·fn in exact
    * decimal; the chosen row is the (cost, bands) struct-min.
    * `q_lsh_scurve` plots one config's curve; this PICKS the config —
    * the knob `bandingFor` hard-codes, justified by data.
    */
  def lshParamPlanner(spark: SparkSession, sfDir: String,
      maxDf: Long = DefaultMaxDf, fnWeight: Int = 10): DataFrame = {
    import spark.implicits._
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val hist = corpusPairStats(spark, sfDir, maxDf)
      .select(least(expr("(n_common * 20) div (n_a + n_b - n_common)"),
        lit(19L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val probs = LshPlannerTable
      .toDF("bands", "rows_per_band", "bucket", "is_fp", "p", "q")
    val agg = probs.join(hist, "bucket")
      .select(col("bands"), col("rows_per_band"),
        when(col("is_fp"),
          round(col("n_pairs").cast("double") * col("p"), 6))
          .otherwise(lit(0d)).cast(d186).as("fp_t"),
        when(!col("is_fp"),
          round(col("n_pairs").cast("double") * col("q"), 6))
          .otherwise(lit(0d)).cast(d186).as("fn_t"))
      .groupBy("bands", "rows_per_band")
      .agg(sum(col("fp_t")).as("fp"), sum(col("fn_t")).as("fn"))
      .withColumn("cost", col("fp") + lit(fnWeight) * col("fn"))
    val best = agg.agg(min(struct(col("cost"), col("bands"))).as("m"))
    agg.crossJoin(broadcast(best))
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        col("fp").cast("double").as("fp_pairs"),
        col("fn").cast("double").as("fn_pairs"),
        col("cost").cast("double").as("cost"),
        (col("cost") === col("m.cost") &&
          col("bands") === col("m.bands")).as("chosen"))
  }

  def lshScurve(spark: SparkSession, sfDir: String,
      bands: Int = 32, rows: Int = 4): DataFrame = {
    require(bands == 32 && rows == 4,
      "the spelled-out squaring chain below is the 32x4 banding")
    val grid = spark.range(1, 20)
      .select((col("id").cast("double") / 20.0).as("s"))
    val s2 = col("s") * col("s")
    val s4 = s2 * s2
    val u = lit(1.0) - s4 // (1 - s^r)
    val u2 = u * u
    val u4 = u2 * u2
    val u8 = u4 * u4
    val u16 = u8 * u8
    val u32 = u16 * u16
    grid.select(round(col("s"), 2).as("s"),
      round(lit(1.0) - u32, 6).as("p_candidate"))
  }

  /** CAPTURE–RECAPTURE DEDUP COVERAGE (`q_capture_recapture`) —
    * Lincoln–Petersen/Chapman over TWO independent near-dup
    * detectors: the n-gram Jaccard pairs and the SimHash pairs each
    * "capture" a sample of the true duplicate-pair population; the
    * overlap estimates how many pairs BOTH methods miss — the
    * wildlife-census trick applied to the question every dedup
    * deployment asks ("how much duplication is left after my
    * detector ran?") that neither method can answer about itself.
    * Chapman's bias-corrected estimate N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * plus each method's implied recall m/n_other — three bounded
    * 1-row aggregates over the two already-gated pair pipelines, one
    * IEEE dag each, rounded 6.
    */
  def captureRecapture(spark: SparkSession, sfDir: String): DataFrame = {
    val j = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val s = simhash(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val n1 = j.agg(count(lit(1)).as("n_jaccard"))
    val n2 = s.agg(count(lit(1)).as("n_simhash"))
    val m = j.join(s, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
      .select(col("n_jaccard"), col("n_simhash"), col("n_both"),
        round((col("n_jaccard") + 1).cast("double") *
          (col("n_simhash") + 1).cast("double") /
          (col("n_both") + 1).cast("double") - 1.0, 6).as("chapman_est"),
        when(col("n_simhash") > 0,
          round(col("n_both").cast("double") /
            col("n_simhash").cast("double"), 6)).as("recall_jaccard"),
        when(col("n_jaccard") > 0,
          round(col("n_both").cast("double") /
            col("n_jaccard").cast("double"), 6)).as("recall_simhash"))
  }

  /** DEGREE ASSORTATIVITY of the near-dup graph (`q_assortativity`) —
    * Newman's r: the Pearson correlation of endpoint degrees over the
    * SYMMETRIC directed edge list ("do heavy dup hubs link to other
    * hubs or to leaves?"); assortative dup graphs (r > 0) mean hub
    * templates cluster together — one canonical pick collapses them —
    * while disassortative ones (r < 0) are hub-and-spoke template
    * pollution. The symmetric listing makes x and y identically
    * distributed (Sx = Sy, Σx² = Σy²), so r = (mΣxy − Sx²)/(mΣx² −
    * Sx²) — three BIGINT moments from ONE shuffle over the
    * degree-joined edges, one IEEE dag, zero-variance null-guarded.
    */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame =
    assortativityOver(
      ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint())

  /** Same operator over any canonical edge frame — a planted star
    * pins the textbook r = −1.
    */
  private[graft] def assortativityOver(e: DataFrame): DataFrame = {
    val sym = e.unionByName(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val deg = sym.groupBy(col("doc_a").as("id"))
      .agg(count(lit(1)).as("deg"))
    val m = sym
      .join(deg.select(col("id").as("doc_a"), col("deg").as("dx")), "doc_a")
      .join(deg.select(col("id").as("doc_b"), col("deg").as("dy")), "doc_b")
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
    val num = col("m").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val den = col("m").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    m.select(col("m").as("n_edges_directed"),
      when(den > 0, round(num / den, 6)).as("r"))
  }
}
