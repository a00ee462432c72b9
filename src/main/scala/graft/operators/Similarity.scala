package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CatalystExprs.{dot_product, srp_bucket, srp_probes}

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY §2.D).
  *
  * `annTopkBrute` is the exact baseline: broadcast the (small) query
  * set against the corpus — the corpus side streams, so it scales to
  * any corpus size as long as the query batch is broadcastable.
  * `annLsh` is the 100 TB path: sign-random-projection buckets keyed
  * by a 16-bit code; the self-join shuffles on bucket codes instead of
  * comparing n² pairs.
  *
  * Dot products run in a custom Catalyst expression (one tight loop,
  * left-to-right double summation — bit-identical to DuckDB's
  * sequential list arithmetic, keeping the brute variant
  * oracle-gated). Norms are computed once per vector, not once per
  * pair.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot_product(a, b) / sqrt(dot_product(a, a)) / sqrt(dot_product(b, b))

  /** (vec_id, v double[], norm) — norm precomputed once per vector. */
  private[graft] def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      // native array cast (codegen'd), NOT transform(_.cast): a
      // higher-order function never enters whole-stage codegen, and
      // this cast runs once per corpus vector
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
      // cast + norm computed once; bucket generation and the verify
      // join both read the persisted copy instead of re-scanning.
      // INTENTIONALLY long-lived (not Scratch-deferred): the cache
      // manager dedupes this plan per (session, sfDir), so the whole
      // ANN family shares ONE corpus projection per serving session —
      // the in-memory index every vector store keeps resident. The
      // per-call scratch built ON it (ranked/pool frames) goes
      // through the Scratch lifecycle instead.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The (query_id, qv, qnorm) projection of the first `nQueries`
    * corpus vectors — the ONE standard query batch every ANN variant
    * (and the persisted-index round trip, AnnIndex.scala) ranks
    * against; a single definition keeps the bit-for-bit equality
    * contracts between them drift-proof.
    */
  private[operators] def queryBatch(all: DataFrame, nQueries: Int): DataFrame =
    all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))

  /** Every vector's rank against a broadcast (cid, cv, cnorm)
    * centroid frame, ordered (csim desc, cid) — the oracle-stable
    * assignment ordering shared by `annIvf` and the persisted index
    * build (crank = 1 is the cell assignment; crank ≤ nProbe the
    * probe set).
    */
  private[operators] def centroidRanks(all: DataFrame,
      cent: DataFrame): DataFrame = {
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    all.join(broadcast(cent))
      .withColumn("csim",
        dot_product(col("v"), col("cv")) / col("norm") / col("cnorm"))
      .select(col("vec_id"), col("cid"), row_number().over(byVec).as("crank"))
  }

  /** Exact top-k neighbors for the first nQueries vectors.
    * Output (query_id, neighbor_id, rnk); the similarity value itself
    * stays internal so ordering (not float formatting) is what the
    * oracle checks. Self-matches excluded.
    */
  def annTopkBrute(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val all = vecs(spark, sfDir)
    val q = queryBatch(all, nQueries)
    val joined = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    joined
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** SIMPLIFIED SILHOUETTE (`q_silhouette`) — clustering-quality
    * score per IVF cell, the evaluation the clustering family
    * (IVF/SemDeDup/k-means) ships without: for every vector,
    * a = cosine distance to its OWN centroid and b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [0,1] here (own
    * centroid is the argmax by construction, so b ≥ a) — the
    * centroid-based simplification that runs in O(n·cells) where full
    * silhouette's O(n²) cannot exist at corpus scale. One broadcast
    * cross join ranks the 16-centroid codebook per vector; own/next
    * similarities pivot from ranks 1–2; per-row s rounds 6 into
    * DECIMAL and the per-cell mean divides once (cross-row double
    * sums are partition lore — the ANOVA discipline).
    */
  def silhouette(spark: SparkSession, sfDir: String,
      cells: Int = IvfCells): DataFrame = {
    val all = vecs(spark, sfDir)
    val cent = ivfCentroids(all, cells)
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val ranked = all.join(broadcast(cent))
      .withColumn("csim",
        dot_product(col("v"), col("cv")) / col("norm") / col("cnorm"))
      .select(col("vec_id"), col("cid"), col("csim"),
        row_number().over(byVec).as("crank"))
      .filter(col("crank") <= 2)
    val pivoted = ranked.groupBy("vec_id")
      .agg(max(when(col("crank") === 1, col("cid"))).as("own_cid"),
        max(when(col("crank") === 1, col("csim"))).as("sim1"),
        max(when(col("crank") === 2, col("csim"))).as("sim2"))
    val a = lit(1.0) - col("sim1")
    val b = lit(1.0) - col("sim2")
    pivoted
      .withColumn("s",
        when(greatest(a, b) > 0,
          round((b - a) / greatest(a, b), 6))
          .otherwise(lit(0.0)).cast(org.apache.spark.sql.types
            .DecimalType(9, 6)))
      .groupBy("own_cid")
      .agg(count(lit(1)).as("n_vectors"), sum(col("s")).as("ssum"))
      .select(col("own_cid").cast("long").as("cid"), col("n_vectors"),
        round(col("ssum").cast("double") /
          col("n_vectors").cast("double"), 6).as("mean_silhouette"))
  }

  /** ADJUSTED RAND INDEX (`q_rand_index`) — external clustering
    * validation: how well do the IVF cells recover the embeddings'
    * GOLD labels? Pair-counting over the cell × label contingency —
    * ΣC(n_ij,2), row/column pair sums, RI and the chance-corrected
    * ARI — every count an exact integer (C(x,2) = x(x−1) div 2 stays
    * integral), products in DECIMAL(38,0) (pair-sum products reach
    * n⁴/8 — BIGINT wraps at corpus scale), TWO final IEEE divisions.
    * The contingency is |cells|×|labels|-bounded after one
    * partial-agg shuffle; nothing else scales with the corpus.
    */
  def randIndex(spark: SparkSession, sfDir: String,
      cells: Int = IvfCells): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType => DT}
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
    val assign = centroidRanks(all.select("vec_id", "v", "norm"),
        ivfCentroids(all.select("vec_id", "v", "norm"), cells))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cid"))
    val cont = all.select(col("vec_id"), col("label"))
      .join(assign, "vec_id")
      .groupBy("cid", "label").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // DOUBLED pair counts x(x−1) — stays integral with no halving
    // (the q_spearman doubled-rank recipe applied to pair counting)
    def p2(x: Column): Column =
      (x.cast(DT(19, 0)) * (x - 1).cast(DT(19, 0))).cast(DT(38, 0))
    val cij = cont.agg(sum(p2(col("c"))).as("sij"), sum(col("c")).as("n"))
    val ai = cont.groupBy("cid").agg(sum(col("c")).as("a"))
      .agg(sum(p2(col("a"))).as("sa"))
    val bj = cont.groupBy("label").agg(sum(col("c")).as("b"))
      .agg(sum(p2(col("b"))).as("sb"))
    val sijD = col("sij").cast("double")
    val saD = col("sa").cast("double")
    val sbD = col("sb").cast("double")
    val n2D = col("n2").cast("double")
    // E2 = 2·Sa·Sb/N2 (4× the expected-pair term in doubled units)
    val e2 = lit(2.0) * (col("sa").cast(DT(19, 0))
      .multiply(col("sb").cast(DT(19, 0))).cast(DT(38, 0))
      .cast("double") / n2D)
    cij.crossJoin(broadcast(ai)).crossJoin(broadcast(bj))
      .withColumn("n2", p2(col("n")))
      .select(col("n").cast("long").as("n"),
        col("sij").cast("long").as("sum_cij2"),
        col("sa").cast("long").as("sum_a2"),
        col("sb").cast("long").as("sum_b2"),
        // RI = (N2 + 2Sij − Sa − Sb)/N2 — doubled units cancel
        round((n2D + lit(2.0) * sijD - saD - sbD) / n2D, 6).as("ri"),
        // ARI = (2Sij − 2SaSb/N2)/(Sa + Sb − 2SaSb/N2)
        when(abs(saD + sbD - e2) > lit(0.0),
          round((lit(2.0) * sijD - e2) / (saD + sbD - e2), 6)).as("ari"))
  }

  /** ANN RECALL REPORT (`ann_recall_report`) — the measured
    * approximate-vs-exact trade as a FIRST-CLASS gated operator
    * (`q_dedup_metrics`' twin for similarity search): per query, how
    * many of the brute-force exact top-k does the IVF index return?
    * The per-key recall floors the ann_* specs pin live in test code;
    * this key makes the same evaluation a query a user can run on
    * THEIR corpus before trusting the index — the documented answer
    * to "why IVF(-PQ) and not a graph index at 100 TB" is a measured
    * number, not an assertion. Both arms are the already-gated
    * operators (one definition each — the report can never drift
    * from what it evaluates); the join is k·nQueries-bounded.
    */
  def annRecallReport(spark: SparkSession, sfDir: String): DataFrame = {
    val ivf = ivfTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val brute = truthTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    brute.join(broadcast(ivf), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_true"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_true").cast("double"),
          6).as("recall"))
  }

  /** HARD-NEGATIVE mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors whose label DIFFERS
    * from the query's — the "looks alike, isn't" pairs a contrastive
    * or reranker objective needs (easy negatives are free; hard ones
    * are a similarity search with a label-mismatch predicate).
    *
    * Scale shape: the query batch broadcasts (small BY DESIGN, like
    * `annTopkBrute`), the corpus streams through one scan, the label
    * filter runs BEFORE any ranking state is built, and the rank is
    * a bounded [[graft.plans.TopKPerKey]] heap — k rows per query per
    * partition into the final merge, never a query-keyed window over
    * corpus-sized input. No shuffle grows with the corpus.
    */
  def hardNegatives(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    // one scan carrying the label along — NOT vecs()-join-labels,
    // which would shuffle the corpus on vec_id just to re-attach a
    // column the source already stores next to the vector
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("label").as("qlabel"))
    val cand = all.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    graft.plans.TopKPerKey(cand, Seq("query_id"),
        Seq(("cos", true), ("neighbor_id", false)), k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  val IvfCells = 16
  val IvfProbes = 4

  /** IVF-style ANN: a coarse quantizer partitions the corpus into
    * cells; queries probe only the nearest few cells and rank
    * exactly within them.
    *
    * The "codebook" here is the first `IvfCells` corpus vectors — a
    * deterministic stand-in for offline-trained k-means centroids
    * (training is a batch job, not a query concern), which keeps the
    * whole operator oracle-checkable. Shape of the plan at 100 TB:
    * the centroid set broadcasts (it is small BY DESIGN), the corpus
    * streams through assignment once (cells become the partition
    * key), and each query touches `IvfProbes/IvfCells` of the data
    * instead of all of it.
    */
  /** The deterministic first-`cells` coarse codebook as a (cid, cv,
    * cnorm) frame — shared with the persisted index build.
    */
  private[operators] def ivfCentroids(all: DataFrame, cells: Int): DataFrame =
    all.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"),
        col("norm").as("cnorm"))

  def annIvf(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val all = vecs(spark, sfDir)
    // one pass over the 16×N centroid similarities (the shared
    // centroidRanks dag — broadcast codebook cross join, ranked per
    // vector); only the slim (vec_id, cid, crank) rows that either
    // branch needs survive and persist, so assignment and probing
    // don't each recompute the cross join
    // per-call scratch: consumed by assignment and probing below,
    // reclaimed after the caller's action (Scratch lifecycle)
    val ranked = Scratch.persistDeferred(
      centroidRanks(all, ivfCentroids(all, IvfCells))
        .filter(col("crank") === 1 ||
          (col("crank") <= IvfProbes && col("vec_id") < nQueries)))
    val assign = ranked.filter(col("crank") === 1).select("vec_id", "cid")
    val probes = ranked.filter(col("crank") <= IvfProbes
        && col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cid"))
    // candidates: corpus vectors living in any probed cell
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val scored = cand
      .join(all, "vec_id")
      .join(broadcast(queryBatch(all, nQueries)), "query_id")
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    // final rank through the bounded TopKPerKey heaps — candidates
    // are cell-bounded so a query-keyed window would not be a
    // scale-killer here, but the uniform shape keeps the whole ANN
    // family free of corpus-fed window sorts
    graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** METADATA-FILTERED IVF search — the predicated variant every
    * production vector store exposes (FAISS `IDSelector`, Milvus /
    * pgvector metadata filters): top-k among corpus vectors whose
    * label DIFFERS from the query's, searched through the same
    * IVF cell probing as [[annIvf]]. The predicate applies to the
    * CANDIDATE STREAM — between cell probing and ranking — not to
    * the top-k output: post-filtering a k-list throws away recall
    * (a filtered-out rank-1 neighbor leaves an empty slot), while
    * pre-filtering ranks only eligible vectors, so every query still
    * gets k results whenever its probed cells hold k eligible
    * vectors. Same bounded-heap rank tail, same one-pass shared
    * centroid-rank dag; the filter is one broadcast-joined predicate
    * in the candidate projection.
    */
  def annIvfFiltered(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val all = vecs(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"))
    // per-call scratch: consumed by assignment and probing below,
    // reclaimed after the caller's action (Scratch lifecycle)
    val ranked = Scratch.persistDeferred(
      centroidRanks(all, ivfCentroids(all, IvfCells))
        .filter(col("crank") === 1 ||
          (col("crank") <= IvfProbes && col("vec_id") < nQueries)))
    val assign = ranked.filter(col("crank") === 1).select("vec_id", "cid")
    val probes = ranked.filter(col("crank") <= IvfProbes
        && col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cid"))
    val qLabels = labels.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    // predicate BEFORE rank state: candidates joined to labels, the
    // cross-label filter applied in the same projection
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(labels, "vec_id")
      .join(broadcast(qLabels), "query_id")
      .filter(col("label") =!= col("qlabel"))
      .select("query_id", "vec_id")
    val scored = cand
      .join(all, "vec_id")
      .join(broadcast(queryBatch(all, nQueries)), "query_id")
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** MAUVE-STYLE DIVERGENCE FRONTIER (`q_embed_mauve`, Pillutla et
    * al. 2021) — the modern open-ended-generation eval, re-expressed
    * at corpus scale: quantize both distributions into the SHARED
    * IVF cell space (the paper's k-means quantization; here the
    * already-gated coarse codebook), then trace the divergence
    * frontier KL(P‖R_λ), KL(Q‖R_λ) against mixtures R_λ = λP +
    * (1−λ)Q over a λ grid. P = even vec_ids, Q = odd (the
    * deterministic corpus split standing in for model-vs-human text;
    * the operator takes any two sides that share the cell space).
    * Mode collapse shows as KL(Q‖R) exploding at low λ; distribution
    * drift as both arms lifting.
    *
    * Scale shape: ONE corpus assignment pass (shared centroidRanks
    * dag) into a cells×2 histogram — everything after is a 16-row
    * frame per λ. Determinism: exact integer cell counts, per-cell
    * p·ln(p/r) terms rounded 6 and DECIMAL-summed (the ANOVA
    * cross-cell discipline), λ and 1−λ as double literals mirrored
    * into the oracle; a p=0 cell contributes exactly 0 and r ≥ λp
    * keeps every evaluated log argument finite.
    */
  def embedMauve(spark: SparkSession, sfDir: String,
      lambdas: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val all = vecs(spark, sfDir)
    val sides = centroidRanks(all, ivfCentroids(all, IvfCells))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cid"))
      .groupBy("cid")
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("pc"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("qc"))
      .localCheckpoint()
    val tot = sides.agg(sum(col("pc")).as("tp"), sum(col("qc")).as("tq"))
    lambdas.map { lam =>
      val p = col("pc").cast("double") / col("tp").cast("double")
      val q = col("qc").cast("double") / col("tq").cast("double")
      val r = lit(lam) * p + lit(1.0 - lam) * q
      sides.crossJoin(broadcast(tot))
        .select(
          when(col("pc") > 0, round(p * log(p / r), 6))
            .otherwise(lit(0d)).cast(d186).as("tp_"),
          when(col("qc") > 0, round(q * log(q / r), 6))
            .otherwise(lit(0d)).cast(d186).as("tq_"))
        .agg(sum(col("tp_")).as("sp"), sum(col("tq_")).as("sq"))
        .select(lit(lam).as("mix_lambda"),
          col("sp").cast("double").as("kl_p_mix"),
          col("sq").cast("double").as("kl_q_mix"))
    }.reduce(_ unionAll _)
  }

  /** EMBEDDING OUTLIERS (`q_embed_outliers`) — per IVF cell, the k
    * vectors FARTHEST from their own centroid (lowest cosine): the
    * curation pass that surfaces corrupt/off-manifold embeddings
    * before they poison near-dup thresholds and retrieval evals
    * (SemDeDup-style pipelines drop exactly these). One assignment
    * pass (the shared centroidRanks dag), one broadcast-codebook
    * cosine projection, and a bounded [[graft.plans.TopKPerKey]]
    * heap ASCENDING on cosine — k rows per cell per partition into
    * the merge, never a cell-keyed window. The cosine is the
    * dot_product left fold over the explicit /norm/cnorm divisions,
    * bit-identical to the oracle's list_dot_product spelling.
    */
  def embedOutliers(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val all = vecs(spark, sfDir)
    val cent = ivfCentroids(all, IvfCells)
    val own = centroidRanks(all, cent).filter(col("crank") === 1)
      .select(col("vec_id"), col("cid"))
    val scored = own.join(all, "vec_id")
      .join(broadcast(cent), "cid")
      .withColumn("cos",
        dot_product(col("v"), col("cv")) / col("norm") / col("cnorm"))
    graft.plans.TopKPerKey(
        scored.select(col("cid"), col("vec_id"), col("cos")),
        Seq("cid"), Seq(("cos", false), ("vec_id", false)), k)
      .select(col("cid").cast("long").as("cid"), col("vec_id"),
        col("cos"), col("rnk"))
  }

  /** Centroid-graph degree for the NSW probe expansion. */
  val NswDegree = 3

  /** GRAPH-REFINED IVF search (`ann_ivf_nsw`) — the navigable-small-
    * world idea applied at the layer where it stays 100 TB-shaped:
    * over the CENTROIDS, not the corpus. `ann_recall_report` measured
    * plain IVF at mean recall@10 ≈ 0.90 with a weak tail (0.3–0.7 on
    * 4 of 20 queries at sf0.1) — those are queries whose true
    * neighbors live in cells the query's own top-`IvfProbes` ranking
    * misses. The NSW fix: build a degree-bounded exact-cosine
    * neighbor graph over the cells²-bounded codebook (the navigable
    * layer), and expand each query's probe set with the graph
    * neighbors of its ENTRY cell (one greedy hop from the entry
    * point, the HNSW layer-descent step). Candidates are a strict
    * SUPERSET of [[annIvf]]'s, so per-query recall can only improve —
    * the comparative spec pins that theorem plus the measured floor.
    *
    * Why not a corpus-level HNSW at 100 TB: the graph there is
    * O(n·degree) mutable state with pointer-chasing traversals that
    * don't partition; the centroid graph is O(√n·degree) rows,
    * broadcastable, rebuilt in one bounded pass after every
    * `ann_maintain` rebuild. Scale shape otherwise identical to
    * [[annIvf]]: broadcast codebook + graph, one corpus assignment
    * pass, cell-pruned candidates, bounded TopKPerKey rank tail.
    */
  def annIvfNsw(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val all = vecs(spark, sfDir)
    val cent = ivfCentroids(all, IvfCells)
    // the navigable layer: per centroid, its NswDegree nearest other
    // centroids by exact cosine — cells × degree rows, broadcastable
    val c2 = cent.select(col("cid").as("nid"), col("cv").as("nv"),
      col("cnorm").as("nnorm"))
    val cpairs = cent.join(broadcast(c2), col("cid") =!= col("nid"))
      .withColumn("gcos",
        dot_product(col("cv"), col("nv")) / col("cnorm") / col("nnorm"))
    val graph = graft.plans.TopKPerKey(
        cpairs.select(col("cid"), col("nid"), col("gcos")),
        Seq("cid"), Seq(("gcos", true), ("nid", false)), NswDegree)
      .select(col("cid"), col("nid"))
    val ranked = Scratch.persistDeferred(
      centroidRanks(all, cent)
        .filter(col("crank") === 1 ||
          (col("crank") <= IvfProbes && col("vec_id") < nQueries)))
    val assign = ranked.filter(col("crank") === 1).select("vec_id", "cid")
    val probes0 = ranked.filter(col("crank") <= IvfProbes
        && col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cid"), col("crank"))
    // one NSW hop: the entry cell's graph neighbors join the probe set
    val hop = probes0.filter(col("crank") === 1)
      .join(broadcast(graph), "cid")
      .select(col("query_id"), col("nid").as("cid"))
    val probes = probes0.select("query_id", "cid").unionByName(hop)
      .distinct()
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val scored = cand
      .join(all, "vec_id")
      .join(broadcast(queryBatch(all, nQueries)), "query_id")
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** ADAPTIVE-PROBE IVF (`ann_adaptive_probe`) — the documented
    * answer to `ann_recall_report`'s residual tail (SURVEY records
    * the 0.3-recall query whose true neighbors scatter over 8 of 16
    * cells — a quantizer limit no FIXED budget reaches): the probe
    * budget adapts PER QUERY with the closeness-margin rule
    * production multiprobe uses — probe every cell whose
    * query-centroid cosine sits within `margin` of that query's BEST
    * cell. An equidistant (scattered) query widens its own probe
    * set; a well-quantized one stays at the floor; and the fixed
    * `IvfProbes` floor keeps every candidate set a strict SUPERSET
    * of [[annIvf]]'s, so per-query recall can only improve (the NSW
    * key's dominance theorem, spec-pinned). Cost stays IVF-shaped:
    * the probe decision reads the bounded nQueries × cells ranked
    * frame, candidates remain probed-cells-only, the rank tail is
    * the bounded TopKPerKey heap. Hash-gated: the margin predicate
    * compares the explicit-division cosine dag both engines compute
    * bit-identically (the `q_embed_outliers` spelling), so the
    * oracle replays the adaptive budget exactly; `n_probed` rides
    * the output so the ADAPTIVITY itself is gated, not just ranks.
    */
  def annAdaptiveProbe(spark: SparkSession, sfDir: String, k: Int = 10,
      nQueries: Int = 20, margin: Double = 0.1): DataFrame =
    annAdaptiveProbeOver(vecs(spark, sfDir), IvfCells, IvfProbes, k,
      nQueries, margin)

  /** Same operator over any (vec_id, v, norm) frame with explicit
    * cell/floor budgets — the planted spec proves the margin rule
    * actually widens a scattered (equidistant) query while a
    * well-quantized one stays at the floor.
    */
  private[graft] def annAdaptiveProbeOver(all: DataFrame, cells: Int,
      probesFloor: Int, k: Int, nQueries: Int,
      margin: Double): DataFrame = {
    val cent = ivfCentroids(all, cells)
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val ranked = all.join(broadcast(cent))
      .withColumn("csim",
        dot_product(col("v"), col("cv")) / col("norm") / col("cnorm"))
      .select(col("vec_id"), col("cid"), col("csim"),
        row_number().over(byVec).as("crank"))
      // queries keep their FULL cell ranking (bounded: nQueries ×
      // cells rows) — the margin rule needs every csim, not a prefix
      .filter(col("crank") === 1 || col("vec_id") < nQueries)
    Scratch.persistDeferred(ranked)
    val assign = ranked.filter(col("crank") === 1).select("vec_id", "cid")
    val byQ = Window.partitionBy(col("query_id"))
    val qcells = ranked.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cid"), col("csim"),
        col("crank"))
    val probes = qcells
      .withColumn("best", max(col("csim")).over(byQ))
      .filter(col("crank") <= probesFloor ||
        col("csim") >= col("best") - lit(margin))
      .select(col("query_id"), col("cid"))
    val nProbed = probes.groupBy("query_id")
      .agg(count(lit(1)).as("n_probed"))
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val scored = cand.join(all, "vec_id")
      .join(broadcast(queryBatch(all, nQueries)), "query_id")
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .join(broadcast(nProbed), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk"), col("n_probed"))
  }

  /** RANGE (radius) search — the other retrieval primitive every
    * production vector store exposes next to top-k (FAISS
    * `range_search`, pgvector `WHERE embedding <=> q < r`): ALL
    * corpus vectors with cosine ≥ τ against each query, searched
    * through the same IVF cell probing as [[annIvf]]. Unlike top-k,
    * the result size is data-dependent, so there is no rank stage at
    * all — the threshold predicate IS the operator, applied to the
    * scored candidate stream in one codegen'd projection. Output
    * carries the cosine itself: the dot is a left-to-right double
    * fold ([[graft.functions.CatalystExprs.dot_product]]) matching
    * DuckDB's `list_dot_product`, so the float column is
    * bit-identical and hash-gates.
    *
    * Scale shape: identical to [[annIvf]] minus the heap — broadcast
    * codebook, one corpus assignment pass, probed-cell candidates
    * only; the threshold filter runs before any state is built and
    * the output never needs a sort.
    */
  def annRangeSearch(spark: SparkSession, sfDir: String,
      tau: Double = 0.35, nQueries: Int = 20): DataFrame = {
    val all = vecs(spark, sfDir)
    // per-call scratch: consumed by assignment and probing below,
    // reclaimed after the caller's action (Scratch lifecycle)
    val ranked = Scratch.persistDeferred(
      centroidRanks(all, ivfCentroids(all, IvfCells))
        .filter(col("crank") === 1 ||
          (col("crank") <= IvfProbes && col("vec_id") < nQueries)))
    val assign = ranked.filter(col("crank") === 1).select("vec_id", "cid")
    val probes = ranked.filter(col("crank") <= IvfProbes
        && col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cid"))
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    cand
      .join(all, "vec_id")
      .join(broadcast(queryBatch(all, nQueries)), "query_id")
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
      .filter(col("cos") >= lit(tau))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  val NumPlanes = 16

  /** Deterministic md5-derived hyperplanes (n × 64, components in
    * [-0.5, 0.5)), prefix-stable per (plane, dim) cell: component
    * (p, i) is the first 32 md5 bits of "srp_p_i" divided by 2³²,
    * minus 0.5 — a 32-bit integer scaled by a power of two, so the
    * double value is EXACT and DuckDB computes the identical plane
    * with `CAST('0x' || substring(md5('srp_'||p||'_'||i), 1, 8) AS
    * BIGINT) / 4294967296.0 - 0.5`. That is what moves the whole SRP
    * family (ann_lsh / multiprobe / knn_graph / dedup_embedding) from
    * rows-gated to DuckDB-hash-gated: same uniform distribution as
    * the former seeded family, but reproducible outside the JVM (the
    * md5 Carter–Wegman precedent from the MinHash path). Generated
    * once at plan time; shipped to executors inside the expression.
    */
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Double]]]
  private def planesFor(n: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate(n,
      Array.tabulate(n, 64) { (p, i) =>
        graft.functions.ExprKernels.md5Unit32(s"srp_${p}_${i}") - 0.5
      })

  /** 16-bit sign-random-projection bucket code for a vector column. */
  def lshBucket(v: Column): Column = srp_bucket(v, planesFor(NumPlanes))

  /** Default SRP banding, tuned on measured recall/candidate-load
    * curves (SimilaritySpec "recall" tests): per-plane agreement for a
    * pair at angle θ is 1−θ/π, so a cos≈0.3 neighbor agrees on a
    * plane with p≈0.6 — weak discrimination that needs MANY bands:
    * 16 bands × 4 planes puts S-curve recall at ~0.89 for cos=0.3 and
    * ≳0.97 from cos=0.5 up. (The previous 4×4 banding measured 0.44
    * recall against brute-force truth — an untrustworthy default.)
    *
    * SCALE NOTE (measured, BENCH_sf1.json): ANY fixed banding makes
    * bucket occupancy grow ∝ n and candidate pairs ∝ n² — measured
    * exp 2.15 on the fixed-width knn graph at sf1, vs ~1.03 for the
    * count-ladder width (473 s → 35 s). Since round 18 the ladder
    * ([[scaledPlanesPerBand]]) IS the family default: every SRP
    * entry point derives its width from one bounded pre-flight
    * count unless an explicit width pins the tuned gate-SF point.
    *
    * THE SELECTIVITY TRADE, quantified honestly: unrelated vectors
    * still agree on a plane with p≈0.5, so a 4-plane band passes
    * ~1/16 of random pairs and 16 bands pass ~64% of them — at a low
    * cosine threshold the candidate set is a CONSTANT FRACTION of all
    * pairs, not a vanishing one (the spec measures it on this
    * corpus). That is intrinsic to SRP near τ≈0.3: the 0.6-vs-0.5
    * per-plane gap cannot be amplified selectively. Use this operator
    * where SRP is strong — high-cosine NEAR-DUP detection (τ ≳ 0.7,
    * where band agreement for noise pairs vanishes) or recall-first
    * candidate generation on modest corpora; for scale-path broad
    * similarity SEARCH, `annIvf` is the right operator (oracle-gated,
    * probes IvfProbes/IvfCells of the data per query).
    */
  val DefaultSrpBands = 16
  val DefaultPlanesPerBand = 4

  /** Sentinel: "derive planesPerBand from the corpus count ladder"
    * ([[scaledPlanesPerBand]]) — the family default since round 18.
    * Pass an explicit width only to pin a fixed operating point
    * (specs; recall-curve tuning).
    */
  val DerivedWidth = -1

  /** Exact-cosine verification of a canonical (vec_a < vec_b)
    * candidate frame — shared by both SRP probe families.
    */
  private def verifyPairs(coded: DataFrame, cand: DataFrame): DataFrame = {
    val side = coded.select(col("vec_id"), col("v"), col("norm"))
    cand
      .join(side.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("norm").as("na")), "vec_a")
      .join(side.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("norm").as("nb")), "vec_b")
      .withColumn("cos",
        dot_product(col("va"), col("vb")) / col("na") / col("nb"))
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Banded SRP near-neighbor pairs: each band gets its own
    * `planesPerBand` hyperplanes (a slice of one seeded family); a
    * pair is a candidate when ANY band's sign-code agrees (standard
    * OR-of-ANDs LSH amplification), then verified by exact cosine ≥
    * threshold. The shuffle keys are (band, code) — linear in corpus
    * size, candidates deduped before the verify.
    *
    * The verify step keeps the UNFILTERED verified SRP pairs as an
    * [[Artifacts]] frame per (corpus, probe family, bands, width,
    * probes) — the near-dup pair artifact lifted to the embedding
    * side: every SRP consumer (ann_lsh at τ=0.3, dedup_embedding at
    * τ=0.45, the multiprobe key at τ=0.3, the knn graph with no floor
    * at all) runs the identical banded candidate join + exact-cosine
    * verify and differs only in the threshold filter on top, so one
    * session pays the join once per family and every key filters the
    * checkpointed copy.
    */
  def annLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3,
      bands: Int = DefaultSrpBands,
      planesPerBand: Int = DerivedWidth): DataFrame = {
    val coded = vecs(spark, sfDir)
    // count-ladder width by default (one bounded pre-flight count —
    // the JoinPlanner convention): at the gate SFs the ladder lands
    // on the tuned 4, past ~2^11 vectors it grows with log2(n) so
    // bucket occupancy (and the candidate join) stays ~linear. The
    // oracle re-derives the identical width from count(*).
    val ppb =
      if (planesPerBand != DerivedWidth) planesPerBand
      else scaledPlanesPerBand(coded.count(), floor = DefaultPlanesPerBand)
    val pairs = Artifacts.frame(spark, sfDir, "srp_pairs", "single", bands,
        ppb, 0) {
      val fam = planesFor(bands * ppb)
      val banded = coded.select(
          col("vec_id"),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"),
              srp_bucket(col("v"),
                fam.slice(b * ppb, (b + 1) * ppb)).as("code"))
          }: _*)).as("bk"))
        .select(col("vec_id"), col("bk.band").as("band"),
          col("bk.code").as("code"))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.code") === col("y.code")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        .distinct()
      verifyPairs(coded, cand)
    }
    pairs.filter(col("cos") >= threshold)
  }

  val DefaultMpBands = 8
  val DefaultMpPlanes = 6
  val DefaultMpProbes = 2

  /** MULTI-PROBE banded SRP near-neighbor pairs (Lv et al., VLDB'07,
    * adapted to sign projections): instead of buying recall with more
    * bands — every band is another hash family and another wave of
    * (band, code) shuffle keys — each vector also probes the buckets
    * reached by flipping its `probes` lowest-|margin| sign bits, the
    * bits most likely to disagree for a genuinely-close pair. That
    * lets each band carry MORE planes (stronger, more selective
    * bands) without the recall collapse more planes normally cause.
    * A pair is a candidate when any of one side's 1+probes codes
    * meets the other side's codes in a band; exact cosine verifies.
    *
    * Measured on the sf0.01 corpus against brute-force truth
    * (SimilaritySpec pins all three axes): 8 bands × 6 planes + 2
    * probes → recall 0.921, candidate fraction 0.629, 8 hash
    * families — vs single-probe 16×4's 0.910 recall, 0.643
    * candidates, 16 families. Strictly better on every axis that
    * costs anything at 100 TB: the candidate fraction drives the
    * quadratic verify join, the family count drives plan width, and
    * recall is the quality bar. (Tuning sweep, same corpus:
    * 8×8+3p → 0.831 recall / 0.368 candidates when recall can be
    * traded for 2× selectivity; 12×8+3p → 0.910 / 0.485.)
    *
    * Celebrity-bucket skew: a hot (band, code) key concentrates its
    * quadratic pair fan-out on one reducer. MEASURED (SimilaritySpec
    * "celebrity LSH bucket"): AQE skew-splits exactly this self-join
    * shape at runtime — `SortMergeJoin(skew=true)`, both sides split
    * — so the candidate join stays UNSALTED; the q_skew_join salting
    * pattern was evaluated and rejected (it buys the same flattening
    * by replicating the probe side salt× on every bucket, skewed or
    * not).
    */
  def annLshMultiProbe(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3,
      bands: Int = DefaultMpBands,
      planesPerBand: Int = DerivedWidth,
      probes: Int = DefaultMpProbes): DataFrame = {
    val coded = vecs(spark, sfDir)
    // count-ladder width by default (see annLsh): floor 6 keeps the
    // gate SFs on the tuned 8x6+2 operating point exactly
    val ppb =
      if (planesPerBand != DerivedWidth) planesPerBand
      else scaledPlanesPerBand(coded.count())
    val verified = Artifacts.frame(spark, sfDir, "srp_pairs", "multi", bands,
        ppb, probes) {
      val banded = mpCodes(coded, bands, ppb, probes)
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.code") === col("y.code")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        .distinct()
      verifyPairs(coded, cand)
    }
    // −∞ means NO verify floor (the knn-graph caller keeps every
    // candidate); `cos >= -1.0` is NOT the absence of a filter — a
    // one-ulp-below-−1 rounding artifact would silently drop a pair
    // the unfiltered oracle keeps
    if (threshold.isNegInfinity) verified
    else verified.filter(col("cos") >= threshold)
  }

  /** k-NN GRAPH construction — every node's top-k cosine neighbors
    * (the structure SemDeDup clustering, graph dedup (PageRank /
    * triangles run on exactly such graphs), and label-propagation
    * curation consume). Candidates come from the tuned multi-probe
    * SRP path — banded/bucketed generation, never the n² all-pairs
    * join — verified by exact cosine, symmetrized (an LSH pair is
    * evidence for both endpoints), and cut to top-k per node with
    * bounded `TopKPerKey` heaps. Nodes whose every neighbor falls
    * outside the candidate set have degree < k — that is the LSH
    * trade; per-node recall vs the all-nodes brute truth is measured
    * and floor-pinned in the spec. Hash-gated: the md5-derived
    * hyperplanes make every band code, every probe flip, and the
    * exact-cosine verify DuckDB-reproducible, so the oracle replays
    * the full candidate pipeline and the gate compares final ranks.
    */
  def knnGraph(spark: SparkSession, sfDir: String, k: Int = 5,
      bands: Int = DefaultMpBands,
      planesPerBand: Int = DerivedWidth,
      probes: Int = DefaultMpProbes): DataFrame = {
    // −∞ threshold: keep every verified candidate pair; the top-k
    // cut is the selection, not a similarity floor
    val pairs = annLshMultiProbe(spark, sfDir,
      threshold = Double.NegativeInfinity, bands, planesPerBand, probes)
    // symmetrize in ONE pass — a unionAll of two selects over `pairs`
    // would re-run the whole banded-join + verify pipeline twice
    val directed = pairs
      .select(explode(array(
        struct(col("vec_a").as("src"), col("vec_b").as("dst"), col("cos")),
        struct(col("vec_b").as("src"), col("vec_a").as("dst"), col("cos"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos").as("cos"))
    graft.plans.TopKPerKey(directed,
        Seq("src"), Seq(("cos", true), ("dst", false)), k)
      .select(col("src"), col("dst"), col("rnk"))
  }

  /** Planner-scaled planes-per-band: the smallest width (≥ the tuned
    * default, ≤ `cap`) whose 2^ppb buckets per band keep EXPECTED
    * occupancy ≤ `targetBucket` — pure integer arithmetic
    * (`targetBucket << ppb >= n`), so both engines derive the
    * identical parameter with no log/ceil float boundary. This is
    * the q_lsh_param_planner decision applied to the SRP family: at
    * fixed banding, bucket occupancy grows ∝ n and within-bucket
    * candidate pairs ∝ n² (measured: q_knn_graph exp 2.15 at sf1,
    * BENCH_sf1.json); growing ppb with log₂(n) pins occupancy, so
    * candidate load returns to ~linear while per-plane recall decays
    * only geometrically in the margin (the S-curve trade
    * q_lsh_scurve prices).
    */
  private[graft] def scaledPlanesPerBand(n: Long,
      targetBucket: Long = 32L, floor: Int = DefaultMpPlanes,
      cap: Int = 24): Int =
    (floor to cap).find(p => (targetBucket << p) >= n).getOrElse(cap)

  /** SCALED k-NN GRAPH (`q_knn_graph_scaled`) — [[knnGraph]] with the
    * banding width derived from ONE bounded pre-flight count (the
    * JoinPlanner convention: a cost-based planner reads statistics
    * before picking a physical plan). At the gate SFs the ladder
    * lands on the tuned default, so the oracle doubles as an
    * equality gate with `q_knn_graph`; past ~2^11 vectors the width
    * grows with log₂(n) and the candidate join stays ~linear — the
    * committed fix for the one super-linear key in BENCH_sf1.json.
    * Hash-gated generically: the oracle re-derives the SAME width
    * from count(*) through an integer CASE ladder and builds the
    * md5 hyperplane family at that width.
    */
  def knnGraphScaled(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame =
    // the count-ladder width became the FAMILY default in round 18,
    // so the scaled twin is now definitionally the default graph;
    // the key stays registered as the gate on that equality
    knnGraph(spark, sfDir, k)

  /** The multi-probe (vec_id, band, code) key set: per band, the main
    * sign code plus the `probes` lowest-|margin| one-bit flips,
    * deduped before any join (a vector can reach one code via main
    * and a probe elsewhere; the key set per (vec, band) is small —
    * dedup before the blowup, not after). Shared by
    * [[annLshMultiProbe]] and [[knnGraphUpsert]].
    */
  private def mpCodes(coded: DataFrame, bands: Int, ppb: Int,
      probes: Int): DataFrame = {
    val fam = planesFor(bands * ppb)
    coded.select(
        col("vec_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            srp_probes(col("v"),
              fam.slice(b * ppb, (b + 1) * ppb),
              probes).as("codes"))
        }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        explode(col("bk.codes")).as("code"))
      .distinct()
  }

  /** INCREMENTAL k-NN GRAPH MAINTENANCE (`q_knn_graph_upsert`) — the
    * `ann_maintain` discipline applied to the graph: at 100 TB nobody
    * rebuilds the (most expensive measured sf1) graph per arriving
    * batch. The last `nDelta` vectors play the appended delta; the
    * base graph over the older corpus stands in for the stored
    * artifact (built in-query so the key is self-contained, exactly
    * like `ann_maintain` builds its lower-half index); the upsert
    * then touches ONLY delta-involving buckets: new candidate edges
    * are the (band, code) join of the DELTA key set against the full
    * corpus — O(delta × occupancy), never a rebuild — and each
    * affected node's top-k re-cuts over (stored top-k ∪ new edges).
    *
    * Why that equals the full rebuild (the theorem the gate checks):
    * old-old edge scores are untouched, and an old edge outside a
    * node's stored top-k is dominated by k stored edges that remain
    * candidates — new edges can only displace downward, never
    * resurrect — so top-k(stored ∪ delta) = top-k(all ∪ delta).
    * Hash-gated against the FULL-REBUILD oracle at the same
    * count-ladder width, so the equality is machine-checked, not
    * asserted; `refreshed` rides the output (delta nodes and bucket
    * neighbors of the delta) so the gate also pins WHICH lists the
    * upsert recomputed. Width note: both phases band at the
    * post-upsert corpus width (a production store re-bands lazily —
    * at gate SFs the ladder step is delta-invariant).
    */
  def knnGraphUpsert(spark: SparkSession, sfDir: String, k: Int = 5,
      nDelta: Long = 100L): DataFrame = {
    val all = vecs(spark, sfDir)
    val n = all.count()
    val cut = n - nDelta
    val ppb = scaledPlanesPerBand(n)
    val codes = Scratch.persistDeferred(
      mpCodes(all, DefaultMpBands, ppb, DefaultMpProbes))
    val joinOn = (x: String, y: String) =>
      col(s"$x.band") === col(s"$y.band") &&
        col(s"$x.code") === col(s"$y.code") &&
        col(s"$x.vec_id") < col(s"$y.vec_id")
    def verify(cand: DataFrame): DataFrame = {
      val side = all.select(col("vec_id"), col("v"), col("norm"))
      cand
        .join(side.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("norm").as("na")), "vec_a")
        .join(side.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("norm").as("nb")), "vec_b")
        .withColumn("cos",
          dot_product(col("va"), col("vb")) / col("na") / col("nb"))
        .select(col("vec_a"), col("vec_b"), col("cos"))
    }
    def directed(pairs: DataFrame): DataFrame = pairs
      .select(explode(array(
        struct(col("vec_a").as("src"), col("vec_b").as("dst"), col("cos")),
        struct(col("vec_b").as("src"), col("vec_a").as("dst"), col("cos"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos").as("cos"))
    // the stored artifact: base-corpus top-k (old-old edges only)
    val baseCodes = codes.filter(col("vec_id") < cut)
    val baseTopk = graft.plans.TopKPerKey(
        directed(verify(
          baseCodes.as("x").join(baseCodes.as("y"), joinOn("x", "y"))
            .select(col("x.vec_id").as("vec_a"),
              col("y.vec_id").as("vec_b"))
            .distinct())),
        Seq("src"), Seq(("cos", true), ("dst", false)), k)
      .select(col("src"), col("dst"), col("cos"))
    // the upsert: ONLY delta-involving candidate edges (either side
    // in the delta) — the delta key set keys the join, so the cost is
    // O(delta × bucket occupancy)
    val deltaEdges = directed(verify(
      codes.as("x").join(codes.as("y"),
          joinOn("x", "y") &&
            (col("x.vec_id") >= cut || col("y.vec_id") >= cut))
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        .distinct()))
    val affected = deltaEdges.select(col("src")).distinct()
      .withColumn("refreshed", lit(true))
    graft.plans.TopKPerKey(
        baseTopk.unionByName(deltaEdges),
        Seq("src"), Seq(("cos", true), ("dst", false)), k)
      .join(affected, Seq("src"), "left_outer")
      .select(col("src"), col("dst"), col("rnk"),
        coalesce(col("refreshed"), lit(false)).as("refreshed"))
  }

  /** Scalar-quantized (SQ8) ANN — the MEMORY-bound scale path the
    * LSH/IVF variants don't cover: each dimension compresses to one
    * byte against per-dimension corpus [min, max] bounds, so the
    * candidate scan touches 1/8th the bytes of the double corpus (at
    * 100 TB the working set, not the FLOPs, is the binding
    * constraint). Search is two-stage: rank ALL corpus vectors by
    * cosine over the DEQUANTIZED codes (cheap, compressed), keep the
    * top `rerank` per query, then re-score exactly those few against
    * the full-precision vectors — quantization error can only demote
    * a true neighbor out of the rerank pool, and the pool is 5× the
    * final k, so measured recall vs the brute-force truth stays high
    * (pinned in SimilaritySpec).
    *
    * Plan shape: the per-dimension bounds are ONE row (posexplode →
    * d-key aggregate → re-fold), broadcast everywhere; both stages
    * broadcast the query side and stream the corpus, and the
    * approximate-stage top-`rerank` cut runs through [[graft.plans.TopKPerKey]]
    * — bounded per-partition heaps, ≤ `rerank` rows per query per map
    * partition through the shuffle — so no shuffle grows with the
    * corpus (a `row_number` window keyed only on query_id would sort
    * corpus × queries rows into nQueries partitions, a straggler AQE
    * cannot split).
    */
  def annSq8(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20, rerank: Int = 50): DataFrame = {
    val all = vecs(spark, sfDir)
    // per-dimension [min, max] over the corpus, re-folded into one row
    // of two d-length arrays (pos is 0-based; element_at is 1-based)
    val bounds = all
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("b"))
      .select(transform(col("b"), s => s.getField("mn")).as("mns"),
        transform(col("b"), s => s.getField("mx")).as("mxs"))
    // quantize to 0..255 against the bounds, then decode — xhat is
    // what an int8-storing engine reconstructs at scan time
    def dequant(v: Column): Column =
      zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => {
        val mn = element_at(col("mns"), (i + 1).cast("int"))
        val mx = element_at(col("mxs"), (i + 1).cast("int"))
        val step = (mx - mn) / 255.0
        val code = when(mx === mn, lit(0.0))
          .otherwise(round((x - mn) / ((mx - mn) / 255.0), 0))
        mn + code * step
      })
    val coded = all.crossJoin(broadcast(bounds))
      .select(col("vec_id"), col("v"), col("norm"), dequant(col("v")).as("xhat"))
      .withColumn("xnorm", sqrt(dot_product(col("xhat"), col("xhat"))))
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("xhat").as("qx"),
        col("xnorm").as("qxn"))
    val approx = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("acos",
        dot_product(col("qx"), col("xhat")) / col("qxn") / col("xnorm"))
    val pool = graft.plans.TopKPerKey(
        approx.select(col("query_id"), col("vec_id"), col("acos")),
        Seq("query_id"), Seq(("acos", true), ("vec_id", false)), rerank)
      .select(col("query_id"), col("vec_id"))
    // exact re-rank of the small pool (≤ nQueries·rerank rows, bounded
    // regardless of corpus size) against full-precision vectors
    val exactQ = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val rescored = pool
      .join(all, "vec_id")
      .join(broadcast(exactQ), "query_id")
      .withColumn("cos", dot_product(col("qv"), col("v")) / col("qn") / col("norm"))
    graft.plans.TopKPerKey(
        rescored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  val PqM = 16     // subspaces (64 dims → 4-dim sub-vectors)
  val PqKs = 16    // centroids per subspace (4-bit codes)

  /** Product-quantization ANN (Jégou et al., TPAMI'11) — the next
    * rung past SQ8 on the memory-bound path: each vector stores one
    * 4-bit centroid id per 4-dim SUBSPACE (PqM·log₂(PqKs) = 64 bits
    * vs SQ8's 64 bytes vs 512 raw — 64× compression), and query
    * scoring is ADC: per query, precompute the PqM × PqKs table of
    * sub-dot-products against the codebook once, then every corpus
    * vector costs PqM table lookups instead of a 64-dim dot product.
    * The UNIT vector is what gets quantized — cosine depends on
    * direction only, and spending codebook capacity on norm variance
    * measured 10+ recall points worse.
    *
    * Codebook: per-subspace Lloyd/k-means over a FIXED-SIZE
    * deterministic sample (the first `PqSample` corpus vectors,
    * first-`PqKs`-of-sample init, ties to the lower id) — the
    * driver-side stand-in for the offline training job a real
    * deployment runs (training is a batch concern, not a query
    * concern; annIvf sets the precedent). The collect is O(sample),
    * independent of corpus size; everything per-corpus-row is a pure
    * projection (encode = argmin per subspace via higher-order
    * functions, no shuffle), the ADC join broadcasts queries +
    * tables, and the top-`rerank` cut runs through bounded TopKPerKey
    * heaps — like annSq8, no shuffle grows with the corpus. Exact
    * re-rank of the pool recovers what 4-bit quantization loses;
    * recall vs brute truth is spec-pinned (untrained first-16-rows
    * codebooks measured 0.67 — training is what buys the floor).
    */
  val PqSample = 128
  val PqLloydIters = 8

  /** Deterministic Lloyd iterations: fixed init (first ks points),
    * fixed scan order, strict-< argmin (ties to the lower id), empty
    * cluster keeps its previous centroid. No randomness anywhere, so
    * codebooks are identical across runs and cluster layouts.
    */
  private[graft] def lloyd(pts: Array[Array[Double]], ks: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    var cents = pts.take(ks).map(_.clone)
    for (_ <- 1 to iters) {
      val sums = Array.fill(ks)(new Array[Double](dim))
      val cnts = new Array[Int](ks)
      pts.foreach { p =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < ks) {
          var d = 0.0
          var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        cnts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(ks)(c =>
        if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else cents(c))
    }
    cents
  }

  /** Deterministic unit-vector training sample (the first `PqSample`
    * corpus vectors, normalized) — the driver-side stand-in for the
    * offline codebook-training job. O(sample), corpus-size free.
    */
  private[graft] def unitSample(all: DataFrame): Array[Array[Double]] = {
    val sample = all.filter(col("vec_id") < PqSample)
      .orderBy("vec_id").select("v", "norm").collect()
      .map { r =>
        val n = r.getDouble(1)
        r.getSeq[Double](0).toArray.map(_ / n)
      }
    require(sample.length >= PqKs, s"corpus smaller than codebook: ${sample.length}")
    sample
  }

  /** Per-subspace PQ codebooks from a unit-vector sample:
    * cb(j)(c) = centroid c of subspace j.
    */
  private[operators] def pqCodebooks(sample: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val subd = sample(0).length / PqM
    Array.tabulate(PqM) { j =>
      lloyd(sample.map(_.slice(j * subd, (j + 1) * subd)), PqKs, PqLloydIters)
    }
  }

  def annPq(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20, rerank: Int = 100): DataFrame = {
    val all = vecs(spark, sfDir)
    // cosine depends on DIRECTION only, so quantize the unit vector
    // u = v/|v| — norm variance would otherwise eat codebook capacity.
    // Normalization happens INSIDE the kernels (per-element division,
    // bit-identical to the former u column), so the corpus pass needs
    // no materialized unit-vector array.
    val cb = pqCodebooks(unitSample(all))
    val nrm2: Array[Array[Double]] = cb.map(_.map(sv => sv.map(x => x * x).sum))
    import graft.functions.CatalystExprs.{pq_encode, pq_recon_norm, pq_adc_table, pq_adc}

    // encode: one 0..PqKs-1 id per subspace, ties to the lowest id —
    // a codegen'd kernel projection over the scan, nothing moves;
    // reconstruction norm |û| from the nrm2 table (subspaces are
    // orthogonal coordinate blocks, so |û|² = Σ_j |cb(j)(code_j)|²)
    val coded = all.select(col("vec_id"),
        pq_encode(col("v"), col("norm"), cb).as("code"))
      .withColumn("xnorm", pq_recon_norm(col("code"), nrm2))
    // per-query ADC table: tbl(j)(c) = <q̂_sub_j, cb(j)(c)> with q̂
    // the unit query — the query side is exact, only the corpus side
    // is quantized
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        pq_adc_table(col("v"), col("norm"), cb).as("tbl"))
    val approx = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("acos", pq_adc(col("tbl"), col("code")) / col("xnorm"))
    val pool = graft.plans.TopKPerKey(
        approx.select(col("query_id"), col("vec_id"), col("acos")),
        Seq("query_id"), Seq(("acos", true), ("vec_id", false)), rerank)
      .select(col("query_id"), col("vec_id"))
    val exactQ = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val rescored = pool
      .join(all, "vec_id")
      .join(broadcast(exactQ), "query_id")
      .withColumn("cos", dot_product(col("qv"), col("v")) / col("qn") / col("norm"))
    graft.plans.TopKPerKey(
        rescored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  val IvfPqCells = 16
  val IvfPqProbes = 8

  /** IVF-PQ (Jégou et al., TPAMI'11; the FAISS `IndexIVFPQ` layout)
    * — the composition that actually runs at 100 TB: the coarse IVF
    * quantizer prunes the scan to the `nProbe`/`cells` fraction of
    * the corpus nearest each query, and PQ's ADC makes every
    * candidate cost `PqM` table lookups on a 64-bit code instead of
    * a 64-dim dot product. `ann_pq` alone still scans every corpus
    * code per query; `ann_ivf` alone pays an exact dot product per
    * candidate — this pays neither.
    *
    * Codes are global (FAISS `by_residual=false`): residual encoding
    * buys accuracy at low bit budgets but couples the codebook to the
    * cell, so encode would need the assignment first; global codes
    * keep BOTH the cell id and the PQ code one kernel projection over
    * the same scan, and the exact re-rank recovers the difference at
    * this bit budget (recall floor spec-pinned).
    *
    * Scale shape: coarse + PQ codebooks train on the bounded
    * deterministic sample (driver-side, corpus-size free) and ride
    * into the plan as broadcast kernel constants; the candidate join
    * keys on `cid`, so per-query work is the probed cells only and
    * no shuffle grows faster than corpus/cells × nProbe; both rank
    * stages are bounded `TopKPerKey` heaps. At 100 TB, `cells` grows
    * with the corpus (FAISS runs √n cells) holding per-cell work
    * constant. Rows-gated: Lloyd codebooks are not
    * DuckDB-reproducible (the SRP/PQ family's declared regime).
    */
  def annIvfPq(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20, rerank: Int = 100,
      cells: Int = IvfPqCells, nProbe: Int = IvfPqProbes): DataFrame = {
    val all = vecs(spark, sfDir)
    val sample = unitSample(all)
    val coarse = lloyd(sample, cells, PqLloydIters)
    val cb = pqCodebooks(sample)
    val nrm2: Array[Array[Double]] = cb.map(_.map(sv => sv.map(x => x * x).sum))
    import graft.functions.CatalystExprs.{pq_encode, pq_recon_norm,
      pq_adc_table, pq_adc, centroid_probes}

    // corpus side: nearest cell + PQ code, one kernel projection over
    // the scan — nothing moves until the cid-keyed candidate join
    val coded = all.select(col("vec_id"),
        element_at(centroid_probes(col("v"), col("norm"), coarse, 1), 1)
          .as("cid"),
        pq_encode(col("v"), col("norm"), cb).as("code"))
      .withColumn("xnorm", pq_recon_norm(col("code"), nrm2))
    // query side: nProbe nearest cells each carrying the per-query
    // ADC table (tiny: nQueries × nProbe rows, broadcast)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(centroid_probes(col("v"), col("norm"), coarse, nProbe))
          .as("cid"),
        pq_adc_table(col("v"), col("norm"), cb).as("tbl"))
    val approx = coded.join(broadcast(q), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", pq_adc(col("tbl"), col("code")) / col("xnorm"))
    val pool = graft.plans.TopKPerKey(
        approx.select(col("query_id"), col("vec_id"), col("acos")),
        Seq("query_id"), Seq(("acos", true), ("vec_id", false)), rerank)
      .select(col("query_id"), col("vec_id"))
    val exactQ = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val rescored = pool
      .join(all, "vec_id")
      .join(broadcast(exactQ), "query_id")
      .withColumn("cos", dot_product(col("qv"), col("v")) / col("qn") / col("norm"))
    graft.plans.TopKPerKey(
        rescored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  val SemClusters = 16
  val SemTau = 0.45
  val SemSample = 128
  val SemProbes = 3

  /** SemDeDup-lite (Abbas et al. 2023, arXiv:2303.09540): embedding-
    * space semantic dedup — k-means clusters the corpus, exact cosine
    * runs only WITHIN shared clusters, and of every ≥`tau` pair the
    * larger vec_id is dropped (canonical = the smallest id that
    * reaches it; deterministic). Each vector keys into its `probes`
    * nearest centroids (the multi-probe trick from `ann_lsh_multiprobe`
    * applied to cluster assignment): boundary pairs split across
    * adjacent clusters still meet, which is where single-assignment
    * SemDeDup loses most of its recall — measured on this corpus:
    * 0.29 at 1 probe, 0.50 at 2, 0.79 at 3 (the default). Pairs
    * beyond the probe set are still missed by construction — that is
    * the trade that makes compare cost probes²·n²/K instead of n²
    * (so K must stay ≫ probes² for the cut to pay); the miss rate is
    * measured and pinned in the spec, not assumed.
    *
    * Scale shape: codebook training is the PQ discipline (bounded
    * `SemSample` driver sample, deterministic Lloyd); assignment is
    * a codegen'd broadcast-codebook kernel projection (nothing
    * shuffles); the candidate self-join shuffles on cluster keys with
    * per-cluster work bounded by (probes·n/K)² — at 100 TB, K grows
    * with the corpus (SemDeDup runs 50k clusters on LAION) so cluster
    * size, and with it the quadratic factor, stays constant.
    * Rows-gated: Lloyd codebooks are not DuckDB-reproducible; the
    * planted-geometry and recall specs pin behavior instead.
    */
  /** Target per-cluster occupancy for the COUNT-DERIVED codebook
    * size: K = max([[SemClusters]], ⌈n / SemOccupancy⌉). Any fixed K
    * makes cluster occupancy grow ∝ n and the within-cluster verify
    * join quadratic — measured at sf1: 677 s at the fixed K=16 (exp
    * ≈ 2.5), the operator's own doc already said "at 100 TB, K grows
    * with the corpus" (SemDeDup runs 50k clusters on LAION) but the
    * default never did. The gate SFs (n = 500 / 2000) land exactly
    * on the tuned K=16, so gate outputs are unchanged; past that,
    * occupancy — and with it per-cluster pair cost — is pinned.
    */
  val SemOccupancy = 128L

  /** Vector-count budget under which the semantic-dedup verify join
    * broadcasts the corpus vector sides (~500k 64-dim doubles ≈
    * 260 MB built); past it the shuffle join stands.
    */
  val SemBroadcastVecBudget = 500000L

  def semDedup(spark: SparkSession, sfDir: String,
      tau: Double = SemTau, kClusters: Int = DerivedWidth,
      probes: Int = SemProbes): DataFrame = {
    val all = vecs(spark, sfDir)
    val k =
      if (kClusters != DerivedWidth) kClusters
      else { // ONE bounded pre-flight count (the ladder convention)
        val n = all.count()
        math.max(SemClusters.toLong,
          (n + SemOccupancy - 1) / SemOccupancy).toInt
      }
    semDedupOver(all, tau, k, probes)
  }

  /** Same operator over any (vec_id, v, norm) frame (specs plant
    * geometry). The training sample scales with the requested
    * codebook (≥ 4 vectors per centroid, never below the tuned
    * [[SemSample]]) — still a bounded driver collect, the PQ
    * codebook discipline.
    */
  def semDedupOver(all: DataFrame, tau: Double, kClusters: Int,
      probes: Int = SemProbes): DataFrame = {
    // HASH-SPREAD training sample (the r18 ADVICE item): the former
    // id-prefix sample (vec_id < m) trains the codebook on one
    // contiguous id range — ids correlate with generation order, so
    // the codebook under-represents the rest of the corpus and
    // cluster occupancy skews (measured exp ≈ 1.2 at sf1, the hot
    // cells carrying the quadratic verify join). Taking the m
    // smallest xxhash64(vec_id) spreads the sample uniformly over
    // the corpus at the same bounded size — orderBy+limit plans as a
    // bounded TakeOrdered heap, never a global sort. The collected
    // rows are re-sorted by vec_id on the driver so Lloyd's
    // deterministic first-k init and scan order keep their id-order
    // contract (the planted-geometry spec's seeding relies on it;
    // when the sample bound covers the whole frame — every spec
    // plant — the sample is bit-identical to the old one).
    val m = math.max(SemSample.toLong, 4L * kClusters).toInt
    val sample = all
      .select(col("vec_id"), col("v"), col("norm"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(m)
      .collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val n = r.getDouble(2)
        r.getSeq[Double](1).toArray.map(_ / n)
      }
    require(sample.length >= kClusters,
      s"corpus smaller than codebook: ${sample.length}")
    val cents: Array[Array[Double]] = lloyd(sample, kClusters, PqLloydIters)
    // ONE bounded pre-flight count prices the verify-join strategy
    // (the graphSized convention): the corpus vector frame rides
    // behind caches/checkpoints whose stats the planner cannot see,
    // so past the auto-broadcast estimate it sort-merge-joined the
    // MULTI-MILLION-row candidate pair set against a 10 MB vector
    // table — measured at sf1: 74.1 s auto vs 3.0 s broadcast for
    // the identical verify (the round's biggest single plan defect).
    // Under the budget (~500k 64-dim vectors ≈ 260 MB built — the
    // guide's comfortable range) both vector sides and the final
    // node-sized dup_of frame broadcast; past it the shuffle shape
    // stands (a web-scale vector table cannot ship to every
    // executor, and AQE owns the pair-set skew there).
    val nVecs = all.count()
    def sized(df: DataFrame): DataFrame =
      if (nVecs <= SemBroadcastVecBudget) broadcast(df) else df
    val assigned = all.select(col("vec_id"),
      graft.functions.CatalystExprs.centroid_probes(
        col("v"), col("norm"), cents, probes).as("cids"))
    // primary (nearest) cluster is the reported assignment; all
    // probed clusters key candidate generation
    val primary = assigned.select(col("vec_id"),
      element_at(col("cids"), 1).cast("long").as("cluster_id"))
    val keys = assigned.select(col("vec_id"), explode(col("cids")).as("ck"))
    val cand = keys.as("x").join(keys.as("y"),
        col("x.ck") === col("y.ck") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val dupOf = cand
      .join(sized(all.select(col("vec_id").as("a"), col("v").as("va"),
        col("norm").as("na"))), "a")
      .join(sized(all.select(col("vec_id").as("b"), col("v").as("vb"),
        col("norm").as("nb"))), "b")
      .withColumn("cos",
        dot_product(col("va"), col("vb")) / col("na") / col("nb"))
      .filter(col("cos") >= tau)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dup_of"))
    primary
      .join(sized(dupOf), Seq("vec_id"), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** Distributed PCA, top principal component: ONE fixed-buffer pass
    * builds the d×d centered scatter ([[graft.functions.GramAgg]] —
    * the d² buffer crosses the wire once per partition, the vectors
    * never do), the 64×64 eigenproblem is solved on the driver by
    * power iteration (bounded O(d²) collect, the documented pattern),
    * and the per-vector projection score is a codegen'd
    * [[graft.functions.CatalystExprs.dot_product]] against the
    * broadcast-literal component — a second linear scan, no shuffle.
    *
    * Determinism (rows-gated, so the SPEC is the contract): power
    * iteration starts from the axis with the largest scatter diagonal
    * (lowest index on ties), runs a fixed 1000 steps on driver
    * doubles, and the component's sign is normalized so its
    * largest-magnitude coordinate is positive — two runs under the
    * SAME partitioning produce bit-identical components. Across
    * different partition counts the Gram's double sums can move by
    * ulps (FP addition is order-sensitive), so the PORTABLE contract
    * is the invariant set, not bitwise equality: eigen-residual
    * ‖Mv−λv‖ ≤ 1e-6·λ, var(score) = λ/(n−1) vs Welford, λ ≥ max
    * diagonal (Rayleigh dominance), sign convention.
    */
  def embedPca(spark: SparkSession, sfDir: String): DataFrame = {
    val (mu, v, _, _) = embedPcaModel(spark, sfDir)
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("x"))
    val vLit = typedLit(v.toSeq)
    val muDotV = mu.zip(v).map { case (a, b) => a * b }.sum
    all
      .withColumn("score",
        round(dot_product(col("x"), vLit) - lit(muDotV), 9))
      .select(col("vec_id"), col("label"), col("score"))
  }

  /** The fitted model: (mean, component, eigenvalue, centered
    * scatter) — exposed for the invariant specs.
    */
  private[graft] def embedPcaModel(spark: SparkSession, sfDir: String)
      : (Array[Double], Array[Double], Double, Array[Array[Double]]) = {
    import spark.implicits._
    val d = 64
    val buf = Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]]
      .select(graft.functions.GramAgg.agg(d).toColumn)
      .head() // bounded: ONE row carrying the d² buffer
    val (mu, m) = graft.functions.GramAgg.centered(d, buf)
    // deterministic start: the axis with the largest scatter diagonal
    // (maxBy keeps the FIRST maximum, so ties break to lowest index)
    val start = (0 until d).maxBy(i => m(i)(i))
    var v = Array.tabulate(d)(i => if (i == start) 1.0 else 0.0)
    var it = 0
    while (it < 1000) {
      val mv = m.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val nrm = math.sqrt(mv.map(x => x * x).sum)
      v = mv.map(_ / nrm)
      it += 1
    }
    // sign convention: largest-|coordinate| positive (lowest index ties)
    val k = (0 until d).maxBy(i => math.abs(v(i)))
    if (v(k) < 0) v = v.map(-_)
    val mv = m.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
    val lambda = v.zip(mv).map { case (a, b) => a * b }.sum
    (mu, v, lambda, m)
  }

  val KmClusters = 10
  val KmIters = 4

  /** DISTRIBUTED k-means over the embedding corpus (unit vectors,
    * Euclidean Lloyd — the `lloyd`/`centroid_probes` geometry). The
    * 100 TB-shaped training loop:
    *
    *  - init from the deterministic `unitSample` driver codebook
    *    (sample-train first — the full corpus never feeds init);
    *  - each refinement iteration is ONE pass over the persisted
    *    corpus: codegen'd `centroid_probes` assignment + the
    *    fixed-buffer [[graft.functions.VecSumAgg]] per-cluster
    *    (n, Σu) aggregate — map-side partial combine means one
    *    k×(d+1) buffer per task crosses the wire, never vectors;
    *  - centroid update is a k×d driver fold (bounded, like the PQ
    *    codebook), re-broadcast into the next iteration's kernel.
    *
    * Output: per-cluster size + inertia (Σ|u−c|², exact form via the
    * `dot_product` kernel against the broadcast final centroids).
    * Rows-gated: Lloyd layouts are not DuckDB-reproducible (the
    * SRP/PQ family's declared regime); SimilaritySpec pins inertia
    * descent across iterations and exact recovery of planted
    * metrically-separated clusters (see `kmeansFit` on why corpus
    * labels are not the pinned invariant).
    */
  /** The training loop shared by the report and assignment views:
    * sample-init then `iters` one-pass distributed refinements.
    */
  private[graft] def kmeansTrain(spark: SparkSession, all: DataFrame,
      k: Int, iters: Int): Array[Array[Double]] = {
    import spark.implicits._
    import graft.functions.CatalystExprs.centroid_probes
    var cents = lloyd(unitSample(all), k, PqLloydIters)
    // d from the trained codebook (itself derived from the frame), so
    // the ANY-frame contract of kmeansFit holds at any dimension
    val d = cents(0).length
    for (_ <- 1 to iters) {
      val sums = all.select(
          element_at(centroid_probes(col("v"), col("norm"), cents, 1), 1)
            .as("cid"),
          col("v"), col("norm"))
        .as[(Int, Seq[Double], Double)]
        .groupByKey(_._1)
        .agg(graft.functions.VecSumAgg.agg(d).toColumn)
        .collect() // bounded: k rows of (n, Σu)
      val next = cents.map(_.clone)
      sums.foreach { case (cid, buf) =>
        if (buf.n > 0) next(cid) = buf.s.map(_ / buf.n)
      }
      cents = next
    }
    cents
  }

  def embedKmeans(spark: SparkSession, sfDir: String,
      k: Int = KmClusters, iters: Int = KmIters): DataFrame = {
    import spark.implicits._
    import graft.functions.CatalystExprs.centroid_probes
    val all = vecs(spark, sfDir)
    val cents = kmeansTrain(spark, all, k, iters)
    // final report: assignment + exact |u−c|² against the broadcast
    // centroid table — Σu² explicitly, not the algebraic 1+|c|²−2u·c
    // shortcut (u is unit only to the ulp)
    val centDf = broadcast(cents.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq, c.map(x => x * x).sum)
    }.toSeq.toDF("cid", "c", "cnorm2"))
    all.select(col("vec_id"),
        element_at(centroid_probes(col("v"), col("norm"), cents, 1), 1)
          .as("cid"),
        col("v"), col("norm"))
      .join(centDf, "cid")
      .select(col("cid"),
        (dot_product(col("v"), col("v")) / col("norm") / col("norm")
          + col("cnorm2")
          - lit(2.0) * dot_product(col("v"), col("c")) / col("norm"))
          .as("d2"))
      .groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia"))
      .select(col("cluster_id"), col("n"), round(col("inertia"), 6).as("inertia"))
  }

  /** Fit + assign over ANY (vec_id, v, norm) frame — the spec's hook
    * for planted-cluster recovery. Corpus labels are deliberately NOT
    * the pinned invariant: on this synthetic corpus the label
    * structure is linear (q_linear_probe separates it perfectly) but
    * not metric — unsupervised Euclidean k-means measures ~0.18
    * majority-label purity, which is a property of the data, not the
    * operator. The portable contracts are Lloyd's inertia descent and
    * exact recovery of metrically separated clusters.
    */
  private[graft] def kmeansFit(spark: SparkSession, all: DataFrame,
      k: Int, iters: Int): DataFrame = {
    import graft.functions.CatalystExprs.centroid_probes
    val cents = kmeansTrain(spark, all, k, iters)
    all.select(col("vec_id"),
      element_at(centroid_probes(col("v"), col("norm"), cents, 1), 1)
        .as("cid"))
  }

  /** Per-vector final assignment over the corpus. */
  private[graft] def kmeansAssign(spark: SparkSession, sfDir: String,
      k: Int = KmClusters, iters: Int = KmIters): DataFrame =
    kmeansFit(spark, vecs(spark, sfDir), k, iters)

  /** The (truth, system-under-test) top-k frames of the eval family
    * are [[Artifacts]] frames per (corpus, k, nQueries) —
    * `q_retrieval_metrics`, `q_ndcg`, `q_recall_curve`, and the recall
    * report all join the SAME brute-force truth against the SAME IVF
    * answer (both bounded k×nQueries frames), and each referenced them
    * 2–3 times inside one plan, so the corpus scans behind them ran up
    * to a dozen times per bench run. The truth list is the eval
    * harness's train-once artifact.
    */
  private[graft] def truthTopk(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame =
    Artifacts.frame(spark, sfDir, "eval_truth_topk", k, nQueries)(
      annTopkBrute(spark, sfDir, k, nQueries))

  private[graft] def ivfTopk(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame =
    Artifacts.frame(spark, sfDir, "eval_ivf_topk", k, nQueries)(
      annIvf(spark, sfDir, k, nQueries))

  /** RETRIEVAL-QUALITY EVALUATION as a first-class operator — the
    * recall@k / MRR harness every vector-search deployment runs
    * before trusting an index (and re-runs after every reindex):
    * per query, how much of the exact brute-force top-k the IVF
    * index reproduced (`n_hits`, `recall`), and the reciprocal rank
    * at which the TRUE nearest neighbor surfaces in the approximate
    * list (`rr`, 0.0 when it is missed entirely — the MRR
    * convention).
    *
    * Both sides reuse the already-gated operators (`annTopkBrute` as
    * truth, `annIvf` as the system under test), so the eval is a
    * pure join-and-count over two bounded k×nQueries frames — no new
    * scan of the corpus beyond what the two retrievals share through
    * `vecs`'s persisted projection. Every emitted float is a single
    * division of integers (n_hits/10, 1/rank), so the metrics
    * hash-gate bit-for-bit; no cross-query averaging happens inside
    * the operator (a mean of doubles would be merge-order-sensitive —
    * callers aggregate the per-query rows in decimal if they need a
    * corpus headline).
    */
  def retrievalMetrics(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val truth = truthTopk(spark, sfDir, k, nQueries)
    val approx = ivfTopk(spark, sfDir, k, nQueries)
    // every frame here is k x nQueries-bounded BY CONSTRUCTION (200
    // rows at the defaults, at any corpus scale) but checkpoint-backed
    // (unknown stats) - hint the broadcasts explicitly
    val hits = truth.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val rr = truth.filter(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"),
        col("rnk").as("arnk"))), Seq("query_id", "neighbor_id"),
        "left_outer")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("arnk"), lit(0.0)).as("rr"))
    truth.select(col("query_id")).distinct()
      .join(broadcast(hits), Seq("query_id"), "left_outer")
      .join(broadcast(rr), Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / lit(k.toDouble)).as("recall"),
        col("rr"))
  }

  /** The binary-gain DCG rank weights 1/log2(r+1) for r = 1..10 as
    * 12-place DECIMAL LITERALS — computed once here and interpolated
    * verbatim into BOTH engines' plans (the `q_benford` literal-table
    * discipline), so NDCG needs no runtime libm log in either engine:
    * weights sum exactly in decimal, and the one division happens on
    * identical exact inputs.
    */
  private[graft] val NdcgWeights: Seq[(Long, BigDecimal)] =
    (1 to 10).map { r =>
      val w = 1.0 / (math.log(r + 1.0) / math.log(2.0))
      (r.toLong, BigDecimal(w).setScale(12, BigDecimal.RoundingMode.HALF_UP))
    }

  private[graft] val NdcgIdcg: BigDecimal = NdcgWeights.map(_._2).sum

  /** NDCG@10 of the IVF retrieval against the exact brute-force truth
    * (`q_ndcg`) — the RANK-AWARE retrieval score completing the eval
    * family (`q_retrieval_metrics` reports recall and MRR, both blind
    * to WHERE in the list the misses sit; NDCG discounts each hit by
    * its position, which is what ranking regressions actually move).
    * Binary gains (a result is relevant iff the exact top-10 contains
    * it), DCG = Σ_hits w(rank) with [[NdcgWeights]]' literal decimal
    * weights summed IN DECIMAL, IDCG the literal weight total, and
    * ndcg ONE division of exact decimals. Per-query rows, no
    * cross-query averaging (the retrievalMetrics discipline).
    */
  def ndcgAt10(spark: SparkSession, sfDir: String, nQueries: Int = 20)
      : DataFrame = {
    import spark.implicits._
    val truth = truthTopk(spark, sfDir, 10, nQueries)
    val approx = ivfTopk(spark, sfDir, 10, nQueries)
    val d1812 = org.apache.spark.sql.types.DecimalType(18, 12)
    val w = NdcgWeights.toDF("wrnk", "w")
      .select(col("wrnk"), col("w").cast(d1812).as("w"))
    val dcg = approx
      .join(broadcast(truth.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"))
      .join(broadcast(w), col("rnk") === col("wrnk"))
      .groupBy("query_id").agg(sum(col("w")).as("dcg"))
    truth.select("query_id").distinct()
      .join(broadcast(dcg), Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("dcg"), lit(BigDecimal(0)).cast(d1812))
          .cast("double").as("dcg"),
        round(coalesce(col("dcg"), lit(BigDecimal(0)).cast(d1812))
          .cast("double") /
          lit(NdcgIdcg).cast(d1812).cast("double"), 6).as("ndcg"))
  }

  /** RECALL@k CURVE (`q_recall_curve`) — recall as a FUNCTION of the
    * cut-off, k = 1..10, the tuning view a single recall@10 number
    * hides (is the index good at 3 and terrible at 10, or uniformly
    * degraded? — the answer decides nprobe vs k budgets). A truth
    * pair counts at cut-off k when BOTH its ranks fit: the
    * (query, neighbor) join collapses to a max(rank_truth,
    * rank_approx) histogram, and each k's hit count is one bounded
    * cumulative over that ≤k²-row frame — no per-k re-join. recall@k
    * = hits/(nQueries·k) is exact integer division, rounded 6.
    */
  def recallCurve(spark: SparkSession, sfDir: String, k: Int = 10,
      nQueries: Int = 20): DataFrame = {
    val truth = truthTopk(spark, sfDir, k, nQueries)
    val approx = ivfTopk(spark, sfDir, k, nQueries)
    val hits = truth
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("rt"))
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"),
        col("rnk").as("ra"))), Seq("query_id", "neighbor_id"))
      .select(greatest(col("rt"), col("ra")).as("mk"))
    val ks = truth.sparkSession.range(1, k + 1)
      .select(col("id").as("k"))
    ks.join(broadcast(hits), col("mk") <= col("k"), "left")
      .groupBy("k")
      .agg(sum(when(col("mk").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("k"), col("hits"),
        round(col("hits").cast("double") /
          (lit(nQueries.toDouble) * col("k").cast("double")), 6)
          .as("recall_at_k"))
  }

  /** HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR'09): a lexical arm (distinct-word Jaccard between the
    * query document and every corpus document — the posting-list
    * join shape `text_bm25` uses, keyed on word, never a text cross
    * join) and a dense arm (exact embedding-cosine rank, the
    * `annTopkBrute` shape over the doc_id ≡ vec_id pairing) each
    * produce a per-query top-`armK` list; RRF fuses them with
    * score = Σ 1/(60 + rank) over the arms a document appears in.
    *
    * Every number the gate sees is engine-exact: Jaccard is a single
    * division of integers, cosine is the bit-identical DotProduct
    * fold, ranks are integers, and the fused score is one addition
    * of two exact divisions — so the whole hybrid pipeline is
    * DuckDB-hash-gated, floats included.
    *
    * Scale shape: the query batch broadcasts (bounded BY DESIGN);
    * the lexical join fans out by query-term posting lists (per-word
    * df caps apply at 100 TB exactly as in `Dedup.ngramJaccard` —
    * documented trade, the query vocabulary is already ≤ one doc's
    * words); all three rank stages are bounded [[graft.plans.TopKPerKey]]
    * heaps, never corpus-keyed windows.
    */
  def rrfFusion(spark: SparkSession, sfDir: String,
      nQueries: Int = 5, armK: Int = 20, k: Int = 10,
      rrfC: Int = 60): DataFrame = {
    import graft.operators.TextMapReduce.WordSplit
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(filter(split(col("text"), WordSplit), w => w =!= ""))
          .as("w"))
    Scratch.persistDeferred(words)
    val sizes = words.select(col("doc_id"), size(col("w")).as("nw"))
    val posting = words.select(col("doc_id"), explode(col("w")).as("word"))
    val qPosting = posting.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("word"))
    // common distinct words per (query, doc) via the word-keyed join
    val common = broadcast(qPosting).join(posting, "word")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_common"))
    val lexScored = common
      .join(sizes.select(col("doc_id").as("query_id"), col("nw").as("qa")),
        "query_id")
      .join(sizes.select(col("doc_id"), col("nw").as("qb")), "doc_id")
      .withColumn("jac", col("n_common").cast("double")
        / (col("qa") + col("qb") - col("n_common")).cast("double"))
    val lex = graft.plans.TopKPerKey(
        lexScored.select(col("query_id"), col("doc_id"), col("jac")),
        Seq("query_id"), Seq(("jac", true), ("doc_id", false)), armK)
      .select(col("query_id"), col("doc_id"), col("rnk").as("r_lex"))
    val all = vecs(spark, sfDir)
    val dScored = all.join(broadcast(queryBatch(all, nQueries)),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    val dense = graft.plans.TopKPerKey(
        dScored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), armK)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rnk").as("r_dense"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfC) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfC) + col("r_dense")), lit(0.0)))
    graft.plans.TopKPerKey(
        fused.select(col("query_id"), col("doc_id"), col("rrf_score")),
        Seq("query_id"), Seq(("rrf_score", true), ("doc_id", false)), k)
      .select(col("query_id"), col("doc_id"), col("rrf_score"), col("rnk"))
  }

  /** MAXIMAL MARGINAL RELEVANCE diversified top-k (Carbonell &
    * Goldstein, SIGIR'98) — the anti-redundancy selection a retrieval
    * or eval-set builder runs after similarity search: greedily pick
    * argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), so each new
    * pick is relevant BUT far from what is already selected.
    *
    * Distributed shape: the candidate pool is the per-query brute
    * top-`poolK` (bounded heaps), the pairwise pool sims are
    * pool²-bounded PER QUERY (poolK² rows, never corpus²), and the
    * whole k-round greedy loop runs in ONE codegen'd kernel call per
    * query over the collect_list'ed pool ([[graft.functions.CatalystExprs.MmrPick]])
    * — one shuffle to group, one pass to pick. (The join-cascade
    * formulation — a TopKPerKey argmax + anti-join per round —
    * measured 10 s at sf0.1 on pure stage-scheduling overhead; the
    * kernel runs the same arithmetic in microseconds and keeps the
    * plan depth constant in k.) No driver collect, no corpus-sized
    * state: per-query payloads are poolK²-bounded constants.
    *
    * Determinism: relevance and pool sims are bit-identical DotProduct
    * cosines (candidate-first division order, mirrored in the
    * oracle), the MMR objective is the fixed-order expression
    * 0.7·rel − 0.3·maxsim with double literals on both engines, ties
    * break on vec_id (strict-> scan in id-sorted order, so the
    * collect_list input order is irrelevant) — the oracle unrolls the
    * same k−1 greedy rounds as CTE stages, so the key is hash-gated
    * end to end.
    */
  def mmrDiversify(spark: SparkSession, sfDir: String,
      k: Int = 5, poolK: Int = 20, nQueries: Int = 5): DataFrame = {
    val all = vecs(spark, sfDir)
    val scored = all.join(broadcast(queryBatch(all, nQueries)),
        col("vec_id") =!= col("query_id"))
      .withColumn("rel",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    val pool = graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("rel")),
        Seq("query_id"), Seq(("rel", true), ("vec_id", false)), poolK)
      .select(col("query_id"), col("vec_id"), col("rel"))
    Scratch.persistDeferred(pool)
    val pv = pool.join(all, "vec_id")
      .select(col("query_id"), col("vec_id"), col("v"), col("norm"))
    // candidate-first division order (da's norm divides first) —
    // dot(a,b) is bit-symmetric but x/na/nb is NOT x/nb/na; the
    // oracle mirrors this orientation
    val sims = pv.as("a").join(pv.as("b"),
        col("a.query_id") === col("b.query_id")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.vec_id").as("da"), col("b.vec_id").as("db"),
        (dot_product(col("a.v"), col("b.v"))
          / col("a.norm") / col("b.norm")).as("sim"))
    val cands = pool.groupBy("query_id")
      .agg(collect_list(struct(col("vec_id"), col("rel"))).as("cl"))
    val simArrs = sims.groupBy("query_id")
      .agg(collect_list(struct(col("da"), col("db"), col("sim"))).as("sl"))
    val packed = cands.join(simArrs, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        graft.functions.CatalystExprs.mmr_pick(
          struct(
            transform(col("cl"), s => s.getField("vec_id")),
            transform(col("cl"), s => s.getField("rel")),
            coalesce(transform(col("sl"), s => s.getField("da")),
              array().cast("array<bigint>")),
            coalesce(transform(col("sl"), s => s.getField("db")),
              array().cast("array<bigint>")),
            coalesce(transform(col("sl"), s => s.getField("sim")),
              array().cast("array<double>"))),
          0.7, 0.3, k).as("picks"))
    packed.select(col("query_id"), posexplode(col("picks")))
      .select(col("query_id"), col("col").as("vec_id"),
        (col("pos") + 1).cast("long").as("pick"))
  }
}
