package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Tables, TempDirs}
import graft.functions.CatalystExprs.{dot_product, pq_adc, pq_adc_table}

/** PERSISTED ANN index artifacts (SURVEY §2.D) — the
  * train-once/serve-many shape every real vector-search deployment
  * runs, applied to the `ann_ivf` / `ann_ivfpq` family: a BUILD job
  * trains the codebooks and encodes the corpus ONCE, writing
  *
  *   - `centroids/` — the coarse quantizer (cells rows; driver-sized
  *     BY DESIGN, like the `sketch_persist` sketch rows),
  *   - `pq/` — the per-subspace PQ codebooks (M × Ks rows), and
  *   - `codes/` — one row per corpus vector, PARTITIONED BY CELL ID:
  *     the exact (v, norm) payload for the IVF index, the (code,
  *     xnorm) 64-bit payload for IVF-PQ;
  *
  * and every later QUERY job serves top-k from the artifacts alone —
  * the corpus is never re-read, never re-encoded (plan-spec enforced:
  * no PqEncode / no raw-corpus scan in the query plan). Per-query
  * work is the probed cells only, and because `codes/` is
  * cell-partitioned parquet, the cid-keyed broadcast join prunes
  * whole partitions at the source (dynamic partition pruning — the
  * on-disk twin of `ann_ivf`'s cell pruning): at 100 TB a query
  * touches nProbe/cells of the FILES, not just of the rows.
  *
  * This is `dedup_incremental`'s fingerprint-store discipline
  * (IncrementalDedup.scala) applied to similarity search, replacing
  * the per-invocation retrain+re-encode every `ann_*` key pays
  * (Similarity.scala collects the training sample inside the query).
  *
  * Correctness: the IVF index persists EXACT vectors, so the gated
  * `ann_persisted` round trip (build → artifacts → query) reproduces
  * `ann_ivf`'s oracle-checked answer bit-for-bit and the same DuckDB
  * SQL gates it. The IVF-PQ index inherits the Lloyd-codebook regime
  * (rows-gated); its spec pins exact output equality with the
  * one-shot `ann_ivfpq` plus the artifact-only plan shape.
  */
object AnnIndex {

  /** The shared READ-ONLY IVF store, an [[Artifacts]] dir per
    * (corpus, cells): the persisted-index keys' whole point is
    * build-once/serve-many, so one session builds the index once and
    * every serving key reads the shared store. The NSW layer is built
    * into the same store: the persisted NSW graph is derived from the
    * IVF centroids and queried beside the IVF codes, so one entry owns
    * both and releasing it can never strand the other (the layer adds
    * ~0.6 s to a ~2 s IVF build at sf0.01, where a separate NSW store
    * would pay a second IVF build). Only the query/stats paths touch
    * these dirs; the maintenance key (append/rebuild MUTATES its
    * store) builds its own private copy.
    */
  private[graft] def ivfArtifacts(spark: SparkSession, sfDir: String,
      cells: Int = Similarity.IvfCells): String =
    Artifacts.dir(spark, sfDir, "ann_ivf", cells) { dir =>
      buildIvf(Similarity.vecs(spark, sfDir), dir, cells)
      buildNsw(spark, dir)
    }

  /** The shared read-only IVF-PQ store. */
  private[graft] def pqArtifacts(spark: SparkSession, sfDir: String,
      cells: Int = Similarity.IvfPqCells): String =
    Artifacts.dir(spark, sfDir, "ann_ivfpq", cells)(
      buildIvfPq(Similarity.vecs(spark, sfDir), _, cells))

  // ---- IVF: exact vectors, cell-partitioned (oracle-gated) ----------

  /** Build the IVF index: coarse centroids (the deterministic first
    * `cells` corpus vectors — `ann_ivf`'s codebook convention) plus
    * every vector's nearest-cell assignment, written cell-partitioned.
    * Assignment ranks the broadcast codebook exactly like `annIvf`
    * (csim desc, cid asc — the proven oracle-stable ordering) on slim
    * (vec_id, cid) rows; the vector payload joins back only for the
    * write, so the 16× centroid fan-out never carries arrays.
    */
  def buildIvf(all: DataFrame, dir: String,
      cells: Int = Similarity.IvfCells): Unit = {
    // the SAME codebook and assignment-ranking dag annIvf plans
    // (Similarity.ivfCentroids / centroidRanks), so the persisted
    // answer cannot drift from the one-shot operator's
    val cent = Similarity.ivfCentroids(all, cells)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    val assign = Similarity.centroidRanks(all, cent)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cid"))
    all.join(assign, "vec_id")
      .select(col("cid"), col("vec_id"), col("v"), col("norm"))
      // cluster by cell before the partitioned write (guide §6: file
      // sizing): without it every shuffle partition writes a sliver
      // into every cell directory — task-count × cells tiny files
      // that the serving reads then pay to list and open. One
      // inverted list file per cell is the IVF store's natural
      // layout (FAISS keeps one list per cell).
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes")
  }

  /** Append a NEW batch to an existing IVF index from artifacts
    * alone: assignment ranks the PERSISTED centroids (read back and
    * broadcast — the build corpus is never re-read, the
    * `dedup_incremental` discipline applied to the index), and the
    * batch's cell-partitioned codes land beside the earlier parts
    * (parquet append). Because the codebook is frozen at build time,
    * build(first half) + append(second half) produces byte-identical
    * assignments to one full build — the spec pins query equality.
    */
  def appendIvf(spark: SparkSession, batch: DataFrame, dir: String): Unit = {
    val cent = Tables.parquet(spark, s"$dir/centroids")
    val assign = Similarity.centroidRanks(batch, cent)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cid"))
    batch.join(assign, "vec_id")
      .select(col("cid"), col("vec_id"), col("v"), col("norm"))
      .repartition(col("cid")) // one appended list file per cell
      .write.mode("append").partitionBy("cid").parquet(s"$dir/codes")
  }

  /** Serve top-k from IVF artifacts ONLY: rank the persisted
    * centroids per query (tiny: nQueries × cells), then join the
    * cell-partitioned codes on the probed cids — the broadcast join
    * key is the partition column, so the parquet source prunes
    * un-probed cells (DPP) — and rank exact cosine through bounded
    * TopKPerKey heaps. `queries` is (query_id, qv, qnorm), small by
    * design (the `annTopkBrute` broadcast-side contract).
    */
  def queryIvf(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = Similarity.IvfProbes): DataFrame = {
    val cent = Tables.parquet(spark, s"$dir/centroids")
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("csim",
        dot_product(col("qv"), col("cv")) / col("qnorm") / col("cnorm"))
      .select(col("query_id"), col("cid"), col("qv"), col("qnorm"),
        row_number().over(byQ).as("crank"))
      .filter(col("crank") <= nProbe)
      .select(col("cid"), col("query_id"), col("qv"), col("qnorm"))
    val codes = Tables.parquet(spark, s"$dir/codes")
    val scored = codes.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** Gated entry: build the index into a run-scoped artifact dir,
    * then answer the standard first-20-query workload from the
    * artifacts. Same parameters as `ann_ivf`, exact payload — the
    * round trip reproduces its oracle-checked answer bit-for-bit.
    */
  def annPersisted(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val all = Similarity.vecs(spark, sfDir)
    val dir = ivfArtifacts(spark, sfDir)
    queryIvf(spark, dir, Similarity.queryBatch(all, nQueries), k)
  }

  // ---- NSW layer: persisted centroid graph (oracle-gated) -----------

  /** Build the NAVIGABLE layer next to the centroids: per centroid
    * its [[Similarity.NswDegree]] nearest other centroids by exact
    * cosine, ONE #cells × degree parquet at `dir/nsw` — the
    * serving-side twin of `ann_ivf_nsw`'s inline graph
    * (Similarity.scala:466-478), built once per (re)build instead of
    * per query. The pair ranking is the identical TopKPerKey
    * ordering (gcos desc, nid asc), so the persisted graph cannot
    * drift from the one-shot operator's.
    */
  def buildNsw(spark: SparkSession, dir: String): Unit = {
    val cent = Tables.parquet(spark, s"$dir/centroids")
    val c2 = cent.select(col("cid").as("nid"), col("cv").as("nv"),
      col("cnorm").as("nnorm"))
    val cpairs = cent.join(broadcast(c2), col("cid") =!= col("nid"))
      .withColumn("gcos",
        dot_product(col("cv"), col("nv")) / col("cnorm") / col("nnorm"))
    graft.plans.TopKPerKey(
        cpairs.select(col("cid"), col("nid"), col("gcos")),
        Seq("cid"), Seq(("gcos", true), ("nid", false)),
        Similarity.NswDegree)
      .select(col("cid"), col("nid"))
      .write.mode("overwrite").parquet(s"$dir/nsw")
  }

  /** Serve NSW-refined top-k from artifacts ONLY: the [[queryIvf]]
    * probe ranking expanded with the PERSISTED graph's neighbors of
    * each query's entry cell (one greedy hop — the HNSW layer-descent
    * step), then the same DPP-pruned codes join and bounded rank
    * tail. Candidates are a strict superset of [[queryIvf]]'s, so
    * per-query recall can only improve — and because centroids,
    * graph, ranking and payload are all exact twins of
    * [[Similarity.annIvfNsw]]'s dag, the round trip reproduces its
    * oracle-checked answer bit-for-bit (the same DuckDB SQL gates
    * both keys).
    */
  def queryIvfNsw(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = Similarity.IvfProbes): DataFrame = {
    val cent = Tables.parquet(spark, s"$dir/centroids")
    val graph = Tables.parquet(spark, s"$dir/nsw")
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val ranked = queries.crossJoin(broadcast(cent))
      .withColumn("csim",
        dot_product(col("qv"), col("cv")) / col("qnorm") / col("cnorm"))
      .select(col("query_id"), col("cid"),
        row_number().over(byQ).as("crank"))
      .filter(col("crank") <= nProbe)
    val hop = ranked.filter(col("crank") === 1)
      .join(broadcast(graph), "cid")
      .select(col("query_id"), col("nid").as("cid"))
    val probes = ranked.select("query_id", "cid")
      .unionByName(hop).distinct()
      .join(queries, "query_id")
      .select(col("cid"), col("query_id"), col("qv"), col("qnorm"))
    val codes = Tables.parquet(spark, s"$dir/codes")
    val scored = codes.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    graft.plans.TopKPerKey(
        scored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk"))
  }

  /** Gated entry (`ann_persisted_nsw`): build the IVF artifacts AND
    * the navigable layer into a run-scoped dir, then answer the
    * standard first-20-query workload from the artifacts alone —
    * `ann_ivf_nsw`'s oracle gates the round trip (exact payload,
    * identical graph/probe/rank dag). The build → append → query
    * lifecycle is spec-pinned in AnnIndexSpec like [[annPersisted]]'s.
    */
  def annPersistedNsw(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): DataFrame = {
    val all = Similarity.vecs(spark, sfDir)
    val dir = ivfArtifacts(spark, sfDir)
    queryIvfNsw(spark, dir, Similarity.queryBatch(all, nQueries), k)
  }

  /** Serve RANGE (radius) search from IVF artifacts ONLY — the
    * persisted twin of [[Similarity.annRangeSearch]], completing the
    * artifact store's query surface (top-k, filtered, and now
    * threshold search all answer from the same index): identical
    * probed-cell DPP join, the threshold predicate in place of the
    * heap, no rank stage at all. Exact payload ⇒ the same oracle as
    * the one-shot operator gates the round trip.
    */
  def queryIvfRange(spark: SparkSession, dir: String, queries: DataFrame,
      tau: Double = 0.35, nProbe: Int = Similarity.IvfProbes): DataFrame = {
    val cent = Tables.parquet(spark, s"$dir/centroids")
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("csim",
        dot_product(col("qv"), col("cv")) / col("qnorm") / col("cnorm"))
      .select(col("query_id"), col("cid"), col("qv"), col("qnorm"),
        row_number().over(byQ).as("crank"))
      .filter(col("crank") <= nProbe)
      .select(col("cid"), col("query_id"), col("qv"), col("qnorm"))
    Tables.parquet(spark, s"$dir/codes")
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
      .filter(col("cos") >= lit(tau))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Gated entry for the persisted range search: build once, answer
    * the standard query batch from artifacts at the standard τ. */
  def annPersistedRange(spark: SparkSession, sfDir: String,
      tau: Double = 0.35, nQueries: Int = 20): DataFrame = {
    val all = Similarity.vecs(spark, sfDir)
    val dir = ivfArtifacts(spark, sfDir)
    queryIvfRange(spark, dir, Similarity.queryBatch(all, nQueries), tau)
  }

  /** INDEX-HEALTH report from the artifact store ALONE: per-cell
    * occupancy and share — `q_skew_report`'s twin for the vector
    * store. A hot cell is the IVF analogue of a hot join key: probe
    * cost is per-cell, so occupancy imbalance IS the query-latency
    * tail, and this is the number an operator watches before growing
    * `cells` (FAISS's √n rule) or re-training the coarse quantizer.
    * One |codes|→|cells| partial-agg shuffle over the store; the raw
    * corpus is never touched.
    */
  def indexStats(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ivfArtifacts(spark, sfDir)
    val codes = Tables.parquet(spark, s"$dir/codes")
    val tot = codes.agg(count(lit(1)).as("total"))
    codes.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(tot))
      .select(col("cid").cast("long").as("cid"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("total").cast("double"),
          9).as("share"))
  }

  /** Rebuild when the hottest cell holds more than this share of the
    * index — occupancy this skewed means the coarse quantizer no
    * longer matches the data distribution, and probe latency (per-cell
    * cost) has a fat tail no append can fix.
    */
  val RebuildHotShare = 0.5

  final case class MaintainReport(decision: String, nBefore: Long,
      mBatch: Long, cellsBefore: Long, hotShare: Double,
      cellsAfter: Long, nAfter: Long)

  /** INDEX MAINTENANCE LOOP (`ann_maintain`) — `q_sink_optimize`'s
    * twin for the vector store: ONE bounded pass over the persisted
    * index (the `ann_index_stats` occupancy aggregate, |codes|→|cells|
    * partial-agg) plus the batch size decides, against FAISS's √n
    * cells rule, whether the incoming batch can APPEND under the
    * frozen codebook or the index must REBUILD:
    *
    *   - `cells < ⌊√(n+m)⌋ / 2` (badly undersized for the grown
    *     corpus — per-cell scan cost has outrun the √n optimum), or
    *     hottest-cell share > [[RebuildHotShare]] (quantizer no
    *     longer fits the distribution)  → REBUILD at
    *     `max(cells, ⌊√(n+m)⌋)` cells — and the retrain reads the
    *     index's own exact payload, never the raw corpus (the
    *     artifact-only discipline end to end),
    *   - otherwise → APPEND ([[appendIvf]]: assignment against the
    *     frozen persisted centroids, new cell-partitioned parts).
    *
    * The decision inputs and the post-state (cells/codes counts read
    * back from the artifacts) are reproduced by the gate as a SQL
    * CASE over the same statistics — a wrong branch, a rebuild that
    * loses vectors, or an append that silently retrains all
    * hash-fail. The skew-forced rebuild branch is spec-planted.
    */
  def maintainIvf(spark: SparkSession, dir: String, batch: DataFrame)
      : MaintainReport = {
    val codes = Tables.parquet(spark, s"$dir/codes")
    // ONE bounded occupancy pass: total vectors + hottest cell
    val occ = codes.groupBy("cid").agg(count(lit(1)).as("nv"))
      .agg(sum(col("nv")).as("n"), max(col("nv")).as("hot")).first()
    val n = occ.getLong(0)
    val hot = occ.getLong(1)
    val cells = Tables.parquet(spark, s"$dir/centroids").count()
    val m = batch.count()
    val hotShare = hot.toDouble / n.toDouble
    val target = math.floor(math.sqrt((n + m).toDouble)).toLong
    val decision =
      if (cells < target / 2 || hotShare > RebuildHotShare) "rebuild"
      else "append"
    if (decision == "rebuild") {
      // the retrain corpus is the index's OWN exact payload + batch;
      // localCheckpoint materializes it BEFORE buildIvf overwrites
      // the very files it was read from
      val full = codes.select(col("vec_id"), col("v"), col("norm"))
        .unionByName(batch.select(col("vec_id"), col("v"), col("norm")))
        .localCheckpoint()
      buildIvf(full, dir, cells = math.max(cells, target).toInt)
    } else appendIvf(spark, batch, dir)
    MaintainReport(decision, n, m, cells, hotShare,
      Tables.parquet(spark, s"$dir/centroids").count(),
      Tables.parquet(spark, s"$dir/codes").count())
  }

  /** Gated entry: build over the id-lower half at the standard 16
    * cells, maintain with the upper half as the incoming batch, and
    * report decision + decision inputs + artifact-read post-state in
    * one row.
    */
  def annMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Similarity.vecs(spark, sfDir)
    val mid = all.agg(
      floor((min(col("vec_id")) + max(col("vec_id"))) / lit(2.0))
        .cast("long")).first().getLong(0)
    val dir = TempDirs.create("graft_ann_maintain").toString
    buildIvf(all.filter(col("vec_id") <= mid), dir)
    val rep = maintainIvf(spark, dir,
      all.filter(col("vec_id") > mid)
        .select(col("vec_id"), col("v"), col("norm")))
    val spark0 = all.sparkSession
    spark0.range(1).select(
      lit(rep.decision).as("decision"),
      lit(rep.nBefore).as("n_before"),
      lit(rep.mBatch).as("m_batch"),
      lit(rep.cellsBefore).as("cells_before"),
      round(lit(rep.hotShare), 9).as("hot_share"),
      lit(rep.cellsAfter).as("cells_after"),
      lit(rep.nAfter).as("n_after"))
  }

  // ---- IVF-PQ: trained codebooks + 64-bit codes (rows-gated) --------

  /** Build the IVF-PQ index: train the coarse + per-subspace Lloyd
    * codebooks ONCE (the bounded deterministic sample — `ann_ivfpq`'s
    * exact training recipe, so artifacts reproduce its geometry),
    * persist both codebooks as parquet rows, and encode the corpus in
    * one kernel projection — (code, xnorm) per vector, written
    * cell-partitioned. After this job the raw corpus is only ever
    * touched again to re-rank pool-sized row sets.
    */
  def buildIvfPq(all: DataFrame, dir: String,
      cells: Int = Similarity.IvfPqCells): Unit = {
    import all.sparkSession.implicits._
    import graft.functions.CatalystExprs.{centroid_probes, pq_encode, pq_recon_norm}
    val sample = Similarity.unitSample(all)
    val coarse = Similarity.lloyd(sample, cells, Similarity.PqLloydIters)
    val cb = Similarity.pqCodebooks(sample)
    val nrm2: Array[Array[Double]] = cb.map(_.map(sv => sv.map(x => x * x).sum))
    coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "cv")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    cb.zipWithIndex.flatMap { case (sub, j) =>
        sub.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
      }.toSeq.toDF("j", "c", "cv")
      .write.mode("overwrite").parquet(s"$dir/pq")
    all.select(
        element_at(centroid_probes(col("v"), col("norm"), coarse, 1), 1)
          .as("cid"),
        col("vec_id"),
        pq_encode(col("v"), col("norm"), cb).as("code"),
        pq_recon_norm(col("code"), nrm2).as("xnorm"))
      .repartition(col("cid")) // one code-list file per cell (see buildIvf)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes")
  }

  /** Append a NEW batch to an existing IVF-PQ index from artifacts
    * alone: both codebooks reload from the store (never retrain —
    * the frozen-codebook contract that makes the index incremental),
    * the batch encodes in one kernel projection, and its
    * cell-partitioned codes land beside the earlier parts. The spec
    * pins build+append ≡ full build, which holds exactly when the
    * build half contains the whole deterministic training sample.
    */
  def appendIvfPq(spark: SparkSession, batch: DataFrame,
      dir: String): Unit = {
    import graft.functions.CatalystExprs.{centroid_probes, pq_encode, pq_recon_norm}
    val (coarse, cb) = loadCodebooks(spark, dir)
    val nrm2: Array[Array[Double]] = cb.map(_.map(sv => sv.map(x => x * x).sum))
    batch.select(
        element_at(centroid_probes(col("v"), col("norm"), coarse, 1), 1)
          .as("cid"),
        col("vec_id"),
        pq_encode(col("v"), col("norm"), cb).as("code"),
        pq_recon_norm(col("code"), nrm2).as("xnorm"))
      .repartition(col("cid")) // one appended list file per cell
      .write.mode("append").partitionBy("cid").parquet(s"$dir/codes")
  }

  /** Reload the persisted codebooks as driver arrays — bounded by
    * construction (cells + M·Ks rows; the codebook IS driver-sized,
    * that is what makes it a broadcastable kernel constant).
    */
  private def loadCodebooks(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val coarse = Tables.parquet(spark, s"$dir/centroids")
      .orderBy("cid").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("cv")).toArray)
    val pqRows = Tables.parquet(spark, s"$dir/pq")
      .orderBy("j", "c").collect()
      .map(r => (r.getInt(r.fieldIndex("j")),
        r.getSeq[Double](r.fieldIndex("cv")).toArray))
    val cb = pqRows.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.map(_._2) }
    (coarse, cb)
  }

  /** Serve top-k from IVF-PQ artifacts: ADC tables from the RELOADED
    * codebooks, candidate scan over the cell-partitioned codes (DPP
    * prunes un-probed cells; each candidate costs PqM table lookups),
    * bounded-heap pool cut, then exact re-rank of the pool-sized row
    * set against `raw` — the ONLY raw-vector access, `rerank` rows
    * per query regardless of corpus size. The corpus is never
    * re-encoded (plan-spec: no PqEncode anywhere in this plan).
    */
  def queryIvfPq(spark: SparkSession, dir: String, queries: DataFrame,
      raw: DataFrame, k: Int = 10, rerank: Int = 100,
      nProbe: Int = Similarity.IvfPqProbes): DataFrame = {
    import graft.functions.CatalystExprs.centroid_probes
    val (coarse, cb) = loadCodebooks(spark, dir)
    val q = queries.select(col("query_id"),
      explode(centroid_probes(col("qv"), col("qnorm"), coarse, nProbe))
        .as("cid"),
      pq_adc_table(col("qv"), col("qnorm"), cb).as("tbl"))
    val codes = Tables.parquet(spark, s"$dir/codes")
    val approx = codes.join(broadcast(q), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", pq_adc(col("tbl"), col("code")) / col("xnorm"))
    val pool = graft.plans.TopKPerKey(
        approx.select(col("query_id"), col("vec_id"), col("acos")),
        Seq("query_id"), Seq(("acos", true), ("vec_id", false)), rerank)
      .select(col("query_id"), col("vec_id"))
    val exactQ = queries.select(col("query_id"), col("qv"), col("qnorm"))
    val rescored = pool
      .join(raw, "vec_id")
      .join(broadcast(exactQ), "query_id")
      .withColumn("cos",
        dot_product(col("qv"), col("v")) / col("qnorm") / col("norm"))
    graft.plans.TopKPerKey(
        rescored.select(col("query_id"), col("vec_id"), col("cos")),
        Seq("query_id"), Seq(("cos", true), ("vec_id", false)), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** Gated entry (rows-spec regime): build once, serve the standard
    * workload from artifacts. Identical training recipe and
    * parameters to `ann_ivfpq`, so the spec pins EXACT output
    * equality with the one-shot operator — the persisted round trip
    * loses nothing — plus the 0.8 recall floor it inherits.
    */
  def annPersistedPq(spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20, rerank: Int = 100): DataFrame = {
    val all = Similarity.vecs(spark, sfDir)
    val dir = pqArtifacts(spark, sfDir)
    queryIvfPq(spark, dir, Similarity.queryBatch(all, nQueries), all, k,
      rerank)
  }
}
