package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Statistical inference over event metrics — the uncertainty layer a
  * measurement pipeline needs once point estimates start driving
  * decisions (dataset ablations, A/B rollouts, drift alarms).
  *
  * Cross-engine discipline (both operators hash-gate vs DuckDB):
  * randomness is md5-derived (the one hash both engines compute
  * identically), moment sums are exact DECIMAL, and every IEEE-double
  * step (division, sqrt) runs on identical exact inputs so the result
  * is bit-identical; outputs round to fixed places before the gate.
  */
object Stats {

  private def money(c: Column): Column = Relational.money(c)

  /** Mersenne prime 2^31−1 — the replicate-hash modulus. Affine maps
    * a·h+b mod M with a ∈ [1,M), b ∈ [0,M) form a pairwise-independent
    * family whose products stay under 2^62: overflow-free BIGINT
    * arithmetic in BOTH engines (the `stream_near_dup` signing
    * recipe — DuckDB has no wraparound multiply, so staying in-range
    * is what keeps the oracle exact).
    */
  private[graft] val M31 = 2147483647L

  /** Poisson(1) CDF cut points scaled to M31:
    * T(k) = floor(P(X<=k) * (2^31−1)), k = 0..6. A replicate-hash
    * uniform h ∈ [0, M31) maps to bootstrap weight
    * w = #{k : h >= T(k)} (so P(w=0) = e^-1, P(w<=1) = 2e^-1, …,
    * capped at 7) — the standard Poisson approximation to multinomial
    * resampling, made DETERMINISTIC and engine-portable: both engines
    * compare the same integer hash to the same integer literals, so
    * replicate membership is identical everywhere. Constants
    * precomputed at 60-digit precision.
    */
  private[graft] val PoissonCdfM31: Seq[Long] = Seq(
    790015083L, 1580030167L, 1975037709L, 2106706890L,
    2139624185L, 2146207644L, 2147304887L)

  /** One 48-bit md5 → uniform in [0, M31). */
  private[graft] def md5Mod(prefix: String, c: Column): Column =
    conv(substring(md5(concat(lit(prefix), c.cast("string"))), 1, 12),
      16, 10).cast("long") % M31

  /** The replicate parameters: r ∈ [0, reps) with md5-derived affine
    * coefficients (a, b), PLUS the r = −1 point-estimate row (weight
    * pinned to 1). Computed DRIVER-side with the same md5 formula the
    * oracle unrolls in SQL (a spec pins the equivalence against the
    * in-engine derivation) and fanned out as a LITERAL array through
    * `explode` — a codegen'd Generate, NOT a BroadcastNestedLoopJoin
    * (the 65-row broadcast join measured ~5× slower: BNLJ
    * materializes a joined row per pair). The corpus side pays ONE
    * md5 per row and a multiply-mod per replicate.
    */
  private[graft] def replicateParamsLocal(reps: Int): Seq[(Int, Long, Long)] = {
    def md5mod(s: String, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      // first 12 hex chars = 48 bits, matching substring(md5(x),1,12)
      java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16) % m
    }
    (0 until reps).map(r =>
      (r, 1L + md5mod("bootA" + r, M31 - 1), md5mod("bootB" + r, M31))) :+
      ((-1, 0L, 0L))
  }

  /** The same parameters derived IN-ENGINE (what the DuckDB oracle
    * unrolls) — the spec's reference for [[replicateParamsLocal]].
    */
  private[graft] def replicateParams(spark: SparkSession, reps: Int)
      : DataFrame = {
    val r = spark.range(reps).select(col("id").cast("int").as("r"))
      .withColumn("a",
        lit(1L) + (conv(substring(md5(concat(lit("bootA"),
          col("r").cast("string"))), 1, 12), 16, 10).cast("long")
          % (M31 - 1)))
      .withColumn("b", md5Mod("bootB", col("r")))
    r.unionAll(spark.range(1).select(lit(-1).as("r"),
      lit(0L).as("a"), lit(0L).as("b")))
  }

  /** BOOTSTRAP CONFIDENCE INTERVALS for the per-event-type mean value
    * — R = 64 deterministic Poisson bootstrap replicates.
    *
    * Each (event, replicate) draws weight w ~ Poisson(1) from an
    * affine replicate hash (see [[PoissonCdfM31]]); replicate means are
    * exact integer-cent weighted sums divided once in double and rounded to 9
    * places; the CI is the [2nd, 63rd] ORDER STATISTIC of the 64
    * sorted replicate means (≈ the 2.5%/97.5% percentile bootstrap —
    * element selection, never interpolation, so both engines pick the
    * same value bit-for-bit).
    *
    * Scale shape: the replicate fan-out is a map-side codegen'd
    * explode of the literal parameter array — 65× rows into a PARTIAL
    * aggregation keyed (event_type, r), so shuffle rows = types × 65 ×
    * partitions
    * regardless of corpus size; the order-statistic step handles 64
    * values per type. No global sort, no per-replicate scan — ONE scan
    * total vs the naive R re-scans.
    */
  def bootstrapCi(spark: SparkSession, sfDir: String, reps: Int = 64)
      : DataFrame =
    bootstrapCiOver(Tables.events(spark, sfDir), reps)

  /** Same operator over any (event_id, event_type, value) frame —
    * planted-weight specs pin the Poisson mapping and coverage.
    *
    * The POINT estimate rides the same fan-out as replicate r = −1
    * with weight 1, so ONE grouped aggregate (one corpus scan, one
    * exchange — reused by both output branches) produces the point
    * mean and all replicate means together. The fan-out itself is a
    * codegen'd explode of the 65-entry literal parameter array: the
    * corpus pays ONE md5 (h0) per row, each replicate only an affine
    * (a·h0+b) mod M31.
    */
  def bootstrapCiOver(events: DataFrame, reps: Int): DataFrame = {
    val agg = replicateMeans(events, reps)
    // conditional aggregation folds the point row and the 64 replicate
    // rows into ONE grouped pass — no second branch, no join, so the
    // corpus is structurally scanned exactly once (collect_list skips
    // the nulls the `when` leaves on the other side)
    agg.groupBy("event_type")
      .agg(
        max(when(col("r") === -1, col("sw"))).as("n"),
        max(when(col("r") === -1, col("m"))).as("mean"),
        sort_array(collect_list(when(col("r") >= 0, col("m")))).as("ms"))
      .select(col("event_type"), col("n"), col("mean"),
        element_at(col("ms"), 2).as("ci_lo"),
        element_at(col("ms"), reps - 1).as("ci_hi"))
  }

  /** The shared replicate fan-out of the deterministic Poisson
    * bootstrap: per-(event_type, replicate) weighted means, with the
    * POINT estimate riding replicate r = −1 at weight 1 — ONE
    * grouped aggregate over one corpus scan ([[bootstrapCiOver]]'s
    * engine, extracted so [[bootstrapDiff]] reuses the identical
    * dag). Exact integer CENTS, not decimal: the 65×-fanned
    * aggregate sums primitive longs in codegen (a decimal buffer at
    * 39M rows measured ~3× slower); the corpus pays ONE md5 per row,
    * each replicate only an affine (a·h0+b) mod M31.
    */
  private def replicateMeans(events: DataFrame, reps: Int): DataFrame = {
    val ev = events.select(col("event_id"), col("event_type"),
      (money(col("value")) * 100).cast("long").as("vc"))
      .withColumn("h0", md5Mod("boot", col("event_id")))
    val pois = PoissonCdfM31
      .map(t => (col("h") >= t).cast("int"))
      .reduce(_ + _)
    ev
      .withColumn("p", explode(typedLit(replicateParamsLocal(reps))))
      .select(col("event_type"), col("vc"), col("h0"),
        col("p._1").as("r"), col("p._2").as("a"), col("p._3").as("b"))
      .withColumn("h", (col("a") * col("h0") + col("b")) % M31)
      .withColumn("w",
        when(col("r") === -1, lit(1L)).otherwise(pois.cast("long")))
      .groupBy("event_type", "r")
      .agg(sum(col("w") * col("vc")).as("swv"), sum(col("w")).as("sw"))
      .select(col("event_type"), col("r"), col("sw"),
        round((col("swv").cast("double") / lit(100.0)) /
          col("sw").cast("double"), 9).as("m"))
  }

  /** BOOTSTRAP CI ON THE TREATMENT EFFECT — the uncertainty readout
    * the experiment family was missing: the A−B difference of mean
    * values with a percentile interval from the SAME 64 deterministic
    * Poisson replicates ([[bootstrapCi]] bounds a mean; decisions
    * ship on the CONTRAST, and "does the interval cross zero" is the
    * launch call). Replicates are coupled — replicate r resamples
    * both arms with the same weights table — which is exactly how a
    * paired bootstrap on one event stream should behave. Same
    * one-scan fan-out (restricted to the two arms before the 65×
    * explode), diffs of per-replicate means, percentile pick on the
    * 64 sorted diffs.
    */
  def bootstrapDiff(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click",
      reps: Int = 64): DataFrame = {
    val rm = replicateMeans(
      Tables.events(spark, sfDir)
        .filter(col("event_type").isin(typeA, typeB)), reps)
    val a = rm.filter(col("event_type") === typeA)
      .select(col("r"), col("sw").as("na"), col("m").as("ma"))
    val b = rm.filter(col("event_type") === typeB)
      .select(col("r").as("rb"), col("sw").as("nb"), col("m").as("mb"))
    a.join(b, col("r") === col("rb"))
      .withColumn("d", col("ma") - col("mb"))
      .agg(
        max(when(col("r") === -1, col("na"))).as("n_a"),
        max(when(col("r") === -1, col("nb"))).as("n_b"),
        max(when(col("r") === -1, col("d"))).as("diff"),
        sort_array(collect_list(when(col("r") >= 0, col("d")))).as("ds"))
      .select(col("n_a"), col("n_b"), round(col("diff"), 9).as("diff"),
        round(element_at(col("ds"), 2), 9).as("ci_lo"),
        round(element_at(col("ds"), reps - 1), 9).as("ci_hi"))
  }

  /** LABEL-ERROR MINING with the trained probe (confident-learning-
    * lite): rank examples by |probe score − label| — a confidently
    * contradicted label is the classic annotation-error signal, and
    * reviewing the top of this list is how real training sets get
    * cleaned.
    *
    * The scores are CROSS-FITTED (each fold scored by a model trained
    * on the OTHER folds, md5 fold assignment) — the confident-learning
    * requirement, not a refinement: at d = 65 > n_fold the in-sample
    * fit INTERPOLATES a flipped label and scores it as correct (we
    * measured exactly that — the planted flip ranked 375th in-sample,
    * 1st cross-fitted). Ranking is a bounded global top-k
    * ([[graft.plans.TopKPerKey]] on a constant key — k rows per
    * partition into the final merge, never a global sort).
    * Rows-gated; the planted-flip spec pins rank 1.
    */
  def probeMislabel(spark: SparkSession, sfDir: String,
      k: Int = 20, folds: Int = 3): DataFrame = {
    val features = Tables.embeddings(spark, sfDir)
      .filter(col("label").isin(0, 1))
      .select(col("vec_id"),
        (col("label") === 0).cast("int").as("y"),
        col("embedding").cast("array<double>").as("x"))
    // the cross-fitted fold betas are an `Artifacts` driver value per
    // (corpus, folds): the Newton cross-fit (folds × 8 driver-loop
    // aggregate jobs) is the train-once artifact, the mislabel
    // ranking a cheap scoring pass over it
    val betas = Artifacts.value(spark, sfDir, "probe_betas", folds)(
      trainFoldBetas(features, folds))
    scoreFolds(features, betas, k)
  }

  /** Cross-fitted mining over any (vec_id, y, x) frame (the planted-
    * flip spec path — un-memoized).
    */
  private[graft] def probeMislabelCross(features: DataFrame, k: Int,
      folds: Int): DataFrame =
    scoreFolds(features, trainFoldBetas(features, folds), k)

  /** The train half of the cross-fit: one beta per fold, each fit on
    * the OTHER folds. The fold-tagged frame persists for the whole
    * cross-fit (like the `vecs()` corpus cache): every fold's fit
    * reads it, so without the cache the source would re-scan ~2x per
    * fold.
    */
  private[graft] def trainFoldBetas(features: DataFrame,
      folds: Int): Seq[Array[Double]] = {
    require(folds >= 2, s"cross-fit needs >= 2 folds, got $folds")
    val feats = features.withColumn("fold",
      (md5Mod("fold", col("vec_id")) % folds).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      (0 until folds).map { f =>
        // doPersist=false: the fold filters read the outer cache —
        // a second inner persist would hold ~2x the corpus in
        // storage during each fold's Newton loop
        fitBeta(feats.filter(col("fold") =!= f).drop("fold"),
          8, ridge = 1.0, doPersist = false)._1
      }
    finally { feats.unpersist(); () }
  }

  /** The serve half: score each fold with its cross-fitted beta and
    * rank — ONE codegen'd projection per fold plus the bounded top-k,
    * no training jobs.
    */
  private def scoreFolds(features: DataFrame,
      betas: Seq[Array[Double]], k: Int): DataFrame = {
    val feats = features.withColumn("fold",
      (md5Mod("fold", col("vec_id")) % betas.length).cast("int"))
    val scored = betas.zipWithIndex.map { case (beta, f) =>
        scoreWith(feats.filter(col("fold") === f).drop("fold"), beta)
      }
      .reduce(_ unionAll _)
    probeMislabelOver(scored, k)
  }

  /** Ranking stage over any (vec_id, y, score) scored frame. */
  private[graft] def probeMislabelOver(scored: DataFrame, k: Int)
      : DataFrame =
    graft.plans.TopKPerKey(
        scored.select(col("vec_id"), col("y"), col("score"),
          round(abs(col("score") - col("y").cast("double")), 6)
            .as("margin"), lit(1).as("g")),
        Seq("g"), Seq(("margin", true), ("vec_id", false)), k)
      .select(col("vec_id"), col("y"), col("score"), col("margin"),
        col("rnk"))

  /** KEY-SKEW REPORT over events.user_id — the diagnosis that decides
    * whether a join/agg needs salting (`q_salted_agg`/`q_skew_join`
    * are the cures; this is the measurement): per-key counts in one
    * partial-agg shuffle, then a one-row summary over the (small)
    * per-key table — key cardinality, max/total concentration of the
    * hottest key, the hot key itself, and the mean keys-per-count
    * ratio p99-style proxy max/avg. Everything integer or one final
    * division — exact on both engines.
    *
    * Scale shape: shuffle #1 is the keyed partial agg (rows = keys ×
    * partitions); the summary input is |keys| rows, never |events|.
    */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    counts
      .select(col("user_id"), col("n"),
        struct(col("n"), col("user_id").as("k")).as("nk"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        max(col("nk")).getField("k").as("hottest_key"))
      .select(col("n_keys"), col("n_rows"), col("max_n"),
        col("hottest_key"),
        round(col("max_n").cast("double") / col("n_rows").cast("double"), 9)
          .as("max_share"),
        round(col("max_n").cast("double") *
          col("n_keys").cast("double") / col("n_rows").cast("double"), 6)
          .as("skew_factor"))
  }

  /** TRAIN a LINEAR PROBE (logistic regression head) over the
    * embeddings table INSIDE the engine — the quality-classifier
    * shape modern curation pipelines actually use (a linear head on
    * frozen embeddings, fineweb-edu-style), fit by NEWTON/IRLS where
    * each iteration is ONE fixed-size object aggregate
    * ([[graft.functions.LogisticNewtonAgg]]): per-row gradient and
    * upper-triangular Hessian terms partial-aggregate map-side, a
    * single 2211-number row (d = 65 with bias) reaches the driver,
    * and the d×d pivoted solve runs there — the GramAgg
    * bounded-collect pattern, supervised. Task: label 0 vs label 1
    * vectors (the corpus's planted binary pair).
    *
    * Scale shape: the feature frame is derived once and persisted;
    * each of the `iters` Newton steps re-scans it with the new β in
    * the aggregator's closure — at 100 TB you fit on a deterministic
    * sample (`q_det_sample`) and score the corpus with the final β in
    * ONE projection pass (the codegen'd dot_product below IS that
    * pass). Rows-gated: double sums are ulp-order-sensitive, so the
    * spec pins monotone loss decrease, accuracy ≥ a measured floor
    * over the class prior, score range, and tolerance-determinism —
    * the portable contract.
    */
  def linearProbe(spark: SparkSession, sfDir: String,
      iters: Int = 8): DataFrame =
    linearProbeModel(spark, sfDir, iters)._1

  /** The fitted run: (scored frame, β, per-iteration losses) — the
    * invariant specs read the training trace.
    */
  private[graft] def linearProbeModel(spark: SparkSession,
      sfDir: String, iters: Int)
      : (DataFrame, Array[Double], Seq[Double]) =
    linearProbeModelOver(
      Tables.embeddings(spark, sfDir)
        .filter(col("label").isin(0, 1))
        .select(col("vec_id"),
          (col("label") === 0).cast("int").as("y"),
          col("embedding").cast("array<double>").as("x")),
      iters)

  /** Same fit over any (vec_id, y, x: array<double>) frame — the
    * planted-flip mislabel spec trains on corrupted labels.
    */
  private[graft] def linearProbeModelOver(features: DataFrame, iters: Int)
      : (DataFrame, Array[Double], Seq[Double]) = {
    val (beta, losses) = fitBeta(features, iters)
    (scoreWith(features, beta), beta, losses)
  }

  /** The Newton loop alone: persists the feature frame for its
    * `iters` scans and unpersists before returning (β, losses).
    * Callers whose frame is already cached pass `doPersist = false`
    * to avoid holding a second copy in storage.
    */
  private[graft] def fitBeta(features: DataFrame, iters: Int,
      ridge: Double = 1e-8, doPersist: Boolean = true)
      : (Array[Double], Seq[Double]) = {
    val spark = features.sparkSession
    import spark.implicits._
    val feats = if (doPersist)
      features.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else features
    try {
      // d derived from the data (dim + bias): the API really does
      // accept any (vec_id, y, x) frame, not just 64-dim embeddings.
      // headOption: an EMPTY training frame (bad fold split, no
      // labeled rows) must fail with a diagnosis, not a bare
      // NoSuchElementException mid-fit
      val first = feats.select(size(col("x"))).limit(1).collect()
        .headOption.getOrElse(throw new IllegalArgumentException(
          "fitBeta: empty feature frame — nothing to fit"))
      require(!first.isNullAt(0),
        "fitBeta: null feature vector in first row")
      val d = first.getInt(0) + 1
      var beta = Array.fill(d)(0.0)
      val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
      var it = 0
      while (it < iters) {
        val buf = feats
          .select(col("y").cast("double"), col("x"))
          .as[(Double, Seq[Double])]
          .select(graft.functions.LogisticNewtonAgg.agg(beta).toColumn)
          .head() // bounded: ONE row with the (g, H) sufficient stats
        losses += buf.loss
        val h = Array.ofDim[Double](d, d)
        var k = 0
        for (j <- 0 until d; l <- j until d) {
          h(j)(l) = buf.h(k); h(l)(j) = buf.h(k); k += 1
        }
        // ridge: 1e-8 default only stabilizes the solve; the
        // cross-fit path passes a REAL lambda so held-out scores
        // generalize at n_fold ~ d (penalty skips the bias)
        val g = buf.g.clone
        for (j <- 1 until d) { h(j)(j) += ridge; g(j) -= ridge * beta(j) }
        h(0)(0) += 1e-8
        val delta = solve(h, g)
        beta = beta.zip(delta).map { case (b, dd) => b + dd }
        it += 1
      }
      (beta, losses.toSeq)
    } finally { if (doPersist) { feats.unpersist(); () } }
  }

  /** Score any (vec_id, y, x) frame with a fitted β — ONE codegen'd
    * dot_product projection pass.
    */
  private[graft] def scoreWith(features: DataFrame, beta: Array[Double])
      : DataFrame = {
    import graft.functions.CatalystExprs.dot_product
    features.select(col("vec_id"), col("y"),
      round(lit(1.0) / (lit(1.0) +
        exp(-(lit(beta(0)) +
          dot_product(col("x"), typedLit(beta.drop(1).toSeq))))), 6)
        .as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("int"))
  }

  /** In-place Gaussian elimination with partial pivoting — the d×d
    * driver solve (d = 65 for the probe: ~d³/3 ≈ 9e4 flops, bounded,
    * deterministic evaluation order).
    */
  private def solve(a0: Array[Array[Double]], b0: Array[Double])
      : Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone)
    val b = b0.clone
    for (c <- 0 until d) {
      var piv = c
      for (r2 <- c + 1 until d)
        if (math.abs(a(r2)(c)) > math.abs(a(piv)(c))) piv = r2
      val t = a(c); a(c) = a(piv); a(piv) = t
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      for (r2 <- c + 1 until d) {
        val f = a(r2)(c) / a(c)(c)
        for (c2 <- c until d) a(r2)(c2) -= f * a(c)(c2)
        b(r2) -= f * b(c)
      }
    }
    val x = Array.ofDim[Double](d)
    for (c <- d - 1 to 0 by -1) {
      var s = b(c)
      for (c2 <- c + 1 until d) s -= a(c)(c2) * x(c2)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** WELCH'S t-TEST between the mean `value` of two event types —
    * the unequal-variance two-sample test (the honest default when
    * group sizes and variances differ, as event metrics always do).
    *
    * All moments (n, Σx, Σx²) are EXACT decimal sums from one
    * partial-aggregated scan; mean/variance/t/df are then a fixed
    * dag of IEEE double ops on identical inputs in both engines
    * (divide, multiply, sqrt — each correctly rounded, so
    * bit-identical), rounded to 6 places at the gate. df is
    * Welch–Satterthwaite. At 100 TB this is the same one-scan
    * partial-agg shape — test statistics are free once the moment
    * sums exist (the `q_regression` recipe).
    */
  def abTest(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame =
    abTestOver(Tables.events(spark, sfDir), typeA, typeB)

  /** Same operator over any (event_type, value) frame — a
    * known-answer spec pins the t/df arithmetic.
    */
  def abTestOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    val m = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), money(col("value")).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      .select(col("event_type"), col("n").cast("double").as("n"),
        col("s").cast("double").as("s"), col("ss").cast("double").as("ss"))
    val a = m.filter(col("event_type") === typeA)
      .select(col("n").as("na"), col("s").as("sa"), col("ss").as("ssa"))
    val b = m.filter(col("event_type") === typeB)
      .select(col("n").as("nb"), col("s").as("sb"), col("ss").as("ssb"))
    // 1-row × 1-row: the cross join is a broadcast of a single row
    a.crossJoin(broadcast(b))
      .withColumn("ma", col("sa") / col("na"))
      .withColumn("mb", col("sb") / col("nb"))
      .withColumn("va",
        (col("ssa") - col("na") * col("ma") * col("ma")) / (col("na") - 1))
      .withColumn("vb",
        (col("ssb") - col("nb") * col("mb") * col("mb")) / (col("nb") - 1))
      .withColumn("sea", col("va") / col("na"))
      .withColumn("seb", col("vb") / col("nb"))
      .withColumn("t",
        (col("ma") - col("mb")) / sqrt(col("sea") + col("seb")))
      .withColumn("df",
        ((col("sea") + col("seb")) * (col("sea") + col("seb"))) /
          (col("sea") * col("sea") / (col("na") - 1) +
           col("seb") * col("seb") / (col("nb") - 1)))
      .select(
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round(col("t"), 6).as("t_stat"), round(col("df"), 6).as("df"))
  }

  /** TOST EQUIVALENCE TEST (`q_tost`) — two one-sided Welch t-tests
    * (Schuirmann '87, the regulatory bioequivalence standard) asking
    * the question [[abTest]] cannot: not "do the means DIFFER" but
    * "are they equivalent WITHIN ±margin" — the readout a no-regression
    * launch review actually needs (an insignificant difference test
    * is NOT evidence of equivalence; TOST is). Both one-sided
    * statistics t_lower = (d + m)/se and t_upper = (m − d)/se ride
    * the SAME exact decimal moment pass as abTest (one
    * conditional-agg scan, a 1-row broadcast cross), the margin is a
    * fixed literal, and equivalence is declared when BOTH exceed the
    * z₀.₀₅ = 1.645 literal (large-sample critical value — df here is
    * in the thousands). One IEEE dag per statistic, rounded 6.
    */
  def tost(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "view",
      margin: Double = 0.25): DataFrame = {
    val m = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), money(col("value")).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      .select(col("event_type"), col("n").cast("double").as("n"),
        col("s").cast("double").as("s"), col("ss").cast("double").as("ss"))
    val a = m.filter(col("event_type") === typeA)
      .select(col("n").as("na"), col("s").as("sa"), col("ss").as("ssa"))
    val b = m.filter(col("event_type") === typeB)
      .select(col("n").as("nb"), col("s").as("sb"), col("ss").as("ssb"))
    a.crossJoin(broadcast(b))
      .withColumn("ma", col("sa") / col("na"))
      .withColumn("mb", col("sb") / col("nb"))
      .withColumn("va",
        (col("ssa") - col("na") * col("ma") * col("ma")) / (col("na") - 1))
      .withColumn("vb",
        (col("ssb") - col("nb") * col("mb") * col("mb")) / (col("nb") - 1))
      .withColumn("se", sqrt(col("va") / col("na") + col("vb") / col("nb")))
      .withColumn("t_lower",
        ((col("ma") - col("mb")) + lit(margin)) / col("se"))
      .withColumn("t_upper",
        (lit(margin) - (col("ma") - col("mb"))) / col("se"))
      .select(
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        lit(margin).as("margin"),
        round(col("t_lower"), 6).as("t_lower"),
        round(col("t_upper"), 6).as("t_upper"),
        (col("t_lower") > 1.645 && col("t_upper") > 1.645)
          .as("equivalent"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al. 2013,
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data") — the industry-standard
    * covariate adjustment beside [[abTest]]: each user's
    * PRE-experiment value sum x (first 15 days) adjusts their
    * in-experiment metric y (last 15 days) as y − θ·(x − x̄) with
    * θ = Cov(x,y)/Var(x) POOLED across variants, shrinking variance
    * without biasing the treatment contrast (assignment is
    * independent of x). Variants are a deterministic md5-parity
    * split of user_id — the pinned-seed assignment the bootstrap/DP
    * keys also use.
    *
    * Everything the gate sees follows the abTest discipline: one
    * partial-aggregated scan to per-user (x, y) DECIMAL sums, one
    * more to per-variant exact moments (n, Σx, Σy, Σxy, Σx²);
    * θ and the adjusted means are then a fixed dag of IEEE ops on
    * identical exact inputs — mean_adj needs NO second per-row pass:
    * mean_y − θ·(mean_x_variant − mean_x_pooled) is moment algebra.
    */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val d38 = DecimalType(38, 4)
    val split = ev.agg(date_add(to_date(min(col("ts"))), 15).as("cut"))
    val perUser = ev.crossJoin(broadcast(split))
      .select(col("user_id"),
        when(to_date(col("ts")) < col("cut"), money(col("value")))
          .otherwise(money(lit(0))).as("xv"),
        when(to_date(col("ts")) >= col("cut"), money(col("value")))
          .otherwise(money(lit(0))).as("yv"))
      .groupBy("user_id")
      .agg(sum(col("xv")).as("x"), sum(col("yv")).as("y"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("exp:"), col("user_id"))), 1, 8),
          16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val byV = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
    Scratch.persistDeferred(byV)
    val pooled = byV.agg(sum(col("n")).as("pn"),
        sum(col("sx")).as("psx"), sum(col("sy")).as("psy"),
        sum(col("sxy")).as("psxy"), sum(col("sxx")).as("psxx"))
      .select(col("pn").cast("double").as("pn"),
        col("psx").cast("double").as("psx"),
        col("psy").cast("double").as("psy"),
        col("psxy").cast("double").as("psxy"),
        col("psxx").cast("double").as("psxx"))
      // a constant covariate (Var(x) = 0) carries no information:
      // theta pins to 0 (no adjustment) instead of NaN-ing the means
      // — the q_neyman_alloc degenerate-divide convention
      .withColumn("theta",
        when(col("psxx") - col("psx") * col("psx") / col("pn") === 0.0,
          lit(0.0))
          .otherwise((col("psxy") - col("psx") * col("psy") / col("pn")) /
            (col("psxx") - col("psx") * col("psx") / col("pn"))))
    byV.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n").as("n_users"),
        round(col("sy").cast("double") / col("n").cast("double"), 6)
          .as("mean_y"),
        round(col("sy").cast("double") / col("n").cast("double")
          - col("theta") * (col("sx").cast("double")
            / col("n").cast("double") - col("psx") / col("pn")), 6)
          .as("mean_adj"),
        round(col("theta"), 6).as("theta"))
  }

  /** DIFFERENCE-IN-DIFFERENCES readout — the parallel-trends causal
    * estimator beside [[abTest]] (cross-sectional) and [[cuped]]
    * (variance reduction): with the same md5-parity split and
    * pre/post windows, DiD = (T_post − T_pre) − (C_post − C_pre)
    * over per-user period means, differencing away both the shared
    * time trend and any fixed group offset. One row: the four cell
    * means, group sizes, and the estimate — every mean an exact
    * DECIMAL sum over one scan divided once, the DiD two
    * subtractions on those (fixed IEEE dag).
    */
  def did(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val split = ev.agg(date_add(to_date(min(col("ts"))), 15).as("cut"))
    val byV = ev.crossJoin(broadcast(split))
      .select(col("user_id"),
        when(to_date(col("ts")) < col("cut"), money(col("value")))
          .otherwise(money(lit(0))).as("xv"),
        when(to_date(col("ts")) >= col("cut"), money(col("value")))
          .otherwise(money(lit(0))).as("yv"))
      .groupBy("user_id")
      .agg(sum(col("xv")).as("x"), sum(col("yv")).as("y"))
      .withColumn("treat",
        conv(substring(md5(concat(lit("exp:"), col("user_id"))), 1, 8),
          16, 10).cast("long") % 2 === 0)
      .groupBy("treat")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
    val t = byV.filter(col("treat"))
      .select(col("n").as("nt"), col("sx").cast("double").as("txs"),
        col("sy").cast("double").as("tys"))
    val c = byV.filter(!col("treat"))
      .select(col("n").as("nc"), col("sx").cast("double").as("cxs"),
        col("sy").cast("double").as("cys"))
    t.crossJoin(broadcast(c))
      .withColumn("m_treat_pre", col("txs") / col("nt").cast("double"))
      .withColumn("m_treat_post", col("tys") / col("nt").cast("double"))
      .withColumn("m_control_pre", col("cxs") / col("nc").cast("double"))
      .withColumn("m_control_post", col("cys") / col("nc").cast("double"))
      .select(col("nt").as("n_treat"), col("nc").as("n_control"),
        round(col("m_treat_pre"), 6).as("m_treat_pre"),
        round(col("m_treat_post"), 6).as("m_treat_post"),
        round(col("m_control_pre"), 6).as("m_control_pre"),
        round(col("m_control_post"), 6).as("m_control_post"),
        round((col("m_treat_post") - col("m_treat_pre"))
          - (col("m_control_post") - col("m_control_pre")), 6).as("did"))
  }

  /** POWER / MINIMUM-DETECTABLE-EFFECT design check — the question
    * every experiment review asks BEFORE launch ("can this test even
    * see the effect we care about?"): from the pilot variance of the
    * per-user metric, the two-sample MDE at α = 0.05 / power = 0.8
    * for the CURRENT group sizes, MDE = (z_{α/2} + z_β)·σ·√(1/n_a +
    * 1/n_b), and the per-arm n required to detect a 1%-of-mean lift,
    * n = 2σ²(z_{α/2} + z_β)²/δ². The z constants are fixed literals
    * (1.959964, 0.841621 — IEEE-exact on both engines); σ² comes
    * from the same exact decimal moments as [[abTest]], so the whole
    * report is one scan plus a fixed dag.
    */
  def powerMde(spark: SparkSession, sfDir: String): DataFrame = {
    // z_{0.025} + z_{0.2} pre-summed as ONE literal: the oracle must
    // parse the identical decimal (a Scala-side double SUM of the two
    // z's need not be bit-equal to the parsed sum literal)
    val zsum = 2.801585
    val ev = Tables.events(spark, sfDir)
    val perUser = ev
      .select(col("user_id"), money(col("value")).as("v"))
      .groupBy("user_id").agg(sum(col("v")).as("m"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("exp:"), col("user_id"))), 1, 8),
          16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val mom = Scratch.persistDeferred(
      perUser.groupBy("variant")
        .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
          sum((col("m") * col("m")).cast(DecimalType(38, 4))).as("ss")))
    val a = mom.filter(col("variant") === "A")
      .select(col("n").cast("double").as("na"),
        col("s").cast("double").as("sa"), col("ss").cast("double").as("ssa"))
    val b = mom.filter(col("variant") === "B")
      .select(col("n").cast("double").as("nb"),
        col("s").cast("double").as("sb"), col("ss").cast("double").as("ssb"))
    a.crossJoin(broadcast(b))
      // pooled variance from exact moments (both arms, pilot reading)
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("mean", (col("sa") + col("sb")) / col("nn"))
      .withColumn("varp",
        ((col("ssa") + col("ssb"))
          - col("nn") * col("mean") * col("mean")) / (col("nn") - 1))
      .withColumn("mde",
        lit(zsum) * sqrt(col("varp"))
          * sqrt(lit(1.0) / col("na") + lit(1.0) / col("nb")))
      .withColumn("delta", col("mean") * 0.01)
      // a zero-mean metric has no "1% lift" target: n_required is
      // null, not an Infinity cast (the degenerate-divide convention)
      .withColumn("n_required",
        when(col("delta") === 0.0, lit(null).cast("long"))
          .otherwise(ceil(lit(2.0) * col("varp") * lit(zsum * zsum)
            / (col("delta") * col("delta"))).cast("long")))
      .select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        round(col("mean"), 6).as("mean_metric"),
        round(sqrt(col("varp")), 6).as("sigma"),
        round(col("mde"), 6).as("mde"),
        round(col("mde") / col("mean"), 6).as("mde_rel"),
        col("n_required"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV distance between the `value`
    * distributions of two event types, evaluated on a fixed quantile
    * grid — the distribution-shape complement to `abTest`'s
    * mean-difference test (two sources can share a mean and still
    * differ everywhere else; KS is what a drift monitor actually
    * wants).
    *
    * The statistic is D = max_j |F_a(c_j) − F_b(c_j)| over the 31
    * POOLED 1/32-quantile grid points. Evaluating on a fixed grid is
    * what makes the operator scale: the corpus is scanned ONCE to
    * bucket every value against the broadcast cut array (bucket =
    * 1 + #cuts strictly below, the `q_quantile_bucket` projection),
    * partial-aggregated to ≤ 2·32 count rows, and everything after
    * is grid-sized. The exact KS over raw values would need a global
    * merge-sort of both samples — a single-task funnel at 100 TB —
    * and the grid-D underestimates true D by at most the grid mesh
    * (spec-measured on planted shifts). Cutpoints come from the KLL
    * sketch (exact regime at the gate SFs, so DuckDB `quantile_cont`
    * reproduces them bit-for-bit; approximate-but-mergeable beyond).
    *
    * Cross-engine determinism: CDF numerators stay BIGINT; the
    * argmax key |ka·nb − kb·na| is an EXACT DECIMAL(38,0) product
    * difference (never a float CDF subtraction), ties break to the
    * lower grid index; the one IEEE division happens after selection.
    */
  def ksTest(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "purchase"): DataFrame =
    ksTestOver(Tables.events(spark, sfDir), typeA, typeB)

  /** Same operator over any (event_type, value) frame — planted
    * disjoint/identical/shifted-overlap specs pin D. */
  def ksTestOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val ev = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        money(col("value")).cast("double").as("v"))
    val probs = (1 to 31).map(_ / 32.0)
    // 1-row result, referenced by both the bucketing pass and the
    // grid — eager, so the KLL aggregate scans the corpus ONCE
    val cuts = ev.agg(kll_quantiles(col("v"), 65536, probs).as("cuts"))
      .localCheckpoint()
    // one corpus pass: bucket + partial-agg to ≤ 2×32 rows (eager —
    // reused for both the per-type totals and the CDF)
    val counts = ev.crossJoin(broadcast(cuts))
      .select(col("event_type"),
        graft.functions.KllSketch.bucket_below(col("cuts"), col("v"))
          .cast("long").as("b"))
      .groupBy("event_type", "b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val ns = counts.agg(
      sum(when(col("event_type") === typeA, col("cnt"))).as("na"),
      sum(when(col("event_type") === typeB, col("cnt"))).as("nb"))
    val grid = cuts
      .select(posexplode(col("cuts")).as(Seq("j0", "c")))
      .select((col("j0") + 1).cast("long").as("j"), col("c"))
    // buckets 1..j cover exactly {v ≤ c_j}: F_t(c_j)·n_t = Σ_{b≤j} cnt
    val cum = grid.join(counts, col("b") <= col("j"))
      .groupBy("j", "c")
      .agg(
        sum(when(col("event_type") === typeA, col("cnt"))).as("ka"),
        sum(when(col("event_type") === typeB, col("cnt"))).as("kb"))
    val d19 = DecimalType(19, 0)
    val scored = cum.crossJoin(broadcast(ns))
      .select(col("j"), col("c"),
        coalesce(col("ka"), lit(0L)).as("ka"),
        coalesce(col("kb"), lit(0L)).as("kb"), col("na"), col("nb"))
      .withColumn("num",
        abs(col("ka").cast(d19) * col("nb").cast(d19)
          - col("kb").cast(d19) * col("na").cast(d19)))
    scored
      .agg(max(struct(col("num"), (-col("j")).as("mj"), col("j").as("j"),
        col("c").as("c"), col("ka").as("ka"), col("kb").as("kb"),
        col("na").as("na"), col("nb").as("nb"))).as("m"))
      .select(lit(typeA).as("type_a"), lit(typeB).as("type_b"),
        col("m.na").as("n_a"), col("m.nb").as("n_b"),
        when(col("m.na") > 0 && col("m.nb") > 0,
          round(col("m.num").cast("double") /
            (col("m.na").cast("double") * col("m.nb").cast("double")), 6))
          .as("d_stat"),
        col("m.j").as("at_grid"), round(col("m.c"), 6).as("at_value"))
  }

  /** Tie-corrected ROC AUC of a discrete score against a binary
    * label, computed from the SCORE HISTOGRAM — the model-evaluation
    * primitive (`q_linear_probe` trains the scorer; this grades any
    * scorer, here the deterministic "does spend level separate
    * purchases" baseline so the gate stays DuckDB-exact).
    *
    * AUC = P(score_pos > score_neg) + ½P(=) = Σ_s pos_s·(cumneg_<s +
    * ½neg_s) / (nPos·nNeg). The rank-sum formulation would globally
    * sort every row; the histogram formulation partial-aggs the
    * corpus to |distinct scores| rows in ONE shuffle, then runs the
    * cumulative-negatives prefix over the HISTOGRAM with the same
    * two-level range-partition trick as `q_pack_bins`/`q_skyline`
    * (per-slice partials + a P-row broadcast offset join + slice-
    * local window) — never a single-task global window, so a
    * billion-distinct-score corpus still spreads across the cluster.
    * The numerator doubles to stay integral (ties count 1, strict
    * wins count 2), accumulates in exact DECIMAL(38,0), and the one
    * IEEE division lands at the end.
    */
  def auc(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame =
    aucOver(Tables.events(spark, sfDir)
      .select((money(col("value")) * 100).cast("long").as("score"),
        (col("event_type") === posType).as("y")))

  /** Same operator over any (score: long, y: boolean) frame —
    * hand-computed planted AUCs (with ties) pin the arithmetic. */
  def aucOver(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val hist = scored.groupBy("score")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("neg"))
    // histogram-sized; eager (localCheckpoint, not a CacheManager
    // persist that would outlive the call) so the pid snapshot is
    // deterministic for both consumers and the corpus scans once
    val ranged = hist.repartitionByRange(p, col("score"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = ranged.groupBy("pid").agg(sum(col("neg")).as("t"))
      .withColumn("offset",
        coalesce(sum(col("t")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wRun = Window.partitionBy(col("pid")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val d19 = DecimalType(19, 0)
    val cum = ranged.join(broadcast(offsets), "pid")
      .withColumn("cumneg",
        col("offset") + coalesce(sum(col("neg")).over(wRun), lit(0L)))
    cum.agg(
        sum(col("pos")).as("np"), sum(col("neg")).as("nn"),
        sum(col("pos").cast(d19) *
          (lit(2) * col("cumneg") + col("neg")).cast(d19)).as("num2"))
      .select(col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          round(col("num2").cast("double") /
            (lit(2.0) * col("np") * col("nn")), 6)).as("auc"))
  }

  /** Score-DECILE LIFT table (the reliability/decile-analysis report
    * that accompanies every propensity score): bucket the score into
    * KLL deciles (exact regime at the gate SFs — `q_quantile_bucket`'s
    * broadcast-cutpoint projection, never a global sort), then per
    * bucket the observed positive rate and its lift over the base
    * rate. One bucketing scan, one partial-agg shuffle to ≤10 rows.
    * Rates are single IEEE divisions of exact counts, rounded at the
    * gate.
    */
  def lift(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame =
    liftOver(Tables.events(spark, sfDir)
      .select(money(col("value")).cast("double").as("score"),
        (col("event_type") === posType).as("y")))

  /** Same operator over any (score: double, y: boolean) frame — a
    * planted top-decile-only-positives corpus pins the lift. */
  def liftOver(scored: DataFrame): DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val probs = (1 to 9).map(_ / 10.0)
    val cuts = scored.agg(
      kll_quantiles(col("score"), 65536, probs).as("cuts"))
    val bucketed = scored.crossJoin(broadcast(cuts))
      .select(col("y"),
        graft.functions.KllSketch.bucket_below(col("cuts"), col("score"))
          .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
      .localCheckpoint()
    val tot = bucketed.agg(sum(col("n")).as("tn"), sum(col("n_pos")).as("tp"))
    bucketed.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        when(col("tp") > 0,
          round((col("n_pos").cast("double") / col("n")) /
            (col("tp").cast("double") / col("tn")), 6)).as("lift"))
  }

  /** Thresholded CONFUSION MATRIX + precision/recall/F1 — the third
    * leg of the evaluation family (`q_auc` ranks, `q_lift` buckets,
    * this one commits to an operating point): predict positive at
    * score ≥ τ, tally tp/fp/fn/tn in ONE conditional-aggregate scan,
    * and derive the rates as single IEEE divisions of exact counts
    * (F1 in its one-division 2tp/(2tp+fp+fn) form — never the
    * chained precision·recall composition whose intermediate
    * rounding differs by engine). Degenerate operating points are
    * legal inputs, so every rate null-guards its zero denominator
    * identically in both engines (ANSI Spark would otherwise throw,
    * DuckDB would emit NaN — either way an engine-dependent edge).
    */
  def confusion(spark: SparkSession, sfDir: String,
      posType: String = "purchase", threshold: Double = 200.0)
      : DataFrame =
    confusionOver(Tables.events(spark, sfDir)
      .select(money(col("value")).cast("double").as("score"),
        (col("event_type") === posType).as("y")), threshold)

  /** Same operator over any (score, y) frame — a hand-tallied planted
    * spec pins the matrix and the ≥-boundary. */
  def confusionOver(scored: DataFrame, threshold: Double): DataFrame =
    scored
      .select(col("y"), (col("score") >= threshold).as("p"))
      .agg(
        sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("p") && col("y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("p") && !col("y"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          round((lit(2.0) * col("tp")) /
            (lit(2) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))

  /** MATTHEWS CORRELATION + BALANCED OPERATING METRICS (`q_mcc`) —
    * the class-imbalance-safe summary of the SAME operating point
    * `q_confusion` gates (precision/recall/F1 all ignore TN; on a
    * 95/5 corpus a trivial majority classifier scores F1 ≈ 0 but its
    * uselessness only shows in MCC ≈ 0 / balanced accuracy ≈ 0.5):
    * MCC = (tp·tn − fp·fn)/(√((tp+fp)(tp+fn))·√((tn+fp)(tn+fn))),
    * balanced accuracy (TPR+TNR)/2, Youden's J = TPR+TNR−1. The
    * numerator and each √-argument stay exact DECIMAL(38,0) (n⁴
    * would wrap BIGINT at corpus scale — and a single √(a·b) would
    * need 76 digits, hence the √a·√b split, mirrored verbatim in the
    * oracle); everything else is one conditional-agg scan.
    */
  def mcc(spark: SparkSession, sfDir: String,
      posType: String = "purchase", threshold: Double = 200.0)
      : DataFrame =
    mccOver(Tables.events(spark, sfDir)
      .select(money(col("value")).cast("double").as("score"),
        (col("event_type") === posType).as("y")), threshold)

  /** Same operator over any (score, y) frame — the hand-tallied
    * confusion plant pins MCC/balanced-acc/J; a degenerate all-one-
    * class corpus pins the null guards. */
  private[graft] def mccOver(scored: DataFrame,
      threshold: Double): DataFrame = {
    val d380 = DecimalType(38, 0)
    val d190 = DecimalType(19, 0)
    val base = scored
      .select(col("y"), (col("score") >= threshold).as("p"))
      .agg(
        sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("p") && col("y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("p") && !col("y"), 1L).otherwise(0L)).as("tn"))
    val num = (col("tp").cast(d190) * col("tn").cast(d190)).cast(d380)
      .minus((col("fp").cast(d190) * col("fn").cast(d190)).cast(d380))
    val d1 = ((col("tp") + col("fp")).cast(d190) *
      (col("tp") + col("fn")).cast(d190)).cast(d380)
    val d2 = ((col("tn") + col("fp")).cast(d190) *
      (col("tn") + col("fn")).cast(d190)).cast(d380)
    val tpr = col("tp").cast("double") / (col("tp") + col("fn"))
      .cast("double")
    val tnr = col("tn").cast("double") / (col("tn") + col("fp"))
      .cast("double")
    base.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(d1.cast("double") > 0 && d2.cast("double") > 0,
        round(num.cast("double") /
          (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))), 6))
        .as("mcc"),
      when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
        round((tpr + tnr) / lit(2.0), 6)).as("balanced_acc"),
      when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
        round(tpr + tnr - lit(1.0), 6)).as("youden_j"))
  }

  /** BINNED LOG LOSS / CROSS-ENTROPY (`q_log_loss`) — the proper
    * scoring rule the eval family reported only in its ln-free form
    * (`q_brier`): over the SAME equal-width 10-bin scaffold as
    * `q_calibration`, score the in-sample binned predictor
    * p̂ = bin positive share, LL = −(1/N)·Σ_bins[pos·ln p̂ +
    * neg·ln(1−p̂)], against the no-information baseline that predicts
    * the global rate everywhere — the gap is the information the
    * score actually carries (LL_model ≤ LL_base by Jensen, spec-
    * pinned). Every ln argument is an exact integer ratio; each ln
    * rounds 6 and multiplies into DECIMAL (the perplexity
    * discipline), zero-count sides contribute exact 0 (the 0·ln 0
    * convention, identical in both engines by construction).
    */
  def logLoss(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame =
    logLossOver(Tables.events(spark, sfDir)
      .select(money(col("value")).as("v"),
        (col("event_type") === posType).as("y")))

  /** Same operator over any (v: decimal(18,2), y) frame — a planted
    * perfectly-separated corpus pins LL_model = 0, a constant score
    * pins LL_model = LL_base. */
  private[graft] def logLossOver(scored: DataFrame): DataFrame = {
    val d286 = DecimalType(28, 6)
    val mm = scored.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val bins = scored.crossJoin(broadcast(mm))
      .select(col("y"),
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double") * 10).cast("long"),
            lit(9L))).otherwise(lit(0L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      .localCheckpoint()
    def nll(pos: Column, n: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      val neg = n - pos
      (when(pos > 0, pos.cast(DecimalType(18, 0))
          .multiply(round(log(p), 6).cast(DecimalType(9, 6))).cast(d286))
        .otherwise(lit(0).cast(d286))) +
        (when(neg > 0, neg.cast(DecimalType(18, 0))
          .multiply(round(log(lit(1.0) - p), 6).cast(DecimalType(9, 6)))
          .cast(d286))
        .otherwise(lit(0).cast(d286)))
    }
    val model = bins.select(nll(col("pos"), col("n")).as("t"),
        col("n"), col("pos"))
      .agg(sum(col("t")).as("s"), sum(col("n")).as("tn"),
        sum(col("pos")).as("tp"))
    model.select(col("tn").cast("long").as("n"),
      round(-col("s").cast("double") / col("tn").cast("double"), 6)
        .as("ll_model"),
      round(-nll(col("tp"), col("tn")).cast("double") /
        col("tn").cast("double"), 6).as("ll_base"))
  }

  /** SPLIT-CONFORMAL prediction intervals per event type — the
    * distribution-free uncertainty wrapper (Vovk; Lei et al. JASA'18)
    * around any point predictor: fit on a train split, take the
    * ⌈(n_cal+1)(1−α)⌉-th smallest |residual| on a calibration split
    * as the radius q̂, and the interval μ ± q̂ covers a fresh point
    * with probability ≥ 1−α by exchangeability alone — no
    * distributional assumption. The gate reports the interval AND its
    * measured coverage on a held-out test split.
    *
    * Determinism/scale discipline: splits are md5-derived (engine-
    * portable, cluster-size-free); the predictor is the train mean
    * rounded to cents (ONE double division rounded to a DECIMAL(18,2)
    * — after that every residual is an exact decimal, so the order
    * statistic is over an integer cent domain); q̂ is a SELECTION
    * (never interpolation): per-(type, residual) counts partial-agg
    * the calibration split to histogram size, a cumulative count runs
    * over the per-type HISTOGRAM (bounded by the cent domain, not the
    * corpus), and q̂ = min residual whose cumulative count reaches
    * k = ⌈(n_cal+1)(1−α)⌉. Coverage is one conditional aggregate over
    * the test split. Three structural scans total, every shuffle
    * partial-aggregated.
    */
  def conformal(spark: SparkSession, sfDir: String,
      alpha: Double = 0.1): DataFrame =
    conformalOver(Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        money(col("value")).as("v")), alpha)

  /** Same operator over any (event_id, event_type, v: decimal(18,2))
    * frame — a hand-computed planted spec pins the selection rule and
    * the spec asserts the finite-sample coverage bound on the real
    * corpus. */
  def conformalOver(events: DataFrame, alpha: Double): DataFrame = {
    require(alpha == 0.1, "gate fixes alpha at 0.1 (k arithmetic is exact)")
    // md5 splits: first hex digit 0-7 → train, 8-b → cal, c-f → test
    val h = substring(md5(concat(lit("conf1:"),
      col("event_id").cast("string"))), 1, 1)
    val ev = events.withColumn("split",
      when(h < lit("8"), "train").when(h < lit("c"), "cal")
        .otherwise("test"))
    // #types rows, referenced by the calibration pass, the test pass
    // and the final report — eager, so the train split scans ONCE
    val mu = ev.filter(col("split") === "train")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_train"), sum(col("v")).as("s"))
      .select(col("event_type"), col("n_train"),
        round(col("s").cast("double") / col("n_train"), 2)
          .cast(DecimalType(18, 2)).as("mu"))
      .localCheckpoint()
    val cal = ev.filter(col("split") === "cal")
      .join(broadcast(mu), "event_type")
      .select(col("event_type"), abs(col("v") - col("mu")).as("r"))
    // ONE pass over the calibration split builds the per-type
    // residual HISTOGRAM (bounded by the cent domain, never
    // corpus-sized); the per-type total n_cal, the rank threshold
    // k = ceil((n_cal + 1) * 0.9) (exact integer form) and the
    // selected quantile all fold into one window + one groupBy over
    // that histogram — no second histogram scan, no extra join.
    // Every type with calibration data KEEPS its row: a split too
    // small for the rank (k > n_cal) surfaces as qhat = null in the
    // report — never a silently vanished type the reader can't tell
    // from "no events"
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    val qhat = cal.groupBy("event_type", "r")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_cal", sum(col("c")).over(wAll))
      .withColumn("k",
        floor(((col("n_cal") + 1) * 9 + lit(9.0)) / lit(10.0)).cast("long"))
      .groupBy("event_type")
      .agg(max(col("n_cal")).as("n_cal"), max(col("k")).as("k"),
        min(when(col("cum") >= col("k"), col("r"))).as("qhat"))
      .localCheckpoint()
    val test = ev.filter(col("split") === "test")
      .join(broadcast(mu.select(col("event_type"), col("mu"))),
        "event_type")
      .join(broadcast(qhat.select(col("event_type"), col("qhat"))),
        "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qhat").isNotNull
            && abs(col("v") - col("mu")) <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
    mu.join(qhat, "event_type")
      .join(test, Seq("event_type"), "left")
      .select(col("event_type"), col("n_train"), col("n_cal"), col("k"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        col("mu").cast("double").as("mu"),
        col("qhat").cast("double").as("qhat"),
        when(col("qhat").isNotNull && col("n_test") > 0,
          round(col("n_covered").cast("double") / col("n_test"), 6))
          .as("coverage"))
  }

  /** APPROXIMATE QUERY PROCESSING: per-type revenue totals estimated
    * from the deterministic 1/16 md5 sample with Horvitz–Thompson
    * error bars — the "answer in seconds from the sample table, with
    * a CI" capability (BlinkDB-style) that makes exploratory
    * aggregates affordable at 100 TB. The estimator for Bernoulli
    * sampling at rate p is T̂ = Σ_sample v / p (unbiased), with
    * variance estimated from the sample alone:
    * Var̂(T̂) = (1−p)/p² · Σ_sample v² — no full-corpus pass anywhere
    * in the plan (that is the point; the spec, not the operator,
    * checks the truth lands inside the bars). At 100 TB the sample
    * lives as its own materialized table so the scan is 1/16 the
    * bytes; here the sample predicate is the same md5-prefix rule as
    * `q_det_sample`, engine-portable and layout-free.
    *
    * Determinism: sample membership is md5-exact; Σv and Σv² are
    * exact decimal sums; the scale-up 1/p = 16 is exact in decimal;
    * se = one IEEE sqrt of one exact-input product; outputs round at
    * the gate.
    */
  def aqpSum(spark: SparkSession, sfDir: String): DataFrame =
    aqpSumOver(Tables.events(spark, sfDir))

  /** Same operator over any (event_id, event_type, value) frame —
    * the spec checks the truth falls inside the 4-se bars and the
    * estimator is unbiased-shaped. */
  def aqpSumOver(events: DataFrame): DataFrame = {
    val p = 1.0 / 16.0
    val sample = events
      .filter(substring(md5(concat(lit("aqp1:"),
        col("event_id").cast("string"))), 1, 1) < lit("1"))
      .select(col("event_type"), money(col("value")).as("v"))
    sample.groupBy("event_type")
      .agg(count(lit(1)).as("n_sample"),
        sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      // est/se defined ONCE; the bars derive from them so a variance
      // formula change cannot desync the three columns. The rounding
      // of ci_lo/ci_hi happens on the UNrounded est ± 1.96·se, which
      // both engines compute identically (the oracle mirrors this
      // exact expression tree).
      .withColumn("est", (col("s") * 16).cast("double"))
      .withColumn("se0",
        sqrt(col("ss").cast("double") * ((1.0 - p) / (p * p))))
      .select(col("event_type"), col("n_sample"),
        round(col("est"), 2).as("est_total"),
        round(col("se0"), 2).as("se"),
        round(col("est") - lit(1.96) * col("se0"), 2).as("ci_lo"),
        round(col("est") + lit(1.96) * col("se0"), 2).as("ci_hi"))
  }

  /** JOIN-SIZE accounting BEFORE the join runs — the planner
    * primitive behind "will this self-join blow up": for the
    * click⋈purchase user join, |A⋈B| = Σ_k cA(k)·cB(k) computed from
    * the two per-key COUNT tables (each one partial-agg shuffle down
    * to |keys| rows; the product join is key-table-sized, never
    * fact-sized), plus the key-overlap profile and the hottest key's
    * contribution — the exact numbers a `q_skew_report`-style
    * pre-flight reads before picking broadcast/salt/bucket. Products
    * accumulate in exact DECIMAL(38,0). The CMS INNER-PRODUCT
    * estimate of the same quantity (the AMS/Count-Min classic:
    * min_d Σ_w A[d,w]·B[d,w] ≥ true size, equality as collisions
    * vanish) is spec-pinned against this exact answer — the sketch
    * route a 100 TB planner takes when even the key tables are big.
    */
  def joinSize(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "purchase"): DataFrame =
    joinSizeOver(Tables.events(spark, sfDir), typeA, typeB)

  /** Same operator over any (user_id, event_type) frame — a
    * hand-computed planted spec pins the accounting. */
  def joinSizeOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    val ca = events.filter(col("event_type") === typeA)
      .groupBy("user_id").agg(count(lit(1)).as("ca"))
    val cb = events.filter(col("event_type") === typeB)
      .groupBy("user_id").agg(count(lit(1)).as("cb"))
    joinSizeFromCounts(ca, cb)
  }

  /** The accounting from the two per-key count tables directly —
    * shared with `q_join_preflight`, whose executed join reuses the
    * SAME build-side count frame the statistics were priced from
    * (one aggregation, not two).
    */
  def joinSizeFromCounts(ca: DataFrame, cb: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val joined = ca.join(cb, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("contrib", col("ca").cast(d19) * col("cb").cast(d19))
    joined.agg(
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("n_keys_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("n_keys_b"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
          .as("n_common"),
        sum(col("contrib")).as("join_size"),
        max(struct(col("contrib"), col("user_id"))).as("hot"))
      // accumulation is exact DECIMAL(38,0); the report boundary is
      // DOUBLE (the registry's *_total convention) — a BIGINT cast
      // would NULL (Spark) or throw (DuckDB) at exactly the blow-up
      // scales this pre-flight exists to flag, while the double
      // carries the magnitude at any scale, engine-identically
      .select(col("n_keys_a"), col("n_keys_b"), col("n_common"),
        col("join_size").cast("double").as("join_size"),
        col("hot.user_id").as("hot_key"),
        col("hot.contrib").cast("double").as("hot_contrib"))
  }

  /** NEYMAN ALLOCATION for stratified sampling — the sample-DESIGN
    * primitive that closes the sampling family (`q_stratified_sample`
    * draws at fixed per-stratum rates; `q_aqp_sum` estimates from a
    * uniform sample; this computes the rates a fixed budget SHOULD
    * use): the variance-minimizing allocation puts n_h ∝ N_h·σ_h —
    * big, high-variance strata get more of the budget, tiny uniform
    * ones almost none (the textbook result every survey/eval-set
    * designer applies).
    *
    * One scan: per-language exact decimal moments (n, Σx, Σx²) →
    * σ_h via the same IEEE dag as `q_ab_test`, weight w_h = N_h·σ_h,
    * one 1-row normalizer broadcast back, n_h = round(budget·w/W).
    * Rounded allocations can drift from the budget by ≤ #strata
    * (documented; the fractional share is also reported). Everything
    * after the partial-agg shuffle is #strata-sized.
    */
  def neymanAlloc(spark: SparkSession, sfDir: String,
      budget: Long = 1000L): DataFrame =
    neymanAllocOver(Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars").cast(DecimalType(18, 2))
        .as("v")), budget)

  /** Same operator over any (lang, v: decimal) frame — a planted
    * two-strata spec pins the ∝ N·σ rule. */
  def neymanAllocOver(rows: DataFrame, budget: Long): DataFrame = {
    val m = rows.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      .select(col("lang"), col("n"),
        col("s").cast("double").as("sd"),
        col("ss").cast("double").as("ssd"))
      .withColumn("sigma",
        // n = 1 makes the unbiased variance 0/0 (Spark Divide -> NULL,
        // DuckDB -> NaN): a singleton stratum has no measurable spread,
        // so pin sigma = 0 in BOTH engines (mirrored CASE in the
        // oracle). The radicand is clamped at 0 too: an all-constant
        // stratum's ssd - sd²/n is 0 in real arithmetic but can land a
        // negative ulp in doubles — sqrt(-ulp) is NaN in Spark but an
        // ERROR in DuckDB, the worst kind of divergence
        when(col("n") > 1,
          sqrt(greatest(lit(0.0),
            (col("ssd") - col("sd") * col("sd") / col("n"))
              / (col("n") - 1)))).otherwise(lit(0.0)))
      .withColumn("w", col("n").cast("double") * col("sigma"))
    val tot = m.agg(sum(col("w")).as("tw"))
    m.crossJoin(broadcast(tot))
      .select(col("lang"), col("n").as("n_docs"),
        round(col("sigma"), 6).as("sigma"),
        // all-constant strata give tw = 0: w/tw would NULL-vs-NaN
        // diverge across engines, so both pin the share to 0
        round(when(col("tw") > 0, col("w") / col("tw"))
          .otherwise(lit(0.0)), 6).as("alloc_frac"),
        round(when(col("tw") > 0,
            lit(budget.toDouble) * col("w") / col("tw"))
          .otherwise(lit(0.0)), 0)
          .cast("long").as("n_alloc"))
  }

  /** WINSORIZED per-type value statistics — the robust-mean
    * preprocessing step (clip, don't drop, the tails before a mean
    * enters a feature or a report): every value clips into its
    * type's [p01, p99] KLL-quantile band, and the report carries the
    * clip counts plus raw vs winsorized means side by side.
    *
    * Scale shape: one grouped KLL pass (O(k) mergeable buffers per
    * type — never a whole-column percentile buffer), bounds broadcast
    * back (#types rows), then ONE partial-aggregated scan for all
    * counts and sums. Clipped values round to 6 places and sum IN
    * DECIMAL (order-free); each mean is a single IEEE division at the
    * end. Exact regime at the gate SFs makes DuckDB `quantile_cont`
    * the bit-exact oracle (the `q_anomaly_mad` convention).
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame =
    winsorizeOver(Tables.events(spark, sfDir))

  /** Same operator over any (event_type, value) frame — a planted
    * outlier spec pins the clip arithmetic. */
  def winsorizeOver(events: DataFrame): DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val ev = events.select(col("event_type"), money(col("value")).as("v"))
    val bounds = ev.groupBy("event_type")
      .agg(kll_quantiles(col("v").cast("double"), 65536, Seq(0.01, 0.99))
        .as("qs"))
      .select(col("event_type"), element_at(col("qs"), 1).as("lo"),
        element_at(col("qs"), 2).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("vd", col("v").cast("double"))
      .withColumn("w",
        round(greatest(col("lo"), least(col("hi"), col("vd"))), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("vd") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("vd") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(col("v")).as("sraw"), sum(col("w")).as("swin"))
      .select(col("event_type"), col("n"), col("n_clip_lo"),
        col("n_clip_hi"),
        round(col("lo"), 6).as("p01"), round(col("hi"), 6).as("p99"),
        round(col("sraw").cast("double") / col("n"), 6).as("mean_raw"),
        round(col("swin").cast("double") / col("n"), 6).as("mean_winsor"))
  }

  /** SEASONAL-NAIVE FORECAST + HOLDOUT BACKTEST over the per-type
    * daily event series — the baseline every forecasting system must
    * beat (and the backtest harness that measures whether it does):
    * forecast(day) = actual(day − season), evaluated on the trailing
    * `horizon`-day holdout with per-type MAE. Values are daily COUNTS
    * (exact integers — a double `sum(value)` series would be
    * merge-order-sensitive), so actual/forecast/abs_err are BIGINT
    * and the MAE is one exact-integer sum divided by the holdout
    * width: every float deterministic, hash-gated.
    *
    * Scale shape: the corpus-sized work is ONE partial-aggregated
    * groupBy to the O(#types × #days) rollup; the lag window and the
    * per-type MAE run on that rollup (the q_yoy_growth discipline —
    * windows over rollups, never over raw events). The holdout cut
    * is a 1-row broadcast aggregate, not a driver value.
    */
  def forecastSnaive(spark: SparkSession, sfDir: String,
      season: Int = 7, horizon: Int = 7): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("actual"))
    val lagged = daily.withColumn("forecast",
      lag(col("actual"), season).over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
    val cut = daily.agg(date_sub(max(col("day")), horizon - 1).as("cut"))
    lagged.join(broadcast(cut), col("day") >= col("cut")).drop("cut")
      .withColumn("abs_err", abs(col("actual") - col("forecast")))
      .withColumn("mae", avg(col("abs_err")).over(
        Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("day"), col("actual"),
        col("forecast"), col("abs_err"), round(col("mae"), 6).as("mae"))
  }

  /** LORENZ / GINI revenue-concentration report per market segment —
    * the inequality audit behind "what share of revenue sits with
    * the top customers": per-purchasing-customer revenue totals in
    * exact integer cents, the Gini coefficient from the rank-sum
    * identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n (tie blocks carry the
    * same x, so the Σ i·xᵢ is order-independent within ties), and
    * the top-decile revenue share (1 − Lorenz(0.9), the integer
    * predicate 10·rank > 9·n — no float quantile).
    *
    * The global (cents, custkey) rank comes from the TWO-LEVEL
    * range-partitioned prefix sum (the pack_sequences/skyline/auc
    * discipline): per-partition running counts + a P×#segments
    * offset window — never a segment-global sort of the customer
    * table. Σ i·xᵢ accumulates in DECIMAL (rank × cents products
    * overflow BIGINT exactly at the corpus sizes this report is
    * for); every emitted float is a division of exact values,
    * rounded 6.
    */
  def lorenzGini(spark: SparkSession, sfDir: String): DataFrame =
    lorenzGiniOver(
      Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir)
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("segment"), col("c_custkey"))
        .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
          .as("cents")))

  /** Same report over any (segment, c_custkey, cents) frame
    * (planted-extreme specs). */
  private[graft] def lorenzGiniOver(perCust: DataFrame): DataFrame = {
    val spark = perCust.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val d19 = DecimalType(19, 0)
    val ranged = Scratch.persistDeferred(perCust
      .repartitionByRange(p, col("segment"), col("cents"), col("c_custkey"))
      .withColumn("pid", spark_partition_id()))
    val wOff = Window.partitionBy(col("segment")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("pid", "segment")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select("pid", "segment", "off")
    val wRun = Window.partitionBy(col("segment"), col("pid"))
      .orderBy(col("cents"), col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nseg = ranged.groupBy("segment").agg(count(lit(1)).as("n"))
    ranged.join(broadcast(offsets), Seq("pid", "segment"))
      .withColumn("rnk",
        col("off") + coalesce(sum(lit(1L)).over(wRun), lit(0L)) + 1L)
      .join(broadcast(nseg), "segment")
      .groupBy(col("segment"), col("n"))
      .agg(sum(col("cents")).as("sx"),
        sum(col("rnk").cast(d19) * col("cents").cast(d19)).as("sixi"),
        sum(when(col("rnk") * 10 > col("n") * 9, col("cents"))
          .otherwise(0L)).as("top_cents"))
      .select(col("segment"), col("n").as("n_customers"),
        col("sx").as("total_cents"),
        round(lit(2.0) * col("sixi").cast("double")
          / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("gini"),
        round(col("top_cents").cast("double") / col("sx").cast("double"), 6)
          .as("top10_share"))
  }

  /** SEASONAL DECOMPOSITION (multiplicative, day-of-week) — the
    * diagnosis step before any forecast choice: per (event type,
    * weekday), the seasonal index = weekday mean ÷ overall mean of
    * the daily-count series, with the count evidence behind it. An
    * index far from 1 says "this weekday is structurally
    * hotter/colder" — exactly what makes [[forecastSnaive]]'s lag-7
    * beat a naive carry-forward, and what [[holtForecast]] (trend
    * only, no seasonality) cannot capture; the three keys together
    * are the decompose → model → evaluate loop. All means are
    * exact-integer sums divided once; the index is one division of
    * two such means (deterministic), rounded 6.
    *
    * Scale shape: ONE partial-aggregated groupBy to the O(#types ×
    * #days) rollup, then two rollup-sized aggregations — weekday
    * cells and per-type totals — joined back broadcast.
    */
  def seasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
    Scratch.persistDeferred(daily)
    val byDow = daily
      .groupBy(col("event_type"), dayofweek(col("day")).cast("long")
        .as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"))
    val overall = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_all"), sum(col("y")).as("s_all"))
    byDow.join(broadcast(overall), "event_type")
      .select(col("event_type"), col("dow"), col("n_days"),
        round(col("s").cast("double") / col("n_days"), 6).as("dow_mean"),
        round((col("s").cast("double") / col("n_days"))
          / (col("s_all").cast("double") / col("n_all")), 6)
          .as("seasonal_index"))
  }

  /** SEASONAL STRENGTH (`q_seasonal_strength`) — Hyndman's FPP
    * decomposition-strength measure F_s = max(0, 1 −
    * var(remainder)/var(y)) for the day-of-week component: the ONE
    * number that says whether [[seasonalDecompose]]'s indices are
    * worth applying (F_s near 0 → `q_seasonal_anomaly`'s adjustment
    * is noise; near 1 → a raw-count monitor will page every
    * weekend). Entirely exact-moment arithmetic: Σ(y − m_d)² expands
    * to Σ_d (SS_d − S_d²/n_d) — exact integer moments per day-of-week
    * cell, ONE division each, the 7 per-type cell terms rounded 6 and
    * DECIMAL-summed (the ANOVA cross-group discipline — a raw double
    * sum across cells would be partition lore); var(y) is the single
    * per-type moment row. One calendar-sized rollup after the daily
    * scan, a 7-row and a 1-row aggregate per type.
    */
  def seasonalStrength(spark: SparkSession, sfDir: String): DataFrame =
    seasonalStrengthOver(Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y")))

  /** Same operator over any (event_type, day, y: long) daily frame —
    * a planted pure-weekly series pins F_s = 1 (zero within-dow
    * variance), a planted dow-free series pins F_s near 0. */
  private[graft] def seasonalStrengthOver(daily0: DataFrame): DataFrame = {
    val d386 = DecimalType(38, 6)
    val daily = daily0.localCheckpoint()
    val byDow = daily
      .groupBy(col("event_type"),
        dayofweek(col("day")).cast("long").as("dow"))
      .agg(count(lit(1)).as("nd"), sum(col("y")).as("s"),
        sum((col("y").cast(DecimalType(19, 0)) *
          col("y").cast(DecimalType(19, 0)))).as("ss"))
    val resid = byDow
      .select(col("event_type"),
        round(col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("nd").cast("double"), 6).cast(d386).as("term"))
      .groupBy("event_type").agg(sum(col("term")).as("ss_resid"))
    val overall = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_all"), sum(col("y")).as("s_all"),
        sum((col("y").cast(DecimalType(19, 0)) *
          col("y").cast(DecimalType(19, 0)))).as("ss_all"))
    val ssy = col("ss_all").cast("double") -
      col("s_all").cast("double") * col("s_all").cast("double") /
        col("n_all").cast("double")
    overall.join(resid, "event_type")
      .select(col("event_type"), col("n_all").cast("long").as("n_days"),
        round(ssy, 6).as("ss_total"),
        round(col("ss_resid").cast("double"), 6).as("ss_resid"),
        when(ssy > 0,
          round(greatest(lit(0.0),
            lit(1.0) - col("ss_resid").cast("double") / ssy), 6))
          .as("seasonal_strength"))
  }

  /** SEASONALITY-ADJUSTED ANOMALY DETECTION — the alerting operator
    * the decomposition exists to enable: a Saturday dip that is
    * normal for Saturdays should not page anyone, and a raw-count
    * monitor (`q_anomaly_mad` on the daily rollup) pages every
    * weekend. Per (type, day): adj = y ÷ seasonal_index(dow) — the
    * multiplicative adjustment from the [[seasonalDecompose]]
    * indices, computed UNROUNDED on the same exact-int ratio dag so
    * both engines divide identical doubles — then the robust MAD
    * z-score of adj per type (the `q_anomaly_mad` recipe applied to
    * the CALENDAR-sized rollup) and the top-k |z| days per type via
    * the bounded TopKPerKey heap. All corpus-sized work is the ONE
    * daily groupBy; indices, medians and MAD run on rollup-sized
    * frames, so the alert path costs O(calendar) after the scan.
    */
  def seasonalAnomaly(spark: SparkSession, sfDir: String, k: Int = 3)
      : DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
    Scratch.persistDeferred(daily)
    val byDow = daily
      .groupBy(col("event_type"),
        dayofweek(col("day")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"))
    val overall = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_all"), sum(col("y")).as("s_all"))
    val idx = byDow.join(broadcast(overall), "event_type")
      .select(col("event_type"), col("dow"),
        ((col("s").cast("double") / col("n_days"))
          / (col("s_all").cast("double") / col("n_all"))).as("sidx"))
    val adj = daily
      .withColumn("dow", dayofweek(col("day")).cast("long"))
      .join(broadcast(idx), Seq("event_type", "dow"))
      .withColumn("adj", col("y").cast("double") / col("sidx"))
    val med = adj.groupBy("event_type")
      .agg(kll_quantiles(col("adj"), 65536, Seq(0.5)).as("qs"))
      .select(col("event_type"), element_at(col("qs"), 1).as("med"))
    val dev = adj.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("adj") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(kll_quantiles(col("adev"), 65536, Seq(0.5)).as("qs"))
      .select(col("event_type"), element_at(col("qs"), 1).as("mad"))
      .filter(col("mad") > 0.0)
    val scored = dev.join(broadcast(mad), "event_type")
      .withColumn("rz",
        round(lit(0.6745) * (col("adj") - col("med")) / col("mad"), 6))
      .withColumn("arz", abs(col("rz")))
    graft.plans.TopKPerKey(
        scored.select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("y"), round(col("adj"), 6).as("adj"), col("rz"), col("arz")),
        Seq("event_type"), Seq(("arz", true), ("day", false)), k)
      .select(col("event_type"), col("day"), col("y"), col("adj"),
        col("rz"), col("rnk"))
  }

  /** FORECAST MODEL EVAL — the comparison harness that closes the
    * forecasting family (the q_retrieval_metrics pattern applied to
    * time series): per event type, the holdout MAE of the
    * seasonal-naive baseline vs the Holt trend model on the
    * IDENTICAL 7-day holdout, and which one a deployment should
    * ship. Baselines are not decoration — a forecasting system that
    * cannot beat seasonal-naive should not ship, and this report is
    * where that shows up.
    */
  def forecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    val sn = forecastSnaive(spark, sfDir)
      .groupBy("event_type").agg(min(col("mae")).as("mae_snaive"))
    val hw = holtForecast(spark, sfDir)
      .groupBy("event_type").agg(min(col("mae")).as("mae_holt"))
    sn.join(hw, "event_type")
      .select(col("event_type"), col("mae_snaive"), col("mae_holt"),
        when(col("mae_holt") < col("mae_snaive"), "holt")
          .when(col("mae_holt") > col("mae_snaive"), "snaive")
          .otherwise("tie").as("winner"))
  }

  /** SAMPLE-RATIO-MISMATCH guardrail — the pre-analysis check every
    * experiment platform runs before trusting a readout (Fabijan et
    * al. 2019): if the md5-parity assignment that [[cuped]]/[[did]]/
    * [[powerMde]] analyze delivered group sizes incompatible with
    * the designed 50/50 split, the experiment is corrupted and no
    * downstream statistic is valid. One-sample χ² against the
    * designed ratio: χ² = Σ (o − e)²/e with e = n/2, flagged at the
    * 0.05 critical value 3.841459 (pinned literal both engines).
    * All counts exact; χ² is a fixed dag on them.
    */
  def abSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val crit = 3.841459
    Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("exp:"), col("user_id"))), 1, 8),
          16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      .groupBy(col("variant")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_total"),
        sum(when(col("variant") === "A", col("n")).otherwise(0L))
          .as("n_a"),
        sum(when(col("variant") === "B", col("n")).otherwise(0L))
          .as("n_b"))
      .withColumn("e", col("n_total").cast("double") / 2.0)
      .withColumn("chi2",
        (col("n_a").cast("double") - col("e"))
          * (col("n_a").cast("double") - col("e")) / col("e")
          + (col("n_b").cast("double") - col("e"))
          * (col("n_b").cast("double") - col("e")) / col("e"))
      .select(col("n_a"), col("n_b"), col("n_total"),
        round(col("chi2"), 6).as("chi2"),
        (col("chi2") > crit).as("srm_detected"))
  }

  /** HOLT double-exponential-smoothing forecast + the same 7-day
    * holdout backtest as [[forecastSnaive]] — level + trend smoothing
    * with α = β = 1/2: the power-of-two coefficients make every
    * level/trend state an EXACTLY-representable binary fraction
    * (numerators stay under 2⁵³ for any month of daily counts), so
    * the recursion is bit-identical across engines — the exact-
    * arithmetic discipline applied to a recursive estimator instead
    * of rounding per step. The recursion runs as one `aggregate`
    * higher-order fold over the per-type TRAINING array (23 daily
    * counts collected per event type — O(#days), the one
    * deliberately non-codegen expression in the family, documented:
    * a 30-element fold per group is rollup-sized, never corpus-
    * sized); DuckDB replays it as a WITH RECURSIVE walk computing
    * the identical expression tree. Forecast at horizon h is
    * l + h·b; per-type MAE sums exactly-representable errors (exact
    * in any order) and divides once.
    */
  def holtForecast(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
    val cut = daily.agg(date_sub(max(col("day")), horizon - 1).as("cut"))
    val withCut = Scratch.persistDeferred(
      daily.crossJoin(broadcast(cut)))
    val state = withCut.filter(col("day") < col("cut"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("arr"))
      .select(col("event_type"), expr(
        """aggregate(
          |  slice(arr, 2, size(arr) - 1),
          |  named_struct('l', CAST(arr[0].y AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)),
          |  (st, e) -> named_struct(
          |    'l', (e.y + st.l + st.b) / 2.0D,
          |    'b', ((e.y + st.l + st.b) / 2.0D - st.l) / 2.0D + st.b / 2.0D))
          |""".stripMargin.trim).as("st"))
      .select(col("event_type"), col("st.l").as("l"), col("st.b").as("b"))
    val fc = state
      .select(col("event_type"), col("l"), col("b"),
        explode(sequence(lit(1L), lit(horizon.toLong))).as("h"))
      .select(col("event_type"), col("h"),
        (col("l") + col("h").cast("double") * col("b")).as("forecast"))
    val hold = withCut.filter(col("day") >= col("cut"))
      .select(col("event_type"), col("day"),
        (datediff(col("day"), col("cut")) + 1).cast("long").as("h"),
        col("y").as("actual"))
    hold.join(fc, Seq("event_type", "h"))
      .withColumn("abs_err", abs(col("actual").cast("double")
        - col("forecast")))
      .withColumn("mae", avg(col("abs_err")).over(
        Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("day"), col("actual"),
        round(col("forecast"), 6).as("forecast"),
        round(col("abs_err"), 6).as("abs_err"),
        round(col("mae"), 6).as("mae"))
  }

  /** THETA-METHOD FORECAST (`q_forecast_theta`) — the M3-competition
    * winner (Assimakopoulos & Nikolopoulos 2000) in its
    * Hyndman–Billah 2003 equivalent form: SES on the series plus
    * HALF the least-squares drift — the third leg of the trend
    * family (`q_holt_forecast` smooths the trend adaptively, snaive
    * copies seasonality, theta splits the difference between SES's
    * flat forecast and the full linear extrapolation, which is
    * exactly why it won M3). α = 1/2 keeps the smoothing recursion
    * power-of-two exact (the holt dyadic discipline — every level is
    * a finite binary fraction of integer counts, bit-identical in
    * both engines); the drift's OLS slope comes from exact integer
    * moments (the q_regression discipline) with ONE IEEE division;
    * forecast_h = l_n + h·b̂/2 is a fixed identical dag. Corpus work
    * is the ONE daily groupBy; the recursion runs per type over the
    * calendar-sized series (oracle = recursive CTE + the same moment
    * arithmetic).
    */
  def forecastTheta(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame =
    forecastThetaOver(
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"),
          to_date(date_trunc("DAY", col("ts"))).as("day"))
        .agg(count(lit(1)).as("y")),
      horizon)

  /** Same operator over any (event_type, day, y) daily frame — the
    * planted linear-series spec walks the dyadic SES levels and the
    * exact half-drift forecasts.
    */
  private[graft] def forecastThetaOver(daily: DataFrame,
      horizon: Int): DataFrame = {
    val cut = daily.agg(date_sub(max(col("day")), horizon - 1).as("cut"))
    val withCut = Scratch.persistDeferred(
      daily.crossJoin(broadcast(cut)))
    val train = withCut.filter(col("day") < col("cut"))
    // SES level: the dyadic fold l' = (y + l) / 2 over the sorted
    // series (finite binary fractions — engine-exact)
    val ses = train.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("arr"))
      .select(col("event_type"), expr(
        "aggregate(slice(arr, 2, size(arr) - 1), " +
          "CAST(arr[0].y AS DOUBLE), (l, e) -> (e.y + l) / 2.0D)")
        .as("l"))
    // OLS slope on (t, y), t = 1..n: exact integer moments, one
    // IEEE division; a single-point series null-guards to drift 0
    val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val mom = train
      .withColumn("t", row_number().over(wt).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
    val fit = ses.join(mom, "event_type")
      .select(col("event_type"), col("l"),
        when(col("n") * col("stt") - col("st") * col("st") =!= 0L,
          (col("n") * col("sty") - col("st") * col("sy")).cast("double")
            / (col("n") * col("stt") - col("st") * col("st"))
              .cast("double"))
          .otherwise(lit(0.0)).as("slope"))
    val fc = fit
      .select(col("event_type"), col("l"), col("slope"),
        explode(sequence(lit(1L), lit(horizon.toLong))).as("h"))
      .select(col("event_type"), col("h"),
        (col("l") + col("h").cast("double") * col("slope") / lit(2.0))
          .as("forecast"))
    val hold = withCut.filter(col("day") >= col("cut"))
      .select(col("event_type"), col("day"),
        (datediff(col("day"), col("cut")) + 1).cast("long").as("h"),
        col("y").as("actual"))
    hold.join(fc, Seq("event_type", "h"))
      .withColumn("abs_err", abs(col("actual").cast("double")
        - col("forecast")))
      .withColumn("mae", avg(col("abs_err")).over(
        Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("day"), col("actual"),
        round(col("forecast"), 6).as("forecast"),
        round(col("abs_err"), 6).as("abs_err"),
        round(col("mae"), 6).as("mae"))
  }

  /** HOLT–WINTERS additive triple smoothing (level + trend +
    * 7-day seasonality) — the model the decompose→evaluate loop
    * points at when `q_seasonal_decompose` shows indices far from 1
    * and trend-only Holt loses to snaive: α=β=γ=1/2, so every
    * smoothing step is a POWER-OF-TWO division and both engines run
    * the identical correctly-rounded IEEE dag (the `q_holt_forecast`
    * discipline, extended with a seasonal state). The seasonal state
    * is a 7-slot QUEUE — head is always s_{t−7}, each step pops the
    * head and appends the update — so the fold needs no modular
    * index bookkeeping in either engine. Init: l₀ = first-week mean
    * (exact int sum, one division), b₀ = 0, s₀ = first-week
    * deviations. Forecast ŷ_{T+h} = l + h·b + s[h] (the queue after
    * step T holds seasons T−6..T, so slot h is exactly season
    * T+h−7). Per-type state is O(period) and the fold is one
    * `aggregate` HOF over the collected calendar-sized series — the
    * corpus-sized work remains the ONE daily groupBy.
    */
  def holtWinters(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame = {
    require(horizon <= 7, "seasonal queue serves h <= period = 7")
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
    val cut = daily.agg(date_sub(max(col("day")), horizon - 1).as("cut"))
    val withCut = Scratch.persistDeferred(
      daily.crossJoin(broadcast(cut)))
    val state = withCut.filter(col("day") < col("cut"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("arr"))
      // A type needs one full season of training days to seed l0/s0;
      // the oracle's recursion never reaches tmax for shorter series
      // and silently drops the type — mirror that drop (ANSI array
      // indexing would otherwise throw on arr[6]).
      .filter(size(col("arr")) >= 7)
      .withColumn("l0", expr(
        "CAST(arr[0].y + arr[1].y + arr[2].y + arr[3].y + arr[4].y " +
          "+ arr[5].y + arr[6].y AS DOUBLE) / 7.0D"))
      .withColumn("s0", expr(
        "transform(slice(arr, 1, 7), e -> CAST(e.y AS DOUBLE) - l0)"))
      .select(col("event_type"), expr(
        """aggregate(
          |  slice(arr, 8, size(arr) - 7),
          |  named_struct('l', l0, 'b', CAST(0.0 AS DOUBLE), 's', s0),
          |  (st, e) -> named_struct(
          |    'l', (e.y - st.s[0] + st.l + st.b) / 2.0D,
          |    'b', ((e.y - st.s[0] + st.l + st.b) / 2.0D - st.l) / 2.0D
          |      + st.b / 2.0D,
          |    's', concat(slice(st.s, 2, 6), array(
          |      (e.y - (e.y - st.s[0] + st.l + st.b) / 2.0D) / 2.0D
          |        + st.s[0] / 2.0D))))
          |""".stripMargin.trim).as("st"))
    val fc = state
      .select(col("event_type"), col("st"),
        explode(sequence(lit(1L), lit(horizon.toLong))).as("h"))
      .select(col("event_type"), col("h"),
        (col("st.l") + col("h").cast("double") * col("st.b")
          + element_at(col("st.s"), col("h").cast("int"))).as("forecast"))
    val hold = withCut.filter(col("day") >= col("cut"))
      .select(col("event_type"), col("day"),
        (datediff(col("day"), col("cut")) + 1).cast("long").as("h"),
        col("y").as("actual"))
    hold.join(fc, Seq("event_type", "h"))
      .withColumn("abs_err", abs(col("actual").cast("double")
        - col("forecast")))
      .withColumn("mae", avg(col("abs_err")).over(
        Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("day"), col("actual"),
        round(col("forecast"), 6).as("forecast"),
        round(col("abs_err"), 6).as("abs_err"),
        round(col("mae"), 6).as("mae"))
  }

  /** KAPLAN–MEIER time-to-conversion survival curve with
    * right-censoring — the standard estimator (Kaplan & Meier 1958)
    * for "how long until a user converts", under a fixed
    * `horizon`-day administrative follow-up: the duration is days
    * from a user's FIRST event to their FIRST purchase; users who
    * have not purchased within the horizon are CENSORED at it
    * (dropping them — or calling them converted-at-horizon — is the
    * classic conversion-curve bias this estimator exists to fix).
    * S(t) = Π_{u ≤ t, d_u > 0} (1 − d_u/n_u), computed in
    * ln-expanded form — per-step terms round to 6 decimals and sum
    * IN DECIMAL along the curve (the perplexity discipline), exp'd
    * and re-rounded at the edge (1-ulp libm exp drift is far inside
    * round-6). The degenerate n_u = d_u step (everyone at risk
    * converts — S hits exactly 0) is clamped via greatest(n−d, 1);
    * standard KM sends the curve to 0 there, and the clamp only
    * engages on that terminal step.
    *
    * Scale shape: the corpus-sized work is two per-user
    * partial-aggregated groupBys (first event, first purchase); the
    * curve itself lives on the O(horizon) duration rollup, where the
    * single-partition cumulative window is bounded by the calendar,
    * not the data (the q_yoy_growth discipline). The user total is a
    * 1-row broadcast aggregate.
    */
  def survivalKm(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame = {
    val w = Window.orderBy(col("t"))
    riskTable(spark, sfDir, horizon)
      .withColumn("lnterm",
        when(col("n_events") > 0,
          round(log(greatest(col("n_risk") - col("n_events"), lit(1L)))
            - log(col("n_risk")), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)))
      .withColumn("survival",
        round(exp(sum(col("lnterm")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")), 6))
      .select(col("t"), col("n_risk"), col("n_events"),
        col("n_censored"), col("survival"))
  }

  /** KM WITH GREENWOOD CONFIDENCE BANDS (`q_km_ci`) — the survival
    * curve nobody should read without its uncertainty: Greenwood's
    * variance Var(S) = S²·Σ_{u≤t} d_u/(n_u(n_u−d_u)) and the plain
    * 95% band clamped to [0,1] (the thin-tail steps where n_risk has
    * collapsed are exactly where the point estimate lies the most).
    * Same life table, same ln-expanded S; the Greenwood terms round
    * at 12 decimals (they live at 1e-5 scale — 6 would truncate
    * them to noise) and cumulate IN DECIMAL along the
    * calendar-bounded curve; the terminal n = d step rides the same
    * greatest(n−d, 1) clamp as S itself.
    */
  def survivalKmCi(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame = {
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    riskTable(spark, sfDir, horizon)
      .withColumn("lnterm",
        when(col("n_events") > 0,
          round(log(greatest(col("n_risk") - col("n_events"), lit(1L)))
            - log(col("n_risk")), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)))
      .withColumn("gwterm",
        when(col("n_events") > 0,
          round(col("n_events").cast("double") /
            (col("n_risk").cast("double") *
              greatest(col("n_risk") - col("n_events"), lit(1L))
                .cast("double")), 12))
          .otherwise(lit(0.0)).cast(DecimalType(18, 12)))
      .withColumn("s", exp(sum(col("lnterm")).over(w).cast("double")))
      .withColumn("se",
        col("s") * sqrt(sum(col("gwterm")).over(w).cast("double")))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        round(col("s"), 6).as("survival"),
        round(col("se"), 6).as("se"),
        round(greatest(col("s") - lit(1.96) * col("se"), lit(0.0)), 6)
          .as("ci_lo"),
        round(least(col("s") + lit(1.96) * col("se"), lit(1.0)), 6)
          .as("ci_hi"))
  }

  /** The shared time-to-first-purchase LIFE TABLE (`q_survival_km` /
    * `q_nelson_aalen`): per event-time t, deaths (first purchases),
    * censorings (horizon reached), and the at-risk count as the
    * running complement — one per-user scan, one #times-row frame.
    */
  private def riskTable(spark: SparkSession, sfDir: String,
      horizon: Int): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val first = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("d0"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("dp"))
    val obs = first.join(purch, Seq("user_id"), "left")
      .withColumn("dt", datediff(col("dp"), col("d0")).cast("long"))
      .select(col("user_id"),
        when(col("dt").isNotNull && col("dt") <= horizon, col("dt"))
          .otherwise(horizon.toLong).as("t"),
        (col("dt").isNull || col("dt") > horizon).as("censored"))
    val tot = obs.agg(count(lit(1)).as("n_users"))
    val byT = obs.groupBy("t")
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("n_events"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val prior = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_users") -
        coalesce(sum(col("n_events") + col("n_censored")).over(prior),
          lit(0L)))
  }

  /** GUMBEL RETURN LEVELS (`q_gumbel_return`) — the block-maxima
    * extreme-value leg completing the heavy-tail family
    * (`q_hill_tail` fits the tail exponent, `q_mean_excess` the POT
    * signature, `q_lmoments` robust moments; EVT block maxima answer
    * the capacity question directly: "what weekly revenue peak do we
    * exceed once a quarter / once a year?"): weekly maxima of daily
    * revenue per type, Gumbel fitted by method of moments
    * (β = s·√6/π, μ = x̄ − γ·β), return level
    * x_T = μ − β·ln(−ln(1−1/T)) at T = 4/12/52 weeks.
    *
    * Every constant (√6/π, Euler–Mascheroni γ, the ln-ln factors) is
    * computed ONCE in Scala and interpolated as the SAME literal into
    * both engines (the literal-table discipline — zero runtime libm
    * in the cross-engine dag); moments are exact integer cents; the
    * block frame is O(#weeks), a calendar rollup.
    */
  def gumbelReturn(spark: SparkSession, sfDir: String): DataFrame =
    gumbelReturnOver(dailySeries(spark, sfDir))

  /** Same operator over any (event_type, day, y) daily frame — a
    * planted two-block series replays the moment fit by hand; a
    * constant series pins the zero-variance null guard; return
    * levels are monotone in T by construction (y_T increasing). */
  private[graft] def gumbelReturnOver(daily: DataFrame): DataFrame = {
    val wk = daily
      .groupBy(col("event_type"),
        date_trunc("week", col("day")).as("wk"))
      .agg(max(col("y")).as("m"))
    val d380 = DecimalType(38, 0)
    val mom = wk.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("m")).cast(d380).as("s"),
        sum((col("m").cast(DecimalType(19, 0)) *
          col("m").cast(DecimalType(19, 0))).cast(d380)).as("q"))
    val nd = col("n").cast("double")
    val mean = col("s").cast("double") / nd
    val variance = (col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nd) /
      (nd - lit(1.0))
    val beta = sqrt(variance) * lit(GumbelC1)
    val mu = mean - lit(GumbelGamma) * beta
    def level(yT: Double): Column = mu + beta * lit(yT)
    mom.select(col("event_type"), col("n").as("n_blocks"),
      when(col("n") > 1 && variance > 0, round(mu, 6)).as("mu"),
      when(col("n") > 1 && variance > 0, round(beta, 6)).as("beta"),
      when(col("n") > 1 && variance > 0, round(level(GumbelY4), 6))
        .as("level_4w"),
      when(col("n") > 1 && variance > 0, round(level(GumbelY12), 6))
        .as("level_12w"),
      when(col("n") > 1 && variance > 0, round(level(GumbelY52), 6))
        .as("level_52w"))
  }

  /** The Gumbel literals, computed once and interpolated verbatim
    * into both engines (see [[gumbelReturn]]). */
  private[graft] val GumbelC1: Double = math.sqrt(6.0) / math.Pi
  private[graft] val GumbelGamma: Double = 0.5772156649015329
  private[graft] def gumbelY(t: Int): Double =
    -math.log(-math.log(1.0 - 1.0 / t))
  private[graft] val GumbelY4: Double = gumbelY(4)
  private[graft] val GumbelY12: Double = gumbelY(12)
  private[graft] val GumbelY52: Double = gumbelY(52)

  /** LOG-RANK TEST (`q_logrank`, Mantel–Cox) — the two-arm SURVIVAL
    * comparison completing the family (`q_survival_km` draws one
    * curve, `q_nelson_aalen` its hazard; log-rank asks the A/B
    * question on TIME-TO-CONVERT that `q_ab_test` cannot: arms with
    * identical conversion RATES can still convert at different
    * SPEEDS, and censoring poisons any naive mean-duration test):
    * arms are the md5-parity split (the `q_ab_srm` assignment —
    * deterministic in both engines), per event-time t the arm-A
    * observed deaths d_A vs hypergeometric expectation
    * E = d·n_A/n and variance V = d·(n_A/n)(1−n_A/n)(n−d)/(n−1),
    * χ² = (Σ(d_A−E))²/ΣV with per-time O−E and V terms rounded 6
    * and summed IN DECIMAL over the O(horizon) life table.
    *
    * Same two per-user partial-agg scans as the shared life table,
    * now arm-keyed; the grouped table is 2×horizon rows; at-risk
    * counts come from per-arm prior-row windows over that bounded
    * frame, never a corpus window.
    */
  def logrank(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val first = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("d0"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("dp"))
    val obs = first.join(purch, Seq("user_id"), "left")
      .withColumn("dt", datediff(col("dp"), col("d0")).cast("long"))
      .select(
        when(conv(substring(md5(concat(lit("exp:"), col("user_id"))),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B")
          .as("arm"),
        when(col("dt").isNotNull && col("dt") <= horizon, col("dt"))
          .otherwise(horizon.toLong).as("t"),
        (col("dt").isNull || col("dt") > horizon).as("censored"))
    logrankFromObs(obs)
  }

  /** Same test over any (arm: "A"/"B", t: long, censored) frame — a
    * hand-computed two-time planted table pins O−E = 0.75,
    * V = 0.5875, χ² = 0.957447 exactly. */
  private[graft] def logrankFromObs(obs: DataFrame): DataFrame = {
    val d186 = DecimalType(18, 6)
    val armTot = obs.groupBy("arm").agg(count(lit(1)).as("n_arm"))
      .localCheckpoint()
    val byT = obs.groupBy("arm", "t")
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      .localCheckpoint()
    // one row per observed time with both arms' counts (a time may
    // exist in one arm only — that arm's at-risk is its total minus
    // everything that left strictly before t, recounted per time
    // below so absent times still get the correct risk set)
    val times = byT.select(col("t")).distinct()
    val armA = byT.filter(col("arm") === "A")
      .select(col("t").as("ta"), col("d").as("d_a"))
    val armB = byT.filter(col("arm") === "B")
      .select(col("t").as("tb"), col("d").as("d_b"))
    // per-arm at-risk AT EVERY observed time: arm total minus prior
    // departures — recomputed from the obs rollup so a time absent in
    // one arm still gets that arm's correct risk count
    val depart = byT.select(col("arm"), col("t"),
      (col("d") + col("c")).as("out"))
    def riskAt(arm: String, alias: String): DataFrame =
      times.join(depart.filter(col("arm") === arm)
          .select(col("t").as("t2"), col("out")),
        col("t2") < col("t"), "left")
        .groupBy("t")
        .agg(coalesce(sum(col("out")), lit(0L)).as("gone"))
        .crossJoin(broadcast(armTot.filter(col("arm") === arm)
          .select(col("n_arm"))))
        .select(col("t").as(s"t_$alias"),
          (col("n_arm") - col("gone")).as(s"nr_$alias"))
    val joined = times
      .join(riskAt("A", "a"), col("t") === col("t_a"))
      .join(riskAt("B", "b"), col("t") === col("t_b"))
      .join(armA, col("t") === col("ta"), "left")
      .join(armB, col("t") === col("tb"), "left")
      .select(col("t"), col("nr_a"), col("nr_b"),
        coalesce(col("d_a"), lit(0L)).as("d_a"),
        coalesce(col("d_b"), lit(0L)).as("d_b"))
      .withColumn("n", col("nr_a") + col("nr_b"))
      .withColumn("d", col("d_a") + col("d_b"))
      .filter(col("d") > 0 && col("n") > 1)
    val e = col("d").cast("double") * col("nr_a").cast("double") /
      col("n").cast("double")
    val v = col("d").cast("double") *
      (col("nr_a").cast("double") / col("n").cast("double")) *
      (lit(1.0) - col("nr_a").cast("double") / col("n").cast("double")) *
      (col("n") - col("d")).cast("double") /
      (col("n") - 1).cast("double")
    val terms = joined.select(
      round(col("d_a").cast("double") - e, 6).cast(d186).as("oe"),
      round(v, 6).cast(d186).as("vt"),
      col("d_a"), col("d"))
    terms.agg(sum(col("d_a")).as("d_a_total"), sum(col("d")).as("d_total"),
        sum(col("oe")).as("oe_sum"), sum(col("vt")).as("v_sum"))
      .select(col("d_a_total"), col("d_total"),
        round(col("oe_sum").cast("double"), 6).as("o_minus_e"),
        round(col("v_sum").cast("double"), 6).as("variance"),
        when(col("v_sum").cast("double") > 0,
          round(col("oe_sum").cast("double") *
            col("oe_sum").cast("double") /
            col("v_sum").cast("double"), 6)).as("chi2"))
  }

  /** NELSON–AALEN CUMULATIVE HAZARD (`q_nelson_aalen`) — the
    * estimator the survival pair was missing: where [[survivalKm]]
    * multiplies survival fractions, Nelson–Aalen SUMS the hazard
    * increments H(t) = Σ_{t_i ≤ t} d_i/n_i (better small-sample
    * behavior, and the additive form is what hazard-ratio eyeballing
    * reads); the variance estimate Σ d_i/n_i² rides the same pass.
    * Each increment is ONE division of exact integers ROUNDED 9 and
    * cumulated IN DECIMAL (the KM lnterm discipline), so the running
    * sums have one deterministic value in both engines. Same life
    * table, same 1-row broadcast, #times-row frame.
    */
  def nelsonAalen(spark: SparkSession, sfDir: String,
      horizon: Int = 7): DataFrame = {
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val d189 = DecimalType(18, 9)
    riskTable(spark, sfDir, horizon)
      .withColumn("hterm",
        when(col("n_events") > 0,
          round(col("n_events").cast("double") /
            col("n_risk").cast("double"), 9))
          .otherwise(lit(0.0)).cast(d189))
      .withColumn("vterm",
        when(col("n_events") > 0,
          round(col("n_events").cast("double") /
            (col("n_risk").cast("double") * col("n_risk").cast("double")),
            9))
          .otherwise(lit(0.0)).cast(d189))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        sum(col("hterm")).over(cum).cast("double").as("cum_hazard"),
        sum(col("vterm")).over(cum).cast("double").as("var_hazard"))
  }

  /** PEARSON χ² INDEPENDENCE TEST + CRAMÉR'S V over the lang ×
    * source contingency of the documents corpus — the categorical
    * association test the family was missing (`q_ab_test`/
    * `q_mannwhitney` compare numeric arms; `q_mutual_info` measures
    * the same association in bits; this is the classical inference
    * companion with its effect size). A corpus where language
    * depends on source is a corpus whose per-source curation will
    * shift the language mixture — V is the one-number alarm.
    *
    * The corpus-sized work is ONE (lang, source) groupBy; everything
    * after runs on the R×C cell frame including the ZERO cells
    * (absent combos still contribute e = rt·ct/n to χ² — the full
    * grid is a tiny cross of the two broadcast margins). Per-cell
    * terms (o−e)²/e round to 6 and sum IN DECIMAL — never a raw
    * IEEE double sum, whose partition order is nondeterministic (the
    * perplexity ln-term discipline); χ², dof and V are then single
    * IEEE ops rounded at the gate.
    */
  def crosstabChi2(spark: SparkSession, sfDir: String): DataFrame =
    crosstabChi2Over(Tables.documents(spark, sfDir)
      .select(col("lang"), col("source")))

  /** Same operator over any (lang, source) frame — a hand-computed
    * 2×2 planted table pins χ², dof and V. */
  def crosstabChi2Over(df: DataFrame): DataFrame = {
    val cells = df.groupBy("lang", "source")
      .agg(count(lit(1)).as("o")).localCheckpoint()
    val rt = cells.groupBy("lang").agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy("source").agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("r"),
      countDistinct(col("source")).as("c"))
    val grid = rt.crossJoin(broadcast(ct))
    val terms = grid
      .join(broadcast(cells), Seq("lang", "source"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("od", coalesce(col("o"), lit(0L)).cast("double"))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double"))
      .withColumn("term",
        round((col("od") - col("e")) * (col("od") - col("e")) / col("e"), 6)
          .cast(DecimalType(18, 6)))
    terms.agg(max(col("n")).as("n"), max(col("r")).as("r"),
        max(col("c")).as("c"), sum(col("term")).as("chi2d"))
      .select(col("n").cast("long").as("n"),
        col("r").cast("long").as("n_rows"),
        col("c").cast("long").as("n_cols"),
        ((col("r") - 1) * (col("c") - 1)).cast("long").as("dof"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        round(sqrt(col("chi2d").cast("double") /
          (col("n").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** MANN–WHITNEY U / WILCOXON RANK-SUM between the `value`
    * distributions of two event types — the nonparametric
    * location test beside [[abTest]] (means) and [[ksTest]]
    * (whole-shape): rank-based, so one whale order cannot move it,
    * which is why metric reviews run it next to the t-test on
    * heavy-tailed revenue.
    *
    * Never the textbook global rank assignment (a corpus-wide sort —
    * a single-task funnel at 100 TB): U comes from the SCORE
    * HISTOGRAM via the `q_auc` identity U = Σ_s a_s·(cumB_<s + ½b_s),
    * partial-aggregated to |distinct scores| rows in ONE shuffle with
    * the cumulative-B prefix running the same two-level
    * range-partition trick as `q_auc` (per-slice partials + a P-row
    * broadcast offset join + slice-local window). The numerator
    * doubles to stay integral (ties count 1, strict wins 2) and
    * accumulates in exact DECIMAL; the tie correction Σ(t³−t) rides
    * the same histogram pass in DECIMAL cubes. The normal
    * approximation σ² = na·nb/12·((n+1) − Σ(t³−t)/(n(n−1))) and
    * z = (2U − na·nb)/(2σ) are then a fixed IEEE dag on identical
    * exact inputs in both engines, rounded 6 at the gate.
    */
  def mannWhitney(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame =
    mannWhitneyOver(Tables.events(spark, sfDir), typeA, typeB)

  /** Same operator over any (event_type, value) frame — planted
    * disjoint / identical / tied corpora pin U and z by hand. */
  def mannWhitneyOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    val spark = events.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val hist = events
      .filter(col("event_type").isin(typeA, typeB))
      .select((money(col("value")) * 100).cast("long").as("score"),
        col("event_type"))
      .groupBy("score")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    // histogram-sized; eager so the pid snapshot is deterministic for
    // both the offset pass and the running window (the q_auc recipe)
    val ranged = hist.repartitionByRange(p, col("score"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = ranged.groupBy("pid").agg(sum(col("b")).as("t"))
      .withColumn("offset",
        coalesce(sum(col("t")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wRun = Window.partitionBy(col("pid")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val d19 = DecimalType(19, 0)
    val d12 = DecimalType(12, 0)
    val cum = ranged.join(broadcast(offsets), "pid")
      .withColumn("cumb",
        col("offset") + coalesce(sum(col("b")).over(wRun), lit(0L)))
    val t = (col("a") + col("b")).cast(d12)
    cum.agg(
        sum(col("a")).as("na"), sum(col("b")).as("nb"),
        sum(col("a").cast(d19) *
          (lit(2) * col("cumb") + col("b")).cast(d19)).as("u2"),
        sum(t * t * t - t).as("ties"))
      .withColumn("nd", col("na").cast("double"))
      .withColumn("md", col("nb").cast("double"))
      .withColumn("n", col("nd") + col("md"))
      .withColumn("varu",
        col("nd") * col("md") / lit(12.0) *
          ((col("n") + lit(1.0)) -
            col("ties").cast("double") / (col("n") * (col("n") - lit(1.0)))))
      .select(lit(typeA).as("type_a"), lit(typeB).as("type_b"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(col("u2").cast("double") / lit(2.0), 1).as("u_stat"),
        when(col("na") > 0 && col("nb") > 0 && col("varu") > 0,
          round((col("u2").cast("double") - col("nd") * col("md")) /
            (lit(2.0) * sqrt(col("varu"))), 6)).as("z_stat"))
  }

  /** CLIFF'S DELTA (`q_cliffs_delta`) — the ordinal EFFECT SIZE the
    * Mann-Whitney test needs next to its p-value (a significant U on
    * a big corpus can be a trivially small effect; δ says HOW MUCH
    * one group stochastically dominates): δ = (#(a>b) − #(a<b))/(n_a
    * n_b) ∈ [−1, 1], with the Romano et al. magnitude labels
    * (0.147/0.33/0.474). Derived EXACTLY from the already-gated
    * [[mannWhitney]] dag: the doubled tie-credited U statistic gives
    * #(a>b) − #(a<b) = 2U − n_a·n_b (half-tie credits cancel), and
    * u_stat's round(·, 1) is exact on the half-integer domain, so
    * 2·u_stat reconstructs the exact integer 2U — one division, one
    * identical-dag threshold CASE; no new shuffle beyond the shared
    * histogram pass.
    */
  def cliffsDelta(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame =
    cliffsDeltaOver(Tables.events(spark, sfDir), typeA, typeB)

  /** Same operator over any (event_type, value) frame — planted
    * disjoint (δ=±1), identical (δ=0) and interleaved corpora pin the
    * dominance arithmetic by hand. */
  def cliffsDeltaOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    val mw = mannWhitneyOver(events, typeA, typeB)
    val nd = col("n_a").cast("double") * col("n_b").cast("double")
    val raw = (lit(2.0) * col("u_stat") - nd) / nd
    mw.select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0, round(raw, 6)).as("delta"),
      when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("string"))
        .when(abs(raw) < 0.147, "negligible")
        .when(abs(raw) < 0.33, "small")
        .when(abs(raw) < 0.474, "medium")
        .otherwise("large").as("magnitude"))
  }

  /** POWER CURVE (`q_power_curve`) — `q_power_mde` inverted: that key
    * answers "what lift is detectable at 80% power"; this one answers
    * "what power do we have at the lifts the business actually asks
    * about" (0.5/1/2/5%), the go/no-go table an experiment review
    * reads. Power = Φ(δ/se − z₀.₀₂₅) via the ONE-SIDED A&S 26.2.17
    * tail (the [[normalP2]] polynomial without its two-sided factor —
    * a factor-2 division AFTER rounding would sit exactly on the
    * half-up boundary, the q_cronbach trap): the effect-z pre-rounds
    * to 6, the tail rounds to 6, and power = 1 − tail (or tail for a
    * negative effect-z) stays a RAW identical-dag double. Pilot
    * moments are the `q_power_mde` per-user metric and md5 arm split,
    * exact decimal sums, one 1-row frame crossed with the literal
    * lift grid.
    */
  def powerCurve(spark: SparkSession, sfDir: String,
      lifts: Seq[Double] = Seq(0.005, 0.01, 0.02, 0.05)): DataFrame = {
    val za = 1.959964
    def tail1(z: Column): Column = {
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * z)
      val poly = ((((lit(1.330274429) * t - lit(1.821255978)) * t
        + lit(1.781477937)) * t - lit(0.356563782)) * t
        + lit(0.319381530)) * t
      round(lit(0.3989422804014327) * exp(lit(-0.5) * z * z) * poly, 6)
    }
    val base = abPilotMoments(spark, sfDir)
      .withColumn("se", sqrt(col("varp")) *
        sqrt(lit(1.0) / col("na") + lit(1.0) / col("nb")))
      .localCheckpoint()
    lifts.map { r =>
      val xr = round(col("mean") * lit(r) / col("se") - lit(za), 6)
      val ok = col("se") > 0
      base.select(lit(r).as("lift_rel"),
        when(ok, round(col("mean") * lit(r), 6)).as("delta"),
        when(ok, xr).as("z_effect"),
        when(ok, when(xr >= 0, lit(1.0) - tail1(abs(xr)))
          .otherwise(tail1(abs(xr)))).as("power"))
    }.reduce(_ unionAll _)
  }

  /** The `q_power_mde`/`q_power_curve` pilot-moment frame: per-user
    * metric, md5 arm split, exact decimal sums → one row with
    * (na, nb, mean, varp) as doubles.
    */
  private def abPilotMoments(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .select(col("user_id"), money(col("value")).as("v"))
      .groupBy("user_id").agg(sum(col("v")).as("m"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("exp:"), col("user_id"))), 1, 8),
          16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val mom = Scratch.persistDeferred(
      perUser.groupBy("variant")
        .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
          sum((col("m") * col("m")).cast(DecimalType(38, 4))).as("ss")))
    val a = mom.filter(col("variant") === "A")
      .select(col("n").cast("double").as("na"),
        col("s").cast("double").as("sa"), col("ss").cast("double").as("ssa"))
    val b = mom.filter(col("variant") === "B")
      .select(col("n").cast("double").as("nb"),
        col("s").cast("double").as("sb"), col("ss").cast("double").as("ssb"))
    a.crossJoin(broadcast(b))
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("mean", (col("sa") + col("sb")) / col("nn"))
      .withColumn("varp",
        ((col("ssa") + col("ssb"))
          - col("nn") * col("mean") * col("mean")) / (col("nn") - 1))
  }

  /** The Φ tail polynomial (Abramowitz & Stegun 26.2.17) as a fixed
    * Column dag: two-sided p = 2·φ(|z|)·poly(t), t = 1/(1+0.2316419·|z|).
    * Every coefficient is the SAME literal in the DuckDB oracle and
    * the input z arrives pre-rounded (6), so both engines run the
    * identical IEEE dag (the survival-curve exp discipline); the
    * result rounds to 6 before anything compares it.
    */
  private[graft] def normalP2(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * t - lit(1.821255978)) * t
      + lit(1.781477937)) * t - lit(0.356563782)) * t
      + lit(0.319381530)) * t
    val phi = lit(0.3989422804014327) * exp(lit(-0.5) * az * az)
    round(lit(2.0) * phi * poly, 6)
  }

  /** BENJAMINI–HOCHBERG FDR CONTROL over the hour-of-day family of
    * Welch tests — the multiple-looks guardrail beside `q_ab_srm`
    * (validity) and `q_power_mde` (design): a dashboard that slices
    * one experiment 24 ways and ships the reddest cell is fishing;
    * BH is the standard correction (FDR ≤ α over the family).
    *
    * Per hour: the exact-decimal moment scan (ONE corpus pass,
    * partial-aggregated to 24×2 rows) → the [[abTest]] Welch z dag →
    * two-sided p via [[normalP2]] (large-sample normal; per-cell n is
    * hundreds at the gate SFs and unbounded at scale). The BH step-up
    * runs entirely on the 24-row family: rank by (p, hour), compare
    * p ≤ rank·α/m, k* = max passing rank (1-row broadcast), reject
    * rank ≤ k*. Family-sized windows are bounded by the CALENDAR,
    * not the data (the q_yoy_growth discipline) — 24 rows at any SF.
    */
  def fdrBh(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click",
      alpha: Double = 0.05): DataFrame =
    fdrBhOver(Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("slice"),
        col("event_type"), col("value")), typeA, typeB, alpha)

  /** Same operator over any (slice, event_type, value) frame — a
    * planted one-strong-effect family pins k* and the reject set. */
  def fdrBhOver(events: DataFrame, typeA: String, typeB: String,
      alpha: Double): DataFrame = {
    val ranked = rankedSliceP(events, typeA, typeB)
    val fam = ranked.agg(count(col("p")).as("m"))
    val withM = ranked.crossJoin(broadcast(fam))
      .withColumn("bh_crit",
        round(col("rank").cast("double") * lit(alpha) /
          col("m").cast("double"), 6))
    val kstar = withM
      .agg(coalesce(max(when(col("p") <= col("bh_crit"), col("rank"))),
        lit(0)).as("kstar"))
    withM.crossJoin(broadcast(kstar))
      .select(col("slice"), col("n_a"), col("n_b"), col("z_stat"),
        col("p"), col("rank").cast("long").as("p_rank"), col("bh_crit"),
        (col("p").isNotNull && col("rank") <= col("kstar")).as("reject"))
  }

  /** BENJAMINI–YEKUTIELI step-up (`q_fdr_by`) — BH's dependency-safe
    * sibling: under ARBITRARY p-value dependence (BH assumes
    * independence/PRDS; hourly slices of one event stream are exactly
    * the correlated case) the criticals shrink by the harmonic factor
    * c(m) = Σ 1/i. The SAME Welch-z family and (p, slice) step-up
    * rank as [[fdrBh]]; c(m) is ONE left-fold over sequence(1, m)
    * with the identical fold order in both engines (0 + 1/1 + 1/2 +
    * … — initial-zero-exact, so DuckDB's no-init list_reduce
    * associates identically), making the whole report hash-exact.
    * The planted spec pins BY ⊆ BH rejections (c(m) ≥ 1).
    */
  def fdrBy(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click",
      alpha: Double = 0.05): DataFrame =
    fdrByOver(Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("slice"),
        col("event_type"), col("value")), typeA, typeB, alpha)

  def fdrByOver(events: DataFrame, typeA: String, typeB: String,
      alpha: Double): DataFrame = {
    val ranked = rankedSliceP(events, typeA, typeB)
    val fam = ranked.agg(count(col("p")).as("m"))
    val withM = ranked.crossJoin(broadcast(fam))
      .withColumn("cm",
        when(col("m") > 0, expr("aggregate(sequence(1, cast(m as int)), " +
          // 1.0D: a plain 1.0 literal is DECIMAL and its division
          // rounds at decimal scale — the fold must stay pure double
          "cast(0.0 as double), (acc, i) -> acc + 1.0D / i)")))
      .withColumn("by_crit",
        when(col("m") > 0,
          round(col("rank").cast("double") * lit(alpha) /
            (col("m").cast("double") * col("cm")), 6)))
    val kstar = withM
      .agg(coalesce(max(when(col("p") <= col("by_crit"), col("rank"))),
        lit(0)).as("kstar"))
    withM.crossJoin(broadcast(kstar))
      .select(col("slice"), col("n_a"), col("n_b"), col("z_stat"),
        col("p"), col("rank").cast("long").as("p_rank"),
        col("cm").as("c_m"), col("by_crit"),
        (col("p").isNotNull && col("rank") <= col("kstar")).as("reject"))
  }

  /** EVENT STUDY (`q_event_study`) — the per-period generalization of
    * `q_did`'s single difference-in-differences number: δ_t =
    * (ȳᵀ_t − ȳᶜ_t) − (ȳᵀ_pre − ȳᶜ_pre) for every day t in a window
    * around the treatment date, the plot every causal claim gets
    * judged by (pre-period δ_t ≉ 0 means parallel trends fail and
    * the DiD estimate is junk; the post-period profile shows effect
    * DYNAMICS a single pooled number averages away). Treatment is the
    * deterministic md5 user split (the `q_det_sample` idiom), the
    * event date min(day)+15 — a null experiment whose flat profile
    * IS the parallel-trends validation; the planted spec drives a
    * real effect through the Over variant. Exact decimal daily
    * moments per (rel_day, group); means, the baseline and δ are one
    * shared IEEE dag on exact sums; window-bounded frames after one
    * corpus groupBy.
    */
  def eventStudy(spark: SparkSession, sfDir: String,
      win: Int = 7): DataFrame =
    eventStudyOver(Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value")), win)

  private[graft] def eventStudyOver(events: DataFrame, win: Int)
      : DataFrame = {
    val ev = events
      .select(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("day"),
        money(col("value")).as("v"))
      .withColumn("grp",
        substring(md5(concat(lit("es1:"),
          col("user_id").cast("string"))), 1, 1) < lit("8"))
    val t0 = ev.agg(date_add(min(col("day")), 15).as("t0"))
    val daily = ev.crossJoin(broadcast(t0))
      .withColumn("rel", datediff(col("day"), col("t0")).cast("long"))
      .filter(col("rel") >= -win && col("rel") <= win)
      .groupBy("rel", "grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .localCheckpoint()
    val cell = daily.groupBy("rel").agg(
      sum(when(col("grp"), col("n"))).as("nt"),
      sum(when(col("grp"), col("s"))).as("st"),
      sum(when(!col("grp"), col("n"))).as("nc"),
      sum(when(!col("grp"), col("s"))).as("sc"))
    val pre = daily.filter(col("rel") < 0).agg(
      sum(when(col("grp"), col("n"))).as("pnt"),
      sum(when(col("grp"), col("s"))).as("pst"),
      sum(when(!col("grp"), col("n"))).as("pnc"),
      sum(when(!col("grp"), col("s"))).as("psc"))
    val diffRaw = col("st").cast("double") / col("nt").cast("double") -
      col("sc").cast("double") / col("nc").cast("double")
    val base = col("pst").cast("double") / col("pnt").cast("double") -
      col("psc").cast("double") / col("pnc").cast("double")
    val cellOk = col("nt") > 0 && col("nc") > 0
    val preOk = col("pnt") > 0 && col("pnc") > 0
    cell.crossJoin(broadcast(pre))
      .select(col("rel").as("rel_day"),
        coalesce(col("nt"), lit(0L)).cast("long").as("n_treat"),
        coalesce(col("nc"), lit(0L)).cast("long").as("n_ctrl"),
        when(cellOk, round(diffRaw, 6)).as("diff"),
        when(cellOk && preOk, round(diffRaw - base, 6)).as("delta"))
  }

  /** POST-STRATIFIED A/B ESTIMATE (`q_post_stratified`) — the
    * variance-reduction sibling of `q_cuped` that needs no
    * pre-period covariate: re-weight each arm's hour-of-day stratum
    * means by the POOLED stratum shares W_h = N_h/N (that pooling is
    * what makes it post-stratification — each arm is corrected to
    * the same composition, removing hour-mix imbalance from the
    * contrast), with Var̂ = Σ W_h²·s²_h/n_h per arm. Reported beside
    * the naive Welch diff/se from the SAME one-pass moments so the
    * variance reduction is visible, not asserted. Determinism: exact
    * decimal cell moments; per-stratum mean terms rounded 6 and
    * variance terms rounded 12, both DECIMAL-summed across the
    * 24-stratum frame (the ANOVA discipline); one IEEE dag for the
    * final means/ses.
    */
  def postStratified(spark: SparkSession, sfDir: String): DataFrame =
    postStratifiedOver(Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("h"),
        (substring(md5(concat(lit("ps1:"),
          col("user_id").cast("string"))), 1, 1) < lit("8")).as("grp"),
        col("value")))

  /** Same estimator over any (h, grp, value) frame — the planted spec
    * builds a mix-imbalanced null effect that fools the naive diff
    * and is corrected to exactly 0 by post-stratification. */
  private[graft] def postStratifiedOver(events: DataFrame): DataFrame = {
    val d186 = DecimalType(18, 6)
    val d1812 = DecimalType(18, 12)
    val ev = events.select(col("h"), col("grp"), money(col("value")).as("v"))
    val cell = ev.groupBy("h", "grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      .localCheckpoint()
    val strat = cell.groupBy("h").agg(sum(col("n")).as("nh"))
    val tot = strat.agg(sum(col("nh")).as("ntot"))
    val nD = col("n").cast("double")
    val xbar = col("s").cast("double") / nD
    val s2 = (col("ss").cast("double") - nD * xbar * xbar) / (nD - 1)
    val w = col("nh").cast("double") / col("ntot").cast("double")
    val terms = cell.join(broadcast(strat), "h")
      .crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("s"), col("ss"),
        round(w * xbar, 6).cast(d186).as("tm"),
        when(col("n") > 1, round(w * w * s2 / nD, 12))
          .otherwise(lit(0d)).cast(d1812).as("tv"))
    val byArm = terms.groupBy("grp")
      .agg(sum(col("n")).as("na"), sum(col("s")).as("sa"),
        sum(col("ss")).as("ssa"),
        sum(col("tm")).as("m_strat"), sum(col("tv")).as("v_strat"))
    val t = byArm.filter(col("grp")).select(
      col("na").as("nt"), col("sa").as("st"), col("ssa").as("sst"),
      col("m_strat").as("mt"), col("v_strat").as("vt"))
    val c = byArm.filter(!col("grp")).select(
      col("na").as("nc"), col("sa").as("sc"), col("ssa").as("ssc"),
      col("m_strat").as("mc"), col("v_strat").as("vc"))
    val ntD = col("nt").cast("double")
    val ncD = col("nc").cast("double")
    val mtN = col("st").cast("double") / ntD
    val mcN = col("sc").cast("double") / ncD
    val vtN = (col("sst").cast("double") - ntD * mtN * mtN) /
      (ntD - 1) / ntD
    val vcN = (col("ssc").cast("double") - ncD * mcN * mcN) /
      (ncD - 1) / ncD
    t.crossJoin(broadcast(c)).select(
      col("nt").cast("long").as("n_treat"),
      col("nc").cast("long").as("n_ctrl"),
      round(col("mt").cast("double") - col("mc").cast("double"), 6)
        .as("diff_strat"),
      round(sqrt(col("vt").cast("double") + col("vc").cast("double")), 6)
        .as("se_strat"),
      round(mtN - mcN, 6).as("diff_naive"),
      when(col("nt") > 1 && col("nc") > 1,
        round(sqrt(vtN + vcN), 6)).as("se_naive"))
  }

  /** MIXTURE SPRT / ALWAYS-VALID p-VALUES (`q_msprt`, Robbins 1970;
    * the Optimizely "peeking-safe" machinery) — the sequential
    * experimentation guardrail beside the fixed-n `q_ab_test` and
    * the simple-alternative `q_sprt`: a dashboard refreshed hourly
    * IS a sequential test, and the fixed-n p-value lies under
    * peeking. The mixture likelihood ratio against H₀: θ = 0 with a
    * N(0, τ²) prior has the closed form Λ_n = √(se²/(se²+τ²)) ·
    * exp(θ̂²τ²/(2se²(se²+τ²))), and p_n = min(1, running-min 1/Λ) is
    * valid at EVERY look simultaneously. Looks = cumulative hourly
    * cuts: per-hour exact decimal moments cumulate through a
    * calendar-bounded window (24 rows), the Welch θ̂/se dag runs on
    * the cumulative moments, τ is a literal, exp/sqrt the
    * established identical-dag libm calls. Output per look: the
    * stats, Λ, the always-valid p, and the α = 0.05 stop flag.
    */
  def msprt(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click",
      tau: Double = 0.5): DataFrame =
    msprtOver(Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("h"), col("event_type"),
        col("value")), typeA, typeB, tau)

  /** Same operator over any (h, event_type, value) look frame — the
    * planted spec pins stop-on-separation, never-stop-on-null, and
    * the always-valid p's monotone non-increase across looks. */
  private[graft] def msprtOver(events: DataFrame, typeA: String,
      typeB: String, tau: Double): DataFrame =
    msprtFromHourly(events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("h"), col("event_type"), money(col("value")).as("v"))
      .groupBy("h", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss")),
      typeA, typeB, tau)

  /** The mSPRT tail over an already-aggregated (h, event_type, n, s,
    * ss) look frame — shared by the batch key and `stream_msprt`,
    * whose state store maintains exactly these moments across
    * micro-batches.
    */
  private[graft] def msprtFromHourly(hourly: DataFrame, typeA: String,
      typeB: String, tau: Double): DataFrame = {
    val wCum = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hourly
      .groupBy("h")
      .agg(
        sum(when(col("event_type") === typeA, col("n"))).as("na0"),
        sum(when(col("event_type") === typeA, col("s"))).as("sa0"),
        sum(when(col("event_type") === typeA, col("ss"))).as("ssa0"),
        sum(when(col("event_type") === typeB, col("n"))).as("nb0"),
        sum(when(col("event_type") === typeB, col("s"))).as("sb0"),
        sum(when(col("event_type") === typeB, col("ss"))).as("ssb0"))
      .select(col("h"),
        sum(coalesce(col("na0"), lit(0L))).over(wCum)
          .cast("double").as("na"),
        sum(col("sa0")).over(wCum).cast("double").as("sa"),
        sum(col("ssa0")).over(wCum).cast("double").as("ssa"),
        sum(coalesce(col("nb0"), lit(0L))).over(wCum)
          .cast("double").as("nb"),
        sum(col("sb0")).over(wCum).cast("double").as("sb"),
        sum(col("ssb0")).over(wCum).cast("double").as("ssb"))
    val ma = col("sa") / col("na")
    val mb = col("sb") / col("nb")
    val va = (col("ssa") - col("na") * ma * ma) / (col("na") - 1)
    val vb = (col("ssb") - col("nb") * mb * mb) / (col("nb") - 1)
    val se2 = va / col("na") + vb / col("nb")
    val theta = ma - mb
    val t2 = lit(tau * tau)
    val lam = sqrt(se2 / (se2 + t2)) *
      exp(theta * theta * t2 / (lit(2.0) * se2 * (se2 + t2)))
    val ok = col("na") > 1 && col("nb") > 1 && se2 > 0
    val stepped = cum
      .withColumn("lam", when(ok, lam))
      .withColumn("invl",
        when(ok, least(lit(1.0), lit(1.0) / col("lam"))))
      .withColumn("p_always",
        min(col("invl")).over(wCum))
    stepped.select(col("h").as("look_hour"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      when(ok, round(theta, 6)).as("theta_hat"),
      when(ok, round(col("lam"), 6)).as("mixture_lr"),
      round(col("p_always"), 6).as("p_always_valid"),
      (col("p_always") <= 0.05).as("stopped"))
  }

  /** HOLM STEP-DOWN (`q_holm`) — the FWER member completing the
    * multiple-testing family (BH/BY control the false-discovery
    * RATE; Holm controls the probability of ANY false positive —
    * uniformly more powerful than plain Bonferroni at the same
    * guarantee, assumption-free): walk the p-values in ascending
    * order against α/(m−k+1) and STOP at the first failure — every
    * later hypothesis is retained regardless of its own p (the
    * step-down semantics a naive per-row comparison gets wrong).
    * Same Welch-z family and (p, slice) rank as [[fdrBh]]; the stop
    * is a cumulative window AND over the calendar-bounded family.
    */
  def holm(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click",
      alpha: Double = 0.05): DataFrame =
    holmOver(Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("slice"),
        col("event_type"), col("value")), typeA, typeB, alpha)

  /** Same operator over any (slice, event_type, value) frame — the
    * planted family pins the step-down stop and Holm ⊆ BH. */
  def holmOver(events: DataFrame, typeA: String, typeB: String,
      alpha: Double): DataFrame = {
    val ranked = rankedSliceP(events, typeA, typeB)
    val fam = ranked.agg(count(col("p")).as("m"))
    val wCum = Window.orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranked.crossJoin(broadcast(fam))
      .withColumn("crit",
        round(lit(alpha) / (col("m") - col("rank") + 1)
          .cast("double"), 6))
      .withColumn("pass",
        when(col("p").isNotNull && col("p") <= col("crit"), 1L)
          .otherwise(0L))
      .withColumn("reject", min(col("pass")).over(wCum) === 1L)
      .select(col("slice"), col("n_a"), col("n_b"), col("z_stat"),
        col("p"), col("rank").cast("long").as("p_rank"),
        col("crit").as("holm_crit"), col("reject"))
  }

  /** The shared FDR front half: per-slice Welch z (the `q_ab_test`
    * moment dag), two-sided p via the A&S 26.2.17 polynomial, and
    * the (p, slice) step-up rank — family-sized and eager so BH and
    * BY consume one snapshot.
    */
  private def rankedSliceP(events: DataFrame, typeA: String,
      typeB: String): DataFrame = {
    val m0 = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("slice"), col("event_type"),
        money(col("value")).as("v"))
      .groupBy("slice", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      .select(col("slice"), col("event_type"),
        col("n").cast("double").as("n"),
        col("s").cast("double").as("s"), col("ss").cast("double").as("ss"))
    val a = m0.filter(col("event_type") === typeA)
      .select(col("slice"), col("n").as("na"), col("s").as("sa"),
        col("ss").as("ssa"))
    val b = m0.filter(col("event_type") === typeB)
      .select(col("slice"), col("n").as("nb"), col("s").as("sb"),
        col("ss").as("ssb"))
    val z = a.join(b, "slice")
      .withColumn("ma", col("sa") / col("na"))
      .withColumn("mb", col("sb") / col("nb"))
      .withColumn("va",
        (col("ssa") - col("na") * col("ma") * col("ma")) / (col("na") - 1))
      .withColumn("vb",
        (col("ssb") - col("nb") * col("mb") * col("mb")) / (col("nb") - 1))
      .withColumn("se2", col("va") / col("na") + col("vb") / col("nb"))
      .withColumn("z",
        when(col("na") > 1 && col("nb") > 1 && col("se2") > 0,
          round((col("ma") - col("mb")) / sqrt(col("se2")), 6)))
      .withColumn("p", when(col("z").isNotNull, normalP2(col("z"))))
      .select(col("slice"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"), col("z").as("z_stat"), col("p"))
    // family-sized from here: rank by (p, slice), step-up
    z.withColumn("rank", row_number().over(
        Window.orderBy(col("p").asc_nulls_last, col("slice"))))
      .localCheckpoint()
  }

  /** QUANTILE TREATMENT EFFECTS — the distributional readout beside
    * the mean contrast ([[abTest]]) and its CI (`q_bootstrap_diff`):
    * ΔQ(p) = F_A⁻¹(p) − F_B⁻¹(p) at p ∈ {.1,.25,.5,.75,.9}. A
    * treatment that lifts the median while cutting the p90 is
    * invisible to the mean; the QTE profile is where that shows.
    *
    * Both arms' quantiles come from ONE corpus scan: two KLL
    * aggregates (null-skipping conditional columns) in a single
    * partial-aggregated pass — never a per-arm sort. k = 65536 keeps
    * the sketch in its EXACT regime at every gate SF (arm sizes
    * ~20k at sf0.1), where the interpolated quantile is bit-identical
    * to DuckDB `quantile_cont` (the `q_ks_test` cutpoint contract);
    * beyond the exact regime the same plan degrades to mergeable
    * ±ε-rank quantiles — the 100 TB path. Everything after the scan
    * is a 5-row projection off two broadcast 1-row arrays.
    */
  def qte(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame =
    qteOver(Tables.events(spark, sfDir), typeA, typeB)

  /** QTE probe grid — literal in both engines. */
  val QteProbs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9)

  /** Same operator over any (event_type, value) frame — a planted
    * constant-shift corpus pins ΔQ(p) ≡ shift at every p. */
  def qteOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val ev = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        money(col("value")).cast("double").as("v"))
    val qs = ev.agg(
      kll_quantiles(when(col("event_type") === typeA, col("v")),
        65536, QteProbs).as("qa"),
      kll_quantiles(when(col("event_type") === typeB, col("v")),
        65536, QteProbs).as("qb"))
    qs.select(posexplode(arrays_zip(col("qa"), col("qb"))).as(Seq("i", "q")))
      .select(
        element_at(array(QteProbs.map(lit(_)): _*), col("i") + 1).as("p"),
        round(col("q.qa"), 6).as("q_a"), round(col("q.qb"), 6).as("q_b"),
        round(col("q.qa") - col("q.qb"), 6).as("qte"))
  }

  /** ONE-WAY ANOVA F-TEST across ALL event types — the k-group
    * extension of the family's two-arm tests ([[abTest]] compares a
    * pair of means; this asks "do ANY of the k arms differ", the
    * omnibus question a multi-variant experiment or a per-source
    * corpus-metric comparison opens with), plus η² (the share of
    * variance the grouping explains — the effect size that says
    * whether a significant F matters).
    *
    * The corpus-sized work is ONE partial-aggregated scan to
    * per-group exact moments (n, Σv, Σv² in DECIMAL — the abTest
    * discipline); the grand moments re-aggregate the k-row frame,
    * never a second corpus pass. The between/within sums of squares
    * are per-group IEEE terms on exact inputs, rounded 6 and summed
    * IN DECIMAL (k terms in nondeterministic order — the chi²/
    * perplexity ln-term discipline); F and η² are then single IEEE
    * ops, null-guarded on their zero denominators in both engines.
    */
  def anova(spark: SparkSession, sfDir: String): DataFrame =
    anovaOver(Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"), money(col("value")).as("v")))

  /** Same operator over any (grp, v: decimal(18,2)) frame — a
    * hand-computed 3-group spec pins SSB/SSW/F/η², a constant corpus
    * pins the null guards. */
  def anovaOver(df: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 4)
    val m = df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(d38)).as("ss"))
      .localCheckpoint()
    val g = m.agg(count(lit(1)).as("k"), sum(col("n")).as("tn"),
      sum(col("s")).as("ts"))
    m.crossJoin(broadcast(g))
      .withColumn("gm", col("ts").cast("double") / col("tn").cast("double"))
      .withColumn("mg", col("s").cast("double") / col("n").cast("double"))
      .withColumn("ssb_t",
        round(col("n").cast("double") * (col("mg") - col("gm"))
          * (col("mg") - col("gm")), 6).cast(DecimalType(18, 6)))
      .withColumn("ssw_t",
        round(col("ss").cast("double") - col("s").cast("double")
          * col("s").cast("double") / col("n").cast("double"), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("k", "tn")
      .agg(sum(col("ssb_t")).as("ssb"), sum(col("ssw_t")).as("ssw"))
      .select(col("k").cast("long").as("k_groups"),
        col("tn").cast("long").as("n"),
        (col("k") - 1).cast("long").as("df1"),
        (col("tn") - col("k")).cast("long").as("df2"),
        round(col("ssb").cast("double"), 6).as("ss_between"),
        round(col("ssw").cast("double"), 6).as("ss_within"),
        when(col("k") > 1 && col("ssw").cast("double") > 0 &&
            col("tn") > col("k"),
          round((col("ssb").cast("double") / (col("k") - 1).cast("double")) /
            (col("ssw").cast("double") / (col("tn") - col("k")).cast("double")),
            6)).as("f_stat"),
        when(col("ssb").cast("double") + col("ssw").cast("double") > 0,
          round(col("ssb").cast("double") /
            (col("ssb").cast("double") + col("ssw").cast("double")), 6))
          .as("eta_sq"))
  }

  /** AUTOCORRELATION FUNCTION of the daily-revenue series at lags
    * 1..maxLag — the diagnosis that PRECEDES every forecast choice
    * in the family ([[seasonalDecompose]] assumes weekly structure;
    * ACF is what SHOWS it: a lag-7 spike says "seasonal-naive will
    * work", slow decay says "trend — Holt", white noise says "stop").
    *
    * The corpus-sized work is ONE partial-aggregated rollup to the
    * O(#days) daily frame; everything after is rollup-sized. r_k =
    * Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²: the denominator from exact
    * decimal moments (ss − s²/n), the numerator per (lag, day) pair
    * as an IEEE product on exact inputs rounded 6 and summed IN
    * DECIMAL (the chi²/ANOVA term discipline). Pairs come from a
    * calendar self-join (day+k), so calendar gaps drop the pair in
    * both engines rather than mis-aligning the series.
    */
  def acf(spark: SparkSession, sfDir: String, maxLag: Int = 14)
      : DataFrame =
    acfOver(Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(money(col("o_totalprice"))).as("y")), maxLag)

  /** Same operator over any (day: date, y: decimal(18,2)) daily
    * frame — a planted alternating series pins r_1 ≈ −1 / r_2 ≈ +1,
    * a constant series pins the zero-variance null guard. */
  private[graft] def acfOver(daily0: DataFrame, maxLag: Int): DataFrame = {
    val daily = daily0.localCheckpoint()
    val mom = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4))).as("ss"))
      .withColumn("xbar", col("s").cast("double") / col("n").cast("double"))
      .withColumn("den", col("ss").cast("double") -
        col("s").cast("double") * col("s").cast("double") /
          col("n").cast("double"))
      .select("xbar", "den")
    val lagDf = daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    daily.select(col("day"), col("y").as("x1"))
      .crossJoin(broadcast(lagDf))
      .join(daily.select(col("day").as("day2"), col("y").as("x2")),
        col("day2") === date_add(col("day"), col("lag")))
      .crossJoin(broadcast(mom))
      .withColumn("t",
        round((col("x1").cast("double") - col("xbar")) *
          (col("x2").cast("double") - col("xbar")), 6)
          .cast(DecimalType(28, 6)))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("t")).as("num"),
        max(col("den")).as("den"))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(col("den") > 0,
          round(col("num").cast("double") / col("den"), 6)).as("acf"))
  }

  /** LJUNG–BOX PORTMANTEAU TEST (`q_ljung_box`) — the lag-h
    * autocorrelation omnibus that completes the regression-diagnostics
    * leg [[durbinWatson]] opened: DW sees lag 1 only; Ljung–Box asks
    * "is there ANY serial correlation through lag h" via
    * Q_h = n(n+2) Σ_{k≤h} r_k²/(n−k), χ²(h) under the white-noise
    * null. One row per h = 1..maxLag — the full portmanteau table a
    * forecaster reads top-to-bottom (q_stat vs the χ² critical value
    * at df = h).
    *
    * Determinism discipline: r_k comes from [[acfOver]]'s exact
    * pipeline (decimal moments, products rounded 6 and summed in
    * decimal); each Q term r_k²/(n−k) is rounded 12 into
    * DECIMAL(20,12) and the cumulative sum runs IN DECIMAL over the
    * bounded maxLag-row frame (a window over ≤14 rows, not data);
    * n(n+2) multiplies as DECIMAL(12,0) so the product stays exact
    * under the 38-precision cap. Corpus-sized work is the ONE daily
    * rollup acfOver already pays — everything here is rollup-sized.
    */
  def ljungBox(spark: SparkSession, sfDir: String, maxLag: Int = 14)
      : DataFrame =
    ljungBoxOver(Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(money(col("o_totalprice"))).as("y")), maxLag)

  /** Same operator over any (day: date, y: decimal(18,2)) daily
    * frame — a planted alternating series pins the huge-Q signal, a
    * constant series pins the zero-variance null guard (q_stat NULL,
    * never a divide-by-zero).
    */
  private[graft] def ljungBoxOver(daily0: DataFrame, maxLag: Int)
      : DataFrame = {
    val daily = daily0.localCheckpoint()
    val r = acfOver(daily, maxLag)
    val nDf = daily.agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.crossJoin(broadcast(nDf))
      // amplify BEFORE rounding: n(n+2) ~ millions, so a per-term
      // round at raw r²/(n−k) scale would let 1e-12 rounding lore
      // surface in the 6-decimal Q; rounding the fully-scaled term to
      // 6 and summing IN DECIMAL is the chi²/ANOVA discipline
      .withColumn("term",
        round(col("acf") * col("acf") *
          (col("n") * (col("n") + 2)).cast("double") /
          (col("n") - col("lag")).cast("double"), 6)
          .cast(DecimalType(24, 6)))
      .withColumn("qsum", sum(col("term")).over(wCum))
      .select(col("lag"), col("n").cast("long").as("n"), col("acf"),
        col("qsum").cast("double").as("q_stat"))
  }

  /** PRECISION-RECALL OPERATING CURVE at the ten score-decile
    * thresholds — the evaluation leg between `q_auc` (one ranking
    * number), `q_lift` (per-decile response), and `q_confusion` (one
    * operating point): at every decile cut t, predict positive when
    * score lands in decile ≥ t and report precision/recall/F1. Each
    * row buckets ONCE against the broadcast KLL decile cuts (exact
    * regime ⇒ quantile_cont, the `q_lift` contract), so threshold
    * sweeping costs nothing extra: predicted-positive and TP counts
    * are SUFFIX SUMS over the bounded 10-row bucket frame (the
    * `q_yoy_growth` window discipline), and F1 avoids rounded-ratio
    * compounding via the integer identity F1 = 2·TP/(pred + all_pos).
    */
  def prCurve(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame = {
    import graft.functions.KllSketch.{bucket_below, kll_quantiles}
    val probs = (1 to 9).map(_ / 10.0)
    val ev = Tables.events(spark, sfDir)
      .select(money(col("value")).cast("double").as("score"),
        (col("event_type") === posType).as("y"))
    val cuts = ev.agg(
      kll_quantiles(col("score"), 65536, probs).as("cuts"))
    val buckets = ev.crossJoin(broadcast(cuts))
      .select(bucket_below(col("cuts"), col("score")).cast("long")
        .as("bucket"), col("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      .localCheckpoint()
    val tot = buckets.agg(sum(col("pos")).as("all_pos"))
    val wSuf = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    buckets
      .withColumn("pred", sum(col("n")).over(wSuf))
      .withColumn("tp", sum(col("pos")).over(wSuf))
      .crossJoin(broadcast(tot))
      .select(col("bucket").cast("long").as("threshold_bucket"),
        col("pred"), col("tp"),
        round(col("tp").cast("double") / col("pred").cast("double"), 6)
          .as("prec"),
        when(col("all_pos") > 0,
          round(col("tp").cast("double") / col("all_pos").cast("double"),
            6)).as("rec"),
        round(lit(2.0) * col("tp").cast("double") /
          (col("pred") + col("all_pos")).cast("double"), 6).as("f1"))
  }

  /** ORDER-TO-SHIP LAG per order priority — the supply-chain SLA
    * readout (does URGENT actually ship faster?): per line, the
    * integer day gap shipdate − orderdate; per priority the exact
    * mean (decimal sums, one IEEE division rounded 6) and p50/p90
    * via the exact-regime KLL (the `q_funnel_time` contract —
    * quantile_cont-identical at gate SFs, mergeable ±ε beyond). One
    * join + one partial-agg scan, O(#priorities) rows out.
    */
  def shipLag(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val lag0 = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lag"))
    lag0.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("lag")).as("s"),
        kll_quantiles(col("lag").cast("double"), 65536, Seq(0.5, 0.9))
          .as("q"))
      .select(col("o_orderpriority"), col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 6)
          .as("mean_days"),
        round(element_at(col("q"), 1), 6).as("p50_days"),
        round(element_at(col("q"), 2), 6).as("p90_days"))
  }

  /** LEAVE-ONE-OUT TARGET ENCODING of part brand by line revenue —
    * the feature-store categorical encoder with the leakage guard
    * built in (a row's own target never leaks into its feature — the
    * `q_pit_features` discipline applied to aggregation instead of
    * time): enc_i = (S_c − x_i + m·μ)/(n_c − 1 + m) with smoothing
    * m = 20 toward the global mean (the standard shrinkage against
    * rare categories). Brand sums are exact decimal; the encoding is
    * ONE IEEE dag per row against the broadcast brand frame; output
    * is the deterministic md5 1/16 row sample (the `q_det_sample`
    * convention — per-row encodings at corpus scale stay a sample,
    * the model-training consumer reads the full projection).
    */
  def targetEncoding(spark: SparkSession, sfDir: String,
      smoothing: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
        (money(col("l_extendedprice")) * 100).cast("long").as("cents"))
    val byBrand = li.groupBy("p_brand")
      .agg(count(lit(1)).as("n_c"), sum(col("cents")).as("s_c"))
    val glob = byBrand.agg(sum(col("n_c")).as("n"),
      sum(col("s_c")).as("s"))
    li.filter(substring(md5(concat(col("l_orderkey").cast("string"),
        lit("-"), col("l_linenumber").cast("string"))), 1, 1) === "0")
      .join(broadcast(byBrand), "p_brand")
      .crossJoin(broadcast(glob))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
        col("cents"),
        round(((col("s_c") - col("cents")).cast("double")
          + lit(smoothing.toDouble) *
            (col("s").cast("double") / col("n").cast("double")))
          / (col("n_c") - 1 + smoothing).cast("double"), 6)
          .as("enc_loo"))
  }

  /** WEIGHT OF EVIDENCE + INFORMATION VALUE of order priority
    * predicting fulfilled status — the credit-scoring feature screen
    * (Siddiqi's IV bands: < 0.02 useless, > 0.5 suspicious): per
    * category WoE = ln(share_good/share_bad) with +1 Laplace
    * smoothing, expressed as a DIFFERENCE OF LNs OF EXACT INTEGERS
    * (ln((g_c+1)·(B+K)) − ln((b_c+1)·(G+K)) — the text_kneser_ney
    * integer-ratio discipline, no composite-double ln input), and
    * IV = Σ (share_good − share_bad)·WoE with per-category terms
    * rounded 6 and summed IN DECIMAL. One corpus groupBy; everything
    * after lives on the #categories-row frame.
    */
  def woeIv(spark: SparkSession, sfDir: String): DataFrame = {
    val cats = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
        .as("n_good"),
        sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L))
          .as("n_bad"))
      .localCheckpoint()
    val tot = cats.agg(sum(col("n_good")).as("gt"),
      sum(col("n_bad")).as("bt"), count(lit(1)).as("k"))
    val terms = cats.crossJoin(broadcast(tot))
      .withColumn("woe", round(
        log(((col("n_good") + 1) * (col("bt") + col("k"))).cast("double"))
          - log(((col("n_bad") + 1) * (col("gt") + col("k")))
            .cast("double")), 6))
      .withColumn("iv_term", round(
        ((col("n_good") + 1).cast("double")
          / (col("gt") + col("k")).cast("double")
          - (col("n_bad") + 1).cast("double")
            / (col("bt") + col("k")).cast("double")) * col("woe"), 6)
        .cast(DecimalType(18, 6)))
      .localCheckpoint()
    val iv = terms.agg(sum(col("iv_term")).as("ivd"))
    terms.crossJoin(broadcast(iv))
      .select(col("o_orderpriority"), col("n_good"), col("n_bad"),
        col("woe"), col("iv_term").cast("double").as("iv_term"),
        round(col("ivd").cast("double"), 6).as("iv"))
  }

  /** MAHALANOBIS OUTLIERS per event type over the (value,
    * time-of-day) plane — the MULTIVARIATE leg of the anomaly family
    * (`q_anomaly_zscore`/`_mad` score one dimension; a $900 purchase
    * is normal at noon and an outlier at 4am only under the joint
    * distribution): per-type exact decimal moments (n, Σx, Σy, Σx²,
    * Σy², Σxy over cents and seconds-into-day) → the 2×2 population
    * covariance and its inverse as ONE fixed IEEE dag (the
    * q_regression discipline, det-guarded) → per-row squared
    * Mahalanobis distance rounded 6 → top-5 per type on the bounded
    * TopKPerKey heaps with event_id tie-break. One moment scan + one
    * scored scan against the broadcast #types-row moment frame.
    */
  def mahalanobis(spark: SparkSession, sfDir: String, k: Int = 5)
      : DataFrame = {
    val d384 = DecimalType(38, 4)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        (money(col("value")) * 100).cast("long").as("x"),
        (expr("unix_micros(ts) div 1000000") % 86400L).as("y"))
    val mom = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n0"),
        sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
        sum((col("x") * col("x")).cast(d384)).as("sxx0"),
        sum((col("y") * col("y")).cast(d384)).as("syy0"),
        sum((col("x") * col("y")).cast(d384)).as("sxy0"))
      .select(col("event_type"),
        col("n0").cast("double").as("n"),
        col("sx0").cast("double").as("sx"),
        col("sy0").cast("double").as("sy"),
        col("sxx0").cast("double").as("sxx"),
        col("syy0").cast("double").as("syy"),
        col("sxy0").cast("double").as("sxy"))
      .withColumn("mx", col("sx") / col("n"))
      .withColumn("my", col("sy") / col("n"))
      .withColumn("vxx", col("sxx") / col("n") - col("mx") * col("mx"))
      .withColumn("vyy", col("syy") / col("n") - col("my") * col("my"))
      .withColumn("vxy", col("sxy") / col("n") - col("mx") * col("my"))
      .withColumn("det",
        col("vxx") * col("vyy") - col("vxy") * col("vxy"))
      .select("event_type", "mx", "my", "vxx", "vyy", "vxy", "det")
    val scored = ev.join(broadcast(mom), "event_type")
      .filter(col("det") =!= 0.0)
      .withColumn("dx", col("x").cast("double") - col("mx"))
      .withColumn("dy", col("y").cast("double") - col("my"))
      .withColumn("d2", round(
        (col("dx") * col("dx") * col("vyy")
          - lit(2.0) * col("dx") * col("dy") * col("vxy")
          + col("dy") * col("dy") * col("vxx")) / col("det"), 6))
    graft.plans.TopKPerKey(
        scored.select(col("event_type"), col("event_id"), col("x"),
          col("y"), col("d2")),
        Seq("event_type"), Seq(("d2", true), ("event_id", false)), k)
      .select(col("event_type"), col("event_id"),
        col("x").as("cents"), col("y").as("sec_of_day"),
        col("d2"), col("rnk"))
  }

  /** CROSS-CORRELATION (lead-lag CCF) between the daily click and
    * purchase count series at lags −7..7 — the question `q_acf`
    * can't ask: does click volume LEAD purchases (positive-lag peak)
    * or echo them? Same disciplines as the ACF: ONE conditional
    * daily rollup for BOTH series, full-series means/denominators
    * from exact integer moments, per-(lag, day) calendar-join pairs
    * whose centered products round 6 and sum IN DECIMAL (gaps drop
    * the pair in both engines), zero-variance null guard on either
    * side. The corpus-sized work is the one daily groupBy; the CCF
    * grid is O(#days × #lags).
    */
  def crossCorr(spark: SparkSession, sfDir: String, maxLag: Int = 7)
      : DataFrame = {
    val d380 = DecimalType(38, 0)
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      .localCheckpoint()
    val mom = daily.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast(d380)).as("sxx"),
        sum((col("y") * col("y")).cast(d380)).as("syy"))
      .withColumn("xbar",
        col("sx").cast("double") / col("n").cast("double"))
      .withColumn("ybar",
        col("sy").cast("double") / col("n").cast("double"))
      .withColumn("denx", col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
          / col("n").cast("double"))
      .withColumn("deny", col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
          / col("n").cast("double"))
      .select("xbar", "ybar", "denx", "deny")
    val lagDf = spark.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    daily.select(col("day"), col("x"))
      .crossJoin(broadcast(lagDf))
      .join(daily.select(col("day").as("day2"), col("y").as("y2")),
        col("day2") === date_add(col("day"), col("lag")))
      .crossJoin(broadcast(mom))
      .withColumn("t",
        round((col("x").cast("double") - col("xbar")) *
          (col("y2").cast("double") - col("ybar")), 6)
          .cast(DecimalType(28, 6)))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("t")).as("num"),
        max(col("denx")).as("dx"), max(col("deny")).as("dy"))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(col("dx") > 0 && col("dy") > 0,
          round(col("num").cast("double") / sqrt(col("dx") * col("dy")),
            6)).as("ccf"))
  }

  /** CALIBRATION / RELIABILITY report + ECE/MCE for a [0,1]-scaled
    * score against a binary outcome — the evaluation leg [[auc]]
    * (ranking) and [[lift]] (decile response) don't cover: does the
    * score's VALUE mean what it claims? Ten fixed-width bins over
    * the min-max-normalized score; per bin the mean normalized score
    * ("confidence") vs the observed positive rate ("accuracy");
    * Expected Calibration Error Σ (n_b/n)·|acc−conf| and Maximum
    * Calibration Error max|acc−conf|.
    *
    * ONE conditional-aggregate scan after a broadcast 1-row min/max;
    * per-bin confidence is MOMENT ALGEBRA on the exact decimal Σv
    * ((Σv/n − min)/(max−min) — no second per-row pass, the cuped
    * recipe); ECE terms round 6 and sum IN DECIMAL; MCE is a max
    * over rounded terms (order-free). A constant score degenerates
    * to one bin with null confidence (guarded identically in both
    * engines).
    */
  def calibration(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame =
    calibrationOver(Tables.events(spark, sfDir)
      .select(money(col("value")).as("v"),
        (col("event_type") === posType).as("y")))

  /** Same operator over any (v: decimal(18,2), y: boolean) frame —
    * a perfectly-calibrated planted corpus pins ECE = 0, a planted
    * anti-calibrated one pins the per-bin gaps. */
  def calibrationOver(scored: DataFrame): DataFrame = {
    val mm = scored.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val binned = scored.crossJoin(broadcast(mm))
      .select(col("y"), col("v"), col("mn"), col("mx"),
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double") * 10).cast("long"),
            lit(9L))).otherwise(lit(0L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("v")).as("sv"), max(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
      .localCheckpoint()
    val tot = binned.agg(sum(col("n")).as("tn"))
    val perBin = binned.crossJoin(broadcast(tot))
      .withColumn("conf_raw",
        when(col("mx") > col("mn"),
          (col("sv").cast("double") / col("n").cast("double") -
            col("mn").cast("double")) /
            (col("mx") - col("mn")).cast("double")))
      .withColumn("acc_raw",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("gap_raw", abs(col("acc_raw") - col("conf_raw")))
    val scalars = perBin
      .select(
        round(col("gap_raw") * col("n").cast("double") /
          col("tn").cast("double"), 6).cast(DecimalType(18, 6)).as("e"),
        round(col("gap_raw"), 6).as("g"))
      .agg(sum(col("e")).as("eced"), max(col("g")).as("mce"))
    perBin.crossJoin(broadcast(scalars))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("conf_raw"), 6).as("confidence"),
        round(col("acc_raw"), 6).as("accuracy"),
        round(col("gap_raw"), 6).as("gap"),
        round(col("eced").cast("double"), 6).as("ece"),
        col("mce"))
  }

  /** EWMA CONTROL CHART over the daily event-count series per type —
    * the SPC monitor the time-series family was missing
    * ([[Relational.anomalyMad]] flags single outlier days; EWMA
    * detects small SUSTAINED shifts, the drift mode point anomalies
    * miss): z_t = λ·y_t + (1−λ)·z_{t−1} with λ = 1/4, so every
    * smoothing step is POWER-OF-TWO arithmetic on integer counts and
    * the whole recursion is bit-exact in both engines (the
    * holt/holt-winters dyadic discipline). Control limits are the
    * exact time-varying form μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) with
    * (1−λ)^{2t} maintained as a RUNNING PRODUCT of the 0.5625
    * literal inside the same fold — never engine libm pow(), whose
    * rounding is not pinned cross-engine. μ and σ come from exact
    * integer moments; the fold is one `aggregate` HOF per type over
    * the collected CALENDAR-sized series (the corpus-sized work is
    * the ONE daily groupBy).
    */
  def ewmaChart(spark: SparkSession, sfDir: String, l: Double = 3.0)
      : DataFrame =
    ewmaChartOver(Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts")), l)

  /** Same chart over any (event_type, ts) frame — a planted 4-day
    * series pins the dyadic recursion and the t=1 exact-0.25 limit
    * factor by hand. */
  def ewmaChartOver(events: DataFrame, l: Double): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
    Scratch.persistDeferred(daily)
    val mom = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("ss"))
      .select(col("event_type"),
        (col("s").cast("double") / col("n").cast("double")).as("mu"),
        when(col("n") > 1,
          sqrt((col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")) / (col("n") - 1).cast("double")))
          .as("sigma"))
    val folded = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("arr"))
      .join(broadcast(mom), "event_type")
      .withColumn("zs", expr(
        """aggregate(
          |  arr,
          |  named_struct('z', mu, 'p', CAST(1.0 AS DOUBLE),
          |    'out', CAST(array() AS ARRAY<STRUCT<z: DOUBLE, p: DOUBLE>>)),
          |  (st, e) -> named_struct(
          |    'z', (CAST(e.y AS DOUBLE) + 3.0D * st.z) / 4.0D,
          |    'p', st.p * 0.5625D,
          |    'out', concat(st.out, array(named_struct(
          |      'z', (CAST(e.y AS DOUBLE) + 3.0D * st.z) / 4.0D,
          |      'p', st.p * 0.5625D)))),
          |  st -> st.out)""".stripMargin.trim))
    folded
      .select(col("event_type"), col("mu"), col("sigma"),
        posexplode(arrays_zip(col("arr"), col("zs"))).as(Seq("i", "e")))
      .withColumn("width",
        lit(l) * col("sigma") *
          sqrt(lit(0.25) / lit(1.75) * (lit(1.0) - col("e.zs.p"))))
      .select(col("event_type"), col("e.arr.day").as("day"),
        col("e.arr.y").as("y"), round(col("e.zs.z"), 6).as("ewma"),
        round(col("mu") + col("width"), 6).as("ucl"),
        round(col("mu") - col("width"), 6).as("lcl"),
        when(col("sigma").isNotNull,
          col("e.zs.z") > col("mu") + col("width") ||
            col("e.zs.z") < col("mu") - col("width"))
          .as("out_of_control"))
  }

  /** PAIRED t-TEST on per-user purchase-vs-click mean values — the
    * third classical t variant ([[abTest]] treats arms as
    * independent samples; pairing on the USER removes the
    * between-user variance component, the standard readout when the
    * same population generates both metrics): users with BOTH event
    * types contribute one difference d = mean_purchase − mean_click;
    * t = d̄ / (s_d/√n) with df = n−1.
    *
    * ONE conditional-aggregate scan to per-user exact DECIMAL sums;
    * each user's d is a fixed IEEE dag on exact inputs, ROUNDED 6
    * AT THE USER BOUNDARY, and d / d² accumulate IN DECIMAL from
    * the rounded values (per-user doubles summed raw would be
    * partition-order-nondeterministic — the bootstrap/chi² term
    * discipline, here applied one level up); the t dag then runs on
    * exact decimal totals, null-guarded on zero variance.
    */
  def ttestPaired(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame =
    ttestPairedOver(Tables.events(spark, sfDir), typeA, typeB)

  /** Same operator over any (user_id, event_type, value) frame —
    * planted constant-shift and zero-variance corpora pin t and the
    * guard. */
  def ttestPairedOver(events: DataFrame, typeA: String, typeB: String)
      : DataFrame = {
    val perUser = events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === typeA, money(col("value")))).as("sa"),
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === typeB, money(col("value")))).as("sb"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("d_raw",
        col("sa").cast("double") / col("na").cast("double") -
          col("sb").cast("double") / col("nb").cast("double"))
      .select(
        round(col("d_raw"), 6).cast(DecimalType(18, 6)).as("d"),
        round(col("d_raw") * col("d_raw"), 6).cast(DecimalType(28, 6))
          .as("d2"))
    perUser.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d2")).as("sd2"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean_d", col("sd").cast("double") / col("nd"))
      .withColumn("var_d",
        when(col("n") > 1,
          (col("sd2").cast("double") -
            col("sd").cast("double") * col("sd").cast("double") /
              col("nd")) / (col("nd") - 1.0)))
      .select(col("n").cast("long").as("n_pairs"),
        (col("n") - 1).cast("long").as("df"),
        round(col("mean_d"), 6).as("mean_diff"),
        when(col("var_d") > 0, round(sqrt(col("var_d")), 6)).as("sd_diff"),
        when(col("var_d") > 0,
          round(col("mean_d") / sqrt(col("var_d") / col("nd")), 6))
          .as("t_stat"))
  }

  /** KRUSKAL–WALLIS H across ALL event types — the k-group
    * nonparametric companion: [[anova]] compares means (moment-
    * sensitive on heavy tails), [[mannWhitney]] ranks two arms; this
    * ranks ALL k at once, the omnibus test a skewed multi-variant
    * metric needs. Tie-corrected: H' = H / (1 − Σ(t³−t)/(N³−N)).
    *
    * Never the textbook global rank sort (single-task funnel at
    * 100 TB): midranks come from the VALUE HISTOGRAM — one partial-
    * aggregated (score, group) shuffle, the cumulative-below prefix
    * on the histogram via the two-level range-partition trick (the
    * mannWhitney/q_auc recipe). Doubled rank sums 2R_g = Σ n_gs·
    * (2·cum_<s + t_s + 1) stay INTEGRAL in DECIMAL through ties;
    * Σ R_g²/n_g is per-group IEEE terms on exact inputs rounded 6
    * and summed IN DECIMAL (the ANOVA discipline); the all-tied
    * corpus (correction denominator 0) null-guards identically.
    */
  def kruskal(spark: SparkSession, sfDir: String): DataFrame =
    kruskalOver(Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"),
        (money(col("value")) * 100).cast("long").as("score")))

  /** Same operator over any (grp, score: long) frame — hand-computed
    * no-tie and tie corpora pin H, an all-tied corpus pins the
    * guard. */
  def kruskalOver(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val d19 = DecimalType(19, 0)
    val d12 = DecimalType(12, 0)
    // the (score, grp) histogram is the ONE corpus-sized shuffle and
    // feeds both the score totals and the per-group rank sums:
    // truncate its lineage so the scan runs once
    val hist = df.groupBy("score", "grp").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val byScore = hist.groupBy("score").agg(sum(col("c")).as("t"))
    val ranged = byScore.repartitionByRange(p, col("score"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = ranged.groupBy("pid").agg(sum(col("t")).as("pt"))
      .withColumn("offset",
        coalesce(sum(col("pt")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wRun = Window.partitionBy(col("pid")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = ranged.join(broadcast(offsets), "pid")
      .withColumn("cumb",
        col("offset") + coalesce(sum(col("t")).over(wRun), lit(0L)))
      .select(col("score"), col("t"), col("cumb"))
    val perGrp = hist.join(cum, "score")
      .groupBy("grp")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(d19) *
          (lit(2) * col("cumb") + col("t") + lit(1)).cast(d19)).as("r2"))
    val ties = cum.agg(
      sum((col("t").cast(d12) * col("t").cast(d12) * col("t").cast(d12)
        - col("t").cast(d12))).as("tc"))
    perGrp
      .withColumn("term",
        round(col("r2").cast("double") * col("r2").cast("double") /
          (lit(4.0) * col("n").cast("double")), 6)
          .cast(DecimalType(28, 6)))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("tn"),
        sum(col("term")).as("sr"))
      .crossJoin(broadcast(ties))
      .withColumn("nd", col("tn").cast("double"))
      .withColumn("h_raw",
        lit(12.0) / (col("nd") * (col("nd") + 1.0)) *
          col("sr").cast("double") - lit(3.0) * (col("nd") + 1.0))
      .withColumn("corr",
        lit(1.0) - col("tc").cast("double") /
          (col("nd") * col("nd") * col("nd") - col("nd")))
      .select(col("k").cast("long").as("k_groups"),
        col("tn").cast("long").as("n"),
        (col("k") - 1).cast("long").as("df"),
        round(col("h_raw"), 6).as("h_raw"),
        when(col("corr") > 0, round(col("h_raw") / col("corr"), 6))
          .as("h_stat"))
  }

  /** TUKEY-FENCE (IQR) OUTLIER REPORT per event type — the
    * box-plot rule every data-quality triage starts with, beside
    * the robust-z family ([[Relational.anomalyMad]] scores days;
    * this screens raw VALUES): Q1/Q3 from the KLL sketch (exact
    * regime at the gate SFs — the qte/quantile_cont contract),
    * fences at 1.5·IQR, and the outside counts from ONE conditional
    * re-scan against the broadcast k-row fence frame. Fences are
    * IEEE ops on the unrounded quantiles (the qte discipline),
    * rounded 6 at the gate; rates are exact-count divisions.
    */
  def outlierIqr(spark: SparkSession, sfDir: String): DataFrame =
    outlierIqrOver(Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"),
        money(col("value")).cast("double").as("v")))

  /** Same report over any (grp, v: double) frame — a planted corpus
    * with one far point per side pins the counts and fences. */
  def outlierIqrOver(df: DataFrame): DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val q = df.groupBy("grp")
      .agg(kll_quantiles(col("v"), 65536, Seq(0.25, 0.75)).as("qs"))
      .select(col("grp"), element_at(col("qs"), 1).as("q1"),
        element_at(col("qs"), 2).as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    df.join(broadcast(q), "grp")
      .groupBy(col("grp"), col("q1"), col("q3"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_out_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_out_hi"))
      .select(col("grp").as("event_type"),
        round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
        round(col("q3") - col("q1"), 6).as("iqr"),
        round(col("lo"), 6).as("lo_fence"),
        round(col("hi"), 6).as("hi_fence"),
        col("n"), col("n_out_lo"), col("n_out_hi"),
        round((col("n_out_lo") + col("n_out_hi")).cast("double") /
          col("n").cast("double"), 6).as("out_rate"))
  }

  /** SIMPSON'S-PARADOX AUDIT on the discount→revenue association —
    * the aggregation-bias check every segmented readout needs: the
    * high-discount vs low-discount mean-extended-price contrast,
    * overall AND within each l_returnflag stratum, with a flag on
    * every stratum whose contrast SIGN OPPOSES the overall one (the
    * paradox: each stratum can reverse what the pooled table says,
    * because discount incidence correlates with the stratum mix).
    *
    * ONE conditional-aggregate scan under a rollup(l_returnflag)
    * (the pooled row is the grouping-set row, not a second pass);
    * means are single IEEE divisions of exact decimal sums, the
    * contrast rounds 6, and the sign test joins the broadcast 1-row
    * pooled contrast back to the strata.
    */
  def simpson(spark: SparkSession, sfDir: String,
      discountCut: Double = 0.05): DataFrame =
    simpsonOver(Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("stratum"),
        (col("l_discount") > discountCut).as("hi"),
        money(col("l_extendedprice")).as("v")))

  /** Same audit over any (stratum, hi: boolean, v: decimal(18,2))
    * frame — a planted textbook reversal pins the flags. */
  def simpsonOver(df: DataFrame): DataFrame = {
    val agg = df.rollup("stratum")
      .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("n_hi"),
        sum(when(!col("hi"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("hi"), col("v"))).as("s_hi"),
        sum(when(!col("hi"), col("v"))).as("s_lo"))
      .withColumn("diff_raw",
        when(col("n_hi") > 0 && col("n_lo") > 0,
          col("s_hi").cast("double") / col("n_hi").cast("double") -
            col("s_lo").cast("double") / col("n_lo").cast("double")))
      .localCheckpoint()
    val overall = agg.filter(col("stratum").isNull)
      .select(col("diff_raw").as("diff_all"))
    agg.crossJoin(broadcast(overall))
      .select(coalesce(col("stratum"), lit("ALL")).as("stratum"),
        col("n_hi"), col("n_lo"),
        when(col("n_hi") > 0,
          round(col("s_hi").cast("double") / col("n_hi").cast("double"), 6))
          .as("mean_hi"),
        when(col("n_lo") > 0,
          round(col("s_lo").cast("double") / col("n_lo").cast("double"), 6))
          .as("mean_lo"),
        round(col("diff_raw"), 6).as("diff"),
        when(col("diff_raw").isNotNull && col("diff_all").isNotNull,
          col("stratum").isNotNull &&
            signum(col("diff_raw")) * signum(col("diff_all")) < 0)
          .as("flips_overall"))
  }

  /** WEIGHTED MEDIAN of l_extendedprice per return flag, weighted by
    * l_quantity — "the price at which half the UNITS (not half the
    * line items) ship", the inventory-pricing cut an unweighted
    * median misstates whenever cheap lines carry big quantities.
    * NEVER a global weighted sort: the corpus collapses to the
    * per-(flag, price) VALUE HISTOGRAM in one partial-agg pass (the
    * `q_conformal`/`q_ks_test` selection discipline), the cumulative
    * weight runs over that histogram (per-flag task bounded by the
    * PRICE DOMAIN, not the row count), and the lower weighted median
    * is the smallest price whose cumulative weight reaches half the
    * total — an INTEGER predicate 2·cum ≥ tot on exact cent/unit
    * sums, no float quantile, no boundary ambiguity.
    */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"),
        (money(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    val cumW = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val totW = Window.partitionBy(col("l_returnflag"))
    hist
      .withColumn("cum", sum(col("w")).over(cumW))
      .withColumn("tot", sum(col("w")).over(totW))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("cents")).as("median_cents"),
        min(col("tot")).as("total_qty"))
  }

  /** FUNNEL TRANSITION-TIME PERCENTILES — the "how LONG does each
    * step take" companion to `q_funnel`'s "how MANY make it": per
    * user, the FIRST signup/click/purchase instants fold out of ONE
    * conditional-aggregate corpus scan; each ordered step pair
    * contributes the exact epoch-microsecond gap, and p50/p90 come
    * from per-step KLL sketches (k=65536 exact regime at every gate
    * SF ⇒ bit-identical to DuckDB quantile_cont, the `q_qte`
    * contract; mergeable ±ε beyond — the 100 TB path). Output is
    * O(#steps) rows; no self-join, no window.
    */
  def funnelTime(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val firsts = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("t_purchase"))
      .localCheckpoint()
    def step(name: String, a: String, b: String): DataFrame = firsts
      .filter(col(s"t_$a").isNotNull && col(s"t_$b").isNotNull
        && col(s"t_$b") >= col(s"t_$a"))
      .select(lit(name).as("step"),
        (unix_micros(col(s"t_$b")) - unix_micros(col(s"t_$a")))
          .cast("double").as("dt"))
    step("signup>click", "signup", "click")
      .unionByName(step("click>purchase", "click", "purchase"))
      .unionByName(step("signup>purchase", "signup", "purchase"))
      .groupBy("step")
      .agg(count(lit(1)).as("n_users"),
        kll_quantiles(col("dt"), 65536, Seq(0.5, 0.9)).as("q"))
      .select(col("step"), col("n_users"),
        round(element_at(col("q"), 1) / 1000000.0, 6).as("p50_s"),
        round(element_at(col("q"), 2) / 1000000.0, 6).as("p90_s"))
  }

  /** THEIL-T INEQUALITY DECOMPOSITION of customer revenue by nation —
    * the inequality measure `q_lorenz_gini` can't decompose: Theil T
    * splits EXACTLY into between-group + weighted within-group terms,
    * answering "is revenue concentration a few whale CUSTOMERS or a
    * few whale MARKETS". Per-customer within-nation terms
    * (x/X_g)·ln(x·n_g/X_g) are one fixed IEEE dag on exact cent
    * totals, rounded 9 and summed IN DECIMAL per nation (the
    * perplexity ln discipline — round-9 keeps the per-row 1-ulp libm
    * straddle probability ~1e-10); the between/total terms ride the
    * O(#nations) frame. At 100 TB the same shape holds: one
    * partial-agg scan to per-customer totals, one bounded broadcast
    * of the nation totals, one decimal-sum shuffle keyed on nation.
    */
  def theilIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val d3812 = DecimalType(38, 12)
    val rev = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
        .as("cents"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("cents"))
    val natTot = rev.groupBy("n_name")
      .agg(sum(col("cents")).as("gc"), count(lit(1)).as("gn"))
      .localCheckpoint()
    val tot = natTot.agg(sum(col("gc")).as("tc"), sum(col("gn")).as("tn"))
    // ONE corpus-frame pass computes both the within-nation and the
    // global per-customer terms (nation totals and the 1-row grand
    // total both broadcast)
    val terms = rev.join(broadcast(natTot), "n_name")
      .crossJoin(broadcast(tot))
      .select(col("n_name"),
        round((col("cents").cast("double") / col("gc").cast("double")) *
          log(col("cents").cast("double") * col("gn").cast("double")
            / col("gc").cast("double")), 9).cast(d3812).as("tw"),
        round((col("cents").cast("double") / col("tc").cast("double")) *
          log(col("cents").cast("double") * col("tn").cast("double")
            / col("tc").cast("double")), 9).cast(d3812).as("tg"))
      .groupBy("n_name")
      .agg(sum(col("tw")).as("twd"), sum(col("tg")).as("tgd"))
    val byNation = natTot.join(terms, "n_name")
      .crossJoin(broadcast(tot))
      .select(col("n_name"), col("gn"), col("gc"), col("tc"), col("tn"),
        col("twd"), col("tgd"),
        round((col("gc").cast("double") / col("tc").cast("double")) *
          log((col("gc").cast("double") / col("tc").cast("double")) /
            (col("gn").cast("double") / col("tn").cast("double"))), 9)
          .cast(d3812).as("tb"))
      .localCheckpoint()
    val globals = byNation.agg(
      sum(col("tgd")).as("ttot"), sum(col("tb")).as("tbet"))
    byNation.crossJoin(broadcast(globals))
      .select(col("n_name"), col("gn").as("n_cust"),
        round(col("gc").cast("double") / col("tc").cast("double"), 6)
          .as("rev_share"),
        round(col("twd").cast("double"), 6).as("theil_within"),
        round(col("tbet").cast("double"), 6).as("theil_between"),
        round(col("ttot").cast("double"), 6).as("theil_total"))
  }

  /** PRICE ELASTICITY per part brand — the log-log demand regression
    * (elasticity = d ln q / d ln p) pricing analytics runs: per line,
    * x = ln(unit price) and y = ln(quantity), each rounded 6 AT THE
    * ROW and quantized to decimal, then the `q_regression` moment
    * discipline — five exact decimal moment sums per brand
    * (order-independent under any shuffle), ONE double cast per sum,
    * the closed-form slope/intercept/corr as identical IEEE dags in
    * both engines, zero-variance brands null-guarded (the Neyman
    * degenerate-divide class). One partial-agg moment shuffle,
    * #brands rows out — the cheapest shape at any corpus size.
    */
  def priceElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    val d186 = DecimalType(18, 6)
    val pts = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(log(col("l_extendedprice") / col("l_quantity")), 6)
          .cast(d186).as("x"),
        round(log(col("l_quantity")), 6).cast(d186).as("y"))
    val m = pts.groupBy("p_brand")
      .agg(count(lit(1)).as("n0"),
        sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
        sum(col("x") * col("y")).as("sxy0"),
        sum(col("x") * col("x")).as("sxx0"),
        sum(col("y") * col("y")).as("syy0"))
      .select(col("p_brand"), col("n0"),
        col("n0").cast("double").as("n"),
        col("sx0").cast("double").as("sx"),
        col("sy0").cast("double").as("sy"),
        col("sxy0").cast("double").as("sxy"),
        col("sxx0").cast("double").as("sxx"),
        col("syy0").cast("double").as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    val slope = num / den
    m.select(col("p_brand"), col("n0").as("n"),
        when(den =!= 0.0, round(slope, 6)).as("elasticity"),
        when(den =!= 0.0,
          round(col("sy") / col("n") - slope * col("sx") / col("n"), 6))
          .as("intercept"),
        when(den =!= 0.0 && deny =!= 0.0,
          round(num / sqrt(den * deny), 6)).as("corr_ln"))
  }

  /** CUSUM control chart (`q_cusum`) over the daily error count — the
    * SEQUENTIAL change detector the EWMA/zscore family lacks: small
    * persistent shifts accumulate until the one-sided cumulative sum
    * S_t = max(0, S_{t-1} + (x_t − k)) crosses h. The recursion is
    * NOT a window function, but its closed form is: with prefix sums
    * P_t of (x_t − k) and P_0 = 0, S_t = P_t − min(0, min_{j≤t} P_j)
    * — two ordinary cumulative windows, no recursion, which is what
    * makes it one scan at any scale AND DuckDB-replayable. All
    * arithmetic in integer micro-units (k is the half-up global mean
    * — non-negative numerator, the shared idiom's precondition), so
    * both engines are bit-identical. Alarm when S > h = hFactor · k.
    */
  def cusum(spark: SparkSession, sfDir: String,
      hFactor: Int = 2): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val days = ev.select(to_date(date_trunc("DAY", col("ts"))).as("day"))
      .distinct()
    val errs = ev.filter(col("event_type") === "error")
      .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("errs0"))
    val daily = days.join(errs, Seq("day"), "left")
      .select(col("day"), coalesce(col("errs0"), lit(0L)).as("errs"))
      .localCheckpoint() // consumed twice: the 1-row mean + the scan
    val k = daily.agg(
      expr("(2 * (sum(errs) * 1000000) + count(*)) div (2 * count(*))")
        .as("k_micro"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(k))
      .withColumn("p", sum(col("errs") * 1000000L - col("k_micro")).over(w))
      .withColumn("s_micro",
        col("p") - least(lit(0L), min(col("p")).over(w)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("errs"),
        col("s_micro"),
        (col("s_micro") > col("k_micro") * hFactor).as("alarm"))
  }

  /** Spearman rank correlation (`q_spearman`) between daily volume
    * and daily revenue per event type — the monotone-association
    * measure Pearson's r misses on nonlinear-but-ordered pairs.
    * Tie-averaged ranks DOUBLED to stay integer (u2 = 2·rank_min +
    * ties − 1, the (min+max) midpoint without a division), so every
    * moment is an exact BIGINT sum and the final rho is ONE shared
    * IEEE dag — bit-identical in both engines, the priceElasticity
    * discipline on ranks. Two windows + one partial-agg moment
    * shuffle; #types rows out.
    */
  def spearman(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(col("value").cast(d182)).as("sv"))
      .select(col("event_type"), col("x"),
        (col("sv") * 100).cast("long").as("y"))
    val wx = Window.partitionBy("event_type").orderBy("x")
    val wxt = Window.partitionBy("event_type", "x")
    val wy = Window.partitionBy("event_type").orderBy("y")
    val wyt = Window.partitionBy("event_type", "y")
    val ranked = daily
      .withColumn("u2",
        lit(2L) * rank().over(wx) + count(lit(1)).over(wxt) - lit(1L))
      .withColumn("v2",
        lit(2L) * rank().over(wy) + count(lit(1)).over(wyt) - lit(1L))
    val m = ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n0"),
        sum(col("u2")).as("su"), sum(col("v2")).as("sv"),
        sum(col("u2") * col("v2")).as("suv"),
        sum(col("u2") * col("u2")).as("suu"),
        sum(col("v2") * col("v2")).as("svv"))
    val n = col("n0").cast("double")
    val num = n * col("suv").cast("double") -
      col("su").cast("double") * col("sv").cast("double")
    val du = n * col("suu").cast("double") -
      col("su").cast("double") * col("su").cast("double")
    val dv = n * col("svv").cast("double") -
      col("sv").cast("double") * col("sv").cast("double")
    m.select(col("event_type"), col("n0").as("n_days"),
      when(du =!= 0.0 && dv =!= 0.0,
        round(num / sqrt(du * dv), 6)).as("rho"))
  }

  /** 7-day ROLLING correlation (`q_rolling_corr`) between daily
    * volume and revenue per type — the stability monitor a point
    * correlation can't give (a relationship that holds on average
    * can invert for a week). Per-row products of exact integers
    * (counts × cents) feed five cumulative-window BIGINT moments;
    * each day's r is one shared IEEE dag over its own trailing
    * 7 rows, guarded below a full window and on zero variance.
    */
  def rollingCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("x"),
        (sum(col("value").cast(d182)) * 100).cast("long").as("y"))
    val w7 = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    val m = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("sx", sum(col("x")).over(w7))
      .withColumn("sy", sum(col("y")).over(w7))
      .withColumn("sxy", sum(col("x") * col("y")).over(w7))
      .withColumn("sxx", sum(col("x") * col("x")).over(w7))
      .withColumn("syy", sum(col("y") * col("y")).over(w7))
    val n = col("n7").cast("double")
    val num = n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val dx = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val dy = n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("event_type"),
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("x"), col("y"),
      when(col("n7") === 7 && dx > 0.0 && dy > 0.0,
        round(num / sqrt(dx * dy), 6)).as("r7"))
  }

  /** Revenue concentration (`q_hhi`) — the Herfindahl–Hirschman index
    * over market segments: per-segment shares in half-up integer
    * micro-units, the index itself Σ revᵢ² / (Σ rev)² with BOTH sums
    * exact BIGINTs and ONE final IEEE division — the
    * antitrust-grade concentration number plus the share table it
    * summarizes, bit-identical in both engines.
    */
  def hhi(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val seg = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg((sum(col("value").cast(d182)) * 100).cast("long")
        .as("rev_cents"))
      .localCheckpoint() // consumed twice: shares + the 1-row totals
    val tot = seg.agg(sum(col("rev_cents")).as("tot"),
      sum(col("rev_cents") * col("rev_cents")).as("sq"))
    seg.crossJoin(broadcast(tot))
      .select(col("segment"), col("rev_cents"),
        expr("(2 * (rev_cents * 1000000) + tot) div (2 * tot)")
          .as("share_micro"))
      .unionByName(tot.select(lit("__overall").as("segment"),
        col("tot").as("rev_cents"),
        // round(,6)·1e6 is integer-valued but carries float epsilon —
        // re-round at 0 before the cast or truncation flips the lsd
        round(round(col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 6)
          * 1000000, 0).cast("long").as("share_micro")))
  }

  /** Partial correlation (`q_partial_corr`) between daily volume and
    * daily revenue CONTROLLING for the time trend — the confounder
    * check plain correlation can't make: two series that both grow
    * over the window correlate spuriously, and r_xy·z removes the
    * shared drift (z = day index). All three pairwise r's come from
    * ONE exact-BIGINT moment pass (counts, cents, day offsets — the
    * q_spearman integer discipline), the partial is one shared IEEE
    * dag; degenerate variances and |r| = 1 controls null-guarded.
    */
  def partialCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("x"),
        (sum(col("value").cast(d182)) * 100).cast("long").as("y"))
    val withZ = daily
      .withColumn("z",
        datediff(col("day"),
          min(col("day")).over(Window.partitionBy("event_type")))
          .cast("long"))
    val m = withZ.groupBy("event_type")
      .agg(count(lit(1)).as("n0"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"))
    val n = col("n0").cast("double")
    def r(sab: Column, sa: Column, sb: Column, saa: Column,
        sbb: Column): Column = {
      val num = n * sab.cast("double") -
        sa.cast("double") * sb.cast("double")
      val da = n * saa.cast("double") - sa.cast("double") * sa.cast("double")
      val db = n * sbb.cast("double") - sb.cast("double") * sb.cast("double")
      when(da > 0.0 && db > 0.0, num / sqrt(da * db))
    }
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    m.select(col("event_type"), col("n0").as("n_days"),
      round(rxy, 6).as("r_xy"),
      round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      when(rxz.isNotNull && ryz.isNotNull
          && (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz) > 0.0,
        round((rxy - rxz * ryz)
          / sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6))
        .as("r_xy_z"))
  }

  /** McNemar's test (`q_mcnemar`) for paired binary outcomes — did
    * per-user click behavior CHANGE between the observation window's
    * halves (the before/after design chi-square independence cannot
    * answer)? Each user contributes one (before, after) pair; only
    * the discordant counts b = (1,0) and c = (0,1) matter:
    * χ² = (b−c)²/(b+c), plus the continuity-corrected variant.
    * Integer counts end-to-end, one IEEE division each — the window
    * midpoint from ONE bounded 1-row read, both engines bit-identical.
    */
  def mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val mid = ev.agg(
      expr("date_add(to_date(min(ts)), CAST(datediff(to_date(max(ts)), " +
        "to_date(min(ts))) div 2 AS INT))").as("mid"))
    val pairs = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "click"
          && to_date(col("ts")) < col("mid"), 1L).otherwise(0L))
          .as("before"),
        max(when(col("event_type") === "click"
          && to_date(col("ts")) >= col("mid"), 1L).otherwise(0L))
          .as("after"))
    val d = pairs.agg(
      sum(when(col("before") === 1L && col("after") === 0L, 1L)
        .otherwise(0L)).as("b"),
      sum(when(col("before") === 0L && col("after") === 1L, 1L)
        .otherwise(0L)).as("c"))
    d.select(col("b"), col("c"),
      when(col("b") + col("c") > 0,
        round(((col("b") - col("c")) * (col("b") - col("c")))
          .cast("double") / (col("b") + col("c")).cast("double"), 6))
        .as("chi2"),
      when(col("b") + col("c") > 0,
        round(((abs(col("b") - col("c")) - 1)
          * (abs(col("b") - col("c")) - 1)).cast("double")
          / (col("b") + col("c")).cast("double"), 6))
        .as("chi2_cc"))
  }

  /** Stratified ATE (`q_ipw_ate`) — the standardization / inverse-
    * propensity estimator with an EMPIRICAL propensity per stratum
    * (market segment), where IPW algebra collapses to the stratum
    * means: ATE = Σ_s (n_s / N) · (ȳ_treat,s − ȳ_ctrl,s). Treatment
    * is the deterministic user_id % 2 split (the q_ab_test assignment
    * convention). Every mean is the half-up integer micro-unit
    * division of a DECIMAL sum (non-negative purchase values — the
    * shared idiom's precondition), the overall ATE one more integer
    * dot product over the ≤ #segments-row frame — bit-identical in
    * both engines, two partial-agg shuffles total. Strata missing an
    * arm are excluded from both the per-stratum rows and the overall
    * weight (the Neyman degenerate-cell discipline).
    */
  def ipwAte(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val y = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        (col("user_id") % 2 === 0).as("treated"),
        col("value").cast(d182).as("y"))
    val cells = y.groupBy("segment", "treated")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      .withColumn("mean_micro",
        expr("(2 * (CAST(sy * 100 AS BIGINT) * 10000) + n) div (2 * n)"))
    val strata = cells.groupBy("segment")
      .agg(count(lit(1)).as("arms"), sum(col("n")).as("n_s"),
        sum(when(col("treated"), col("mean_micro")).otherwise(lit(0L)))
          .as("mt_micro"),
        sum(when(!col("treated"), col("mean_micro")).otherwise(lit(0L)))
          .as("mc_micro"))
      .filter(col("arms") === 2)
      .select(col("segment"), col("n_s"),
        col("mt_micro"), col("mc_micro"),
        (col("mt_micro") - col("mc_micro")).as("ate_s_micro"))
      .localCheckpoint() // consumed twice: per-stratum rows + overall
    val overall = strata.agg(
      expr("""(CASE WHEN sum(n_s * (mt_micro - mc_micro)) >= 0
        |  THEN (2 * sum(n_s * (mt_micro - mc_micro)) + sum(n_s))
        |    div (2 * sum(n_s))
        |  ELSE -((2 * (-sum(n_s * (mt_micro - mc_micro))) + sum(n_s))
        |    div (2 * sum(n_s)))
        |END)""".stripMargin.replace("\n", " ")).as("ate_s_micro"),
      sum(col("n_s")).as("n_s"))
      .select(lit("__overall").as("segment"), col("n_s"),
        lit(0L).as("mt_micro"), lit(0L).as("mc_micro"),
        col("ate_s_micro"))
    strata.unionByName(overall)
  }

  // ------------------------------------------------------------------
  // Trend / rank-concordance shelf over the per-type daily series
  // ------------------------------------------------------------------

  /** The shared daily series every trend test below consumes: per
    * (event_type, day) the exact revenue in integer CENTS (`y`), the
    * event count (`x`), and the epoch-day index (`t`). Bounded by the
    * CALENDAR per type — at 100 TB the groupBy partial-aggregates the
    * corpus down to #types × #days rows before anything pairwise
    * happens, so the pair joins below cost days² per type (a
    * calendar², never a corpus², quantity).
    */
  private[graft] def dailySeries(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val d182 = DecimalType(18, 2)
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("x"),
        (sum(col("value").cast(d182)) * 100).cast("long").as("y"))
      .withColumn("t",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long"))
      .localCheckpoint() // consumed by both sides of the pair join
  }

  /** MANN–KENDALL monotonic-trend test (`q_mann_kendall`) on each
    * type's daily revenue — the distribution-free "is this metric
    * drifting" alarm run before fitting any forecast (Mann '45,
    * Kendall '75, the hydrology standard): S = Σ_{i<j} sign(y_j −
    * y_i) over the day-ordered series, tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18, and the
    * continuity-corrected z = (S ∓ 1)/√Var.
    *
    * Everything before the final z is INTEGER-exact in both engines:
    * S is a BIGINT sum of sign() over the calendar-bounded pair join
    * (self-join keyed on event_type, day <), the tie term a BIGINT
    * fold over y-value groups, and the one IEEE division+sqrt runs on
    * identical exact inputs — bit-identical, rounded to 6.
    */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame =
    mannKendallOver(dailySeries(spark, sfDir))

  /** Same operator over any (event_type, day, y) frame — a planted
    * strictly-increasing series pins S = n(n−1)/2, and a planted tie
    * block pins the tie-corrected variance.
    */
  private[graft] def mannKendallOver(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("y").as("y1"))
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("y").as("y2"))
    val s = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy("event_type")
      .agg(sum(signum(col("y2") - col("y1")).cast("long")).as("s"))
    val ties = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("tc"))
      .groupBy("event_type")
      .agg(sum(col("tc")).as("n0"),
        sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
          .as("tie_term"))
    val n = col("n0").cast("long")
    ties.join(s, Seq("event_type"))
      .select(col("event_type"), n.as("n_days"), col("s"),
        (n * (n - 1) * (lit(2) * n + 5) - col("tie_term")).as("var18"))
      .withColumn("z",
        when(col("var18") > 0 && col("s") =!= 0,
          round((col("s").cast("double") -
            signum(col("s")).cast("double")) /
            sqrt(col("var18").cast("double") / 18.0), 6))
          .otherwise(lit(0.0)))
  }

  /** SEASONAL MANN–KENDALL (`q_seasonal_mk`, Hirsch & Slack '84) —
    * the trend test for series with a WEEKLY cycle the plain
    * [[mannKendall]] mistakes for noise (weekend dips swamp a slow
    * drift): S and Var(S) computed WITHIN each weekday season
    * (Monday compares only to other Mondays) and summed across
    * seasons — the cycle never enters a comparison, so a true drift
    * surfaces with the seasonal variance stripped out. All-BIGINT
    * per-season moments off the same calendar-bounded pair join
    * (restricted to same-weekday pairs), one IEEE z at the end.
    */
  def seasonalMannKendall(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val daily = dailySeries(spark, sfDir)
      .withColumn("wd", dayofweek(col("day")).cast("long"))
    val a = daily.select(col("event_type"), col("wd"),
      col("day").as("d1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("wd"),
      col("day").as("d2"), col("y").as("y2"))
    val s = a.join(b, Seq("event_type", "wd"))
      .filter(col("d1") < col("d2"))
      .groupBy("event_type")
      .agg(sum(signum(col("y2") - col("y1")).cast("long")).as("s"))
    val seasons = daily.groupBy(col("event_type"), col("wd"), col("y"))
      .agg(count(lit(1)).as("tc"))
      .groupBy("event_type", "wd")
      .agg(sum(col("tc")).as("n_wd"),
        sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
          .as("tie_term"))
      .groupBy("event_type")
      .agg(sum(col("n_wd")).as("n0"),
        sum(col("n_wd") * (col("n_wd") - 1) *
          (lit(2) * col("n_wd") + 5) - col("tie_term")).as("var18"))
    seasons.join(s, Seq("event_type"))
      .select(col("event_type"), col("n0").as("n_days"), col("s"),
        col("var18"),
        when(col("var18") > 0 && col("s") =!= 0,
          round((col("s").cast("double") -
            signum(col("s")).cast("double")) /
            sqrt(col("var18").cast("double") / 18.0), 6))
          .otherwise(lit(0.0)).as("z"))
  }

  /** KENDALL τ-b rank concordance (`q_kendall_tau`) between each
    * type's daily volume (count) and daily revenue (cents) — the
    * tie-robust companion to `q_spearman` on the same two series
    * (Kendall '38; τ-b is what scipy/pandas report): over all day
    * pairs i<j, C counts sign(x_j−x_i)·sign(y_j−y_i) = +1, D counts
    * −1, and τ-b = (C−D)/√((n₀−n₁)(n₀−n₂)) with n₀ = n(n−1)/2 and
    * n₁/n₂ the tie-pair counts per x/y value group.
    *
    * C, D and all tie counts are BIGINT-exact from the
    * calendar-bounded pair join (one shuffle keyed event_type); the
    * single IEEE sqrt+division runs on identical integers in both
    * engines. A planted perfect-concordance series pins τ = 1 and a
    * planted tie block pins the n₁/n₂ correction.
    */
  def kendallTau(spark: SparkSession, sfDir: String): DataFrame =
    kendallTauOver(dailySeries(spark, sfDir))

  private[graft] def kendallTauOver(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("x").as("x2"), col("y").as("y2"))
    val prod = signum(col("x2") - col("x1")).cast("long") *
      signum(col("y2") - col("y1")).cast("long")
    val cd = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy("event_type")
      .agg(sum(when(prod === 1L, 1L).otherwise(0L)).as("nc"),
        sum(when(prod === -1L, 1L).otherwise(0L)).as("nd"))
    def tiePairs(c: String): DataFrame = daily
      .groupBy(col("event_type"), col(c))
      .agg(count(lit(1)).as("tc"))
      .groupBy("event_type")
      .agg(sum(col("tc")).as("n0r"),
        sum(col("tc") * (col("tc") - 1) / 2).cast("long").as(s"t_$c"))
    val n = col("n0r").cast("long")
    val denomX = (n * (n - 1) / 2).cast("long") - col("t_x")
    tiePairs("x").join(tiePairs("y").drop("n0r"), Seq("event_type"))
      .join(cd, Seq("event_type"))
      .select(col("event_type"), n.as("n_days"), col("nc"), col("nd"),
        when(denomX > 0 &&
            (n * (n - 1) / 2).cast("long") - col("t_y") > 0,
          round((col("nc") - col("nd")).cast("double") /
            sqrt(denomX.cast("double") *
              ((n * (n - 1) / 2).cast("long") - col("t_y"))
                .cast("double")), 6)).as("tau_b"))
  }

  /** THEIL–SEN robust trend slope (`q_theil_sen`) of each type's
    * daily revenue — the median of all pairwise slopes (Theil '50,
    * Sen '68): up to 29.3% contamination cannot move it, which is why
    * ops dashboards fit it next to OLS on spiky series. The slope set
    * is the calendar-bounded pair join; each slope is ONE double
    * division of exact integers (Δcents / Δdays — bit-identical in
    * both engines), and the median is the LOWER-median ORDER
    * STATISTIC (element ⌈m/2⌉ of the day-pair-ordered slopes) —
    * element SELECTION, never interpolation, so both engines pick the
    * same stored double. The rank window partitions by event_type:
    * days²-per-type rows, a calendar² bound, never corpus-sized.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame =
    theilSenOver(dailySeries(spark, sfDir))

  private[graft] def theilSenOver(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("t").as("t1"),
      col("y").as("y1"))
    val b = daily.select(col("event_type"), col("t").as("t2"),
      col("y").as("y2"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("t1") < col("t2"))
      .select(col("event_type"),
        ((col("y2") - col("y1")).cast("double") /
          (col("t2") - col("t1")).cast("double")).as("slope"))
    val w = Window.partitionBy("event_type").orderBy("slope")
    slopes
      .withColumn("r", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("r") === ((col("m") + lit(1L)) / lit(2L)).cast("long"))
      .select(col("event_type"), col("m").as("n_pairs"),
        round(col("slope"), 6).as("slope_cents_per_day"))
  }

  /** WALD–WOLFOWITZ RUNS TEST (`q_runs_test`) for serial randomness
    * of each type's daily revenue around its own median — the "is
    * this series streaky or random" check run before trusting i.i.d.
    * assumptions (control-chart prelude): days above/below the median
    * form a binary sequence, R = number of runs, and under
    * randomness E[R] = 1 + 2n₁n₂/N, Var[R] = 2n₁n₂(2n₁n₂−N) /
    * (N²(N−1)); z = (R − E)/√Var.
    *
    * The median of integer cents interpolates to an exact half (both
    * engines' quantile_cont/percentile produce the identical
    * integer-or-half double); days equal to the median are DROPPED
    * (the classical rule), the run count is one lag window over the
    * calendar-bounded per-type series, and the final z dag runs on
    * exact BIGINTs — bit-identical, rounded to 6.
    */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame =
    runsTestOver(dailySeries(spark, sfDir))

  /** Same operator over any (event_type, day, y) frame — a planted
    * perfectly-alternating series pins R = N, and a planted
    * two-block series pins R = 2.
    */
  private[graft] def runsTestOver(daily: DataFrame): DataFrame = {
    val med = daily.groupBy("event_type")
      .agg(expr("percentile(y, 0.5D)").as("med"))
    val signed = daily.join(broadcast(med), Seq("event_type"))
      .filter(col("y").cast("double") =!= col("med"))
      .select(col("event_type"), col("day"),
        (col("y").cast("double") > col("med")).cast("long").as("s"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val runs = signed
      .withColumn("brk",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_used"), sum(col("s")).as("n1"),
        (count(lit(1)) - sum(col("s"))).as("n2"),
        sum(col("brk")).as("runs"))
    val nn = col("n1").cast("double") * col("n2").cast("double")
    val nTot = (col("n1") + col("n2")).cast("double")
    val mu = lit(1.0) + lit(2.0) * nn / nTot
    val variance = lit(2.0) * nn * (lit(2.0) * nn - nTot) /
      (nTot * nTot * (nTot - 1.0))
    runs.select(col("event_type"), col("n_used"), col("n1"), col("n2"),
      col("runs"),
      when(col("n1") > 0 && col("n2") > 0 && variance > 0,
        round((col("runs").cast("double") - mu) / sqrt(variance), 6))
        .as("z"))
  }

  /** BROWN–FORSYTHE LEVENE TEST (`q_levene`) for homogeneity of
    * variance across the event types' value distributions — the
    * gatekeeper assumption check in front of `q_anova` (pooled-
    * variance F assumes equal spreads; Brown–Forsythe '74 is the
    * median-centered robust form): per-row deviations d = |y − med_g|
    * from each GROUP's median feed a one-way ANOVA F on d.
    *
    * Exactness discipline: deviations are DOUBLED into integers
    * (d2 = |2y − 2·med_g| is BIGINT because the median of integer
    * cents is an integer or an exact half — the scale factor cancels
    * in F), per-group moments Σd2 / Σd2² accumulate as DECIMAL(38,0)
    * (BIGINT² sums overflow at corpus scale), and the F statistic is
    * one shared IEEE dag over the ≤#types-row moment frame. One
    * partial-aggregated shuffle for the medians, one for the moments.
    */
  def levene(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val d380 = DecimalType(38, 0)
    val y = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("value").cast(d182) * 100).cast("long").as("y"))
    val med = y.groupBy("event_type")
      .agg(expr("percentile(y, 0.5D)").as("med"))
      .select(col("event_type"),
        (col("med") * 2.0).cast("long").as("med2"))
    val d2 = y.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"),
        abs(lit(2L) * col("y") - col("med2")).as("d2"))
    val g = d2.groupBy("event_type")
      .agg(count(lit(1)).as("n_g"),
        sum(col("d2").cast(d380)).as("s_g"),
        sum((col("d2").cast(DecimalType(19, 0)) *
          col("d2").cast(DecimalType(19, 0))).cast(d380)).as("q_g"))
      // the ANOVA term discipline: each group's s²/n lands as an IEEE
      // value on exact inputs, rounded and summed IN DECIMAL so the
      // cross-group sum has one deterministic value in both engines
      .withColumn("ssg_t",
        round(col("s_g").cast("double") * col("s_g").cast("double") /
          col("n_g").cast("double"), 6).cast(DecimalType(38, 6)))
    val m = g.agg(count(lit(1)).cast("long").as("k"),
      sum(col("n_g")).cast("long").as("n"),
      sum(col("ssg_t")).as("ssg_d"),
      sum(col("s_g")).cast("double").as("s_tot"),
      sum(col("q_g")).cast("double").as("q_tot"))
    val ssg = col("ssg_d").cast("double")
    val ssb = ssg - col("s_tot") * col("s_tot") / col("n").cast("double")
    val ssw = col("q_tot") - ssg
    m.select(col("k"), col("n"),
      when(col("k") > 1 && ssw > 0,
        round(((col("n") - col("k")).cast("double") * ssb) /
          ((col("k") - 1).cast("double") * ssw), 6)).as("f_bf"))
  }

  /** CRONBACH'S ALPHA (`q_cronbach`) — internal-consistency
    * reliability with each event TYPE as an item and each user's
    * per-type cent total as the item score (the engagement-scale
    * question: do the five activity axes move together enough to
    * justify one composite "engagement" number?):
    * α = k/(k−1)·(1 − Σᵢvarᵢ/var_total).
    *
    * ONE conditional-aggregate scan pivots events to the per-user
    * item frame (absent items score 0 — the complete-design rule,
    * users with no events at all are outside the instrument); item
    * and total variances come from exact BIGINT/DECIMAL moments and
    * divide once each in a fixed IEEE dag. Population: users with
    * ≥ 1 event.
    */
  def cronbach(spark: SparkSession, sfDir: String): DataFrame =
    cronbachOver(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        (money(col("value")) * 100).cast("long").as("y")))

  /** Same operator over any (user_id, event_type, y: long) frame — a
    * planted perfectly-correlated corpus pins α = k/(k−1)·(1−1/k)…
    * = 1 exactly; independent single-item users pin the low end;
    * a zero-total-variance corpus null-guards. */
  private[graft] def cronbachOver(df: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val d380 = DecimalType(38, 0)
    val items = types.map(t =>
      sum(when(col("event_type") === t, col("y")).otherwise(0L))
        .as(s"x_$t"))
    val users = df
      .filter(col("event_type").isin(types.map(t => t: Any): _*))
      .groupBy("user_id")
      .agg(items.head, items.tail: _*)
    val tot = types.map(t => col(s"x_$t")).reduce(_ + _)
    val aggs =
      types.flatMap(t => Seq(
        sum(col(s"x_$t")).cast(d380).as(s"s_$t"),
        sum((col(s"x_$t").cast(DecimalType(19, 0)) *
          col(s"x_$t").cast(DecimalType(19, 0))).cast(d380))
          .as(s"q_$t"))) ++ Seq(
        sum(tot).cast(d380).as("s_tot"),
        sum((tot.cast(DecimalType(19, 0)) * tot.cast(DecimalType(19, 0)))
          .cast(d380)).as("q_tot"),
        count(lit(1)).as("n"))
    val m = users.agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    def sampleVar(s: Column, q: Column): Column =
      (q.cast("double") - s.cast("double") * s.cast("double") / nd) /
        (nd - lit(1.0))
    // the cross-item sum of variances follows the ANOVA term
    // discipline in spirit, but with k = 5 FIXED items the sum is a
    // fixed-order dag (left fold over the literal type list) both
    // engines replay — no nondeterministic ordering to absorb
    val sumItemVar = types.map(t =>
      sampleVar(col(s"s_$t"), col(s"q_$t"))).reduce(_ + _)
    val totalVar = sampleVar(col("s_tot"), col("q_tot"))
    val k = lit(types.size.toDouble)
    m.select(col("n").cast("long").as("n_users"),
      lit(types.size.toLong).as("k_items"),
      // RAW doubles: at ~1e9 magnitude a 6-decimal round sits at the
      // double's precision limit, where the two engines' round
      // semantics (exact-BigDecimal vs scaled-multiply) visibly
      // diverge — the identical dag is bit-stable, the round isn't
      sumItemVar.as("sum_item_var"),
      totalVar.as("total_var"),
      when(col("n") > 1 && totalVar > 0,
        round(k / (k - lit(1.0)) * (lit(1.0) - sumItemVar / totalVar),
          6)).as("alpha"))
  }

  /** PAIRWISE POST-HOC CONTRASTS (`q_tukey_contrasts`) — the step
    * AFTER a significant `q_anova`: which of the k(k−1)/2 type pairs
    * actually differ? Each contrast reports the mean difference, its
    * pooled standard error SE = √(MSW·(1/nᵢ+1/nⱼ)) from the SAME
    * within-group mean square the ANOVA computed (one shared recipe —
    * the Tukey-HSD arithmetic up to the studentized-range table,
    * which is the caller's lookup), and the t-ratio. Moments come
    * from ONE partial-agg scan; the k-row frame self-joins (type_a <
    * type_b) into the bounded contrast table.
    */
  def tukeyContrasts(spark: SparkSession, sfDir: String): DataFrame =
    tukeyContrastsOver(Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"), money(col("value")).as("v")))

  /** Same operator over any (grp, v: decimal(18,2)) frame — a
    * hand-computed 3-group plant pins every contrast; a constant
    * corpus pins the zero-MSW null guard. */
  private[graft] def tukeyContrastsOver(df: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 4)
    val m = df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(d38)).as("ss"))
      // per-group SSW term: the exact ANOVA discipline (IEEE on exact
      // inputs, rounded 6, summed IN DECIMAL)
      .withColumn("ssw_t",
        round(col("ss").cast("double") - col("s").cast("double")
          * col("s").cast("double") / col("n").cast("double"), 6)
          .cast(DecimalType(18, 6)))
      .localCheckpoint()
    val g = m.agg(sum(col("ssw_t")).as("ssw"), sum(col("n")).as("tn"),
      count(lit(1)).as("k"))
    val msw = col("ssw").cast("double") /
      (col("tn") - col("k")).cast("double")
    val a = m.select(col("grp").as("type_a"), col("n").as("na"),
      (col("s").cast("double") / col("n").cast("double")).as("ma"))
    val b = m.select(col("grp").as("type_b"), col("n").as("nb"),
      (col("s").cast("double") / col("n").cast("double")).as("mb"))
    a.join(b, col("type_a") < col("type_b"))
      .crossJoin(broadcast(g))
      .select(col("type_a"), col("type_b"),
        col("na"), col("nb"),
        round(col("ma") - col("mb"), 6).as("mean_diff"),
        when(col("tn") > col("k") && msw > 0,
          round(sqrt(msw * (lit(1.0) / col("na").cast("double") +
            lit(1.0) / col("nb").cast("double"))), 6)).as("se"),
        when(col("tn") > col("k") && msw > 0,
          round((col("ma") - col("mb")) /
            sqrt(msw * (lit(1.0) / col("na").cast("double") +
              lit(1.0) / col("nb").cast("double"))), 6)).as("t_stat"))
  }

  /** TWO-SAMPLE POISSON RATE TEST (`q_poisson_rate`) — each event
    * type's count against the `click` baseline under the SAME
    * exposure window (the shared corpus span, so exposure cancels):
    * the classic conditional test z = (n₁−n₂)/√(n₁+n₂) — exact
    * integer counts, one square root — plus the rate ratio. This is
    * the count-data twin of `q_ab_test` (which compares MEANS): "are
    * errors arriving at a different RATE than clicks" is a rate
    * question, not a mean question.
    */
  def poissonRate(spark: SparkSession, sfDir: String,
      baseline: String = "click"): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val base = counts.filter(col("event_type") === baseline)
      .select(col("n").as("n_base"))
    counts.filter(col("event_type") =!= baseline)
      .crossJoin(broadcast(base))
      .select(col("event_type"), col("n").as("n_type"), col("n_base"),
        when(col("n_base") > 0,
          round(col("n").cast("double") / col("n_base").cast("double"),
            6)).as("rate_ratio"),
        when(col("n") + col("n_base") > 0,
          round((col("n") - col("n_base")).cast("double") /
            sqrt((col("n") + col("n_base")).cast("double")), 6)).as("z"))
  }

  /** JARQUE–BERA NORMALITY TEST (`q_jarque_bera`) — the classical
    * skewness/kurtosis omnibus per event type, the parametric
    * counterpart to [[lMoments]] (which exists precisely because
    * these moments explode on heavy tails — reporting both is how an
    * analyst SEES that): S = m₃/m₂^{3/2}, excess K = m₄/m₂² − 3,
    * JB = n/6·(S² + K²/4), χ²(2) under normality.
    *
    * Two passes (the ANOVA discipline): pass 1 rolls exact BIGINT
    * cent sums to per-type means; pass 2 computes each row's
    * deviation ONCE as an IEEE double on exact inputs and its
    * d²/d³/d⁴ terms rounded 6 and summed IN DECIMAL — cross-row sums
    * have one deterministic value in both engines regardless of
    * partitioning. The final S/K/JB dag is a fixed IEEE expression
    * on those decimal sums, null-guarded at zero variance.
    */
  def jarqueBera(spark: SparkSession, sfDir: String): DataFrame =
    jarqueBeraOver(Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"),
        (money(col("value")) * 100).cast("long").as("y")))

  /** Same operator over any (grp, y: long) frame — a planted
    * symmetric two-point corpus pins S = 0 / K = −2 exactly, a
    * constant corpus pins the zero-variance null guard.
    */
  private[graft] def jarqueBeraOver(df: DataFrame): DataFrame = {
    val d386 = DecimalType(38, 6)
    val m1 = df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      .select(col("grp"), col("n"),
        (col("s").cast("double") / col("n").cast("double")).as("mu"))
      .localCheckpoint()
    val dd = df.join(broadcast(m1), "grp")
      .withColumn("d", col("y").cast("double") - col("mu"))
    val a = dd.groupBy("grp").agg(
      max(col("n")).as("n"),
      sum(round(col("d") * col("d"), 6).cast(d386)).as("m2"),
      sum(round(col("d") * col("d") * col("d"), 6).cast(d386)).as("m3"),
      sum(round(col("d") * col("d") * col("d") * col("d"), 6).cast(d386))
        .as("m4"))
    val nd = col("n").cast("double")
    val v = col("m2").cast("double") / nd
    val skew = (col("m3").cast("double") / nd) / (v * sqrt(v))
    val kurt = (col("m4").cast("double") / nd) / (v * v) - lit(3.0)
    a.select(col("grp").as("event_type"), col("n"),
      when(v > 0, round(skew, 6)).as("skewness"),
      when(v > 0, round(kurt, 6)).as("kurt_excess"),
      when(v > 0, round(nd / lit(6.0) *
        (skew * skew + kurt * kurt / lit(4.0)), 6)).as("jb"))
  }

  /** GRUBBS' OUTLIER TEST (`q_grubbs`) — the single-most-extreme-point
    * test per event type, completing the outlier family's inferential
    * leg (`q_outlier_iqr` fences, `q_anomaly_zscore`/`q_anomaly_mad`
    * hunt pointwise; Grubbs asks "is the WORST point statistically
    * surprising" with one number an alert can threshold):
    * G = max|y − ȳ|/s against the t-based critical value at n.
    *
    * Exact BIGINT/DECIMAL cent moments in one pass give ȳ and s; the
    * max deviation is a pure max over per-row IEEE doubles on exact
    * inputs (no summation — shuffle-order-proof by construction);
    * the offending VALUE is recovered deterministically as the
    * largest y among rows achieving the max (double equality on an
    * identical dag, the symmetric-tie rule both engines replay).
    */
  def grubbs(spark: SparkSession, sfDir: String): DataFrame =
    grubbsOver(Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"),
        (money(col("value")) * 100).cast("long").as("y")))

  /** Same operator over any (grp, y: long) frame — a planted corpus
    * with one far point pins G and the recovered outlier; a
    * symmetric ±d tie pins the larger-y tie rule; a constant corpus
    * pins the null guard. */
  private[graft] def grubbsOver(df: DataFrame): DataFrame = {
    val d380 = DecimalType(38, 0)
    val m = df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast(d380).as("s"),
        sum((col("y").cast(DecimalType(19, 0)) *
          col("y").cast(DecimalType(19, 0))).cast(d380)).as("q"))
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sd",
        when(col("n") > 1,
          sqrt((col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")) /
            (col("n") - 1).cast("double"))))
      .localCheckpoint()
    val dev = df.join(broadcast(m.select("grp", "mu")), "grp")
      .withColumn("absd", abs(col("y").cast("double") - col("mu")))
    val mx = dev.groupBy("grp").agg(max(col("absd")).as("maxd"))
    val outlier = dev.join(broadcast(mx), "grp")
      .filter(col("absd") === col("maxd"))
      .groupBy("grp").agg(max(col("y")).as("outlier_cents"))
    m.join(mx, "grp").join(outlier, "grp")
      .select(col("grp").as("event_type"), col("n"),
        round(col("mu"), 6).as("mean_cents"),
        when(col("sd") > 0, round(col("sd"), 6)).as("sd_cents"),
        when(col("sd") > 0, round(col("maxd") / col("sd"), 6)).as("g"),
        col("outlier_cents"))
  }

  /** COCHRAN'S Q TEST (`q_cochran_q`) — k related binary samples: did
    * users engage DIFFERENTLY across the click/view/purchase actions,
    * with each USER as their own matched block (the k-sample
    * generalization of McNemar, exactly as `q_kruskal` generalizes
    * `q_mannwhitney`)? Q = (k−1)·[k·ΣC_j² − N²] / [k·ΣR_i − ΣR_i²]
    * with C_j the per-action user counts, R_i each user's action
    * count, N = ΣR_i — all BIGINT-exact from ONE conditional-agg scan
    * to the per-user block frame and one re-aggregate; blocks with
    * R_i = 0 or k self-cancel in the denominator (R(k−R) = 0), the
    * textbook all-same exclusion for free. One IEEE division, χ²(k−1)
    * reference. A planted 3-user table replays the hand-computed Q.
    */
  def cochranQ(spark: SparkSession, sfDir: String): DataFrame =
    cochranQOver(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")))

  private[graft] def cochranQOver(df: DataFrame): DataFrame = {
    val types = Seq("click", "view", "purchase")
    val binaries = types.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"x_$t"))
    val blocks = df
      .filter(col("event_type").isin(types.map(t => t: Any): _*))
      .groupBy("user_id")
      .agg(binaries.head, binaries.tail: _*)
    val r = types.map(t => col(s"x_$t")).reduce(_ + _)
    val aggs = types.map(t => sum(col(s"x_$t")).as(s"c_$t")) ++
      Seq(sum(r).as("n_succ"), sum(r * r).as("sum_r2"))
    val agg = blocks.agg(count(lit(1)).as("n_users"), aggs: _*)
    val k = lit(types.size.toLong)
    val sumC2 = types.map(t => col(s"c_$t") * col(s"c_$t")).reduce(_ + _)
    val num = (k - 1) * (k * sumC2 - col("n_succ") * col("n_succ"))
    val den = k * col("n_succ") - col("sum_r2")
    agg.select(k.as("k"), col("n_users"), col("n_succ"),
      (k - 1).as("dof"),
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
        .as("q"))
  }

  /** FRIEDMAN TEST (`q_friedman`) — k related samples by RANK with
    * each DAY as its own matched block: do the event types' daily
    * revenues carry a consistent ordering across days? The
    * nonparametric two-way layout completing the family —
    * `q_kruskal` ranks independent groups, `q_cochran_q` matches
    * binary blocks, Friedman matches CONTINUOUS blocks. Within-block
    * ranks use the DOUBLED average-rank idiom (u = 2·rank + ties − 1,
    * the `q_spearman` integer recipe), and the tie-corrected
    * statistic Q = (k−1)·Σ_j(R_j − n(k+1)/2)² / (A − C) clears its
    * /4s by working in doubled units: Q = (k−1)·S4/(A4 − C4) with
    * S4 = Σ_j(R2_j − n(k+1))², A4 = Σu², C4 = nk(k+1)² — ALL BIGINT,
    * one IEEE division. Incomplete blocks (a day missing a type)
    * drop, the textbook complete-design rule. The block rank window
    * partitions by day: k rows per task, never corpus-sized.
    */
  def friedman(spark: SparkSession, sfDir: String): DataFrame =
    friedmanOver(dailySeries(spark, sfDir)
      .select(col("event_type"), col("day"), col("y")))

  /** Same operator over any (event_type, day, y) frame — a planted
    * consistent-ordering table pins the hand-computed Q = 4.
    */
  private[graft] def friedmanOver(daily: DataFrame): DataFrame = {
    val k = daily.agg(countDistinct(col("event_type")).as("k"))
    val complete = daily
      .withColumn("k_day",
        count(lit(1)).over(Window.partitionBy("day")))
      .crossJoin(broadcast(k))
      .filter(col("k_day") === col("k"))
    val wd = Window.partitionBy("day").orderBy("y")
    val wdt = Window.partitionBy("day", "y")
    val ranked = complete.withColumn("u",
      lit(2L) * rank().over(wd) + count(lit(1)).over(wdt) - lit(1L))
    val perType = ranked.groupBy("event_type")
      .agg(max(col("k")).as("k"), count(lit(1)).as("n"),
        sum(col("u")).as("r2"), sum(col("u") * col("u")).as("a4t"))
    val m = perType.agg(max(col("k")).as("k"), max(col("n")).as("n"),
      sum((col("r2") - col("n") * (col("k") + 1)) *
        (col("r2") - col("n") * (col("k") + 1))).as("s4"),
      sum(col("a4t")).as("a4"))
    val c4 = col("n") * col("k") * (col("k") + 1) * (col("k") + 1)
    m.select(col("k"), col("n").as("n_blocks"),
      (col("k") - 1).as("dof"),
      when(col("a4") - c4 > 0,
        round(((col("k") - 1) * col("s4")).cast("double") /
          (col("a4") - c4).cast("double"), 6)).as("q"))
  }

  /** PAGE–HINKLEY DRIFT DETECTOR (`q_page_hinkley`) — the sequential
    * mean-shift alarm run over each type's daily revenue (the online
    * counterpart to `q_changepoint`'s retrospective split and
    * `q_cusum`'s known-target chart — PH needs NO target: it tracks
    * deviations from the series' own RUNNING mean): m_T =
    * Σ_{t≤T}(x_t − x̄_t), PH_T = m_T − min_{s≤T} m_s, alarm when
    * PH_T > λ. Each deviation is ONE IEEE dag on exact integers
    * (cents minus a running integer sum divided by t), ROUNDED 6 AND
    * ACCUMULATED IN DECIMAL through the running sum and running min
    * (the chi²/ANOVA term discipline — raw double accumulation would
    * be partition-order lore; decimal sums have one value), so both
    * engines walk the identical path. λ = 10⁶ micro-units of the
    * daily scale; calendar-bounded windows per type.
    */
  def pageHinkley(spark: SparkSession, sfDir: String,
      lambda: Double = 1000000.0): DataFrame = {
    val daily = dailySeries(spark, sfDir)
    val wRun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d186 = DecimalType(18, 6)
    val dev = daily
      .withColumn("t",
        count(lit(1)).over(Window.partitionBy("event_type")
          .orderBy("day")))
      .withColumn("s", sum(col("y")).over(Window.partitionBy("event_type")
        .orderBy("day")))
      .withColumn("dev",
        round(col("y").cast("double") -
          col("s").cast("double") / col("t").cast("double"), 6)
          .cast(d186))
    val m = dev.withColumn("m", sum(col("dev")).over(wRun))
      .withColumn("m_min", min(col("m")).over(wRun))
      .withColumn("ph", col("m") - col("m_min"))
    m.select(col("event_type"), col("day").cast("string").as("day"),
      col("m").cast("double").as("m"),
      col("ph").cast("double").as("ph"),
      (col("ph").cast("double") > lambda).as("alarm"))
  }

  /** OVERDISPERSION / NEGATIVE-BINOMIAL FIT (`q_overdispersion`) —
    * method-of-moments on per-user event counts: a Poisson world has
    * var = mean; real user activity is OVERDISPERSED (a few power
    * users, many lurkers), and the dispersion index D = var/mean with
    * the implied NB parameters (r = mean²/(var − mean),
    * p = mean/var) is the one-line diagnosis that decides whether
    * rate models/alarms can assume Poisson at all (the corpus twin of
    * `text_burstiness`' per-word VMR). Exact BIGINT moments (n, Σc,
    * Σc²) off one per-user rollup; mean/var/D/r/p one shared IEEE
    * dag, NB parameters null-guarded when var ≤ mean (under- or
    * equi-dispersed: no NB fit exists).
    */
  def overdispersion(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("sq"))
    val n = col("n_users").cast("double")
    val mean = col("s").cast("double") / n
    val variance = (col("sq").cast("double") -
      col("s").cast("double") * col("s").cast("double") / n) / (n - 1.0)
    m.select(col("n_users"),
      round(mean, 6).as("mean"),
      round(variance, 6).as("variance"),
      round(variance / mean, 6).as("dispersion"),
      when(variance > mean,
        round(mean * mean / (variance - mean), 6)).as("nb_r"),
      when(variance > mean, round(mean / variance, 6)).as("nb_p"))
  }

  /** 1-D WASSERSTEIN / EARTH-MOVER'S DISTANCE (`q_wasserstein`)
    * between two event types' value distributions — the
    * distributional distance with UNITS (`q_ks_test`'s D is a
    * unitless sup-gap; W₁ answers "HOW MANY CENTS of probability
    * mass must move", which is what drift SEVERITY triage needs):
    * W₁ = ∫|F_a − F_b| dv, EXACT over the integer-cent domain as
    * Σ_v |cumA·n_b − cumB·n_a|·Δv / (n_a·n_b) — every term a
    * DECIMAL(38,0) product of exact counts and the gap to the next
    * distinct value, one division at the end.
    *
    * Scale shape: the corpus partial-aggregates to the per-(type,
    * cent) VALUE HISTOGRAM (the `q_weighted_median` domain-bounded
    * discipline — the cumulative runs over the PRICE DOMAIN, never
    * corpus rows); one ordered window over that domain, one 1-row
    * result.
    */
  def wasserstein(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "view"): DataFrame = {
    val d380 = DecimalType(38, 0)
    val hist = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(typeA, typeB))
      .select((money(col("value")) * 100).cast("long").as("v"),
        col("event_type"))
      .groupBy("v")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L))
        .as("na_v"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L))
          .as("nb_v"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = hist
      .withColumn("ca", sum(col("na_v")).over(w))
      .withColumn("cb", sum(col("nb_v")).over(w))
      .withColumn("dv", lead(col("v"), 1).over(Window.orderBy("v"))
        - col("v"))
    val tot = hist.agg(sum(col("na_v")).as("n_a"),
      sum(col("nb_v")).as("n_b"))
    terms.filter(col("dv").isNotNull)
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        (abs(col("ca").cast(DecimalType(19, 0)) * col("n_b") -
          col("cb").cast(DecimalType(19, 0)) * col("n_a"))
          .cast(d380) * col("dv")).cast(d380).as("term"))
      .groupBy("n_a", "n_b")
      .agg(sum(col("term")).as("w1_scaled"))
      .select(col("n_a"), col("n_b"),
        round(col("w1_scaled").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("w1_cents"))
  }

  /** HILL TAIL-INDEX (`q_hill_tail`, Hill '75) — the heavy-tail
    * diagnosis on the top-k order statistics of purchase value:
    * α̂ = k / Σ_{i≤k} ln(x_i / x_{(k)}), the standard "how Pareto is
    * this tail" estimator (α ≤ 2 means infinite variance — means and
    * z-tests stop meaning anything, the reason `q_mannwhitney`-style
    * rank methods exist). The top-(k+1) cents ride a bounded
    * TakeOrdered (per-partition heaps, never a global sort); each
    * ln argument is an exact INTEGER cent value, each ln rounds to 6
    * into DECIMAL (the perplexity discipline), one division. Ties at
    * the k-boundary are absorbed by the value-ordered cutoff: the
    * k-th ORDER STATISTIC is a value, not a row pick.
    */
  def hillTail(spark: SparkSession, sfDir: String, k: Int = 100,
      posType: String = "purchase"): DataFrame = {
    val d186 = DecimalType(18, 6)
    val top = Tables.events(spark, sfDir)
      .filter(col("event_type") === posType)
      .select((money(col("value")) * 100).cast("long").as("v"))
      .orderBy(col("v").desc)
      .limit(k + 1)
    val xk = top.agg(min(col("v")).as("xk"))
    top.crossJoin(broadcast(xk))
      .filter(col("v") > col("xk"))
      .select(
        (round(log(col("v").cast("double")), 6).cast(d186) -
          round(log(col("xk").cast("double")), 6).cast(d186)).as("lnr"),
        col("xk"))
      .groupBy("xk")
      .agg(count(lit(1)).as("k_used"), sum(col("lnr")).as("s"))
      .select(col("k_used"), col("xk").as("x_k"),
        when(col("s").cast("double") > 0,
          round(col("k_used").cast("double") / col("s").cast("double"), 6))
          .as("alpha"))
  }

  /** DURBIN–WATSON TEST (`q_durbin_watson`) — serial correlation of
    * the residuals from the daily-revenue-on-time OLS fit, per event
    * type: the regression-diagnostics companion to `q_regression`
    * (a trend fit whose residuals autocorrelate has understated
    * standard errors — every inference off it is too confident; DW ≈
    * 2 clean, → 0 positive drag, → 4 alternation). The OLS
    * coefficients come from exact BIGINT moments (the q_regression
    * discipline); each residual is ONE IEEE dag on exact integers;
    * the Σ(e_t − e_{t−1})² and Σe_t² terms round to 6 and sum IN
    * DECIMAL (order-free), one division at the end. Calendar-bounded
    * per-type windows.
    */
  def durbinWatson(spark: SparkSession, sfDir: String): DataFrame = {
    val d246 = DecimalType(24, 6)
    val daily = dailySeries(spark, sfDir)
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n0"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
    val n = col("n0").cast("double")
    val b = (n * col("sty").cast("double") -
      col("st").cast("double") * col("sy").cast("double")) /
      (n * col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double"))
    val withFit = daily.join(broadcast(
      m.select(col("event_type"), col("n0"), round(b, 6).as("slope"),
        (col("sy").cast("double") / n - b *
          col("st").cast("double") / n).as("a"), b.as("b"))),
      Seq("event_type"))
      .withColumn("e",
        col("y").cast("double") - (col("a") + col("b") *
          col("t").cast("double")))
    val w = Window.partitionBy("event_type").orderBy("day")
    val terms = withFit
      .withColumn("d", col("e") - lag(col("e"), 1).over(w))
      .select(col("event_type"), col("n0"), col("slope"),
        round(col("e") * col("e"), 6).cast(d246).as("den_t"),
        coalesce(round(col("d") * col("d"), 6).cast(d246),
          lit(0).cast(d246)).as("num_t"))
    terms.groupBy("event_type", "n0", "slope")
      .agg(sum(col("num_t")).as("num"), sum(col("den_t")).as("den"))
      .select(col("event_type"), col("n0").as("n_days"), col("slope"),
        when(col("den").cast("double") > 0,
          round(col("num").cast("double") / col("den").cast("double"), 6))
          .as("dw"))
  }

  /** THEIL'S U₂ FORECAST SKILL (`q_theil_u`) — the scale-free "does
    * my forecaster beat the random walk" number per type:
    * U₂ = √(Σ(ŷ−y)² / Σ(y_naive−y)²) with seasonal-naive (lag 7) as
    * the model arm and naive (lag 1) as the benchmark, evaluated on
    * the COMMON day set where both lags exist (the calendar join —
    * gaps drop the day from BOTH sums rather than mis-aligning
    * either). U₂ < 1 = the weekly structure is real; this is the
    * one-number companion to `q_forecast_eval`'s MAE table. Squared
    * errors are exact-integer cent differences squared in
    * DECIMAL(38,0); one division + one sqrt at the end.
    */
  def theilU(spark: SparkSession, sfDir: String): DataFrame =
    theilUOver(dailySeries(spark, sfDir)
      .select(col("event_type"), col("day"), col("y")))

  /** Same operator over any (event_type, day, y: long) daily frame —
    * a planted exact-weekly series pins U₂ = 0 (seasonal-naive
    * perfect), a planted random-walk-like series pins U₂ > 1. */
  private[graft] def theilUOver(daily: DataFrame): DataFrame = {
    val d190 = DecimalType(19, 0)
    val lag7 = daily.select(col("event_type").as("et7"),
      col("day").as("d7"), col("y").as("y7"))
    val lag1 = daily.select(col("event_type").as("et1"),
      col("day").as("d1"), col("y").as("y1"))
    // cast each diff to DECIMAL(19,0) BEFORE squaring (the
    // mcc/gumbel/grubbs exact-product discipline): a raw LongType
    // square wraps silently at large magnitude where the oracle's
    // BIGINT multiply raises — the decimal product is exact at (38,0)
    def sq(a: Column, b: Column): Column =
      (a - b).cast(d190) * (a - b).cast(d190)
    daily
      .join(lag7, col("et7") === col("event_type") &&
        col("d7") === date_sub(col("day"), 7))
      .join(lag1, col("et1") === col("event_type") &&
        col("d1") === date_sub(col("day"), 1))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(sq(col("y7"), col("y"))).as("sse_model"),
        sum(sq(col("y1"), col("y"))).as("sse_naive"))
      .select(col("event_type"), col("n_eval"),
        when(col("sse_naive").cast("double") > 0,
          round(sqrt(col("sse_model").cast("double") /
            col("sse_naive").cast("double")), 6)).as("u2"))
  }

  /** COOK'S DISTANCE (`q_cooks_distance`) — the influence diagnostic
    * completing the regression-diagnostics trio (`q_durbin_watson`
    * tests residual correlation, `q_ljung_box` its lag-h omnibus;
    * Cook's D asks WHICH days single-handedly steer the daily-revenue
    * trend fit): for the per-type y-vs-t OLS, leverage
    * h_t = 1/n + (t−t̄)²/Stt and D_t = e²h/(p·s²·(1−h)²) with p = 2,
    * s² = SSE/(n−2) — the top-3 days per type by D are the ones to
    * audit before trusting the slope.
    *
    * The SAME exact-BIGINT fit dag as `q_durbin_watson` (one moment
    * pass, broadcast back); residual/leverage/D are per-row IEEE dags
    * on exact integers, SSE the rounded-6 decimal sum; ranking is on
    * the RAW D (identical dag in both engines), day tie-break.
    */
  def cooksDistance(spark: SparkSession, sfDir: String,
      topK: Int = 3): DataFrame =
    cooksDistanceOver(dailySeries(spark, sfDir), topK)

  /** Same operator over any (event_type, day, y, t) daily frame — a
    * planted on-line series with one far point pins that point at
    * rank 1 with the hand-computed D. */
  private[graft] def cooksDistanceOver(daily: DataFrame,
      topK: Int): DataFrame = {
    val d246 = DecimalType(24, 6)
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n0"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
    val n = col("n0").cast("double")
    val b = (n * col("sty").cast("double") -
      col("st").cast("double") * col("sy").cast("double")) /
      (n * col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double"))
    val fit = m.select(col("event_type"), col("n0"),
      (col("sy").cast("double") / n - b *
        col("st").cast("double") / n).as("a"), b.as("b"),
      (col("st").cast("double") / n).as("tbar"),
      (col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double") / n)
        .as("s_tt"))
    val withE = daily.join(broadcast(fit), Seq("event_type"))
      .withColumn("e",
        col("y").cast("double") - (col("a") + col("b") *
          col("t").cast("double")))
      .withColumn("h",
        lit(1.0) / col("n0").cast("double") +
          (col("t").cast("double") - col("tbar")) *
          (col("t").cast("double") - col("tbar")) / col("s_tt"))
      .localCheckpoint()
    val sse = withE.groupBy(col("event_type").as("et2"))
      .agg(sum(round(col("e") * col("e"), 6).cast(d246)).as("sse"))
    val s2 = col("sse").cast("double") / (col("n0") - 2).cast("double")
    val dcook = col("e") * col("e") * col("h") /
      (lit(2.0) * s2 * (lit(1.0) - col("h")) * (lit(1.0) - col("h")))
    val scored = withE
      .join(broadcast(sse), col("et2") === col("event_type")).drop("et2")
      .filter(col("n0") > 2 && col("sse").cast("double") > 0)
      .withColumn("dc", dcook)
    val w = Window.partitionBy("event_type")
      .orderBy(col("dc").desc, col("day"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("rnk").cast("long").as("rnk"),
        round(col("dc"), 6).as("cooks_d"),
        round(col("h"), 6).as("leverage"),
        round(col("e"), 6).as("resid"))
  }

  /** BREUSCH–PAGAN HETEROSCEDASTICITY TEST (`q_breusch_pagan`,
    * Koenker's studentized form) — the fourth leg of the regression
    * diagnostics: `q_durbin_watson` tests residual serial correlation,
    * `q_ljung_box` its lag-h omnibus, `q_cooks_distance` influence;
    * BP asks whether the residual VARIANCE drifts with the regressor
    * (heteroscedasticity ⇒ the OLS standard errors under the other
    * three are wrong too): regress e² on t, BP = n·R² ~ χ²(1).
    *
    * The same exact-BIGINT y-vs-t fit dag as DW/Cook's; the auxiliary
    * moments Σe², Σt·e², Σe⁴ are per-row IEEE terms on exact inputs
    * rounded 6 and summed IN DECIMAL; R² is the n-scaled product-
    * moment form — one fixed dag, null-guarded when e² is constant.
    */
  def breuschPagan(spark: SparkSession, sfDir: String): DataFrame =
    breuschPaganOver(dailySeries(spark, sfDir))

  /** Same operator over any (event_type, day, y, t) daily frame — a
    * fanning-residual plant pins BP > 0, a perfect line and a
    * constant-magnitude residual pattern both null-guard (e² constant
    * ⇒ the aux regression has no variance to explain). */
  private[graft] def breuschPaganOver(daily: DataFrame): DataFrame = {
    val d386 = DecimalType(38, 6)
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n0"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
    val n = col("n0").cast("double")
    val b = (n * col("sty").cast("double") -
      col("st").cast("double") * col("sy").cast("double")) /
      (n * col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double"))
    val fit = m.select(col("event_type"), col("n0"), col("st"),
      col("stt"),
      (col("sy").cast("double") / n - b *
        col("st").cast("double") / n).as("a"), b.as("b"))
    val aux = daily.join(broadcast(fit), Seq("event_type"))
      .withColumn("e",
        col("y").cast("double") - (col("a") + col("b") *
          col("t").cast("double")))
      .withColumn("u", col("e") * col("e"))
      .groupBy("event_type")
      .agg(max(col("n0")).as("n0"), max(col("st")).as("st"),
        max(col("stt")).as("stt"),
        sum(round(col("u"), 6).cast(d386)).as("su"),
        sum(round(col("t").cast("double") * col("u"), 6).cast(d386))
          .as("stu"),
        sum(round(col("u") * col("u"), 6).cast(d386)).as("suu"))
    val nd = col("n0").cast("double")
    val num = nd * col("stu").cast("double") -
      col("st").cast("double") * col("su").cast("double")
    val d1 = nd * col("stt").cast("double") -
      col("st").cast("double") * col("st").cast("double")
    val d2 = nd * col("suu").cast("double") -
      col("su").cast("double") * col("su").cast("double")
    aux.select(col("event_type"), col("n0").as("n_days"),
      when(col("n0") > 2 && d1 > 0 && d2 > 0,
        round(num * num / (d1 * d2), 6)).as("r2_aux"),
      when(col("n0") > 2 && d1 > 0 && d2 > 0,
        round(nd * (num * num / (d1 * d2)), 6)).as("bp"))
  }

  /** MOOD'S MEDIAN TEST (`q_median_test`) — the k-sample location
    * test on nothing but above/below-the-grand-median counts, the
    * most assumption-free member of the nonparametric family
    * (`q_kruskal` needs ranks; this survives gross outliers and
    * heavy censoring untouched): χ² over the k×2 contingency of
    * per-type counts above vs not-above the pooled median. The grand
    * median is ONE exact integer-cent `percentile` (== quantile_cont
    * on ints); cells are a conditional-agg scan; expecteds and the
    * χ² terms follow the `q_crosstab_chi2` discipline (per-cell
    * (o−e)²/e rounded 6, DECIMAL-summed).
    */
  def medianTest(spark: SparkSession, sfDir: String): DataFrame = {
    val d186 = DecimalType(18, 6)
    val y = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (money(col("value")) * 100).cast("long").as("y"))
      .localCheckpoint()
    val med = y.agg(expr("percentile(y, 0.5D)").as("gm"))
    val cells = y.crossJoin(broadcast(med))
      .select(col("event_type"),
        (col("y").cast("double") > col("gm")).as("above"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("above"), 1L).otherwise(0L)).as("n_above"))
      .localCheckpoint()
    val tot = cells.agg(sum(col("n")).as("tn"),
      sum(col("n_above")).as("ta"), count(lit(1)).as("k"))
    val withT = cells.crossJoin(broadcast(tot))
    // the (o−e)²/e term itself is guarded on e > 0, not just the
    // final chi2 column: on a degenerate corpus (ta = 0 or ta = tn)
    // the expected count is 0 and an unguarded term is Infinity —
    // Spark's decimal cast nulls it while the oracle's round(inf)
    // errors, crashing the gate instead of hash-comparing
    def term(o: Column, e: Column): Column =
      when(e > 0,
        round((o.cast("double") - e) * (o.cast("double") - e) / e, 6))
        .otherwise(lit(0d)).cast(d186)
    val ea = col("n").cast("double") * col("ta").cast("double") /
      col("tn").cast("double")
    val eb = col("n").cast("double") *
      (col("tn") - col("ta")).cast("double") / col("tn").cast("double")
    val terms = withT.select(col("event_type"), col("n"), col("n_above"),
      col("k"), col("tn"), col("ta"),
      (term(col("n_above"), ea) +
        term(col("n") - col("n_above"), eb)).as("t2"))
    terms
      .groupBy("k", "tn", "ta")
      .agg(sum(col("t2")).as("chi2d"))
      .select(col("k").cast("long").as("k_groups"),
        col("tn").cast("long").as("n"),
        col("ta").cast("long").as("n_above_total"),
        (col("k") - 1).cast("long").as("df"),
        when(col("ta") > 0 && col("ta") < col("tn"),
          round(col("chi2d").cast("double"), 6)).as("chi2"))
  }

  /** p-CHART (`q_p_chart`) — the attribute CONTROL CHART for daily
    * conversion (purchase share): centerline p̄ from the whole
    * window, per-day 3σ limits p̄ ± 3√(p̄(1−p̄)/n_t) that WIDEN on
    * thin days (the varying-subgroup-size form — fixed limits
    * false-alarm low-traffic days), out-of-control flags where the
    * day's share exits. Completes the SPC pair with `q_ewma_chart`
    * (EWMA catches small sustained drifts; the p-chart catches
    * day-sized shocks in a RATE). Counts exact; p̂/limits one shared
    * IEEE dag per day on exact integers, rounded 6; one
    * calendar-bounded rollup + a 1-row broadcast.
    */
  def pChart(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === posType, 1L).otherwise(0L))
          .as("pos"))
      .localCheckpoint()
    val tot = daily.agg(sum(col("n")).as("tn"), sum(col("pos")).as("tp"))
    val pbar = col("tp").cast("double") / col("tn").cast("double")
    val phat = col("pos").cast("double") / col("n").cast("double")
    val sigma = sqrt(pbar * (lit(1.0) - pbar) / col("n").cast("double"))
    daily.crossJoin(broadcast(tot))
      .select(col("day").cast("string").as("day"), col("n"), col("pos"),
        round(phat, 6).as("p_hat"),
        round(pbar + lit(3.0) * sigma, 6).as("ucl"),
        round(greatest(pbar - lit(3.0) * sigma, lit(0.0)), 6).as("lcl"),
        (phat > pbar + lit(3.0) * sigma ||
          phat < pbar - lit(3.0) * sigma).as("out_of_control"))
  }

  /** XYZ DEMAND-VARIABILITY CLASSIFICATION (`q_xyz_class`) — the
    * inventory-policy companion to `q_abc_class` (ABC ranks by
    * VALUE; XYZ ranks by PREDICTABILITY — together they give the
    * 9-cell stocking matrix): per part, the coefficient of variation
    * of monthly demand, X below 0.5 (forecast it), Y to 1.0 (buffer
    * it), Z above (make-to-order). Months with zero demand COUNT
    * (the calendar-span denominator — skipping them would call an
    * intermittent part predictable); exact BIGINT moments over the
    * (part, month) cells against the calendar-derived month count,
    * CV one shared IEEE dag, class from rounded-CV thresholds so the
    * boundary is the same literal in both engines.
    */
  def xyzClass(spark: SparkSession, sfDir: String): DataFrame = {
    val dem = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("part"),
        ((year(col("o_orderdate")) - 1995) * 12 +
          month(col("o_orderdate")) - 1).cast("long").as("m"),
        col("l_quantity"))
    val span = dem.agg((max(col("m")) - min(col("m")) + 1).as("n_months"))
    val m = dem.groupBy("part", "m")
      .agg(sum(col("l_quantity")).cast("long").as("q"))
      .groupBy("part")
      .agg(sum(col("q")).as("s"), sum(col("q") * col("q")).as("sq"))
      .crossJoin(broadcast(span))
    val nm = col("n_months").cast("double")
    val mean = col("s").cast("double") / nm
    val variance = (col("sq").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nm) / nm
    val cv = round(sqrt(variance) / mean, 6)
    m.select(col("part").as("l_partkey"), col("n_months"),
      col("s").as("total_qty"), cv.as("cv"),
      when(cv < 0.5, "X").when(cv <= 1.0, "Y").otherwise("Z")
        .as("xyz"))
  }

  /** MEAN-EXCESS FUNCTION (`q_mean_excess`) — e(u) = E[X−u | X>u]
    * over the nine decile thresholds of purchase value: the
    * peaks-over-threshold diagnostic read NEXT TO [[hillTail]] (a
    * mean-excess that grows linearly in u is the Pareto signature
    * and its slope estimates ξ/(1−ξ); flat = exponential tail, the
    * insurance/SRE heavy-tail triage). Each threshold's excess count
    * and exact cent excess sum come from ONE conditional-agg scan
    * fanned ×9 against the broadcast decile array (the decision-stump
    * shape); e(u) is one integer division, rounded 6.
    */
  def meanExcess(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame = {
    val v = Tables.events(spark, sfDir)
      .filter(col("event_type") === posType)
      .select((money(col("value")) * 100).cast("long").as("v"))
    val thr = v.agg(expr(
      "percentile(v, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
      .as("ts"))
      .select(explode(col("ts")).as("u")).distinct()
    v.crossJoin(broadcast(thr))
      .filter(col("v").cast("double") > col("u"))
      .groupBy("u")
      .agg(count(lit(1)).as("n_excess"),
        sum(col("v")).as("sv"))
      .select(col("u").as("threshold_cents"), col("n_excess"),
        round(col("sv").cast("double") / col("n_excess").cast("double") -
          col("u"), 6).as("mean_excess_cents"))
  }

  /** QQ POINTS (`q_qq`) — the quantile-quantile comparison between
    * two event types' value distributions at the 19 vigintiles: the
    * VISUAL distribution diagnostic behind every "are these shaped
    * alike" judgement (`q_ks_test` summarizes to one number; the QQ
    * table shows WHERE the shapes diverge — tails vs body).
    * Both engines' interpolated quantiles agree exactly on integer
    * cents (the percentile/quantile_cont half-exactness), the diff
    * is one subtraction — 19 rows, two percentile passes.
    */
  def qqPoints(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "view"): DataFrame = {
    val fr = (1 to 19).map(i => i / 20.0)
    val arr = fr.map(f => s"${f}D").mkString(",")
    def qs(t: String, as: String): DataFrame =
      Tables.events(spark, sfDir)
        .filter(col("event_type") === t)
        .select((money(col("value")) * 100).cast("long").as("v"))
        .agg(expr(s"percentile(v, array($arr))").as("qs"))
        .select(posexplode(col("qs")).as(Seq("i", as)))
    qs(typeA, "q_a").join(qs(typeB, "q_b"), "i")
      .select(((col("i") + 1).cast("long") * 5).as("pct"),
        col("q_a"), col("q_b"),
        round(col("q_a") - col("q_b"), 6).as("diff"))
  }

  /** L-MOMENTS (`q_lmoments`, Hosking '90) — the order-statistic
    * moment system that stays FINITE and robust where conventional
    * skewness/kurtosis explode on heavy tails (one whale order moves
    * classical skewness arbitrarily; L-moments are bounded): λ₁
    * (mean), λ₂ (L-scale, half the mean absolute difference between
    * two random draws) and the L-CV ratio τ = λ₂/λ₁, per event type.
    *
    * NEVER a global sort: the corpus partial-aggregates to the
    * per-(type, cent) VALUE HISTOGRAM and each tied block's rank-sum
    * contribution Σ(r−1) = (2R−c−1)·c/2 is a CLOSED FORM of the
    * block's cumulative position (order-free under ties — equal
    * values contribute identically however they'd be ordered), so
    * A = Σx(r−1) and B = Σx are exact DECIMAL integers off one
    * domain-bounded window; λ₂ = 2A/(n(n−1)) − B/n is one shared
    * IEEE dag.
    */
  def lMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val d380 = DecimalType(38, 0)
    val hist = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (money(col("value")) * 100).cast("long").as("v"))
      .groupBy("event_type", "v")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = hist
      .withColumn("r", sum(col("c")).over(w)) // block END position
      // DOUBLED rank sum over the block's positions R-c+1..R:
      // 2*sum(rank-1) = (2R - c - 1)*c — integer, no division
      .withColumn("sr2",
        ((lit(2L) * col("r") - col("c") - 1L).cast(DecimalType(19, 0)) *
          col("c")).cast(d380))
    val m = blocks.groupBy("event_type")
      .agg(sum(col("c")).as("n"),
        sum((col("v").cast(DecimalType(19, 0)) * col("c")).cast(d380))
          .as("b"),
        sum((col("v").cast(DecimalType(19, 0)) * col("sr2")).cast(d380))
          .as("a2"))
    val n = col("n").cast("double")
    val l1 = col("b").cast("double") / n
    val l2 = col("a2").cast("double") / (n * (n - 1.0)) -
      col("b").cast("double") / n
    m.select(col("event_type"), col("n"),
      round(l1, 6).as("l1_cents"), round(l2, 6).as("l2_cents"),
      when(l1 > 0, round(l2 / l1, 6)).as("l_cv"))
  }

  /** BRIER SCORE DECOMPOSITION (`q_brier`, Murphy '73) — the
    * calibration family's SCORE to go with `q_calibration`'s
    * diagnostics and `q_isotonic`'s fix: over the same ten
    * fixed-width bins, BS = REL − RES + UNC splits the forecast's
    * quality into reliability (how far bin confidence sits from bin
    * outcome — what recalibration can remove), resolution (how much
    * the bins separate outcomes — what only a better model buys) and
    * the outcome's own uncertainty ȳ(1−ȳ). Bin moments are exact
    * (counts + the decimal value sums), each bin's REL/RES term is
    * one IEEE dag rounded 6 and summed IN DECIMAL (the ANOVA
    * discipline), UNC one dag on exact totals.
    */
  def brier(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame = {
    val scored = Tables.events(spark, sfDir)
      .select(money(col("value")).as("v"),
        (col("event_type") === posType).as("y"))
    val mm = scored.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val binned = scored.crossJoin(broadcast(mm))
      .select(col("y"), col("v"), col("mn"), col("mx"),
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double") * 10).cast("long"),
            lit(9L))).otherwise(lit(0L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("v")).as("sv"), max(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
      .localCheckpoint()
    val tot = binned.agg(sum(col("n")).as("tn"),
      sum(col("n_pos")).as("tp"))
    val d186 = DecimalType(18, 6)
    val conf = (col("sv").cast("double") / col("n").cast("double") -
      col("mn").cast("double")) /
      (col("mx") - col("mn")).cast("double")
    val acc = col("n_pos").cast("double") / col("n").cast("double")
    val ybar = col("tp").cast("double") / col("tn").cast("double")
    val terms = binned.crossJoin(broadcast(tot))
      .select(col("tn"), col("tp"),
        round(col("n").cast("double") * (conf - acc) * (conf - acc) /
          col("tn").cast("double"), 6).cast(d186).as("rel_t"),
        round(col("n").cast("double") * (acc - ybar) * (acc - ybar) /
          col("tn").cast("double"), 6).cast(d186).as("res_t"))
    terms.groupBy("tn", "tp")
      .agg(sum(col("rel_t")).as("rel_d"), sum(col("res_t")).as("res_d"))
      .select(col("tn").cast("long").as("n"),
        round(col("rel_d").cast("double"), 6).as("reliability"),
        round(col("res_d").cast("double"), 6).as("resolution"),
        round(ybar * (lit(1.0) - ybar), 6).as("uncertainty"),
        round(col("rel_d").cast("double") - col("res_d").cast("double") +
          ybar * (lit(1.0) - ybar), 6).as("brier"))
  }

  /** TWO-SAMPLE CRAMÉR–VON MISES (`q_cvm`) — the INTEGRATED
    * distribution test completing the distance trio: `q_ks_test`
    * reads the single worst cdf gap (sensitive to one sharp
    * divergence, blind to broad mild ones), `q_wasserstein` weighs
    * gaps by cents moved, CvM squares and sums the gap over EVERY
    * pooled observation — the all-round power default. T = nm/N² ·
    * Σ_pooled (F_a − F_b)², cross-multiplied to the EXACT integer
    * form Σ w_v·(ca·m − cb·n)² / (n·m·N²): every term a
    * DECIMAL(38,0) product over the same cent-domain histogram
    * scaffold as Wasserstein (one partial-agg pass, one
    * domain-bounded window), one division at the end.
    */
  def cramerVonMises(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "view"): DataFrame = {
    val d380 = DecimalType(38, 0)
    val hist = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(typeA, typeB))
      .select((money(col("value")) * 100).cast("long").as("v"),
        col("event_type"))
      .groupBy("v")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L))
        .as("na_v"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L))
          .as("nb_v"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("ca", sum(col("na_v")).over(w))
      .withColumn("cb", sum(col("nb_v")).over(w))
    val tot = hist.agg(sum(col("na_v")).as("n_a"),
      sum(col("nb_v")).as("n_b"))
    val gap = col("ca").cast(DecimalType(19, 0)) * col("n_b") -
      col("cb").cast(DecimalType(19, 0)) * col("n_a")
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        ((col("na_v") + col("nb_v")).cast(DecimalType(19, 0)) *
          (gap * gap).cast(d380)).cast(d380).as("term"))
      .groupBy("n_a", "n_b")
      .agg(sum(col("term")).as("t_scaled"))
      .select(col("n_a"), col("n_b"),
        round(col("t_scaled").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double") *
            (col("n_a") + col("n_b")).cast("double") *
            (col("n_a") + col("n_b")).cast("double")), 6).as("t_cvm"))
  }

  /** ISOTONIC CALIBRATION (`q_isotonic`) — pool-adjacent-violators
    * over the ten fixed-width score bins (`q_calibration`'s binning):
    * the monotone conversion-vs-score fit production calibrators
    * (Platt's rival) actually deploy, here via the EXACT MINIMAX
    * identity fit_k = max_{i≤k} min_{j≥k} avg(i..j) (Barlow et al.
    * '72) instead of the sequential PAV sweep — every candidate
    * average is ONE division of exact cumulative integers, and the
    * min/max lattice runs over the ≤10³ combinations of a
    * BIN-BOUNDED frame (never corpus-sized; the corpus work is the
    * one binning scan). The fit is provably the isotonic least-
    * squares solution; a planted violator spec pins the pooling and
    * the monotonicity invariant.
    */
  def isotonic(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame =
    isotonicOver(Tables.events(spark, sfDir)
      .select(money(col("value")).as("v"),
        (col("event_type") === posType).as("y")))

  private[graft] def isotonicOver(scored: DataFrame): DataFrame = {
    val mm = scored.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val binned = scored.crossJoin(broadcast(mm))
      .select(col("y"),
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double") * 10).cast("long"),
            lit(9L))).otherwise(lit(0L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
      .localCheckpoint()
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("n_pos")).over(w))
      .localCheckpoint()
    val lo = cum.select(col("bin").as("i"),
      (col("cp") - col("n_pos")).as("p0"), (col("cn") - col("n")).as("n0"))
    val hi = cum.select(col("bin").as("j"),
      col("cp").as("pj"), col("cn").as("nj"))
    val ks = cum.select(col("bin").as("k"))
    val fit = ks
      .join(lo, col("i") <= col("k"))
      .join(hi, col("j") >= col("k"))
      .select(col("k"), col("i"),
        ((col("pj") - col("p0")).cast("double") /
          (col("nj") - col("n0")).cast("double")).as("avg_ij"))
      .groupBy("k", "i").agg(min(col("avg_ij")).as("m"))
      .groupBy("k").agg(max(col("m")).as("fit"))
    binned.join(fit, col("bin") === col("k"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        round(col("fit"), 6).as("fit"))
  }

  /** DECISION STUMP (`q_decision_stump`) — the best single
    * information-gain split of the purchase label on the value
    * column, i.e. depth-1 of every tree learner and the
    * feature-quality probe (`q_woe_iv` scores a FIXED binning; the
    * stump SEARCHES the split): candidate thresholds are the nine
    * inner deciles, and for each the split's impurity is computed in
    * x·ln x form so every ln argument is an exact INTEGER count —
    * each term rounds to 6 and lands IN DECIMAL, so gain·n is
    * decimal-EXACT and the argmax over the 9-row frame is a
    * deterministic decimal comparison (never a float argmax), ties
    * to the smallest threshold. One decile pass + ONE conditional-agg
    * scan fanned ×9 against the broadcast threshold array.
    */
  def decisionStump(spark: SparkSession, sfDir: String,
      posType: String = "purchase"): DataFrame = {
    val d186 = DecimalType(18, 6)
    val d306 = DecimalType(30, 6)
    def clnc(c: Column): Column =
      when(c > 0, (c.cast(DecimalType(12, 0)) *
        round(log(c.cast("double")), 6).cast(d186)).cast(d306))
        .otherwise(lit(0).cast(d306))
    val scored = Tables.events(spark, sfDir)
      .select((money(col("value")) * 100).cast("long").as("v"),
        (col("event_type") === posType).as("y"))
    val thr = scored.agg(expr(
      "percentile(v, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
      .as("ts"))
      .select(explode(col("ts")).as("t")).distinct()
    val byT = scored.crossJoin(broadcast(thr))
      .groupBy("t")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("p"),
        sum(when(col("v").cast("double") <= col("t"), 1L).otherwise(0L))
          .as("n_l"),
        sum(when(col("v").cast("double") <= col("t") && col("y"), 1L)
          .otherwise(0L)).as("p_l"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("p_r", col("p") - col("p_l"))
    // gain·n in decimal: [n ln n − p ln p − q ln q] − Σ_sides (same)
    val gainN =
      clnc(col("n")) - clnc(col("p")) - clnc(col("n") - col("p")) -
        (clnc(col("n_l")) - clnc(col("p_l")) -
          clnc(col("n_l") - col("p_l")) +
          clnc(col("n_r")) - clnc(col("p_r")) -
          clnc(col("n_r") - col("p_r")))
    byT.withColumn("gain_n", gainN)
      .orderBy(col("gain_n").desc, col("t").asc)
      .limit(1)
      .select(col("t").as("threshold_cents"), col("n"),
        col("n_l"), col("n_r"),
        round(col("gain_n").cast("double") / col("n").cast("double"), 6)
          .as("gain_nats"))
  }

  /** Wald SPRT literals (p₀ = 0.19 vs p₁ = 0.21 purchase share,
    * α = β = 0.05): per-success/per-failure log-likelihood-ratio
    * increments and the symmetric decision bound ln(19), all as
    * 12-place DECIMALS computed once and interpolated into BOTH
    * engines' plans (the NDCG literal-table discipline — no runtime
    * libm in either engine; the walk itself is integers × literals).
    */
  private[graft] val SprtW1: BigDecimal =
    BigDecimal(math.log(0.21 / 0.19))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
  private[graft] val SprtW0: BigDecimal =
    BigDecimal(math.log(0.79 / 0.81))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
  private[graft] val SprtBound: BigDecimal =
    BigDecimal(math.log(19.0))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)

  /** WALD'S SPRT (`q_sprt`) — the SEQUENTIAL probability-ratio test
    * (Wald '45): monitor the purchase share day by day and STOP the
    * moment the evidence crosses a bound, instead of fixing n in
    * advance (`q_power_mde`'s world) — the always-valid-inference
    * shape modern experimentation platforms run. Each day's
    * cumulative LLR is s_t·ln(p₁/p₀) + f_t·ln(q₁/q₀) — exact
    * integers times the [[SprtW1]]/[[SprtW0]] decimal literals,
    * summed IN DECIMAL, compared to the ±ln((1−β)/α) literal bounds:
    * the entire walk is decimal-exact in both engines, no runtime
    * log anywhere. One partial-agg rollup to the calendar-bounded
    * daily frame, one cumulative window.
    */
  def sprt(spark: SparkSession, sfDir: String): DataFrame = {
    // Spark's decimal-multiply precision cap would silently SHRINK a
    // wide product's scale to 6 (allowPrecisionLoss); keeping the
    // count at (13,0) and the literal at (13,12) makes the product
    // (27,12) — exact, no loss, and 10¹³ cumulative events per SPRT
    // stream is far beyond any monitored experiment
    val dCnt = DecimalType(13, 0)
    val dW = DecimalType(13, 12)
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("s"),
        sum(when(col("event_type") === "purchase", 0L).otherwise(1L))
          .as("f"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bound = lit(SprtBound).cast(DecimalType(24, 12))
    daily
      .withColumn("cs", sum(col("s")).over(w))
      .withColumn("cf", sum(col("f")).over(w))
      .withColumn("llr",
        col("cs").cast(dCnt) * lit(SprtW1).cast(dW) +
          col("cf").cast(dCnt) * lit(SprtW0).cast(dW))
      .select(col("day").cast("string").as("day"),
        col("cs").as("n_success"), col("cf").as("n_failure"),
        col("llr").cast("double").as("llr"),
        when(col("llr") >= bound, "accept_h1")
          .when(col("llr") <= -bound, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** JONCKHEERE–TERPSTRA ORDERED-ALTERNATIVE TEST (`q_jonckheere`) —
    * does daily revenue trend MONOTONICALLY across the week
    * (Mon ≤ Tue ≤ … ≤ Sun)? The k-sample test with an ORDERED
    * alternative `q_kruskal` throws away (Kruskal is omnibus — any
    * difference; Jonckheere gains power when the hypothesis is a
    * direction): J = Σ over group pairs g₁ < g₂ of Mann–Whitney
    * counts #{y > x}. DOUBLED to stay integer through ties
    * (2·[y>x] + [y=x] — the spearman midpoint idiom), null moments
    * μ = (N² − Σnᵢ²)/4 and σ² = [N²(2N+3) − Σnᵢ²(2nᵢ+3)]/72 from
    * exact BIGINTs, z = (2J − 2μ)/(2σ) one IEEE dag. The pair join
    * runs over the CALENDAR-bounded daily frame (days², never
    * corpus²); groups are weekday indices, ordered by construction.
    */
  def jonckheere(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailySeries(spark, sfDir)
      .groupBy(col("day"))
      .agg(sum(col("y")).as("y"))
      .withColumn("wd", dayofweek(col("day")).cast("long"))
      .localCheckpoint()
    val a = daily.select(col("wd").as("w1"), col("y").as("y1"))
    val b = daily.select(col("wd").as("w2"), col("y").as("y2"))
    val u2 = a.crossJoin(b).filter(col("w1") < col("w2"))
      .agg(sum(when(col("y2") > col("y1"), 2L)
        .when(col("y2") === col("y1"), 1L).otherwise(0L)).as("u2"))
    val sizes = daily.groupBy("wd").agg(count(lit(1)).as("n_i"))
      .agg(sum(col("n_i")).as("n"),
        sum(col("n_i") * col("n_i")).as("sn2"),
        sum(col("n_i") * col("n_i") * (lit(2L) * col("n_i") + 3L))
          .as("sn23"),
        count(lit(1)).cast("long").as("n_groups"))
    val mu2 = (col("n") * col("n") - col("sn2")) / 2 // = 2μ, exact
    val var72 = col("n") * col("n") * (lit(2L) * col("n") + 3L) -
      col("sn23")
    sizes.crossJoin(broadcast(u2))
      .select(col("n").as("n_days"), col("n_groups"), col("u2"),
        when(var72 > 0,
          round((col("u2") - mu2).cast("double") /
            (lit(2.0) * sqrt(var72.cast("double") / 72.0)), 6))
          .as("z"))
  }

  /** CROSTON'S METHOD (`q_croston`) — the INTERMITTENT-demand
    * forecaster (Croston '72, the spare-parts/slow-mover standard)
    * the smooth-series family (`q_holt_forecast`, `q_forecast_snaive`)
    * mis-handles: when most months sell NOTHING, smoothing the raw
    * series drags the level toward zero and then overshoots on every
    * spike. Croston smooths two series that only update AT demand
    * points — demand SIZE z and inter-demand INTERVAL p — and
    * forecasts z/p per month.
    *
    * λ = 1/4 updates in the `q_ewma_chart` dyadic shape
    * ((x + 3z)/4 — both engines execute the identical IEEE sequence,
    * so the recursion is bit-exact); init z = first demand, p = 1.
    * The corpus-sized work is ONE partial-agg rollup to (part, month)
    * demand cells; each part's fold runs over its own
    * CALENDAR-BOUNDED month sequence (≤ #months entries — an
    * `aggregate` HOF, the ewma recipe, parts parallelized across the
    * cluster). Oracle = per-part recursive CTE.
    */
  def croston(spark: SparkSession, sfDir: String): DataFrame =
    crostonOver(
      Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_partkey").as("part"),
          ((year(col("o_orderdate")) - 1995) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("m"))
        .agg(sum(col("l_quantity")).cast("long").as("qty")))

  /** Same operator over any (part, m, qty) demand-cell frame — a
    * planted 3-demand sequence replays the fold by hand.
    */
  private[graft] def crostonOver(dem: DataFrame): DataFrame = {
    val folded = dem.groupBy("part")
      .agg(count(lit(1)).as("n_demands"),
        sort_array(collect_list(struct(col("m"), col("qty")))).as("arr"))
      .withColumn("st", expr(
        """aggregate(
          |  arr,
          |  named_struct('z', CAST(0.0 AS DOUBLE),
          |    'p', CAST(1.0 AS DOUBLE), 'prev', CAST(-1 AS BIGINT)),
          |  (st, e) -> IF(st.prev < 0,
          |    named_struct('z', CAST(e.qty AS DOUBLE),
          |      'p', CAST(1.0 AS DOUBLE), 'prev', e.m),
          |    named_struct(
          |      'z', (CAST(e.qty AS DOUBLE) + 3.0D * st.z) / 4.0D,
          |      'p', (CAST(e.m - st.prev AS DOUBLE) + 3.0D * st.p) / 4.0D,
          |      'prev', e.m)))""".stripMargin.trim))
    folded.select(col("part").as("l_partkey"), col("n_demands"),
      round(col("st.z"), 6).as("z"),
      round(col("st.p"), 6).as("p"),
      round(col("st.z") / col("st.p"), 6).as("forecast"))
  }
}
