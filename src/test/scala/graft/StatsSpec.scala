package graft

import org.apache.spark.sql.functions._

import graft.operators.Stats

class StatsSpec extends SparkSpec {

  test("bootstrap CI: intervals bracket the point mean and tighten with n") {
    val ci = Stats.bootstrapCi(spark, sf).cache()
    // one row per event type, lo <= mean <= hi strictly ordered
    assert(ci.count() ==
      Tables.events(spark, sf).select("event_type").distinct.count())
    assert(ci.filter(col("ci_lo") > col("mean") ||
      col("mean") > col("ci_hi")).isEmpty)
    assert(ci.filter(col("ci_lo") >= col("ci_hi")).isEmpty)
    // interval width is a few standard errors, not degenerate or huge:
    // hi - lo within (0.5, 8) * se, se = sqrt(var/n)
    val want = Tables.events(spark, sf).groupBy("event_type")
      .agg(sqrt(var_samp("value") / count(lit(1))).as("se"))
    val j = ci.join(want, "event_type")
      .withColumn("wse", (col("ci_hi") - col("ci_lo")) / col("se"))
    assert(j.filter(col("wse") < 0.5 || col("wse") > 8.0).isEmpty,
      j.select("event_type", "wse").collect().mkString(","))
    ci.unpersist()
  }

  test("bootstrap weights: the Poisson cut points reproduce e^-1 mass " +
      "and the replicate fan-out never rescans the corpus") {
    // P(w = 0) should be ~e^-1 = .3679: measured over all
    // (event, replicate) affine-hash draws at this SF
    import graft.operators.Stats.{PoissonCdfM31, M31}
    val ev = Tables.events(spark, sf)
      .withColumn("h0", graft.operators.Stats.md5Mod("boot", col("event_id")))
      .crossJoin(broadcast(
        graft.operators.Stats.replicateParams(spark, 64)))
      .filter(col("r") >= 0)
      .withColumn("h", (col("a") * col("h0") + col("b")) % M31)
    val n = ev.count()
    val zeros = ev.filter(col("h") < PoissonCdfM31.head).count()
    val frac = zeros.toDouble / n
    assert(math.abs(frac - math.exp(-1.0)) < 0.01, s"P(w=0)=$frac")
    // the driver-side literal params equal the in-engine md5
    // derivation the DuckDB oracle unrolls — the link that keeps the
    // fast literal fan-out honest
    val local = graft.operators.Stats.replicateParamsLocal(64).toSet
    val engine = graft.operators.Stats.replicateParams(spark, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(local == engine, "literal params diverge from md5 derivation")
    // plan: the conditional aggregation folds the point estimate
    // (replicate r = -1) and the CI branch into one pass, so the
    // whole operator reads the events table EXACTLY once (the other
    // leaves are the 65-row broadcast parameter ranges)
    val leaves = Stats.bootstrapCi(spark, sf)
      .queryExecution.optimizedPlan.collectLeaves()
    val scans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation])
    assert(scans == 1, s"expected one events scan leaf, got $leaves")
  }

  test("skew report: concentration identities hold and the summary " +
      "input is keys-sized, not events-sized") {
    val r = Stats.skewReport(spark, sf).head
    val ev = Tables.events(spark, sf)
    assert(r.getLong(1) == ev.count())
    assert(r.getLong(0) == ev.select("user_id").distinct.count())
    // max_n * n_keys >= n_rows (max >= avg), share in (0, 1]
    assert(r.getLong(2) * r.getLong(0) >= r.getLong(1))
    assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1.0)
    assert(r.getDouble(5) >= 1.0) // skew factor = max/avg >= 1
    // the hottest key really holds the max count
    val maxN = ev.groupBy("user_id").count()
      .agg(max("count")).head.getLong(0)
    assert(ev.filter(col("user_id") === r.getLong(3)).count() == maxN)
  }

  test("linear probe: loss decreases monotonically, accuracy clears " +
      "the class prior, scores are calibrated-range") {
    val (scored0, _, losses) = Stats.linearProbeModel(spark, sf, 8)
    val scored = scored0.cache()
    // Newton on a convex loss: each iteration's NLL must not increase
    losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"loss rose: $losses")
    }
    val n = scored.count().toDouble
    val acc = scored.filter(col("pred") === col("y")).count() / n
    val prior = math.max(
      scored.filter(col("y") === 1).count() / n,
      scored.filter(col("y") === 0).count() / n)
    // measured 1.00 at sf0.001; floor pinned well above the prior
    assert(acc >= 0.95 && acc > prior, f"acc=$acc%.3f prior=$prior%.3f")
    assert(scored.filter(col("score") < 0 || col("score") > 1).isEmpty)
    // tolerance-determinism: a second fit lands within 1e-6 everywhere
    val again = Stats.linearProbeModel(spark, sf, 8)._1
    val joined = scored.as("a").join(again.as("b"), "vec_id")
      .filter(abs(col("a.score") - col("b.score")) > 1e-6)
    assert(joined.isEmpty, "refit diverged beyond tolerance")
    scored.unpersist()
  }

  test("probe mislabel mining: a planted flipped label ranks first") {
    // corrupt ONE label in the probe's training frame; the fit still
    // separates the rest, so the flipped point is the one confidently
    // contradicted example
    val feats = Tables.embeddings(spark, sf)
      .filter(col("label").isin(0, 1))
      .select(col("vec_id"),
        (col("label") === 0).cast("int").as("y"),
        col("embedding").cast("array<double>").as("x"))
    // flip the MOST confidently classified point (min cross-fitted
    // margin on clean labels): flipping a boundary point would be
    // legitimately undetectable, which tests the corpus, not the miner
    val n = feats.count().toInt
    val clean = Stats.probeMislabelCross(feats, n, 3)
    val flipId = clean.orderBy(col("rnk").desc).head.getLong(0)
    val corrupted = feats.withColumn("y",
      when(col("vec_id") === flipId, lit(1) - col("y")).otherwise(col("y")))
    // CROSS-FITTED scores: the in-sample fit interpolates the flip
    // (d = 65 > n_fold) and would hide it — measured rank 375 vs 1
    val top = Stats.probeMislabelCross(corrupted, 5, 3)
      .orderBy("rnk").collect()
    assert(top.head.getLong(0) == flipId,
      s"flipped $flipId not first: ${top.map(_.getLong(0)).mkString(",")}")
    assert(top.head.getDouble(3) > 0.5, "flip not confidently contradicted")
    // real corpus: exactly k ranked rows, margins non-increasing
    val real = Stats.probeMislabel(spark, sf).orderBy("rnk").collect()
    assert(real.length == 20)
    assert(real.sliding(2).forall {
      case Array(a, b) => a.getDouble(3) >= b.getDouble(3)
    })
  }

  test("probe beta memo: repeat mislabel calls serve the trained fold " +
      "betas, and the memoized serve path equals the un-memoized " +
      "cross-fit row for row") {
    Stats.probeMislabel(spark, sf).count() // seeds the artifact
    val n0 = graft.operators.Artifacts.count("probe_betas")
    val a = Stats.probeMislabel(spark, sf)
    assert(graft.operators.Artifacts.count("probe_betas") == n0,
      "second call re-trained instead of serving the memo")
    val feats = Tables.embeddings(spark, sf)
      .filter(col("label").isin(0, 1))
      .select(col("vec_id"),
        (col("label") === 0).cast("int").as("y"),
        col("embedding").cast("array<double>").as("x"))
    val direct = Stats.probeMislabelCross(feats, 20, 3)
    assert(a.exceptAll(direct).isEmpty && direct.exceptAll(a).isEmpty,
      "memoized mislabel ranking drifted from the direct cross-fit")
  }

  test("ks test: disjoint samples hit D=1, identical samples hit D=0, " +
      "a half-shift lands near 0.5, and the real corpus replays exactly") {
    import spark.implicits._
    def frame(a: Seq[Int], b: Seq[Int]) =
      (a.map(v => ("A", v.toDouble)) ++ b.map(v => ("B", v.toDouble)))
        .toDF("event_type", "value")
    // disjoint: every A below every B → some grid point separates
    // them completely
    val disjoint = Stats.ksTestOver(
      frame(1 to 100, 101 to 200), "A", "B").head()
    assert(disjoint.getAs[Double]("d_stat") == 1.0, s"disjoint: $disjoint")
    // identical distributions → D = 0 at every grid point
    val same = Stats.ksTestOver(
      frame(1 to 100, 1 to 100), "A", "B").head()
    assert(same.getAs[Double]("d_stat") == 0.0, s"identical: $same")
    // half-overlapping shift: true D = 0.5; the grid underestimates
    // by at most the mesh (1/32 per sample)
    val shifted = Stats.ksTestOver(
      frame(1 to 100, 51 to 150), "A", "B").head()
    val d = shifted.getAs[Double]("d_stat")
    assert(d > 0.4 && d <= 0.5, s"shifted D out of band: $d")
    // real corpus: bounded, deterministic replay
    val real = Stats.ksTest(spark, sf).cache()
    val r = real.head()
    assert(r.getAs[Double]("d_stat") >= 0.0 && r.getAs[Double]("d_stat") <= 1.0)
    val again = Stats.ksTest(spark, sf)
    assert(real.exceptAll(again).isEmpty && again.exceptAll(real).isEmpty)
  }

  test("winsorize: planted outliers clip to the quantile band and the " +
      "winsorized mean follows exactly") {
    import spark.implicits._
    val vals = (1 to 98).map(_.toDouble) ++ Seq(-1000.0, 1000.0)
    val out = Stats.winsorizeOver(
      vals.map(v => ("A", v)).toDF("event_type", "value")).head()
    assert(out.getAs[Long]("n") == 100L)
    assert(out.getAs[Long]("n_clip_lo") == 1L, s"clip lo: $out")
    assert(out.getAs[Long]("n_clip_hi") == 1L, s"clip hi: $out")
    val p01 = out.getAs[Double]("p01")
    val p99 = out.getAs[Double]("p99")
    assert(p01 > -1000.0 && p01 < 1.0 && p99 > 98.0 && p99 < 1000.0)
    // non-clipped values pass through untouched, so the winsorized
    // mean is (sum(1..98) + p01 + p99) / 100 up to the 6dp rounding
    val expect = ((1 to 98).sum + p01 + p99) / 100.0
    assert(math.abs(out.getAs[Double]("mean_winsor") - expect) < 1e-5,
      s"mean_winsor ${out.getAs[Double]("mean_winsor")} vs $expect")
    assert(out.getAs[Double]("mean_raw") == 48.51)
    // real corpus: each side clips about 1%, and the winsorized mean
    // sits inside the clip band
    val real = Stats.winsorize(spark, sf).cache()
    val n = real.agg(sum("n")).head().getLong(0)
    val clipped = real.agg(sum(col("n_clip_lo") + col("n_clip_hi")))
      .head().getLong(0)
    assert(clipped > 0 && clipped < n * 0.05, s"clipped $clipped of $n")
    assert(real.filter(col("mean_winsor") < col("p01")
      || col("mean_winsor") > col("p99")).isEmpty)
  }

  test("auc: hand-computed planted values including ties, perfect and " +
      "inverted separation, and a bounded real-corpus replay") {
    import spark.implicits._
    def frame(pos: Seq[Long], neg: Seq[Long]) =
      (pos.map((_, true)) ++ neg.map((_, false))).toDF("score", "y")
    // pos {3,1} vs neg {2,0}: wins (3>2),(3>0),(1>0) of 4 pairs = 0.75
    assert(Stats.aucOver(frame(Seq(3, 1), Seq(2, 0)))
      .head().getAs[Double]("auc") == 0.75)
    // ties: pos {1,2} vs neg {1,0}: 3 wins + one tie/2 = 0.875
    assert(Stats.aucOver(frame(Seq(1, 2), Seq(1, 0)))
      .head().getAs[Double]("auc") == 0.875)
    // perfect and inverted separation
    assert(Stats.aucOver(frame(Seq(10, 11, 12), Seq(1, 2, 3)))
      .head().getAs[Double]("auc") == 1.0)
    assert(Stats.aucOver(frame(Seq(1, 2, 3), Seq(10, 11, 12)))
      .head().getAs[Double]("auc") == 0.0)
    val real = Stats.auc(spark, sf).cache()
    val r = real.head()
    assert(r.getAs[Double]("auc") >= 0.0 && r.getAs[Double]("auc") <= 1.0)
    assert(r.getAs[Long]("n_pos") > 0 && r.getAs[Long]("n_neg") > 0)
    val again = Stats.auc(spark, sf)
    assert(real.exceptAll(again).isEmpty && again.exceptAll(real).isEmpty)
  }

  test("lift: a top-decile-only-positives corpus lifts 10x and the " +
      "real-corpus table conserves totals") {
    import spark.implicits._
    val planted = (1 to 100)
      .map(i => (i.toDouble, i > 90)).toDF("score", "y")
    val l = Stats.liftOver(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getAs[Double]("lift")))).toMap
    assert(l.size == 10)
    assert(l(10L) == ((10L, 10L, 10.0)), s"top decile: ${l(10L)}")
    assert((1L to 9L).forall(b => l(b)._2 == 0L && l(b)._3 == 0.0),
      s"low deciles should hold no positives: $l")
    val real = Stats.lift(spark, sf).cache()
    val ev = Tables.events(spark, sf)
    assert(real.agg(sum("n")).head().getLong(0) == ev.count())
    assert(real.agg(sum("n_pos")).head().getLong(0) ==
      ev.filter(col("event_type") === "purchase").count())
  }

  test("confusion: a hand-tallied planted frame pins the matrix, the " +
      ">= boundary, and the single-division rates") {
    import spark.implicits._
    val scored = Seq(
      (500.0, true),   // exactly at τ → predicted positive → tp
      (499.99, true),  // just under → fn
      (600.0, false),  // fp
      (1.0, false),    // tn
      (700.0, true)    // tp
    ).toDF("score", "y")
    val r = Stats.confusionOver(scored, 500.0).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 1L)), s"matrix: $r")
    assert(r.getAs[Double]("precision") == 0.666667)
    assert(r.getAs[Double]("recall") == 0.666667)
    assert(r.getAs[Double]("f1") == 0.666667)
    // degenerate operating point: nothing predicted positive →
    // precision is null, never an engine-dependent NaN or a throw
    val degen = Stats.confusionOver(
      Seq((1.0, true), (2.0, false)).toDF("score", "y"), 100.0).head()
    assert(degen.getLong(0) == 0L && degen.isNullAt(4), s"degenerate: $degen")
    assert(degen.getAs[Double]("recall") == 0.0)
    // real corpus: the four cells partition the table
    val real = Stats.confusion(spark, sf).head()
    assert(real.getLong(0) + real.getLong(1) + real.getLong(2) +
      real.getLong(3) == Tables.events(spark, sf).count())
    assert(real.getLong(0) > 0, "gate threshold leaves tp empty")
  }

  test("conformal: q-hat is exactly the k-th smallest calibration " +
      "residual and measured coverage clears the finite-sample bound") {
    val out = Stats.conformal(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // k rule: k = ceil((n_cal + 1) * 0.9), and coverage ≥ 1−α up to
    // test-split fluctuation (n_test ~ 50/type at sf0.001 → generous
    // slack; the guarantee itself is marginal over splits)
    rows.foreach { r =>
      val nCal = r.getAs[Long]("n_cal")
      assert(r.getAs[Double]("coverage") >= 0.80,
        s"coverage collapsed for ${r.getString(0)}: $r")
      assert(r.getAs[Double]("qhat") >= 0.0)
      assert(nCal >= 9, "calibration split too small for alpha=0.1")
    }
    // independent replay of the selection: per type, q-hat equals the
    // k-th smallest residual of a driver-side sort of the calibration
    // residuals (the definition, computed the slow way)
    val h = substring(md5(concat(lit("conf1:"),
      col("event_id").cast("string"))), 1, 1)
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
      .withColumn("split",
        when(h < lit("8"), "train").when(h < lit("c"), "cal")
          .otherwise("test"))
    val mu = ev.filter(col("split") === "train").groupBy("event_type")
      .agg(round(sum(col("v")).cast("double") / count(lit(1)), 2)
        .cast("decimal(18,2)").as("mu"))
    val calRes = ev.filter(col("split") === "cal")
      .join(mu, "event_type")
      .select(col("event_type"), abs(col("v") - col("mu"))
        .cast("double").as("r"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    rows.foreach { r =>
      val t = r.getString(0)
      val k = math.ceil((calRes(t).length + 1) * 0.9).toLong
      assert(r.getAs[Long]("k") == k, s"k rule broke for $t")
      assert(r.getAs[Double]("qhat") == calRes(t)(k.toInt - 1),
        s"q-hat is not the k-th order statistic for $t")
    }
    out.unpersist()
  }

  test("aqp sum: truth lands inside the 4-se Horvitz-Thompson bars and " +
      "the scale-up is the exact sample sum times 16") {
    val est = Stats.aqpSum(spark, sf).cache()
    val truth = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).as("t"))
      .select(col("event_type"), col("t").cast("double").as("truth"))
    val j = est.join(truth, "event_type").cache()
    assert(j.count() == truth.count() && truth.count() > 0)
    // everything is deterministic, so this is a fixed fact of the
    // corpus, not a flaky probabilistic assertion: the 1/16 sample's
    // estimate brackets the full-scan total well inside 4 se
    val off = j.filter(abs(col("est_total") - col("truth")) >
      lit(4.0) * col("se"))
    assert(off.isEmpty, off.collect().mkString(", "))
    // arithmetic identity: est_total is exactly 16x the sample sum
    val resample = Tables.events(spark, sf)
      .filter(substring(md5(concat(lit("aqp1:"),
        col("event_id").cast("string"))), 1, 1) < lit("1"))
      .groupBy("event_type")
      .agg(round((sum(col("value").cast("decimal(18,2)")) * 16)
        .cast("double"), 2).as("want"))
    assert(est.join(resample, "event_type")
      .filter(col("est_total") =!= col("want")).isEmpty)
    // the sample really is ~1/16: n_sample within half-to-double of
    // the expected rate per type (loose, deterministic)
    val n = j.agg(sum("n_sample")).head().getLong(0)
    val total = Tables.events(spark, sf).count()
    assert(n > total / 32 && n < total / 8, s"sample size $n of $total")
    j.unpersist(); est.unpersist()
  }

  test("join size: hand-tallied planted accounting, equality with the " +
      "actually-executed join, and the CMS inner-product estimate " +
      "brackets it from above") {
    import spark.implicits._
    // u1: 2×3=6, u4: 1×1=1 → size 7; u2 A-only, u3 B-only
    val planted = Seq(
      (1L, "A"), (1L, "A"), (1L, "B"), (1L, "B"), (1L, "B"),
      (2L, "A"), (3L, "B"), (3L, "B"), (3L, "B"), (3L, "B"),
      (4L, "A"), (4L, "B")).toDF("user_id", "event_type")
    val r = Stats.joinSizeOver(planted, "A", "B").head()
    assert((r.getAs[Long]("n_keys_a"), r.getAs[Long]("n_keys_b"),
      r.getAs[Long]("n_common"),
      r.getAs[Double]("join_size").toLong,
      r.getAs[Long]("hot_key"),
      r.getAs[Double]("hot_contrib").toLong) ==
      ((3L, 3L, 2L, 7L, 1L, 6L)), s"accounting: $r")
    // real corpus: the prediction equals the executed join's count
    val est = Stats.joinSize(spark, sf).head()
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"))
    val actual = clicks.join(purchases, "user_id").count()
    val predicted = est.getAs[Double]("join_size").toLong
    assert(predicted == actual, s"predicted $predicted vs executed $actual")
    // the sketch route: CMS inner product min_d sum_w A·B over-counts
    // only by collisions — >= truth, and tight at width >> |keys|
    val d = 4; val w = 8192
    def sk(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.agg(graft.functions.CountMinSketch
          .count_min(col("user_id").cast("string"), d, w).as("sk"))
        .head().getSeq[Long](0).toArray
    val (sa, sb) = (sk(clicks), sk(purchases))
    val inner = (0 until d).map { di =>
      (0 until w).map(wi => sa(di * w + wi) * sb(di * w + wi)).sum
    }.min
    assert(inner >= actual, s"CMS inner product $inner under-counted")
    assert(inner <= (actual * 1.1 + 100).toLong,
      s"CMS inner product $inner too loose vs $actual")
  }

  test("neyman allocation: a high-variance stratum draws budget in " +
      "proportion to N·sigma and the totals reconcile") {
    import spark.implicits._
    // stratum A: 100 rows, sd 0 (constant) → zero allocation;
    // stratum B: 100 rows alternating 0/200 → sd ≈ 100.5, takes all
    val rows = (1 to 100).map(i => ("A", java.math.BigDecimal.valueOf(50))) ++
      (1 to 100).map(i => ("B",
        java.math.BigDecimal.valueOf(if (i % 2 == 0) 200L else 0L)))
    val out = Stats.neymanAllocOver(
        rows.toDF("lang", "v"), 1000L).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Double]("alloc_frac"), r.getAs[Long]("n_alloc")))).toMap
    assert(out("A") == ((0.0, 0L)), s"constant stratum got budget: $out")
    assert(out("B") == ((1.0, 1000L)), s"varying stratum short: $out")
    // real corpus: fractions sum to 1, rounded totals near the budget
    val real = Stats.neymanAlloc(spark, sf).cache()
    val fsum = real.agg(sum("alloc_frac")).head().getDouble(0)
    assert(math.abs(fsum - 1.0) < 1e-4, s"fractions sum to $fsum")
    val nsum = real.agg(sum("n_alloc")).head().getLong(0)
    val k = real.count()
    assert(math.abs(nsum - 1000L) <= k, s"allocated $nsum of 1000")
    // proportionality: alloc ratio equals the N·sigma ratio
    val rows2 = real.collect()
    val w = rows2.map(r => r.getAs[Long]("n_docs") *
      r.getAs[Double]("sigma"))
    val tw = w.sum
    rows2.zip(w).foreach { case (r, wi) =>
      assert(math.abs(r.getAs[Double]("alloc_frac") - wi / tw) < 1e-4)
    }
    real.unpersist()
  }

  test("welch t-test matches a hand-computed reference on planted groups") {
    import spark.implicits._
    // a: [1, 2, 3, 4] n=4 mean=2.5 var=5/3; b: [2, 4, 6] n=3 mean=4 var=4
    val planted = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)
    ).toDF("event_type", "value")
    val r = Stats.abTestOver(planted, "a", "b").head
    assert(r.getLong(0) == 4 && r.getLong(1) == 3)
    assert(math.abs(r.getDouble(2) - 2.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - 4.0) < 1e-9)
    val sea = (5.0 / 3) / 4
    val seb = 4.0 / 3
    val t = (2.5 - 4.0) / math.sqrt(sea + seb)
    val df = math.pow(sea + seb, 2) /
      (sea * sea / 3 + seb * seb / 2)
    assert(math.abs(r.getDouble(4) - t) < 1e-5, s"t=${r.getDouble(4)} want $t")
    assert(math.abs(r.getDouble(5) - df) < 1e-5, s"df=${r.getDouble(5)} want $df")
    // real corpus: one row, finite stats
    val real = Stats.abTest(spark, sf).head
    assert(!real.getDouble(4).isNaN && !real.getDouble(5).isNaN)
  }

  test("chi2 crosstab: hand-computed 2x2 tables, including a zero cell " +
      "that still contributes its expected count") {
    import spark.implicits._
    def chi(rows: Seq[(String, String)]) =
      Stats.crosstabChi2Over(rows.toDF("lang", "source")).head
    // full 2x2: o = [[10,20],[30,40]] -> chi2 = 4/12+4/18+4/28+4/42
    val full = chi(
      Seq.fill(10)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
      Seq.fill(30)(("y", "p")) ++ Seq.fill(40)(("y", "q")))
    assert(full.getAs[Long]("n") == 100 && full.getAs[Long]("dof") == 1)
    assert(math.abs(full.getAs[Double]("chi2") - 0.79365) < 1e-4)
    assert(math.abs(full.getAs[Double]("cramers_v")
      - math.sqrt(0.79365 / 100.0)) < 1e-4)
    // zero cell (y,q): e = 2.5 still enters -> chi2 = 6.666666
    val zero = chi(
      Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("x", "q")) ++
      Seq.fill(10)(("y", "p")))
    assert(math.abs(zero.getAs[Double]("chi2") - 6.666666) < 1e-4)
    assert(math.abs(zero.getAs[Double]("cramers_v") - 0.57735) < 1e-4)
    // independence: perfectly proportional table -> chi2 = 0
    val indep = chi(
      Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(10)(("y", "q")))
    assert(indep.getAs[Double]("chi2") == 0.0)
    assert(indep.getAs[Double]("cramers_v") == 0.0)
  }

  test("anova: hand-computed 3-group F and eta^2; constant corpus " +
      "null-guards both ratios") {
    import spark.implicits._
    def run(rows: Seq[(String, Double)]) =
      Stats.anovaOver(rows.toDF("grp", "v")
        .select(col("grp"), col("v").cast("decimal(18,2)").as("v"))).head
    // a:{1,2,3} b:{4,5,6} c:{7,8,9} -> SSB=54, SSW=6, F=27, eta2=0.9
    val r = run(Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 4.0, "b" -> 5.0, "b" -> 6.0,
      "c" -> 7.0, "c" -> 8.0, "c" -> 9.0))
    assert(r.getAs[Long]("k_groups") == 3 && r.getAs[Long]("n") == 9)
    assert(r.getAs[Long]("df1") == 2 && r.getAs[Long]("df2") == 6)
    assert(r.getAs[Double]("ss_between") == 54.0)
    assert(r.getAs[Double]("ss_within") == 6.0)
    assert(r.getAs[Double]("f_stat") == 27.0)
    assert(math.abs(r.getAs[Double]("eta_sq") - 0.9) < 1e-9)
    // constant corpus: SSW = SSB = 0 -> F and eta^2 are null, not NaN
    val c = run(Seq("a" -> 2.0, "a" -> 2.0, "b" -> 2.0, "b" -> 2.0))
    assert(c.getAs[Double]("ss_between") == 0.0)
    assert(c.getAs[Double]("ss_within") == 0.0)
    assert(c.isNullAt(c.fieldIndex("f_stat")))
    assert(c.isNullAt(c.fieldIndex("eta_sq")))
  }

  test("acf: alternating series pins r_1/r_2 signs exactly; constant " +
      "series null-guards on zero variance") {
    import spark.implicits._
    def daily(ys: Seq[Double]) = ys.zipWithIndex.toDF("y", "i")
      .select(date_add(lit("2024-01-01").cast("date"), col("i")).as("day"),
        col("y").cast("decimal(18,2)").as("y"))
    // y = 0,10,0,10,... over 10 days: mean 5, den 250;
    // lag1: 9 pairs x (-25) -> -0.9; lag2: 8 pairs x (+25) -> 0.8
    val alt = Stats.acfOver(daily(Seq.tabulate(10)(i => (i % 2) * 10.0)), 3)
      .collect().map(r => r.getAs[Long]("lag") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("acf"))).toMap
    assert(alt(1L) == ((9L, -0.9)) && alt(2L) == ((8L, 0.8)))
    assert(alt(3L) == ((7L, -0.7)))
    // constant series: zero variance -> acf null, pairs still counted
    val const = Stats.acfOver(daily(Seq.fill(6)(4.0)), 2).collect()
      .map(r => r.getAs[Long]("lag") -> r).toMap
    assert(const(1L).isNullAt(const(1L).fieldIndex("acf")))
    assert(const(1L).getAs[Long]("n_pairs") == 5)
  }

  test("breusch-pagan: fanning residuals score BP > 0 with r2 in (0,1]; " +
      "constant-magnitude residuals null-guard (no aux variance)") {
    import spark.implicits._
    def daily(ys: Seq[Long]) = ys.zipWithIndex
      .map { case (y, i) => ("a", i, y) }.toDF("event_type", "i", "y")
      .select(col("event_type"),
        date_add(lit("2024-01-01").cast("date"), col("i")).as("day"),
        col("y"), (lit(100L) + col("i")).as("t"))
    // residual magnitude grows with t: heteroscedastic by design
    val fan = Stats.breuschPaganOver(daily(
      Seq.tabulate(20)(i => 100L * i +
        (if (i % 2 == 0) 1L else -1L) * 10L * i))).collect().head
    val r2 = fan.getAs[Double]("r2_aux")
    assert(r2 > 0.0 && r2 <= 1.0, s"r2_aux out of range: $r2")
    assert(fan.getAs[Double]("bp") > 2.0, s"fanning must score: $fan")
    // alternating +-c around a line: near-constant e^2 -> BP ~ 0
    // (the fitted slope absorbs a sliver, so the guard sees tiny
    // but nonzero aux variance — the score, not the null, says clean)
    val flat = Stats.breuschPaganOver(daily(
      Seq.tabulate(20)(i => 100L * i +
        (if (i % 2 == 0) 5L else -5L)))).collect().head
    assert(flat.isNullAt(flat.fieldIndex("bp")) ||
      flat.getAs[Double]("bp") < 0.5,
      s"homoscedastic plant must score ~0: $flat")
    // a PERFECT line: every residual 0 -> no aux variance -> null
    val line = Stats.breuschPaganOver(daily(
      Seq.tabulate(20)(i => 100L * i))).collect().head
    assert(line.isNullAt(line.fieldIndex("bp")),
      s"zero residuals must null-guard: $line")
  }

  test("gumbel return levels: the two-block plant replays the moment " +
      "fit, levels are T-monotone, constant blocks null-guard") {
    import spark.implicits._
    def daily(ys: Seq[Long]) = ys.zipWithIndex
      .map { case (y, i) => ("a", i, y) }.toDF("event_type", "i", "y")
      .select(col("event_type"),
        date_add(lit("2024-01-01").cast("date"), col("i") * 7).as("day"),
        col("y"))
    // one day per week -> each day is its own block: m = {0, 12}
    val out = Stats.gumbelReturnOver(daily(Seq(0L, 12L))).collect().head
    val sd = math.sqrt(72.0)
    val beta = sd * Stats.GumbelC1
    val mu = 6.0 - Stats.GumbelGamma * beta
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Long]("n_blocks") == 2L)
    assert(out.getAs[Double]("mu") == r6(mu))
    assert(out.getAs[Double]("beta") == r6(beta))
    assert(out.getAs[Double]("level_4w") == r6(mu + beta * Stats.GumbelY4))
    assert(out.getAs[Double]("level_4w") < out.getAs[Double]("level_12w"))
    assert(out.getAs[Double]("level_12w") < out.getAs[Double]("level_52w"))
    val const = Stats.gumbelReturnOver(daily(Seq(5L, 5L, 5L))).collect()
      .head
    assert(const.isNullAt(const.fieldIndex("beta")))
  }

  test("logrank: the hand-computed two-time table pins O-E, V, and " +
      "chi2 exactly; the real md5-parity arms stay finite") {
    import spark.implicits._
    // A: deaths {1,1}, censored {2}; B: death {2}, censored {2,2}
    // t=1: nr=(3,3), d_a=2, d=2 -> OE=1, V=0.4
    // t=2: nr=(1,3), d_a=0, d=1 -> OE=-0.25, V=0.1875
    val obs = Seq(("A", 1L, false), ("A", 1L, false), ("A", 2L, true),
      ("B", 2L, false), ("B", 2L, true), ("B", 2L, true))
      .toDF("arm", "t", "censored")
    val r = Stats.logrankFromObs(obs).collect().head
    assert(r.getAs[Long]("d_a_total") == 2L &&
      r.getAs[Long]("d_total") == 3L)
    assert(r.getAs[Double]("o_minus_e") == 0.75)
    assert(r.getAs[Double]("variance") == 0.5875)
    assert(r.getAs[Double]("chi2") == 0.957447)
    val real = Stats.logrank(spark, sf).collect().head
    assert(real.getAs[Double]("chi2") >= 0.0)
    assert(real.getAs[Long]("d_total") >= real.getAs[Long]("d_a_total"))
  }

  test("median test: the chi2 recounts from the cells, df = k-1, and " +
      "the split sides cover the corpus") {
    val out = Stats.medianTest(spark, sf).collect().head
    val k = out.getAs[Long]("k_groups")
    assert(out.getAs[Long]("df") == k - 1)
    val n = out.getAs[Long]("n")
    val ta = out.getAs[Long]("n_above_total")
    assert(ta > 0 && ta < n)
    assert(out.getAs[Double]("chi2") >= 0.0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("mcc: the hand-tallied confusion pins MCC/balanced-acc/J; a " +
      "one-class corpus null-guards") {
    import spark.implicits._
    def run(rows: Seq[(Double, Boolean)]) = Stats.mccOver(
      rows.toDF("score", "y"), 3.0).collect().head
    // tp=2 fp=1 fn=1 tn=2 -> MCC = 3/9, balanced = 2/3, J = 1/3
    val r = run(Seq((5.0, true), (5.0, true), (5.0, false),
      (1.0, true), (1.0, false), (1.0, false)))
    assert(r.getAs[Long]("tp") == 2 && r.getAs[Long]("tn") == 2)
    assert(r.getAs[Double]("mcc") == 0.333333)
    assert(r.getAs[Double]("balanced_acc") == 0.666667)
    assert(r.getAs[Double]("youden_j") == 0.333333)
    val oneClass = run(Seq((5.0, true), (1.0, true)))
    assert(oneClass.isNullAt(oneClass.fieldIndex("mcc")) &&
      oneClass.isNullAt(oneClass.fieldIndex("balanced_acc")))
  }

  test("log loss: perfect separation pins ll_model = 0 < ll_base; a " +
      "constant score collapses model onto base") {
    import spark.implicits._
    def run(rows: Seq[(Double, Boolean)]) = Stats.logLossOver(
      rows.toDF("v0", "y").select(col("v0").cast("decimal(18,2)").as("v"),
        col("y"))).collect().head
    // low scores all negative, high all positive -> every bin pure
    val sep = run(Seq((0.0, false), (1.0, false), (9.0, true),
      (10.0, true)))
    assert(sep.getAs[Double]("ll_model") == 0.0)
    assert(sep.getAs[Double]("ll_base") > 0.6) // ln 2 ≈ 0.693
    // constant score: one bin = the global rate -> model == base
    val const = run(Seq((5.0, true), (5.0, false), (5.0, false)))
    assert(const.getAs[Double]("ll_model") ==
      const.getAs[Double]("ll_base"))
  }

  test("theil u2: an exact-weekly series pins u2 = 0, a pure trend " +
      "pins u2 = 7 (naive wins)") {
    import spark.implicits._
    def daily(ys: Seq[Long]) = ys.zipWithIndex
      .map { case (y, i) => ("a", i, y) }.toDF("event_type", "i", "y")
      .select(col("event_type"),
        date_add(lit("2024-01-01").cast("date"), col("i")).as("day"),
        col("y"))
    // period-7 pattern: y(t-7) = y(t) on every evaluable day -> 0
    val weekly = Stats.theilUOver(
      daily(Seq.tabulate(21)(i => ((i % 7) + 1) * 100L))).collect().head
    assert(weekly.getAs[Long]("n_eval") == 14L)
    assert(weekly.getAs[Double]("u2") == 0.0)
    // pure trend y = 100t: model err 700 vs naive err 100 per day
    val trend = Stats.theilUOver(
      daily(Seq.tabulate(21)(i => i * 100L))).collect().head
    assert(trend.getAs[Double]("u2") == 7.0)
  }

  test("cooks distance: the far-off-line day ranks first by a wide " +
      "margin, leverage stays in [1/n, 1]") {
    import spark.implicits._
    // 11 days on y = 100t exactly, except day 5 spiked to 5000
    val rows = Seq.tabulate(11)(i =>
      ("a", i, if (i == 5) 5000L else i * 100L))
    val daily = rows.toDF("event_type", "i", "y")
      .select(col("event_type"),
        date_add(lit("2024-01-01").cast("date"), col("i")).as("day"),
        col("y"), (lit(19723L) + col("i")).as("t"))
    val out = Stats.cooksDistanceOver(daily, 3)
      .orderBy("rnk").collect()
    assert(out.length == 3)
    assert(out(0).getAs[String]("day") == "2024-01-06",
      s"spike day must rank 1: ${out.toSeq}")
    assert(out(0).getAs[Double]("cooks_d") >
      5.0 * out(1).getAs[Double]("cooks_d"))
    out.foreach { r =>
      val h = r.getAs[Double]("leverage")
      assert(h >= 1.0 / 11.0 - 1e-6 && h <= 1.0) // h is rounded to 6dp
    }
  }

  test("cronbach: perfectly-correlated items pin alpha = 1; zero total " +
      "variance null-guards") {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    // every item score = 100·user -> item vars V each, total var 25V
    // -> alpha = 5/4·(1 − 5V/25V) = 1 exactly
    val perfect = (1L to 4L).flatMap(u => types.map(t => (u, t, 100L * u)))
      .toDF("user_id", "event_type", "y")
    val p = Stats.cronbachOver(perfect).collect().head
    assert(p.getAs[Double]("alpha") == 1.0, s"alpha != 1: $p")
    assert(p.getAs[Long]("n_users") == 4L && p.getAs[Long]("k_items") == 5L)
    // identical users -> total variance 0 -> null, never NaN
    val flat = (1L to 3L).flatMap(u => types.map(t => (u, t, 100L)))
      .toDF("user_id", "event_type", "y")
    val f = Stats.cronbachOver(flat).collect().head
    assert(f.isNullAt(f.fieldIndex("alpha")))
  }

  test("tukey contrasts: hand-computed two-group contrast pins diff/SE/t; " +
      "constant corpus null-guards") {
    import spark.implicits._
    def run(rows: Seq[(String, Double)]) = Stats.tukeyContrastsOver(
      rows.toDF("grp", "v0")
        .select(col("grp"), col("v0").cast("decimal(18,2)").as("v")))
      .collect()
    // a={0,4} (mean 2, ssw 8), b={10,14} (mean 12, ssw 8):
    // MSW = 16/2 = 8, se = sqrt(8·(1/2+1/2)) = 2.828427,
    // t = -10/2.828427 = -3.535534
    val out = run(Seq("a" -> 0.0, "a" -> 4.0, "b" -> 10.0, "b" -> 14.0))
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("type_a") == "a" &&
      r.getAs[String]("type_b") == "b")
    assert(r.getAs[Double]("mean_diff") == -10.0)
    assert(r.getAs[Double]("se") == 2.828427)
    assert(r.getAs[Double]("t_stat") == -3.535534)
    val const = run(Seq("a" -> 2.0, "a" -> 2.0, "b" -> 2.0, "b" -> 2.0))
    assert(const.head.isNullAt(const.head.fieldIndex("t_stat")))
  }

  test("poisson rate: z and ratio replay the exact counts; the baseline " +
      "row is excluded") {
    val out = Stats.poissonRate(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getString(0) != "click"))
    val counts = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val n1 = r.getAs[Long]("n_type"); val n2 = r.getAs[Long]("n_base")
      assert(n1 == counts(r.getString(0)) && n2 == counts("click"))
      val z = BigDecimal((n1 - n2).toDouble / math.sqrt((n1 + n2).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("z") == z)
    }
  }

  test("jarque-bera: symmetric two-point corpus pins S=0, K=-2, JB=n/6; " +
      "constant corpus null-guards") {
    import spark.implicits._
    def run(ys: Seq[Long]) = Stats.jarqueBeraOver(
      ys.map(("a", _)).toDF("grp", "y")).collect().head
    // {0,10}×3: mean 5, d=±5 -> m2=150, m3=0, m4=3750 ->
    // S=0, K=625/625-3=-2, JB = 6/6*(0 + 4/4) = 1
    val sym = run(Seq(0L, 10L, 0L, 10L, 0L, 10L))
    assert(sym.getAs[Double]("skewness") == 0.0)
    assert(sym.getAs[Double]("kurt_excess") == -2.0)
    assert(sym.getAs[Double]("jb") == 1.0)
    val const = run(Seq(4L, 4L, 4L))
    assert(const.isNullAt(const.fieldIndex("skewness")) &&
      const.isNullAt(const.fieldIndex("jb")))
  }

  test("grubbs: the far point is recovered with its G; symmetric ties " +
      "break to the larger value; constant corpus null-guards") {
    import spark.implicits._
    def run(ys: Seq[Long]) = Stats.grubbsOver(
      ys.map(("a", _)).toDF("grp", "y")).collect().head
    // [0,0,0,0,100]: mean 20, s²=2000, maxd=80 -> G=80/√2000
    val far = run(Seq(0L, 0L, 0L, 0L, 100L))
    assert(far.getAs[Long]("outlier_cents") == 100L)
    assert(math.abs(far.getAs[Double]("g") - 80.0 / math.sqrt(2000.0))
      < 1e-6)
    // symmetric ±5 tie -> the larger value wins deterministically
    val tie = run(Seq(0L, 10L))
    assert(tie.getAs[Long]("outlier_cents") == 10L)
    val const = run(Seq(4L, 4L, 4L))
    assert(const.isNullAt(const.fieldIndex("g")))
  }

  test("ljung-box: alternating series pins the exact portmanteau walk; " +
      "constant series null-guards") {
    import spark.implicits._
    def daily(ys: Seq[Double]) = ys.zipWithIndex.toDF("y", "i")
      .select(date_add(lit("2024-01-01").cast("date"), col("i")).as("day"),
        col("y").cast("decimal(18,2)").as("y"))
    // same planted series as the acf spec: r = (-0.9, 0.8, -0.7),
    // n = 10, n(n+2) = 120 -> Q walks 120*(0.81/9) = 10.8, +120*(0.64/8)
    // = 20.4, +120*(0.49/7) = 28.8 — every step an exact decimal
    val alt = Stats.ljungBoxOver(daily(Seq.tabulate(10)(i => (i % 2) * 10.0)), 3)
      .collect().map(r => r.getAs[Long]("lag") ->
        r.getAs[Double]("q_stat")).toMap
    assert(alt(1L) == 10.8 && alt(2L) == 20.4 && alt(3L) == 28.8)
    // zero variance -> acf null -> the Q walk stays null, never NaN
    val const = Stats.ljungBoxOver(daily(Seq.fill(6)(4.0)), 2).collect()
    assert(const.forall(r => r.isNullAt(r.fieldIndex("q_stat"))))
  }

  test("calibration: perfectly-calibrated corpus pins ECE = 0, " +
      "anti-calibrated pins gap 1, constant score null-guards") {
    import spark.implicits._
    def run(rows: Seq[(Double, Boolean)]) =
      Stats.calibrationOver(rows.toDF("v", "y")
        .select(col("v").cast("decimal(18,2)").as("v"), col("y")))
    // extremes only: bin0 all-negative at score 0, bin9 all-positive
    // at score 10 -> confidence == accuracy in both bins
    val perfect = run(Seq.fill(4)((0.0, false)) ++ Seq.fill(4)((10.0, true)))
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    assert(perfect(0L).getAs[Double]("ece") == 0.0)
    assert(perfect(0L).getAs[Double]("mce") == 0.0)
    assert(perfect(0L).getAs[Double]("confidence") == 0.0 &&
      perfect(0L).getAs[Double]("accuracy") == 0.0)
    assert(perfect(9L).getAs[Double]("confidence") == 1.0 &&
      perfect(9L).getAs[Double]("accuracy") == 1.0)
    // inverted labels: both bins gap 1 -> ECE = 1, MCE = 1
    val anti = run(Seq.fill(4)((0.0, true)) ++ Seq.fill(4)((10.0, false)))
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    assert(anti(0L).getAs[Double]("gap") == 1.0)
    assert(anti(9L).getAs[Double]("gap") == 1.0)
    assert(anti(0L).getAs[Double]("ece") == 1.0 &&
      anti(0L).getAs[Double]("mce") == 1.0)
    // constant score: one bin, null confidence/gap/ece in both engines
    val const = run(Seq((5.0, true), (5.0, false))).collect()
    assert(const.length == 1 && const.head.getAs[Long]("bin") == 0L)
    assert(const.head.isNullAt(const.head.fieldIndex("confidence")))
    assert(const.head.isNullAt(const.head.fieldIndex("ece")))
  }

  test("ewma chart: planted 4-day series pins the dyadic recursion " +
      "and the exact t=1 limit; single-day type null-guards") {
    import spark.implicits._
    // counts 4,1,1,1: mu = 1.75, sigma = 1.5; z = 2.3125, 1.984375,
    // 1.73828125, 1.5537109375; t=1 width = 4.5*sqrt(1/16) = 1.125
    val rows =
      Seq.fill(4)(("a", "2024-01-01 10:00:00")) ++ Seq(
        ("a", "2024-01-02 10:00:00"), ("a", "2024-01-03 10:00:00"),
        ("a", "2024-01-04 10:00:00"), ("b", "2024-01-01 09:00:00"))
    val out = Stats.ewmaChartOver(
      rows.toDF("event_type", "s")
        .select(col("event_type"), col("s").cast("timestamp").as("ts")),
      3.0).collect()
    val a = out.filter(_.getString(0) == "a")
      .sortBy(_.getAs[java.sql.Date]("day").toString)
    assert(a.map(_.getAs[Double]("ewma")).toSeq ==
      Seq(2.3125, 1.984375, 1.738281, 1.553711))
    assert(a.head.getAs[Double]("ucl") == 2.875)
    assert(a.head.getAs[Double]("lcl") == 0.625)
    assert(a.forall(!_.getAs[Boolean]("out_of_control")))
    // type b has one day: sigma undefined -> verdict null, ewma real
    val b = out.filter(_.getString(0) == "b").head
    assert(b.isNullAt(b.fieldIndex("out_of_control")))
    assert(b.getAs[Double]("ewma") == 1.0)
  }

  test("paired t-test: planted per-user diffs pin t/df, single-type " +
      "users drop, zero variance null-guards") {
    import spark.implicits._
    def run(rows: Seq[(Long, String, Double)]) =
      Stats.ttestPairedOver(
        rows.toDF("user_id", "event_type", "value"),
        "purchase", "click").head
    // diffs 1, 2, 3 -> mean 2, var 1, t = 2*sqrt(3); u4 click-only drops
    val r = run(Seq(
      (1L, "purchase", 11.0), (1L, "click", 10.0),
      (2L, "purchase", 12.0), (2L, "click", 10.0),
      (3L, "purchase", 13.0), (3L, "click", 10.0),
      (4L, "click", 99.0)))
    assert(r.getAs[Long]("n_pairs") == 3 && r.getAs[Long]("df") == 2)
    assert(r.getAs[Double]("mean_diff") == 2.0)
    assert(r.getAs[Double]("sd_diff") == 1.0)
    assert(math.abs(r.getAs[Double]("t_stat") - 2.0 * math.sqrt(3.0)) < 1e-5)
    // identical diffs -> zero variance -> sd/t null
    val z = run(Seq(
      (1L, "purchase", 11.0), (1L, "click", 10.0),
      (2L, "purchase", 12.0), (2L, "click", 11.0)))
    assert(z.getAs[Double]("mean_diff") == 1.0)
    assert(z.isNullAt(z.fieldIndex("sd_diff")))
    assert(z.isNullAt(z.fieldIndex("t_stat")))
  }

  test("kruskal-wallis: hand-computed no-tie H, midrank ties, and the " +
      "all-tied null guard") {
    import spark.implicits._
    def run(rows: Seq[(String, Long)]) =
      Stats.kruskalOver(rows.toDF("grp", "score")).head
    // a:{1,2} b:{3,4}: R_a=3, R_b=7 -> H = 0.6*29 - 15 = 2.4, no ties
    val clean = run(Seq("a" -> 1L, "a" -> 2L, "b" -> 3L, "b" -> 4L))
    assert(clean.getAs[Long]("k_groups") == 2 && clean.getAs[Long]("n") == 4)
    assert(clean.getAs[Double]("h_raw") == 2.4)
    assert(clean.getAs[Double]("h_stat") == 2.4) // no ties: corr = 1
    // tied pair across groups: a:{1,2} b:{2,3} -> midrank(2) = 2.5,
    // R_a = 3.5, R_b = 6.5, sum R^2/n = 27.25, H_raw = 12/20*27.25-15
    // = 1.35, corr = 1 - (2^3-2)/(4^3-4) = 0.9 -> H = 1.5
    val tied = run(Seq("a" -> 1L, "a" -> 2L, "b" -> 2L, "b" -> 3L))
    assert(math.abs(tied.getAs[Double]("h_raw") - 1.35) < 1e-9)
    assert(math.abs(tied.getAs[Double]("h_stat") - 1.5) < 1e-9)
    // all values identical: H_raw = 0 and the correction denominator
    // vanishes -> h_stat null in both engines
    val flat = run(Seq("a" -> 5L, "a" -> 5L, "b" -> 5L, "b" -> 5L))
    assert(flat.getAs[Double]("h_raw") == 0.0)
    assert(flat.isNullAt(flat.fieldIndex("h_stat")))
  }

  test("outlier-iqr: planted far points land outside the fences, " +
      "clean bulk stays inside") {
    import spark.implicits._
    // bulk 1..99 (q1=25.5, q3=74.5, iqr=49, fences [-48, 148]) plus
    // one point far out each side
    val rows = (1 to 99).map(i => ("t", i.toDouble)) ++
      Seq(("t", -1000.0), ("t", 1000.0))
    val r = Stats.outlierIqrOver(rows.toDF("grp", "v")).head
    assert(r.getAs[Long]("n") == 101)
    assert(r.getAs[Long]("n_out_lo") == 1 && r.getAs[Long]("n_out_hi") == 1)
    assert(r.getAs[Double]("lo_fence") < 0 &&
      r.getAs[Double]("hi_fence") > 100)
    assert(r.getAs[Double]("iqr") > 0)
    assert(math.abs(r.getAs[Double]("out_rate") - 2.0 / 101) < 1e-6)
  }

  test("simpson: planted textbook reversal flags the opposing stratum " +
      "and only it") {
    import spark.implicits._
    // A: hi {100} vs lo {90 x5} -> +10; B: hi {10 x5} vs lo {20} -> -10
    // pooled: hi mean 25 vs lo mean 78.33 -> negative => A flips
    val rows = Seq(("A", true, 100.0)) ++
      Seq.fill(5)(("A", false, 90.0)) ++
      Seq.fill(5)(("B", true, 10.0)) ++ Seq(("B", false, 20.0))
    val out = Stats.simpsonOver(rows.toDF("stratum", "hi", "v")
        .select(col("stratum"), col("hi"),
          col("v").cast("decimal(18,2)").as("v")))
      .collect().map(r => r.getAs[String]("stratum") -> r).toMap
    assert(out("A").getAs[Double]("diff") == 10.0)
    assert(out("B").getAs[Double]("diff") == -10.0)
    assert(out("ALL").getAs[Double]("diff") < 0)
    assert(out("A").getAs[Boolean]("flips_overall"))
    assert(!out("B").getAs[Boolean]("flips_overall"))
    assert(!out("ALL").getAs[Boolean]("flips_overall"))
    assert(out("ALL").getAs[Long]("n_hi") == 6 &&
      out("ALL").getAs[Long]("n_lo") == 6)
  }

  test("mann-whitney: hand-computed U and z on disjoint, identical, " +
      "and fully-tied corpora") {
    import spark.implicits._
    def mw(a: Seq[Double], b: Seq[Double]) = Stats.mannWhitneyOver(
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("event_type", "value"),
      "a", "b").head
    // disjoint, A above B: U = 9, no ties -> sigma^2 = 3*3*7/12 = 5.25
    val disj = mw(Seq(10, 11, 12), Seq(1, 2, 3))
    assert(disj.getAs[Double]("u_stat") == 9.0)
    assert(math.abs(disj.getAs[Double]("z_stat")
      - (9.0 - 4.5) / math.sqrt(5.25)) < 1e-5)
    // identical samples: U = na*nb/2, z = 0 (tie-corrected sigma > 0)
    val same = mw(Seq(1, 2, 3), Seq(1, 2, 3))
    assert(same.getAs[Double]("u_stat") == 4.5)
    assert(same.getAs[Double]("z_stat") == 0.0)
    // every value equal: sigma^2 = 0 -> z null-guards (both engines)
    val tied = mw(Seq(5, 5), Seq(5, 5))
    assert(tied.getAs[Double]("u_stat") == 2.0)
    assert(tied.isNullAt(tied.fieldIndex("z_stat")))
    // real corpus: U consistent with its own AUC twin (U = auc*na*nb)
    val real = Stats.mannWhitney(spark, sf).head
    assert(real.getAs[Double]("u_stat") > 0)
  }

  test("BH step-up: a planted one-strong-effect family rejects exactly " +
      "that slice and the rank/threshold bookkeeping is sound") {
    import spark.implicits._
    // slice 1: huge separation; slices 2-4: identical distributions
    val rows =
      (1 to 20).flatMap(i => Seq((1L, "a", 100.0 + i % 3),
        (1L, "b", 1.0 + i % 3))) ++
      (2L to 4L).flatMap(s => (1 to 20).flatMap(i =>
        Seq((s, "a", 10.0 + i % 5), (s, "b", 10.0 + i % 5))))
    val r = Stats.fdrBhOver(rows.toDF("slice", "event_type", "value"),
      "a", "b", 0.05).cache()
    assert(r.count() == 4)
    val rej = r.filter(col("reject")).select("slice")
      .collect().map(_.getLong(0)).toSeq
    assert(rej == Seq(1L), s"rejected $rej")
    // identical slices: z = 0 exactly, p = 1-ish (poly tail at 0 ~ 1)
    assert(r.filter(col("slice") > 1 && abs(col("z_stat")) > 1e-9).isEmpty)
    // ranks are a permutation of 1..m and thresholds step up with rank
    val ranked = r.orderBy("p_rank").collect()
    assert(ranked.map(_.getAs[Long]("p_rank")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(ranked.sliding(2).forall(w =>
      w(0).getAs[Double]("bh_crit") < w(1).getAs[Double]("bh_crit")))
    r.unpersist()
    // the p polynomial itself: p(1.959964) ~ 0.05 (A&S 26.2.17)
    val p = spark.range(1).select(
      Stats.normalP2(lit(1.959964)).as("p")).head.getDouble(0)
    assert(math.abs(p - 0.05) < 2e-4, s"p=$p")
  }

  test("cliffs delta: planted dominance arithmetic (disjoint = ±1, " +
      "identical = 0) and magnitude labels") {
    import spark.implicits._
    def cd(a: Seq[Double], b: Seq[Double]) = Stats.cliffsDeltaOver(
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("event_type", "value"),
      "a", "b").head
    val up = cd(Seq(10, 11, 12), Seq(1, 2, 3))
    assert(up.getAs[Double]("delta") == 1.0 &&
      up.getAs[String]("magnitude") == "large")
    val down = cd(Seq(1, 2, 3), Seq(10, 11, 12))
    assert(down.getAs[Double]("delta") == -1.0 &&
      down.getAs[String]("magnitude") == "large")
    val same = cd(Seq(1, 2, 3), Seq(1, 2, 3))
    assert(same.getAs[Double]("delta") == 0.0 &&
      same.getAs[String]("magnitude") == "negligible")
    // hand case: a = {3, 5}, b = {1, 4}: #(a>b)=3, #(a<b)=1, nm=4
    val hand = cd(Seq(3, 5), Seq(1, 4))
    assert(hand.getAs[Double]("delta") == 0.5 &&
      hand.getAs[String]("magnitude") == "large")
    // corpus: delta in [-1, 1] and consistent with the U it derives from
    val real = Stats.cliffsDelta(spark, sf).head
    val d = real.getAs[Double]("delta")
    assert(d >= -1.0 && d <= 1.0)
  }

  test("BY step-up: the harmonic shrink makes BY rejections a subset " +
      "of BH's, and c(m) is the exact harmonic number") {
    import spark.implicits._
    val rows =
      (1 to 20).flatMap(i => Seq((1L, "a", 100.0 + i % 3),
        (1L, "b", 1.0 + i % 3))) ++
      (2L to 4L).flatMap(s => (1 to 20).flatMap(i =>
        Seq((s, "a", 10.0 + i % 5), (s, "b", 10.0 + i % 5))))
    val df = rows.toDF("slice", "event_type", "value")
    val by = Stats.fdrByOver(df, "a", "b", 0.05).cache()
    val bh = Stats.fdrBhOver(df, "a", "b", 0.05)
    val byRej = by.filter(col("reject")).select("slice")
      .collect().map(_.getLong(0)).toSet
    val bhRej = bh.filter(col("reject")).select("slice")
      .collect().map(_.getLong(0)).toSet
    assert(byRej.subsetOf(bhRej), s"BY $byRej not within BH $bhRej")
    assert(byRej == Set(1L), s"planted strong effect must survive BY: $byRej")
    // c(4) = 1 + 1/2 + 1/3 + 1/4 exactly (same left fold)
    val cm = by.select("c_m").head.getDouble(0)
    assert(cm == (((0.0 + 1.0) + 1.0 / 2) + 1.0 / 3) + 1.0 / 4, s"c_m=$cm")
    // BY criticals sit strictly below BH's at every rank
    val crits = by.select("p_rank", "by_crit").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    bh.select("p_rank", "bh_crit").collect().foreach { r =>
      assert(crits(r.getLong(0)) < r.getDouble(1))
    }
    by.unpersist()
    // real corpus: 24 slices, reject flags consistent with kstar rule
    val real = Stats.fdrBy(spark, sf).cache()
    assert(real.count() == 24)
    assert(real.filter(col("reject") && col("p").isNull).isEmpty)
    real.unpersist()
  }

  test("post-stratification: a mix-imbalanced null effect fools the " +
      "naive diff and corrects to exactly 0; the curve key's power " +
      "rises with lift") {
    import spark.implicits._
    // stratum 1: treat-heavy (30 vs 10), everyone worth 10
    // stratum 2: ctrl-heavy (10 vs 30), everyone worth 20
    // per-stratum arm means are IDENTICAL -> true effect 0, but the
    // naive pooled diff reads negative (treat overweights stratum 1)
    val rows =
      (1 to 30).map(_ => (1L, true, 10.0)) ++
      (1 to 10).map(_ => (1L, false, 10.0)) ++
      (1 to 10).map(_ => (2L, true, 20.0)) ++
      (1 to 30).map(_ => (2L, false, 20.0))
    val r = Stats.postStratifiedOver(rows.toDF("h", "grp", "value")).head
    assert(r.getAs[Double]("diff_strat") == 0.0,
      s"stratified diff ${r.getAs[Double]("diff_strat")}")
    assert(r.getAs[Double]("diff_naive") < -4.9,
      s"naive diff should read the mix bias: ${r.getAs[Double]("diff_naive")}")
    // corpus: report exists, se columns positive
    val real = Stats.postStratified(spark, sf).head
    assert(real.getAs[Double]("se_strat") > 0 &&
      real.getAs[Double]("se_naive") > 0)
    // power curve: monotone in lift, inside (0, 1)
    val pc = Stats.powerCurve(spark, sf).orderBy("lift_rel").collect()
    assert(pc.length == 4)
    val ps = pc.map(_.getAs[Double]("power"))
    assert(ps.forall(p => p > 0.0 && p < 1.0))
    assert(ps.sliding(2).forall(w => w(0) <= w(1) + 1e-12),
      s"power not monotone in lift: ${ps.mkString(", ")}")
  }

  test("Holm step-down: the planted strong effect is rejected, Holm " +
      "rejections are a subset of BH's, and the walk stops at the " +
      "first failure") {
    import spark.implicits._
    val rows =
      (1 to 20).flatMap(i => Seq((1L, "a", 100.0 + i % 3),
        (1L, "b", 1.0 + i % 3))) ++
      (2L to 4L).flatMap(s => (1 to 20).flatMap(i =>
        Seq((s, "a", 10.0 + i % 5), (s, "b", 10.0 + i % 5))))
    val df = rows.toDF("slice", "event_type", "value")
    val hm = Stats.holmOver(df, "a", "b", 0.05).cache()
    val hmRej = hm.filter(col("reject")).select("slice")
      .collect().map(_.getLong(0)).toSet
    assert(hmRej == Set(1L), s"Holm rejected $hmRej")
    val bhRej = Stats.fdrBhOver(df, "a", "b", 0.05)
      .filter(col("reject")).select("slice")
      .collect().map(_.getLong(0)).toSet
    assert(hmRej.subsetOf(bhRej))
    // step-down semantics: reject flags are a PREFIX of the rank walk
    val flags = hm.orderBy("p_rank").collect().map(_.getAs[Boolean]("reject"))
    assert(!flags.sliding(2).exists(w => !w(0) && w(1)),
      s"rejections not a rank prefix: ${flags.mkString(",")}")
    hm.unpersist()
    // corpus: 24 slices, criticals rise with rank (alpha/(m-k+1))
    val real = Stats.holm(spark, sf).orderBy("p_rank").collect()
    assert(real.length == 24)
    assert(real.sliding(2).forall(w =>
      w(0).getAs[Double]("holm_crit") <= w(1).getAs[Double]("holm_crit")))
  }

  test("mSPRT: always-valid p never increases across looks, a planted " +
      "separation stops, identical arms never do") {
    import spark.implicits._
    def mk(a: Seq[Double], b: Seq[Double]) = {
      val rows = (for { h <- 0 until 10; v <- a } yield (h.toLong, "a", v)) ++
        (for { h <- 0 until 10; v <- b } yield (h.toLong, "b", v))
      Stats.msprtOver(rows.toDF("h", "event_type", "value"), "a", "b", 0.5)
        .orderBy("look_hour").collect()
    }
    val sep = mk(Seq(10.0, 10.5, 11.0, 9.5), Seq(1.0, 1.5, 0.5, 1.2))
    assert(sep.last.getAs[Boolean]("stopped"),
      "a 9-unit planted separation must stop the test")
    val ps = sep.map(_.getAs[Double]("p_always_valid"))
    assert(ps.sliding(2).forall(w => w(1) <= w(0) + 1e-12),
      s"always-valid p increased: ${ps.mkString(", ")}")
    val nul = mk(Seq(5.0, 6.0, 4.0, 5.5), Seq(5.0, 6.0, 4.0, 5.5))
    assert(nul.forall(r => !r.getAs[Boolean]("stopped")),
      "identical arms must never stop")
    assert(nul.forall(_.getAs[Double]("p_always_valid") == 1.0))
    // corpus: one row per look, p in (0, 1]
    val real = Stats.msprt(spark, sf).collect()
    assert(real.length == 24)
    real.foreach { r =>
      val p = r.getAs[Double]("p_always_valid")
      assert(p > 0.0 && p <= 1.0)
    }
  }

  test("event study: a planted post-period treatment lift reads as " +
      "delta = lift after the event and exactly 0 before") {
    import spark.implicits._
    import java.sql.Timestamp
    def treated(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s"es1:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      hex.charAt(0) < '8'
    }
    def ts(day: Int): Timestamp = Timestamp.valueOf(
      java.time.LocalDate.of(2024, 5, 1).plusDays(day).atStartOfDay)
    // every user active days 0..22; the operator's event date lands at
    // day 15; treated users gain +10 from day 15 on
    val rows = for { u <- 0L until 40L; day <- 0 to 22 } yield
      (u, ts(day), if (day >= 15 && treated(u)) 20.0 else 10.0)
    val r = Stats.eventStudyOver(rows.toDF("user_id", "ts", "value"), 7)
      .orderBy("rel_day").collect()
    assert(r.length == 15)
    r.foreach { row =>
      val rel = row.getLong(0)
      val delta = row.getAs[Double]("delta")
      if (rel < 0) assert(delta == 0.0, s"pre-period delta $delta at $rel")
      else assert(delta == 10.0, s"post-period delta $delta at $rel")
      assert(row.getLong(1) > 0 && row.getLong(2) > 0)
    }
    // corpus null experiment: the window fills and deltas are defined
    val real = Stats.eventStudy(spark, sf).collect()
    assert(real.length == 15)
    assert(real.forall(x => !x.isNullAt(x.fieldIndex("delta"))))
  }

  test("seasonal strength: a pure day-of-week signal scores 1, a " +
      "dow-free ramp scores low, the report stays in [0,1] on the " +
      "corpus") {
    import spark.implicits._
    import java.sql.Date
    // 4 exact weeks: y depends ONLY on dow -> within-dow variance 0
    val pure = (0 until 28).map(i =>
      ("t", Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        10L + (i % 7) * 5L)).toDF("event_type", "day", "y")
    val ps = Stats.seasonalStrengthOver(pure).head
    assert(ps.getAs[Double]("seasonal_strength") == 1.0 &&
      ps.getAs[Double]("ss_resid") == 0.0)
    // a linear ramp has most variance WITHIN dow cells -> low strength
    val ramp = (0 until 28).map(i =>
      ("t", Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        i.toLong)).toDF("event_type", "day", "y")
    assert(Stats.seasonalStrengthOver(ramp).head
      .getAs[Double]("seasonal_strength") < 0.2)
    val r = Stats.seasonalStrength(spark, sf).cache()
    assert(r.count() ==
      Tables.events(spark, sf).select("event_type").distinct.count())
    r.collect().foreach { row =>
      val s = row.getAs[Double]("seasonal_strength")
      assert(s >= 0.0 && s <= 1.0, s"strength $s out of range")
      assert(row.getAs[Double]("ss_resid") <=
        row.getAs[Double]("ss_total") + 1e-6)
    }
    r.unpersist()
  }

  test("seasonal anomaly: top-k per type with sound rank bookkeeping " +
      "and the adjustment really divides by the decompose index") {
    val r = Stats.seasonalAnomaly(spark, sf).cache()
    val types = Tables.events(spark, sf).select("event_type").distinct.count()
    assert(r.count() == 3 * types, s"${r.count()} rows for $types types")
    // ranks are 1..3 per type and |rz| is non-increasing down the rank
    assert(r.groupBy("event_type").agg(collect_list("rnk").as("rs"))
      .filter(array_sort(col("rs")) =!= array(lit(1L), lit(2L), lit(3L)))
      .isEmpty)
    val byType = r.orderBy("event_type", "rnk").collect()
      .grouped(3).toSeq
    assert(byType.forall(g => math.abs(g(0).getAs[Double]("rz")) >=
      math.abs(g(2).getAs[Double]("rz"))))
    // adj * sidx ≈ y: the adjustment is the decompose index, not some
    // other normalizer (indices re-derived rounded; tolerance covers
    // the double rounding on both sides)
    val idx = Stats.seasonalDecompose(spark, sf)
      .select(col("event_type"), col("dow"), col("seasonal_index"))
    val joined = r.withColumn("dow",
        dayofweek(to_date(col("day"))).cast("long"))
      .join(idx, Seq("event_type", "dow"))
      .withColumn("back", col("adj") * col("seasonal_index"))
    assert(joined.filter(
      abs(col("back") - col("y")) > lit(0.01) * col("y")).isEmpty)
    r.unpersist()
  }

  test("QTE: a planted constant shift reports that shift at every " +
      "probe quantile") {
    import spark.implicits._
    val base = (1 to 100).map(_.toDouble)
    val planted = (base.map(v => ("b", v)) ++ base.map(v => ("a", v + 5)))
      .toDF("event_type", "value")
    val r = Stats.qteOver(planted, "a", "b").cache()
    assert(r.count() == Stats.QteProbs.size)
    assert(r.filter(abs(col("qte") - 5.0) > 1e-9).isEmpty)
    // quantiles are monotone in p on the real corpus
    val real = Stats.qte(spark, sf).orderBy("p").collect()
    assert(real.sliding(2).forall(w =>
      w(0).getAs[Double]("q_a") <= w(1).getAs[Double]("q_a") &&
      w(0).getAs[Double]("q_b") <= w(1).getAs[Double]("q_b")))
    r.unpersist()
  }

  test("join pre-flight: the decision matrix picks broadcast/salt/plain " +
      "on planted workloads and every branch computes the same answer") {
    import spark.implicits._
    import graft.operators.JoinPlanner
    def mk(rows: Seq[(Long, Long, String, Double)]) =
      rows.toDF("user_id", "event_id", "event_type", "value")
    // tiny build side -> broadcast, and the executed plan really is one
    val tiny = mk((1L to 5L).flatMap(u => Seq(
      (u, u * 10, "click", 1.0), (u, u * 10 + 1, "purchase", 1.0))))
    val b = JoinPlanner.joinPreflightOver(tiny, "click", "purchase")
    assert(b.head().getString(0) == "broadcast")
    assert(b.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // >1000 build keys with one dominant key -> salt
    val skewRows = (1L to 1200L).flatMap(u => Seq(
        (u, u * 10, "click", 1.0), (u, u * 10 + 1, "purchase", 1.0))) ++
      (1L to 40L).flatMap(i => Seq(
        (7L, 100000L + i, "click", 1.0), (7L, 200000L + i, "purchase", 1.0)))
    val sk = mk(skewRows)
    val saltRow = JoinPlanner.joinPreflightOver(sk, "click", "purchase").head()
    assert(saltRow.getString(0) == "salt")
    // >1000 uniform keys -> plain
    val uni = mk((1L to 1200L).flatMap(u => Seq(
      (u, u * 10, "click", 1.0), (u, u * 10 + 1, "purchase", 1.0))))
    val plainRow = JoinPlanner.joinPreflightOver(uni, "click", "purchase").head()
    assert(plainRow.getString(0) == "plain")
    // branch-independence: the salted execution's numbers equal a plain
    // replay of the same workload
    val replay = sk.filter(col("event_type") === "click")
      .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
      .join(sk.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("cb")), "user_id")
      .agg(count(lit(1)).as("n_joined"), sum("cb").as("total_pairs"),
        sum((col("v") * col("cb")).cast("decimal(38,2)"))
          .cast("double").as("weighted_value"))
      .head()
    assert(saltRow.getLong(saltRow.fieldIndex("n_joined")) == replay.getLong(0))
    assert(saltRow.getLong(saltRow.fieldIndex("total_pairs")) == replay.getLong(1))
    assert(saltRow.getDouble(saltRow.fieldIndex("weighted_value")) == replay.getDouble(2))
  }

  test("seasonal-naive backtest: forecast is the actual from one season " +
      "earlier, holdout covers the horizon, MAE averages the errors") {
    val f = Stats.forecastSnaive(spark, sf, season = 7, horizon = 7).cache()
    // 7 holdout days per type, every forecast non-null
    assert(f.groupBy("event_type").count().filter(col("count") =!= 7L)
      .isEmpty)
    assert(f.filter(col("forecast").isNull).isEmpty)
    // replay: join the raw daily rollup at day - 7
    val daily = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("a"))
    val rep = f.join(daily
        .select(col("event_type"), date_add(col("day"), 7).as("day"),
          col("a")),
      Seq("event_type", "day"))
    assert(rep.filter(col("forecast") =!= col("a")).isEmpty)
    assert(f.filter(col("abs_err") =!=
      abs(col("actual") - col("forecast"))).isEmpty)
    // MAE: per-type mean of the holdout errors, rounded like the op
    val mae = f.groupBy("event_type")
      .agg(round(avg(col("abs_err")), 6).as("m"))
    assert(f.join(mae, "event_type").filter(col("mae") =!= col("m"))
      .isEmpty)
    f.unpersist()
  }

  test("seasonal decomposition: 7 weekday cells per type, day counts " +
      "tile the month, and count-weighted indices average to 1") {
    val d = Stats.seasonalDecompose(spark, sf).cache()
    assert(d.groupBy("event_type").count().filter(col("count") =!= 7L)
      .isEmpty)
    val nDays = graft.Tables.events(spark, sf)
      .select(to_date(date_trunc("DAY", col("ts")))).distinct().count()
    assert(d.groupBy("event_type").agg(sum(col("n_days")).as("s"))
      .filter(col("s") =!= nDays).isEmpty)
    // Σ n_days·dow_mean / Σ n_days = overall mean ⇒ weighted index ≈ 1
    val w = d.groupBy("event_type")
      .agg((sum(col("n_days") * col("seasonal_index"))
        / sum(col("n_days"))).as("wavg"))
    assert(w.filter(abs(col("wavg") - 1.0) > 1e-4).isEmpty)
    d.unpersist()
  }

  test("forecast eval: per-type MAEs equal the two gated backtests and " +
      "the winner column is the comparison") {
    val e = Stats.forecastEval(spark, sf).cache()
    val sn = Stats.forecastSnaive(spark, sf)
      .groupBy("event_type").agg(min(col("mae")).as("m1"))
    val hw = Stats.holtForecast(spark, sf)
      .groupBy("event_type").agg(min(col("mae")).as("m2"))
    val j = e.join(sn, "event_type").join(hw, "event_type")
    assert(j.filter(col("mae_snaive") =!= col("m1")
      || col("mae_holt") =!= col("m2")).isEmpty)
    assert(e.filter(
      (col("mae_holt") < col("mae_snaive") && col("winner") =!= "holt") ||
      (col("mae_holt") > col("mae_snaive") && col("winner") =!= "snaive") ||
      (col("mae_holt") === col("mae_snaive") && col("winner") =!= "tie"))
      .isEmpty)
    e.unpersist()
  }

  test("bootstrap effect CI: point diff equals the direct mean contrast, " +
      "interval ordered, arm sizes match") {
    val r = Stats.bootstrapDiff(spark, sf).head()
    val ev = graft.Tables.events(spark, sf)
    def arm(t: String) = ev.filter(col("event_type") === t)
      .agg(count(lit(1)), sum(
        (col("value").cast("decimal(18,2)") * 100).cast("long"))).head()
    val (pa, pb) = (arm("purchase"), arm("click"))
    assert(r.getLong(0) == pa.getLong(0) && r.getLong(1) == pb.getLong(0))
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ma = r9((pa.getLong(1).toDouble / 100.0) / pa.getLong(0))
    val mb = r9((pb.getLong(1).toDouble / 100.0) / pb.getLong(0))
    assert(r.getDouble(2) == r9(ma - mb), s"${r.getDouble(2)} vs ${ma - mb}")
    assert(r.getDouble(3) <= r.getDouble(4))
  }

  test("SRM guardrail: groups tile the population, chi2 recomputes, and " +
      "the healthy md5 split is not flagged") {
    val r = Stats.abSrm(spark, sf).head()
    val (na, nb, nt) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(na + nb == nt)
    assert(nt == graft.Tables.events(spark, sf)
      .select("user_id").distinct().count())
    val e = nt.toDouble / 2.0
    val chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == r6(chi2))
    assert(!r.getBoolean(4), s"healthy split flagged: chi2=$chi2")
  }

  test("Holt forecast: the aggregate fold replays exactly in Scala, and " +
      "forecasts are linear in the horizon with slope b") {
    val out = Stats.holtForecast(spark, sf, horizon = 7).cache()
    assert(out.groupBy("event_type").count()
      .filter(col("count") =!= 7L).isEmpty)
    // replay: collect the training series per type and fold in Scala
    // with the identical expression order — doubles must match EXACTLY
    val daily = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y")).cache()
    val cut = daily.agg(date_sub(max(col("day")), 6).as("c")).head().getDate(0)
    val series = daily.filter(col("day") < lit(cut))
      .orderBy("event_type", "day")
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fc = out.orderBy("event_type", "day").collect()
    fc.groupBy(_.getString(0)).foreach { case (et, rows) =>
      val ys = series(et)
      var l = ys.head.toDouble; var b = 0.0
      ys.tail.foreach { y =>
        val l2 = (y + l + b) / 2.0
        b = (l2 - l) / 2.0 + b / 2.0; l = l2
      }
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getDouble(3) == r6(l + (i + 1).toDouble * b),
          s"$et h=${i + 1}")
      }
    }
    out.unpersist(); daily.unpersist()
  }

  test("Holt-Winters: the seasonal-queue fold replays exactly in Scala " +
      "and the forecast adds the right seasonal slot") {
    val out = Stats.holtWinters(spark, sf, horizon = 7).cache()
    assert(out.groupBy("event_type").count()
      .filter(col("count") =!= 7L).isEmpty)
    val daily = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y")).cache()
    val cut = daily.agg(date_sub(max(col("day")), 6).as("c")).head().getDate(0)
    val series = daily.filter(col("day") < lit(cut))
      .orderBy("event_type", "day")
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fc = out.orderBy("event_type", "day").collect()
    fc.groupBy(_.getString(0)).foreach { case (et, rows) =>
      val ys = series(et)
      val l0 = ys.take(7).sum.toDouble / 7.0
      var l = l0; var b = 0.0
      var s = ys.take(7).map(_.toDouble - l0).toVector
      ys.drop(7).foreach { y =>
        val l2 = (y - s(0) + l + b) / 2.0
        val b2 = (l2 - l) / 2.0 + b / 2.0
        val sn = (y - l2) / 2.0 + s(0) / 2.0
        s = s.tail :+ sn; l = l2; b = b2
      }
      rows.sortBy(_.getDate(1).toString).zipWithIndex.foreach {
        case (r, i) =>
          assert(r.getDouble(3) == r6(l + (i + 1).toDouble * b + s(i)),
            s"$et h=${i + 1}")
      }
    }
    out.unpersist(); daily.unpersist()
  }

  test("Holt-Winters: a type with under one season of training days is " +
      "dropped, matching the oracle's silent drop, not crashed on") {
    import spark.implicits._
    val dir = TempDirs.create("graft_hw_short").toString
    // steady: 20 daily events (13 training days at horizon=7);
    // late: first seen 5 days before the cut — too short to seed s0
    val rows = (0 until 20).map(d =>
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 08:00:00"),
        1L, "steady", 1.0, "{}")) ++
      (8 until 20).map(d =>
        (100L + d, java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 09:00:00"),
          2L, "late", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.holtWinters(spark, dir, horizon = 7).cache()
    assert(out.filter(col("event_type") === "late").isEmpty,
      "short-series type must be dropped, not forecast")
    assert(out.filter(col("event_type") === "steady").count() == 7L)
    out.unpersist()
  }

  test("Holt-Winters: a type with EXACTLY one season of training days " +
      "is kept at seed state — forecast(h) = l0 + s0[h] = y_h") {
    // the ==7 boundary the oracle's recursion defines: the seed row
    // (t=7) IS tmax, so the type survives with zero fold steps and
    // the h-step forecast collapses to the h-th training value —
    // l0 + h·0 + (y_h − l0). Spark's size(arr) >= 7 filter must
    // agree, else the gate diverges exactly at the boundary.
    import spark.implicits._
    val dir = TempDirs.create("graft_hw_boundary").toString
    var id = 0L
    def burst(day: Int, n: Int, typ: String) = (0 until n).map { _ =>
      id += 1
      (id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 08:00:00"),
        1L, typ, 1.0, "{}")
    }
    // steady spans all 20 days → cut = Jan 14; boundary trains on
    // Jan 7..13 (exactly 7 days, y = 1..7) and holds out Jan 14..20
    val rows = (1 to 20).flatMap(d => burst(d, 1, "steady")) ++
      (7 to 13).flatMap(d => burst(d, d - 6, "boundary")) ++
      (14 to 20).flatMap(d => burst(d, 2, "boundary"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.holtWinters(spark, dir, horizon = 7).cache()
    val fc = out.filter(col("event_type") === "boundary")
      .select("forecast").as[Double].collect().sorted.toSeq
    assert(fc == (1 to 7).map(_.toDouble),
      s"seed-state forecast must replay the training season, got $fc")
    out.unpersist()
  }

  test("CUSUM: the prefix-sum closed form replays the sequential " +
      "max(0, S+x-k) recursion exactly, and a planted shift alarms") {
    import spark.implicits._
    val dir = TempDirs.create("graft_cusum").toString
    // 10 quiet days (1 error/day), then a 5-day burst of 7/day: the
    // shift must accumulate into an alarm the per-day zscore missed
    var id = 0L
    val rows = (1 to 15).flatMap { d =>
      val nerr = if (d <= 10) 1 else 7
      (0 until nerr).map { _ => id += 1
        (id, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 08:00:00"),
          1L, "error", 1.0, "{}")
      } :+ { id += 1
        (id, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 09:00:00"),
          1L, "view", 1.0, "{}") }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.cusum(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // replay the SEQUENTIAL recursion in Scala — the closed form's
    // correctness certificate
    val errs = (1 to 15).map(d => if (d <= 10) 1L else 7L)
    val kMicro = (2L * (errs.sum * 1000000L) + 15L) / (2L * 15L)
    var s = 0L
    errs.zipWithIndex.foreach { case (e, i) =>
      s = math.max(0L, s + e * 1000000L - kMicro)
      val day = f"2024-03-${i + 1}%02d"
      val (gotE, gotS, gotA) = out(day)
      assert(gotE == e && gotS == s,
        s"$day: closed form S=$gotS, recursion S=$s")
      assert(gotA == (s > kMicro * 2), s"$day alarm diverged")
    }
    // the burst really alarms and the quiet head really does not
    assert(out("2024-03-02")._3 == false && out("2024-03-13")._3 == true)
  }

  test("IPW ATE: planted strata pin the stratum means, the sign-safe " +
      "negative overall, and the missing-arm exclusion") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ipw").toString
    // seg A: treated (even uid 2) mean 1.00, control (uid 1) mean 3.00
    //   -> ate -2.00; seg B: treated-only (uid 4) -> excluded
    Seq((1L, 1L, 3.00), (2L, 1L, 3.00),
        (3L, 2L, 1.00), (4L, 2L, 1.00),
        (5L, 4L, 9.00))
      .map { case (e, u, v) =>
        (e, java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), u,
          "purchase", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "A"), (2L, "A"), (4L, "B"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = Stats.ipwAte(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(!out.contains("B"), "a stratum missing an arm must drop")
    assert(out("A") == ((4L, 1000000L, 3000000L, -2000000L)))
    // overall = A alone: -2.00 exactly, half-up AWAY from zero on the
    // negated positive — the floor-vs-truncate divergence class the
    // sign-safe formulation exists for
    assert(out("__overall") == ((4L, 0L, 0L, -2000000L)))
  }

  test("Spearman: planted ties replay the doubled average-rank rule " +
      "and the hand-computed rho") {
    import spark.implicits._
    val dir = TempDirs.create("graft_spearman").toString
    // one type, 4 days: x = (1,2,2,3) events, y strictly increasing
    // -> doubled avg ranks u2 = (2,5,5,8), v2 = (2,4,6,8);
    //    rho = 72 / sqrt(72*80) = 0.948683 (6dp)
    var id = 0L
    val rows = Seq((1, 1, 0.10), (2, 2, 0.20), (3, 2, 0.30), (4, 3, 0.40))
      .flatMap { case (d, nx, v) =>
        (1 to nx).map { j => id += 1
          (id, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00"),
            1L, "view", if (j == 1) v * 100 else 0.0, "{}")
        }
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.spearman(spark, dir).collect()
    assert(out.length == 1 && out(0).getLong(1) == 4L)
    assert(out(0).getDouble(2) == 0.948683,
      s"rho = ${out(0).getDouble(2)}, want 0.948683")
  }

  test("partial correlation: a planted shared-trend pair collapses " +
      "under the z-control, and a pure trend null-guards") {
    import spark.implicits._
    val dir = TempDirs.create("graft_pcorr").toString
    var id = 0L
    // type 'shared': x and y BOTH ride the day trend plus independent
    // parity wiggles — raw r_xy is high only through z; type 'pure':
    // x IS the trend (r_xz = 1 -> the partial must null-guard)
    def burst(d: Int, n: Int, typ: String, v: Double) =
      (1 to n).map { j => id += 1
        (id, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00"),
          1L, typ, if (j == 1) v else 0.0, "{}")
      }
    val rows = (1 to 8).flatMap(d =>
      burst(d, d + (d % 2), "shared", (d * 10 + ((d / 2) % 2)).toDouble)) ++
      (1 to 8).flatMap(d => burst(d, d, "pure", (d * 10).toDouble))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.partialCorr(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // 'pure': x = d exactly -> r_xz = 1, (1 - r_xz^2) = 0 -> guarded
    assert(out("pure").getDouble(3) == 1.0 && out("pure").isNullAt(5),
      "a perfect trend control must null-guard the partial")
    // 'shared': replay the dag from the same integer moments in Scala
    val xs = (1 to 8).map(d => (d + d % 2).toDouble)
    val ys = (1 to 8).map(d => (d * 10 + ((d / 2) % 2)) * 100.0)
    val zs = (0 to 7).map(_.toDouble)
    def r(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.size.toDouble
      val num = n * a.zip(b).map(p => p._1 * p._2).sum - a.sum * b.sum
      val da = n * a.map(v => v * v).sum - a.sum * a.sum
      val db = n * b.map(v => v * v).sum - b.sum * b.sum
      num / math.sqrt(da * db)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (rxy, rxz, ryz) = (r(xs, ys), r(xs, zs), r(ys, zs))
    val want = r6((rxy - rxz * ryz) /
      math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))
    assert(out("shared").getDouble(5) == want,
      s"partial = ${out("shared").getDouble(5)}, replay says $want")
    // and the control genuinely matters: raw r_xy far from partial
    assert(math.abs(out("shared").getDouble(2) - want) > 0.2,
      "the planted pair should decorrelate once the trend is removed")
  }

  test("rolling correlation: a planted linear pair locks r7 = 1 on " +
      "full windows and nulls under them") {
    import spark.implicits._
    val dir = TempDirs.create("graft_rollcorr").toString
    var id = 0L
    // x = d events, y = d dollars: perfectly linear -> every FULL
    // 7-day window has r7 = 1.0; days 1..6 are under-windowed
    val rows = (1 to 10).flatMap { d =>
      (1 to d).map { j => id += 1
        (id, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00"),
          1L, "view", if (j == 1) d.toDouble else 0.0, "{}") }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.rollingCorr(spark, dir).collect()
      .map(r => r.getString(1) -> Option(r.get(4))).toMap
    (1 to 6).foreach(d =>
      assert(out(f"2024-01-$d%02d").isEmpty, s"day $d must null-guard"))
    (7 to 10).foreach(d =>
      assert(out(f"2024-01-$d%02d").contains(1.0), s"day $d r7 != 1"))
  }

  test("HHI: two planted segments pin the micro shares and the index") {
    import spark.implicits._
    val dir = TempDirs.create("graft_hhi").toString
    // A: 30.00, B: 10.00 -> shares 750000/250000 micro;
    // HHI = (3000^2 + 1000^2) / 4000^2 = 0.625
    Seq((1L, 1L, 30.00), (2L, 2L, 10.00))
      .map { case (e, u, v) => (e, java.sql.Timestamp.valueOf(
        "2024-01-01 08:00:00"), u, "purchase", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = Stats.hhi(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("A") == ((3000L, 750000L)))
    assert(out("B") == ((1000L, 250000L)))
    assert(out("__overall") == ((4000L, 625000L)))
  }

  test("McNemar: planted discordant pairs pin b, c and both chi2 forms") {
    import spark.implicits._
    val dir = TempDirs.create("graft_mcnemar").toString
    // span 01..11 -> mid = 06; pairs: u1,u2 (1,0); u3 (0,1); u4 (1,1);
    // u5 (0,0) -> b=2, c=1, chi2 = 1/3, cc = 0/3
    def e(id: Long, d: Int, u: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00"),
        u, t, 1.0, "{}")
    val rows = Seq(
      e(1, 1, 9L, "view"), e(2, 11, 9L, "view"), // pin the span
      e(3, 2, 1L, "click"), e(4, 3, 2L, "click"),
      e(5, 8, 3L, "click"),
      e(6, 2, 4L, "click"), e(7, 9, 4L, "click"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.mcnemar(spark, dir).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L,
      s"(b,c) = (${r.getLong(0)},${r.getLong(1)}), want (2,1)")
    assert(r.getDouble(2) == 0.333333 && r.getDouble(3) == 0.0)
  }

  test("weighted median: planted histograms pin the half-weight cut " +
      "and the even-split lower-median tie rule") {
    import spark.implicits._
    val dir = TempDirs.create("graft_wmed").toString
    // A: weights 1/2/1 at 1.00/2.00/3.00 → half of 4 lands on 2.00;
    // B: 1/1 at 1.00/2.00 → even split takes the LOWER value
    Seq(("A", 1.00, 1.0), ("A", 2.00, 2.0), ("A", 3.00, 1.0),
      ("B", 1.00, 1.0), ("B", 2.00, 1.0))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Stats.weightedMedian(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("A" -> ((200L, 4L)), "B" -> ((100L, 2L))))
  }

  test("target encoding: a planted brand replays the LOO+shrinkage dag " +
      "and a row's own target never enters its feature") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // order keys whose md5("<ok>-1") leads with '0' survive the 1/16
    // output sample; one non-sampled row still counts in the moments
    val sampled = Iterator.from(1)
      .map(_.toLong).filter(ok => md5hex(s"$ok-1").startsWith("0"))
      .take(3).toSeq
    val unsampled = Iterator.from(1)
      .map(_.toLong).filterNot(ok => md5hex(s"$ok-1").startsWith("0"))
      .take(1).toSeq
    val dir = TempDirs.create("graft_tenc").toString
    val rows = sampled.zip(Seq(1.00, 2.00, 3.00))
      .map { case (ok, v) => (ok, 1, 1L, v) } ++
      unsampled.map(ok => (ok, 1, 1L, 6.00))
    rows.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "B1")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Stats.targetEncoding(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("enc_loo")).toMap
    assert(out.keySet == sampled.toSet,
      s"sample filter drifted: ${out.keySet} vs $sampled")
    val sAll = 100L + 200L + 300L + 600L
    val mu = sAll.toDouble / 4.0
    def want(x: Long): Double = BigDecimal(
      ((sAll - x).toDouble + 20.0 * mu) / (4 - 1 + 20).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    sampled.zip(Seq(100L, 200L, 300L)).foreach { case (ok, x) =>
      assert(out(ok) == want(x), s"ok=$ok")
    }
    // leakage check: encodings differ per row because each excludes
    // its own target — equal-target rows would collide, these don't
    assert(out.values.toSet.size == 3)
  }

  test("WoE/IV: category recounts match, WoE replays the integer-ratio " +
      "ln difference, and IV is the decimal term sum") {
    val rows = Stats.woeIv(spark, sf).collect()
    assert(rows.length == 5)
    val o = Tables.orders(spark, sf)
    val gt = o.filter(col("o_orderstatus") === "F").count()
    val bt = o.filter(col("o_orderstatus") =!= "F").count()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var ivSum = BigDecimal(0)
    rows.foreach { r =>
      val (g, b) = (r.getLong(1), r.getLong(2))
      val woe = r6(math.log(((g + 1) * (bt + 5)).toDouble)
        - math.log(((b + 1) * (gt + 5)).toDouble))
      assert(r.getAs[Double]("woe") == woe)
      val term = r6(((g + 1).toDouble / (gt + 5) -
        (b + 1).toDouble / (bt + 5)) * woe)
      assert(r.getAs[Double]("iv_term") == term)
      ivSum += BigDecimal(term)
    }
    rows.foreach(r =>
      assert(r.getAs[Double]("iv") == r6(ivSum.toDouble)))
  }

  test("Mahalanobis: a planted joint outlier ranks first and its d2 " +
      "replays the covariance dag exactly") {
    import spark.implicits._
    val dir = TempDirs.create("graft_mahala").toString
    // six points on a loose square + one joint outlier: high value AT
    // AN UNUSUAL TIME — each marginal alone is less extreme
    val pts = Seq(
      (1L, 100L, 36000L), (2L, 200L, 36100L), (3L, 100L, 36200L),
      (4L, 200L, 36300L), (5L, 150L, 36050L), (6L, 150L, 36250L),
      (7L, 400L, 14400L))
    pts.map { case (id, cents, sec) =>
      (id, java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2024, 4, 1, 0, 0, 0).plusSeconds(sec)),
        1L, "t", cents.toDouble / 100.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.mahalanobis(spark, dir).orderBy("rnk").collect()
    assert(out.length == 5)
    assert(out.head.getLong(1) == 7L, s"outlier not rank 1: ${out.head}")
    // replay the moment -> covariance -> distance dag in Scala
    val n = pts.length.toDouble
    val sx = pts.map(_._2).sum.toDouble; val sy = pts.map(_._3).sum.toDouble
    val sxx = pts.map(p => p._2 * p._2).sum.toDouble
    val syy = pts.map(p => p._3 * p._3).sum.toDouble
    val sxy = pts.map(p => p._2 * p._3).sum.toDouble
    val mx = sx / n; val my = sy / n
    val vxx = sxx / n - mx * mx; val vyy = syy / n - my * my
    val vxy = sxy / n - mx * my
    val det = vxx * vyy - vxy * vxy
    val (dx, dy) = (400.0 - mx, 14400.0 - my)
    val want = BigDecimal(
      (dx * dx * vyy - 2.0 * dx * dy * vxy + dy * dy * vxx) / det)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getAs[Double]("d2") == want)
  }

  test("cross-correlation: a planted one-day-lead corpus peaks at " +
      "lag +1 and the lag grid is two-sided") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ccf").toString
    // clicks spike on days 3/7/11; purchases spike one day LATER
    val t = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    val rows = (1 to 14).flatMap { d =>
      val clicks = if (Set(3, 7, 11)(d)) 9 else 1
      val buys = if (Set(4, 8, 12)(d)) 9 else 1
      (1 to clicks).map(i => (d * 100L + i, t(d, 8), 1L, "click")) ++
        (1 to buys).map(i => (d * 1000L + i, t(d, 9), 1L, "purchase"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.crossCorr(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("ccf")).toMap
    assert(out.keySet == (-7L to 7L).toSet)
    val best = out.maxBy(_._2)
    assert(best._1 == 1L, s"peak at ${best._1}, want +1: $out")
    assert(best._2 > 0.8)
    // the echo direction is anti-correlated or near zero, never the peak
    assert(out(-1L) < out(1L))
  }

  test("funnel time: planted journeys pin the per-step gaps, out-of-order " +
      "pairs are excluded, single-value quantiles are the value") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ftime").toString
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      // u1: full ordered journey — 600 s and 1200 s gaps
      (1L, t("2024-01-01 10:00:00"), 1L, "signup"),
      (2L, t("2024-01-01 10:10:00"), 1L, "click"),
      (3L, t("2024-01-01 10:30:00"), 1L, "purchase"),
      // u2: click BEFORE signup — excluded from signup>click
      (4L, t("2024-01-02 09:00:00"), 2L, "click"),
      (5L, t("2024-01-02 10:00:00"), 2L, "signup"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.funnelTime(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out == Map(
      "signup>click" -> ((1L, 600.0, 600.0)),
      "click>purchase" -> ((1L, 1200.0, 1200.0)),
      "signup>purchase" -> ((1L, 1800.0, 1800.0))))
  }

  test("Theil index: planted two-nation corpus replays the ln-term fold " +
      "and the decomposition is additive") {
    import spark.implicits._
    val dir = TempDirs.create("graft_theil").toString
    Seq((1L, "ALPHA"), (2L, "BETA")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // ALPHA: 10.00 + 30.00 (unequal), BETA: 20.00 + 20.00 (equal)
    Seq((1L, 10.00), (2L, 30.00), (3L, 20.00), (4L, 20.00))
      .zipWithIndex.map { case ((c, v), i) => (i.toLong, c, v) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Stats.theilIndex(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // within ALPHA: x = 1000/3000 cents, terms replayed on the op's dag
    val twAlpha = r6((BigDecimal(r9(1000.0 / 4000.0 *
      math.log(1000.0 * 2 / 4000.0))) +
      BigDecimal(r9(3000.0 / 4000.0 * math.log(3000.0 * 2 / 4000.0))))
      .toDouble)
    assert(out("ALPHA").getAs[Double]("theil_within") == twAlpha)
    // BETA is perfectly equal: both terms ln(1) = 0
    assert(out("BETA").getAs[Double]("theil_within") == 0.0)
    // equal nation totals (4000 cents each): between-term is 0
    assert(out("ALPHA").getAs[Double]("theil_between") == 0.0)
    assert(out("ALPHA").getAs[Double]("rev_share") == 0.5)
    // additivity: T_total ≈ T_between + Σ share·T_within
    val tt = out("ALPHA").getAs[Double]("theil_total")
    assert(math.abs(tt - (0.0 + 0.5 * twAlpha + 0.5 * 0.0)) < 1e-5,
      s"total=$tt within=$twAlpha")
  }

  test("price elasticity: a planted exact power-law brand recovers its " +
      "exponent and corr = -1") {
    import spark.implicits._
    val dir = TempDirs.create("graft_elastic").toString
    // q = k / p²  →  ln q = ln k − 2 ln p: exact elasticity −2
    // (the rounded ln values land on the line only approximately —
    //  assert via the same rounded replay); l_extendedprice = p·q
    Seq((1L, 16.0, 16.0), (2L, 8.0, 4.0), (3L, 4.0, 1.0))
      .toDF("l_partkey", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "B1"), (2L, "B1"), (3L, "B1"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Stats.priceElasticity(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // replay the moment fold on the rounded ln pairs
    val pts = Seq((1.0, 16.0), (2.0, 4.0), (4.0, 1.0))
      .map { case (p, q) =>
        (BigDecimal(r6(math.log(p * q / q))), BigDecimal(r6(math.log(q)))) }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum.toDouble; val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(t => t._1 * t._2).sum.toDouble
    val sxx = pts.map(t => t._1 * t._1).sum.toDouble
    val syy = pts.map(t => t._2 * t._2).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(r.getAs[Double]("elasticity") == r6(slope))
    assert(math.abs(r.getAs[Double]("elasticity") - (-2.0)) < 1e-4)
    assert(math.abs(r.getAs[Double]("corr_ln") - (-1.0)) < 1e-6)
  }

  test("Kaplan-Meier: risk sets telescope, censoring only at the horizon, " +
      "and the curve equals the direct product recomputation") {
    val rows = Stats.survivalKm(spark, sf, horizon = 7)
      .orderBy("t").collect()
    assert(rows.nonEmpty)
    // risk telescoping + total coverage
    val total = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.head.getLong(1) == total)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) ==
        a.getLong(1) - a.getLong(2) - a.getLong(3))
      assert(b.getLong(0) > a.getLong(0))
    case _ => ()
    }
    // censoring fires only at the horizon bucket
    assert(rows.dropRight(1).forall(_.getLong(3) == 0L))
    // direct KM product, replaying the op's rounding discipline
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var lnSum = BigDecimal(0)
    rows.foreach { r =>
      val (nRisk, d) = (r.getLong(1), r.getLong(2))
      if (d > 0)
        lnSum += BigDecimal(r6(math.log(math.max(nRisk - d, 1L).toDouble)
          - math.log(nRisk.toDouble)))
      assert(r.getDouble(4) == r6(math.exp(lnSum.toDouble)),
        s"survival mismatch at t=${r.getLong(0)}")
    }
    // monotone non-increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(4) <= a.getDouble(4))
    case _ => ()
    }
  }

  test("KM Greenwood bands: the CI brackets the curve, se replays the " +
      "direct Greenwood recomputation, and survival matches the plain " +
      "KM key") {
    val ci = Stats.survivalKmCi(spark, sf, horizon = 7)
      .orderBy("t").collect()
    val km = Stats.survivalKm(spark, sf, horizon = 7)
      .orderBy("t").collect()
    assert(ci.length == km.length)
    ci.zip(km).foreach { case (c, k) =>
      assert(c.getDouble(4) == k.getDouble(4),
        s"survival drifted from the plain key at t=${c.getLong(0)}")
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var lnSum = BigDecimal(0)
    var gwSum = BigDecimal(0)
    ci.foreach { r =>
      val (nRisk, d) = (r.getLong(1), r.getLong(2))
      if (d > 0) {
        lnSum += BigDecimal(r6(math.log(math.max(nRisk - d, 1L).toDouble)
          - math.log(nRisk.toDouble)))
        gwSum += BigDecimal(r12(d.toDouble /
          (nRisk.toDouble * math.max(nRisk - d, 1L).toDouble)))
      }
      val s = math.exp(lnSum.toDouble)
      val se = s * math.sqrt(gwSum.toDouble)
      assert(r.getDouble(5) == r6(se), s"se mismatch at t=${r.getLong(0)}")
      assert(r.getDouble(6) <= r.getDouble(4) &&
        r.getDouble(4) <= r.getDouble(7),
        s"CI does not bracket survival at t=${r.getLong(0)}")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(7) <= 1.0)
    }
  }

  test("Lorenz/Gini: two-level rank matches the window replay, and " +
      "planted extremes hit the closed forms") {
    import spark.implicits._
    val g = Stats.lorenzGini(spark, sf).cache()
    // replay with a plain window (fine at test scale)
    val perCust = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf)
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("segment"), col("c_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy("cents", "c_custkey")
    val rep = perCust
      .withColumn("rnk", row_number().over(w).cast("long"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
        sum(col("rnk").cast("decimal(19,0)")
          * col("cents").cast("decimal(19,0)")).as("sixi"))
      .select(col("segment"),
        round(lit(2.0) * col("sixi").cast("double")
          / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("g2"))
    assert(g.join(rep, "segment").filter(col("gini") =!= col("g2")).isEmpty)
    g.unpersist()
    // planted: equal shares -> gini 0; single holder of everything
    // among n=10 -> gini = (n-1)/n = 0.9
    val eq = (1L to 10L).map(i => ("s", i, 100L)).toDF(
      "segment", "c_custkey", "cents")
    assert(Stats.lorenzGiniOver(eq).head().getDouble(3) == 0.0)
    val one = ((1L to 9L).map(i => ("s", i, 0L)) :+ (("s", 10L, 1000L)))
      .toDF("segment", "c_custkey", "cents")
    assert(Stats.lorenzGiniOver(one).head().getDouble(3) == 0.9)
  }

  test("CUPED: theta matches direct cov/var, the adjustment reduces " +
      "variance, and both variants carry users") {
    val r = Stats.cuped(spark, sf).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r.size == 2 && r("A").getLong(1) > 0 && r("B").getLong(1) > 0)
    // per-user replay
    val ev = graft.Tables.events(spark, sf)
    val cut = ev.agg(date_add(to_date(min(col("ts"))), 15).as("cut"))
    val pu = ev.crossJoin(broadcast(cut))
      .select(col("user_id"),
        when(to_date(col("ts")) < col("cut"), col("value")).otherwise(0.0)
          .as("xv"),
        when(to_date(col("ts")) >= col("cut"), col("value")).otherwise(0.0)
          .as("yv"))
      .groupBy("user_id")
      .agg(sum(col("xv")).as("x"), sum(col("yv")).as("y"))
      .collect().map(z => (z.getDouble(1), z.getDouble(2)))
    val n = pu.length.toDouble
    val (mx, my) = (pu.map(_._1).sum / n, pu.map(_._2).sum / n)
    val cov = pu.map(p => (p._1 - mx) * (p._2 - my)).sum / n
    val vx = pu.map(p => (p._1 - mx) * (p._1 - mx)).sum / n
    val theta = r("A").getDouble(4)
    assert(math.abs(theta - cov / vx) < 1e-4, s"$theta vs ${cov / vx}")
    // variance of y - theta*x must not exceed variance of y
    val vy = pu.map(p => (p._2 - my) * (p._2 - my)).sum / n
    val madj = pu.map(p => p._2 - theta * p._1).sum / n
    val vadj = pu.map { p =>
      val a = p._2 - theta * p._1 - madj; a * a
    }.sum / n
    assert(vadj <= vy, s"adjusted variance $vadj > raw $vy")
  }

  test("DiD decomposes into its four cell means and the groups tile " +
      "the user population") {
    val r = Stats.did(spark, sf).head()
    val nUsers = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(1) == nUsers)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(6) ==
      r6((r.getDouble(3) - r.getDouble(2))
        - (r.getDouble(5) - r.getDouble(4))) ||
      // cell means are themselves rounded; allow one ulp of re-rounding
      math.abs(r.getDouble(6) - ((r.getDouble(3) - r.getDouble(2))
        - (r.getDouble(5) - r.getDouble(4)))) < 2e-6)
  }

  test("power/MDE: the report is internally consistent (mde formula, " +
      "n_required round trip, positive variance)") {
    val r = Stats.powerMde(spark, sf).head()
    val (na, nb) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    val sigma = r.getDouble(3)
    assert(sigma > 0 && r.getDouble(4) > 0)
    // mde recompute from the published sigma (rounding slack only)
    val mde = 2.801585 * sigma * math.sqrt(1.0 / na + 1.0 / nb)
    assert(math.abs(r.getDouble(4) - mde) < 1e-4)
    // a 1% lift needs far more users than the pilot has when the
    // metric is noisy — sanity-direction check plus exact round trip
    val delta = r.getDouble(2) * 0.01
    val nReq = math.ceil(2.0 * sigma * sigma * (2.801585 * 2.801585)
      / (delta * delta))
    assert(math.abs(r.getLong(6).toDouble - nReq) <= 1 +
      0.01 * nReq) // sigma is rounded in the report
  }

  /** One event per (type, day) carrying the whole day's value — the
    * planted daily series the trend-test specs below share.
    */
  private def plantDaily(dirTag: String,
      series: Seq[(String, Seq[Double])]): String = {
    import spark.implicits._
    val dir = TempDirs.create(dirTag).toString
    var id = 0L
    val rows = series.flatMap { case (tpe, ys) =>
      ys.zipWithIndex.map { case (v, i) => id += 1
        (id, java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 08:00:00"),
          1L, tpe, v, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Mann–Kendall: a strictly increasing series pins S = n(n-1)/2 " +
      "and the continuity-corrected z; an all-tie series zeroes out") {
    val dir = plantDaily("graft_mk", Seq(
      "up" -> Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "flat" -> Seq(2.0, 2.0, 2.0, 2.0)))
    val out = Stats.mannKendall(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val up = out("up")
    assert(up.getLong(1) == 5L && up.getLong(2) == 10L)
    assert(up.getLong(3) == 5L * 4 * 15) // no ties: var18 = n(n-1)(2n+5)
    val z = BigDecimal(9.0 / math.sqrt(300.0 / 18.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(up.getDouble(4) == z, s"z = ${up.getDouble(4)}, want $z")
    // all-tie: S = 0, tie_term swallows the whole variance, z pinned 0
    val flat = out("flat")
    assert(flat.getLong(2) == 0L && flat.getLong(3) == 0L &&
      flat.getDouble(4) == 0.0)
  }

  test("seasonal Mann-Kendall: a weekly alternation with a slow drift " +
      "pins S = one concordance per weekday season") {
    // two weeks, alternating 5/1 pattern + 1 per week: every weekday
    // season is the increasing pair (x, x+1) -> S = 7, var18 = 7*18
    val pat = Seq(5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 5.0)
    val dir = plantDaily("graft_smk", Seq(
      "s" -> (pat ++ pat.map(_ + 1.0))))
    val r = Stats.seasonalMannKendall(spark, dir).collect()(0)
    assert(r.getLong(1) == 14L && r.getLong(2) == 7L &&
      r.getLong(3) == 126L)
    val z = BigDecimal(6.0 / math.sqrt(126.0 / 18.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == z, s"z = ${r.getDouble(4)}, want $z")
  }

  test("Kendall tau-b: the spearman plant (one x tie) pins C=5, D=0 " +
      "and the tie-corrected denominator") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ktau").toString
    // x = events/day (1,2,2,3), y strictly increasing: pairs (2,3)
    // tie on x -> C=5, D=0, n1=1 tie pair, n2=0
    var id = 0L
    val rows = Seq((1, 1, 0.10), (2, 2, 0.20), (3, 2, 0.30), (4, 3, 0.40))
      .flatMap { case (d, nx, v) =>
        (1 to nx).map { j => id += 1
          (id, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00"),
            1L, "view", if (j == 1) v * 100 else 0.0, "{}")
        }
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.kendallTau(spark, dir).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 5L && r.getLong(3) == 0L)
    val tau = BigDecimal(5.0 / math.sqrt(5.0 * 6.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == tau, s"tau_b = ${r.getDouble(4)}, want $tau")
  }

  test("Theil–Sen: the lower-median ORDER STATISTIC picks the planted " +
      "middle slope, untouched by the extreme pair") {
    val dir = plantDaily("graft_ts", Seq(
      "s" -> Seq(1.0, 2.0, 4.0, 8.0)))
    // slopes (cents/day): 100,150,200,233.33,300,400 -> element
    // (6+1) div 2 = 3 of the sorted set = 200
    val r = Stats.theilSen(spark, dir).collect()(0)
    assert(r.getLong(1) == 6L)
    assert(r.getDouble(2) == 200.0, s"slope = ${r.getDouble(2)}")
  }

  test("runs test: a perfectly alternating series pins R = N and a " +
      "two-block series pins R = 2, symmetric z") {
    val dir = plantDaily("graft_runs", Seq(
      "alt" -> Seq(2.0, 1.0, 2.0, 1.0, 2.0, 1.0),
      "block" -> Seq(2.0, 2.0, 2.0, 1.0, 1.0, 1.0)))
    val out = Stats.runsTest(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val z0 = BigDecimal(2.0 / math.sqrt(1.2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val alt = out("alt")
    assert(alt.getLong(1) == 6L && alt.getLong(2) == 3L &&
      alt.getLong(3) == 3L && alt.getLong(4) == 6L)
    assert(alt.getDouble(5) == z0, s"z = ${alt.getDouble(5)}, want $z0")
    val blk = out("block")
    assert(blk.getLong(4) == 2L && blk.getDouble(5) == -z0)
  }

  test("Brown–Forsythe Levene: planted two-group deviations replay " +
      "the doubled-integer moments and the hand-built F dag") {
    import spark.implicits._
    val dir = TempDirs.create("graft_levene").toString
    var id = 0L
    val rows = Seq(("a", 1.00), ("a", 3.00), ("a", 3.50),
      ("b", 1.00), ("b", 5.00)).map { case (t, v) => id += 1
        (id, java.sql.Timestamp.valueOf("2024-01-05 08:00:00"), 1L, t,
          v, "{}")
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.levene(spark, dir).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L)
    // group a: med 300 -> d2 = (400, 0, 100); group b: med 300 ->
    // d2 = (400, 400); replay the exact engine dag
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val ssg = (r6(500.0 * 500.0 / 3.0) + r6(320000.0)).toDouble
    val ssb = ssg - 1300.0 * 1300.0 / 5.0
    val ssw = 490000.0 - ssg
    val f = r6(3.0 * ssb / (1.0 * ssw)).toDouble
    assert(r.getDouble(2) == f, s"f_bf = ${r.getDouble(2)}, want $f")
  }

  test("Cochran's Q: a planted 3-user block table replays the " +
      "hand-computed Q and the all-same self-cancellation") {
    import spark.implicits._
    // u1 did all three (R=3: cancels in the denominator), u2 only
    // click (R=1), u3 click+view (R=2): C=(3,2,1), N=6, sumR2=14
    // -> Q = 2*(3*14' ...) = 2*(3*(9+4+1)-36)/(18-14) = 12/4 = 3.0
    val df = Seq(
      (1L, "click"), (1L, "view"), (1L, "purchase"),
      (2L, "click"),
      (3L, "click"), (3L, "view"),
      (3L, "error") // non-member action types must be ignored
    ).toDF("user_id", "event_type")
    val r = Stats.cochranQOver(df).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L &&
      r.getLong(2) == 6L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 3.0, s"q = ${r.getDouble(4)}")
  }

  test("Friedman: a consistent ordering across blocks pins the " +
      "hand-computed Q, and incomplete blocks drop") {
    import spark.implicits._
    // 3 types, days 1-2 with the SAME ordering a < b < c:
    // doubled rank sums R2 = (4, 8, 12), S4 = 32, A4 = 112, C4 = 96
    // -> Q = 2*32/16 = 4.0; day 3 misses type c -> the block drops
    val daily = Seq(
      ("a", 1, 10L), ("b", 1, 20L), ("c", 1, 30L),
      ("a", 2, 11L), ("b", 2, 21L), ("c", 2, 31L),
      ("a", 3, 12L), ("b", 3, 22L))
      .map { case (t, d, y) => (t, java.sql.Date.valueOf(f"2024-01-0$d"), y) }
      .toDF("event_type", "day", "y")
    val r = Stats.friedmanOver(daily).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L &&
      r.getLong(2) == 2L)
    assert(r.getDouble(3) == 4.0, s"q = ${r.getDouble(3)}")
  }

  test("Page–Hinkley: a flat series stays at PH = 0 until the level " +
      "shift, then alarms past lambda") {
    val dir = plantDaily("graft_ph", Seq(
      "s" -> Seq(0.10, 0.10, 0.10, 0.50)))
    // cents 10,10,10,50: deviations from the running mean are
    // 0,0,0,30 -> m = (0,0,0,30), running min 0, ph = (0,0,0,30)
    val out = Stats.pageHinkley(spark, dir, lambda = 20.0).collect()
      .sortBy(_.getString(1))
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.0, 0.0, 0.0, 30.0))
    assert(out.map(_.getBoolean(4)).toSeq ==
      Seq(false, false, false, true))
  }

  test("Croston: a planted intermittent sequence replays the " +
      "size/interval fold by hand") {
    import spark.implicits._
    // demands at months (0,2,3), sizes (8,4,12):
    //   init        z = 8,                    p = 1
    //   m=2 (gap 2) z = (4+24)/4  = 7,        p = (2+3)/4    = 1.25
    //   m=3 (gap 1) z = (12+21)/4 = 8.25,     p = (1+3.75)/4 = 1.1875
    val dem = Seq((1L, 0L, 8L), (1L, 2L, 4L), (1L, 3L, 12L))
      .toDF("part", "m", "qty")
    val r = Stats.crostonOver(dem).collect()(0)
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == 8.25 && r.getDouble(3) == 1.1875)
    val want = BigDecimal(8.25 / 1.1875)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == want, s"forecast = ${r.getDouble(4)}")
  }

  test("TOST: planted equal-mean arms inside the margin declare " +
      "equivalence with the hand-built one-sided statistics") {
    import spark.implicits._
    val dir = TempDirs.create("graft_tost").toString
    val rows = Seq(("click", 1.00), ("click", 1.20),
      ("view", 1.02), ("view", 1.18)).zipWithIndex.map {
        case ((t, v), i) =>
          (i.toLong + 1, java.sql.Timestamp.valueOf("2024-01-05 08:00:00"),
            1L, t, v, "{}")
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.tost(spark, dir).collect()(0)
    // replay the dag: va = .02, vb = .0128, d = 0,
    // se = sqrt(.0164/2... ) computed with the engine's own op order
    val (ma, mb) = (2.2 / 2.0, 2.2 / 2.0)
    val va = (2.44 - 2.0 * ma * ma) / 1.0
    val vb = (2.4328 - 2.0 * mb * mb) / 1.0
    val se = math.sqrt(va / 2.0 + vb / 2.0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(5) == r6(((ma - mb) + 0.25) / se))
    assert(r.getDouble(6) == r6((0.25 - (ma - mb)) / se))
    assert(r.getBoolean(7), "equal means within margin must be equivalent")
  }

  test("Nelson–Aalen: the cumulative hazard is nondecreasing, rides " +
      "the same life table as KM, and exp(-H) brackets S") {
    import org.apache.spark.sql.functions._
    val na = Stats.nelsonAalen(spark, sf).cache()
    val km = Stats.survivalKm(spark, sf)
    // same life table rows (t, n_risk, n_events)
    assert(na.select("t", "n_risk", "n_events").exceptAll(
      km.select("t", "n_risk", "n_events")).isEmpty)
    val rows = na.orderBy("t").collect()
    val hs = rows.map(_.getDouble(4))
    assert(hs.sliding(2).forall { case Array(a, b) => b >= a case _ => true },
      "cumulative hazard must be nondecreasing")
    // exp(-H) >= S pointwise (the classical inequality), both in (0,1]
    val j = na.join(km.select(col("t"), col("survival")), "t")
      .select(exp(-col("cum_hazard")).as("eh"), col("survival"))
      .collect()
    assert(j.forall(r => r.getDouble(0) >= r.getDouble(1) - 1e-9 &&
      r.getDouble(0) <= 1.0 && r.getDouble(1) <= 1.0))
    na.unpersist()
  }

  test("Jonckheere: a strictly increasing week of singleton groups " +
      "pins U2 and the hand-built z") {
    // 2024-01-01 is a Monday: six singleton weekday groups, y strictly
    // increasing with wd -> every pair concordant: U2 = 2*15 = 30
    val dir = plantDaily("graft_jt", Seq(
      "s" -> Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)))
    val r = Stats.jonckheere(spark, dir).collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 6L &&
      r.getLong(2) == 30L)
    val mu2 = (36.0 - 6.0) / 2
    val z = BigDecimal((30.0 - mu2) / (2.0 * math.sqrt(510.0 / 72.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == z, s"z = ${r.getDouble(3)}, want $z")
  }

  test("SPRT: the literal walk crosses the upper bound on a planted " +
      "pure-success day and retreats to continue") {
    import spark.implicits._
    val dir = TempDirs.create("graft_sprt").toString
    var id = 0L
    // day 1: 100 purchases -> llr = 100*w1 ~ 10.0 >= ln(19): accept_h1
    // day 2: +300 clicks  -> llr ~ 10.0 - 7.5 = 2.5 < ln(19): continue
    val rows =
      (1 to 100).map { _ => id += 1
        (id, java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), 1L,
          "purchase", 1.0, "{}")
      } ++ (1 to 300).map { _ => id += 1
        (id, java.sql.Timestamp.valueOf("2024-01-02 08:00:00"), 1L,
          "click", 1.0, "{}")
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.sprt(spark, dir).collect().sortBy(_.getString(0))
    assert(out(0).getString(4) == "accept_h1")
    assert(out(1).getString(4) == "continue")
    // the walk is the exact decimal literal arithmetic
    val want1 = (BigDecimal(100) * Stats.SprtW1).toDouble
    assert(out(0).getDouble(3) == want1, s"llr = ${out(0).getDouble(3)}")
    val want2 =
      (BigDecimal(100) * Stats.SprtW1 + BigDecimal(300) * Stats.SprtW0)
        .toDouble
    assert(out(1).getDouble(3) == want2)
    assert(Stats.SprtW1 > 0 && Stats.SprtW0 < 0 &&
      Stats.SprtBound > BigDecimal("2.94") &&
      Stats.SprtBound < BigDecimal("2.95"))
  }

  test("isotonic: the minimax fit pools a planted violator pair and " +
      "leaves the monotone tail untouched") {
    import spark.implicits._
    // 10 equal bins, rates (.1,.3,.2,.4,...,1.0): PAV pools bins 1-2
    // to .25, everything else is already isotonic
    val rates = Seq(0.1, 0.3, 0.2, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
    val rows = rates.zipWithIndex.flatMap { case (r, b) =>
      val pos = math.round(r * 10).toInt
      (1 to 10).map(i => (BigDecimal(b).setScale(2), i <= pos))
    }
    val scored = rows.toDF("v", "y")
      .select(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        .as("v"), col("y"))
    val out = Stats.isotonicOver(scored).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(out(0L) == 0.1 && out(1L) == 0.25 && out(2L) == 0.25 &&
      out(3L) == 0.4 && out(9L) == 1.0, s"fit = $out")
    val fits = (0L to 9L).map(out)
    assert(fits.sliding(2).forall { case Seq(a, b) => b >= a
      case _ => true }, "isotonic fit must be nondecreasing")
  }

  /** Shared planter: one parquet events dir from (type, value) rows. */
  private def plantEvents(tag: String, rows: Seq[(String, Double)])
      : String = {
    import spark.implicits._
    val dir = TempDirs.create(tag).toString
    var id = 0L
    rows.map { case (t, v) => id += 1
      (id, java.sql.Timestamp.valueOf("2024-01-05 08:00:00"), 1L, t, v,
        "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Wasserstein: two shifted point masses pin W1 = the shift, " +
      "identical distributions pin 0") {
    val d1 = plantEvents("graft_w1a",
      Seq(("click", 1.00), ("view", 2.00)))
    val r1 = Stats.wasserstein(spark, d1).collect()(0)
    assert(r1.getLong(0) == 1L && r1.getLong(1) == 1L)
    assert(r1.getDouble(2) == 100.0, s"w1 = ${r1.getDouble(2)}")
    val d2 = plantEvents("graft_w1b",
      Seq(("click", 1.00), ("click", 3.00), ("view", 1.00),
        ("view", 3.00)))
    assert(Stats.wasserstein(spark, d2).collect()(0).getDouble(2) == 0.0)
  }

  test("Cramér–von Mises: disjoint point masses pin T = 1/4, " +
      "identical distributions pin 0") {
    val d1 = plantEvents("graft_cvm_a",
      Seq(("click", 1.00), ("view", 2.00)))
    // pooled point v=100: gap² = 1, weight 1; v=200: gap 0
    // T = 1 / (1*1*2*2) = 0.25
    val r = Stats.cramerVonMises(spark, d1).collect()(0)
    assert(r.getDouble(2) == 0.25, s"T = ${r.getDouble(2)}")
    val d2 = plantEvents("graft_cvm_b",
      Seq(("click", 1.00), ("click", 3.00), ("view", 1.00),
        ("view", 3.00)))
    assert(Stats.cramerVonMises(spark, d2).collect()(0)
      .getDouble(2) == 0.0)
  }

  test("Hill tail index: planted dyadic tail replays the rounded-ln " +
      "chain exactly") {
    val dir = plantEvents("graft_hill",
      Seq(("purchase", 8.00), ("purchase", 4.00), ("purchase", 2.00),
        ("purchase", 1.00)))
    val r = Stats.hillTail(spark, dir, k = 3).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 100L)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val s = (r6(math.log(800.0)) - r6(math.log(100.0))) +
      (r6(math.log(400.0)) - r6(math.log(100.0))) +
      (r6(math.log(200.0)) - r6(math.log(100.0)))
    val alpha = BigDecimal(3.0 / s.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) == alpha, s"alpha = ${r.getDouble(2)}")
  }

  test("L-moments: planted pairs pin l2 = half the mean absolute " +
      "difference, tied blocks close-form correctly") {
    val dir = plantEvents("graft_lmom",
      Seq(("click", 1.00), ("click", 1.00), ("click", 3.00)))
    val r = Stats.lMoments(spark, dir).collect()(0)
    assert(r.getLong(1) == 3L)
    // l1 = 500/3, l2 = 1400/6 - 500/3 (= E|X-Y|/2 = (400/3)/2)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) == r6(500.0 / 3.0))
    assert(r.getDouble(3) ==
      r6(1400.0 / (3.0 * 2.0) - 500.0 / 3.0), s"l2 = ${r.getDouble(3)}")
  }

  test("mean excess: a planted uniform ladder pins e(550) = 250, and " +
      "QQ diffs vanish on identical arms") {
    val dir = plantEvents("graft_me",
      (1 to 10).map(i => ("purchase", i.toDouble)) ++
        (1 to 10).flatMap(i =>
          Seq(("click", i.toDouble), ("view", i.toDouble))))
    val me = Stats.meanExcess(spark, dir).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // median threshold 550: excess {600..1000}, mean 800, e = 250
    assert(me(550.0) == ((5L, 250.0)), s"got ${me.get(550.0)}")
    // identical click/view arms: every QQ diff is exactly 0
    val qq = Stats.qqPoints(spark, dir).collect()
    assert(qq.length == 19)
    assert(qq.forall(_.getDouble(3) == 0.0), "identical arms must match")
    val qa = qq.sortBy(_.getLong(0)).map(_.getDouble(1))
    assert(qa.sliding(2).forall { case Array(a, b) => b >= a
      case _ => true }, "quantiles must be nondecreasing")
  }

  test("Durbin–Watson: a planted alternation pins dw = 3.4 and a " +
      "perfect line null-guards on zero residuals") {
    val dir = plantDaily("graft_dw", Seq(
      "alt" -> Seq(2.0, 0.0, 2.0, 0.0),
      "line" -> Seq(1.0, 2.0, 3.0, 4.0)))
    val out = Stats.durbinWatson(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // alt: e = (40,-120,120,-40) cents -> num 108800, den 32000
    assert(out("alt").getDouble(3) == 3.4,
      s"dw = ${out("alt").getDouble(3)}")
    assert(out("line").isNullAt(3), "zero residuals must null-guard")
  }

  test("p-chart: a planted rate shock exits the varying-n limits, " +
      "quiet days stay inside") {
    import spark.implicits._
    val dir = TempDirs.create("graft_pchart").toString
    var id = 0L
    // days 1-2: 36/100 purchases; day 3: 78/100 -> pbar = .5,
    // limits .35/.65: only day 3 is out of control
    val rows = Seq((1, 36), (2, 36), (3, 78)).flatMap { case (d, pos) =>
      (1 to 100).map { j => id += 1
        (id, java.sql.Timestamp.valueOf(f"2024-01-0$d%d 08:00:00"), 1L,
          if (j <= pos) "purchase" else "click", 1.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.pChart(spark, dir).collect().sortBy(_.getString(0))
    assert(out.map(_.getBoolean(6)).toSeq == Seq(false, false, true))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sig = math.sqrt(0.5 * (1.0 - 0.5) / 100.0)
    assert(out(0).getDouble(4) == r6(0.5 + 3.0 * sig))
    assert(out(0).getDouble(5) == r6(0.5 - 3.0 * sig))
  }

  test("XYZ class: constant demand is X, a single-month spike lands " +
      "exactly on the Y boundary") {
    import spark.implicits._
    val dir = TempDirs.create("graft_xyz").toString
    Seq((1L, 1L, java.sql.Timestamp.valueOf("1995-01-15 00:00:00")),
      (2L, 1L, java.sql.Timestamp.valueOf("1995-02-15 00:00:00")))
      .toDF("o_orderkey", "o_custkey_x", "o_orderdate")
      .select(col("o_orderkey"), col("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // part 1 sells 10 both months (cv 0 -> X); part 2 only in month 0
    // (mean 5, sd 5 -> cv exactly 1.0 -> Y by the <= boundary)
    Seq((1L, 1L, 10L), (2L, 1L, 10L), (1L, 2L, 10L))
      .toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Stats.xyzClass(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getString(4)))).toMap
    assert(out(1L) == ((0.0, "X")), s"got ${out.get(1L)}")
    assert(out(2L) == ((1.0, "Y")), s"got ${out.get(2L)}")
  }

  test("Brier decomposition: the Murphy identity re-adds and the " +
      "resolution bound holds") {
    val r = Stats.brier(spark, sf).collect()(0)
    val (rel, res, unc, bs) = (r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
    assert(rel >= 0 && res >= 0 && unc > 0 && unc <= 0.25 + 1e-9)
    // BS = REL - RES + UNC (each part independently rounded: one ulp
    // of re-rounding slack)
    assert(math.abs(bs - (rel - res + unc)) < 2e-6,
      s"bs=$bs rel=$rel res=$res unc=$unc")
    // resolution can never exceed the outcome's own uncertainty
    assert(res <= unc + 1e-9)
  }

  test("decision stump: a perfectly separable plant picks the median " +
      "threshold and earns the full ln 2 of gain") {
    val dir = plantEvents("graft_stump",
      (1 to 10).map(i => (if (i >= 6) "purchase" else "click",
        i.toDouble)))
    val r = Stats.decisionStump(spark, dir).collect()(0)
    // values 100..1000 cents; the 0.5 decile = 550 splits 5/5 cleanly
    assert(r.getDouble(0) == 550.0, s"t = ${r.getDouble(0)}")
    assert(r.getLong(1) == 10L && r.getLong(2) == 5L && r.getLong(3) == 5L)
    assert(r.getDouble(4) == 0.693147, s"gain = ${r.getDouble(4)}")
  }

  test("overdispersion: planted count pairs pin the NB moments and " +
      "the equidispersed null guard") {
    // users with (1, 5) events: mean 3, var 8, D = 8/3, r = 9/5, p = 3/8
    import spark.implicits._
    val dir = TempDirs.create("graft_od2").toString
    var id = 0L
    val rows = (Seq((1L, 1)) ++ Seq((2L, 5))).flatMap { case (u, k) =>
      (1 to k).map { _ => id += 1
        (id, java.sql.Timestamp.valueOf("2024-01-05 08:00:00"), u,
          "click", 1.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.overdispersion(spark, dir).collect()(0)
    assert(r.getLong(0) == 2L && r.getDouble(1) == 3.0 &&
      r.getDouble(2) == 8.0)
    assert(r.getDouble(3) == 2.666667)
    assert(r.getDouble(4) == 1.8 && r.getDouble(5) == 0.375)
    // equidispersed plant: var = mean -> NB fit null-guards
    val dir2 = TempDirs.create("graft_od3").toString
    id = 0L
    (Seq((1L, 1)) ++ Seq((2L, 3))).flatMap { case (u, k) =>
      (1 to k).map { _ => id += 1
        (id, java.sql.Timestamp.valueOf("2024-01-05 08:00:00"), u,
          "click", 1.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val r2 = Stats.overdispersion(spark, dir2).collect()(0)
    assert(r2.getDouble(3) == 1.0 && r2.isNullAt(4) && r2.isNullAt(5))
  }

  test("theta forecast: a planted linear series walks the dyadic SES " +
      "levels and the exact half-drift forecasts") {
    import spark.implicits._
    import java.sql.Date
    // train days 1..4 carry counts 2,4,6,8 (slope exactly 2); the
    // dyadic SES levels are 2, 3, 4.5, 6.25; theta forecast_h =
    // 6.25 + h * 2 / 2 = 6.25 + h — all finite binary fractions
    val daily = Seq(
      ("a", Date.valueOf("2026-01-01"), 2L),
      ("a", Date.valueOf("2026-01-02"), 4L),
      ("a", Date.valueOf("2026-01-03"), 6L),
      ("a", Date.valueOf("2026-01-04"), 8L),
      ("a", Date.valueOf("2026-01-05"), 7L),
      ("a", Date.valueOf("2026-01-06"), 9L))
      .toDF("event_type", "day", "y")
    val r = Stats.forecastThetaOver(daily, horizon = 2)
      .orderBy("day").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Double]("forecast") == 7.25)
    assert(r(1).getAs[Double]("forecast") == 8.25)
    assert(r(0).getAs[Long]("actual") == 7L)
    assert(r(0).getAs[Double]("abs_err") == 0.25)
    assert(r(1).getAs[Double]("abs_err") == 0.75)
    assert(r(0).getAs[Double]("mae") == 0.5)
  }
}
