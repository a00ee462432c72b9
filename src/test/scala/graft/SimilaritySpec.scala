package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("brute top-k returns k ranked neighbors per query") {
    val t = Similarity.annTopkBrute(spark, sf, k = 10, nQueries = 5).cache()
    assert(t.count() == 50)
    assert(t.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    assert(t.filter(col("query_id") === col("neighbor_id")).isEmpty)
    // ranks are dense 1..k per query
    val ranks = t.filter(col("query_id") === 0)
      .orderBy("rnk").select("rnk").collect().map(_.getLong(0)).toSeq
    assert(ranks == (1L to 10L))
  }

  test("rank-1 neighbor is the true argmax (cross-check)") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val best = e.filter(col("vec_id") =!= 0).crossJoin(q0)
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id").head().getLong(0)
    val got = Similarity.annTopkBrute(spark, sf, k = 1, nQueries = 1)
      .head()
    assert(got.getLong(1) == best)
  }

  test("hard negatives: every neighbor's label differs, and the set " +
      "equals a window-ranked cross-label reference") {
    import org.apache.spark.sql.expressions.Window
    val hn = Similarity.hardNegatives(spark, sf, k = 5, nQueries = 10).cache()
    assert(hn.count() == 50)
    // no same-label neighbor ever surfaces
    val labels = Tables.embeddings(spark, sf).select(
      col("vec_id"), col("label"))
    val joined = hn
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel"), "query_id")
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    assert(joined.filter(col("label") === col("qlabel")).isEmpty)
    // independent reference: plain window rank over the same scores
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val ref = e.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id")
        && col("label") =!= col("qlabel"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
    assert(hn.except(ref).isEmpty && ref.except(hn).isEmpty)
    hn.unpersist()
  }

  test("IVF returns ranked in-cell neighbors that agree with brute force where cells align") {
    val ivf = Similarity.annIvf(spark, sf, k = 10, nQueries = 20).cache()
    assert(ivf.count() > 0)
    assert(ivf.filter(col("query_id") === col("neighbor_id")).isEmpty)
    assert(ivf.filter(col("rnk") < 1 || col("rnk") > 10).isEmpty)
    // ranks are dense 1..n per query
    assert(ivf.groupBy("query_id").agg(
        count(lit(1)).as("c"), max(col("rnk")).as("m"))
      .filter(col("c") =!= col("m")).isEmpty)
    // every IVF result appears in the brute ranking, in consistent
    // relative order (IVF is brute restricted to probed cells)
    val brute = Similarity.annTopkBrute(spark, sf, k = 2000, nQueries = 20)
      .withColumnRenamed("rnk", "brute_rnk")
    val joined = ivf.join(brute, Seq("query_id", "neighbor_id"), "left").cache()
    assert(joined.filter(col("brute_rnk").isNull).isEmpty,
      "IVF produced a neighbor brute force never saw")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy("rnk")
    assert(joined
      .withColumn("prev", lag(col("brute_rnk"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("brute_rnk")).isEmpty,
      "IVF rank order disagrees with true cosine order")
    // the final rank runs through bounded TopKPerKey heaps like the
    // rest of the ANN family: the only window left is the 16-row
    // per-VECTOR centroid rank, never one keyed on query_id
    val plan = ivf.queryExecution.executedPlan.toString
    val qidWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("query_id"))
    assert(qidWindows.isEmpty,
      s"query-keyed window survived in ivf plan:\n${qidWindows.mkString("\n")}")
  }

  /** Above-threshold subset of brute top-10 pairs — the recall target
    * shared by the single- and multi-probe LSH measurements.
    */
  private def bruteTruth(dir: String, thr: Double): Set[(Long, Long)] = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    Similarity.annTopkBrute(spark, dir, k = 10, nQueries = 20)
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
      .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
      // annLsh only surfaces pairs above its cosine threshold, so the
      // recall target is the above-threshold subset of brute top-10
      .filter(col("cos") >= thr)
      .select(least(col("query_id"), col("neighbor_id")).as("vec_a"),
        greatest(col("query_id"), col("neighbor_id")).as("vec_b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("ann_recall_report replays the IVF-vs-brute agreement exactly " +
      "and floors the mean recall") {
    import org.apache.spark.sql.functions._
    val rep = Similarity.annRecallReport(spark, sf).cache()
    val rows = rep.collect()
    assert(rows.length == 20 && rows.forall(_.getAs[Long]("n_true") == 10L))
    rows.foreach { r =>
      val rc = r.getAs[Double]("recall")
      assert(rc >= 0.0 && rc <= 1.0)
      assert(rc == BigDecimal(r.getAs[Long]("n_hits").toDouble / 10.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // independent recount: the report's hits == the actual overlap
    val ivf = Similarity.annIvf(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
    val brute = Similarity.annTopkBrute(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
    val direct = brute.intersect(ivf).groupBy("query_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(
      r.getAs[Long]("n_hits") == direct.getOrElse(r.getLong(0), 0L)))
    // the measured IVF trade on this corpus stays above the floor
    val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(mean >= 0.5, f"mean IVF recall@10 collapsed: $mean%.3f")
    rep.unpersist()
  }

  test("ann_ivf_nsw: the graph-expanded probe set dominates plain IVF " +
      "recall per query and lifts the mean") {
    import org.apache.spark.sql.functions._
    val brute = Similarity.annTopkBrute(spark, sf)
      .select(col("query_id"), col("neighbor_id")).cache()
    def recallByQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      brute.intersect(df.select(col("query_id"), col("neighbor_id")))
        .groupBy("query_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = recallByQuery(Similarity.annIvf(spark, sf))
    val nsw = recallByQuery(Similarity.annIvfNsw(spark, sf))
    // candidates are a strict superset of IVF's under the same exact
    // rank: per-query recall must never drop
    (0L until 20L).foreach { q =>
      assert(nsw.getOrElse(q, 0L) >= ivf.getOrElse(q, 0L),
        s"NSW hop lost recall on query $q: ${nsw.get(q)} < ${ivf.get(q)}")
    }
    // the measured lift on this corpus: the entry-cell hop must buy
    // real tail recall, not just tie (floor from the measured value)
    val meanIvf = (0L until 20L).map(q => ivf.getOrElse(q, 0L)).sum / 200.0
    val meanNsw = (0L until 20L).map(q => nsw.getOrElse(q, 0L)).sum / 200.0
    assert(meanNsw >= meanIvf,
      f"NSW mean $meanNsw%.3f below IVF mean $meanIvf%.3f")
    assert(meanNsw >= 0.5, f"NSW mean recall collapsed: $meanNsw%.3f")
    brute.unpersist()
  }

  test("knn-graph upsert equals the full rebuild (incremental-merge " +
      "theorem) and refreshed marks exactly the delta-touched lists") {
    import org.apache.spark.sql.functions.col
    val up = Similarity.knnGraphUpsert(spark, sf, k = 5, nDelta = 100)
      .cache()
    val full = Similarity.knnGraph(spark, sf, k = 5)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(up) == key(full),
      "the merged (stored top-k ∪ delta edges) ranks must be " +
        "bit-equal to the full rebuild's")
    // flag consistency (at 500 vectors a 100-vector delta touches
    // every bucket — ppb=6 gives 64 codes/band — so refreshed=false
    // only appears at larger corpora; the necessary conditions are
    // still assertable): every delta node is refreshed, and any list
    // that CONTAINS a delta neighbor must have been recomputed
    assert(up.filter(col("src") >= 400 && !col("refreshed")).isEmpty)
    assert(up.filter(col("dst") >= 400 && !col("refreshed")).isEmpty)
    up.unpersist()
    ()
  }

  test("q_knn_graph_scaled: the integer width ladder pins every " +
      "boundary, and at the gate SF (where the ladder lands on the " +
      "tuned default) the graph equals q_knn_graph exactly") {
    assert(Similarity.scaledPlanesPerBand(500L) == 6)
    assert(Similarity.scaledPlanesPerBand(2048L) == 6) // 32 << 6
    assert(Similarity.scaledPlanesPerBand(2049L) == 7)
    assert(Similarity.scaledPlanesPerBand(20000L) == 10) // the sf1 width
    assert(Similarity.scaledPlanesPerBand(Long.MaxValue / 4) == 24)
    val a = Similarity.knnGraphScaled(spark, sf)
    val b = Similarity.knnGraph(spark, sf)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "scaled graph must equal the default-width graph at gate SF")
  }

  test("ann_adaptive_probe: the margin rule widens scattered queries, " +
      "keeps the fixed floor, and per-query recall dominates plain IVF") {
    import org.apache.spark.sql.functions._
    val res = Similarity.annAdaptiveProbe(spark, sf).cache()
    // the floor: every query probes at least the fixed IvfProbes
    // budget, so candidates are a superset of annIvf's
    val probedByQ = res.select("query_id", "n_probed").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probedByQ.nonEmpty)
    probedByQ.foreach { case (q, n) =>
      assert(n >= Similarity.IvfProbes,
        s"query $q probed $n < fixed floor ${Similarity.IvfProbes}")
    }
    // adaptivity proved on a planted corpus (the corpus-level margin
    // firing is data-dependent): 3 axis centroids, a well-quantized
    // query sits on its axis (floor-only probe set), a SCATTERED
    // query sits exactly between two axes — the margin rule must
    // widen it to both cells while leaving the aligned query alone
    locally {
      import spark.implicits._
      val planted = Seq(
        (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)),
        (2L, Seq(0.0, 0.0, 1.0)),
        (3L, Seq(1.0, 1.0, 0.0)), // equidistant from cells 0 and 1
        (4L, Seq(0.9, 0.1, 0.0)), (5L, Seq(0.1, 0.9, 0.0)),
        (6L, Seq(0.0, 0.2, 0.9)))
        .toDF("vec_id", "v")
        .withColumn("norm", sqrt(graft.functions.CatalystExprs
          .dot_product(col("v"), col("v"))))
      val p = Similarity.annAdaptiveProbeOver(planted, cells = 3,
          probesFloor = 1, k = 3, nQueries = 4, margin = 0.1)
        .select("query_id", "n_probed").distinct()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(p(0L) == 1L, s"aligned query widened: ${p(0L)}")
      assert(p(3L) == 2L, s"scattered query not widened: ${p(3L)}")
    }
    val brute = Similarity.annTopkBrute(spark, sf)
      .select(col("query_id"), col("neighbor_id")).cache()
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      brute.intersect(df.select(col("query_id"), col("neighbor_id")))
        .groupBy("query_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = hits(Similarity.annIvf(spark, sf))
    val ad = hits(res)
    (0L until 20L).foreach { q =>
      assert(ad.getOrElse(q, 0L) >= ivf.getOrElse(q, 0L),
        s"adaptive probe lost recall on query $q")
    }
    brute.unpersist()
    res.unpersist()
  }

  test("embed outliers: per-cell ranks are complete and cosine rises " +
      "with rank — the flagged rows are each cell's farthest members") {
    val r = Similarity.embedOutliers(spark, sf).cache()
    val byCell = r.orderBy("cid", "rnk").collect().groupBy(_.getLong(0))
    assert(byCell.nonEmpty)
    byCell.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).toSeq == (1L to rows.length),
        s"rank gap in cell ${rows.head.getLong(0)}")
      assert(rows.sliding(2).forall(w =>
        w.length < 2 || w(0).getDouble(2) <= w(1).getDouble(2)),
        s"cosine not ascending in cell ${rows.head.getLong(0)}")
      assert(rows.forall(x =>
        x.getDouble(2) >= -1.0 - 1e-9 && x.getDouble(2) <= 1.0 + 1e-9))
    }
    r.unpersist()
  }

  test("embed mauve: the divergence frontier behaves — KL(P||R) falls " +
      "and KL(Q||R) rises as the mixture leans toward P") {
    val r = Similarity.embedMauve(spark, sf).orderBy("mix_lambda").collect()
    assert(r.length == 3)
    // per-cell terms round at 6 decimals, so totals near 0 carry up
    // to 16e-6 of rounding slack
    val eps = 2e-5
    r.foreach { row =>
      assert(row.getAs[Double]("kl_p_mix") >= -eps)
      assert(row.getAs[Double]("kl_q_mix") >= -eps)
    }
    def kp(i: Int) = r(i).getAs[Double]("kl_p_mix")
    def kq(i: Int) = r(i).getAs[Double]("kl_q_mix")
    assert(kp(0) >= kp(1) - eps && kp(1) >= kp(2) - eps,
      s"KL(P||R) not decreasing in lambda: ${kp(0)}, ${kp(1)}, ${kp(2)}")
    assert(kq(0) <= kq(1) + eps && kq(1) <= kq(2) + eps,
      s"KL(Q||R) not increasing in lambda: ${kq(0)}, ${kq(1)}, ${kq(2)}")
  }

  test("silhouette: per-cell scores stay in [0,1], every vector is " +
      "scored once, and cells partition the corpus") {
    import org.apache.spark.sql.functions._
    val out = Similarity.silhouette(spark, sf).collect()
    assert(out.length == 16)
    val total = out.map(_.getAs[Long]("n_vectors")).sum
    assert(total == Tables.embeddings(spark, sf).count())
    out.foreach { r =>
      val s = r.getAs[Double]("mean_silhouette")
      // own centroid is the argmax -> b >= a -> s in [0, 1]
      assert(s >= 0.0 && s <= 1.0, s"silhouette out of range: $s")
    }
  }

  test("rand index: doubled pair sums recount from a direct " +
      "contingency, RI in [0,1], ARI <= 1") {
    import org.apache.spark.sql.functions._
    import graft.functions.CatalystExprs.dot_product
    val out = Similarity.randIndex(spark, sf).collect().head
    val n = out.getAs[Long]("n")
    assert(n == Tables.embeddings(spark, sf).count())
    // independent recount of the contingency through the same
    // assignment rule
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
    val cent = all.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"),
        col("norm").as("cnorm")).collect()
    val vecs = all.collect()
    def cos(a: collection.Seq[Double], b: collection.Seq[Double]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      dot / math.sqrt(a.map(x => x * x).sum) /
        math.sqrt(b.map(x => x * x).sum)
    }
    val assign = vecs.map { r =>
      val v = r.getAs[collection.Seq[Double]]("v")
      val best = cent.map(c =>
        (cos(v, c.getAs[collection.Seq[Double]]("cv")), c.getInt(0)))
        .sortBy(p => (-p._1, p._2)).head._2
      (best, r.getAs[Number]("label").longValue)
    }
    val cont = assign.groupBy(identity).map(_._2.length.toLong)
    def p2(xs: Iterable[Long]) = xs.map(x => x * (x - 1)).sum
    assert(out.getAs[Long]("sum_cij2") == p2(cont))
    assert(out.getAs[Long]("sum_a2") ==
      p2(assign.groupBy(_._1).map(_._2.length.toLong)))
    assert(out.getAs[Long]("sum_b2") ==
      p2(assign.groupBy(_._2).map(_._2.length.toLong)))
    val ri = out.getAs[Double]("ri")
    assert(ri >= 0.0 && ri <= 1.0)
    assert(out.getAs[Double]("ari") <= 1.0)
  }

  test("ann_lsh recall vs brute-force truth is measured and pinned") {
    // sf0.01: enough vectors that banding actually has room to miss —
    // this is the measured-recall floor that makes the ANN operator
    // trustworthy (an unmeasured LSH is just a hope)
    val dir = "/root/testdata/sf0.01"
    val thr = 0.3
    val truth = bruteTruth(dir, thr)
    assert(truth.nonEmpty, "no above-threshold brute pairs to measure against")
    def recallOf(bands: Int, planesPerBand: Int): Double = {
      val lsh = Similarity.annLsh(spark, dir, thr, bands, planesPerBand)
        .select("vec_a", "vec_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      truth.count(lsh.contains).toDouble / truth.size
    }
    // measured on this corpus (deterministic: seeded planes, fixed
    // data): 4×4 → 0.438, 8×4 → 0.685, 16×4 → 0.910, 24×4 → 0.978,
    // 32×4 → 0.989 — the default is 16×4, floor pinned below it
    val tuned = recallOf(Similarity.DefaultSrpBands, Similarity.DefaultPlanesPerBand)
    val old4x4 = recallOf(4, 4)
    info(f"tuned ${Similarity.DefaultSrpBands}x${Similarity.DefaultPlanesPerBand} " +
      f"recall=$tuned%.3f vs 4x4 recall=$old4x4%.3f " +
      s"over ${truth.size} above-threshold brute top-10 pairs")
    assert(tuned >= 0.85, f"LSH recall $tuned%.3f below the declared 0.85 floor")
    assert(tuned > old4x4)
    // SELECTIVITY is the documented trade: threshold = −1 surfaces the
    // raw candidate set, so this measures what fraction of all pairs
    // the banding fails to prune (SRP per-plane agreement floors at
    // 0.5 for unrelated vectors — see the Similarity scaladoc)
    val n = Tables.embeddings(spark, dir).count()
    val candFrac = Similarity.annLsh(spark, dir, -1.0,
      Similarity.DefaultSrpBands, Similarity.DefaultPlanesPerBand).count()
      .toDouble / (n * (n - 1) / 2)
    info(f"candidate fraction at default banding: $candFrac%.3f of all pairs")
    assert(candFrac < 0.75, f"banding prunes almost nothing ($candFrac%.3f)")
  }

  test("sq8 scalar quantization: top-k recall vs brute-force truth is " +
      "measured and pinned; ranks well-formed") {
    val dir = "/root/testdata/sf0.01"
    val truth = Similarity.annTopkBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.annSq8(spark, dir).cache()
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(pairs.contains).toDouble / truth.size
    info(f"sq8 recall@10 (rerank pool 50) = $recall%.3f over ${truth.size} truth pairs")
    assert(recall >= 0.9, f"sq8 recall $recall%.3f below the 0.9 floor")
    // exactly k ranked rows per query, ranks 1..k
    assert(got.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    assert(got.filter(col("rnk") < 1 || col("rnk") > 10).isEmpty)
  }

  test("knn graph: every-node top-k recall vs all-nodes brute truth " +
      "is measured and pinned; degrees bounded by k") {
    val dir = "/root/testdata/sf0.01"
    val k = 5
    val truth = Similarity.annTopkBrute(spark, dir, k, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.knnGraph(spark, dir, k).cache()
    val edges = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(edges.contains).toDouble / truth.size
    info(f"knn-graph recall@$k (8x6+2 multiprobe candidates) = " +
      f"$recall%.3f over ${truth.size} truth edges")
    assert(recall >= 0.85, f"knn recall $recall%.3f below the 0.85 floor")
    assert(got.groupBy("src").count().filter(col("count") > k).isEmpty)
    assert(got.filter(col("rnk") < 1 || col("rnk") > k).isEmpty)
    assert(got.filter(col("src") === col("dst")).isEmpty)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "window survived in knn-graph plan")
  }

  test("ivfpq: coarse-cell pruning + ADC + exact re-rank recall vs " +
      "brute-force truth is measured and pinned; scan fraction bounded") {
    val dir = "/root/testdata/sf0.01"
    val truth = Similarity.annTopkBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.annIvfPq(spark, dir).cache()
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(pairs.contains).toDouble / truth.size
    info(f"ivfpq recall@10 (cells=${Similarity.IvfPqCells}, " +
      f"nProbe=${Similarity.IvfPqProbes}, rerank 100) = $recall%.3f " +
      f"over ${truth.size} truth pairs")
    assert(recall >= 0.8, f"ivfpq recall $recall%.3f below the 0.8 floor")
    assert(got.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    assert(got.filter(col("rnk") < 1 || col("rnk") > 10).isEmpty)
    // scale contract: no window, no interpreted HOF (the pq discipline)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "window survived in ivfpq plan")
    assert(!plan.toLowerCase.contains("lambdafunction"),
      s"interpreted HOF survived in ivfpq plan:\n$plan")
  }

  test("pq: 4-bit ADC codes + exact re-rank recall vs brute-force " +
      "truth is measured and pinned; ranks well-formed") {
    val dir = "/root/testdata/sf0.01"
    val truth = Similarity.annTopkBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.annPq(spark, dir).cache()
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(pairs.contains).toDouble / truth.size
    info(f"pq recall@10 (m=${Similarity.PqM}, ks=${Similarity.PqKs}, " +
      f"rerank 100) = $recall%.3f over ${truth.size} truth pairs")
    assert(recall >= 0.9, f"pq recall $recall%.3f below the 0.9 floor")
    assert(got.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    assert(got.filter(col("rnk") < 1 || col("rnk") > 10).isEmpty)
    // same scale contract as sq8: no query-keyed window anywhere
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "window survived in pq plan")
    // encode/ADC run as codegen'd kernel expressions: no interpreted
    // higher-order function ANYWHERE in the pq plan (HOFs never enter
    // whole-stage codegen, and encode touches every corpus row)
    assert(!plan.toLowerCase.contains("lambdafunction"),
      s"interpreted HOF survived in pq plan:\n$plan")
  }

  test("celebrity LSH bucket: AQE skew-splits the (band, code) " +
      "candidate self-join at runtime — salting measured unnecessary") {
    // The multiprobe verify join's hazard: one hot bucket puts every
    // member pair on ONE (band, code) shuffle key. Measured here on
    // the exact join shape with a planted 90%-hot bucket: the final
    // adaptive plan splits the skewed partition on BOTH sides of the
    // self-join (no exchange reuse blocks it). The q_skew_join
    // salting pattern was evaluated against this and rejected: it
    // flattens the same hot key only by replicating the probe side
    // salt× on EVERY bucket, which AQE's split gets for free and only
    // where skew actually materializes.
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val banded = spark.range(20000).select(col("id").as("vec_id"),
        lit(0).as("band"),
        when(col("id") % 10 =!= 0, lit(777))
          .otherwise(pmod(col("id"), lit(100)).cast("int")).as("code"),
        md5(col("id").cast("string")).as("pad"))
      val j = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.code") === col("y.code")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      // execute THIS QueryExecution (df.count() would plan a separate
      // one and leave this plan unadapted), then read the final plan
      val pairs = j.queryExecution.toRdd.count()
      assert(pairs == 162190000L, s"planted pair count drifted: $pairs")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not skew-split the celebrity bucket:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("semantic dedup: planted cluster geometry drops exactly the " +
      "near-copies; real-corpus recall vs brute truth measured and " +
      "no false drops ever") {
    import spark.implicits._
    def unitV(parts: (Int, Double)*): Array[Double] = {
      val v = new Array[Double](64)
      parts.foreach { case (i, x) => v(i) = x }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // ids ordered so Lloyd's first-k init seeds one centroid per
    // intended cluster (0 → axis-0 family, 1 → axis-5 family)
    val planted = Seq(
      0L -> unitV(0 -> 1.0),               // cluster A canonical
      1L -> unitV(5 -> 1.0),               // cluster B canonical
      2L -> unitV(0 -> 0.95, 1 -> 0.05),   // cos≈0.999 to id0 → drop
      3L -> unitV(0 -> 0.90, 1 -> 0.10),   // cos≈0.994 to id0 → drop
      4L -> unitV(5 -> 0.95, 6 -> 0.05),   // cos≈0.999 to id1 → drop
      5L -> unitV(5 -> 1.0, 6 -> 1.0),     // 45° off id1 → KEEP
      6L -> unitV(10 -> 1.0)               // singleton → KEEP
    ).toDF("vec_id", "v")
      .withColumn("norm", sqrt(graft.functions.CatalystExprs
        .dot_product(col("v"), col("v"))))
    val got = Similarity.semDedupOver(planted, tau = 0.9, kClusters = 2)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))).toMap
    assert(got(2L) == ((Some(0L), true)), s"id2=${got(2L)}")
    assert(got(3L) == ((Some(0L), true)), s"id3=${got(3L)}")
    assert(got(4L) == ((Some(1L), true)), s"id4=${got(4L)}")
    Seq(0L, 1L, 5L, 6L).foreach(i =>
      assert(got(i) == ((None, false)), s"id$i=${got(i)}"))

    // real corpus at the embedding family's 0.45 near-dup level:
    // brute truth = every b with some a<b at cos ≥ τ
    val dir = "/root/testdata/sf0.01"
    val sem = Similarity.semDedup(spark, dir).cache()
    val vs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(graft.functions.CatalystExprs
        .dot_product(col("v"), col("v"))))
    val lhs = vs.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
    val rhs = vs.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb"))
    val truth = lhs.crossJoin(rhs).filter(col("a") < col("b"))
      .withColumn("cos", graft.functions.CatalystExprs
        .dot_product(col("va"), col("vb")) / col("na") / col("nb"))
      .filter(col("cos") >= Similarity.SemTau)
      .select(col("a"), col("b")).cache()
    val truthDrops = truth.select(col("b")).distinct()
    val gotDrops = sem.filter(col("is_dup")).select(col("vec_id").as("b"))
    // exactness within clusters: every drop is justified by a true
    // ≥τ pair with a smaller id — zero false drops at any K
    assert(gotDrops.join(truthDrops, "b", "left_anti").isEmpty,
      "semantic dedup dropped a vector with no true ≥τ partner")
    val recall = gotDrops.join(truthDrops, "b").count().toDouble /
      math.max(truthDrops.count(), 1L).toDouble
    info(f"semdedup drop recall @tau=${Similarity.SemTau}%.2f, " +
      f"K=${Similarity.SemClusters} = $recall%.3f over " +
      f"${truthDrops.count()} true near-dup vectors")
    assert(recall >= 0.7, f"cross-cluster miss rate too high: $recall%.3f")
  }

  test("sq8 plan shape: both rank cuts run through bounded TopKPerKey " +
      "heaps — no window keyed on query_id anywhere in the plan") {
    val plan = Similarity.annSq8(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    // a row_number window partitioned only on query_id would sort
    // corpus x queries rows into nQueries reducers AQE cannot split
    assert(!plan.contains("Window"), s"window survived in sq8 plan:\n$plan")
    assert(plan.contains("TopKPerKey"), "bounded-heap operator missing")
  }

  test("multi-probe LSH: half the hash families, equal-or-better " +
      "measured recall AND selectivity than single-probe 16x4 " +
      "(brute-force truth)") {
    val dir = "/root/testdata/sf0.01"
    val thr = 0.3
    val truth = bruteTruth(dir, thr)
    assert(truth.nonEmpty)
    val n = Tables.embeddings(spark, dir).count()
    val allPairs = n * (n - 1) / 2.0
    // threshold −1 keeps the raw candidate set so ONE run measures
    // both axes: recall (above-threshold subset) and candidate load
    def measure(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val cached = df.cache()
      val candFrac = cached.count() / allPairs
      val got = cached.filter(col("cos") >= thr).select("vec_a", "vec_b")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      cached.unpersist()
      (truth.count(got.contains).toDouble / truth.size, candFrac)
    }
    val (sp, spFrac) = measure(Similarity.annLsh(spark, dir, -1.0,
      Similarity.DefaultSrpBands, Similarity.DefaultPlanesPerBand))
    val (mp, mpFrac) = measure(Similarity.annLshMultiProbe(spark, dir, -1.0))
    info(f"multi-probe ${Similarity.DefaultMpBands}x" +
      f"${Similarity.DefaultMpPlanes}+${Similarity.DefaultMpProbes}p " +
      f"recall=$mp%.3f candFrac=$mpFrac%.3f vs single-probe 16x4 " +
      f"recall=$sp%.3f candFrac=$spFrac%.3f over ${truth.size} truth pairs")
    assert(mp >= sp,
      f"multi-probe recall $mp%.3f regressed below single-probe $sp%.3f")
    assert(mp >= 0.85, f"multi-probe recall $mp%.3f below the 0.85 floor")
    assert(mpFrac <= spFrac,
      f"multi-probe candidates $mpFrac%.3f worse than single-probe $spFrac%.3f")
  }

  test("banded LSH pairs pass the cosine threshold and find candidates") {
    val l = Similarity.annLsh(spark, sf, 0.3).cache()
    assert(l.count() > 0)
    assert(l.filter(col("cos") < 0.3).isEmpty)
    assert(l.filter(col("vec_a") >= col("vec_b")).isEmpty)
    // no duplicate pairs after the band-level dedup
    assert(l.select("vec_a", "vec_b").distinct().count() == l.count())
  }

  test("embed pca: the power-iterated component is the top eigenvector " +
      "(residual, Rayleigh dominance, Welford variance) and is " +
      "bit-deterministic") {
    val (_, v1, l1, m) = Similarity.embedPcaModel(spark, sf)
    val (_, v2, l2, _) = Similarity.embedPcaModel(spark, sf)
    // run-to-run equality under the same partitioning (fixed start,
    // fixed step count); tolerance, not bitwise — the Gram's double
    // sums are only ulp-stable under a changed merge order
    assert(v1.zip(v2).forall { case (a, b) => math.abs(a - b) < 1e-9 }
      && math.abs(l1 - l2) < 1e-6 * l1)
    // unit norm + sign convention
    assert(math.abs(v1.map(x => x * x).sum - 1.0) < 1e-12)
    val k = (0 until 64).maxBy(i => math.abs(v1(i)))
    assert(v1(k) > 0)
    // eigen-residual: ||Mv - lambda v|| <= 1e-6 * lambda
    val mv = m.map(row => row.zip(v1).map { case (a, b) => a * b }.sum)
    val res = math.sqrt(
      mv.zip(v1).map { case (a, b) => (a - l1 * b) * (a - l1 * b) }.sum)
    assert(res <= 1e-6 * l1, s"residual $res vs lambda $l1")
    // Rayleigh dominance: lambda >= scatter along every coordinate axis
    assert((0 until 64).forall(i => l1 >= m(i)(i) - 1e-9))
    // the projection's sample variance equals lambda/(n-1)
    val scores = Similarity.embedPca(spark, sf).cache()
    val n = scores.count()
    val varS = scores.agg(var_samp(col("score"))).head.getDouble(0)
    assert(math.abs(varS - l1 / (n - 1)) / (l1 / (n - 1)) < 1e-6,
      s"var $varS vs ${l1 / (n - 1)}")
    scores.unpersist()
  }

  test("kmeans: total inertia is non-increasing across distributed " +
      "Lloyd iterations and every corpus vector is assigned") {
    def total(iters: Int): Double =
      Similarity.embedKmeans(spark, sf, 10, iters)
        .agg(sum(col("inertia"))).head.getDouble(0)
    val seq = Seq(0, 1, 2, 4).map(total)
    // Lloyd descent, up to merge-order ulps on the double sums
    seq.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-9), s"inertia rose: $a -> $b in $seq")
    }
    // refinement does real work on this corpus, not a no-op
    assert(seq.last < seq.head)
    val n = Tables.embeddings(spark, sf).count()
    val rep = Similarity.embedKmeans(spark, sf)
    assert(rep.agg(sum(col("n"))).head.getLong(0) == n)
  }

  test("kmeans recovers planted metrically-separated clusters exactly") {
    import spark.implicits._
    // 90 vectors in 3 tight bundles around orthogonal axes; jitter is
    // deterministic and far smaller than the inter-cluster distance
    val d = 64
    val rows = (0 until 90).map { i =>
      val axis = i % 3
      val v = Array.tabulate(d) { j =>
        (if (j == axis * 20) 10.0 else 0.0) +
          0.01 * (((i * 131 + j * 17) % 7) - 3)
      }
      (i.toLong, v.toSeq)
    }
    val frame = rows.toDF("vec_id", "v")
      .withColumn("norm", sqrt(graft.functions.CatalystExprs
        .dot_product(col("v"), col("v"))))
    val assigned = Similarity.kmeansFit(spark, frame, 3, 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // same plant -> same cluster; different plant -> different cluster
    val byPlant = (0 until 90).groupBy(_ % 3)
      .map { case (p, ids) => p -> ids.map(i => assigned(i.toLong)).toSet }
    assert(byPlant.values.forall(_.size == 1), s"split plant: $byPlant")
    assert(byPlant.values.flatten.toSet.size == 3, s"merged plants: $byPlant")
  }

  test("item similarity: co-purchase cosine is symmetric and every " +
      "neighbor genuinely shares an order") {
    val simDf = graft.operators.Relational.itemSimilarity(spark, sf)
    // rank caps per item
    val per = simDf.groupBy("part_a").count().collect()
    assert(per.forall(_.getLong(1) <= 3))
    // symmetry of the underlying score: (a,b) appearing in both
    // directions carries the same n_ab and cosine
    val flipped = simDf.select(col("part_b").as("part_a"),
      col("part_a").as("part_b"), col("cosine").as("cos_rev"))
    val both = simDf.join(flipped, Seq("part_a", "part_b"))
    assert(both.filter(col("cosine") =!= col("cos_rev")).isEmpty)
    // spot-check: every listed pair co-occurs in at least one order
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val bad = simDf.join(op.select(col("l_orderkey"),
          col("l_partkey").as("part_a")), Seq("part_a"))
      .join(op.select(col("l_orderkey"),
          col("l_partkey").as("part_b")), Seq("part_b", "l_orderkey"))
      .groupBy("part_a", "part_b").count()
      .join(simDf, Seq("part_a", "part_b"), "right_outer")
      .filter(col("count").isNull || col("count") =!= col("n_ab"))
    assert(bad.isEmpty)
  }

  test("filtered IVF: every neighbor crosses labels, and pre-filtering " +
      "returns at least as many eligible results as post-filtering") {
    val f = Similarity.annIvfFiltered(spark, sf, k = 10, nQueries = 5)
      .cache()
    val labels = Tables.embeddings(spark, sf).select(
      col("vec_id"), col("label"))
    val joined = f
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel"), "query_id")
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    assert(joined.filter(col("label") === col("qlabel")).isEmpty)
    assert(f.filter(col("query_id") === col("neighbor_id")).isEmpty)
    // pre-filter ≥ post-filter: dropping same-label rows from the
    // UNfiltered top-10 leaves holes the filtered search fills
    val post = Similarity.annIvf(spark, sf, k = 10, nQueries = 5)
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel"), "query_id")
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .filter(col("label") =!= col("qlabel"))
      .groupBy("query_id").count().withColumnRenamed("count", "n_post")
    val pre = f.groupBy("query_id").count().withColumnRenamed("count", "n_pre")
    assert(pre.join(post, Seq("query_id"), "left_outer")
      .filter(col("n_pre") < coalesce(col("n_post"), lit(0L))).isEmpty)
    f.unpersist()
  }

  test("range search: every hit clears the threshold, excludes self, and " +
      "contains every IVF top-k neighbor whose exact cosine clears it") {
    val tau = 0.35
    val r = Similarity.annRangeSearch(spark, sf, tau = tau, nQueries = 5)
      .cache()
    assert(r.filter(col("cos") < tau).isEmpty)
    assert(r.filter(col("query_id") === col("neighbor_id")).isEmpty)
    // containment vs the gated top-k: a top-k neighbor searches the
    // same probed cells, so any of them whose exact cosine clears τ
    // must also be a range hit
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val mustHit = Similarity.annIvf(spark, sf, k = 10, nQueries = 5)
      .join(emb.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("v", "qv"), "query_id")
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .withColumn("c", Similarity.cosine(col("qv"), col("v")))
      .filter(col("c") >= tau)
      .select("query_id", "neighbor_id")
    assert(mustHit.join(r.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_anti").isEmpty)
    r.unpersist()
  }

  test("retrieval metrics: per-query recall/MRR agree with a direct " +
      "recomputation from the two gated retrievals") {
    val m = Similarity.retrievalMetrics(spark, sf, k = 10, nQueries = 5)
      .cache()
    assert(m.count() == 5)
    assert(m.filter(col("recall") < 0.0 || col("recall") > 1.0).isEmpty)
    assert(m.filter(col("recall") =!=
      col("n_hits").cast("double") / lit(10.0)).isEmpty)
    // direct recomputation: set-intersect the two retrieval outputs
    val truth = Similarity.annTopkBrute(spark, sf, k = 10, nQueries = 5)
    val approx = Similarity.annIvf(spark, sf, k = 10, nQueries = 5)
    val expHits = truth.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").count()
    assert(m.join(expHits, Seq("query_id"), "left_outer")
      .filter(coalesce(col("count"), lit(0L)) =!= col("n_hits")).isEmpty)
    // rr is 1/rank of the TRUE nearest neighbor in the approx list,
    // 0.0 exactly when it is missed
    val expRr = truth.filter(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .join(approx, Seq("query_id", "neighbor_id"), "left_outer")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("rnk"), lit(0.0)).as("exp_rr"))
    assert(m.join(expRr, Seq("query_id"))
      .filter(col("rr") =!= col("exp_rr")).isEmpty)
  }

  test("rrf fusion: 10 fused rows per query, scores equal the " +
      "window-ranked two-arm reference") {
    import org.apache.spark.sql.expressions.Window
    val out = Similarity.rrfFusion(spark, sf).cache()
    assert(out.count() == 50)
    assert(out.groupBy("query_id").count()
      .filter(col("count") =!= 10).isEmpty)
    assert(out.filter(col("query_id") === col("doc_id")).isEmpty)
    // independent reference: plain window ranks over both arms
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(filter(
        split(col("text"), operators.TextMapReduce.WordSplit),
        w => w =!= "")).as("w"))
    val q = words.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("w").as("qw"))
    val lex = words.crossJoin(q)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("jac",
        size(array_intersect(col("w"), col("qw"))).cast("double")
          / size(array_union(col("w"), col("qw"))).cast("double"))
      .withColumn("r_lex", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("jac").desc, col("doc_id"))).cast("long"))
      .filter(col("r_lex") <= 20)
      .select("query_id", "doc_id", "r_lex")
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qe = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val dense = e.crossJoin(qe)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .withColumn("r_dense", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("r_dense") <= 20)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r_dense"))
    val ref = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("ref_score",
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)))
    // every fused row matches the reference score EXACTLY (the gate
    // hashes these doubles, so bit equality is the contract)
    val mismatched = out.join(ref, Seq("query_id", "doc_id"), "left_outer")
      .filter(col("ref_score").isNull
        || col("ref_score") =!= col("rrf_score"))
    assert(mismatched.isEmpty)
    // and the kept 10 are the top of the reference ordering
    val refTop = ref
      .withColumn("rr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("ref_score").desc, col("doc_id"))).cast("long"))
      .filter(col("rr") <= 10)
    assert(out.join(refTop.select(col("query_id"), col("doc_id"),
        col("rr")), Seq("query_id", "doc_id"))
      .filter(col("rr") =!= col("rnk")).isEmpty)
    assert(refTop.join(out, Seq("query_id", "doc_id"), "left_anti").isEmpty)
  }

  test("mmr diversify: greedy picks replay exactly on the driver") {
    val out = Similarity.mmrDiversify(spark, sf).cache()
    assert(out.count() == 25)
    assert(out.groupBy("query_id").count()
      .filter(col("count") =!= 5).isEmpty)
    // picks are distinct per query
    assert(out.groupBy("query_id", "vec_id").count()
      .filter(col("count") > 1).isEmpty)
    // replay the greedy selection on the driver for every query from
    // the same pool/sims definitions (same double arithmetic:
    // 0.7*rel - 0.3*maxsim) and demand the identical pick sequence
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = all.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rel", Similarity.cosine(col("qv"), col("v")))
    import org.apache.spark.sql.expressions.Window
    val pool = scored
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("r") <= 20)
      .select(col("query_id"), col("vec_id"), col("rel"), col("v"))
    val poolRows = pool.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3).toArray)).sortBy(_._1)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val expected = poolRows.flatMap { case (qid, cands) =>
      val nrm = cands.map(c => (c._1, math.sqrt(dot(c._3, c._3)))).toMap
      val rel = cands.map(c => (c._1, c._2)).toMap
      val vs = cands.map(c => (c._1, c._3)).toMap
      var sel = Vector(cands.minBy(c => (-c._2, c._1))._1)
      while (sel.size < 5) {
        val rest = cands.map(_._1).filterNot(sel.contains)
        val next = rest.map { d =>
          val ms = sel.map(s => dot(vs(d), vs(s)) / nrm(d) / nrm(s)).max
          (d, 0.7 * rel(d) - 0.3 * ms)
        }.minBy { case (d, m) => (-m, d) }._1
        sel = sel :+ next
      }
      sel.zipWithIndex.map { case (v, i) => (qid, v, (i + 1).toLong) }
    }.toSet
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("NDCG@10: literal weights need no runtime log, bounds hold, " +
      "and full recall is exactly ndcg = 1") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // the literal table IS the definition: w(1) = 1 and the IDCG
    // total matches the closed form sum(1/log2(r+1))
    assert(Similarity.NdcgWeights.head._2 == BigDecimal("1.000000000000"))
    assert(Similarity.NdcgIdcg > BigDecimal("4.54") &&
      Similarity.NdcgIdcg < BigDecimal("4.55"))
    val ndcg = Similarity.ndcgAt10(spark, sf).cache()
    val rm = Similarity.retrievalMetrics(spark, sf)
    assert(ndcg.filter(col("ndcg") < 0.0 || col("ndcg") > 1.0).isEmpty)
    // binary-gain identity: every result relevant <=> DCG = IDCG,
    // regardless of within-list order; zero hits <=> ndcg = 0
    val j = ndcg.join(rm, "query_id")
    assert(j.filter((col("recall") === 1.0) =!= (col("ndcg") === 1.0))
      .isEmpty)
    assert(j.filter((col("n_hits") === 0L) =!= (col("ndcg") === 0.0))
      .isEmpty)
    ndcg.unpersist()
  }

  test("recall curve: hits are nondecreasing in k and the k=10 point " +
      "reconciles with retrieval_metrics' total") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val rc = Similarity.recallCurve(spark, sf).orderBy("k").collect()
    assert(rc.length == 10)
    val hits = rc.map(_.getLong(1))
    assert(hits.sliding(2).forall { case Array(a, b) => b >= a
      case _ => true }, "hits@k must be nondecreasing")
    val total = Similarity.retrievalMetrics(spark, sf)
      .agg(sum("n_hits")).head.getLong(0)
    assert(hits.last == total,
      s"hits@10 = ${hits.last}, retrieval_metrics total = $total")
    assert(rc.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("srp pair memo: the multiprobe consumers share one verified " +
      "pair artifact per family, and thresholded views are filters " +
      "over it") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    Similarity.annLshMultiProbe(spark, sf).count() // seeds the artifact
    val n0 = graft.operators.Artifacts.count("srp_pairs")
    Similarity.knnGraph(spark, sf).count()
    Similarity.knnGraphScaled(spark, sf).count()
    assert(graft.operators.Artifacts.count("srp_pairs") == n0,
      "a multiprobe consumer re-ran the banded join instead of sharing")
    // the thresholded view is a filter over the unfloored artifact
    val floored = Similarity.annLshMultiProbe(spark, sf, threshold = 0.3)
    val unfloored = Similarity.annLshMultiProbe(spark, sf,
      threshold = Double.NegativeInfinity)
    assert(floored.exceptAll(unfloored.filter(col("cos") >= 0.3)).isEmpty)
    assert(unfloored.filter(col("cos") >= 0.3).exceptAll(floored).isEmpty)
  }
}
