package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup: every doc keeps a canonical, no false dups") {
    val e = Dedup.exact(spark, sf).cache()
    assert(e.count() == Tables.documents(spark, sf).count())
    // canonical is always <= doc_id and from the same fp group
    assert(e.filter(col("canonical_id") > col("doc_id")).isEmpty)
    // corpus has no exact dups → everyone is their own canonical
    assert(e.filter(col("is_dup")).count() ==
      e.count() - e.select("fp").distinct().count())
  }

  test("incremental dedup: two-run store composition equals one-shot " +
      "exact dedup, decision job never re-reads run-1 text, and " +
      "store signatures alone surface a planted cross-run near-dup") {
    import spark.implicits._
    import graft.operators.IncrementalDedup
    // planted corpus: run 1 (small ids) and run 2 (large ids) with an
    // exact dup inside run 1, an exact dup across runs, an exact dup
    // inside run 2, and a near-dup pair across runs
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the rain keeps falling on the quiet gray town all day"
    val docs = Seq(
      (1L, base), (2L, base),                       // dup inside run 1
      (3L, "completely unrelated text about spark plans and shuffles " +
        "partitions codegen and adaptive execution at massive scale"),
      (10L, base),                                  // dup of run 1 across runs
      (11L, base.replace("gray", "grey")),          // near-dup of run 1
      (12L, "another standalone document with its own words entirely"),
      (13L, "another standalone document with its own words entirely"))
      .toDF("doc_id", "text")
    val dir = TempDirs.create("graft_fp_store_spec").toString
    val run1 = docs.filter(col("doc_id") < 10)
    val run2 = docs.filter(col("doc_id") >= 10)
    IncrementalDedup.writeFingerprints(run1, dir, "r1")
    val store = spark.read.parquet(s"$dir/fp")
    val got = IncrementalDedup.decideWithStore(store, run2)
    // equality with the one-shot rule: canonical = global min per fp
    val oneShot = docs
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("canonical_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
    assert(got.count() == docs.count())
    assert(got.except(oneShot).isEmpty && oneShot.except(got).isEmpty,
      "incremental composition drifted from one-shot exact dedup")
    // artifact-only property: ONE text scan (the new batch) in the
    // decision plan — run-1 rows come from the fingerprint store
    val scans = got.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Scan")).mkString("\n")
    assert(scans.contains("graft_fp_store_spec"), s"store not scanned:\n$scans")
    // near-dup across runs from persisted signatures only (old text
    // untouched): one word swapped in ~20 flips 3 of ~20 shingles, so
    // true jaccard ≈ 0.74 — probe at τ=0.5 where recall is certain
    val near = IncrementalDedup.sigDupAgainstStore(store, run2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.contains((1L, 11L)) || near.contains((2L, 11L)),
      s"planted cross-run near-dup not surfaced: $near")
    // exact cross-run dup is also a signature dup at agreement 1.0
    assert(near.exists(_._2 == 10L), s"exact dup missing from sig path: $near")
    // registry entry end-to-end on the real corpus: same row count as
    // the corpus, no canonical above its doc
    val reg = IncrementalDedup.incrementalExact(spark, sf).cache()
    assert(reg.count() == Tables.documents(spark, sf).count())
    assert(reg.filter(col("canonical_id") > col("doc_id")).isEmpty)
  }

  test("ngram jaccard finds the planted near-dup pairs") {
    val pairs = Dedup.ngramJaccard(spark, sf, 0.5).cache()
    assert(pairs.count() > 0)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).isEmpty)
    assert(pairs.filter(col("jaccard") < 0.5 || col("jaccard") > 1.0).isEmpty)
  }

  test("ngram jaccard memo: repeat calls serve the identical " +
      "checkpointed artifact, and its content equals the un-memoized " +
      "pipeline") {
    val a = Dedup.ngramJaccard(spark, sf, 0.5)
    val b = Dedup.ngramJaccard(spark, sf, 0.5)
    assert(a eq b, "second call re-trained instead of serving the memo")
    val direct = Dedup.ngramJaccardOver(
      Dedup.shinglesOf(Tables.documents(spark, sf)), 0.5)
    assert(a.exceptAll(direct).isEmpty && direct.exceptAll(a).isEmpty,
      "memoized pairs drifted from the direct pipeline")
    // a different threshold is a different artifact, not a collision
    assert(!(Dedup.ngramJaccard(spark, sf, 0.9) eq a))
  }

  test("pair-stats memo is shared across the exact near-dup " +
      "consumers: containment, sweep, and planner add no new " +
      "entries beyond the (corpus, maxDf) artifact") {
    Dedup.ngramJaccard(spark, sf, 0.5) // seeds the stats artifact
    val n0 = graft.operators.Artifacts.count("dedup_pair_stats")
    Dedup.ngramContainment(spark, sf).count()
    Dedup.dedupSweep(spark, sf).count()
    Dedup.lshParamPlanner(spark, sf).count()
    assert(graft.operators.Artifacts.count("dedup_pair_stats") == n0,
      "a consumer re-trained its own pair stats instead of sharing")
  }

  test("minhash LSH recalls every jaccard>=0.9 pair") {
    val truth = Dedup.ngramJaccard(spark, sf, 0.9)
      .select("doc_a", "doc_b")
    val lsh = Dedup.minhashLsh(spark, sf, 0.8).select("doc_a", "doc_b")
    val missed = truth.exceptAll(lsh)
    assert(missed.isEmpty,
      s"LSH missed ${missed.count()} of ${truth.count()} true pairs")
  }

  test("minhash LSH has no false positives below threshold") {
    val lsh = Dedup.minhashLsh(spark, sf, 0.8)
    assert(lsh.filter(col("jaccard") < 0.8).isEmpty)
  }

  test("clusters: members of a pair share a cluster, singletons are their own") {
    val cl = Dedup.clusters(spark, sf).cache()
    assert(cl.count() == Tables.documents(spark, sf).count())
    val pairs = Dedup.ngramJaccard(spark, sf, 0.5)
    val a = cl.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("cluster_id", "ca")
    val b = cl.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("cluster_id", "cb")
    assert(pairs.join(a, "doc_a").join(b, "doc_b")
      .filter(col("ca") =!= col("cb")).isEmpty)
    // cluster id is always the minimum member
    assert(cl.filter(col("cluster_id") > col("doc_id")).isEmpty)
  }

  test("distributed CC path matches the driver union-find path") {
    import org.apache.spark.sql.functions.col
    val verts = Tables.documents(spark, sf).select(col("doc_id"))
    val edges = Dedup.ngramJaccard(spark, sf, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val small = Dedup.componentsOver(verts, edges, 20) // driver union-find
    val dist = Dedup.componentsOver(verts, edges, 20, driverCutoff = 0)
    assert(small.exceptAll(dist).isEmpty && dist.exceptAll(small).isEmpty,
      "driver and distributed components disagree")
  }

  test("a warm dedup_clusters call runs at most 1 Spark job") {
    def call(): Unit = SparkEntry.queries("dedup_clusters")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    call() // builds the memoized cluster assignment
    val n = jobsOf(call())
    assert(n <= 1, s"warm dedup_clusters ran $n jobs")
  }

  test("dedup_clusters frees the pair stats' (s, df) cache once its " +
      "build has run") {
    import graft.operators.Scratch
    val dir = linkedSf()
    SparkEntry.queries("dedup_clusters")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    Scratch.release(spark)
    // the df aggregation `pairStats` builds over the corpus shingles
    val dfs = Dedup.shinglesOf(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    // storageLevel is the cache manager's lookup of the plan
    assert(dfs.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the (s, df) frame is still cached")
  }

  test("dedup_clusters over zero-row documents returns an empty frame " +
      "with the sf0.001 schema") {
    val want = SparkEntry.queries("dedup_clusters")(spark, sf).schema
    val got = SparkEntry.queries("dedup_clusters")(spark,
      emptiedSf("documents.parquet"))
    assert(got.schema == want, s"${got.schema} vs $want")
    assert(got.count() == 0)
  }

  test("both CC paths collapse a diameter-99 chain to one cluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val verts = (0L until 100L).toDF("doc_id")
    val edges = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for (cutoff <- Seq(0L, 1000L)) { // distributed loop, then union-find
      val cl = Dedup.componentsOver(verts, edges, 20, driverCutoff = cutoff)
      assert(cl.filter(col("cluster_id") =!= 0L).isEmpty,
        s"cutoff=$cutoff: chain not fully collapsed to min id 0")
    }
  }

  test("stop-shingle df-cap bounds candidates under one ultra-hot shingle; " +
      "jaccard still verified on full sets") {
    import spark.implicits._
    // 200 docs ALL sharing one boilerplate shingle; without the cap the
    // candidate join would emit 200·199/2 ≈ 20k pairs off that single
    // key. One planted near-dup pair rides rare shingles.
    val docs = (0 until 200).map { i =>
      val own =
        if (i == 0) (0 until 26).map(k => s"shared_$k") ++ Seq("a1", "a2", "a3", "a4")
        else if (i == 1) (0 until 26).map(k => s"shared_$k") ++ Seq("b1", "b2", "b3", "b4")
        else (0 until 30).map(k => s"doc${i}_$k")
      (i.toLong, Seq("hot") ++ own)
    }
    val shd = docs.toDF("doc_id", "sh")
    val pairs = Dedup.ngramJaccardOver(shd, 0.5, maxDf = 100).collect()
    // only the planted pair survives: the hot shingle (df=200) is
    // dropped from candidate KEYING, so no hot-only pair is generated
    assert(pairs.length == 1, s"expected 1 pair, got ${pairs.length}")
    val r = pairs.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L)
    // n_common counts the FULL intersection including the capped
    // shingle: 26 shared + hot = 27 of |union| = 35
    assert(r.getLong(2) == 27L, s"n_common=${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 27.0 / 35.0) < 1e-12)
  }

  test("threshold-matched banding: measured recall on planted borderline " +
      "pairs beats the mis-tuned banding and clears the declared floor") {
    import spark.implicits._
    val rnd = new scala.util.Random(12345)
    val n = 120
    // shared-count m → jaccard m/(2n−m): spans 0.45..0.76 around τ=0.5
    val ms = Seq(74, 80, 84, 88, 92, 96, 100, 104)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val truth = scala.collection.mutable.Set.empty[(Long, Long)]
    var id = 0L
    for (m <- ms; _ <- 0 until 4) {
      val universe = Seq.fill(2 * n - m)(s"tok_${rnd.nextLong()}")
      buf += ((id, universe.take(n)))
      buf += ((id + 1, universe.takeRight(n)))
      if (m.toDouble / (2 * n - m) >= 0.5) truth += ((id, id + 1))
      id += 2
    }
    val shd = buf.toSeq.toDF("doc_id", "sh").cache()
    def recallOf(banding: Option[(Int, Int)]): Double = {
      val got = Dedup.minhashLshOver(shd, 0.5, banding)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.count(got.contains).toDouble / truth.size
    }
    val tuned = recallOf(None) // bandingFor(0.5) = 32×4
    val misTuned = recallOf(Some((16, 8))) // the τ≈0.8 banding
    info(f"tuned 32x4 recall=$tuned%.3f, mis-tuned 16x8 recall=$misTuned%.3f " +
      s"on ${truth.size} borderline pairs")
    // S-curve predicts ~0.87 per pair at j=0.5 rising to ~0.99 at 0.6
    // for 32×4, vs ~0.06–0.3 for 16×8; pin the measured floor
    assert(tuned >= 0.80, f"tuned banding recall $tuned%.3f below floor 0.80")
    assert(misTuned < 0.5, f"mis-tuned recall $misTuned%.3f unexpectedly high")
    assert(tuned > misTuned)
    // precision invariant: every surfaced pair is verified ≥ τ exactly
    val verified = Dedup.minhashLshOver(shd, 0.5, None)
    assert(verified.filter(col("jaccard") < 0.5).isEmpty)

    // the q_dedup_metrics report reproduces exactly these numbers as
    // a queryable row: precision 1.0 always (both sides exact-verify
    // at τ), recall = the measured banding recall — so the report
    // DISCRIMINATES a tuned banding from a mis-tuned one
    def report(banding: Option[(Int, Int)]): (Long, Long, Long, Double, Double) = {
      val r = Dedup.dedupMetricsOver(shd, 0.5, banding).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    val (nt, nf, nh, p, r) = report(None)
    assert(nt == truth.size.toLong)
    assert(p == 1.0 && nh == nf)
    assert(math.abs(r - tuned) < 1e-12,
      f"report recall $r%.3f != measured $tuned%.3f")
    val (_, _, _, pMis, rMis) = report(Some((16, 8)))
    assert(pMis == 1.0 || pMis == 0.0)
    assert(math.abs(rMis - misTuned) < 1e-12)
    assert(r > rMis)
    shd.unpersist()
  }

  test("span dedup: planted cross-doc span is counted, unique text is not") {
    import spark.implicits._
    // words must be letter-only: the wc.go word split drops digits
    def ws(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val shared = ws("common", 12).mkString(" ") // 12 words → 3 10-grams
    val docs = Seq(
      (0L, shared + " " + ws("alpha", 20).mkString(" ")),
      (1L, ws("beta", 20).mkString(" ") + " " + shared),
      (2L, ws("gamma", 30).mkString(" ")), // fully unique
      (3L, "too short")                    // < spanWords words
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedupOver(docs, 10).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // doc0: 32 words → 23 spans; the 3 spans fully inside the shared
    // run also occur in doc1 → n_dup_spans = 3
    assert(r(0L)._1 == 23L && r(0L)._2 == 3L, s"doc0=${r(0L)}")
    assert(r(1L)._1 == 23L && r(1L)._2 == 3L, s"doc1=${r(1L)}")
    assert(r(2L) == ((21L, 0L, 0.0)), s"doc2=${r(2L)}")
    assert(r(3L) == ((0L, 0L, 0.0)), s"doc3=${r(3L)}")
    assert(math.abs(r(0L)._3 - 3.0 / 23.0) < 1e-12)
  }

  test("span clean: planted boilerplate run is excised from both docs, " +
      "unique and short docs pass through verbatim") {
    import spark.implicits._
    def ws(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val shared = ws("common", 12).mkString(" ")
    val alpha = ws("alpha", 20).mkString(" ")
    val beta = ws("beta", 20).mkString(" ")
    val gamma = ws("gamma", 30).mkString(" ")
    val docs = Seq(
      (0L, shared + " " + alpha),
      (1L, beta + " " + shared),
      (2L, gamma),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val r = Dedup.spanCleanOver(docs, 10).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // the 3 repeated 10-grams of the 12-word shared run cover exactly
    // its 12 positions — the boilerplate vanishes, the payload stays
    assert(r(0L) == ((32L, 12L, alpha)), s"doc0=${r(0L)}")
    assert(r(1L) == ((32L, 12L, beta)), s"doc1=${r(1L)}")
    assert(r(2L) == ((30L, 0L, gamma)), s"doc2=${r(2L)}")
    assert(r(3L) == ((2L, 0L, "too short")), s"doc3=${r(3L)}")
    // real corpus: removal accounting always balances
    val real = Dedup.spanClean(spark, sf).cache()
    assert(real.count() == Tables.documents(spark, sf).count())
    assert(real.filter(
      size(filter(split(col("text_clean"), "\\s+"), w => w =!= ""))
        =!= (col("n_words") - col("n_removed"))).isEmpty,
      "kept-word count != n_words - n_removed")
  }

  test("substring dedup: planted shared 50-char run yields one exact " +
      "50-char span; within-doc period splits into two islands") {
    import spark.implicits._
    // 3-char counter blocks: no accidental 32-gram repeats within or
    // across differently-prefixed runs
    def blocks(prefix: Char, n: Int): String =
      (0 until n).map(i => f"$prefix$i%02d").mkString
    val shared = blocks('S', 17).take(50)
    val x = blocks('R', 13) + "!" // 40 chars; X+X is 40-periodic
    val docs = Seq(
      // '!'/'?' boundary sentinels: block runs both end in digits, so
      // without them a shared trailing digit would extend the match
      (0L, blocks('A', 14) + "!" + shared + "!" + blocks('B', 14)),
      (1L, blocks('C', 14) + "?" + shared + "?" + blocks('D', 14)),
      (2L, blocks('E', 30)), // fully unique
      (3L, "short"),         // < k chars
      (4L, x + x)            // within-doc repeat, no cross-doc match
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedupOver(docs, 32).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2)))).toMap
    // docs 0/1: the 19 consecutive duplicated 32-gram starts inside the
    // shared run merge to ONE span of exactly the shared 50 chars
    assert(r(0L) == ((1L, 50L)), s"doc0=${r(0L)}")
    assert(r(1L) == ((1L, 50L)), s"doc1=${r(1L)}")
    assert(r(2L) == ((0L, 0L)), s"doc2=${r(2L)}")
    assert(r(3L) == ((0L, 0L)), s"doc3=${r(3L)}")
    // doc4 = X+X (|X| = 40): grams at 1..9 match 41..49 (p+71 ≤ 80),
    // the gap at 10..40 splits the hits into two 40-char islands
    assert(r(4L) == ((2L, 80L)), s"doc4=${r(4L)}")
  }

  test("substring dedup plan: occurrence count partial-aggregates on " +
      "the shingle hash; a corpus-wide hot shingle stays correct") {
    import spark.implicits._
    // plan shape (corpus path): the occurrence counts arrive
    // PRE-AGGREGATED from the shared store with the c >= 2 filter
    // pushed into the parquet scan; the only window left is the
    // per-doc gaps-and-islands fold — never a window keyed on h
    val df = Dedup.substringDedup(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(c,2)"),
      s"count threshold not pushed to the store scan:\n$plan")
    val winOnH = plan.linesIterator
      .filter(l => l.contains("Window") && l.matches(""".*\[h#\d+L?\].*"""))
    assert(winOnH.isEmpty, s"window keyed on h: ${winOnH.mkString("; ")}")
    // the spec/Over path still computes the counts inline: the hash
    // aggregate keyed on h (map-side combine collapses a hot shingle
    // to one row per task) must be in ITS plan
    val overPlan = Dedup.substringDedupOver(
        Tables.documents(spark, sf), 32)
      .queryExecution.executedPlan.toString
    assert(overPlan.contains("HashAggregate(keys=[h#"),
      s"no partial aggregate on the shingle hash:\n$overPlan")
    graft.operators.Scratch.release(spark)
    // planted boilerplate: ONE 40-char run shared by every doc (the
    // licence-header case: a single hash key carrying 64 × 9 hits) —
    // each doc reports exactly that span. The char after the boiler is
    // UNIQUE per doc ('0'+d, 64 distinct), so the span cannot extend;
    // the tail's 4-char doc-namespaced counter blocks ("DDII") make
    // every later 32-gram doc-unique.
    def blocks(prefix: Char, n: Int): String =
      (0 until n).map(i => f"$prefix$i%02d").mkString
    val boiler = blocks('Z', 14).take(40)
    val docs = (0L until 64L)
      .map(d => (d, boiler + ('0' + d).toChar +
        (0 until 20).map(i => f"$d%02d$i%02d").mkString))
      .toDF("doc_id", "text")
    val r = Dedup.substringDedupOver(docs, 32).collect()
    assert(r.length == 64)
    assert(r.forall(row => row.getLong(1) == 1L && row.getLong(2) == 40L),
      s"hot-shingle spans wrong: ${r.take(5).mkString(", ")}")
  }

  test("substring spans: planted shared runs are delimited maximally " +
      "per pair and diagonal; sub-minLen and over-cap grams yield " +
      "nothing") {
    import spark.implicits._
    def blocks(prefix: Char, n: Int): String =
      (0 until n).map(i => f"$prefix$i%02d").mkString
    val sharedA = blocks('S', 20).take(60)
    val sharedB = blocks('T', 17).take(50)
    val sharedC = blocks('U', 14).take(40) // ≥ k but < minLen 48
    // sentinels ('!' vs '?') stop any match from extending past the
    // planted runs; distinct prefixes keep filler 32-grams unique
    val u1 = blocks('A', 10) + "!"
    val u2 = blocks('B', 12) + "!"
    val u3 = blocks('C', 14) + "?"
    val u4 = blocks('D', 16) + "?"
    val base = Seq(
      (1L, u1 + sharedA + "!" + u2 + sharedB + "!" + blocks('E', 10)),
      (2L, u3 + sharedA + "?" + u4 + sharedB + "?" + blocks('F', 10)),
      (3L, blocks('G', 10) + "!" + sharedC + "!" + blocks('H', 10)),
      (4L, blocks('I', 10) + "?" + sharedC + "?" + blocks('J', 10)))
    // 50 docs sharing a 50-char boilerplate block: its grams occur
    // 50 > maxOcc=32 times — the hot-gram cap must drop them all
    val hot = blocks('K', 17).take(50)
    val docs = (base ++ (10L until 60L).map(d => (d,
      hot + ('0' + (d - 10)).toChar +
        (0 until 12).map(i => f"$d%02d$i%02d").mkString)))
      .toDF("doc_id", "text")
    val r = Dedup.substringSpansOver(docs, 32, 32, 48).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).toSet
    val sB1 = u1.length + sharedA.length + 1 + u2.length
    val sB2 = u3.length + sharedA.length + 1 + u4.length
    val expect = Set(
      (1L, 2L, (u1.length + 1).toLong, (u3.length + 1).toLong, 60L),
      (1L, 2L, (sB1 + 1).toLong, (sB2 + 1).toLong, 50L))
    assert(r == expect, s"spans $r != $expect")
  }

  test("simhash pairs are within the hamming bound and ordered") {
    val s = Dedup.simhash(spark, sf, 3).cache()
    assert(s.filter(col("hamming") > 3).isEmpty)
    assert(s.filter(col("doc_a") >= col("doc_b")).isEmpty)
  }

  test("embedding near-dup pairs respect the cosine threshold") {
    val e = Dedup.embeddingNearDupLsh(spark, sf, 0.45).cache()
    assert(e.filter(col("cos") < 0.45 || col("cos") > lit(1.0000001)).isEmpty)
    assert(e.filter(col("vec_a") >= col("vec_b")).isEmpty)
  }

  test("pagerank: isolated docs hold the teleport mass, edges raise it, " +
      "scores reproduce exactly") {
    val pr = Dedup.pageRank(spark, sf).cache()
    assert(pr.count() == Tables.documents(spark, sf).count())
    // no edges → pr = 0.15 at every iteration, exactly
    assert(pr.filter(col("deg") === 0 && col("pagerank") =!= 0.15).isEmpty)
    // connected docs receive real mass on top of the teleport
    val connected = pr.filter(col("deg") > 0)
    assert(connected.count() > 0)
    assert(connected.filter(col("pagerank") <= 0.15).isEmpty)
    // decimal-domain message passing ⇒ bit-identical rerun
    val again = Dedup.pageRank(spark, sf)
    assert(pr.exceptAll(again).isEmpty && again.exceptAll(pr).isEmpty)
  }

  test("pagerank converged: the stop test fires at a true fixed point — " +
      "one more fixed-round unroll changes nothing") {
    val out = Dedup.pageRankConverged(spark, sf).cache()
    assert(out.count() == Tables.documents(spark, sf).count())
    val head = out.select("n_iters", "converged").first()
    val n = head.getLong(0).toInt
    assert(head.getBoolean(1), s"did not converge within the cap ($n)")
    // the certificate, measured independently through the public
    // fixed-round API: iteration n and n+1 produce IDENTICAL score
    // vectors (eps = 0 stops only on the exact round-9 lattice point)
    val atN = Dedup.pageRank(spark, sf, iters = n)
    val atN1 = Dedup.pageRank(spark, sf, iters = n + 1)
    assert(atN.exceptAll(atN1).isEmpty && atN1.exceptAll(atN).isEmpty,
      "converged flag lied: one more round still moves scores")
    // and the converged output IS the fixed-round result at n
    val scores = out.select("doc_id", "pagerank", "deg")
    assert(scores.exceptAll(atN).isEmpty && atN.exceptAll(scores).isEmpty)
    out.unpersist()
  }

  test("triangles: degree-ordered wedge count equals the brute-force " +
      "id-ordered enumeration") {
    val tri = Dedup.triangles(spark, sf).cache()
    assert(tri.count() > 0)
    // each triangle contributes one count at each of its three corners
    assert(tri.agg(sum("n_tri")).head().getLong(0) % 3 == 0)
    // brute force: enumerate a<b<c closed triples over the same edges
    val e = Dedup.ngramJaccard(spark, sf)
      .select(col("doc_a"), col("doc_b")).cache()
    val t = e.as("e1")
      .join(e.as("e2"), col("e2.doc_a") === col("e1.doc_a")
        && col("e2.doc_b") > col("e1.doc_b"))
      .join(e.as("e3"), col("e3.doc_a") === col("e1.doc_b")
        && col("e3.doc_b") === col("e2.doc_b"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
        col("e2.doc_b").as("c"))
    val brute = t.select(col("a").as("doc_id"))
      .unionByName(t.select(col("b").as("doc_id")))
      .unionByName(t.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    assert(tri.exceptAll(brute).isEmpty && brute.exceptAll(tri).isEmpty)
  }

  test("bfs hops: frontier BFS equals the cumulative min-hop recurrence, " +
      "anchor sits at hop 0, and adjacent nodes differ by at most one hop") {
    val iters = 4
    val hops = Dedup.bfsHops(spark, sf, iters).cache()
    val e = Dedup.ngramJaccard(spark, sf)
      .select(col("doc_a"), col("doc_b")).cache()
    val sym = e.unionByName(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // exactly one node at hop 0: the minimum id in the edge set
    val anchors = hops.filter(col("hop") === 0).collect()
    assert(anchors.length == 1)
    assert(anchors(0).getLong(0) ==
      sym.agg(min("doc_a")).head().getLong(0))
    // adjacency ⇒ |hop difference| ≤ 1 wherever both endpoints settled
    val both = sym
      .join(hops.select(col("doc_id").as("doc_a"), col("hop").as("ha")), "doc_a")
      .join(hops.select(col("doc_id").as("doc_b"), col("hop").as("hb")), "doc_b")
    assert(both.filter(abs(col("ha") - col("hb")) > 1
      && col("ha") < iters && col("hb") < iters).isEmpty)
    // independent replay: the O(E·iters) cumulative min-hop recurrence
    var dist = hops.filter(col("hop") === 0).select("doc_id", "hop")
    for (_ <- 1 to iters) {
      dist = dist.unionByName(
          sym.join(dist.select(col("doc_id").as("doc_a"), col("hop")), "doc_a")
            .select(col("doc_b").as("doc_id"), (col("hop") + 1).as("hop")))
        .groupBy("doc_id").agg(min("hop").as("hop"))
        .localCheckpoint()
    }
    assert(hops.exceptAll(dist).isEmpty && dist.exceptAll(hops).isEmpty)
  }

  test("kcore: the planted triangle survives the peel, the pendant chain " +
      "does not, and the real-corpus peel has converged at the gate depth") {
    import spark.implicits._
    // triangle 1-2-3 plus a chain 3-4-5-6 hanging off it: rounds peel
    // 6, then 5, then 4; the triangle keeps mutual degree 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L)).toDF("doc_a", "doc_b")
    val core = Dedup.kcoreOver(edges, 2, 4).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(Set(1L, 2L, 3L).forall(id => core(id) == ((true, 2L))),
      s"triangle should survive with core_deg 2: $core")
    assert(Set(4L, 5L, 6L).forall(id => core(id) == ((false, 0L))),
      s"chain should peel off completely: $core")
    // real corpus: the fixed gate depth IS the fixpoint (one more
    // round changes nothing) — the loud-convergence condition that
    // licenses the unrolled oracle
    val r4 = Dedup.kcore(spark, sf, 2, 4).cache()
    val r5 = Dedup.kcore(spark, sf, 2, 5)
    assert(r4.exceptAll(r5).isEmpty && r5.exceptAll(r4).isEmpty,
      "k-core peel has not converged by round 4 at the gate SF")
    // membership is consistent: in_core ⇔ core_deg ≥ 2
    assert(r4.filter(col("in_core") =!= (col("core_deg") >= 2)).isEmpty)
  }

  test("label propagation: chains spread one hop per round, ties break " +
      "label-ascending, and assigned labels clamp") {
    import spark.implicits._
    // chain: seed 0(en) - 1 - 2 - 3 spreads en at rounds 1, 2, 3;
    // node 10 has two seeded neighbors with distinct labels (fr from
    // 8, de from 9) → tie at count 1 breaks to 'de' < 'fr';
    // node 20 is isolated from every seed → unlabeled
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 10L), (9L, 10L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val seeds = Seq((0L, "en"), (8L, "fr"), (9L, "de")).toDF("doc_id", "label")
    val out = Dedup.labelPropOver(edges, seeds, 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(0L) == (("en", 0L)) && out(1L) == (("en", 1L))
      && out(2L) == (("en", 2L)) && out(3L) == (("en", 3L)),
      s"chain spread wrong: $out")
    assert(out(10L) == (("de", 1L)), s"tie should break to 'de': $out")
    assert(out(20L) == (("unlabeled", -1L))
      && out(21L) == (("unlabeled", -1L)), s"isolated pair labeled: $out")
    // clamping: node 1 keeps 'en' even though 'de'-labeled 10 could
    // never outvote it later (labels never re-open once set) — replay
    // with more rounds, nothing already-labeled changes
    val more = Dedup.labelPropOver(edges, seeds, 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.forall { case (id, v) => more(id) == v })
    // real corpus: every seed keeps its own document's lang
    val real = Dedup.labelProp(spark, sf).cache()
    val seedsKeepLang = real
      .filter(col("doc_id") % 4 === 0 && col("rnd") === 0)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("lang")),
        "doc_id")
      .filter(col("label") =!= col("lang"))
    assert(seedsKeepLang.isEmpty)
    assert(real.filter(col("rnd") >= 1).count() > 0,
      "no label ever propagated on the real corpus")
  }

  test("label propagation converged: the stop fires at the monotone " +
      "fixed point, certifies it, and agrees with the fixed-round twin") {
    import spark.implicits._
    // a 5-chain off one seed converges in exactly 5 productive rounds
    // + 1 empty detection round; the isolated pair stays unlabeled
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val seeds = Seq((0L, "en")).toDF("doc_id", "label")
    val out = Dedup.labelPropConvergedOver(edges, seeds, 30).cache()
    val rows = out.collect()
    assert(rows.forall(_.getBoolean(4)), "cap hit before convergence")
    val nRounds = rows.head.getLong(3)
    assert(nRounds == 6L,
      s"5-chain: 5 spread rounds + 1 empty detection round, got $nRounds")
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2)))).toMap
    (0 to 5).foreach(i =>
      assert(byId(i.toLong) == (("en", i.toLong)), s"chain wrong at $i"))
    assert(byId(20L)._1 == "unlabeled" && byId(21L)._1 == "unlabeled")
    // the CERTIFICATE: one more round from the converged label set
    // labels nobody — replay the fixed variant past the fixed point
    val replay = Dedup.labelPropOver(edges, seeds, nRounds.toInt + 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(byId.forall { case (id, v) => replay(id) == v },
      "the converged state is not a fixed point")
    // trajectory agreement with the fixed-round twin on shared rounds
    val twin = Dedup.labelPropOver(edges, seeds, 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(byId.filter(_._2._2 <= 3L).forall {
      case (id, v) => twin(id) == v })
    out.unpersist()
    // real corpus: converges under the cap and matches the gated
    // 3-round twin on every rnd ≤ 3 label
    val real = Dedup.labelPropConverged(spark, sf).cache()
    assert(real.head().getBoolean(4), "real corpus hit the round cap")
    val fixed = Dedup.labelProp(spark, sf)
      .select(col("doc_id"), col("label").as("l3"), col("rnd").as("r3"))
    val drift = real.filter(col("rnd").between(0L, 3L))
      .join(fixed, "doc_id")
      .filter(col("label") =!= col("l3") || col("rnd") =!= col("r3"))
    assert(drift.isEmpty, "converged run drifted from the fixed twin")
    real.unpersist()
  }

  test("modularity: the planted two-community graph pins Q = 0.21875; " +
      "terms cover every labeled community") {
    import spark.implicits._
    // A = {1,2,3} chained, B = {4,5}, one cross edge 3-4: m = 4,
    // e_A=2 d_A=5, e_B=1 d_B=3 -> Q = (2/4 - (5/8)^2) + (1/4 - (3/8)^2)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val labels = Seq(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b",
      5L -> "b").toDF("doc_id", "lang")
    val out = Dedup.modularityOver(edges, labels).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size == 2)
    assert(out("a").getAs[Long]("e_within") == 2L &&
      out("a").getAs[Long]("d_c") == 5L)
    assert(out("b").getAs[Long]("e_within") == 1L &&
      out("b").getAs[Long]("d_c") == 3L)
    assert(out("a").getAs[Double]("q") == 0.21875)
    // real corpus: Q defined, every lang with an endpoint has a row
    val real = Dedup.modularity(spark, sf).collect()
    assert(real.nonEmpty && real.forall(r => !r.isNullAt(4)))
  }

  test("containment catches the planted subset pair that jaccard misses") {
    import spark.implicits._
    val small = (1 to 20).map(i => s"sub_$i")
    val big = small ++ (1 to 80).map(i => s"big_$i")
    val other = (1 to 60).map(i => s"oth_$i")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "sh")
    val cont = Dedup.ngramContainmentOver(docs, 0.8).collect()
    assert(cont.length == 1, s"expected exactly the planted pair: ${cont.toSeq}")
    assert(cont(0).getLong(0) == 1L && cont(0).getLong(1) == 2L)
    assert(cont(0).getLong(2) == 20L)     // |∩| = the whole small doc
    assert(cont(0).getDouble(3) == 1.0)   // containment over min(|A|,|B|)
    // jaccard on the same corpus: 20/100 = 0.2 — below any usable τ
    assert(Dedup.ngramJaccardOver(docs, 0.5).isEmpty)
    // and the real corpus keeps the verifier's ordering + bound contracts
    val real = Dedup.ngramContainment(spark, sf, 0.8).cache()
    assert(real.filter(col("doc_a") >= col("doc_b")).isEmpty)
    assert(real.filter(
      col("containment") < 0.8 || col("containment") > 1.0).isEmpty)
    // every jaccard pair is a containment pair at equal-or-lower τ:
    // |∩|/min ≥ |∩|/union, so jaccard ≥ 0.8 ⊆ containment ≥ 0.8
    val jac = Dedup.ngramJaccard(spark, sf, 0.8).select("doc_a", "doc_b")
    assert(jac.exceptAll(real.select("doc_a", "doc_b")).isEmpty)
  }

  test("CDC chunking: chunks tile each document, and an early insertion " +
      "leaves the chunk tail identical (shift resistance)") {
    import spark.implicits._
    val c = Dedup.cdcChunks(spark, sf).cache()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("n"))
    val tiling = c.groupBy("doc_id")
      .agg(sum(col("chunk_len")).as("s"),
        max(col("start") + col("chunk_len") - 1).as("e"),
        min(col("start")).as("st"))
      .join(docs, "doc_id")
    assert(tiling.filter(col("s") =!= col("n") || col("e") =!= col("n")
      || col("st") =!= 1L).isEmpty)
    c.unpersist()
    // shift resistance: prepend an insertion; boundaries resync at the
    // first content-defined cut, so the chunk-hash TAILS coincide —
    // the property fixed-size blocks lack
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val pair = Seq((1L, base), (2L, "INSERTED PREFIX " + base))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunksOver(pair).cache()
    def hashes(id: Long): Array[String] = out
      .filter(col("doc_id") === id).orderBy("chunk_idx")
      .select("chunk_hash").as[String].collect()
    val (h1, h2) = (hashes(1L), hashes(2L))
    val tail = h1.reverse.zip(h2.reverse).takeWhile { case (a, b) => a == b }
    assert(tail.length >= 1,
      s"no shared tail after early insertion: ${h1.length}/${h2.length}")
    out.unpersist()
  }

  test("chunk store stats: totals reconcile with the chunk rows and the " +
      "dedup ratio is logical over stored") {
    val s = Dedup.chunkStoreStats(spark, sf).head()
    val c = Dedup.cdcChunks(spark, sf).cache()
    assert(s.getLong(0) == c.count())
    assert(s.getLong(1) == c.select("chunk_hash").distinct().count())
    assert(s.getLong(2) == c.agg(sum(col("chunk_len"))).head().getLong(0))
    assert(s.getLong(2) >= s.getLong(3) && s.getDouble(4) >= 1.0)
    c.unpersist()
  }

  test("dedup sweep: pair counts are monotone in the threshold, the " +
      "0.5 row agrees with dedup_ngram_jaccard, and drops <= affected") {
    val rows = Dedup.dedupSweep(spark, sf)
      .orderBy("t10").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    // monotone non-increasing as the threshold tightens
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) <= a.getLong(2), s"pairs not monotone: $a $b")
        assert(b.getLong(3) <= a.getLong(3))
      case _ => ()
    }
    // the 0.5 row is exactly the gated near-dup pair count
    assert(rows.head.getLong(2) == Dedup.ngramJaccard(spark, sf).count())
    // greedy drops can never exceed docs touched
    rows.foreach(r => assert(r.getLong(4) <= r.getLong(3), r.toString))
  }

  test("source overlap: a cross-source duplicate lands in ONE " +
      "normalized (least, greatest) cell and unrelated docs stay out") {
    import spark.implicits._
    val dir = TempDirs.create("graft_src_overlap").toString
    val dup = "alpha beta gamma delta epsilon"
    Seq((1L, dup, "web"), (2L, dup, "books"),
        (3L, "zeta eta theta iota kappa", "books"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.sourceOverlap(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3))))
    // one pair, sources normalized lexically: (books, web), jaccard 1
    assert(got.toSeq == Seq((("books", "web"), (1L, 1.0))),
      s"got ${got.toSeq}")
  }

  test("clustering coefficient: a clique-plus-pendant pins triangles, " +
      "wedges and C = 3T/W by hand") {
    import spark.implicits._
    // K4 on {1,2,3,4} (6 edges, 4 triangles) + pendant 4-5:
    // degrees (3,3,3,4,1) -> wedges = 3+3+3+6+0 = 15, C = 12/15 = 0.8
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val r = Dedup.clusteringCoeffOver(e).collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 15L &&
      r.getLong(2) == 4L)
    assert(r.getDouble(3) == 0.8, s"C = ${r.getDouble(3)}")
    // a pure chain has no triangles: C pins to 0
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val c = Dedup.clusteringCoeffOver(chain).collect()(0)
    assert(c.getLong(2) == 0L && c.getDouble(3) == 0.0)
  }

  test("assortativity: a star graph pins the textbook r = -1, a " +
      "regular graph null-guards on zero degree variance") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val r = Dedup.assortativityOver(star).collect()(0)
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == -1.0, s"r = ${r.getDouble(1)}")
    // a 4-cycle is 2-regular: zero degree variance -> NULL guard
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("doc_a", "doc_b")
    assert(Dedup.assortativityOver(cyc).collect()(0).isNullAt(1))
  }

  test("LSH S-curve: the squaring chain replays the closed form, " +
      "monotone from ~0 to ~1") {
    val out = Dedup.lshScurve(spark, sf).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    def closed(s: Double): Double = {
      val s2 = s * s; val s4 = s2 * s2
      val u = 1.0 - s4
      val u2 = u * u; val u4 = u2 * u2; val u8 = u4 * u4
      val u16 = u8 * u8
      BigDecimal(1.0 - u16 * u16)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(0.5) == closed(0.5), s"P(.5) = ${out(0.5)}")
    assert(out(0.05) < 0.001 && out(0.95) > 0.999)
    val ps = out.toSeq.sortBy(_._1).map(_._2)
    assert(ps.sliding(2).forall { case Seq(a, b) => b >= a
      case _ => true }, "the S-curve must be monotone")
  }

  test("capture-recapture: the overlap bounds hold and Chapman's " +
      "estimate dominates both single-method counts") {
    val r = Dedup.captureRecapture(spark, sf).collect()(0)
    val (n1, n2, m) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(m <= math.min(n1, n2), "overlap cannot exceed either sample")
    assert(m > 0, "the two detectors must agree on SOME pairs at this SF")
    // Chapman's estimate can never fall below either observed count
    assert(r.getDouble(3) >= math.max(n1, n2) - 1.0)
    // implied recalls are probabilities
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
  }

  test("lsh param planner: exactly one chosen config, it carries the " +
      "minimal cost, and fp/fn move monotonically with band count") {
    val r = Dedup.lshParamPlanner(spark, sf).orderBy("bands").collect()
    assert(r.length == 8)
    assert(r.count(_.getAs[Boolean]("chosen")) == 1)
    val chosen = r.find(_.getAs[Boolean]("chosen")).get
    assert(chosen.getAs[Double]("cost") ==
      r.map(_.getAs[Double]("cost")).min)
    // more bands (fewer rows per band) -> looser filter: fp can only
    // grow, fn can only shrink
    assert(r.sliding(2).forall(w =>
      w(0).getAs[Double]("fp_pairs") <= w(1).getAs[Double]("fp_pairs") + 1e-9),
      "fp not non-decreasing in bands")
    assert(r.sliding(2).forall(w =>
      w(0).getAs[Double]("fn_pairs") >= w(1).getAs[Double]("fn_pairs") - 1e-9),
      "fn not non-increasing in bands")
  }

  test("dup token waste: accounting reconciles with the cluster " +
      "assignment and the tokenize projection") {
    import org.apache.spark.sql.functions._
    val r = Dedup.dupTokenWaste(spark, sf).head
    val cl = Dedup.clusters(spark, sf).cache()
    assert(r.getLong(0) == cl.count())
    assert(r.getLong(1) ==
      cl.filter(col("doc_id") =!= col("cluster_id")).count())
    assert(r.getLong(3) <= r.getLong(2))
    val want = BigDecimal(r.getLong(3).toDouble / r.getLong(2).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("waste_share") == want)
    cl.unpersist()
  }
}
