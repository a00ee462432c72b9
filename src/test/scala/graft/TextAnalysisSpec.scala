package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  test("rake: the planted corpus pins deg/freq phrase scores by hand, " +
      "and no phrase ever contains a stopword") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // tokens: deep learning [is the] best deep learning method
    // deg/freq: deep 6/2=3, learning 3, best 4/1=4, method 4
    // phrases: "deep learning" = 6, "best deep learning method" = 14
    val docs = Seq((1L, "Deep learning is the best deep learning method"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.rakeOver(docs, 10, 4).collect()
    assert(out.length == 2, out.toSeq.toString)
    assert(out(0).getString(0) == "best deep learning method" &&
      out(0).getAs[Double]("score") == 14.0 &&
      out(0).getAs[Long]("n_words") == 4L)
    assert(out(1).getString(0) == "deep learning" &&
      out(1).getAs[Double]("score") == 6.0 &&
      out(1).getAs[Long]("n_occ") == 1L)
    // real corpus: top-20, stopword-free phrases, capped length
    val real = TextAnalysis.rakeKeywords(spark, sf).collect()
    assert(real.length == 20)
    real.foreach { r =>
      val ws = r.getString(0).split(" ")
      assert(ws.length <= 4 &&
        ws.forall(w => !TextAnalysis.RakeStops.contains(w)))
    }
  }

  test("vocab coverage: monotone in k, bounded by 1, and the top-10 " +
      "mass recounts from the word-count head") {
    import graft.operators.{TextAnalysis, TextMapReduce}
    val out = TextAnalysis.vocabCoverage(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(10L, 100L, 1000L))
    val cov = Seq(10L, 100L, 1000L).map(out(_).getAs[Double]("coverage"))
    assert(cov == cov.sorted && cov.forall(c => c > 0.0 && c <= 1.0))
    assert(out(10L).getAs[Long]("total_tokens") ==
      out(1000L).getAs[Long]("total_tokens"))
    // independent recount of the k=10 head mass
    val top10 = TextMapReduce.wordCount(spark, sf)
      .orderBy(col("cnt").desc, col("word")).limit(10)
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(out(10L).getAs[Long]("covered_tokens") == top10)
  }

  test("cohens kappa: perfect agreement pins 1, a constant predictor " +
      "over a balanced gold pins 0") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def run(pred: Seq[(Long, String)], gold: Seq[(Long, String)]) =
      TextAnalysis.cohensKappaOver(pred.toDF("doc_id", "pred_lang"),
        gold.toDF("doc_id", "lang")).collect().head
    val perfect = run(
      Seq(1L -> "en", 2L -> "de", 3L -> "en", 4L -> "fr"),
      Seq(1L -> "en", 2L -> "de", 3L -> "en", 4L -> "fr"))
    assert(perfect.getAs[Double]("po") == 1.0 &&
      perfect.getAs[Double]("kappa") == 1.0)
    // constant 'en' vs 50/50 gold: po = pe = 0.5 -> kappa = 0
    val const = run(
      Seq(1L -> "en", 2L -> "en", 3L -> "en", 4L -> "en"),
      Seq(1L -> "en", 2L -> "en", 3L -> "de", 4L -> "de"))
    assert(const.getAs[Double]("po") == 0.5 &&
      const.getAs[Double]("pe") == 0.5 &&
      const.getAs[Double]("kappa") == 0.0)
    // gold labels outside the predictor's range count as disagreement
    val zh = run(
      Seq(1L -> "en", 2L -> "en"),
      Seq(1L -> "en", 2L -> "zh"))
    assert(zh.getAs[Long]("n_agree") == 1L)
  }

  test("token counts are positive and bpe >= ws for word text") {
    val t = TextAnalysis.tokens(spark, sf).cache()
    assert(t.count() == 500)
    assert(t.filter(col("n_ws") <= 0).isEmpty)
    assert(t.filter(col("n_bpe") < col("n_ws")).isEmpty)
  }

  test("quality ratios are bounded") {
    val q = TextAnalysis.quality(spark, sf).cache()
    assert(q.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).isEmpty)
    assert(q.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).isEmpty)
    assert(q.filter(col("mean_word_len") <= 0).isEmpty)
  }

  test("langid predicts a known language with consistent scores") {
    val l = TextAnalysis.langId(spark, sf).cache()
    assert(l.filter(!col("pred_lang").isin("en", "de", "es", "fr")).isEmpty)
    // predicted language's score is the max score
    val bad = l.filter(
      greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr")) =!=
        when(col("pred_lang") === "en", col("s_en"))
          .when(col("pred_lang") === "de", col("s_de"))
          .when(col("pred_lang") === "es", col("s_es"))
          .otherwise(col("s_fr")))
    assert(bad.isEmpty)
  }

  test("tfidf: df bounded by corpus size, tf sums to token count") {
    val t = TextAnalysis.tfidf(spark, sf).cache()
    val n = Tables.documents(spark, sf).count()
    assert(t.filter(col("df") > n || col("df") < 1).isEmpty)
    assert(t.filter(col("tfidf") <= 0).isEmpty)
    val totalTf = t.agg(sum("tf")).head().getLong(0)
    val totalTokens = graft.operators.TextMapReduce
      .words(Tables.documents(spark, sf)).count()
    assert(totalTf == totalTokens)
  }

  test("fingerprint is 32-hex md5 with consistent head") {
    val f = TextAnalysis.fingerprint(spark, sf).cache()
    assert(f.filter(length(col("fp")) =!= 32).isEmpty)
    assert(f.filter(substring(col("fp"), 1, 8) =!= col("fp_head")).isEmpty)
    assert(f.filter(col("n_shingles") < 0).isEmpty)
  }

  test("bm25: top-k scored docs all contain a query term, " +
      "scores ordered and reproducible") {
    val r = TextAnalysis.bm25(spark, sf).cache()
    assert(r.count() == 20)
    assert(r.filter(col("score") <= 0).isEmpty)
    assert(r.filter(col("n_terms") < 1 || col("n_terms") > 3).isEmpty)
    // scored docs really contain a query term
    val hits = r.join(Tables.documents(spark, sf), "doc_id")
      .filter(!col("text").rlike("vector|merge|data"))
    assert(hits.isEmpty)
    // deterministic rerun (decimal-domain contributions)
    val again = TextAnalysis.bm25(spark, sf)
    assert(r.exceptAll(again).isEmpty && again.exceptAll(r).isEmpty)
  }

  test("perplexity: nll positive, token counts exact, " +
      "decimal sum is partition-order free") {
    val p = TextAnalysis.perplexity(spark, sf).cache()
    // -ln p(w) > 0 for every non-trivial corpus word (p < 1 unless a
    // single word IS the whole corpus)
    assert(p.filter(col("avg_nll") <= 0).isEmpty)
    val totalTokens = graft.operators.TextMapReduce
      .words(Tables.documents(spark, sf)).count()
    assert(p.agg(sum("n_tokens")).head().getLong(0) == totalTokens)
    // the decimal-domain nll sum must make the score bit-reproducible
    // under any partitioning (a raw double sum would not be)
    val again = TextAnalysis.perplexity(spark, sf)
    assert(p.exceptAll(again).isEmpty && again.exceptAll(p).isEmpty)
    // a doc made of corpus-frequent words must score lower (less
    // surprising) than one made of corpus-unique words
    val joined = p.join(Tables.documents(spark, sf), "doc_id")
    val meanAll = joined.agg(avg("avg_nll")).head().getDouble(0)
    assert(meanAll > 0)
  }

  test("bpe pair induction: k two-char pairs, counts consistent with a " +
      "direct recount of the top pair") {
    val p = TextAnalysis.bpePairs(spark, sf, k = 50).cache()
    assert(p.count() == 50)
    assert(p.filter(length(col("pair")) =!= 2).isEmpty)
    val top = p.orderBy(col("cnt").desc, col("pair")).head()
    // recount the winning pair with an independent substring scan
    val needle = top.getString(0)
    val recount = Tables.documents(spark, sf)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .filter(col("pair") === needle)
      .count()
    assert(recount == top.getLong(1))
  }

  test("bpe merge loop matches a naive reference on a planted corpus " +
      "and emits a deterministic non-increasing merge table") {
    import spark.implicits._
    val text = ("low " * 3 + "lower " * 2 + "newest " * 5 +
      "widest " * 4 + "x ").trim
    val docs = Seq((1L, text, "en", "spec", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val n = 4
    val got = TextAnalysis.bpeMergesOver(docs, n).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

    // naive reference: same count → argmax(cnt desc, pair asc) → merge
    // left-to-right non-overlapping, on a plain Scala word-freq map
    var freq: Map[Vector[String], Long] = text.split("\\s+")
      .filter(w => w.length >= 2 && w.matches("[a-z]+"))
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong }
    val expect = (1 to n).flatMap { rank =>
      val counts = freq.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map(p => (p._1 + "|" + p._2) -> c) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      if (counts.isEmpty) None else {
        val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
        val Array(a, b) = pair.split("\\|", 2)
        freq = freq.groupMapReduce { case (syms, _) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result()
        }(_._2)(_ + _)
        Some((rank.toLong, pair, cnt))
      }
    }
    assert(got == expect, s"spark merges $got != naive reference $expect")
    // corpus-level invariant: merge counts never increase round-over-round
    val real = TextAnalysis.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(real.map(_._1).toSeq == (1L to 3L),
      "expected exactly 3 ranked merges on the corpus")
    assert(real.sliding(2).forall(w => w(0)._2 >= w(1)._2),
      s"merge counts increased: ${real.mkString(",")}")
  }

  // ── naive unigram-LM reference (shared by trainer + apply specs) ──
  private def ugWordFreq(text: String): Map[String, Long] =
    text.split("\\s+")
      .filter(w => w.length >= 2 && w.matches("[a-z]+"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }

  private def ugTopN(m: Map[String, Long], n: Int): Seq[String] =
    m.toSeq.sortBy { case (p, c) => (-c, p) }.take(n).map(_._1)

  private def ugSeg(w: String, v: Seq[String]): Seq[String] = {
    val sorted = v.sortBy(p => (-p.length, p))
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val m = sorted.find(p => w.regionMatches(i, p, 0, p.length))
        .getOrElse(w.substring(i, i + 1))
      out += m; i += m.length
    }
    out.result()
  }

  private def ugTrain(wf: Map[String, Long], seed: Int,
      prunes: Seq[Int], maxLen: Int): Seq[String] = {
    val cands = wf.toSeq.flatMap { case (w, c) =>
      for (l <- 2 to maxLen; i <- 0 to w.length - l)
        yield (w.substring(i, i + l), c)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    prunes.foldLeft(ugTopN(cands, seed)) { (vocab, m) =>
      val u = wf.toSeq.flatMap { case (w, c) =>
        ugSeg(w, vocab).filter(_.length >= 2).map(_ -> c) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      ugTopN(u, m)
    }
  }

  test("unigram-lm trainer matches a naive reference: substring seed, " +
      "greedy longest-match segmentation, prune rounds, mass " +
      "accounting") {
    import spark.implicits._
    val text = ("hello help hell yelp jelly " * 3 +
      "banana bandana anagram lo " * 2).trim
    val docs = Seq((1L, text, "en", "spec", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val seed = 10; val prunes = Seq(4, 2); val maxLen = 3
    val got = TextAnalysis.unigramLmOver(docs, seed, prunes, maxLen)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sortBy(_._1)

    // naive reference: same seed → greedy longest-first segmentation →
    // claimed-mass prune → final accounting, on plain Scala maps
    val wf = ugWordFreq(text)
    val vocab = ugTrain(wf, seed, prunes, maxLen)
    val fin = wf.toSeq.flatMap { case (w, c) => ugSeg(w, vocab).map(_ -> c) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val t = fin.values.sum
    val expect = fin.toSeq.map { case (p, c) =>
      (p, p.length.toLong, c, BigDecimal(c.toDouble / t)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got == expect, s"got $got\nexpect $expect")
    // the prune rounds must bite: at most prunes.last multi-char
    // pieces survive, and the fallback alphabet is always present
    assert(got.count(_._2 >= 2) <= prunes.last)
    assert(got.exists(_._2 == 1L))
  }

  test("unigram apply: per-doc token accounting matches the naive " +
      "reference; out-of-domain words one unknown apiece, empty docs " +
      "all zeros") {
    import spark.implicits._
    val texts = Map(
      1L -> "hello help hello zz9 a jelly",
      2L -> "yelp hello banana",
      3L -> "")
    val docs = texts.toSeq.map { case (id, t) =>
      (id, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val seed = 8; val prunes = Seq(4, 2); val maxLen = 3
    val got = TextAnalysis.unigramApplyOver(docs, seed, prunes, maxLen)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val wf = ugWordFreq(texts.values.mkString(" "))
    val vocab = ugTrain(wf, seed, prunes, maxLen)
    texts.foreach { case (id, t) =>
      val ws = t.split("\\s+").filter(_.nonEmpty).toSeq
      val dom = ws.filter(w => w.length >= 2 && w.matches("[a-z]+"))
      val toks = dom.map(w => ugSeg(w, vocab))
      val expect = (ws.size.toLong,
        (ws.size - dom.size + toks.map(_.size).sum).toLong,
        toks.map(_.count(_.length >= 2)).sum.toLong)
      assert(got(id) == expect, s"doc $id: ${got(id)} != $expect")
    }
    assert(got(3L) == ((0L, 0L, 0L)))
  }

  test("bpe apply: planted merges encode docs to hand-computed token " +
      "counts, out-of-domain words are one unknown apiece") {
    import spark.implicits._
    // merges learned elsewhere: e|y then h|ey then hey|y (the chain a
    // "heyy heyy hey" corpus trains); apply to a doc mixing domain
    // words, an out-of-domain word (digits) and a 1-char word
    val docs = Seq(
      (1L, "heyy hey zz9 a"), // <heyy> <hey> + unk + unk → 4 tokens
      (2L, "yeh heyy"),       // yeh keeps 3 singles (no <e><y> run),
                              // heyy collapses to <heyy> → 4 tokens
      (3L, "")                // empty doc → all zeros
    ).toDF("doc_id", "text")
    val merges = Seq("e|y", "h|ey", "hey|y")
    val r = TextAnalysis.bpeApplyOver(docs, merges).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // doc 1: 4 words, domain {heyy, hey} → <heyy> + <hey> = 2 symbols,
    // both merged; zz9 and a are unknowns → n_tokens = 2 + 2
    assert(r(1L) == ((4L, 4L, 2L)), s"doc1=${r(1L)}")
    // doc 2: yeh has no 'ey' adjacency in <y><e><h> (e|y is symbol
    // order, and replace targets '<e><y>' exactly) → 3 single symbols;
    // heyy collapses to one merged symbol → n_tokens = 3 + 1
    assert(r(2L) == ((2L, 4L, 1L)), s"doc2=${r(2L)}")
    assert(r(3L) == ((0L, 0L, 0L)), s"doc3=${r(3L)}")
    // train→apply on the real corpus: every doc encodes, token counts
    // land between merged-floor and word-chars, merges never inflate
    val applied = TextAnalysis.bpeApply(spark, sf).cache()
    assert(applied.count() == Tables.documents(spark, sf).count())
    assert(applied.filter(col("n_tokens") < col("n_words")).isEmpty,
      "a word can never encode to fewer than one token")
    assert(applied.filter(col("n_merged") < 0).isEmpty)
    assert(applied.agg(sum("n_merged")).head().getLong(0) > 0,
      "learned merges never fired on the corpus that trained them")
  }

  test("tokenizer coverage: totals reconcile with the apply pass and " +
      "rates stay in range per language") {
    val cov = TextAnalysis.tokenizerCoverage(spark, sf).cache()
    val applied = TextAnalysis.bpeApply(spark, sf).cache()
    assert(cov.agg(sum("n_docs")).head().getLong(0) == applied.count())
    assert(cov.agg(sum("total_words")).head().getLong(0) ==
      applied.agg(sum("n_words")).head().getLong(0))
    assert(cov.agg(sum("total_tokens")).head().getLong(0) ==
      applied.agg(sum("n_tokens")).head().getLong(0))
    assert(cov.agg(sum("merged_tokens")).head().getLong(0) ==
      applied.agg(sum("n_merged")).head().getLong(0))
    assert(cov.filter(col("oov_rate") < 0.0 || col("oov_rate") > 1.0)
      .isEmpty)
    // a word never encodes below one token, so fan-out ≥ 1 everywhere
    assert(cov.filter(col("tokens_per_word") < 1.0).isEmpty)
    applied.unpersist(); cov.unpersist()
  }

  test("bigram perplexity: planted corpus matches a naive Stupid " +
      "Backoff reference; backoff fires exactly on pruned bigrams") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y x y"),  // bigrams (x,y)×3, (y,x)×2 — all kept
      (2L, "x z q"),        // (x,z), (z,q) singletons — both back off
      (3L, "y")             // single token → unigram only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.perplexityBigramOver(docs, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // naive reference, same ln-expanded + round-6 arithmetic
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val n = 10.0 // total tokens
    val cw = Map("x" -> 4.0, "y" -> 4.0, "z" -> 1.0, "q" -> 1.0)
    val ln = math.log _
    // doc1: lead x: ln10−ln4; (x,y)×3: ln4−ln3; (y,x)×2: ln4−ln2
    val d1 = Seq(r6(ln(n) - ln(4)), r6(ln(4) - ln(3)), r6(ln(4) - ln(2)),
      r6(ln(4) - ln(3)), r6(ln(4) - ln(2)), r6(ln(4) - ln(3)))
    // doc2: lead x: ln10−ln4; backoffs: ln10−ln c(b)+ln2 for b=z,q
    val d2 = Seq(r6(ln(n) - ln(4)),
      r6(ln(n) - ln(cw("z")) + ln(2)), r6(ln(n) - ln(cw("q")) + ln(2)))
    val d3 = Seq(r6(ln(n) - ln(4)))
    def avg(xs: Seq[Double]) = r6(xs.map(x => r6(x)).sum / xs.size)
    assert(got(1L)._1 == 6L && got(1L)._2 == 0L, s"doc1=${got(1L)}")
    assert(math.abs(got(1L)._3 - avg(d1)) < 2e-6, s"doc1=${got(1L)} vs ${avg(d1)}")
    assert(got(2L)._1 == 3L && got(2L)._2 == 2L, s"doc2=${got(2L)}")
    assert(math.abs(got(2L)._3 - avg(d2)) < 2e-6, s"doc2=${got(2L)} vs ${avg(d2)}")
    assert(got(3L) == ((1L, 0L, avg(d3))) ||
      math.abs(got(3L)._3 - avg(d3)) < 2e-6, s"doc3=${got(3L)}")
    // real corpus: every doc scored, repeated-phrase docs (low nll)
    // exist and backoff accounting is within bounds
    val real = TextAnalysis.perplexityBigram(spark, sf).cache()
    assert(real.count() == Tables.documents(spark, sf).count())
    assert(real.filter(col("n_backoff") >= col("n_tokens")).isEmpty)
    assert(real.filter(col("avg_nll") < 0).isEmpty)
  }

  test("entropy: planted uniform doc hits ln(n) exactly, degenerate doc " +
      "hits 0, and the corpus respects the ln(n_types) bound") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // 4 distinct → H = ln 4
      (2L, "same same same same"),    // 1 type → H = 0
      (3L, "aa aa bb bb"))            // uniform over 2 → H = ln 2
      .toDF("doc_id", "text")
    val got = TextAnalysis.entropyOver(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(4) == math.rint(math.log(4) * 1e6) / 1e6)
    assert(got(2L).getDouble(4) == 0.0)
    assert(got(2L).getLong(2) == 1L && got(2L).getDouble(3) == 0.25)
    assert(got(3L).getDouble(4) == math.rint(math.log(2) * 1e6) / 1e6)
    val corpus = TextAnalysis.entropy(spark, sf).cache()
    assert(corpus.filter(col("entropy") < -1e-9).isEmpty)
    assert(corpus.filter(
      col("entropy") > log(col("n_types").cast("double")) + lit(1e-6)).isEmpty)
    assert(corpus.filter(col("ttr") <= 0 || col("ttr") > 1).isEmpty)
  }

  test("keywords: exactly top-3 tf-idf terms per doc, ranks total and " +
      "consistent with the tfidf base") {
    val kw = graft.operators.TextAnalysis.keywords(spark, sf).cache()
    // every doc with >= 3 distinct words contributes exactly 3 rows,
    // ranks are 1..k with no gaps
    assert(kw.groupBy("doc_id").count().filter(col("count") > 3).isEmpty)
    assert(kw.filter(col("rnk") < 1 || col("rnk") > 3).isEmpty)
    // rank-1 term per doc carries that doc's max tfidf
    val base = graft.operators.TextAnalysis.tfidf(spark, sf)
      .groupBy("doc_id").agg(max(col("tfidf")).as("mx"))
    val top1 = kw.filter(col("rnk") === 1)
    assert(top1.join(base, "doc_id")
      .filter(col("tfidf") =!= col("mx")).isEmpty)
    assert(top1.count() > 0)
  }

  test("collocations: the always-adjacent planted phrase out-scores the " +
      "frequent-but-independent pair") {
    import spark.implicits._
    // "new york" appears 6×, always adjacent; "big" (24×) and "data"
    // (18×) co-occur adjacently only 12× — PMI must rank the
    // deterministic phrase above the frequent diluted pair
    val line = "new york big data big town data town big data "
    val docs = (1L to 6L).map(i => (i, line + s"filler$i big dataz"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocationsOver(docs, minCount = 5, k = 50)
      .collect()
    val byPair = got.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byPair.contains(("new", "york")))
    assert(byPair.contains(("big", "data")))
    val pmiNy = byPair(("new", "york")).getDouble(3)
    val pmiBd = byPair(("big", "data")).getDouble(3)
    assert(pmiNy > pmiBd,
      f"expected planted phrase PMI $pmiNy%.4f > diluted pair $pmiBd%.4f")
    assert(got.forall(_.getLong(2) >= 5), "min-count floor violated")
  }

  test("pii redaction: counts per class on planted text, masking is " +
      "complete, email-first order leaves no phone residue") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@sub.example.org and x9@y.co today"),
      (2L, "call 555-867-5309 or 555.867.5309, id 123-45-6789"),
      // digit-heavy local part: masked as ONE email, not a phone hit
      (3L, "reach 555-123-4567x@example.com after 5"),
      (4L, "no pii here at all"),
      // boundary case: local part ENDS in a phone shape ('@' supplies
      // the trailing \b) — on the original text PhoneRe would hit, but
      // counts run on the email-masked text, so n_phone = 0 and the
      // counts agree with the single <EMAIL> the mask emits
      (5L, "wire 555-123-4567@x.com now")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.piiRedactOver(docs).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))).toMap
    assert(r(1L) == ((2L, 0L, 0L, "mail <EMAIL> and <EMAIL> today")))
    assert(r(2L) == ((0L, 2L, 1L, "call <PHONE> or <PHONE>, id <ID>")))
    // n_phone = 0 on the original too: '7x' has no \b, so the digits
    // inside the local part never count as a phone
    assert(r(3L) == ((1L, 0L, 0L, "reach <EMAIL> after 5")), s"doc3=${r(3L)}")
    assert(r(4L) == ((0L, 0L, 0L, "no pii here at all")))
    assert(r(5L) == ((1L, 0L, 0L, "wire <EMAIL> now")), s"doc5=${r(5L)}")
    // the masked text never retains a match of any class
    val clean = TextAnalysis.piiRedactOver(docs)
      .select(col("text_clean").as("text"), col("doc_id"))
    assert(TextAnalysis.piiRedactOver(clean)
      .filter(col("n_email") + col("n_phone") + col("n_id") > 0).isEmpty)
  }

  test("bpe vocab: base symbols are exactly the domain's distinct " +
      "chars, merged symbols decompose over the base set in rank order") {
    import spark.implicits._
    val v = TextAnalysis.bpeVocab(spark, sf).cache()
    val base = v.filter(col("kind") === "base").collect()
      .map(_.getString(0)).toSet
    val wantBase = Tables.documents(spark, sf)
      .select(explode(filter(split(col("text"), "\\s+"),
        w => w =!= "")).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "").distinct()
      .collect().map(_.getString(0)).toSet
    assert(base == wantBase, "base symbol set mismatch")
    assert(base.forall(_.length == 1))
    val merged = v.filter(col("kind") === "merged")
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getString(0)))
    assert(merged.map(_._1).toSeq == Seq(1L, 2L, 3L), s"ranks: ${merged.toSeq}")
    // every merged symbol spells out in base characters
    assert(merged.forall { case (_, t) =>
      t.length >= 2 && t.forall(c => base.contains(c.toString)) })
    // and matches the trainer's merge table exactly
    val fromTrainer = TextAnalysis.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1).replace("|", ""))).toSeq
    assert(merged.toSeq == fromTrainer)
    v.unpersist()
  }

  test("repetition filters: hand-computed fracs, short-doc coalesce, " +
      "threshold verdicts") {
    import spark.implicits._
    val docs = Seq(
      // "a b" x3: bigrams a-b,b-a,a-b,b-a,a-b -> top 3/5; 5-grams
      // "a b a b a","b a b a b" each once -> dup 0
      (1L, "a b a b a b"),
      // ten distinct words: top bigram 1/9, no dup 5-grams
      (2L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      // 2 words: one bigram (frac 1.0), no 5-grams -> coalesce 0
      (3L, "x y"),
      // pure spam: all bigrams identical, all 5-grams duplicated
      (4L, Seq.fill(20)("spam").mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionOver(docs).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getBoolean(3))))
      .toMap
    assert(r(1L) == ((0.6, 0.0, false)))
    assert(r(2L) == ((0.111111, 0.0, true)))
    assert(r(3L) == ((1.0, 0.0, false)))
    assert(r(4L) == ((1.0, 1.0, false)))
  }

  test("compression ratio separates repetitive text from prose and " +
      "noise, deterministically") {
    import spark.implicits._
    val rep = Seq.fill(60)("spam spam spam").mkString(" ")
    // long enough for LZ77 to find the natural word repetitions
    val prose = Seq.fill(4)("the quick brown fox jumps over the lazy " +
      "dog while the seventeen jugglers vex the daft wizards and the " +
      "dog barks at the fox before the wizards depart the meadow")
      .mkString(" ")
    // hash bytes mapped onto the full printable range (94 symbols) —
    // hex digits alone would Huffman-code to ~0.5 and beat prose
    val noise = (0 until 40).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n$i".getBytes)
        .map(b => ((b & 0x7f) % 94 + 33).toChar).mkString).mkString
    val docs = Seq((1L, rep), (2L, prose), (3L, noise)).toDF("doc_id", "text")
    val r = TextAnalysis.compressionOver(docs).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) < 0.2, s"repetitive text should crush: ${r(1L)}")
    assert(r(1L) < r(2L) && r(2L) < r(3L),
      s"ordering repetitive < prose < noise broken: $r")
    assert(r.values.forall(v => v > 0.0 && v < 1.5), s"ratio bounds: $r")
    // deterministic across evaluations (JVM-stable zlib)
    val again = TextAnalysis.compressionOver(docs).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r == again, "deflate must be deterministic")
    // real corpus: every row finite and positive, schema stable
    val corpus = TextAnalysis.compression(spark, sf).cache()
    assert(corpus.count() > 0)
    assert(corpus.filter(col("ratio") <= 0.0 || col("ratio") > 2.0).isEmpty)
    corpus.unpersist()
  }

  test("blocklist: planted hits count exactly, the verdict follows the " +
      "ratio, and the plan is a zero-shuffle projection") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean text with no flagged terms at all here today"),
      (2L, "slow scan slow merge slow join"),           // 3/6 hits
      (3L, "one dup inside twenty one words of otherwise clean text " +
        "padding padding padding padding padding padding padding " +
        "padding padding padding pad"),                 // 1/21 hits
      (4L, "spill"))                                    // 1/1 hits
      .toDF("doc_id", "text")
    val r = TextAnalysis
      .blocklistOver(docs, Seq("slow", "dup", "spill"), 0.05)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getBoolean(4)))).toMap
    assert(r(1L) == ((10L, 0L, true)))
    assert(r(2L) == ((6L, 3L, false)))
    assert(r(3L) == ((21L, 1L, true)))    // 1/21 ≈ 0.0476 ≤ 0.05
    assert(r(4L) == ((1L, 1L, false)))
    val plan = TextAnalysis.blocklist(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist must not shuffle:\n$plan")
  }

  test("persisted LM scoring: seen text replays the Stupid Backoff recipe " +
      "and a planted OOV word backs off at c(b)=1") {
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // model: vocabulary {aa: 3, bb: 3}, N = 6, bigram (aa, bb) kept
    val uni = Seq(("aa", 3L), ("bb", 3L)).toDF("w", "cw")
    val cab = Seq(("aa", "bb", 3L)).toDF("a", "b", "c_ab")
    val tot = Seq(Tuple1(6L)).toDF("n_total")
    val batch = Seq((1L, "aa bb"), (2L, "aa zz")).toDF("doc_id", "text")
    val out = TextAnalysis.scoreWithLm(batch, uni, cab, tot)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: lead ln(6/3), seen bigram ln(3/3) = 0 — no backoff, no OOV
    val d1 = out(1L)
    assert(d1.getLong(1) == 2L && d1.getLong(2) == 0L && d1.getLong(3) == 0L)
    assert(d1.getDouble(4) == r6(r6(math.log(2.0)) / 2.0))
    // doc 2: lead ln(6/3); (aa, zz) unseen -> backoff with c(zz)=1:
    // ln 6 - ln 1 + ln 2 = ln 12, flagged backoff AND oov
    val d2 = out(2L)
    assert(d2.getLong(1) == 2L && d2.getLong(2) == 1L && d2.getLong(3) == 1L)
    assert(d2.getDouble(4) ==
      r6((r6(math.log(2.0)) + r6(math.log(6.0) + math.log(2.0))) / 2.0))
  }

  test("LM store memo: repeat lmPersisted calls serve the same " +
      "trained artifact dir (no re-train), and the served scores are " +
      "call-stable") {
    val a = TextAnalysis.lmPersisted(spark, sf)
    val n0 = graft.operators.Artifacts.count("lm_store")
    val b = TextAnalysis.lmPersisted(spark, sf)
    assert(graft.operators.Artifacts.count("lm_store") == n0,
      "second call trained a new LM store instead of serving the memo")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "served scores drifted between calls over the same store")
    // held-out scoring really is out-of-corpus: at least one doc
    // carries an OOV token (the serve half scores text the train
    // half never saw) — guards against a silent train/serve overlap
    assert(a.count() > 0)
  }

  test("Zipf fit: slope is negative with sane r2, and a planted exact " +
      "power law recovers its exponent") {
    val r = TextAnalysis.zipfFit(spark, sf).head()
    assert(r.getLong(0) > 0)
    assert(r.getDouble(1) < 0.0, s"slope ${r.getDouble(1)}")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    // closed form check of the OLS dag via direct moment recompute on
    // the real corpus ranks
    val cf = graft.Tables.documents(spark, sf)
      .select(explode(filter(split(col("text"), "[^\\p{L}]+"),
        w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("w")).collect()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pts = cf.zipWithIndex.map { case (row, i) =>
      (BigDecimal(r6(math.log(i + 1.0))), BigDecimal(r6(
        math.log(row.getLong(1).toDouble))))
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum.toDouble; val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(r.getDouble(1) == r6(slope), s"${r.getDouble(1)} vs $slope")
  }

  test("vocab growth: monotone in both axes, final checkpoint equals " +
      "the full corpus vocabulary and token count") {
    val g = TextAnalysis.vocabGrowth(spark, sf).orderBy("decile")
      .collect()
    assert(g.length == 10)
    g.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) >= a.getLong(2) && b.getLong(3) >= a.getLong(3))
    case _ => ()
    }
    val tok = graft.Tables.documents(spark, sf)
      .select(explode(filter(split(col("text"), "[^\\p{L}]+"),
        w => w =!= "")).as("w"))
    assert(g.last.getLong(3) == tok.select("w").distinct().count())
    assert(g.last.getLong(2) == tok.count())
  }

  test("LM count-table artifacts are re-mergeable: summing two batches' " +
      "tables equals training on the union (the sketch-store property)") {
    val docs = graft.Tables.documents(spark, sf)
    def counts(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"),
        explode(filter(split(col("text"), "[^\\p{L}]+"), w => w =!= ""))
          .as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val mid = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long")).head().getLong(0)
    val merged = counts(docs.filter(col("doc_id") <= mid))
      .union(counts(docs.filter(col("doc_id") > mid)))
      .groupBy("w").agg(sum(col("cw")).as("cw"))
    val full = counts(docs)
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty)
  }

  test("watermark: natural text never trips the detector; a greedy-green " +
      "synthetic generation does") {
    import spark.implicits._
    assert(TextAnalysis.watermark(spark, sf)
      .filter(col("watermarked")).isEmpty)
    // generate a watermarked doc the way a watermarking sampler would:
    // at each step pick whichever candidate token is green given the
    // previous token (md5 first nibble in 0-7)
    def nibble(s: String): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0)
    }
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val toks = scala.collection.mutable.Buffer("seed")
    (1 to 40).foreach { _ =>
      val prev = toks.last
      toks += vocab.find(c => nibble(s"$prev|$c") <= '7').getOrElse(vocab.head)
    }
    val planted = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.watermarkOver(planted, 4.0).head()
    assert(r.getBoolean(5), s"greedy-green doc not flagged: $r")
    assert(r.getDouble(3) > 0.9, s"green_frac ${r.getDouble(3)}")
  }

  test("cluster topics: every label occurs in its own cluster's text, " +
      "ranks are dense top-3, and only multi-member clusters surface") {
    import graft.operators.Dedup
    val topics = TextAnalysis.clusterTopics(spark, sf).cache()
    assert(topics.count() > 0)
    assert(topics.filter(col("rnk") < 1 || col("rnk") > 3).isEmpty)
    // dense per-cluster ranks starting at 1
    val perC = topics.groupBy("cluster_id")
      .agg(count(lit(1)).as("k"), min(col("rnk")).as("lo"),
        max(col("rnk")).as("hi"))
    assert(perC.filter(col("lo") =!= 1 || col("hi") =!= col("k")).isEmpty)
    // membership counts match the cluster assignment, all > 1
    val mc = Dedup.clusters(spark, sf).groupBy("cluster_id")
      .agg(count(lit(1)).as("m"))
    assert(topics.join(mc, "cluster_id")
      .filter(col("n_members") =!= col("m") || col("m") < 2).isEmpty)
    // every topic word really occurs in a member doc of its cluster
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(
        filter(split(col("text"), graft.operators.TextMapReduce.WordSplit),
          w => w =!= "")).as("word"))
      .join(Dedup.clusters(spark, sf), "doc_id")
      .select("cluster_id", "word").distinct()
    assert(topics.select("cluster_id", "word")
      .join(tok, Seq("cluster_id", "word"), "left_anti").isEmpty)
    topics.unpersist()
  }

  test("Kneser-Ney: a hand-computed corpus pins every bigram " +
      "probability through the integer-ratio dag") {
    import spark.implicits._
    // 'a b a b a c': c(ab)=2 c(ba)=2 c(ac)=1; c(a.)=3 c(b.)=2;
    // N1+(a.)=2 N1+(b.)=1; N1+(.a)=N1+(.b)=N1+(.c)=1; T=3
    // P(b|a) = 21/36, P(a|b) = 18/24, P(c|a) = 9/36
    val out = TextAnalysis.kneserNeyOver(
      Seq((1L, "a b a b a c")).toDF("doc_id", "text")).head()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (BigDecimal(r6(math.log(36.0) - math.log(21.0))) * 2 +
      BigDecimal(r6(math.log(24.0) - math.log(18.0))) * 2 +
      BigDecimal(r6(math.log(36.0) - math.log(9.0)))).toDouble
    assert(out.getLong(1) == 5L)
    assert(out.getDouble(2) == want,
      s"nll_sum ${out.getDouble(2)} != $want")
  }

  test("naive bayes: a distinctive word classifies, and an all-unseen " +
      "doc lands on the EXACT decimal tie broken by class name") {
    import spark.implicits._
    val dir = TempDirs.create("graft_nb_spec").toString
    // ids 0..3 → mid 1: train = {0: aa 'alpha alpha', 1: bb 'beta
    // beta'} (symmetric priors, totals, vocab), test = {2, 3}
    Seq((0L, "alpha alpha", "aa"), (1L, "beta beta", "bb"),
        (2L, "alpha", "aa"), (3L, "gamma", "bb"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.naiveBayes(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    // doc 2's 'alpha' is class evidence → aa; doc 3's 'gamma' is
    // unseen by BOTH classes, every ln term and the priors are
    // symmetric → the decimal scores TIE exactly and the class-name
    // order must deterministically pick 'aa'
    assert(got.toSeq == Seq(("aa", "aa", 1L), ("bb", "aa", 1L)),
      s"got ${got.toSeq}")
  }

  test("source divergence: corpus-identical sources sit at the same " +
      "planted KL and the skewed source carries ln 2 exactly") {
    import spark.implicits._
    // sources A and B are the SAME distribution {a, b}; C is pure {c}.
    // corpus: a:2 b:2 c:4 of 8 → KL(A)=KL(B)=ln2 (each word 2× over-
    // represented), KL(C)=ln2 (c at p=1 vs corpus 1/2) — all terms
    // pass through the round-6 decimal-sum chain, so the report is
    // exactly round(ln 2, 6)
    val docs = Seq(
      (1L, "a b", "A"), (2L, "a b", "B"), (3L, "c c c c", "C"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis.sourceDivergenceOver(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .sortBy(_._1)
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(("A", 2L, ln2), ("B", 2L, ln2),
      ("C", 4L, ln2)), s"got ${got.toSeq}")
  }

  test("burstiness: a word clumped in one doc scores VMR = 9 over a " +
      "10-doc corpus, an evenly spread word scores 0") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val dir = TempDirs.create("graft_burst").toString
    // doc 1 carries all ten "bursty"; every doc carries one "flat"
    val docs = (1L to 10L).map { i =>
      val t = if (i == 1) ("bursty " * 10) + "flat" else "flat"
      (i, t, "en", "web", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.burstiness(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // bursty: D=10, n_occ=10, sq=100 -> mean 1, var 9, VMR 9
    assert(out("bursty") == ((1L, 10L, 9.0)), s"got ${out.get("bursty")}")
    // flat: one per doc -> var 0, VMR 0
    assert(out("flat") == ((10L, 10L, 0.0)), s"got ${out.get("flat")}")
  }

  test("hapax: a planted source pins vocab, once-words and the rate") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val dir = TempDirs.create("graft_hapax").toString
    Seq((1L, "alpha alpha beta", "en", "s1", 16L),
      (2L, "gamma gamma delta epsilon", "en", "s2", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.hapax(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out("s1") == ((2L, 1L, 0.5)))
    assert(out("s2") == ((3L, 2L, 0.666667)))
  }

  test("fightin' words: a planted two-source contrast replays the " +
      "smoothed log-odds z by hand") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val dir = TempDirs.create("graft_fw").toString
    Seq((1L, "apple apple apple banana", "en", "src0", 24L),
      (2L, "banana banana cherry", "en", "src1", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.fightinWords(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // apple: y=(3,0), n1=4, n2=3, V=3
    //   delta = ln4 - ln3 - ln1 + ln5, var = 1/4 + 1/1
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val zApple = r6((math.log(4.0) - math.log(3.0) - math.log(1.0) +
      math.log(5.0)) / math.sqrt(1.0 / 4.0 + 1.0 / 1.0))
    assert(out("apple")._1 == 3L && out("apple")._2 == 0L)
    assert(out("apple")._3 == zApple, s"z = ${out("apple")._3}")
    // src0-characteristic words score positive, src1's negative
    assert(out("apple")._3 > 0 && out("cherry")._3 < 0)
  }

  test("novelty: the first document is all-novel, a later overlap " +
      "scores exactly its fresh-shingle share") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val dir = TempDirs.create("graft_novelty").toString
    // doc1 {a b c, b c d}; doc2 {a b c, b c e} -> 1 of 2 novel
    Seq((1L, "a b c d", "en", "s", 7L), (2L, "a b c e", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.novelty(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
  }

  test("Simpson diversity: a planted source pins the exact rational " +
      "and its Hill-number twin") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val dir = TempDirs.create("graft_tdiv").toString
    // "a a b": n=3, sum c^2 = 5 -> simpson = 1 - 5/9, eff = 9/5
    Seq((1L, "a a b", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.diversity(spark, dir).collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 0.444444, s"simpson = ${r.getDouble(3)}")
    assert(r.getDouble(4) == 1.8, s"eff = ${r.getDouble(4)}")
  }
}
