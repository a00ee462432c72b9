package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Text analysis for a training-data pipeline (SURVEY §2.E): token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd built-ins (split /
  * regexp_extract_all / higher-order functions) — no UDFs — so the
  * operators stay inside whole-stage codegen and scale linearly with
  * input bytes. Ratios are emitted as a single double division with a
  * `nullif`-style zero guard so the DuckDB oracle reproduces them
  * bit-exactly (SURVEY §5).
  */
object TextAnalysis {

  import TextMapReduce.WordSplit

  /** Whitespace-token column (empties removed). */
  private[operators] def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), w => w =!= "")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single
    * punctuation — the GPT-2-style splitting shape, portable between
    * Java regex and RE2.
    */
  val BpeIsh = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Per-document token counts: whitespace words and BPE-ish tokens. */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("n_ws"),
      size(regexp_extract_all(col("text"), lit(BpeIsh), lit(0)))
        .cast("long").as("n_bpe"))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  private def safeDiv(num: Column, den: Column): Column =
    num.cast("double") / when(den === 0, lit(null)).otherwise(den).cast("double")

  /** Quality metrics: length, punctuation ratio, stopword ratio, mean
    * word length — the standard cheap quality filters for LLM corpus
    * curation.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = typedLit(Stopwords)
    // materialize the token array once — inlining it into every ratio
    // would re-run the split per expression under interpreted HOF eval
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), wsTokens(col("text")).as("w"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("w")).cast("long").as("n_words"),
        safeDiv(
          length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", "")),
          length(col("text"))).as("punct_ratio"),
        safeDiv(
          size(filter(col("w"), w => array_contains(stops, w))),
          size(col("w"))).as("stop_ratio"),
        safeDiv(
          length(regexp_replace(col("text"), "[^\\p{L}]", "")),
          size(col("w"))).as("mean_word_len"))
  }

  /** Blocklist term scan — the wordlist gate (LDNOOBW-style "bad
    * words", policy terms, brand screens) every public-corpus pipeline
    * runs beside the statistical `quality` ratios: per document, how
    * many tokens hit the list, the hit ratio, and the keep verdict.
    * The list is a tiny literal array evaluated scan-side
    * (`array_contains` against a broadcast-free `typedLit`, the
    * `quality` stopword pattern) — the whole operator is ONE
    * projection over the documents scan: zero shuffles, zero joins,
    * codegen end-to-end, so it composes into `pipeline_curate`-style
    * fusions for free at any corpus size.
    */
  def blocklist(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("slow", "dup", "spill"),
      maxRatio: Double = 0.05): DataFrame =
    blocklistOver(Tables.documents(spark, sfDir), terms, maxRatio)

  /** Same operator over any (doc_id, text) frame — planted-hit specs
    * pin the counts and the verdict.
    */
  def blocklistOver(docs: DataFrame, terms: Seq[String],
      maxRatio: Double): DataFrame = {
    val lex = typedLit(terms)
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(filter(col("w"), w => array_contains(lex, w)))
          .cast("long").as("n_hits"))
      .withColumn("hit_ratio",
        round(safeDiv(col("n_hits"), col("n_words")), 6))
      .withColumn("keep",
        col("n_hits") === 0 || col("hit_ratio") <= maxRatio)
  }

  /** Flesch reading-ease per document — the classic readability axis
    * the ratio heuristics in `quality` don't cover. Syllables are
    * approximated as vowel-group runs (the standard dictionary-free
    * heuristic); sentences as terminal-punctuation runs, floored at 1.
    *
    * Pure projection over one scan — zero shuffles, embarrassingly
    * parallel at any scale. All three counts come from
    * `regexp_extract_all` in the Java∩RE2 dialect so DuckDB replays
    * them exactly; the score arithmetic is the same double-op chain on
    * both engines, rounded to 4 places.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val words = greatest(
      size(filter(split(col("text"), "[^\\p{L}]+"), w => w =!= ""))
        .cast("long"), lit(1L))
    val sentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L))
    val syllables =
      size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0)))
        .cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
  }

  /** Stopword profiles per language for the n-gram-free language
    * scorer. Deliberately small and public-knowledge (most frequent
    * function words).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "es" -> Seq("el", "los", "que", "y", "una"),
    "fr" -> Seq("le", "les", "et", "une", "des"))

  /** Per-language stopword-profile hit counts over a lowercased token
    * array — one `s_<lang>` column per profile. Shared by `langId`
    * and the curation gate (ONE definition, so the tie rules can't
    * desynchronize between them).
    */
  private def langScores(wl: Column): Seq[Column] =
    LangProfiles.map { case (lang, prof) =>
      size(filter(wl, w => array_contains(typedLit(prof), w)))
        .cast("long").as(s"s_$lang")
    }

  /** Argmax over the `s_<lang>` columns with the fixed tie order
    * (en > de > es > fr).
    */
  private def predLang: Column = {
    val Seq(en, de, es, fr) = LangProfiles.map(p => col(s"s_${p._1}"))
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Language ID: score = stopword-profile hits per language, argmax
    * with fixed tie order (en > de > es > fr).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("w"))
      .select(col("doc_id") +: langScores(col("w")): _*)
      .withColumn("pred_lang", predLang)

  /** The fixed English delimiter list RAKE splits candidate phrases
    * on — ONE definition interpolated into both the Spark plan and
    * the DuckDB oracle, so the phrase boundaries can never drift.
    */
  val RakeStops: Seq[String] = Seq("the", "a", "an", "of", "and", "to",
    "in", "is", "it", "that", "as", "for", "on", "with", "was", "are",
    "be", "by", "this", "or", "at", "from", "not", "but")

  /** RAKE KEYWORD EXTRACTION (`text_rake`, Rose et al. 2010) — the
    * unsupervised keyword-phrase extractor curation pipelines use for
    * topic tagging without a model: candidate phrases are maximal
    * runs of non-stopword tokens (capped at 4 words, the RAKE
    * convention), each word scores deg/freq (deg = Σ phrase length
    * over its phrases — within-phrase co-occurrence including self),
    * a phrase scores the sum of its words' scores, top-k phrases by
    * (score, phrase) total order.
    *
    * Distributed shape: phrase assembly is the ISLANDS trick — one
    * per-document window assigns `pos − row_number()` so consecutive
    * non-stop tokens share an island id (per-doc windows are bounded
    * by document length, never corpus-keyed) — then everything is
    * keyed partial-agg shuffles on word/phrase. Word scores are
    * exact-integer ratios rounded 6 into DECIMAL; the phrase score is
    * a DECIMAL sum (order-free), so the rank is engine-exact; the
    * final top-k is a bounded TakeOrderedAndProject.
    */
  def rakeKeywords(spark: SparkSession, sfDir: String, k: Int = 20,
      maxLen: Int = 4): DataFrame =
    rakeOver(Tables.documents(spark, sfDir), k, maxLen)

  /** Same operator over any (doc_id, text) frame — a planted corpus
    * with a repeated two-word phrase pins the deg/freq scores and the
    * stopword phrase boundaries by hand. */
  private[graft] def rakeOver(docs: DataFrame, k: Int,
      maxLen: Int): DataFrame = {
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), TextMapReduce.WordSplit))
          .as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val ns = toks.filter(!col("word").isin(RakeStops: _*))
      .withColumn("island", col("pos") - row_number().over(w))
    val ph = ns.groupBy("doc_id", "island")
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"),
            col("word")))), s => s.getField("word")), " ").as("phrase"),
        count(lit(1)).as("len"))
      .filter(col("len") <= maxLen)
      .localCheckpoint()
    val wsc = ph
      .select(explode(split(col("phrase"), " ")).as("word"), col("len"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("word"),
        round(col("deg").cast("double") / col("freq").cast("double"), 6)
          .cast(d186).as("wscore"))
    ph.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), max(col("len")).as("n_words"))
      .select(col("phrase"), col("n_occ"), col("n_words"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(wsc, "word")
      .groupBy("phrase", "n_occ", "n_words")
      .agg(sum(col("wscore")).as("score_d"))
      .orderBy(col("score_d").desc, col("phrase"))
      .limit(k)
      .select(col("phrase"), col("n_occ"),
        col("n_words").cast("long").as("n_words"),
        col("score_d").cast("double").as("score"))
  }

  /** VOCABULARY COVERAGE CURVE (`text_vocab_coverage`) — what share
    * of the corpus's TOKEN MASS do the top-10/100/1000 words cover?
    * The tokenizer-budget number (`q_vocab_growth` asks how fast NEW
    * types appear; this asks how much a FIXED vocabulary buys —
    * natural language covers most mass with a tiny head, and a corpus
    * whose curve flattens has a template/boilerplate injection
    * problem). The vocabulary never globally sorts: each k's head is
    * a bounded orderBy+limit (TakeOrderedAndProject — partial top-k
    * per partition, single bounded merge) under the total (cnt desc,
    * word) order, collapsed to one covered-mass row — no window, no
    * single-partition stage. Exact integer token counts, one
    * division per k.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String,
      ks: Seq[Long] = Seq(10L, 100L, 1000L)): DataFrame = {
    val wc = TextMapReduce.wordCount(spark, sfDir).localCheckpoint()
    val tot = wc.agg(sum(col("cnt")).as("total"))
    // no window anywhere: each k's head is its own bounded
    // orderBy+limit (TakeOrderedAndProject — partial top-k per
    // partition, single bounded merge) over the CHECKPOINTED counts,
    // collapsed to one covered-mass row; |ks| bounded passes over a
    // vocabulary-sized frame beats a rank column that would need a
    // single-partition window
    val byK = ks.map { k =>
      wc.orderBy(col("cnt").desc, col("word")).limit(k.toInt)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered_tokens"))
        .select(lit(k).as("k"), col("covered_tokens"))
    }.reduce(_ unionAll _)
    byK.crossJoin(broadcast(tot))
      .select(col("k"), col("covered_tokens"),
        col("total").as("total_tokens"),
        round(col("covered_tokens").cast("double") /
          col("total").cast("double"), 6).as("coverage"))
  }

  /** UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINER
    * (`text_unigram_lm`) — BPE's twin and the trainer modern
    * multilingual pipelines actually run (Kudo 2018): seed a large
    * candidate vocabulary from corpus substrings, then iteratively
    * (1) segment the corpus with the current vocabulary, (2) score
    * each piece by the token mass it actually claims, (3) PRUNE the
    * weakest pieces — keeping the alphabet as the always-available
    * fallback — until the vocabulary meets its budget. This is the
    * hard-EM (Viterbi-flavored) variant with a deterministic
    * longest-match-first segmenter: greedy longest match is exact
    * integer/string arithmetic in both engines, which is what lets
    * the whole train loop hash-gate against the DuckDB oracle
    * (an unrolled recursive-CTE twin) — a float Viterbi would be
    * partition lore. Output: the final vocabulary (surviving
    * multi-char pieces + fallback alphabet) with each piece's exact
    * claimed token count and corpus mass share — the tie-in to
    * `text_vocab_coverage`'s fixed-budget question.
    *
    * Scale shape (the `bpeMergesOver` discipline): the 100 TB corpus
    * is scanned ONCE into the unique-word table (vocabulary-sized,
    * weighted); every train pass iterates over that table, never the
    * corpus. Driver state is bounded by construction: the seed
    * candidate list (seedSize rows) and one pruned piece list per
    * round (pruneSizes rows) — collected exactly like BPE's
    * nMerges-row merge table. Each segmentation pass broadcasts the
    * current vocabulary INSIDE the plan as an array literal and runs
    * as ONE codegen'd HOF projection (aggregate over character
    * positions) — no per-row driver work, no shuffle beyond the
    * piece-count partial agg.
    */
  def unigramLm(spark: SparkSession, sfDir: String,
      seedSize: Int = 40, pruneSizes: Seq[Int] = Seq(12, 8),
      maxPieceLen: Int = 4): DataFrame = {
    val (words, vocab) =
      trainedUnigram(spark, sfDir, seedSize, pruneSizes, maxPieceLen)
    unigramLmFrom(words, vocab)
  }

  /** Memoized (word table, trained vocabulary) per (session, sfDir,
    * params) — the unigram family's TRAIN-ONCE discipline:
    * `text_unigram_lm` / `_apply` / `_coverage` are three views over
    * ONE trained tokenizer, so a verify/bench session pays the
    * seed+prune passes once (the AnnIndex artifact discipline in
    * memo form — at 100 TB the trained vocabulary IS a persisted
    * artifact a serving job reloads). Keyed on the session so an
    * entry from a stopped session can never serve a later one;
    * planted-corpus `Over` variants bypass the memo entirely.
    */
  private[graft] val ugTrainMemo = new MemoCache[
    (SparkSession, String, Int, Seq[Int], Int), (DataFrame, Seq[String])](
    capacity = 8, _._1)(v => MemoCache.freeLocalCheckpoint(v._1))

  private def trainedUnigram(spark: SparkSession, sfDir: String,
      seedSize: Int, pruneSizes: Seq[Int], maxPieceLen: Int)
      : (DataFrame, Seq[String]) =
    ugTrainMemo.getOrCompute(
      (spark, sfDir, seedSize, pruneSizes, maxPieceLen)) {
        val words = unigramWords(Tables.documents(spark, sfDir))
        (words,
          trainUnigramVocab(words, seedSize, pruneSizes, maxPieceLen))
      }

  /** Same trainer over any documents-shaped frame — planted-corpus
    * specs pin the greedy segmentation, the prune order, and the
    * final mass accounting against a naive reference implementation.
    */
  private[graft] def unigramLmOver(docs: DataFrame, seedSize: Int,
      pruneSizes: Seq[Int], maxPieceLen: Int): DataFrame = {
    val words = unigramWords(docs)
    unigramLmFrom(words,
      trainUnigramVocab(words, seedSize, pruneSizes, maxPieceLen))
  }

  private def unigramLmFrom(words: DataFrame,
      vocab: Seq[String]): DataFrame = {
    // final segmentation with the surviving vocabulary; eager because
    // both the piece counts and the 1-row total consume it
    val fin = words.select(col("n"), explode(segTokens(vocab)).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("n_tokens"))
      .localCheckpoint()
    val tot = fin.agg(sum(col("n_tokens")).as("t"))
    fin.crossJoin(broadcast(tot))
      .select(col("piece"),
        length(col("piece")).cast("long").as("piece_len"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("n_tokens").cast("double") / col("t").cast("double"), 6)
          .as("mass_share"))
  }

  /** Trainer domain = the BPE trainer's: [a-z]+ words of length ≥ 2,
    * weighted by corpus frequency (pieces are then [a-z]+ by
    * construction — safe to inline as literals). Eager: every train
    * pass and the apply join iterate this vocabulary-sized frame.
    */
  private def unigramWords(docs: DataFrame): DataFrame = docs
    .select(explode(wsTokens(col("text"))).as("w"))
    .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
    .groupBy("w").agg(count(lit(1)).as("n"))
    .localCheckpoint()

  /** Greedy longest-match segmentation of column `w` as ONE codegen'd
    * HOF over the word's character positions: pieces sorted
    * longest-first (ties lexicographic — unreachable for equal-length
    * matches, which are identical strings), try_element_at(filter(
    * ...), 1) IS the longest match, single chars the implicit
    * fallback alphabet. try_element_at: NULL (→ the fallback) when no
    * piece matches, where element_at would raise on the empty filter
    * result.
    */
  private def segTokens(vocab: Seq[String]): Column =
    if (vocab.isEmpty)
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    else {
      val arr = vocab.sortBy(p => (-p.length, p))
        .map(p => s"'$p'").mkString("array(", ", ", ")")
      val m = s"coalesce(try_element_at(filter($arr, " +
        s"v -> substring(w, i, length(v)) = v), 1), substring(w, i, 1))"
      expr(s"aggregate(sequence(1, length(w)), " +
        s"named_struct('p', 1, 'out', cast(array() as array<string>)), " +
        s"(acc, i) -> if(i != acc.p, acc, " +
        s"named_struct('p', acc.p + length($m), " +
        s"'out', array_append(acc.out, $m))), " +
        s"acc -> acc.out)")
    }

  /** The seed→segment→score→prune loop, returning the surviving
    * multi-char vocabulary. Driver state = the bounded seed/prune
    * lists; every pass iterates the vocabulary-sized word table.
    */
  private def trainUnigramVocab(words: DataFrame, seedSize: Int,
      pruneSizes: Seq[Int], maxPieceLen: Int): Seq[String] = {
    // seed candidates: every substring of length 2..maxPieceLen of
    // every word occurrence, weighted. The mass count partial-
    // aggregates on xxhash64(piece) — the seed shuffle carries 8-BYTE
    // keys with map-side combine (at 100 TB: #distinct-hashes × 16
    // bytes, never the candidate strings); the top-seedSize hashes
    // then resolve back to strings in a SECOND vocabulary-sized pass
    // that recomputes exact per-piece counts for the cutoff superset
    // (boundary ties included), so the final (mass desc, piece asc)
    // pick is identical to the all-strings shuffle. A 64-bit
    // collision could only merge two candidates in the CUTOFF
    // estimate — the resolve pass ranks true per-piece counts, and
    // the DuckDB oracle confirms zero drift at the gated SFs (the
    // substring-family collision argument, ≈ #candidates²/2⁶⁵).
    val candExpr = (2 to maxPieceLen).map(l =>
      s"transform(sequence(1, greatest(length(w) - ${l - 1}, 1)), " +
        s"i -> if(i + ${l - 1} <= length(w), substring(w, i, $l), null))")
      .mkString("filter(flatten(array(", ", ", ")), p -> p is not null)")
    val cand = words.select(col("n"), explode(expr(candExpr)).as("piece"))
    val hcnt = cand
      .select(xxhash64(col("piece")).as("h"), col("n"))
      .groupBy("h").agg(sum(col("n")).as("cnt"))
    val cutRow = hcnt.orderBy(col("cnt").desc, col("h")).limit(seedSize)
      .agg(min(col("cnt")).as("c")).first()
    val vocab0 =
      if (cutRow.isNullAt(0)) Seq.empty[String]
      else {
        val keptH = hcnt.filter(col("cnt") >= cutRow.getLong(0))
          .select("h")
        cand.join(broadcast(keptH),
            xxhash64(col("piece")) === col("h"))
          .groupBy("piece").agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("piece")).limit(seedSize)
          .collect().map(_.getString(0)).toSeq
      }
    // the EM-prune loop: segment → claimed-mass scores → keep the top
    // pruneSizes(r) pieces; each round is one vocabulary-table pass +
    // one bounded collect
    pruneSizes.foldLeft(vocab0) { (v, m) =>
      words.select(col("n"), explode(segTokens(v)).as("piece"))
        .filter(length(col("piece")) >= 2)
        .groupBy("piece").agg(sum(col("n")).as("u"))
        .orderBy(col("u").desc, col("piece")).limit(m)
        .collect().map(_.getString(0)).toSeq
    }
  }

  /** UNIGRAM APPLY (`text_unigram_apply`) — close the trainer's
    * train→apply loop exactly like [[bpeApply]] closes BPE's: encode
    * every document with the trained unigram vocabulary and report
    * per doc `n_words` (all whitespace words), `n_tokens` (one atomic
    * unknown per out-of-domain word + segment length per domain
    * word), and `n_multi` (multi-char pieces claimed — the
    * compression the vocabulary bought; [[vocabCoverage]] asks the
    * same fixed-budget question at the corpus level).
    *
    * Scale shape — train once, SEGMENT ONCE: the per-word token
    * counts are computed on the vocabulary-sized unique-word table
    * (one HOF pass), and the corpus pass is a words-explode JOIN
    * against that table — the 100 TB corpus never runs the segmenter,
    * it joins a vocabulary-sized dimension.
    */
  def unigramApply(spark: SparkSession, sfDir: String,
      seedSize: Int = 40, pruneSizes: Seq[Int] = Seq(12, 8),
      maxPieceLen: Int = 4): DataFrame =
    unigramApplyShared(spark, sfDir, seedSize, pruneSizes, maxPieceLen)

  /** Memoized APPLY frame per (session, sfDir, params): `_apply` and
    * `_coverage` consume the identical per-document encoding, so the
    * corpus segment-join pass runs once per session and coverage
    * becomes a broadcast-dim rollup over the cached rows (the frame
    * is #docs × 4 longs — bounded). localCheckpoint is the right
    * materialization here (unlike the substring families' per-
    * character scratch): the frame is tiny and both keys re-read it.
    */
  private[graft] val ugApplyMemo = new MemoCache[
    (SparkSession, String, Int, Seq[Int], Int), DataFrame](
    capacity = 8, _._1)(MemoCache.freeLocalCheckpoint)

  private def unigramApplyShared(spark: SparkSession, sfDir: String,
      seedSize: Int, pruneSizes: Seq[Int], maxPieceLen: Int): DataFrame =
    ugApplyMemo.getOrCompute(
      (spark, sfDir, seedSize, pruneSizes, maxPieceLen)) {
        val (words, vocab) =
          trainedUnigram(spark, sfDir, seedSize, pruneSizes, maxPieceLen)
        unigramApplyFrom(Tables.documents(spark, sfDir), words, vocab)
          .localCheckpoint()
      }

  /** UNIGRAM COVERAGE (`text_unigram_coverage`) — close the loop the
    * way [[tokenizerCoverage]] closes BPE's: the apply rows rolled up
    * per LANGUAGE, reporting multi-piece mass share and token fan-out
    * — the multilingual vocabulary-budget signal (a vocab trained on
    * this corpus's [a-z] domain claims little multi-piece mass in
    * languages it never saw, which is exactly what drives
    * per-language vocab sizing). One broadcast-dim join + a
    * #langs-row rollup over the apply pass.
    */
  def unigramCoverage(spark: SparkSession, sfDir: String,
      seedSize: Int = 40, pruneSizes: Seq[Int] = Seq(12, 8),
      maxPieceLen: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val ap = unigramApplyShared(spark, sfDir, seedSize, pruneSizes,
      maxPieceLen)
    ap.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("w"),
        sum(col("n_tokens")).as("t"),
        sum(col("n_multi")).as("m"))
      .select(col("lang"), col("n_docs"),
        col("w").cast("long").as("n_words"),
        col("t").cast("long").as("n_tokens"),
        col("m").cast("long").as("n_multi"),
        when(col("t") > 0, round(col("m").cast("double") /
          col("t").cast("double"), 6)).as("multi_share"),
        when(col("w") > 0, round(col("t").cast("double") /
          col("w").cast("double"), 6)).as("token_fanout"))
  }

  private[graft] def unigramApplyOver(docs: DataFrame, seedSize: Int,
      pruneSizes: Seq[Int], maxPieceLen: Int): DataFrame = {
    val words = unigramWords(docs)
    unigramApplyFrom(docs, words,
      trainUnigramVocab(words, seedSize, pruneSizes, maxPieceLen))
  }

  private def unigramApplyFrom(docs: DataFrame, words: DataFrame,
      vocab: Seq[String]): DataFrame = {
    // per-word token stats, computed ONCE on the unique-word table
    val wstats = words.select(col("w"), explode(segTokens(vocab)).as("piece"))
      .groupBy("w")
      .agg(count(lit(1)).as("w_tok"),
        sum(when(length(col("piece")) >= 2, 1L).otherwise(0L)).as("w_multi"))
    val dw = docs
      .select(col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_words"),
        explode_outer(filter(wsTokens(col("text")),
          w => length(w) >= 2 && w.rlike("^[a-z]+$"))).as("w"))
    dw.join(wstats, Seq("w"), "left")
      .groupBy("doc_id", "n_words")
      .agg(count(col("w")).as("n_dom"),
        coalesce(sum(col("w_tok")), lit(0L)).as("dom_tok"),
        coalesce(sum(col("w_multi")), lit(0L)).as("n_multi"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - col("n_dom") + col("dom_tok"))
          .cast("long").as("n_tokens"),
        col("n_multi").cast("long").as("n_multi"))
  }

  /** COHEN'S KAPPA (`q_cohens_kappa`) — chance-corrected agreement
    * between the heuristic language predictor ([[langId]]) and the
    * corpus's gold `lang` labels: the labeler-quality number every
    * weak-supervision pipeline reports before trusting a cheap
    * classifier at scale (raw accuracy flatters any predictor that
    * parrots the majority class; κ subtracts the agreement chance
    * would produce). κ = (N·Σn_kk − Σr_k·c_k)/(N² − Σr_k·c_k) — exact
    * integers end to end (marginal products in DECIMAL(38,0)), ONE
    * final IEEE division; gold labels outside the predictor's
    * four-language range (e.g. zh) count as disagreements, exactly as
    * they should. The contingency is |langs|²-bounded after one
    * partial-agg shuffle.
    */
  def cohensKappa(spark: SparkSession, sfDir: String): DataFrame =
    cohensKappaOver(
      langId(spark, sfDir).select(col("doc_id"), col("pred_lang")),
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")))

  /** Same operator over any (doc_id, pred_lang) × (doc_id, lang)
    * pair — planted perfect-agreement (κ = 1), chance-level, and
    * constant-predictor (κ ≤ 0) corpora pin the correction. */
  private[graft] def cohensKappaOver(pred: DataFrame,
      gold: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType => DT}
    val cells = pred.join(gold, "doc_id")
      .groupBy("pred_lang", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val n = cells.agg(sum(col("c")).as("n"))
    val agree = cells.agg(coalesce(
      sum(when(col("pred_lang") === col("lang"), col("c"))), lit(0L))
      .as("n_agree"))
    val r = cells.groupBy("pred_lang").agg(sum(col("c")).as("r"))
      .select(col("pred_lang").as("k"), col("r"))
    val cl = cells.groupBy("lang").agg(sum(col("c")).as("cl"))
      .select(col("lang").as("k"), col("cl"))
    val rc = r.join(cl, "k")
      .agg(coalesce(sum((col("r").cast(DT(19, 0)) *
        col("cl").cast(DT(19, 0))).cast(DT(38, 0))),
        lit(0).cast(DT(38, 0))).as("rc"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(rc))
      .select(col("n").cast("long").as("n"),
        col("n_agree").cast("long").as("n_agree"),
        round(col("n_agree").cast("double") / col("n").cast("double"), 6)
          .as("po"),
        round(col("rc").cast("double") /
          (col("n").cast(DT(19, 0)) * col("n").cast(DT(19, 0)))
            .cast(DT(38, 0)).cast("double"), 6).as("pe"),
        when((col("n").cast(DT(19, 0)) * col("n").cast(DT(19, 0)))
            .cast(DT(38, 0)).minus(col("rc")).cast("double") =!= 0.0,
          round((col("n").cast(DT(19, 0)).multiply(
              col("n_agree").cast(DT(19, 0))).cast(DT(38, 0))
              .minus(col("rc"))).cast("double") /
            (col("n").cast(DT(19, 0)) * col("n").cast(DT(19, 0)))
              .cast(DT(38, 0)).minus(col("rc")).cast("double"), 6))
          .as("kappa"))
  }

  /** C4-style repetition/quality filters: per-doc word statistics —
    * total words, hottest-word count, words occurring ≥2 times,
    * frequency-weighted mean word length — and the keep verdict
    * (enough words, not dominated by one token, sane word lengths).
    * One explode, two keyed aggregations; every metric is exact
    * integer math until the final divisions.
    */
  def c4Filters(spark: SparkSession, sfDir: String): DataFrame = {
    val w = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(col("text"), TextMapReduce.WordSplit)).as("word"))
      .filter(col("word") =!= "")
    val perWord = w.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
    perWord.groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_words"),
        max(col("cnt")).as("top_cnt"),
        coalesce(sum(when(col("cnt") >= 2, col("cnt"))), lit(0L)).as("dup_words"),
        sum(col("cnt") * length(col("word"))).as("wlen_sum"))
      .withColumn("top_word_ratio", col("top_cnt") / col("n_words"))
      .withColumn("mean_wlen", col("wlen_sum") / col("n_words"))
      .withColumn("keep",
        col("n_words") >= 20 && col("top_word_ratio") <= 0.2
          && col("mean_wlen").between(2, 12))
  }

  /** Word-3-gram distinct shingle array per document (empty below 3
    * words). Shared by fingerprinting and the dedup family. Custom
    * Catalyst expression: the HOF formulation (transform over indices
    * + element_at) re-evaluates the word-split per element under
    * interpreted eval — quadratic per document.
    */
  def shingles(text: Column): Column =
    graft.functions.CatalystExprs.word_ngrams(
      filter(split(text, WordSplit), w => w =!= ""), 3)

  /** TF-IDF per (document, word): tf = raw term count, df = docs
    * containing the term, tfidf = tf · (ln((N+1)/(df+1)) + 1)
    * (smoothed). Two aggregations sharing the token explode; the
    * corpus size joins in as a 1-row broadcast, keeping the plan fully
    * declarative (no driver-side collect).
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), WordSplit), w => w =!= "")).as("word"))
    val tf = tok.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      // rounded to 6 decimals: JVM and libm ln() disagree in the last
      // ulp for some arguments, which would break cross-engine hashing
      .withColumn("tfidf", round(
        col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
      .select("doc_id", "word", "tf", "df", "tfidf")
  }

  /** Per-document keyword extraction: the top-k terms by tf-idf —
    * the cheap unsupervised tagger every corpus-exploration pipeline
    * runs. Pure composition over [[tfidf]] (already cross-engine
    * deterministic): one additional window shuffle keyed doc_id,
    * ordered (tfidf DESC, word) so ranks are total and stable.
    */
  def keywords(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word"))
    tfidf(spark, sfDir)
      .withColumn("rnk", row_number().over(byDoc).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("word"), col("tfidf"), col("rnk"))
  }

  /** Unigram language-model scoring — the classic LM quality signal
    * (a cheap stand-in for KenLM-style perplexity filtering): corpus
    * unigram probabilities p(w) = cf(w)/N, per-document score =
    * mean negative log-likelihood over its tokens (perplexity is
    * e^avg_nll). High avg_nll ⇒ the document is full of words the
    * corpus finds surprising — the gibberish/boilerplate axis C4's
    * heuristics can't see.
    *
    * Cross-engine discipline: each (doc, word) term is rounded to 6
    * decimals and SUMMED IN DECIMAL — a raw double sum is
    * shuffle-order-dependent and would break the hash gate; the libm
    * ln() ulp differences are absorbed by the rounding (the tfidf
    * pattern). Corpus totals join in as 1-row broadcasts — no
    * driver-side collect.
    */
  def perplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), WordSplit), w => w =!= "")).as("word"))
    val tf = tok.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val cf = tok.groupBy("word")
      .agg(count(lit(1)).as("cf"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    tf.join(cf, "word")
      .crossJoin(broadcast(tot))
      .withColumn("nll",
        round(col("tf") * log(col("n_total") / col("cf")), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("nll")).as("nll_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll_sum").cast("double") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** Bigram LM perplexity with Stupid Backoff (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the
    * division-free web-scale scheme): score S(b|a) = c(ab)/c(a) when
    * the PRUNED bigram table holds (ab), else α·c(b)/N with α = 1/2;
    * doc-leading tokens score unigram c(b)/N. The table prunes
    * singleton bigrams (min-count 2, standard LM pruning) — that is
    * also what makes backoff genuinely fire on a corpus-trained model
    * scoring its own corpus. In ln-expanded form every term is a
    * difference of ln-counts (+ln 2 on backoff), each rounded to 6
    * decimals and summed IN DECIMAL — the perplexity/collocations
    * discipline that keeps cross-engine doubles bit-identical.
    *
    * Scale shape: bigrams are built ARRAY-SIDE per doc (the
    * collocations shape — no shuffle of the token stream on
    * positions); token and bigram counts are partial-agg shuffles on
    * the word / word-pair; the per-position score is one join against
    * each count table (broadcast N); per-doc reduce. No corpus-global
    * state beyond the count tables themselves.
    */
  /** The word-level LM count tables per (session, corpus) —
    * (UNPRUNED bigram counts, unigram counts, token total), the
    * ugTrainMemo convention for the scoring LMs: `text_perplexity_
    * bigram` and `text_kneser_ney` both count the identical corpus
    * bigrams and differ only in smoothing; a production LM counts
    * once and every scorer reloads the tables. The per-doc scoring
    * fan-out stays per-call (it IS each query's work).
    */
  private[graft] val bigramStatsMemo = new MemoCache[
    (SparkSession, String), (DataFrame, DataFrame, DataFrame)](
    capacity = 4, _._1)(v => {
      MemoCache.freeLocalCheckpoint(v._1)
      MemoCache.freeLocalCheckpoint(v._2)
      MemoCache.freeLocalCheckpoint(v._3)
    })

  private def bigramStats(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) =
    bigramStatsMemo.getOrCompute((spark, sfDir)) {
      val words = wordArraysOf(Tables.documents(spark, sfDir))
      val tok = words.select(col("doc_id"), explode(col("w")).as("w"))
      (bigramsOf(words).groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
          .localCheckpoint(),
        tok.groupBy("w").agg(count(lit(1)).as("cw")).localCheckpoint(),
        tok.agg(count(lit(1)).as("n_total")).localCheckpoint())
    }

  private def wordArraysOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      filter(split(col("text"), WordSplit), w => w =!= "").as("w"))

  private def bigramsOf(words: DataFrame): DataFrame = words
    .filter(size(col("w")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
      .as("pr"))
    .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))

  def perplexityBigram(spark: SparkSession, sfDir: String,
      minCount: Long = 2): DataFrame = {
    val (cabAll, uni, tot) = bigramStats(spark, sfDir)
    perplexityBigramFrom(Tables.documents(spark, sfDir),
      cabAll.filter(col("c_ab") >= minCount), uni, tot)
  }

  /** Same operator over any (doc_id, text) frame (planted specs) —
    * un-memoized: counts derive from the given frame.
    */
  def perplexityBigramOver(docs: DataFrame, minCount: Long): DataFrame = {
    val words = wordArraysOf(docs)
    val tok = words.select(col("doc_id"), explode(col("w")).as("w"))
    perplexityBigramFrom(docs,
      bigramsOf(words).groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= minCount),
      tok.groupBy("w").agg(count(lit(1)).as("cw")),
      tok.agg(count(lit(1)).as("n_total")))
  }

  private def perplexityBigramFrom(docs: DataFrame, cab: DataFrame,
      uni: DataFrame, tot: DataFrame): DataFrame = {
    val words = wordArraysOf(docs)
    val big = bigramsOf(words)
    // per-position NLL: leading token → unigram; seen bigram →
    // ln c(a) − ln c(ab); pruned bigram → ln N − ln c(b) + ln 2
    val lead = words.filter(size(col("w")) >= 1)
      .select(col("doc_id"), element_at(col("w"), 1).as("w"))
      .join(uni.select(col("w"), col("cw").as("c_b")), "w")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("n_total")) - log(col("c_b")), 6).as("nll"),
        lit(0L).as("backoff"))
    val rest = big
      .join(cab, Seq("a", "b"), "left")
      .join(uni.select(col("w").as("a"), col("cw").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("cw").as("c_b")), "b")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("c_ab").isNotNull,
          round(log(col("c_a")) - log(col("c_ab")), 6))
          .otherwise(
            round(log(col("n_total")) - log(col("c_b")) + log(lit(2.0)), 6))
          .as("nll"),
        when(col("c_ab").isNotNull, 0L).otherwise(1L).as("backoff"))
    lead.union(rest)
      .select(col("doc_id"),
        col("nll").cast(DecimalType(18, 6)).as("nll"), col("backoff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("nll")).as("nll_sum"))
      .select(col("doc_id"), col("n_tokens"), col("n_backoff"),
        round(col("nll_sum").cast("double") / col("n_tokens"), 6)
          .as("avg_nll"))
  }

  /** PERSISTED LM ARTIFACT + OUT-OF-CORPUS SCORING — the
    * train-once/serve-many shape for the language-model family (the
    * AnnIndex / sketch_persist precedent applied to the Stupid
    * Backoff LM): the TRAIN half of the corpus builds the model —
    * unigram counts, the pruned bigram table, the token total — and
    * persists all three as parquet artifacts; the HELD-OUT half is
    * then scored from the artifacts alone, never re-reading training
    * text (how perplexity-based quality filtering actually deploys:
    * the KenLM model is trained offline once, every ingest batch is
    * scored against it). Scoring out-of-corpus adds the OOV case the
    * in-corpus operator can never hit: an unseen word backs off with
    * c(b) treated as 1 (ln N − ln 1 + ln 2 = ln N + ln 2; an unseen
    * leading token scores ln N) and is counted in `n_oov`.
    *
    * Same ln-expanded / round-6 / decimal-sum discipline as
    * [[perplexityBigram]]; the artifact tables are count tables, so
    * re-training on a new batch is a re-mergeable count union (the
    * sketch-store property). Scale shape: the model tables shuffle on
    * word / word-pair; scoring is two broadcast-or-shuffle joins
    * against tables that grow with the VOCABULARY, not the corpus.
    */
  /** Persisted-LM artifact store per (session, corpus, minCount) —
    * the `ivfDirMemo` convention lifted to the LM family: the model
    * is the train-once artifact (a production LM is trained offline
    * ONCE and every ingest batch scores against it), so one session
    * builds the count tables once and every call serves from the
    * parquet store. The store is a per-JVM TempDir — nothing survives
    * the session.
    */
  private[graft] val lmDirMemo = new MemoCache[
    (SparkSession, String, Long), String](capacity = 4, _._1)(
    graft.TempDirs.delete)

  def lmPersisted(spark: SparkSession, sfDir: String,
      minCount: Long = 2): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: Column => Column): DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    def wordArrays(d: DataFrame): DataFrame = d.select(col("doc_id"),
      filter(split(col("text"), WordSplit), w => w =!= "").as("w"))
    def bigrams(words: DataFrame): DataFrame = words
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
        .as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
    // TRAIN once per (session, corpus, minCount): count tables from
    // the id-lower half, persisted to the session store
    val dir = lmDirMemo.getOrCompute((spark, sfDir, minCount)) {
      val d = graft.TempDirs.create("graft_lm_store").toString
      val trainWords = wordArrays(half(col("doc_id") <= _))
      val trainTok = trainWords.select(explode(col("w")).as("w"))
      trainTok.groupBy("w").agg(count(lit(1)).as("cw"))
        .write.mode("overwrite").parquet(s"$d/uni")
      bigrams(trainWords).groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= minCount)
        .write.mode("overwrite").parquet(s"$d/big")
      trainTok.agg(count(lit(1)).as("n_total"))
        .write.mode("overwrite").parquet(s"$d/meta")
      d
    }
    // SERVE: held-out half scored from artifacts only
    scoreWithLm(half(col("doc_id") > _),
      Tables.parquet(spark, s"$dir/uni"),
      Tables.parquet(spark, s"$dir/big"),
      Tables.parquet(spark, s"$dir/meta"))
  }

  /** Score any (doc_id, text) frame against persisted LM count
    * tables (uni: w/cw, cab: a/b/c_ab, tot: n_total) — the serve
    * half of [[lmPersisted]], exposed so specs can plant OOV batches
    * the closed-vocabulary corpus never produces.
    */
  private[graft] def scoreWithLm(docs: DataFrame, uni: DataFrame,
      cab: DataFrame, tot: DataFrame): DataFrame = {
    def wordArrays(d: DataFrame): DataFrame = d.select(col("doc_id"),
      filter(split(col("text"), WordSplit), w => w =!= "").as("w"))
    def bigrams(words: DataFrame): DataFrame = words
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
        .as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
    val words = wordArrays(docs)
    val lead = words.filter(size(col("w")) >= 1)
      .select(col("doc_id"), element_at(col("w"), 1).as("w"))
      .join(uni.select(col("w"), col("cw").as("c_b")), Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("n_total")) - log(coalesce(col("c_b"), lit(1L))), 6)
          .as("nll"),
        lit(0L).as("backoff"),
        when(col("c_b").isNull, 1L).otherwise(0L).as("oov"))
    val rest = bigrams(words)
      .join(cab, Seq("a", "b"), "left")
      .join(uni.select(col("w").as("b"), col("cw").as("c_b")),
        Seq("b"), "left")
      .join(uni.select(col("w").as("a"), col("cw").as("c_a")),
        Seq("a"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("c_ab").isNotNull,
          round(log(col("c_a")) - log(col("c_ab")), 6))
          .otherwise(round(log(col("n_total"))
            - log(coalesce(col("c_b"), lit(1L))) + log(lit(2.0)), 6))
          .as("nll"),
        when(col("c_ab").isNotNull, 0L).otherwise(1L).as("backoff"),
        when(col("c_b").isNull, 1L).otherwise(0L).as("oov"))
    lead.union(rest)
      .select(col("doc_id"), col("nll").cast(DecimalType(18, 6)).as("nll"),
        col("backoff"), col("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("oov")).as("n_oov"),
        sum(col("nll")).as("nll_sum"))
      .select(col("doc_id"), col("n_tokens"), col("n_backoff"),
        col("n_oov"),
        round(col("nll_sum").cast("double") / col("n_tokens"), 6)
          .as("avg_nll"))
  }

  /** ZIPF RANK-FREQUENCY FIT — Heaps' companion diagnostic: the OLS
    * slope of ln(freq) on ln(rank) over the top-`k` vocabulary (the
    * conventional top-N Zipf fit; natural language sits near −1, and
    * a corpus that drifts far from its baseline exponent has a
    * boilerplate or template injection problem — this is the
    * one-number drift alarm for that). Ranks come from the bounded
    * [[graft.plans.TopKPerKey]] heap over a constant key (k rows per
    * partition into the final merge — the engine's uniform rank
    * shape, never a vocabulary-global sort); each ln rounds to 6
    * decimals and every OLS moment accumulates IN DECIMAL (the
    * q_regression discipline — the round also absorbs ≤1-ulp libm ln
    * disagreement), so slope/intercept/r² are a fixed IEEE dag over
    * exact moments.
    */
  def zipfFit(spark: SparkSession, sfDir: String,
      k: Int = 1000): DataFrame = {
    val d18 = DecimalType(18, 6)
    val d38 = DecimalType(38, 12)
    val cf = Tables.documents(spark, sfDir)
      .select(explode(filter(split(col("text"), WordSplit), w => w =!= ""))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("cf"))
      .withColumn("g", lit(1))
    val ranked = graft.plans.TopKPerKey(cf, Seq("g"),
      Seq(("cf", true), ("w", false)), k)
    val m = ranked
      .select(round(log(col("rnk")), 6).cast(d18).as("x"),
        round(log(col("cf")), 6).cast(d18).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
      .select(col("n").cast("double").as("n"),
        col("sx").cast("double").as("sx"),
        col("sy").cast("double").as("sy"),
        col("sxy").cast("double").as("sxy"),
        col("sxx").cast("double").as("sxx"),
        col("syy").cast("double").as("syy"))
    m.withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("n"))
      .withColumn("r2",
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          * (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))))
      .select(col("n").cast("long").as("n_words"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"))
  }

  /** VOCABULARY-GROWTH CURVE (Heaps' law) — the corpus-scaling
    * diagnostic behind tokenizer and dedup budgeting: how many
    * distinct words has the corpus introduced after scanning its
    * first 10%, 20%, … of documents (ingest = doc_id order)? A curve
    * that keeps climbing steeply says open vocabulary (BPE budget
    * matters, hash-based fingerprints keep growing); a flattening
    * curve says closed domain. Computed EXACTLY with no cumulative
    * re-scan: each word's FIRST document (one groupBy-min over the
    * token stream) and each document's token count (one rollup) are
    * enough — checkpoint c's vocabulary is |{w : first_doc(w) ≤
    * cut_c}| and its token count is Σ_{doc ≤ cut_c} n_tokens, both
    * one broadcast-joined conditional aggregation over
    * vocabulary-sized (not corpus-sized) frames.
    */
  def vocabGrowth(spark: SparkSession, sfDir: String,
      checkpoints: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"),
      explode(filter(split(col("text"), WordSplit), w => w =!= ""))
        .as("w"))
    val firstSeen = tok.groupBy("w").agg(min(col("doc_id")).as("fd"))
    val docTokens = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"))
    // decile cut ids from the doc-id span (min + k/10 of the range):
    // a 1-row aggregate fanned to `checkpoints` rows, broadcast
    val cuts = docs
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .select(explode(sequence(lit(1L), lit(checkpoints.toLong)))
        .as("decile"), col("lo"), col("hi"))
      .select(col("decile"),
        (col("lo") + floor((col("hi") - col("lo") + 1)
          * col("decile") / checkpoints) - 1).as("cut"))
    val vocab = firstSeen.join(broadcast(cuts), col("fd") <= col("cut"))
      .groupBy("decile", "cut").agg(count(lit(1)).as("vocab_size"))
    val toks = docTokens.join(broadcast(cuts), col("doc_id") <= col("cut"))
      .groupBy(col("decile").as("d2"))
      .agg(sum(col("n_tokens")).as("tokens_scanned"))
    vocab.join(toks, col("decile") === col("d2")).drop("d2")
      .select(col("decile"), col("cut"), col("tokens_scanned"),
        col("vocab_size"),
        round(col("vocab_size").cast("double")
          / col("tokens_scanned"), 6).as("vocab_per_token"))
  }

  /** WATERMARK DETECTION (Kirchenbauer et al. 2023, "A Watermark for
    * Large Language Models") — the greenlist test a curation pipeline
    * runs to keep watermarked SYNTHETIC text out of training data: a
    * watermarking sampler seeds a "green" half of the vocabulary from
    * each previous token and boosts it, so generated text shows a
    * green fraction far above the ½ null; the detector scores each
    * position 2..n green when the first md5 nibble of
    * "prev|current" falls in 0-7 (the hash-seeded half-vocabulary
    * rule, engine-reproducible like every md5 recipe here) and flags
    * docs whose one-proportion z = (2g − n)/√n clears 4. Natural
    * text sits at z ≈ 0 (the corpus never trips it — the planted
    * spec drives a synthetic greedy-green generation through the
    * detector instead).
    *
    * Scale shape: bigrams built array-side per doc (the collocations
    * recipe), one md5 + nibble test per position inside the same
    * projection, one per-doc reduce. No corpus-global state at all.
    */
  def watermark(spark: SparkSession, sfDir: String,
      zThreshold: Double = 4.0): DataFrame =
    watermarkOver(Tables.documents(spark, sfDir), zThreshold)

  /** Same detector over any (doc_id, text) frame (planted specs). */
  private[graft] def watermarkOver(docs: DataFrame,
      zThreshold: Double): DataFrame = {
    val words = docs.select(col("doc_id"),
      filter(split(col("text"), WordSplit), w => w =!= "").as("w"))
    words.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
        .as("pr"))
      .select(col("doc_id"),
        when(substring(md5(concat(col("pr.a"), lit("|"), col("pr.b"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L)
          .otherwise(0L).as("green"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum(col("green")).as("n_green"))
      .select(col("doc_id"), col("n_scored"), col("n_green"),
        round(col("n_green").cast("double") / col("n_scored"), 6)
          .as("green_frac"),
        round((lit(2.0) * col("n_green") - col("n_scored"))
          / sqrt(col("n_scored")), 6).as("z"),
        (((lit(2.0) * col("n_green") - col("n_scored"))
          / sqrt(col("n_scored"))) > zThreshold).as("watermarked"))
  }

  /** Per-document lexical-diversity signals: unigram word entropy and
    * type-token ratio — the "repetitive boilerplate vs natural prose"
    * axis used alongside the C4/Gopher rules (low entropy ⇒ a few
    * tokens dominate ⇒ template/spam-like text).
    *
    * H = ln(n) − (Σ tf·ln tf)/n, so only per-(doc,word) `tf·ln tf`
    * terms ever sum — each rounded to 6 decimals and SUMMED IN DECIMAL
    * (the perplexity discipline: a raw double sum is
    * shuffle-order-dependent, and libm/JVM ln() can differ in the last
    * ulp). One explode + one (doc,word) shuffle + one doc_id shuffle;
    * no corpus-global state at all, so the operator scales as a pure
    * map-side pipeline at 100 TB.
    */
  def entropy(spark: SparkSession, sfDir: String): DataFrame =
    entropyOver(Tables.documents(spark, sfDir))

  /** Same operator over any (doc_id, text) frame — planted-corpus
    * specs check the exact uniform/degenerate entropy values.
    */
  def entropyOver(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), WordSplit), w => w =!= "")).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(round(col("tf") * log(col("tf")), 6).cast(DecimalType(18, 6)))
          .as("tlt_sum"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(log(col("n_tokens"))
          - col("tlt_sum").cast("double") / col("n_tokens"), 6).as("entropy"))

  /** Trained NAIVE BAYES language classifier (`text_naive_bayes`) —
    * the learnable counterpart to `text_langid`'s fixed n-gram
    * heuristic, and the repo's train/apply supervised-text loop:
    * multinomial NB with Laplace α=1 trained on the id-lower corpus
    * half, applied to the upper half, reported as the (true,
    * predicted) confusion matrix. All probability math is ln-expanded
    * so only per-(doc, word, class) terms ever sum —
    * `c_dw·(ln(c_wc+1) − ln(t_c+V))` — each rounded to 6 decimals and
    * summed IN DECIMAL with the prior `ln n_c − ln n` term (the
    * perplexity discipline), making the per-(doc, class) score EXACT
    * and the argmax (score desc, class asc) bit-deterministic in both
    * engines. Plan: train counts are one (class, word) aggregation;
    * scoring is test-doc-word pairs × the #classes-row broadcast,
    * left-joined to train counts on (class, word) — linear in tokens
    * × classes, no per-doc state, map-side scalable at 100 TB.
    */
  def naiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    // the corpus-midpoint split every two-phase scaffold uses; one
    // bounded 1-row read
    val mid = docs.agg(floor((min(col("doc_id")) + max(col("doc_id")))
      / lit(2.0)).cast("long")).head().getLong(0)
    val train = docs.filter(col("doc_id") <= mid)
    val test = docs.filter(col("doc_id") > mid)
    def tok(df: DataFrame): DataFrame = df.select(col("doc_id"),
      col("lang"), explode(filter(split(col("text"), WordSplit),
        w => w =!= "")).as("word"))
    val trainWc = tok(train).groupBy(col("lang").as("cls"), col("word"))
      .agg(count(lit(1)).as("c_wc"))
      .localCheckpoint()
    val classTotals = trainWc.groupBy("cls").agg(sum(col("c_wc")).as("t_c"))
    // two bounded scalars: train vocab size (the Laplace denominator)
    // and the train doc count (the prior denominator)
    val v = trainWc.select(countDistinct(col("word"))).head().getLong(0)
    val nTrain = train.count()
    val priors = train.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("n_c"))
      .join(classTotals, "cls")
      .select(col("cls"), col("t_c"),
        round(log(col("n_c")) - log(lit(nTrain.toDouble)), 6)
          .cast(DecimalType(18, 6)).as("prior"))
    val testWc = tok(test).groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c_dw"))
    val scores = testWc
      .crossJoin(broadcast(priors))
      .join(trainWc, Seq("cls", "word"), "left")
      .withColumn("term",
        round(col("c_dw") * (log(coalesce(col("c_wc"), lit(0L)) + lit(1L))
          - log(col("t_c") + lit(v))), 6).cast(DecimalType(18, 6)))
      .groupBy(col("doc_id"), col("cls"), col("prior"))
      .agg(sum(col("term")).as("tsum"))
      .select(col("doc_id"), col("cls"),
        (col("tsum") + col("prior")).as("s"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("s").desc, col("cls"))
    scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(test.select(col("doc_id"), col("lang").as("true_lang")),
        "doc_id")
      .groupBy(col("true_lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-source distribution drift (`q_source_divergence`): KL(source
    * ‖ corpus) over unigram word distributions — the mixture-curation
    * signal for "which source reads least like the rest of the
    * corpus" (a spiking KL flags scrapes gone bad or templated spam
    * before they pollute a training mix; the lexical twin of
    * `q_drift_psi`'s numeric drift).
    *
    * KL = Σ_w p_sw·ln(p_sw/p_w) expanded so only per-(source,word)
    * terms ever sum: c_sw·(ln c_sw − ln t_s − ln c_w + ln t), each
    * rounded to 6 decimals and summed IN DECIMAL (the perplexity
    * discipline), one final division per source. Every source word is
    * a corpus word, so no zero-probability guard is needed. Plan: one
    * explode → one (source,word) count; corpus word counts and
    * per-source totals REUSE that frame (two small shuffles over the
    * distinct vocab, never the token stream); the 1-row corpus total
    * and the #sources-row totals broadcast. No corpus-global state
    * beyond those — map-side scalable at 100 TB.
    */
  def sourceDivergence(spark: SparkSession, sfDir: String): DataFrame =
    sourceDivergenceOver(Tables.documents(spark, sfDir))

  def sourceDivergenceOver(docs: DataFrame): DataFrame = {
    val sw = docs
      .select(col("source"),
        explode(filter(split(col("text"), WordSplit), w => w =!= ""))
          .as("word"))
      .groupBy("source", "word")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bySource = sw.groupBy("source").agg(sum(col("c")).as("t_s"))
    val byWord = sw.groupBy("word").agg(sum(col("c")).as("c_w"))
    val total = sw.agg(sum(col("c")).as("t"))
    sw.join(byWord, "word")
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(total))
      .groupBy(col("source"), col("t_s"))
      .agg(count(lit(1)).as("n_types"),
        sum(round(col("c") * (log(col("c")) - log(col("t_s"))
            - log(col("c_w")) + log(col("t"))), 6)
          .cast(DecimalType(18, 6))).as("term_sum"))
      .select(col("source"), col("t_s").as("n_tokens"), col("n_types"),
        round(col("term_sum").cast("double") / col("t_s"), 6).as("kl"))
  }

  /** Gopher-style quality rules (the MassiveText filter set, distinct
    * from the C4 word-repetition filters): word-count bounds, mean
    * word length bounds, symbol-to-word ratio, alphabetic-word
    * fraction, and the ≥2-distinct-stopwords rule — each emitted as
    * its own column plus the composite keep verdict, so downstream
    * curation can ablate rules individually. All ratios follow the
    * single-final-division oracle discipline.
    */
  /** The Gopher word-statistic columns, as a projection over
    * (text, w) — shared by `gopherFilters` and the stateless
    * streaming curation gate.
    */
  private def gopherStats: Seq[Column] = Seq(
    size(col("w")).cast("long").as("n_words"),
    safeDiv(length(regexp_replace(col("text"), "[^#@*&%$+=<>|~^]", "")),
      size(col("w"))).as("symbol_ratio"),
    safeDiv(size(filter(col("w"), t => t.rlike("\\p{L}"))), size(col("w")))
      .as("alpha_frac"),
    safeDiv(length(regexp_replace(col("text"), "[^\\p{L}]", "")), size(col("w")))
      .as("mean_wlen"),
    size(array_intersect(
      array_distinct(transform(col("w"), t => lower(t))),
      array(Stopwords.map(lit): _*))).cast("long").as("n_stop"))

  /** The Gopher keep verdict over the `gopherStats` columns. */
  private def gopherKeep: Column =
    col("n_words").between(20, 100000) &&
      col("mean_wlen").between(2.0, 12.0) &&
      col("symbol_ratio") <= 0.1 &&
      col("alpha_frac") >= 0.8 &&
      col("n_stop") >= 2

  def gopherFilters(spark: SparkSession, sfDir: String): DataFrame = {
    val w = wsTokens(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), w.as("w"))
      .select(col("doc_id") +: gopherStats: _*)
      .withColumn("keep", gopherKeep)
  }

  /** Stateless ingest-time curation gate: the Gopher keep rules plus
    * the stopword-profile language prediction, all as ONE projection
    * over the scan — zero state, zero shuffle, so the exact same code
    * curates a 100 TB batch backfill and a live Structured Streaming
    * feed (`stream_curate` runs it in append mode; the DuckDB oracle
    * gates the batch-equal output).
    */
  def curateGateOver(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), wsTokens(col("text")).as("w"),
        wsTokens(lower(col("text"))).as("wl"))
      .select((col("doc_id") +: gopherStats) ++ langScores(col("wl")): _*)
      .withColumn("pred_lang", predLang)
      .filter(gopherKeep)
      .select(col("doc_id"), col("n_words"), col("pred_lang"))

  /** BM25 retrieval scoring — rank the corpus against a fixed query
    * term set (Okapi BM25, Lucene's +1-idf variant so idf is never
    * negative). The LLM-pipeline use: score-and-keep documents
    * relevant to a topic seed list, or build weak supervision for a
    * quality classifier. One token pass feeds tf / df / doclen;
    * corpus stats (N, avgdl) ride a 1-row broadcast; the query-term
    * filter prunes tf to ≤|query| rows per doc BEFORE any join.
    *
    * Cross-engine discipline: each term's contribution is rounded to
    * 6 decimals and summed IN DECIMAL (≤|query| terms per doc), so
    * scores are shuffle-order free and libm ulp noise is absorbed;
    * the final top-k orders by (score, doc_id) — per-partition heaps,
    * no global sort.
    */
  def bm25(spark: SparkSession, sfDir: String,
      query: Seq[String] = Seq("vector", "merge", "data"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), WordSplit), w => w =!= "")).as("word"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(dl.agg(sum(col("dl")).as("dl_total"))))
      .select(col("n_docs"),
        (col("dl_total").cast("double") / col("n_docs")).as("avgdl"))
    val qTok = tok.filter(col("word").isin(query: _*))
    val tf = qTok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = qTok.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("c", round(
        col("idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))),
        6).cast(DecimalType(18, 6)))
    contrib.groupBy("doc_id")
      .agg(sum(col("c")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Content fingerprint: md5 (the one hash both engines share
    * bit-exactly) + distinct-shingle count; `fp_head` is the bucket
    * prefix a rolling-hash sharder would use.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      md5(col("text")).as("fp"),
      substring(md5(col("text")), 1, 8).as("fp_head"),
      size(shingles(col("text"))).cast("long").as("n_shingles"))

  /** PMI collocation mining (phrase extraction for vocabulary /
    * tokenizer work): adjacent word bigrams scored by pointwise mutual
    * information ln(p(ab) / (p(a)·p(b))), min-count floored, top-k.
    * High PMI + enough support = a phrase worth a single vocab slot
    * ("new york"), which is what phrase-merge passes feed on.
    *
    * PMI expands to ln(c_ab) + 2·ln(N) − ln(M) − ln(c_a) − ln(c_b) so
    * the counts never multiply (c_ab·N² overflows any integer at
    * 100 TB); the five ln terms combine in one fixed-order IEEE
    * expression mirrored in the oracle and round-6 absorbs the libm
    * ulps. Plan: exactly TWO corpus scans (one unigram pass, one
    * bigram pass) — the N/M totals re-aggregate the persisted
    * vocabulary-sized count tables rather than re-scanning text — then
    * the unigram counts join back onto the bigram table twice
    * (planner's choice — vocabulary ≪ corpus but can exceed broadcast
    * size at scale), and the 1-row totals broadcast.
    */
  def collocations(spark: SparkSession, sfDir: String, minCount: Long = 5,
      k: Int = 50): DataFrame =
    collocationsOver(Tables.documents(spark, sfDir), minCount, k)

  /** Same operator over any (doc_id, text) frame — planted-corpus
    * specs pin the PMI ranking.
    */
  def collocationsOver(docs: DataFrame, minCount: Long = 5,
      k: Int = 50): DataFrame = {
    val words = docs
      .select(filter(split(col("text"), WordSplit), w => w =!= "").as("w"))
    val ucnt = Scratch.persistDeferred(
      words.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")))
    val bcnt = words.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt_ab"))
    Scratch.persistDeferred(bcnt)
    val nTot = ucnt.agg(sum(col("cnt")).as("n_uni"))
    val mTot = bcnt.agg(sum(col("cnt_ab")).as("m_bi"))
    bcnt
      .filter(col("cnt_ab") >= minCount)
      .join(ucnt.select(col("tok").as("a"), col("cnt").as("cnt_a")), "a")
      .join(ucnt.select(col("tok").as("b"), col("cnt").as("cnt_b")), "b")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(mTot))
      .withColumn("pmi", round(
        log(col("cnt_ab")) + lit(2) * log(col("n_uni")) - log(col("m_bi"))
          - log(col("cnt_a")) - log(col("cnt_b")), 6))
      .select(col("a"), col("b"), col("cnt_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(k)
  }

  /** BPE merge-candidate induction, round zero: corpus-wide counts of
    * adjacent CHARACTER pairs inside whitespace tokens — the argmax
    * is the first merge a byte-pair-encoding trainer would make, and
    * the top-k list is the seed merge table. One explode + one
    * count shuffle; per-word pair lists are tiny so the explode
    * never amplifies beyond total corpus characters. Top-k via
    * orderBy+limit (k is small; the sort input is the pair
    * vocabulary, already collapsed by the aggregation).
    */
  def bpePairs(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)

  /** ITERATIVE BPE merge training (Sennrich et al. 2016): N rounds of
    * count-all-adjacent-pairs → pick the most frequent → merge it
    * everywhere → recount. `bpePairs` is the one-round statistic; this
    * is the actual tokenizer-training loop.
    *
    * State is the UNIQUE-WORD table (word encoded as wrapped symbols
    * `<h><e><y>`, weighted by corpus frequency) — vocabulary-sized,
    * not corpus-sized, so the loop iterates over the small table while
    * the 100 TB corpus is scanned exactly once. Each round is one
    * pair-count aggregation plus a 1-row argmax to the driver (the
    * merge table IS driver-sized output — that's the operator's
    * contract), then one `replace` over the encodings;
    * `localCheckpoint` per round bounds plan depth exactly like the
    * PageRank loop. The `<a><b>` wrapped encoding makes consecutive
    * matches share zero characters, so the engine's scan-resume
    * `replace` IS textbook left-to-right non-overlapping BPE merging
    * in both Spark and DuckDB — which is what lets a 3-level CTE
    * unroll oracle-gate the loop. Ties break on pair string, so every
    * round is deterministic.
    *
    * Output: (merge_rank, pair "a|b", cnt) — the ordered merge table.
    */
  def bpeMerges(spark: SparkSession, sfDir: String,
      nMerges: Int = 3): DataFrame =
    bpeMergesOver(Tables.documents(spark, sfDir), nMerges)

  /** Same merge loop over any documents-shaped input — lets specs run
    * a planted corpus against a naive reference implementation.
    */
  def bpeMergesOver(docs: DataFrame, nMerges: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("enc"), col("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (i <- 1 to nMerges) {
      val top = words
        .select(col("n"), split(trim(col("enc"), "<>"), "><").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> concat(element_at(s, i), '|', element_at(s, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val Array(a, b) = pair.split("\\|", 2)
        merges += ((i.toLong, pair, top(0).getLong(1)))
        // symbols are [a-z]+ by construction — safe to inline
        words = words.withColumn("enc",
          expr(s"replace(enc, '<$a><$b>', '<$a$b>')")).localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "pair", "cnt")
  }

  /** Close the tokenizer train→apply loop: ENCODE the corpus with the
    * learned merge table. Training emits the driver-sized merge list
    * (that is its contract); application is one shuffle-free
    * projection — every doc's trainer-domain words (`[a-z]`, len ≥ 2)
    * are wrapped `<h><e><y>`, space-joined, and the N merges run as
    * ordered literal `replace`s (the same scan-resume left-to-right
    * semantics the trainer pinned; targets never span the space
    * separator). Out-of-domain words tokenize as one atomic unknown
    * apiece. Per doc: `n_words` (all whitespace words), `n_tokens`
    * (unknowns + post-merge symbol count), `n_merged` (multi-char
    * symbols — the compression the merges bought).
    *
    * Scale shape: train once (vocabulary-sized loop), broadcast the
    * merge list INSIDE the plan as literals, then a single
    * codegen'd pass over the corpus — embarrassingly parallel, no
    * shuffle, no per-row driver work.
    */
  /** The trainer's rank-ordered merge list, collected driver-side
    * (nMerges rows — bounded by construction). The ONE definition of
    * "which tokenizer did we train": apply and coverage must read the
    * same table or they silently measure different tokenizers.
    */
  private def trainedMerges(docs: DataFrame, nMerges: Int): Seq[String] =
    bpeMergesOver(docs, nMerges).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).toSeq

  /** Memoized BPE train+encode artifact per (session, sfDir,
    * nMerges) — the ugTrainMemo convention for the BPE family: the
    * `bpe_apply` key, the shard writer, and the bin packer all
    * consume the identical encoded corpus, and each call re-ran the
    * merge training (a driver collect over nMerges pair-count
    * rounds) plus the full encode pass.
    */
  private[graft] val bpeApplyMemo = new MemoCache[
    (SparkSession, String, Int), DataFrame](
    capacity = 4, _._1)(MemoCache.freeLocalCheckpoint)

  def bpeApply(spark: SparkSession, sfDir: String,
      nMerges: Int = 3): DataFrame =
    bpeApplyMemo.getOrCompute((spark, sfDir, nMerges)) {
      val docs = Tables.documents(spark, sfDir)
      bpeApplyOver(docs, trainedMerges(docs, nMerges)).localCheckpoint()
    }

  /** Encode any documents-shaped frame with an explicit rank-ordered
    * merge list ("a|b" pairs) — lets specs drive a planted corpus.
    */
  def bpeApplyOver(docs: DataFrame, merges: Seq[String]): DataFrame =
    bpeApplyDetail(docs, merges).drop("n_dom")

  /** The apply pass with the in-domain word count retained —
    * `bpeApplyOver` projects it away for the gated schema;
    * [[tokenizerCoverage]] aggregates it into the OOV rate.
    */
  private[operators] def bpeApplyDetail(docs: DataFrame,
      merges: Seq[String]): DataFrame = {
    val e0 = concat_ws(" ", transform(
      filter(wsTokens(col("text")),
        w => length(w) >= 2 && w.rlike("^[a-z]+$")),
      w => regexp_replace(w, "(.)", "<$1>")))
    val enc = merges.foldLeft(e0) { (e, pair) =>
      val Array(a, b) = pair.split("\\|", 2)
      // symbols are [a-z]+ by construction — safe to inline
      replace(e, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }
    docs
      .select(col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_words"),
        size(filter(wsTokens(col("text")),
          w => length(w) >= 2 && w.rlike("^[a-z]+$")))
          .cast("long").as("n_dom"),
        enc.as("e"))
      .select(col("doc_id"), col("n_words"),
        (length(col("e")) - length(replace(col("e"), lit("<")))).as("n_sym"),
        size(regexp_extract_all(col("e"), lit("<[a-z]>"), lit(0)))
          .cast("long").as("n_single"),
        col("n_dom"))
      .select(col("doc_id"), col("n_words"), col("n_dom"),
        (col("n_words") - col("n_dom") + col("n_sym"))
          .cast("long").as("n_tokens"),
        (col("n_sym") - col("n_single")).cast("long").as("n_merged"))
  }

  /** Per-LANGUAGE tokenizer-quality report — the EVAL that closes the
    * BPE loop (train → vocab → apply → measure): token fan-out
    * (tokens per word) and out-of-domain rate per language, straight
    * off the apply pass joined to the document dims. A multilingual
    * corpus encoded with an English-trained merge table shows exactly
    * here — the non-domain languages carry OOV rates near 1 and no
    * merge compression — which is the signal that drives per-language
    * vocab sizing in a real tokenizer pipeline. One apply projection,
    * one broadcast-dim join, one partial-agg shuffle to #langs rows.
    */
  def tokenizerCoverage(spark: SparkSession, sfDir: String,
      nMerges: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    bpeApplyDetail(docs, trainedMerges(docs, nMerges))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("total_words"),
        sum("n_tokens").as("total_tokens"),
        sum(col("n_words") - col("n_dom")).as("oov_words"),
        sum("n_merged").as("merged_tokens"))
      .select(col("lang"), col("n_docs"), col("total_words"),
        col("total_tokens"), col("oov_words"), col("merged_tokens"),
        // a language with zero ^[a-z]{2,}$ words (non-Latin script)
        // gives total_words = 0: 0/0 is NULL in Spark but NaN in
        // DuckDB, so both engines pin the rates to 0 (mirrored CASE
        // in the oracle SQL)
        round(when(col("total_words") > 0,
            col("total_tokens").cast("double") / col("total_words"))
          .otherwise(lit(0.0)), 6).as("tokens_per_word"),
        round(when(col("total_words") > 0,
            col("oov_words").cast("double") / col("total_words"))
          .otherwise(lit(0.0)), 6).as("oov_rate"))
  }

  // ---- PII detection / redaction --------------------------------------

  /** PII regexes, written in the Java-regex ∩ RE2 dialect both engines
    * share (character classes, bounded repetition, `\b` — no
    * lookarounds, which RE2 lacks). Three standard classes every
    * pretraining-curation pass scrubs:
    * email, NANP-ish phone (3-3-4 with -/./space separators), and
    * SSN-shaped 3-2-4 IDs. Phone and ID shapes are disjoint (3-3-4 vs
    * 3-2-4 digit groups cannot overlap), so redaction order cannot
    * change counts.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val IdRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** PII detection + redaction over any (doc_id, text) frame: per-doc
    * counts per class and the masked text. Each class is counted on
    * the text AFTER the earlier classes were masked (email → phone →
    * id, the same order the replacement runs), so `n_<class>` always
    * equals the number of `<CLASS>` tokens emitted — a digit-ending
    * email local part like `555-123-4567@x.com` is ONE email, never
    * also a phone. Pure `regexp_extract_all`/`regexp_replace` —
    * codegen'd built-ins, one projection, no shuffle at all: the
    * cheapest possible shape, embarrassingly parallel at any corpus
    * size (Catalyst subexpression elimination evaluates each masking
    * stage once).
    *
    * Emails are masked first so a digit-bearing local part can never
    * leave a phone-shaped residue for the later passes.
    */
  def piiRedactOver(docs: DataFrame): DataFrame = {
    def n(c: Column, re: String) =
      size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
    val m1 = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val m2 = regexp_replace(m1, PhoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      n(col("text"), EmailRe).as("n_email"),
      n(m1, PhoneRe).as("n_phone"),
      n(m2, IdRe).as("n_id"),
      regexp_replace(m2, IdRe, "<ID>").as("text_clean"))
  }

  /** Gated entry: the synthetic corpus carries no natural PII (zero
    * digits or '@' in any doc — verified), so the query plants
    * deterministic doc_id-derived PII inline (email + phone per doc,
    * an SSN-shaped ID on every third doc) with the IDENTICAL string
    * construction in the DuckDB oracle — the gate then checks real
    * regex hits and masked output, not 500 zero rows.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val probed = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ph 555-"),
        lpad((col("doc_id") % 731).cast("string"), 3, "0"),
        lit("-"),
        lpad((col("doc_id") % 8191).cast("string"), 4, "0"),
        when(col("doc_id") % 3 === 0, lit(" ref 987-65-4321"))
          .otherwise(lit(""))).as("text"))
    piiRedactOver(probed)
  }

  /** The tokenizer ARTIFACT the trainer ships (train → VOCAB → apply
    * is the whole loop): base symbols = every distinct character of
    * the trainer domain (rank 0), plus one merged symbol per learned
    * merge in rank order. This is the table a serving tokenizer
    * loads; `bpe_apply` is its runtime twin. Base extraction is one
    * corpus scan (distinct over single chars — a vocabulary-sized
    * shuffle); the merge list is the trainer's driver-sized output.
    */
  def bpeVocab(spark: SparkSession, sfDir: String,
      nMerges: Int = 3): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .select(explode(split(col("w"), "")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .select(col("token"), lit(0L).as("rank"), lit("base").as("kind"))
    val merged = bpeMerges(spark, sfDir, nMerges)
      .select(regexp_replace(col("pair"), "\\|", "").as("token"),
        col("merge_rank").as("rank"), lit("merged").as("kind"))
    base.unionByName(merged)
  }

  /** Compression-ratio quality signal (Gopher / Dolma filter set):
    * DEFLATE the text, ratio = compressed/raw bytes. Templated or
    * repetitive documents compress far below prose (low ratio ⇒ likely
    * boilerplate/spam; near or above 1 ⇒ high-entropy noise) — the
    * axis the word-level heuristics in `text_quality`/`text_gopher`
    * can't see. Projection-only via the codegen'd `DeflateLen`
    * expression; zlib output is JVM-stable but not reproducible in
    * DuckDB, so the key is rows-gated with CompressionSpec invariants
    * (the xxhash64 family's regime).
    */
  def compressionOver(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      graft.functions.CatalystExprs.deflate_len(col("text"))
        .as("n_deflate"))
      .filter(col("n_bytes") >= 1)
      .withColumn("ratio",
        round(col("n_deflate").cast("double") / col("n_bytes"), 6))

  def compression(spark: SparkSession, sfDir: String): DataFrame =
    compressionOver(Tables.documents(spark, sfDir))

  /** Gopher repetition filters (the MassiveText repetition section,
    * complementing `text_gopher`'s word-statistics section): the
    * fraction of word-bigram occurrences taken by the single most
    * frequent bigram (`top2gram_frac`, Gopher's "most common 2-gram"
    * rule) and the fraction of word-5-gram occurrences whose 5-gram
    * repeats within the document (`dup5gram_frac`, Gopher's
    * "duplicate 5-grams" rule), word-position-weighted (the corpus
    * has no line structure, so the line-level rules don't apply).
    *
    * Plan: one scan; the n∈{2,5} gram streams explode from the same
    * token array; both aggregations key on (doc_id[, n, gram]) so
    * partial aggregation runs map-side and no key outgrows a
    * document. Docs shorter than n words contribute no n-gram rows
    * and coalesce to 0 (no repetition evidence ⇒ keep).
    */
  def repetitionOver(docs: DataFrame): DataFrame = {
    // ONE codegen'd per-document kernel pass
    // ([[graft.functions.CatalystExprs.gram_stats]]) replaces the
    // explode(transform(sequence…array_join(slice…))) + two shuffled
    // aggregations: every statistic here is per-DOCUMENT, so no gram
    // row ever needed to leave its scan task (guide §4 — eliminate
    // non-codegen expressions in the hot path; §2.4 — remove shuffles
    // outright). Gram identity in the kernel is the identical
    // space-joined token run; counts are exact integers, the
    // fraction divisions and round(…, 6) are the same IEEE dag the
    // HOF form computed — bit-identical, and the DuckDB oracle still
    // replays the original explode+groupBy definition. Docs with
    // fewer than 2 tokens emit no 2-gram and no 5-gram rows in the
    // HOF form and are absent from its output — the size filter
    // reproduces that; total5 = 0 (2 ≤ tokens < 5) falls to the
    // coalesce'd 0.0 exactly as the missing n=5 group did.
    val g = col("g")
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        graft.functions.CatalystExprs.gram_stats(col("w")).as("g"))
      .select(col("doc_id"),
        round(g.getItem(0).cast("double") / g.getItem(1).cast("double"), 6)
          .as("top2gram_frac"),
        round(when(g.getItem(3) > 0,
          g.getItem(2).cast("double") / g.getItem(3).cast("double"))
          .otherwise(lit(0.0)), 6).as("dup5gram_frac"))
      .withColumn("keep",
        col("top2gram_frac") <= 0.20 && col("dup5gram_frac") <= 0.15)
  }

  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionOver(Tables.documents(spark, sfDir))

  /** TOPIC LABELS per near-dup cluster — the last step of the MDM
    * chain (`q_entity_match` finds pairs, `dedup_clusters` groups,
    * `q_survivorship` merges records, THIS names the cluster): each
    * multi-member cluster's top-k terms by cluster-tf × corpus-idf
    * (the [[tfidf]] smoothed formula with the cluster as the
    * "document"). The cluster token rollup touches only the
    * multi-member clusters' docs (a semi-join against the small
    * multi-member frame); ranking rides the bounded TopKPerKey heaps
    * on (score DESC, word) — never a hot-cluster window; the corpus
    * df/N statistics are the tfidf tables unchanged.
    */
  def clusterTopics(spark: SparkSession, sfDir: String, k: Int = 3)
      : DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clusters = Dedup.clusters(spark, sfDir)
    val multi = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
    val members = clusters.join(broadcast(multi), "cluster_id")
    val tok = docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), WordSplit), w => w =!= ""))
          .as("word"))
    val ctf = tok.join(members, "doc_id")
      .groupBy(col("cluster_id"), col("n_members"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = ctf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score", round(
        col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0)), 6))
    graft.plans.TopKPerKey(scored, Seq("cluster_id"),
        Seq(("score", true), ("word", false)), k)
      .select(col("cluster_id"), col("n_members"), col("word"),
        col("tf"), col("score"), col("rnk"))
  }

  /** Bigram KNESER–NEY scoring (interpolated, absolute discount
    * d = 3/4 — DYADIC, exact in both engines) — the principled
    * smoothing upgrade over [[perplexityBigram]]'s Stupid Backoff
    * (Kneser & Ney 1995; Chen & Goodman 1999 measured interpolated
    * KN the best classical n-gram smoother): P(b|a) =
    * (max(c(ab)−d, 0) + d·N1+(a·)·P_cont(b)) / c(a·), with the
    * CONTINUATION probability P_cont(b) = N1+(·b)/T — "how many
    * contexts does b FOLLOW", not "how often does b occur" (the fix
    * for high-count single-context words: 'Francisco' is frequent
    * but follows only 'San', so its continuation mass is tiny).
    *
    * Determinism: every model statistic is an exact integer count; P
    * is ONE fixed IEEE dag on their double casts, identical in both
    * engines; each bigram's NLL rounds to 6 decimals and sums IN
    * DECIMAL (the perplexity discipline). Scored on its own training
    * corpus every c(ab) ≥ 1, so P > 0 with no OOV branch
    * ([[lmPersisted]] owns the out-of-corpus case for the family).
    * Scale shape: count tables shuffle on word / word-pair and grow
    * with the VOCABULARY; scoring is the array-side bigram fan-out
    * joined against them; per-doc reduce. Doc-leading tokens are not
    * bigram events and are not scored.
    */
  def kneserNey(spark: SparkSession, sfDir: String): DataFrame =
    kneserNeyShared(spark, sfDir)

  /** Same operator over any (doc_id, text) frame (planted specs). */
  def kneserNeyOver(docs: DataFrame): DataFrame =
    kneserNeyFrom(docs,
      bigramsOf(wordArraysOf(docs))
        .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .localCheckpoint())

  /** Corpus path: the bigram count table comes from the shared
    * [[bigramStats]] memo (text_perplexity_bigram counts the same
    * corpus); the KN context/continuation tables derive from it per
    * call — bounded aggs over the checkpoint.
    */
  private def kneserNeyShared(spark: SparkSession,
      sfDir: String): DataFrame =
    kneserNeyFrom(Tables.documents(spark, sfDir),
      bigramStats(spark, sfDir)._1)

  private def kneserNeyFrom(docs: DataFrame, cab: DataFrame): DataFrame = {
    val words = wordArraysOf(docs)
    val big = bigramsOf(words)
    val ctx = cab.groupBy("a")
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("n1f"))
    val cont = cab.groupBy("b").agg(count(lit(1)).as("n1b"))
    val types = cab.agg(count(lit(1)).as("tt"))
    // P multiplied through by 4·tt turns the whole formula into a
    // ratio of EXACT INTEGERS (d = 3/4 ⇒ 4P·c_a·tt =
    // (4c_ab−3)·tt + 3·n1f·n1b), so the NLL is a difference of lns
    // of integers — the perplexity discipline; a composite-double P
    // measured a 1-ulp round-6 straddle at sf0.1
    val d190 = DecimalType(19, 0)
    big.join(cab, Seq("a", "b"))
      .join(ctx, "a")
      .join(cont, "b")
      .crossJoin(broadcast(types))
      .withColumn("kn_num",
        greatest(col("c_ab") * 4 - 3, lit(0L)).cast(d190)
          * col("tt").cast(d190)
          + col("n1f").cast(d190) * col("n1b").cast(d190) * 3)
      .withColumn("kn_den",
        col("c_a").cast(d190) * col("tt").cast(d190) * 4)
      .select(col("doc_id"),
        round(log(col("kn_den").cast("double"))
          - log(col("kn_num").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll")).as("s"))
      // the per-doc total is the EXACT DECIMAL sum (double-cast once
      // for rendering) rather than a rounded average: sum/24 at sf0.1
      // landed exactly on a half at the 6th decimal, where
      // BigDecimal-of-double (Spark) and multiply-based rounding
      // (DuckDB) legitimately disagree — the one boundary the round-6
      // contract cannot absorb
      .select(col("doc_id"), col("n_bigrams"),
        col("s").cast("double").as("nll_sum"))
  }

  /** WORD BURSTINESS (`text_burstiness`) — Church & Gale's
    * variance-to-mean ratio over per-document counts: content words
    * BURST (an article about llamas says "llama" twenty times; the
    * corpus-wide Poisson model says two), function words don't — so
    * VMR ≫ 1 separates topical vocabulary from glue, the signal
    * keyword extraction and stop-list induction actually rest on
    * (`text_tfidf` weighs rarity; burstiness weighs CLUMPING, an
    * orthogonal axis). VMR computed over ALL documents (zeros
    * included) from three exact BIGINT moments per word — n_docs,
    * Σc, Σc² — one partial-agg shuffle keyed on the word, one shared
    * IEEE dag, df floor n_occ ≥ 10 (a rare word's VMR is noise),
    * global top-k via TakeOrderedAndProject (per-partition heaps,
    * never a global sort), vmr-then-word total order.
    */
  def burstiness(spark: SparkSession, sfDir: String, k: Int = 20)
      : DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.agg(count(lit(1)).as("d"))
    val tok = docs.select(col("doc_id"),
      explode(filter(split(col("text"), TextMapReduce.WordSplit),
        w => w =!= "")).as("word"))
    val perDoc = tok.groupBy("word", "doc_id").agg(count(lit(1)).as("c"))
    val m = perDoc.groupBy("word")
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occ"),
        sum(col("c") * col("c")).as("sq"))
      .crossJoin(broadcast(nDocs))
    val dd = col("d").cast("double")
    val mean = col("n_occ").cast("double") / dd
    val vr = (col("sq").cast("double") -
      col("n_occ").cast("double") * col("n_occ").cast("double") / dd) / dd
    m.filter(col("n_occ") >= 10)
      .select(col("word"), col("n_docs"), col("n_occ"),
        round(vr / mean, 6).as("vmr"))
      .orderBy(col("vmr").desc, col("word"))
      .limit(k)
  }

  /** SIMPSON LEXICAL DIVERSITY per source (`text_diversity`) — the
    * probability two tokens drawn from a source are DIFFERENT words,
    * 1 − Σ(c/n)², computed as the EXACT integer form
    * 1 − Σc²/n² (no ln, no float accumulation — the rational the
    * entropy family can't give): a template-generated source repeats
    * its few words and collapses toward 0, natural text sits high;
    * read beside `text_hapax` (tail health) this is the HEAD
    * concentration. Also emits the effective vocabulary n²/Σc² (the
    * Hill number of order 2). Two partial-agg shuffles, one division.
    */
  def diversity(spark: SparkSession, sfDir: String): DataFrame = {
    val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum((col("c").cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
          col("c").cast(org.apache.spark.sql.types.DecimalType(19, 0)))
          .cast(d380)).as("sc2"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(lit(1.0) - col("sc2").cast("double") /
          (col("n_tokens").cast("double") *
            col("n_tokens").cast("double")), 6).as("simpson"),
        round(col("n_tokens").cast("double") *
          col("n_tokens").cast("double") / col("sc2").cast("double"), 6)
          .as("effective_vocab"))
  }

  /** INGEST NOVELTY CURVE (`text_novelty`) — per document, the share
    * of its distinct 3-gram shingles seen in NO earlier document
    * (doc_id order = ingest order): the signal curriculum ordering
    * and incremental-crawl budgeting read ("is the new crawl still
    * teaching the corpus anything?"), and the per-DOC counterpart of
    * `q_vocab_growth`'s corpus curve. Each shingle's FIRST document
    * is one groupBy-min (no cumulative re-scan — the vocab_growth
    * recipe); novelty = first-seen shingles / distinct shingles, an
    * exact integer division. Two partial-agg shuffles + one join
    * keyed on the shingle.
    */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text")))).as("s"))
      .localCheckpoint()
    val first = sh.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_shingles").cast("double"), 6).as("novelty"))
  }

  /** "FIGHTIN' WORDS" LOG-ODDS (`text_fightin_words`) — Monroe,
    * Colaresi & Quinn '08, the corpus-comparison standard that fixes
    * what raw frequency ratios and tf-idf both get wrong when
    * contrasting two sources (rare words explode ratios; frequent
    * words drown differences): the Dirichlet-smoothed (α = 1)
    * log-odds delta δ_w = ln((y₁+1)/(n₁+V−y₁−1)) −
    * ln((y₂+1)/(n₂+V−y₂−1)) with variance 1/(y₁+1) + 1/(y₂+1),
    * z-scored — the ranking that surfaces what source A
    * CHARACTERISTICALLY says that B doesn't. All four ln arguments
    * are exact integers (one conditional-agg scan to the per-word
    * pair counts, one 1-row broadcast of totals/vocab), z rounded 6
    * (absorbing ≤1-ulp libm drift, the tfidf discipline).
    */
  def fightinWords(spark: SparkSession, sfDir: String,
      srcA: String = "src0", srcB: String = "src1"): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"),
        explode(filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "")).as("word"))
      .groupBy("word")
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("y1"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("y2"))
      .localCheckpoint() // consumed by the totals AND the per-word dag
    val tot = counts.agg(sum(col("y1")).as("n1"), sum(col("y2")).as("n2"),
      count(lit(1)).as("v"))
    val delta =
      log((col("y1") + 1).cast("double")) -
        log((col("n1") + col("v") - col("y1") - 1).cast("double")) -
        log((col("y2") + 1).cast("double")) +
        log((col("n2") + col("v") - col("y2") - 1).cast("double"))
    counts.crossJoin(broadcast(tot))
      .select(col("word"), col("y1"), col("y2"),
        round(delta / sqrt(lit(1.0) / (col("y1") + 1).cast("double") +
          lit(1.0) / (col("y2") + 1).cast("double")), 6).as("z"))
  }

  /** HAPAX LEGOMENA rate per source (`text_hapax`) — the share of
    * each source's vocabulary occurring exactly once: the Zipf-tail
    * health check beside `text_vocab_growth`/`q_zipf_fit` (a
    * template-generated or deduplicated-to-death source shows a
    * collapsed hapax rate; natural text sits near half its
    * vocabulary). Two partial-agg shuffles — (source, word) counts,
    * then per-source vocabulary/hapax totals — and one integer
    * division, rounded 6.
    */
  def hapax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(filter(split(col("text"), TextMapReduce.WordSplit),
          w => w =!= "")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 6)
          .as("hapax_rate"))
}
