package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Tables, TempDirs}

/** Incremental dedup against a persisted fingerprint store (SURVEY
  * §2.C): each ingest run writes its documents' fingerprints — exact
  * md5 plus the 128-perm MinHash signature — as parquet artifacts; a
  * later run dedups its NEW batch by joining the store, never
  * re-reading earlier runs' text. This is the production shape of
  * corpus curation at 100 TB: day N's job scans day N's documents
  * once, plus a store that grows with the UNIQUE corpus, not with the
  * cumulative scan history (the `sketch_persist` artifact layout,
  * applied to dedup — a batch MapReduce pass re-reads everything every
  * run; the store is what makes re-runs incremental).
  *
  * Exactness: runs are id-ordered (run 1 holds the smaller doc_ids),
  * so "earliest run wins, then min doc_id" — the rule an incremental
  * pipeline actually applies — reproduces one-shot exact dedup's
  * global min-id canonical bit-for-bit, which is what lets the DuckDB
  * one-shot oracle gate the two-run composition.
  */
object IncrementalDedup {

  /** Persist one run's fingerprint artifacts: (doc_id, h = md5(text),
    * sig = MinHash-128). Signature is null for shingle-less docs (too
    * short to shingle) — they still dedup exactly via `h`. One
    * projection per batch; the store is partitioned by run so
    * re-ingest never clobbers other runs.
    */
  def writeFingerprints(docs: DataFrame, dir: String, run: String): Unit = {
    val sh = TextAnalysis.shingles(col("text"))
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), md5(col("text")).as("h"),
        when(size(sh) > 0, Dedup.minhashSignature(sh)).as("sig"))
      .write.mode("overwrite").parquet(s"$dir/fp/run=$run")
  }

  /** Exact-dedup a new batch against the store AND itself, emitting
    * the same (doc_id, fp, canonical_id, is_dup) contract as
    * `dedup_exact` for store + batch docs together. Store rows are
    * decided from artifacts alone (fingerprint-sized window); batch
    * rows join the store's per-hash min id (left) and their own batch
    * min — both aggregations shuffle on the fingerprint, never on
    * text, and the batch's text is scanned exactly once.
    */
  def decideWithStore(store: DataFrame, batch: DataFrame): DataFrame = {
    val storeCanon = store
      .select(col("doc_id"), col("h"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
    val storeMin = store.groupBy("h").agg(min("doc_id").as("store_id"))
    val bfp = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val bmin = bfp.groupBy("h").agg(min("doc_id").as("batch_min"))
    val batchCanon = bfp
      .join(storeMin, Seq("h"), "left")
      .join(bmin, Seq("h"))
      .select(col("doc_id"), col("h"),
        coalesce(col("store_id"), col("batch_min")).as("canonical_id"))
    storeCanon.select(col("doc_id"), col("h").as("fp"), col("canonical_id"))
      .union(batchCanon
        .select(col("doc_id"), col("h").as("fp"), col("canonical_id")))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  /** Near-dup candidates of a new batch AGAINST the store, from
    * persisted signatures alone: both sides band their MinHash
    * signatures, candidates share a (band, key) bucket, and the
    * verification statistic is the full-signature agreement fraction
    * (the standard unbiased Jaccard estimator) — old text is never
    * touched, which is the point of persisting signatures. Spec-gated
    * (MinHash is not DuckDB-expressible); the exact path above is the
    * oracle-gated one.
    */
  def sigDupAgainstStore(store: DataFrame, batch: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val (bands, rows) = Dedup.bandingFor(threshold)
    def banded(sigs: DataFrame, idAs: String): DataFrame = sigs
      .filter(col("sig").isNotNull)
      .select(col("doc_id").as(idAs),
        posexplode(graft.functions.CatalystExprs.band_keys(
          col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")
    val sh = TextAnalysis.shingles(col("text"))
    val bsig = batch
      .select(col("doc_id"), when(size(sh) > 0, Dedup.minhashSignature(sh))
        .as("sig"))
    val cand = banded(store.select(col("doc_id"), col("sig")), "store_doc")
      .join(banded(bsig, "batch_doc"), Seq("band", "key"))
      .select("store_doc", "batch_doc").distinct()
    cand
      .join(store.select(col("doc_id").as("store_doc"), col("sig").as("s1")),
        "store_doc")
      .join(bsig.select(col("doc_id").as("batch_doc"), col("sig").as("s2")),
        "batch_doc")
      .withColumn("agree",
        aggregate(zip_with(col("s1"), col("s2"),
          (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).cast("double")
          / size(col("s1")).cast("double"))
      .filter(col("agree") >= threshold)
      .select(col("store_doc"), col("batch_doc"), col("agree"))
  }

  /** Gated entry: simulate two ingest runs by splitting the corpus at
    * the id midpoint (run 1 = smaller half — id order is what makes
    * the incremental canonical equal the one-shot one), persist run
    * 1's fingerprints, then decide run 2 against the store. The
    * midpoint is a 1-row aggregate broadcast into both filters — no
    * driver-side value, no second scan shape at scale.
    */
  def incrementalExact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: Column => Column): DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    val dir = TempDirs.create("graft_fp_store").toString
    writeFingerprints(half(col("doc_id") <= _), dir, "r1")
    val store = Tables.parquet(spark, s"$dir/fp")
    decideWithStore(store, half(col("doc_id") > _))
  }
}
