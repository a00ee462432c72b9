package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Artifacts, Dedup, TextAnalysis}

/** The train-once artifact registry (operators/Artifacts.scala):
  * a corpus rewritten at the same path rebuilds what it serves, an
  * evicted store leaves no directory behind, and a served value never
  * reads storage another entry can release.
  */
class ArtifactsSpec extends SparkSpec {

  private def files(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.toList.sortBy(_.toString) finally s.close()
  }

  /** A fresh corpus dir holding a real copy of every sf table. */
  private def copyOfSf(): String = {
    val d = TempDirs.create("graft_artifacts_corpus")
    files(sf).foreach(f => Files.copy(f, d.resolve(f.getFileName)))
    d.toString
  }

  /** A fresh corpus dir of symlinks to the sf tables. */
  private def linkedSf(): String = {
    val d = TempDirs.create("graft_artifacts_link")
    files(sf).foreach(f =>
      Files.createSymbolicLink(d.resolve(f.getFileName), f))
    d.toString
  }

  /** Rewrite `table` of the corpus at `dir` in place, from `rows`. */
  private def rewrite(dir: String, table: String, rows: DataFrame): Unit = {
    val path = s"$dir/$table.parquet"
    val staged = TempDirs.create("graft_artifacts_stage").toString
    rows.write.mode("overwrite").parquet(staged)
    TempDirs.deleteRecursively(Paths.get(path))
    Files.move(Paths.get(staged), Paths.get(path))
  }

  /** sf's documents plus a verbatim copy of its longest document
    * under a new id: a guaranteed new near-dup pair and new duplicate
    * spans.
    */
  private def docsWithPlantedCopy(): DataFrame = {
    val docs = Tables.documents(spark, sf)
    val first = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(1)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    docs.unionByName(first.withColumn("doc_id", lit(maxId + 1)))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a corpus rewritten at the same path rebuilds its frame " +
      "artifact: the dedup pairs see the planted copy") {
    val dir = copyOfSf()
    val before = Dedup.ngramJaccard(spark, dir, 0.5)
    assert(sameRows(before, Dedup.ngramJaccardOver(
      Dedup.shinglesOf(Tables.documents(spark, dir)), 0.5)))
    val planted = docsWithPlantedCopy()
    val newId = planted.agg(max("doc_id")).head().getLong(0)
    rewrite(dir, "documents", planted)
    val after = Dedup.ngramJaccard(spark, dir, 0.5)
    assert(!after.filter(col("doc_b") === newId && col("jaccard") === 1.0)
      .isEmpty, "the planted copy's pair is missing: stale artifact")
    assert(sameRows(after, Dedup.ngramJaccardOver(
      Dedup.shinglesOf(Tables.documents(spark, dir)), 0.5)))
  }

  test("a corpus rewritten at the same path rebuilds its dir " +
      "artifact: the substring position store sees the planted copy") {
    val dir = copyOfSf()
    assert(sameRows(Dedup.substringDedup(spark, dir),
      Dedup.substringDedupOver(Tables.documents(spark, dir), 32)))
    rewrite(dir, "documents", docsWithPlantedCopy())
    val after = Dedup.substringDedup(spark, dir)
    assert(sameRows(after,
      Dedup.substringDedupOver(Tables.documents(spark, dir), 32)),
      "substring spans served from the pre-rewrite position store")
  }

  test("a Formats layout is rebuilt after its corpus is rewritten") {
    val dir = copyOfSf()
    def purchases(): Long = sources.Formats.partitionPrunedEvents(spark, dir)
      .agg(sum("n")).head().getLong(0)
    def want(): Long = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    assert(purchases() == want())
    rewrite(dir, "events",
      Tables.events(spark, sf).filter(col("event_id") % 2 === 0))
    assert(want() < Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count())
    assert(purchases() == want(), "pruned read served the stale layout")
  }

  test("eviction deletes the store of every dir kind (IVF with its " +
      "NSW layer, IVF-PQ, LM, substring, layouts); rebuilt entries " +
      "answer as before") {
    val dir = linkedSf()
    def answers(): Seq[DataFrame] = Seq(
      AnnIndex.annPersisted(spark, dir),
      AnnIndex.annPersistedNsw(spark, dir),
      AnnIndex.annPersistedPq(spark, dir),
      TextAnalysis.lmPersisted(spark, dir),
      Dedup.substringDedup(spark, dir),
      sources.Formats.partitionPrunedEvents(spark, dir),
      sources.Formats.mergedSchemaDocs(spark, dir),
      sources.Formats.binaryDocs(spark, dir),
      sources.Formats.bucketedOrdersLineitemJoin(spark, dir))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def stores(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("graft_(ann_ivf|ann_ivfpq|lm_store|substr_pos|" +
          "part_events|schema_evo|binary_docs|bucketed)[0-9]+")).toSet
      finally s.close()
    }
    val before = stores()
    val first = answers().map(_.collect().toSeq)
    val built = stores() -- before
    assert(built.size == 8, s"one store per dir kind expected: $built")
    val ivf = AnnIndex.ivfArtifacts(spark, dir)
    assert(Files.isDirectory(Paths.get(ivf, "nsw")),
      "the NSW layer is not in the IVF store")
    // a full registry of other entries evicts every store
    (0 until Artifacts.Capacity).foreach(i =>
      Artifacts.value(spark, s"/evict/corpus$i", "evict_fill")(Seq(i)))
    assert((stores() & built).isEmpty,
      s"evicted stores still on disk: ${stores() & built}")
    // the next lookups rebuild (no entry points at a deleted dir) and
    // answer exactly as the first builds did
    answers().map(_.collect().toSeq).zip(first).foreach { case (a, b) =>
      assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
    }
    assert((stores() -- before -- built).size == 8)
  }

  test("HITS interleaved over nine corpora: the converged run on the " +
      "first corpus extends its own edge graph and equals a fresh " +
      "trajectory") {
    val a = linkedSf()
    def hits(d: String) = SparkEntry.queries("q_hits")(spark, d).collect()
    hits(a)
    (1 to 8).foreach { _ => hits(linkedSf()); hits(a) }
    val got = SparkEntry.queries("q_hits_converged")(spark, a)
    val fresh = SparkEntry.queries("q_hits_converged")(spark, linkedSf())
    assert(sameRows(got, fresh))
  }
}
