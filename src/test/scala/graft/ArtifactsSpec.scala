package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Artifacts, Dedup, Relational, TextAnalysis}

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

  /** `q_item_similarity` from lineitem alone, with no artifact: the
    * order-incidence self-join, cosine n_ab / √(n_a·n_b), and the
    * top 3 per part by (cosine desc, part_b) from a window.
    */
  private def itemSimilarityFresh(lineitem: DataFrame): DataFrame = {
    val inc = lineitem.filter(col("l_partkey").isNotNull)
      .select("l_orderkey", "l_partkey").distinct()
    val n = inc.groupBy("l_partkey").agg(count(lit(1)).as("n"))
    inc.as("a").join(inc.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
        && col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(n.select(col("l_partkey").as("part_a"), col("n").as("n_a")), "part_a")
      .join(n.select(col("l_partkey").as("part_b"), col("n").as("n_b")), "part_b")
      .withColumn("c", col("n_ab").cast("double") /
        sqrt(col("n_a").cast("double") * col("n_b").cast("double")))
      .withColumn("rnk", row_number().over(Window.partitionBy("part_a")
        .orderBy(col("c").desc, col("part_b"))).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("c"), 6).as("cosine"), col("rnk"))
  }

  private def tableNames(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet

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

  test("a corpus rewritten at the same path rebuilds its cluster " +
      "assignment: dedup_clusters puts the planted copy in its " +
      "original's cluster") {
    val dir = copyOfSf()
    def clusterOf(id: Long): Long = Dedup.clusters(spark, dir)
      .filter(col("doc_id") === id).head().getAs[Long]("cluster_id")
    val original = Tables.documents(spark, sf)
      .orderBy(col("n_chars").desc, col("doc_id")).head()
      .getAs[Long]("doc_id")
    val first = clusterOf(original)
    val planted = docsWithPlantedCopy()
    val newId = planted.agg(max("doc_id")).head().getLong(0)
    rewrite(dir, "documents", planted)
    assert(clusterOf(newId) == first,
      "the planted copy is not in its original's cluster: stale artifact")
    val docs = Tables.documents(spark, dir)
    assert(sameRows(Dedup.clusters(spark, dir), Dedup.componentsOver(
      docs.select("doc_id"), Dedup.ngramJaccardOver(Dedup.shinglesOf(docs),
        0.5).select("doc_a", "doc_b"), 20)))
  }

  test("a corpus rewritten at the same path rebuilds its neighbour " +
      "lists: q_item_similarity matches a fresh build row for row") {
    val dir = copyOfSf()
    val before = Relational.itemSimilarity(spark, dir)
    assert(sameRows(before, itemSimilarityFresh(Tables.lineitem(spark, dir))))
    val stale = before.collect().toSet
    rewrite(dir, "lineitem",
      Tables.lineitem(spark, sf).filter(col("l_orderkey") % 2 === 0))
    val after = Relational.itemSimilarity(spark, dir)
    assert(after.collect().toSet != stale, "served the pre-rewrite lists")
    assert(sameRows(after, itemSimilarityFresh(Tables.lineitem(spark, dir))))
  }

  test("released catalog-backed stores drop their tables: a rewritten " +
      "cat_orders and an evicted bucketed layout") {
    val before = tableNames()
    val dir = copyOfSf()
    sources.Formats.catalogStatsRollup(spark, dir).collect()
    rewrite(dir, "orders",
      Tables.orders(spark, sf).filter(col("o_orderkey") % 2 === 0))
    sources.Formats.catalogStatsRollup(spark, dir).collect()
    val live = sources.Formats.catalogOrders(spark, dir)
    assert(tableNames() -- before == Set(live),
      s"tables left by the rewritten store: ${tableNames() -- before}")
    assert(spark.table(live).count() == Tables.orders(spark, dir).count())
    val withCat = tableNames()
    sources.Formats.bucketedOrdersLineitemJoin(spark, linkedSf()).collect()
    val bucketed = tableNames() -- withCat
    assert(bucketed.size == 2, s"two bucketed tables expected: $bucketed")
    (0 until Artifacts.Capacity).foreach(i =>
      Artifacts.value(spark, s"/evict/catalog$i", "evict_fill")(Seq(i)))
    assert((tableNames() & (bucketed + live)).isEmpty,
      s"evicted stores left tables: ${tableNames() & (bucketed + live)}")
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

  test("a returned HITS frame still answers after its trajectory is " +
      "evicted") {
    val out = SparkEntry.queries("q_hits")(spark, linkedSf())
    (0 until Artifacts.Capacity).foreach(i =>
      Artifacts.value(spark, s"/evict/hits$i", "evict_fill")(Seq(i)))
    assert(Artifacts.count("hits_trajectory") == 0,
      "the flood left a HITS trajectory in the registry")
    assert(sameRows(out, SparkEntry.queries("q_hits")(spark, linkedSf())))
  }

  test("the catalog-stats rollup follows a rewrite of orders at the " +
      "same path") {
    val dir = copyOfSf()
    def want(): DataFrame = Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
    assert(sameRows(sources.Formats.catalogStatsRollup(spark, dir), want()))
    val before = Tables.orders(spark, dir).count()
    rewrite(dir, "orders",
      Tables.orders(spark, sf).filter(col("o_orderkey") % 2 === 0))
    assert(Tables.orders(spark, dir).count() < before)
    assert(sameRows(sources.Formats.catalogStatsRollup(spark, dir), want()),
      "the rollup served the pre-rewrite catalog copy of orders")
  }
}
