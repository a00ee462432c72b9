package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Formats

class FormatsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("parquet round-trip with partitioning preserves data") {
    val dir = tmp("graft-parquet")
    val src = Tables.orders(spark, sf)
    Formats.writeParquet(src, dir, partitionBy = Seq("o_orderstatus"))
    val back = Formats.readParquet(spark, dir)
    assert(back.count() == src.count())
    // partition pruning: reading one status scans one directory
    val one = back.filter(col("o_orderstatus") === "O")
    val scanned = one.queryExecution.executedPlan.toString
    assert(one.count() ==
      src.filter(col("o_orderstatus") === "O").count())
  }

  test("csv round-trip with explicit schema") {
    val dir = tmp("graft-csv")
    val src = Tables.nation(spark, sf)
    Formats.writeCsv(src, dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val back = Formats.readCsv(spark, dir, schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("jsonl round-trip with explicit schema") {
    val dir = tmp("graft-json")
    val src = Tables.region(spark, sf)
    Formats.writeJsonl(src, dir)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    val back = Formats.readJsonl(spark, dir, schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("binaryFile ingest: content-byte fingerprints equal the " +
      "text-derived ones, identity recovered from paths") {
    import org.apache.spark.sql.functions._
    val got = Formats.binaryDocs(spark, sf)
    val want = Tables.documents(spark, sf).select(col("doc_id"),
      md5(col("text")).as("fp"),
      octet_length(col("text")).cast("long").as("n_bytes"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("corrupt jsonl quarantine: planted bad lines captured verbatim, " +
      "good rows all survive") {
    import org.apache.spark.sql.functions._
    val r = Formats.jsonlCorrupt(spark, sf, nBad = 7).head()
    assert(r.getLong(0) == Tables.events(spark, sf).count(),
      "good rows lost through the PERMISSIVE read")
    assert(r.getLong(1) == 7, s"bad-line count wrong: ${r.getLong(1)}")
    // the captured payloads are the planted lines themselves
    val events = Tables.events(spark, sf)
    val dir = tmp("graft-corrupt-verbatim")
    Formats.writeJsonl(events, dir, Formats.JsonlTsOptions)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.json"),
      "not json at all\n{\"event_id\": }".getBytes("UTF-8"))
    // Spark disallows queries whose referenced set is only the corrupt
    // column — cache the parsed frame first (the documented pattern)
    val parsed = Formats.quarantinedJsonl(spark, dir, events.schema).cache()
    val captured = parsed
      .filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0)).toSet
    parsed.unpersist()
    assert(captured == Set("not json at all", "{\"event_id\": }"),
      s"quarantine not verbatim: $captured")
  }

  test("schema evolution: merged read reconciles a pre-source day-1 " +
      "layout, nulls normalized, rows conserved") {
    import org.apache.spark.sql.functions._
    val got = Formats.mergedSchemaDocs(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
    assert(got.filter(col("source") === "unknown").count() > 0,
      "no day-1 rows surfaced as unknown — evolution not exercised")
    assert(got.agg(sum("n_docs")).head().getLong(0) == docs.count())
    assert(got.agg(sum("n_chars")).head().getLong(0) ==
      docs.agg(sum("n_chars")).head().getLong(0))
    got.unpersist()
  }

  test("orc round-trip: the Q6 aggregate is identical to the parquet path") {
    val orc = Formats.lineitemFromOrc(spark, sf)
    val pq = graft.operators.Relational.q6Over(Tables.lineitem(spark, sf))
    assert(orc.exceptAll(pq).isEmpty && pq.exceptAll(orc).isEmpty)
    assert(orc.head().getLong(1) > 0)
  }

  test("file metadata audit: per-file rows sum to the table and the " +
      "hidden column never touches a UDF") {
    import org.apache.spark.sql.functions._
    val a = Formats.fileMetadataAudit(spark, sf).cache()
    assert(a.agg(sum("n_rows")).head.getLong(0) ==
      Tables.events(spark, sf).count())
    assert(a.filter(col("file") === "events.parquet").count() == a.count())
    assert(a.filter(col("min_id") > col("max_id")).isEmpty)
    a.unpersist()
  }

  test("catalog stats: ANALYZE writes an exact rowCount into the " +
      "catalog and the external-table rollup matches the source") {
    import org.apache.spark.sql.functions._
    val got = Formats.catalogStatsRollup(spark, sf)
    val want = Tables.orders(spark, sf).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the catalog entry carries the ANALYZE row count, and plans over
    // the table surface it in Statistics (what CBO reads)
    // the live table of sf's store (not listTables().head): another
    // corpus's table in the shared session must not be picked up
    val tbl = graft.sources.Formats.catalogOrders(spark, sf)
    // rowCount surfaces in plan Statistics only under CBO — the
    // consumer the ANALYZE stats exist for; scope and restore
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table(tbl).queryExecution.optimizedPlan.stats
      assert(
        stats.rowCount.contains(BigInt(Tables.orders(spark, sf).count())),
        s"catalog stats missing/wrong: $stats")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("xml round-trip: the rollup equals the direct-parquet aggregate " +
      "(exact decimal, fixed-width timestamp strings)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val xml = Formats.eventsFromXml(spark, sf)
    val pq = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("last_ts"))
    assert(xml.count() > 0)
    assert(xml.exceptAll(pq).isEmpty && pq.exceptAll(xml).isEmpty,
      "XML round-trip diverged from the parquet aggregate")
  }
}
