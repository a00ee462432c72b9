package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Artifacts

/** Source/sink surface (SURVEY §2 sources): parquet (primary), CSV,
  * JSON(L), with schema-explicit reads.
  *
  * Scale rules baked in: reads take an explicit schema (schema
  * inference is a full extra pass over 100 TB); writes partition by a
  * column when the downstream reads are selective on it (partition
  * pruning beats any file-format choice).
  */
object Formats {

  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)

  /** Schema-explicit CSV read — never infer on large inputs. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .schema(schema)
      .csv(path)

  def writeJsonl(df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode(SaveMode.Overwrite).options(options).json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema).options(options).json(path)

  /** Microsecond-precision timestamp format for JSONL round-trips —
    * Spark's default JSON timestamp pattern is millisecond-grained and
    * would silently truncate event times.
    */
  val JsonlTsOptions: Map[String, String] =
    Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Per-status order totals fed from a schema-explicit CSV
    * round-trip — the CSV twin of the JSONL path below, same
    * microsecond-timestamp discipline. A fresh per-run directory:
    * a fixed path would race between concurrent JVMs (one's
    * Overwrite deleting files mid-read of the other).
    */
  def ordersFromCsv(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val orders = graft.Tables.orders(spark, sfDir)
    val path = graft.TempDirs.create("graft_orders_csv").toString
    val opts = Map("header" -> "true",
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    orders.write.mode(SaveMode.Overwrite).options(opts).csv(path)
    spark.read.options(opts).schema(orders.schema).csv(path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total"),
        min(col("o_orderdate")).as("first_date"))
      .withColumn("first_date",
        date_format(col("first_date"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
  }

  /** Per-type event rollup fed from an XML round-trip — Spark 4's
    * built-in XML source (`rowTag` records), closing the
    * parquet/CSV/JSONL/ORC/XML format sweep (§2.H; Avro remains
    * jar-blocked). Discipline mirrors the CSV twin: schema-explicit
    * read (inference is an extra full pass), exact DECIMAL value
    * round-trip (decimals print exactly in XML text; a double would
    * re-parse through formatting), timestamps carried as formatted
    * strings (XML has no native timestamp lexical enforcement), and a
    * fresh per-run directory to avoid cross-JVM Overwrite races.
    */
  def eventsFromXml(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val path = graft.TempDirs.create("graft_events_xml").toString
    ev.write.mode(SaveMode.Overwrite).format("xml")
      .option("rowTag", "event").save(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts_s", StringType),
      StructField("v", DecimalType(18, 2))))
    spark.read.format("xml").option("rowTag", "event").schema(schema)
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sum_value"),
        min(col("ts_s")).as("first_ts"),
        max(col("ts_s")).as("last_ts"))
  }

  /** CATALOG + ANALYZE + CBO statistics — the surface that feeds
    * Spark's cost-based optimizer: orders persists as an EXTERNAL
    * catalog table (explicit temp-dir location — never a cwd-relative
    * warehouse), `ANALYZE TABLE … COMPUTE STATISTICS` writes
    * row-count/size stats into the catalog, and subsequent plans over
    * `spark.table(...)` carry `rowCount` in `Statistics` — what CBO
    * join reordering and broadcast decisions read at 100 TB, where a
    * mis-sized build side is the difference between a broadcast and a
    * 100-executor shuffle. The spec pins stats presence + exactness;
    * the rollup itself stays oracle-gated.
    */
  /** Per-sfDir catalog table name: one session serving two scale
    * factors must not resolve the other's catalog entry. Shared with
    * FormatsSpec so the derivation cannot silently diverge.
    */
  private[graft] def catalogTableName(sfDir: String): String =
    "graft_orders_cat_" + java.security.MessageDigest
      .getInstance("MD5").digest(sfDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  def catalogStatsRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val tbl = catalogTableName(sfDir)
    if (!spark.catalog.tableExists(tbl)) {
      val loc = graft.TempDirs.create("graft_cat_orders").toString
      graft.Tables.orders(spark, sfDir).write
        .mode(SaveMode.Overwrite).option("path", loc).saveAsTable(tbl)
      spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
    }
    spark.table(tbl)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total"))
  }

  /** Input-file audit via the `_metadata` hidden column — the file
    * provenance every ingest pipeline wants ("which file did this row
    * come from, how many rows per file") WITHOUT a filename UDF or a
    * path join: `_metadata.file_path` is a constant-folded per-split
    * column the scan provides for free. At 100 TB this is how you
    * trace a bad row back to its drop file. Only layout-independent
    * fields (name, per-file row counts, id ranges) reach the gated
    * output; sizes/mtimes are environment-truths, not data-truths.
    */
  def fileMetadataAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.parquet(spark, s"$sfDir/events.parquet")
      .select(
        regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1)
          .as("file"),
        col("event_id"))
      .groupBy("file")
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** The driver's hourly-events query fed from JSONL instead of
    * parquet: events round-trip through a schema-explicit JSONL
    * write/read (a user's first pipeline usually starts from JSONL),
    * then run the exact same declarative rollup. One write per call —
    * the point is proving the source path end-to-end, not caching it.
    */
  def eventsHourlyFromJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables.events(spark, sfDir)
    val path = graft.TempDirs.create("graft_events_jsonl").toString
    writeJsonl(events, path, JsonlTsOptions)
    graft.operators.Relational.eventsHourlyOver(
      readJsonl(spark, path, events.schema, JsonlTsOptions))
  }

  /** Malformed-input resilience as a GATED path (MalformedInputSpec
    * covers the unit level): the JSONL feed carries 25 planted broken
    * lines; a PERMISSIVE read with `columnNameOfCorruptRecord`
    * quarantines them into the corrupt column instead of failing the
    * 100 TB job — every good row survives (count gated vs the clean
    * table), every bad line is captured, nothing is silently dropped.
    * FAILFAST would kill the job on one bad byte; DROPMALFORMED would
    * lose data without a trace — PERMISSIVE + quarantine is the
    * production dead-letter pattern.
    */
  def jsonlCorrupt(spark: SparkSession, sfDir: String,
      nBad: Int = 25): DataFrame = {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, sfDir)
    val path = graft.TempDirs.create("graft_jsonl_corrupt").toString
    writeJsonl(events, path, JsonlTsOptions)
    val bad = (0 until nBad).map(i => s"""{"event_id": broken $i""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "bad.json"),
      String.join("\n", bad: _*).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    // the conditions reference a data column alongside the corrupt
    // column — Spark disallows plans whose referenced set is ONLY
    // the corrupt record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    quarantinedJsonl(spark, path, events.schema)
      .agg(
        sum(when(col("_corrupt_record").isNull
          && col("event_id").isNotNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_bad"))
  }

  /** PERMISSIVE JSONL read with the corrupt-record quarantine column
    * appended to the expected schema.
    */
  def quarantinedJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .options(JsonlTsOptions)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Bucketed co-located fact⋈fact join — THE 100 TB strategy for a
    * join both sides of which are big and reused: write each side
    * once, pre-hashed into the same bucket layout on the join key
    * (`bucketBy` + `sortBy`), and every subsequent join on that key
    * reads co-located buckets with NO exchange on either side —
    * the shuffle is paid once at layout time, not per query.
    * BucketingSpec asserts the no-join-key-exchange plan; the driver
    * gate checks the result against the plain-join oracle.
    *
    * The layout is an [[Artifacts]] store per (corpus, nBuckets): the
    * gate, the bench and BucketingSpec in one session share a single
    * on-disk copy. Its two catalog tables are named after the store
    * dir, so no two stores (of different keys, sessions or corpus
    * versions) ever register the same name, and a table always points
    * at the store that registered it.
    */
  def bucketedOrdersLineitemJoin(spark: SparkSession, sfDir: String,
      nBuckets: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    def tables(dir: String): (String, String) = {
      val tag = java.nio.file.Paths.get(dir).getFileName
      (s"${tag}_orders", s"${tag}_lineitem")
    }
    val dir = Artifacts.dir(spark, sfDir, "bucketed", nBuckets) { dir =>
      val (oT, lT) = tables(dir)
      graft.Tables.orders(spark, sfDir).write
        .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/$oT")
        .mode(SaveMode.Overwrite).saveAsTable(oT)
      graft.Tables.lineitem(spark, sfDir).write
        .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/$lT")
        .mode(SaveMode.Overwrite).saveAsTable(lT)
    }
    val (oT, lT) = tables(dir)
    spark.table(lT)
      .join(spark.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
  }

  /** The Q6 aggregate fed from ORC instead of parquet: lineitem
    * round-trips through a schema-explicit ORC write/read (Spark's
    * built-in columnar alternative — same predicate pushdown and
    * column pruning surface), then runs the identical declarative
    * aggregate, gated against the parquet-side oracle. A fresh
    * per-run directory for the same concurrent-JVM reason as the CSV
    * path above.
    */
  def lineitemFromOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, sfDir)
    val path = graft.TempDirs.create("graft_lineitem_orc").toString
    li.write.mode(SaveMode.Overwrite).orc(path)
    graft.operators.Relational.q6Over(
      spark.read.schema(li.schema).orc(path))
  }

  /** Hive-style partition PRUNING — the other half of the layout
    * story next to bucketing: events written `partitionBy(event_type)`
    * once, so a query filtering on the partition column never opens
    * the other partitions' files at all (directory-level pruning —
    * `PartitionFilters` in the scan, asserted by PlanSpec; at 100 TB
    * this is the difference between scanning one event type and
    * scanning all of them). The layout is an [[Artifacts]] store,
    * written once per (session, corpus) and reused; the gate compares
    * the pruned read's daily rollup against the unpartitioned oracle.
    */
  def partitionPrunedEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = Artifacts.dir(spark, sfDir, "part_events")(
      graft.Tables.events(spark, sfDir).write
        .partitionBy("event_type").mode(SaveMode.Overwrite).parquet(_))
    graft.Tables.parquet(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
  }

  /** DYNAMIC PARTITION OVERWRITE (`q_partition_overwrite`) — the
    * refresh idiom every partitioned 100 TB table lives by: v1 lands
    * a STALE per-(type, day) rollup (days below the corpus-midpoint
    * cutoff) for every event type, `partitionBy(event_type)`; the
    * refresh recomputes the FULL-range rollup for click+view only and
    * overwrites with `partitionOverwriteMode=dynamic` — Spark replaces
    * ONLY the partitions present in the incoming frame. A static
    * overwrite would have dropped every other type's partition
    * wholesale, so the gate's split-brain read-back (refreshed types
    * full-range, the rest stale, recomputed by the oracle with the
    * same cutoff CASE) proves the dynamic semantics: lost stale
    * partitions OR an un-refreshed click/view both hash-fail.
    */
  def partitionOverwriteRollup(spark: SparkSession,
      sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val ev = graft.Tables.events(spark, sfDir)
    val rollup = ev.groupBy(col("event_type"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("v"))
    // deterministic midpoint cutoff, ONE bounded 1-row read
    val cut = ev.agg(date_add(min(col("ts")).cast("date"),
        expr("CAST(datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE)) DIV 2 AS INT)"))
        .as("cd")).head().getDate(0)
    val dir = graft.TempDirs.create("graft_part_overwrite").toString
    rollup.filter(col("day") < lit(cut))
      .write.partitionBy("event_type")
      .mode(SaveMode.Overwrite).parquet(dir)
    rollup.filter(col("event_type").isin("click", "view"))
      .write.partitionBy("event_type")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"),
        sum(col("v")).cast("double").as("total_value"))
  }

  /** Parquet schema EVOLUTION across ingest days — the drift every
    * long-lived 100 TB corpus accumulates: day 1 was written before
    * the `source` column existed; day 2 carries it. `mergeSchema`
    * reconciles the layouts at read time (a footer-merge job, no
    * rewrite of old data), day-1 rows surface the new column as null,
    * and the aggregate normalizes them with `coalesce` — the
    * null-vs-absent distinction is exactly what the oracle gate
    * pins. Partition discovery (`day=N`) rides the same read. The two
    * days are an [[Artifacts]] store per (session, corpus).
    */
  def mergedSchemaDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
    val dir = Artifacts.dir(spark, sfDir, "schema_evo") { d =>
      // feed construction only, INSIDE the once-per-corpus build: the
      // cutoff agg is a corpus scan repeated callers shouldn't pay
      val cutoff = docs.agg(max(col("doc_id"))).head().getLong(0) / 2 + 1
      docs.filter(col("doc_id") < cutoff).drop("source")
        .write.mode(SaveMode.Overwrite).parquet(s"$d/day=1")
      docs.filter(col("doc_id") >= cutoff)
        .write.mode(SaveMode.Overwrite).parquet(s"$d/day=2")
    }
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(coalesce(col("source"), lit("unknown")).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
  }

  /** `binaryFile` ingest — the multimodal on-ramp: opaque per-item
    * files (image/audio/video in production) read as (path, length,
    * content) with item identity recovered from the path. Feed
    * construction writes each document's UTF-8 bytes as one file from
    * the executors (foreachPartition — no driver collect; the temp
    * dir stands in for a SHARED landing-zone mount, which is the only
    * reason executor-side `Files.write` is cluster-valid — on local[n]
    * every executor sees the driver's disk anyway); the read
    * side is the real thing: Spark's binaryFile source, glob-filtered,
    * fingerprinting the CONTENT bytes. Writing text bytes is exactly
    * what makes a binary ingest path oracle-gateable: md5(content) on
    * this side must equal DuckDB's md5(text).
    *
    * Scale note: per-item files are the LANDING-ZONE shape only — at
    * 100 TB the file listing itself becomes the bottleneck (and the
    * source is not splittable), so this path's job is to fingerprint
    * and re-pack arrivals into parquet-embedded binary columns
    * (`mediaTable`/`mm_binary_meta`), which is where every downstream
    * operator reads from. The landing dir is an [[Artifacts]] store
    * per (session, corpus).
    */
  def binaryDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = Artifacts.dir(spark, sfDir, "binary_docs") { d =>
      graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, s"doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        md5(col("content")).as("fp"),
        col("length").as("n_bytes"))
  }

  /** Aggregate over the custom DataSourceV2 connector
    * ([[graft.sources.v2.SyntheticSource]]): the id-range predicates
    * push into the scan (partitions 0-3 of 8 are pruned at PLANNING
    * time, and no residual Filter node survives), and the aggregate's
    * column set prunes the read schema. The deterministic arithmetic
    * grid lets DuckDB's `range()` reproduce every row exactly.
    */
  def dsv2Aggregate(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("graft.sources.v2.SyntheticSource")
      .option("rows", "200000").option("slices", "8").load()
      .filter(col("id") >= 120000L && col("id") < 180000L)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
  }

  /** The DSv2 CATALOG plugin end-to-end
    * ([[graft.sources.v2.GraftCatalog]]): the same grid aggregate as
    * [[dsv2Aggregate]], but authored in pure SQL against the
    * catalog-qualified name — resolution goes through the registered
    * `TableCatalog`, and the scan keeps the connector's pushdown /
    * pruning behavior (spec-asserted).
    */
  def catalogGridRollup(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.v2.GraftCatalog")
    spark.sql(
      """SELECT grp, count(*) AS n, sum(val) AS sum_val
        |FROM graftcat.main.grid
        |WHERE id >= 120000 AND id < 180000
        |GROUP BY grp""".stripMargin)
  }

  /** The V2 FUNCTION-catalog path ([[graft.sources.v2.KnuthVal]]):
    * the same rollup with `val` RECOMPUTED from `id` by the
    * catalog-resolved SQL function — the scan prunes to the id/grp
    * columns (spec-asserted) and the function runs through its
    * magic-method Invoke fast path.
    */
  def catalogFnRollup(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.v2.GraftCatalog")
    spark.sql(
      """SELECT grp, count(*) AS n,
        |  sum(graftcat.main.knuth_val(id)) AS sum_val
        |FROM graftcat.main.grid
        |WHERE id >= 120000 AND id < 180000
        |GROUP BY grp""".stripMargin)
  }

  /** The DSv2 WRITE path end-to-end
    * ([[graft.sources.v2.GraftSinkSource]]): a per-(user, event_type)
    * rollup appends through the sink's two-phase commit protocol
    * (per-task temps → task commit messages → one driver commit +
    * manifest), then the answer reads back ONLY the manifest-listed
    * files and rolls up per type — so the gate covers serialization,
    * the commit protocol, AND manifest-scoped visibility in one hash.
    */
  def dsv2SinkRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val dir = graft.TempDirs.create("graft_dsv2_sink").toString
    graft.Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("event_type"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    graft.sources.v2.GraftSink.readBack(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("n_events"),
        sum(col("sum_value")).cast("double").as("total_value"))
  }

  /** TIME TRAVEL through the sink's retained manifest generations —
    * the Delta/Iceberg snapshot contract in its smallest honest form:
    * batch 1 (the id-lower half) commits generation 1, batch 2 (the
    * rest) APPENDS generation 2, and the answer reads EACH generation
    * back AS OF its own snapshot (`GraftSink.readBackAsOf`) — the v1
    * read is repeatable after the append because a committed snapshot
    * is never rewritten (spec-pinned byte-for-byte). One SQL gates
    * both generations: v1 ≡ the lower half, v2 ≡ the whole corpus,
    * recomputed from the source split rule.
    */
  /** The (doc_id, n_chars) schema the time-travel/vacuum stores
    * serialize. */
  private val TwoGenSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  /** Shared scaffold for `q_time_travel` and `q_vacuum`: commit the
    * id-lower document half as generation 1, append the rest as
    * generation 2, return the store dir. ONE definition so the two
    * gated keys' split rule can never drift.
    */
  private def writeTwoGenerations(spark: SparkSession, sfDir: String,
      prefix: String, writerOpts: Map[String, String] = Map.empty)
      : String = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create(prefix).toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: Column => Column): DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    half(col("doc_id") <= _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).options(writerOpts).mode("append").save()
    half(col("doc_id") > _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).options(writerOpts).mode("append").save()
    dir
  }

  /** SHARDED MANIFESTS on the sink (`q_sink_sharded`): the same
    * two-generation store committed with `shardThreshold=2`, so BOTH
    * appends spill their inline entries into immutable `_SHARD.*`
    * files and the manifests hold `@shard` references — the
    * Delta/Iceberg manifest-LIST shape that keeps manifest growth
    * O(1) per commit on a 10⁶-file table. The gate replays
    * `q_time_travel`'s oracle over the sharded store: both snapshots
    * served THROUGH shard resolution must equal the inline store's
    * answers bit-for-bit (a dropped shard, a double-resolved ref, or
    * an entry lost in the spill all hash-fail); the O(1) manifest
    * shape and the shard vacuum lifecycle are spec-pinned.
    */
  def sinkShardedReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_sharded",
      Map("shardThreshold" -> "2"))
    graft.sources.v2.GraftSink.versions(dir).map { v =>
      graft.sources.v2.GraftSink.readBackAsOf(spark, dir, v, TwoGenSchema)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("sum_chars"))
    }.reduce(_ unionByName _)
  }

  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_time_travel")
    graft.sources.v2.GraftSink.versions(dir).map { v =>
      graft.sources.v2.GraftSink.readBackAsOf(spark, dir, v, TwoGenSchema)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("sum_chars"))
    }.reduce(_ unionByName _)
  }

  /** VACUUM — the maintenance twin of `q_time_travel`: two committed
    * generations plus two PLANTED crash leftovers (an uncommitted
    * temp, an unreferenced stray part), then
    * `GraftSink.vacuum(keepGenerations = 1)` deletes the strays and
    * expires generation 1's snapshot. The answer is the post-vacuum
    * manifest read-back rolled up — the hash gate proves vacuum
    * deleted NOTHING the manifest references (strays were invisible
    * to readers all along, so the oracle is the plain source rollup);
    * the spec pins the stray deletion and retention counts.
    */
  def vacuumedStore(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val dir = writeTwoGenerations(spark, sfDir, "graft_vacuum")
    // planted crash leftovers: an aborted task temp and a stray part
    Files.write(Paths.get(dir, ".tmp-orphan"),
      "-1\t-1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(Paths.get(dir, "part-stray.tsv"),
      "-2\t-2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.sources.v2.GraftSink.vacuum(dir, keepGenerations = 1)
    graft.sources.v2.GraftSink.readBack(spark, dir, TwoGenSchema)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
  }

  /** ZONEMAP-PRUNED sink read (`q_sink_skip`): the per-user rollup
    * lands in the sink RANGE-CLUSTERED on `user_id`
    * (`repartitionByRange`, so each part file owns a disjoint id
    * range and its manifest min/max stats are tight), then a
    * selective read of the bottom eighth of the id span goes through
    * [[graft.sources.v2.GraftSink.readBackWhere]] — the manifest
    * zonemap keeps only the files the predicate can touch BEFORE any
    * file opens. The hash gate proves pruning changed nothing
    * (content ≡ filtering the full read-back, recomputed by the
    * oracle from the source); the files-opened < files-listed
    * invariant is spec-pinned. At 100 TB this is the sink-native form
    * of `q_zonemap_skip`: data skipping priced at one manifest read.
    */
  /** BLOOM FILE-SKIPPING on the sink (`q_sink_bloom`): the user
    * rollup written HASH-SCRAMBLED (repartition on the key's hash, so
    * every file spans the full id range and the zonemap prunes
    * NOTHING — the layout where min/max stats are useless and a point
    * lookup would otherwise open every file), then
    * [[graft.sources.v2.GraftSink.buildBloom]] commits a per-file
    * bloom sidecar and [[graft.sources.v2.GraftSink.readBackBloomEq]]
    * opens ONLY bloom-positive files, planned from one bounded
    * O(#files) sidecar read. The answer folds a present key (the
    * minimum user id — hit) and an absent key (min − 1, below the id
    * span — zero-mass miss) through one aggregate each, so a false
    * negative (dropped hit), a broken probe, or content damage all
    * hash-fail against the source recompute; files-opened <
    * files-listed and post-build-append coverage are spec-pinned.
    */
  def sinkBloomRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, LongType, StructField}
    val dir = graft.TempDirs.create("graft_sink_bloom_q").toString
    val ev = graft.Tables.events(spark, sfDir)
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
      .repartition(8, xxhash64(col("user_id")))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n", LongType),
      StructField("sum_value", DecimalType(18, 2))))
    graft.sources.v2.GraftSink.buildBloom(spark, dir, "user_id", schema)
    // ONE bounded 1-row driver read fixes the deterministic probes
    val lo = ev.agg(min(col("user_id"))).collect()(0).getLong(0)
    def probe(v: Long, phase: String): DataFrame =
      graft.sources.v2.GraftSink.readBackBloomEq(spark, dir, "user_id",
          v.toString, schema)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n")), lit(0L)).as("n_events"),
          coalesce(sum(col("sum_value")).cast("double"), lit(0.0))
            .as("total_value"))
        .select(lit(phase).as("phase"), col("n_rows"), col("n_events"),
          col("total_value"))
    probe(lo, "hit").unionByName(probe(lo - 1, "miss"))
  }

  def sinkSkipRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, LongType, StructField}
    val dir = graft.TempDirs.create("graft_sink_skip").toString
    val ev = graft.Tables.events(spark, sfDir)
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
      .repartitionByRange(8, col("user_id"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n", LongType),
      StructField("sum_value", DecimalType(18, 2))))
    // ONE bounded 1-row driver read fixes the deterministic selective
    // range: the bottom eighth of the id span (both spans are
    // non-negative, so Spark DIV ≡ DuckDB //)
    val b = ev.agg(min(col("user_id")).as("lo"),
      (min(col("user_id"))
        + expr("(max(user_id) - min(user_id)) DIV 8")).as("hi"))
      .collect()(0)
    graft.sources.v2.GraftSink.readBackWhere(spark, dir, "user_id",
        BigDecimal(b.getLong(0)), BigDecimal(b.getLong(1)), schema)
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
        sum(col("sum_value")).cast("double").as("total_value"))
  }

  /** ROW-LEVEL DELETE on the sink (`q_sink_delete`): the two-
    * generation document store from `q_time_travel`'s scaffold, then
    * [[graft.sources.v2.GraftSink.deleteWhere]] erases every
    * `doc_id % 3 = 0` row copy-on-write — only files containing
    * matches rewrite (through the sink's own serializer), untouched
    * files carry over by reference, and the swap commits as one
    * compare-and-swap generation. The answer reads BOTH sides of the
    * delete: the pre-delete snapshot AS OF its generation (time
    * travel must still serve it bit-for-bit) and the live post-delete
    * head — one SQL recomputes both from the source and the delete
    * rule, so a resurrection, an over-delete, or a damaged snapshot
    * all hash-fail. This is `q_gdpr_delete`'s erasure report turned
    * into a COMMITTED erasure of a sink table.
    */
  def sinkDeleteReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_delete")
    val preGen = graft.sources.v2.GraftSink.versions(dir).max
    graft.sources.v2.GraftSink.deleteWhere(spark, dir,
      col("doc_id") % 3 === 0, TwoGenSchema)
    def roll(df: DataFrame, phase: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(phase).as("phase"), col("n_rows"), col("sum_chars"))
    roll(graft.sources.v2.GraftSink.readBackAsOf(spark, dir, preGen,
      TwoGenSchema), "before")
      .unionByName(roll(graft.sources.v2.GraftSink.readBack(spark, dir,
        TwoGenSchema), "after"))
  }

  /** COMPACTION on the sink (`q_sink_compact`): the two-generation
    * document store (every append leaves its own task-sized parts —
    * the small-file problem in miniature), then `GraftSink.compact`
    * bin-packs everything below the row target into ONE rewrite job
    * and swaps via a compare-and-swap generation. The hash gate
    * proves compaction is content-invisible (read-back ≡ the plain
    * source rollup, with the committed generation number pinned);
    * the spec pins the actual file-count drop, the surviving
    * time-travel read, and vacuum's reclamation of the replaced
    * smalls. At 100 TB this is the maintenance loop that keeps
    * streaming appends from degrading every future read.
    */
  def sinkCompactReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_compact")
    val (_, _, gen) = graft.sources.v2.GraftSink.compact(spark, dir,
      targetRows = Long.MaxValue, TwoGenSchema)
    // the gate pins the generation compact() actually COMMITTED (a
    // silent no-op would surface as generation 2 and hash-fail)
    graft.sources.v2.GraftSink.readBack(spark, dir, TwoGenSchema)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .select(lit(gen.toLong).as("generation"), col("n_rows"),
        col("sum_chars"))
  }

  /** MERGE (upsert) on the sink (`q_sink_merge`): the full document
    * store, then one committed MERGE — every `doc_id % 5 = 0` row
    * updated (+1000 chars) and three planted new rows appended — in
    * ONE compare-and-swap generation through
    * `GraftSink.mergeUpsert`. The answer re-aggregates the merged
    * read-back, with the updated keys' mass isolated in its own
    * column, so a missed update, a resurrected old row, or a lost
    * insert all hash-fail against the source-side recomputation.
    */
  def sinkMergeReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft_sink_merge_store").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    docs.write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val updates = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
      .unionByName(mx.select(
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"), col("mx"))
        // mx*10 + k ≡ k (mod 5), k ∈ {1,2,3}: a planted insert can
        // never collide with the %5 update predicate at any SF
        .select((col("mx") * 10L + col("k")).as("doc_id"),
          (col("k") * 11L).as("n_chars")))
    graft.sources.v2.GraftSink.mergeUpsert(spark, dir, updates, "doc_id",
      TwoGenSchema)
    graft.sources.v2.GraftSink.readBack(spark, dir, TwoGenSchema)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"),
        sum(when(col("doc_id") % 5 === 0, col("n_chars"))
          .otherwise(lit(0L))).as("sum_updated"))
  }

  /** CLUSTERING maintenance on the sink (`q_sink_cluster`): the
    * per-user rollup lands HASH-scrambled (every part spans the full
    * id range — the manifest zonemap prunes nothing), then
    * `GraftSink.cluster` rewrites it range-clustered on `user_id` in
    * one compare-and-swap generation, and the SAME selective
    * `readBackWhere` as `q_sink_skip` answers — identical oracle, but
    * here the pruning only works BECAUSE the maintenance ran (the
    * spec pins zero-skip before vs real skip after). The
    * append-scrambled → clustered transition is exactly what a
    * streaming-ingest table needs periodically at 100 TB.
    */
  def sinkClusterRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, LongType, StructField}
    val dir = graft.TempDirs.create("graft_sink_cluster_store").toString
    val ev = graft.Tables.events(spark, sfDir)
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
      .repartition(8) // hash-scrambled: zonemap useless by design
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n", LongType),
      StructField("sum_value", DecimalType(18, 2))))
    graft.sources.v2.GraftSink.cluster(spark, dir, "user_id", 8, schema)
    val b = ev.agg(min(col("user_id")).as("lo"),
      (min(col("user_id"))
        + expr("(max(user_id) - min(user_id)) DIV 8")).as("hi"))
      .collect()(0)
    graft.sources.v2.GraftSink.readBackWhere(spark, dir, "user_id",
        BigDecimal(b.getLong(0)), BigDecimal(b.getLong(1)), schema)
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
        sum(col("sum_value")).cast("double").as("total_value"))
  }

  /** DESCRIBE HISTORY on the sink (`q_sink_history`): the
    * two-generation store plus a committed row-level delete leaves a
    * 3-generation audit trail; `GraftSink.history` reconstructs it
    * from the manifests alone — no data file opens. The gated columns
    * are the layout-independent ones (generation, rows listed, txn
    * markers), recomputed by the oracle from the split + delete
    * rules; the file-delta columns (layout-dependent) are spec-pinned
    * on a planted store instead.
    */
  def sinkHistoryReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_history")
    graft.sources.v2.GraftSink.deleteWhere(spark, dir,
      col("doc_id") % 3 === 0, TwoGenSchema)
    graft.sources.v2.GraftSink.history(spark, dir)
      .select(col("generation"), col("n_rows"), col("n_txn"))
  }

  /** SCHEMA EVOLUTION on the sink (`q_sink_evolve`): generation 1
    * serializes (doc_id, n_chars) — the producer's day-1 schema —
    * and generation 2 appends (doc_id, n_chars, lang) after the
    * upgrade. `GraftSink.readBackEvolved` serves BOTH under the
    * evolved schema: the sink's positional TSV surfaces the old
    * files' missing trailing column as null (the CSV PERMISSIVE
    * contract) and the declared default normalizes it — the same
    * cutoff-CASE oracle shape as the parquet `q_schema_evolution`,
    * now on the sink's own store with its manifest visibility.
    */
  def sinkEvolveRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val dir = graft.TempDirs.create("graft_sink_evolve").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("lang"))
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: Column => Column): DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    half(col("doc_id") <= _).drop("lang") // day-1 producer: two columns
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    half(col("doc_id") > _) // upgraded producer: appended lang column
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    val evolved = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_chars", LongType),
      StructField("lang", StringType)))
    graft.sources.v2.GraftSink.readBackEvolved(spark, dir, evolved,
        Map("lang" -> lit("unknown")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Z-ORDER clustering on the sink (`q_sink_zorder`): the document
    * store lands hash-scrambled, then ONE compare-and-swap rewrite
    * range-clusters it on the Morton interleave of (doc_id, n_chars)
    * (`Layout.mortonZ`, dims shifted into 11 bits off a 1-row
    * min/max read) — after which the manifest zonemap prunes on BOTH
    * raw columns at once, the thing single-column clustering cannot
    * do. The gate answers the SAME selective read on each dimension
    * (bottom eighth of each span) through `readBackWhere`, so
    * content-invariance and dual-dimension service are one hash; the
    * spec pins kept < total on both dims after (and = total before).
    */
  def sinkZorderRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft_sink_zorder").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    docs.repartition(8) // hash-scrambled on purpose
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    // ONE bounded 1-row driver read: spans for the 11-bit dim shifts
    // and the two selective windows
    val b = docs.agg(
      min(col("doc_id")).as("lo_d"), max(col("doc_id")).as("hi_d"),
      min(col("n_chars")).as("lo_c"), max(col("n_chars")).as("hi_c"))
      .first()
    def shiftFor(mx: Long): Int =
      math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(mx) - 11)
    val z = graft.operators.Layout.mortonZ(
      shiftright(col("doc_id"), shiftFor(b.getLong(1))),
      shiftright(col("n_chars"), shiftFor(b.getLong(3))))
    graft.sources.v2.GraftSink.clusterByExpr(spark, dir, z, 16,
      TwoGenSchema)
    def window(lo: Long, hi: Long): (BigDecimal, BigDecimal) =
      (BigDecimal(lo), BigDecimal(lo + (hi - lo) / 8))
    def roll(dim: String, w: (BigDecimal, BigDecimal)): DataFrame =
      graft.sources.v2.GraftSink.readBackWhere(spark, dir, dim,
          w._1, w._2, TwoGenSchema)
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(dim).as("dim"), col("n_rows"), col("sum_chars"))
    roll("doc_id", window(b.getLong(0), b.getLong(1)))
      .unionByName(roll("n_chars", window(b.getLong(2), b.getLong(3))))
  }

  /** OPTIMIZE planner on the sink (`q_sink_optimize`): FOUR planted
    * stores, one per branch of [[graft.sources.v2.GraftSink.optimize]]'s
    * pinned decision matrix — 32 tiny files (→ compact), 8
    * hash-scrambled files with one declared dimension (→ cluster),
    * the same with two declared dimensions (→ z-order), and 8
    * range-clustered files (→ none: rewriting a healthy table is the
    * failure mode OPTIMIZE exists to avoid). Each store runs the
    * planner, which decides from ONE bounded manifest read and
    * executes its choice; the row reports decision + decision inputs
    * (file count, dispersion verdict) + committed generation + full
    * and doc_id-selective read-back rollups. The oracle reproduces
    * the decision as a SQL CASE over the same pinned inputs and the
    * rollups from the source table — a wrong branch, a planner that
    * rewrites the healthy store, a lost row in any executed rewrite,
    * or an under-pruned selective read all hash-fail. The spec
    * additionally pins the physical effects (file counts shrink,
    * zonemaps prune) per branch.
    */
  def sinkOptimizeReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sources.v2.GraftSink
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    // one bounded 1-row read shared by every store's selective window
    val b = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .first()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val selHi = lo + (hi - lo) / 8 // integer div, mirrored by // in SQL
    def plant(name: String, parts: Int, scrambled: Boolean): String = {
      val dir = graft.TempDirs.create(s"graft_sink_opt_$name").toString
      val laid = if (scrambled) docs.repartition(parts)
        else docs.repartitionByRange(parts, col("doc_id"))
      laid.write.format("graft.sources.v2.GraftSinkSource")
        .option("path", dir).mode("append").save()
      dir
    }
    def run(store: String, parts: Int, scrambled: Boolean,
        dims: Seq[String]): DataFrame = {
      val dir = plant(store, parts, scrambled)
      val rep = GraftSink.optimize(spark, dir, dims, 8, TwoGenSchema)
      val full = GraftSink.readBack(spark, dir, TwoGenSchema)
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      val sel = GraftSink.readBackWhere(spark, dir, "doc_id",
          BigDecimal(lo), BigDecimal(selHi), TwoGenSchema)
        .agg(count(lit(1)).as("sel_rows"), sum(col("n_chars")).as("sel_chars"))
      full.crossJoin(broadcast(sel)).select(
        lit(store).as("store"), lit(rep.decision).as("decision"),
        lit(rep.nFilesBefore.toLong).as("n_files"),
        lit(rep.dispersed).as("dispersed"),
        lit(rep.generation.toLong).as("generation"),
        col("n_rows"), col("sum_chars"), col("sel_rows"), col("sel_chars"))
    }
    run("tiny_files", 32, scrambled = true, Seq("doc_id"))
      .unionByName(run("scrambled_1d", 8, scrambled = true, Seq("doc_id")))
      .unionByName(run("scrambled_2d", 8, scrambled = true,
        Seq("doc_id", "n_chars")))
      .unionByName(run("clustered", 8, scrambled = false, Seq("doc_id")))
  }

  /** MERGE-ON-READ DELETE on the sink (`q_sink_delete_mor`): the
    * two-generation document store, then TWO
    * [[graft.sources.v2.GraftSink.deleteWhereMor]] erasures —
    * `doc_id % 3 = 0` (gen 3), then `doc_id % 5 = 0` (gen 4, which
    * must REPLACE the first delete's vectors with union vectors on
    * the files both hit). No data file is rewritten: each commit
    * writes only per-file delete-vector sidecars plus `#dv` manifest
    * markers, so the delete costs O(rows deleted) regardless of file
    * sizes — the deletion-vector half of the Delta/Iceberg trade,
    * beside `q_sink_delete`'s copy-on-write half. The answer reads
    * three snapshots — pre-delete AS OF, mid AS OF (only %3 applied),
    * and the live head (%3 and %5) — against one source-side SQL, so
    * an under-masked read, a resurrected row, or a union that loses
    * either vector all hash-fail; the no-rewrite invariant is
    * spec-pinned.
    */
  def sinkDeleteMorReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_mor")
    val preGen = graft.sources.v2.GraftSink.versions(dir).max
    graft.sources.v2.GraftSink.deleteWhereMor(spark, dir,
      col("doc_id") % 3 === 0, TwoGenSchema)
    graft.sources.v2.GraftSink.deleteWhereMor(spark, dir,
      col("doc_id") % 5 === 0, TwoGenSchema)
    def roll(df: DataFrame, phase: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(phase).as("phase"), col("n_rows"), col("sum_chars"))
    roll(graft.sources.v2.GraftSink.readBackAsOf(spark, dir, preGen,
      TwoGenSchema), "before")
      .unionByName(roll(graft.sources.v2.GraftSink.readBackAsOf(spark, dir,
        preGen + 1, TwoGenSchema), "mid"))
      .unionByName(roll(graft.sources.v2.GraftSink.readBack(spark, dir,
        TwoGenSchema), "after"))
  }

  /** ROLLBACK / RESTORE on the sink (`q_sink_rollback`): the
    * two-generation store takes a BAD commit (the %3 copy-on-write
    * delete — generation 3), then `GraftSink.rollback` restores
    * generation 2 as a NEW generation 4: a verbatim manifest copy,
    * files carried by reference, CAS-committed. The answer reads the
    * restored head (must equal the FULL corpus — the delete undone)
    * and the bad generation AS OF its snapshot (history is an audit
    * trail, not an eraser: the bad state stays reproducible), each
    * with its generation number pinned — a restore that silently
    * lands on the wrong parent, loses rows, or destroys the bad
    * snapshot all hash-fail. This is the "bad deploy, roll it back"
    * lifecycle step every production table eventually needs.
    */
  def sinkRollbackReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_rollback")
    val goodGen = graft.sources.v2.GraftSink.versions(dir).max
    graft.sources.v2.GraftSink.deleteWhere(spark, dir,
      col("doc_id") % 3 === 0, TwoGenSchema) // the bad commit (gen 3)
    val restored = graft.sources.v2.GraftSink.rollback(dir, goodGen)
    def roll(df: DataFrame, phase: String, gen: Int): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(phase).as("phase"), lit(gen.toLong).as("generation"),
          col("n_rows"), col("sum_chars"))
    roll(graft.sources.v2.GraftSink.readBack(spark, dir, TwoGenSchema),
        "restored", restored)
      .unionByName(roll(graft.sources.v2.GraftSink.readBackAsOf(spark, dir,
        goodGen + 1, TwoGenSchema), "bad_asof", goodGen + 1))
  }

  /** INCREMENTAL READ / CDC on the sink (`q_sink_changes`): the
    * 3-generation scaffold (append lower half → append rest →
    * committed %3 delete), consumed as CHANGES — `readChanges(1, 2)`
    * must surface exactly the appended upper half as inserts, and
    * `readChanges(2, 3)` exactly the erased %3 rows as deletes, with
    * every copy-on-write survivor cancelling multiset-wise no matter
    * which files the delete happened to rewrite (the file-level
    * layout never leaks into the row-level answer — that invariance
    * IS what the hash gate proves). This is how a downstream training
    * pipeline consumes a 100 TB store: manifest-delta cost, not
    * table-scan cost.
    */
  def sinkChangesReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_changes")
    graft.sources.v2.GraftSink.deleteWhere(spark, dir,
      col("doc_id") % 3 === 0, TwoGenSchema)
    def roll(fromGen: Int, toGen: Int): DataFrame =
      graft.sources.v2.GraftSink.readChanges(spark, dir, fromGen, toGen,
          TwoGenSchema)
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(s"$fromGen->$toGen").as("window"), col("action"),
          col("n_rows"), col("sum_chars"))
    roll(1, 2).unionByName(roll(2, 3))
  }

  /** INCREMENTAL CDC APPLY (`q_cdc_apply`) — the CONSUMER side of
    * `q_sink_changes`: a downstream per-event-type aggregate is
    * maintained from the sink's change feed alone — ONE base snapshot
    * read (generation 1) plus each generation window's delta rows,
    * signed +1 for inserts / −1 for deletes and folded through ONE
    * grouped aggregation. No generation after the base is ever read
    * in full: the deltas come from [[graft.sources.v2.GraftSink
    * .readChanges]], whose cost is proportional to the files (or
    * delete-vector moves) that actually changed — the incremental-
    * view-maintenance loop a 100 TB table needs (re-aggregating the
    * head every refresh re-reads the world). Generation 3's change is
    * a MERGE-ON-READ delete — a pure delete-vector move that touches
    * no file list — so the gate also proves DV deltas feed the
    * downstream correctly. The hash gate recomputes the final state
    * from the source: a wrong sign, a missed window, or a double-
    * applied delta all hash-fail.
    */
  def cdcApplyReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val dir = graft.TempDirs.create("graft_cdc_apply").toString
    val ev = graft.Tables.events(spark, sfDir)
    val roll = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("event_type"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
    def put(df: DataFrame): Unit =
      df.write.format("graft.sources.v2.GraftSinkSource")
        .option("path", dir).mode("append").save()
    put(roll.filter(col("user_id") % 2 === 0))
    put(roll.filter(col("user_id") % 2 =!= 0))
    graft.sources.v2.GraftSink.deleteWhereMor(spark, dir,
      col("user_id") % 7 === 0)
    val head = graft.sources.v2.GraftSink.versions(dir).max
    val base = graft.sources.v2.GraftSink.readBackAsOf(spark, dir, 1)
      .withColumn("sign", lit(1L))
    val feed = (2 to head).map { g =>
      graft.sources.v2.GraftSink.readChanges(spark, dir, g - 1, g)
        .withColumn("sign",
          when(col("action") === "insert", lit(1L)).otherwise(lit(-1L)))
        .drop("action")
    }.foldLeft(base)(_ unionByName _)
    feed.groupBy("event_type")
      .agg(sum(col("sign")).as("n_keys"),
        sum(col("sign") * col("n")).as("n_events"),
        sum(col("sign") * col("sum_value")).cast("double").as("total_value"))
  }

  /** PERSISTED CHECK CONSTRAINTS on the sink (`q_sink_constraints`):
    * generation 1 holds the id-lower document half, then TWO
    * constraints commit as `#check` table metadata
    * (`GraftSink.addConstraint` — each validates all existing rows
    * first), and the id-upper half appends THROUGH the constrained
    * DSv2 write path, where every task validates each row against the
    * driver-bound Catalyst predicates before serializing it. The gate
    * re-aggregates the read-back with the live constraint COUNT read
    * from the manifest — so a dropped marker, a write that bypassed
    * validation, or a lost row all hash-fail. The violation path
    * (writes fail loudly, generation unchanged, temps cleaned; a
    * racing constraint commit aborts the publish) is spec-pinned.
    */
  def sinkConstraintsReport(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft_sink_checks").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    half(col("doc_id") <= _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    graft.sources.v2.GraftSink.addConstraint(spark, dir,
      "chars_nonneg", "n_chars >= 0", TwoGenSchema)
    graft.sources.v2.GraftSink.addConstraint(spark, dir,
      "id_nonneg", "doc_id >= 0", TwoGenSchema)
    half(col("doc_id") > _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    val nChecks = graft.sources.v2.GraftSink.checksOf(
      graft.sources.v2.GraftSink.head(dir)._2).size.toLong
    graft.sources.v2.GraftSink.readBack(spark, dir, TwoGenSchema)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .select(lit(nChecks).as("n_checks"), col("n_rows"), col("sum_chars"))
  }

  /** ANALYZE TABLE on the sink (`q_sink_analyze`): the document store
    * commits, [[graft.sources.v2.GraftSink.analyze]] computes
    * per-column row count / exact NDV / min / max in ONE distributed
    * pass and CAS-commits them as `#colstats` manifest markers, and
    * the answer is read back FROM THE MANIFEST ALONE — the
    * cost-based-planner handshake (`q_join_preflight` prices a join
    * from query-time statistics; ANALYZE is how those numbers become
    * table metadata a planner consults without scanning). The stats
    * carry the generation they were computed at, so a later write
    * makes them visibly stale instead of silently wrong
    * (spec-pinned). A wrong persisted NDV/min/max hash-fails against
    * the source-side recomputation.
    */
  def sinkAnalyzeReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sources.v2.GraftSink
    val dir = graft.TempDirs.create("graft_sink_analyze").toString
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", dir).mode("append").save()
    GraftSink.analyze(spark, dir, TwoGenSchema)
    val stats = GraftSink.colStatsOf(GraftSink.head(dir)._2)
    import spark.implicits._
    stats.map(s => (s.column, s.nRows, s.ndv, s.min, s.max,
        s.atGeneration.toLong))
      .toDF("column", "n_rows", "ndv", "mn", "mx", "at_generation")
  }

  /** GENERATION TAGS on the sink (`q_sink_tag`): tag generation 1
    * "baseline" (a `#tag` head marker, CAS-committed), then vacuum
    * with keepGenerations = 1 — retention expires the UNTAGGED middle
    * generation but the Iceberg tag semantic EXEMPTS the named one,
    * so the tagged read still serves the id-lower half while the head
    * serves the full corpus. The gate is the exemption itself:
    * without it the tagged manifest would be deleted and the read
    * would throw instead of hashing.
    */
  def sinkTagReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = writeTwoGenerations(spark, sfDir, "graft_sink_tag")
    graft.sources.v2.GraftSink.addTag(dir, "baseline", 1)
    graft.sources.v2.GraftSink.vacuum(dir, keepGenerations = 1)
    def roll(df: DataFrame, phase: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(phase).as("phase"), col("n_rows"), col("sum_chars"))
    roll(graft.sources.v2.GraftSink.readBackTag(spark, dir, "baseline",
      TwoGenSchema), "tagged")
      .unionByName(roll(graft.sources.v2.GraftSink.readBack(spark, dir,
        TwoGenSchema), "head"))
  }

  /** BRANCH WRITE–AUDIT–PUBLISH on the sink (`q_sink_publish`):
    * the id-lower half commits as the PARENT, a shallow-clone BRANCH
    * stages the upper half PLUS an audit-fix CoW delete (the %7
    * rows), and `GraftSink.publishClone` fast-forwards the parent to
    * the branch state in one CAS commit — the Iceberg WAP workflow
    * where the audit queries the STAGED TABLE (full history, joins,
    * anything readBack can ask), not just the incoming batch
    * (pipeline_wap's pre-write audit). The gate reads the parent
    * before (as-of its pre-publish generation) and after — a publish
    * that leaks early, drops the branch delete, or loses inherited
    * rows hash-fails. Divergence refusal and branch-file adoption
    * are spec-pinned.
    */
  def sinkPublishReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val parent = graft.TempDirs.create("graft_sink_wapb_p").toString
    val branch = graft.TempDirs.create("graft_sink_wapb_b").toString + "/t"
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    half(col("doc_id") <= _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", parent).mode("append").save()
    graft.sources.v2.GraftSink.cloneShallow(parent, branch)
    half(col("doc_id") > _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", branch).mode("append").save()
    // the audit's fix, staged ON THE BRANCH: drop the %7 rows
    graft.sources.v2.GraftSink.deleteWhere(spark, branch,
      col("doc_id") % 7 === 0, TwoGenSchema)
    val preGen = graft.sources.v2.GraftSink.versions(parent).max
    graft.sources.v2.GraftSink.publishClone(parent, branch)
    def roll(df: DataFrame, phase: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(phase).as("phase"), col("n_rows"), col("sum_chars"))
    roll(graft.sources.v2.GraftSink.readBackAsOf(spark, parent, preGen,
      TwoGenSchema), "before")
      .unionByName(roll(graft.sources.v2.GraftSink.readBack(spark, parent,
        TwoGenSchema), "after"))
  }

  /** SHALLOW CLONE on the sink (`q_sink_clone`): the full document
    * store commits as the PARENT table, `GraftSink.cloneShallow`
    * publishes a zero-copy CLONE (the clone's manifest lists the
    * parent's files by name through a `#parent` marker — no data
    * bytes move), then the two tables DIVERGE: three planted rows
    * append to the CLONE and a copy-on-write delete rewrites the
    * PARENT. The gate reads BOTH sides back and re-aggregates — a
    * clone that sees the parent's delete, a parent that sees the
    * clone's append, or a resolution path that drops inherited files
    * all hash-fail against the source-side reconstruction. Zero-copy
    * itself (no data files under the clone dir at clone time) is
    * spec-pinned.
    */
  def sinkCloneReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val parent = graft.TempDirs.create("graft_sink_clone_p").toString
    val clone = graft.TempDirs.create("graft_sink_clone_c").toString + "/t"
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    docs.write.format("graft.sources.v2.GraftSinkSource")
      .option("path", parent).mode("append").save()
    graft.sources.v2.GraftSink.cloneShallow(parent, clone)
    // diverge the clone: the q_sink_merge planted-row rule (mx*10+k
    // cannot collide with any doc_id at any SF)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    mx.select(explode(array(lit(1L), lit(2L), lit(3L))).as("k"), col("mx"))
      .select((col("mx") * 10L + col("k")).as("doc_id"),
        (col("k") * 11L).as("n_chars"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", clone).mode("append").save()
    // diverge the parent: CoW delete of the %3 rows
    graft.sources.v2.GraftSink.deleteWhere(spark, parent,
      col("doc_id") % 3 === 0, TwoGenSchema)
    def roll(dir: String, side: String): DataFrame =
      graft.sources.v2.GraftSink.readBack(spark, dir, TwoGenSchema)
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(side).as("side"), col("n_rows"), col("sum_chars"))
    roll(parent, "parent").unionByName(roll(clone, "clone"))
  }

  /** BRANCH DIFF (`q_sink_branch_diff`) — the Nessie/lakeFS "compare
    * branches" operation over the sink's clone machinery, done the
    * way merges need it: THREE-WAY against the base snapshot the
    * branch was taken at (a two-table diff cannot tell "added on
    * branch" from "removed on parent"). Parent and branch diverge
    * (planted appends on the branch, a copy-on-write delete on the
    * parent — the [[sinkCloneReport]] divergence recipe); the base
    * comes back through time travel at the pre-divergence
    * generation; every key classifies as common / added_on_branch /
    * removed_on_parent (and the symmetric classes when they occur)
    * via ONE full outer join chain on the key — the review a
    * write-audit-publish gate reads before a merge. At 100 TB the
    * joins shuffle each side once on the key; a manifest-level file
    * diff prunes files the zero-copy clone still shares by name
    * before any row is read.
    */
  def sinkBranchDiffReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val parent = graft.TempDirs.create("graft_sink_bdiff_p").toString
    val branch = graft.TempDirs.create("graft_sink_bdiff_b").toString + "/t"
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    docs.write.format("graft.sources.v2.GraftSinkSource")
      .option("path", parent).mode("append").save()
    val baseGen = graft.sources.v2.GraftSink.versions(parent).max
    graft.sources.v2.GraftSink.cloneShallow(parent, branch)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    mx.select(explode(array(lit(1L), lit(2L), lit(3L))).as("k"), col("mx"))
      .select((col("mx") * 10L + col("k")).as("doc_id"),
        (col("k") * 11L).as("n_chars"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", branch).mode("append").save()
    graft.sources.v2.GraftSink.deleteWhere(spark, parent,
      col("doc_id") % 3 === 0, TwoGenSchema)
    val base = graft.sources.v2.GraftSink
      .readBackAsOf(spark, parent, baseGen, TwoGenSchema)
      .select(col("doc_id"), col("n_chars").as("on"))
    val p = graft.sources.v2.GraftSink.readBack(spark, parent, TwoGenSchema)
      .select(col("doc_id"), col("n_chars").as("pn"))
    val b = graft.sources.v2.GraftSink.readBack(spark, branch, TwoGenSchema)
      .select(col("doc_id"), col("n_chars").as("bn"))
    b.join(p, Seq("doc_id"), "full").join(base, Seq("doc_id"), "full")
      .select(
        when(col("on").isNotNull && col("pn").isNotNull
          && col("bn").isNotNull, "common")
          .when(col("on").isNull && col("bn").isNotNull, "added_on_branch")
          .when(col("on").isNull && col("pn").isNotNull, "added_on_parent")
          .when(col("pn").isNull && col("bn").isNull, "removed_on_both")
          .when(col("pn").isNull, "removed_on_parent")
          .otherwise("removed_on_branch").as("change"),
        coalesce(col("bn"), col("pn"), col("on")).as("nc"))
      .groupBy("change")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("nc")).cast("long").as("sum_chars"))
  }

  /** THREE-WAY MERGE (`q_sink_merge_branch`) — the operation
    * [[sinkBranchDiffReport]] exists to feed (lakeFS merge, Delta
    * branch fold-in): keys changed only on the branch apply onto the
    * parent, keys changed only on the parent keep the parent's state,
    * keys changed on BOTH sides are CONFLICTS — counted, parent wins,
    * never silently applied. The planted divergence adds a genuine
    * conflict (the branch MODIFIES a key the parent deleted) on top
    * of the clone-report recipe. The merge EXECUTES: the resolved
    * table commits through the sink and the report's 'merged' row
    * re-aggregates the committed store — a merge that mis-applies a
    * class hash-fails on either the action counts or the readback.
    * Per-key work is the same full-outer-join chain as the diff; the
    * resolved write is one sink append.
    */
  def sinkMergeBranchReport(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val parent = graft.TempDirs.create("graft_sink_bmerge_p").toString
    val branch = graft.TempDirs.create("graft_sink_bmerge_b").toString + "/t"
    val merged = graft.TempDirs.create("graft_sink_bmerge_m").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    docs.write.format("graft.sources.v2.GraftSinkSource")
      .option("path", parent).mode("append").save()
    val baseGen = graft.sources.v2.GraftSink.versions(parent).max
    graft.sources.v2.GraftSink.cloneShallow(parent, branch)
    // branch: 3 planted adds + a MODIFY of doc_id 9 (delete + re-add)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    mx.select(explode(array(lit(1L), lit(2L), lit(3L))).as("k"), col("mx"))
      .select((col("mx") * 10L + col("k")).as("doc_id"),
        (col("k") * 11L).as("n_chars"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", branch).mode("append").save()
    graft.sources.v2.GraftSink.deleteWhere(spark, branch,
      col("doc_id") === 9L, TwoGenSchema)
    import spark.implicits._
    Seq((9L, 999L)).toDF("doc_id", "n_chars")
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", branch).mode("append").save()
    // parent: CoW delete of the %3 keys (9 included → the conflict)
    graft.sources.v2.GraftSink.deleteWhere(spark, parent,
      col("doc_id") % 3 === 0, TwoGenSchema)
    val base = graft.sources.v2.GraftSink
      .readBackAsOf(spark, parent, baseGen, TwoGenSchema)
      .select(col("doc_id"), col("n_chars").as("on"))
    val p = graft.sources.v2.GraftSink.readBack(spark, parent, TwoGenSchema)
      .select(col("doc_id"), col("n_chars").as("pn"))
    val b = graft.sources.v2.GraftSink.readBack(spark, branch, TwoGenSchema)
      .select(col("doc_id"), col("n_chars").as("bn"))
    val bch = !(col("bn") <=> col("on"))
    val pch = !(col("pn") <=> col("on"))
    val resolved = b.join(p, Seq("doc_id"), "full")
      .join(base, Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(!bch && !pch, "unchanged")
          .when(bch && pch, "conflict")
          .when(bch, "applied_branch")
          .otherwise("parent_only").as("action"),
        // conflict → parent wins; branch-only change → branch value
        when(bch && !pch, col("bn")).otherwise(col("pn")).as("res"),
        coalesce(col("bn"), col("pn"), col("on")).as("nc"))
      .localCheckpoint()
    resolved.filter(col("res").isNotNull)
      .select(col("doc_id"), col("res").as("n_chars"))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", merged).mode("append").save()
    val actions = resolved.groupBy("action")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("nc")).cast("long").as("sum_chars"))
    val mergedRoll = graft.sources.v2.GraftSink
      .readBack(spark, merged, TwoGenSchema)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(lit("merged").as("action"), col("n_rows"), col("sum_chars"))
    actions.unionByName(mergedRoll)
  }
}
