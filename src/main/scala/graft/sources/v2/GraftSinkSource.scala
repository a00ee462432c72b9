package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths,
  StandardCopyOption, StandardOpenOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the DataSourceV2 surface (the read half is
  * [[SyntheticSource]]): a file sink implementing the full two-phase
  * batch commit protocol —
  *
  *   `TableProvider` → `SupportsWrite` → `WriteBuilder` → `BatchWrite`
  *   → per-task `DataWriter`s → task `commit()` messages → ONE
  *   driver-side job `commit(messages)`.
  *
  * Exactly-once semantics come from the protocol, not from luck:
  * every task attempt writes to its own `.tmp-<part>-<task>` file; a
  * failed/aborted attempt's `abort()` deletes its temp; only the
  * single authorized attempt per partition (Spark's commit
  * coordinator) contributes a commit message; and the job-level
  * `commit` publishes atomically — temp files rename to final parts
  * and the commit point is an atomic CREATE-IF-ABSENT of the next
  * `_MANIFEST.v<gen>` snapshot ([[GraftSink.commitAppend]]). Readers
  * go THROUGH the newest committed snapshot ([[GraftSink.readBack]]),
  * so uncommitted or orphaned files are invisible by construction.
  * This is the Hadoop-committer pattern restated in DSv2 terms; on a
  * real cluster the renames are same-filesystem moves on the shared
  * store, and at 100 TB the payoff is that task retries and
  * speculative attempts never double-write a row (a spec injects a
  * first-attempt writer failure and pins the output identical).
  *
  * MULTI-WRITER: commits use optimistic concurrency. Each committer
  * computes its lines against the head generation it read, then
  * attempts the `CREATE_NEW` publish of `<head+1>`; a loser (another
  * writer won that generation number) re-reads the new head, re-merges
  * its append, and retries — so N concurrent append jobs serialize
  * into N generations whose final state equals SOME serial order
  * (appends commute; a spec interleaves two writers and pins it).
  * Non-append commits (copy-on-write deletes) use strict
  * compare-and-swap instead: [[GraftSink.commitReplace]] refuses to
  * publish over a moved head, surfacing the conflict loudly.
  *
  * Rows serialize as TSV (schema-driven: long/int/string/decimal/
  * double; nulls rejected loudly — the sink's declared demo schema is
  * non-null). Free-text strings must not carry tabs/newlines; the
  * writer enforces it per value. Each committed file's manifest entry
  * also carries per-column MIN/MAX for every numeric column
  * (`name<TAB>rows<TAB>col=min..max;…`), so selective reads can prune
  * files by zonemap before opening them ([[GraftSink.readBackWhere]]).
  */
class GraftSinkSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSink.Schema

  // the writer is schema-driven (see GraftSinkWriter.fieldOf), so a
  // caller may write any TSV-serializable row shape — Spark then
  // passes the input frame's schema into getTable instead of
  // validating against the declared default rollup schema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft sink needs option 'path'")
    // mode=cdc: the streaming CHANGE FEED — the table's schema grows
    // the trailing `action` column (insert/delete) the CDC reader
    // emits; the caller's schema stays the DATA schema
    val cdc = "cdc".equalsIgnoreCase(properties.get("mode"))
    if (cdc) new GraftSinkTable(schema.add("action", StringType), path,
      cdcDataSchema = Some(schema))
    else new GraftSinkTable(schema, path)
  }
}

object GraftSink {
  /** SCALE STORY: below [[DefaultShardThreshold]] inline entries the
    * design keeps ONE manifest line per data file, read whole on the
    * driver — right-sized files (see [[compact]]) put a 100 TB table
    * at 10⁴–10⁵ entries, a few-MB manifest and driver maps to match.
    * ABOVE it, commits spill their inline data entries into immutable
    * `_SHARD.*` files and the manifest holds `@shard` references —
    * the Delta/Iceberg manifest-LIST shape: an append then writes
    * O(new entries) bytes and carries the parent's shards BY
    * REFERENCE, so manifest growth per commit is O(1) refs instead of
    * O(table files) rewritten lines. The commit protocol is untouched
    * (create-if-absent snapshot claim, CAS replace, txn ledger, DV
    * markers — all stay inline in the manifest); only line
    * RESOLUTION ([[resolved]]) learns to follow references, and
    * [[vacuum]] protects every retained generation's shards.
    */

  /** The sink table's declared schema: a per-(user, event_type)
    * rollup — every field TSV-safe.
    */
  val Schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("sum_value", DecimalType(18, 2))))

  val ManifestName = "_MANIFEST"

  /** Retained snapshot prefix: every commit publishes its manifest as
    * `_MANIFEST.v<gen>` via atomic create-if-absent — the snapshot IS
    * the commit point, is never rewritten, and any past committed
    * state stays readable — TIME TRAVEL, the Delta/Iceberg snapshot
    * contract in its smallest honest form.
    */
  val VersionPrefix = "_MANIFEST.v"

  // strict name shape: a foreign file or crash temp whose name merely
  // STARTS with the prefix (e.g. "_MANIFEST.vtmp") must be invisible,
  // not a NumberFormatException that takes down commit/vacuum/reads
  private val GenName =
    ("^" + java.util.regex.Pattern.quote(VersionPrefix) + "(\\d+)$").r

  /** Manifest lines beginning with `#` are transaction markers
    * (`#txn<TAB><id>`) or delete-vector references
    * (`#dv<TAB><datafile><TAB><dvfile><TAB><rows>`), not file entries.
    * Everything that treats lines as files must go through
    * [[dataLines]].
    */
  private def marker(txn: String): String = s"#txn\t$txn"

  private def dvMarker(file: String, dvFile: String, rows: Long): String =
    s"#dv\t$file\t$dvFile\t$rows"

  /** The snapshot's delete vectors: data file → (dv file, rows marked
    * deleted). At most one DV per data file per snapshot (a later
    * merge-on-read delete writes the UNION as a fresh DV and replaces
    * the marker).
    */
  private[v2] def dvOf(lines: Seq[String]): Map[String, (String, Long)] =
    lines.iterator.filter(_.startsWith("#dv\t")).map { l =>
      val p = l.split("\t")
      p(1) -> ((p(2), p(3).toLong))
    }.toMap

  /** Drop `#dv` markers referring to data files in `files` — every
    * copy-on-write rewrite path must call this for the files it
    * replaces, or a stale DV would point at a dead file.
    */
  private def dropDvFor(lines: Seq[String], files: Set[String]): Seq[String] =
    lines.filterNot { l =>
      l.startsWith("#dv\t") && files(l.split("\t")(1))
    }

  /** Entries-per-manifest ceiling before a commit spills its inline
    * data entries into a `_SHARD.*` file — large enough that every
    * test-scale table stays inline (the sharded path has its own
    * gate + spec), small enough that a real 100 TB table's manifests
    * stay O(shards) lines.
    */
  val DefaultShardThreshold: Int = 65536

  private val ShardRef = "@shard\t"
  private val ShardFilePrefix = "_SHARD."

  /** Persisted table-metadata marker `#conf<TAB>shardThreshold<TAB><n>`.
    * Without it the threshold would be a per-WRITE option, and any
    * replace commit (delete / compact / cluster / merge pass
    * fully-RESOLVED lines) would silently re-inline a sharded table's
    * manifest — an O(table-files) manifest rewrite undoing the
    * O(1)-growth shape. The marker rides [[resolved]] and every
    * maintenance op's file-keyed filters untouched, an explicit
    * non-default threshold on a later commit updates it, and the
    * DEFAULT threshold defers to it — "sharded at N" is a property of
    * the TABLE, not of whichever writer committed last.
    */
  private val ConfRef = "#conf\tshardThreshold\t"

  private def confThreshold(lines: Seq[String]): Option[Int] =
    lines.collectFirst {
      case l if l.startsWith(ConfRef) => l.substring(ConfRef.length).toInt
    }

  /** SHALLOW-CLONE parent marker `#parent<TAB><absolute path>` — a
    * cloned table's manifest lists the parent's data/DV/shard file
    * NAMES by reference, and this marker tells every file open where
    * to fall back when a name is not local (clone-of-clone carries
    * the whole chain). Names are job-unique UUIDs, so local-first
    * resolution can never shadow a parent file.
    */
  private val ParentRef = "#parent\t"

  private[v2] def parentsOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(ParentRef)).map(_.substring(ParentRef.length))

  /** Resolve a manifest-listed file name to the directory that
    * actually holds it: the table's own dir first (every file a
    * write under THIS table produced), then the `#parent` chain (a
    * shallow clone's inherited files). A name found nowhere resolves
    * locally so the downstream open fails with the honest
    * no-such-file error — which is exactly what a vacuumed-away
    * parent file must surface as (the Delta shallow-clone caveat:
    * vacuum on the PARENT invalidates clones; the clone's own vacuum
    * only ever deletes local files).
    */
  private def resolveFile(path: String, parents: Seq[String],
      f: String): String = {
    val local = Paths.get(path, f)
    if (parents.isEmpty || Files.exists(local)) local.toString
    else parents.map(p => Paths.get(p, f)).find(Files.exists(_))
      .map(_.toString).getOrElse(local.toString)
  }

  /** CHECK-constraint marker `#check<TAB><name><TAB><sql expr>` —
    * persisted TABLE metadata, like `#conf`: every write that starts
    * after the constraint commit validates each row against the
    * parsed expression and fails the job on a violation (SQL CHECK
    * semantics: only an expression that evaluates to FALSE violates;
    * NULL/unknown passes). Constraints ride every replace op's marker
    * passthrough and are inherited by shallow clones.
    */
  private val CheckRef = "#check\t"

  /** The table's persisted CHECK constraints: (name, sql expression),
    * in manifest order.
    */
  def checksOf(lines: Seq[String]): Seq[(String, String)] =
    lines.filter(_.startsWith(CheckRef)).map { l =>
      val p = l.split("\t", 3)
      (p(1), p(2))
    }

  /** (lines to publish, effective threshold): an explicit non-default
    * parameter wins and persists itself as the table's `#conf` marker;
    * the default defers to the persisted marker. `Int.MaxValue` is the
    * verbatim sentinel ([[rollback]]): publish exactly these lines,
    * never spill, touch no metadata — a restored manifest keeps its
    * own marker byte-identically.
    */
  private def withConf(lines: Seq[String], passed: Int): (Seq[String], Int) =
    if (passed == Int.MaxValue) (lines, passed)
    else {
      val eff =
        if (passed != DefaultShardThreshold) passed
        else confThreshold(lines).getOrElse(DefaultShardThreshold)
      val base = lines.filterNot(_.startsWith(ConfRef))
      if (eff == DefaultShardThreshold) (base, eff)
      else (base :+ s"$ConfRef$eff", eff)
    }

  /** Resolve `@shard<TAB><file>` references to the data entries the
    * shard holds — shard files are immutable and hold ONLY data
    * lines, so resolution is a flatMap; markers (`#txn`, `#dv`) stay
    * inline in the manifest and pass through untouched. Shard names
    * resolve through the `#parent` chain like data files, so a
    * shallow clone carries the parent's shards BY REFERENCE. Full
    * resolution is a READ-path cost (the scan must hold its file
    * list anyway); PLANNERS fold [[foldEntryBatches]] instead — the
    * [[fullResolves]] gauge keeps them honest.
    */
  private def resolved(path: String, lines: Seq[String]): Seq[String] =
    if (!lines.exists(_.startsWith(ShardRef))) lines
    else {
      fullResolves.incrementAndGet()
      val parents = parentsOf(lines)
      lines.flatMap { l =>
        if (l.startsWith(ShardRef))
          readLines(Paths.get(
            resolveFile(path, parents, l.split("\t")(1))))
        else Seq(l)
      }
    }

  /** The shard files a raw manifest references. */
  private def shardsOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(ShardRef)).map(_.split("\t")(1))

  /** Contract-test gauges for the streaming planner: the largest
    * data-entry batch any [[foldEntryBatches]] call held at once
    * (must stay O(shard threshold), never O(#files)), and the count
    * of full-manifest [[resolved]] expansions of SHARDED manifests
    * (a planner that only DECIDES must never pay one). Scoped
    * private[graft] — gauges, NOT public API: state is
    * process-global, so the contract test reads deltas around a
    * single-threaded section (suites run sequentially in the forked
    * test JVM; concurrent sink activity in a production JVM only
    * makes the gauges conservative, never the planner wrong).
    */
  private[graft] val peakEntryBatch =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val fullResolves =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Streaming fold over a raw manifest's DATA entries, one bounded
    * batch at a time: the inline tail first (≤ the shard threshold
    * by the [[spill]] invariant), then each `@shard` file's lines —
    * the planner-side accessor that keeps driver memory
    * O(max batch) instead of O(#files). This is the metadata lesson
    * of the reference's single-point merge
    * (master_splitmerge.go:1): at the 100 TB design point (~1e5
    * right-sized files) the RESOLVED head is the new single-point
    * bottleneck, so OPTIMIZE / compact / vacuum / publish plan from
    * generation-range shards without ever concatenating them.
    */
  private[v2] def foldEntryBatches[A](path: String, raw: Seq[String],
      z: A)(op: (A, Seq[String]) => A): A = {
    val parents = parentsOf(raw)
    def record(n: Int): Unit = {
      var cur = peakEntryBatch.get()
      while (n > cur && !peakEntryBatch.compareAndSet(cur, n))
        cur = peakEntryBatch.get()
    }
    val inline = dataLines(raw)
    record(inline.size)
    var acc = op(z, inline)
    raw.foreach { l =>
      if (l.startsWith(ShardRef)) {
        val batch = readLines(Paths.get(
          resolveFile(path, parents, l.split("\t")(1))))
        record(batch.size)
        acc = op(acc, batch)
      }
    }
    acc
  }

  /** Rebuild a raw manifest WITHOUT the data entries of `drop`,
    * shard by shard: a shard no dropped file lives in carries by
    * reference untouched (zero rewrite — a compaction's smalls
    * cluster in the newest generations' shards, so a 100 TB table's
    * old full-size shards never rewrite); a hit shard spills its
    * survivors to a fresh immutable replacement (the old shard stays
    * for older snapshots until retention + [[vacuum]] reclaim it).
    * `#dv` markers of dropped files go with them. Driver memory
    * stays O(one shard).
    */
  private def dropEntriesStreaming(path: String, raw: Seq[String],
      drop: Set[String]): Seq[String] = {
    val parents = parentsOf(raw)
    raw.flatMap { l =>
      if (l.startsWith(ShardRef)) {
        val batch = readLines(Paths.get(
          resolveFile(path, parents, l.split("\t")(1))))
        val kept = batch.filterNot(e => drop(fileOf(e)))
        if (kept.size == batch.size) Seq(l)
        else if (kept.isEmpty) Seq.empty
        else {
          val name = ShardFilePrefix +
            java.util.UUID.randomUUID().toString.substring(0, 16)
          Files.write(Paths.get(path, name),
            kept.mkString("\n").getBytes(StandardCharsets.UTF_8),
            StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
          Seq(s"$ShardRef$name\t${kept.size}")
        }
      }
      else if (l.startsWith("#dv\t") && drop(l.split("\t")(1))) Seq.empty
      else if (l.nonEmpty && !l.startsWith("#") && drop(fileOf(l)))
        Seq.empty
      else Seq(l)
    }
  }

  /** Spill a manifest's inline data entries into a fresh immutable
    * shard once they exceed `threshold` — the O(1)-growth append
    * step: markers and the parent's existing `@shard` refs stay
    * inline, the new shard absorbs the inline tail.
    */
  private def spill(path: String, lines: Seq[String], threshold: Int)
      : Seq[String] = {
    val (inline, rest) = lines.partition(l =>
      l.nonEmpty && !l.startsWith("#") && !l.startsWith(ShardRef))
    if (inline.size <= threshold) lines
    else {
      val name = ShardFilePrefix +
        java.util.UUID.randomUUID().toString.substring(0, 16)
      Files.write(Paths.get(path, name),
        inline.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      rest :+ s"$ShardRef$name\t${inline.size}"
    }
  }

  private def dataLines(lines: Seq[String]): Seq[String] =
    lines.filter(l =>
      l.nonEmpty && !l.startsWith("#") && !l.startsWith(ShardRef))

  /** Restrict manifest lines to the data entries of `files` plus
    * their `#dv` markers — the sub-manifest every partial read
    * (zonemap-kept files, CDC-changed files, compaction smalls) hands
    * to [[readVisible]] so delete vectors ride along with the files
    * they mask.
    */
  private def restrict(lines: Seq[String], files: Set[String]): Seq[String] =
    lines.filter { l =>
      if (l.startsWith("#dv\t")) files(l.split("\t")(1))
      // a clone's #parent chain must survive into every sub-manifest,
      // or a partial read of inherited files could not resolve them
      else if (l.startsWith(ParentRef)) true
      else if (l.startsWith("#")) false
      else l.nonEmpty && files(fileOf(l))
    }

  private def fileOf(entry: String): String = entry.split("\t")(0)

  private def readLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq

  /** (data files, delete-vector map) of a committed generation — gen 0
    * is the empty store. The streaming tail plans its windows from
    * this; an expired (vacuumed) offset fails loudly rather than
    * silently re-reading the world.
    */
  private[v2] def tailState(path: String, gen: Int)
      : (Set[String], Map[String, (String, Long)], Seq[String]) = {
    if (gen == 0) return (Set.empty, Map.empty, Seq.empty)
    val m = Paths.get(path, s"$VersionPrefix$gen")
    require(Files.exists(m),
      s"no committed generation $gen under $path " +
        s"(have: ${versions(path).mkString(",")}) — an expired offset " +
        "cannot re-plan; reset the stream's checkpoint")
    val lines = resolved(path, readLines(m))
    (dataLines(lines).map(fileOf).toSet, dvOf(lines), parentsOf(lines))
  }

  private[v2] def resolveTailFile(path: String, parents: Seq[String],
      f: String): String = resolveFile(path, parents, f)

  /** Committed generations under `path`, ascending (1-based). */
  def versions(path: String): Seq[Int] = {
    val dir = Paths.get(path)
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .flatMap { n => n match {
          case GenName(g) => Some(g.toInt)
          case _ => None
        }}
        .toSeq.sorted
      finally s.close()
    }
  }

  /** The committed HEAD: (generation, manifest lines) of the newest
    * retained snapshot — the reader-side source of truth under
    * concurrent writers (the live `_MANIFEST` is an advisory pointer
    * refreshed after each commit, racy only cosmetically). Falls back
    * to the legacy live manifest for pre-snapshot directories.
    */
  def head(path: String): (Int, Seq[String]) =
    versions(path).lastOption match {
      case Some(g) => (g, readLines(Paths.get(path, s"$VersionPrefix$g")))
      case None =>
        val live = Paths.get(path, ManifestName)
        if (Files.exists(live)) (0, readLines(live)) else (0, Seq.empty)
    }

  private def readFiles(spark: SparkSession, path: String,
      parents: Seq[String], files: Seq[String], schema: StructType)
      : DataFrame =
    // A committed empty write publishes a manifest listing no files;
    // csv() with an empty path list errors, so honor the visibility
    // contract with an explicitly empty frame instead.
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).option("sep", "\t")
        .csv(files.map(f => resolveFile(path, parents, f)): _*)

  /** The snapshot's VISIBLE rows as raw (`__file`, `value`) text
    * lines: every line of every listed data file, minus the lines
    * each file's delete vector masks. DVs hold deleted line CONTENT —
    * a deterministic predicate matches every copy of an identical
    * line, so content is a position-free exact encoding of the
    * deleted multiset and ONE distributed anti-join applies all
    * vectors (the DV side is small — it lists only deleted rows — so
    * Spark broadcasts it). Both sides are single scans: all data
    * files in one text read, all DV files in another, the dv-file →
    * data-file attribution joined back through the marker map.
    */
  private def visibleLines(spark: SparkSession, path: String,
      lines: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val parents = parentsOf(lines)
    val files = dataLines(lines).map(fileOf)
    if (files.isEmpty)
      return spark.range(0)
        .select(lit("").as("__file"), lit("").as("value"))
    val data = spark.read
      .text(files.map(f => resolveFile(path, parents, f)): _*)
      .select(col("_metadata.file_name").as("__file"), col("value"))
    val dvs = dvOf(lines).filter { case (f, _) => files.contains(f) }
    if (dvs.isEmpty) data
    else {
      import spark.implicits._
      val tag = dvs.toSeq.map { case (f, (dvf, _)) => (dvf, f) }
        .toDF("__dvf", "__file")
      val del = spark.read
        .text(dvs.values.map(v => resolveFile(path, parents, v._1))
          .toSeq.distinct: _*)
        .select(col("_metadata.file_name").as("__dvf"), col("value"))
        .join(broadcast(tag), "__dvf")
        .select("__file", "value")
      // explicit hint: the DV side is bounded by deleted rows (small by
      // the MoR design), but above autoBroadcastJoinThreshold an
      // UNHINTED anti-join would silently degrade to a sort-merge over
      // the full data side — the exact plan the contract forbids
      data.join(broadcast(del), Seq("__file", "value"), "left_anti")
    }
  }

  /** DV-aware parsed read of the files a sub-manifest lists. With no
    * delete vectors this is the plain CSV-source path; with vectors,
    * the raw visible lines parse through `from_csv` — the same
    * Univocity dialect the CSV source uses, so doubles, decimals and
    * Inf/NaN round identically on both paths.
    */
  private def readVisible(spark: SparkSession, path: String,
      lines: Seq[String], schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    if (dvOf(lines).isEmpty)
      readFiles(spark, path, parentsOf(lines), dataLines(lines).map(fileOf),
        schema)
    else
      visibleLines(spark, path, lines)
        .select(from_csv(col("value"), schema, Map("sep" -> "\t")).as("__r"))
        .select(schema.fieldNames.map(n => col(s"__r.$n")).toSeq: _*)
  }

  /** [[readVisible]] keeping the provenance `__file` column — the
    * shape every copy-on-write maintenance op (delete, merge,
    * compact) plans its affected-file set from.
    */
  private def visibleWithFile(spark: SparkSession, path: String,
      lines: Seq[String], schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    if (dvOf(lines).isEmpty)
      readFiles(spark, path, parentsOf(lines), dataLines(lines).map(fileOf),
        schema)
        .withColumn("__file", col("_metadata.file_name"))
        .select((schema.fieldNames.map(col).toSeq :+ col("__file")): _*)
    else
      visibleLines(spark, path, lines)
        .select(col("__file"),
          from_csv(col("value"), schema, Map("sep" -> "\t")).as("__r"))
        .select((schema.fieldNames.map(n => col(s"__r.$n")).toSeq
          :+ col("__file")): _*)
  }

  /** Read a committed sink directory back — ONLY the files listed by
    * the head snapshot, never a directory listing: uncommitted temps
    * and orphans are invisible, which is the sink's visibility
    * contract; rows masked by delete vectors are subtracted on read
    * (merge-on-read). `schema` must match what the writing job
    * serialized (the sink is schema-driven; the default is the
    * declared rollup schema).
    */
  def readBack(spark: SparkSession, path: String,
      schema: StructType = Schema): DataFrame = {
    val (gen, lines) = head(path)
    require(gen > 0 || lines.nonEmpty || Files.exists(
        Paths.get(path, ManifestName)),
      s"no committed manifest under $path")
    readVisible(spark, path, resolved(path, lines), schema)
  }

  /** Read the sink AS OF a committed generation — the same
    * manifest-scoped visibility as [[readBack]], keyed on the
    * retained `_MANIFEST.v<gen>` snapshot instead of the head.
    * Later appends never mutate an existing snapshot, so an AS-OF
    * read is repeatable forever (until retention expires it, which
    * fails loudly here instead of answering wrong).
    */
  def readBackAsOf(spark: SparkSession, path: String, version: Int,
      schema: StructType = Schema): DataFrame = {
    val manifest = Paths.get(path, s"$VersionPrefix$version")
    require(Files.exists(manifest),
      s"no committed generation $version under $path " +
        s"(have: ${versions(path).mkString(",")})")
    readVisible(spark, path, resolved(path, readLines(manifest)), schema)
  }

  // ------------------------------------------------------------------
  // Optimistic-concurrency commit protocol
  // ------------------------------------------------------------------

  /** Test hook: runs ONCE immediately before the next snapshot
    * publish attempt — a spec uses it to interleave a competing
    * writer's full commit between a committer's head read and its
    * CREATE_NEW, forcing the lose-and-retry path deterministically.
    */
  val beforePublish =
    new java.util.concurrent.atomic.AtomicReference[Runnable](null)

  /** Atomic create-if-absent of `_MANIFEST.v<gen>` — THE commit
    * point. Exactly one concurrent committer can win a generation
    * number; everyone else observes `FileAlreadyExistsException` and
    * decides (retry for commutative appends, abort for replaces).
    */
  private def publish(path: String, gen: Int, lines: Seq[String])
      : Boolean = {
    val h = beforePublish.getAndSet(null)
    if (h != null) h.run()
    val bytes = lines.mkString("\n").getBytes(StandardCharsets.UTF_8)
    // CONTENT-atomic claim: the snapshot's bytes land in a hidden temp
    // first, then createLink atomically materializes the final name —
    // it fails with FileAlreadyExistsException if another committer
    // won, and a reader can never observe a created-but-unwritten or
    // truncated snapshot (the torn-manifest hole a plain
    // CREATE_NEW-then-write would open: head() would serve the empty
    // file as committed truth and a retrying loser would merge onto
    // it, silently dropping the winner's files).
    val tmp = Paths.get(path,
      s".$VersionPrefix$gen-claim-${java.util.UUID.randomUUID().toString.substring(0, 8)}")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW,
      StandardOpenOption.WRITE)
    try {
      Files.createLink(Paths.get(path, s"$VersionPrefix$gen"), tmp)
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Refresh the advisory live `_MANIFEST` pointer to the newest
    * snapshot's bytes (atomic temp+rename). Two racing refreshers can
    * momentarily leave it one generation stale — harmless, because
    * every reader and committer resolves through [[head]]; the
    * pointer exists for humans and legacy pre-snapshot dirs.
    */
  private def refreshLive(path: String): Unit =
    versions(path).lastOption.foreach { g =>
      val bytes = Files.readAllBytes(Paths.get(path, s"$VersionPrefix$g"))
      val tmp = Paths.get(path,
        s".$ManifestName-refresh-${java.util.UUID.randomUUID().toString.substring(0, 8)}")
      Files.write(tmp, bytes)
      Files.move(tmp, Paths.get(path, ManifestName),
        StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  /** APPEND-commit `entries` (manifest data lines for already-renamed
    * final part files) on top of whatever head exists at publish
    * time, retrying on contention — appends commute, so the final
    * state equals a serial order regardless of interleaving. (The
    * reference applies the same detect-and-reissue discipline to
    * failed WORKERS — schedule.go:44's failChannel requeue; here the
    * contended resource is the commit slot instead of the worker.)
    *
    * `txn` is an idempotency key: the commit also writes a
    * `#txn<TAB>id` marker line, and a later commit carrying an id the
    * head already holds is SKIPPED (returns -1) — exactly-once for
    * streaming epoch replays.
    *
    * `expectedChecks` (when given) is verified against the SAME head
    * snapshot the publish builds on, INSIDE the CAS loop: if the
    * `#check` constraint set on the head this commit would extend
    * differs from the set the write job validated its rows against,
    * the commit throws instead of publishing — atomically with the
    * publish, so a constraint committed mid-job can never share a
    * history with rows that were never validated against it (a
    * check before the loop would be check-then-act: the set could
    * move between the check and the winning publish).
    *
    * Returns the committed generation, or -1 for an idempotent skip.
    */
  def commitAppend(path: String, entries: Seq[String],
      txn: Option[String] = None,
      shardThreshold: Int = DefaultShardThreshold,
      expectedChecks: Option[Set[(String, String)]] = None): Int = {
    Files.createDirectories(Paths.get(path))
    var attempts = 0
    var out = Int.MinValue
    while (out == Int.MinValue) {
      val (parent, lines0) = head(path)
      // idempotent-replay check FIRST: an epoch the head already
      // holds must skip even if the constraint set moved since — its
      // rows were validated against the set in force when it
      // originally committed, and failing a no-op replay would crash
      // a correct streaming restart
      if (txn.exists(t => lines0.contains(marker(t)))) out = -1
      else {
        expectedChecks.foreach { exp =>
          if (checksOf(lines0).toSet != exp)
            throw new java.util.ConcurrentModificationException(
              s"CHECK constraints changed under $path during the " +
                "write; rerun the job against the new constraint set")
        }
        // raw parent lines: existing @shard refs carry BY REFERENCE —
        // an append above the threshold spills only its own inline
        // tail, so manifest work stays O(new entries), never O(table)
        val (withMeta, eff) =
          withConf(lines0 ++ entries ++ txn.map(marker), shardThreshold)
        val lines = spill(path, withMeta.sorted, eff)
        if (publish(path, parent + 1, lines)) {
          refreshLive(path)
          out = parent + 1
        } else {
          attempts += 1
          require(attempts < 256,
            s"sink commit contention not resolving under $path")
        }
      }
    }
    out
  }

  /** REPLACE-commit: publish `lines` as the complete next manifest,
    * but ONLY if the head is still `expectedParent` — strict
    * compare-and-swap for non-commutative commits (copy-on-write
    * deletes, compactions). A moved head means the files this commit
    * was computed from are no longer the live set; retrying blindly
    * could resurrect deleted rows, so the conflict surfaces loudly
    * and the caller recomputes.
    */
  def commitReplace(path: String, lines: Seq[String],
      expectedParent: Int,
      shardThreshold: Int = DefaultShardThreshold): Int = {
    val gen = expectedParent + 1
    // the CAS must verify the head really is the expected parent, not
    // merely that the target number is unclaimed: after retention
    // expiry deleted _MANIFEST.v<gen>, a stale replacer could
    // otherwise "win" a generation BELOW the live head — reported as
    // committed, invisible to every head() read
    val cur = versions(path).lastOption.getOrElse(0)
    if (cur != expectedParent)
      throw new java.util.ConcurrentModificationException(
        s"head moved: expected generation $expectedParent under $path, " +
          s"found $cur; recompute the replace against the new head")
    val (withMeta, eff) = withConf(lines, shardThreshold)
    if (!publish(path, gen, spill(path, withMeta.sorted, eff)))
      throw new java.util.ConcurrentModificationException(
        s"generation $gen was committed concurrently under $path; " +
          "recompute the replace against the new head")
    refreshLive(path)
    gen
  }

  // ------------------------------------------------------------------
  // Per-file column statistics → zonemap-pruned reads
  // ------------------------------------------------------------------

  /** Parse a manifest data entry's stats segment
    * (`col=min..max;col=min..max`) — empty for zero-row files,
    * absent entirely for pre-stats manifests (both mean "no pruning
    * information: must read the file").
    */
  def statsOf(entry: String): Map[String, (BigDecimal, BigDecimal)] = {
    val parts = entry.split("\t")
    if (parts.length < 3 || parts(2).isEmpty) Map.empty
    else parts(2).split(";").iterator.map { kv =>
      val eq = kv.indexOf('=')
      val range = kv.substring(eq + 1)
      val dd = range.indexOf("..")
      (kv.substring(0, eq),
        (BigDecimal(range.substring(0, dd)),
          BigDecimal(range.substring(dd + 2))))
    }.toMap
  }

  /** Zonemap file pruning: (files whose `[min,max]` for `column`
    * overlaps `[lo,hi]` — plus files carrying no stats, which must be
    * read —, total files listed). The head manifest is the only thing
    * opened; at 100 TB this is the difference between touching every
    * part and touching the handful a selective predicate can hit.
    */
  def filesFor(path: String, column: String, lo: BigDecimal,
      hi: BigDecimal): (Seq[String], Int) = {
    val (kept, total) = entriesFor(path, head(path)._2, column, lo, hi)
    (kept.map(fileOf), total)
  }

  /** [[filesFor]] keeping the full manifest ENTRIES of the kept
    * files (so a sub-manifest assembles without a second pass),
    * streamed in shard-sized batches — the prune itself never holds
    * the resolved head: O(kept) output, O(shard) working memory.
    */
  private def entriesFor(path: String, raw: Seq[String], column: String,
      lo: BigDecimal, hi: BigDecimal): (Seq[String], Int) =
    foldEntryBatches(path, raw, (Vector.empty[String], 0)) {
      case ((kept, n), batch) =>
        (kept ++ batch.filter { e =>
          statsOf(e).get(column) match {
            case Some((mn, mx)) => !(mx < lo || mn > hi)
            case None => true
          }
        }, n + batch.size)
    }

  /** Read only the files a `column BETWEEN lo AND hi` predicate can
    * touch (manifest zonemap pruning), then apply the predicate
    * exactly — content-identical to filtering the full read-back, a
    * fraction of the IO when the layout is range-clustered on
    * `column` (write with `repartitionByRange` to get that).
    */
  def readBackWhere(spark: SparkSession, path: String, column: String,
      lo: BigDecimal, hi: BigDecimal,
      schema: StructType = Schema): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val raw = head(path)._2
    // zonemap stats include later-DV-deleted rows, so the kept set is
    // a superset of what the visible predicate can touch — pruning
    // stays sound under merge-on-read deletes. The sub-manifest
    // assembles from the streamed kept entries + their inline
    // markers; the resolved head never materializes
    val (keptEntries, _) = entriesFor(path, raw, column, lo, hi)
    val keptSet = keptEntries.map(fileOf).toSet
    val subManifest = raw.filter(l =>
      l.startsWith(ParentRef) ||
        (l.startsWith("#dv\t") && keptSet(l.split("\t")(1)))) ++
      keptEntries
    val dt = schema(column).dataType
    readVisible(spark, path, subManifest, schema)
      .filter(col(column) >= lit(lo.underlying).cast(dt)
        && col(column) <= lit(hi.underlying).cast(dt))
  }

  // ------------------------------------------------------------------
  // Bloom file-skipping index (equality predicates)
  // ------------------------------------------------------------------

  /** Bloom index sidecar prefix + its manifest marker
    * `#bloomidx<TAB><col><TAB><file><TAB><bits><TAB><hashes>`. Zonemap
    * min/max stats only prune when the layout is range-clustered on
    * the predicate column; a POINT lookup on a scattered
    * high-cardinality key (the "find this user/doc across the table"
    * shape) touches every file under zonemaps alone. The bloom index
    * is the Delta/Iceberg file-skipping complement: one ~8 KB bitset
    * per data file in ONE parquet sidecar, probed at PLANNING time
    * with a bounded O(#files) driver read — never a data-file open.
    */
  // no leading underscore: Hadoop's hidden-file filter drops `_`/`.`
  // prefixed paths even when named explicitly, so an `_BLOOMIDX.*`
  // sidecar would read back as schema-less (the `dv-*` naming rule)
  private val BloomFilePrefix = "bloomidx-"
  private val BloomRef = "#bloomidx\t"

  private[v2] def bloomOf(lines: Seq[String])
      : Map[String, (String, Int, Int)] =
    lines.iterator.filter(_.startsWith(BloomRef)).map { l =>
      val p = l.split("\t")
      p(1) -> ((p(2), p(3).toInt, p(4).toInt))
    }.toMap

  /** Build (or rebuild) the bloom file-skipping index for `column`:
    * ONE distributed pass over the VISIBLE rows groups per-file
    * bitsets (values are hashed in their STRING form — probe with the
    * same form), the index lands as ONE parquet sidecar adopted under
    * a fresh `_BLOOMIDX.*` name, and the marker swap is a CAS commit
    * carrying the parent's data lines BY REFERENCE (O(1) manifest
    * work, shard refs untouched). Files appended AFTER the build are
    * absent from the sidecar and [[readBackBloomEq]] scans them
    * unconditionally — coverage degrades to a scan, never to a false
    * negative. [[vacuum]] protects every retained generation's
    * sidecar like a DV. Returns the committed generation.
    */
  def buildBloom(spark: SparkSession, path: String, column: String,
      schema: StructType = Schema, numBits: Int = 65536,
      numHashes: Int = 3): Int = {
    import org.apache.spark.sql.functions.col
    val (parent, lines0) = head(path)
    val lines = resolved(path, lines0)
    val idx = visibleWithFile(spark, path, lines, schema)
      .groupBy("__file")
      .agg(graft.functions.BloomFilter.bloom_filter(
        col(column).cast("string"), numBits, numHashes).as("bits"))
    val side = Paths.get(
      graft.TempDirs.create("graft_sink_bloomidx").toString, "out")
    idx.coalesce(1).write.parquet(side.toString)
    val s = Files.list(side)
    val part =
      try s.iterator().asScala.filter(
        _.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    require(part.size == 1,
      s"expected one bloom index part, got ${part.size}")
    val name = BloomFilePrefix +
      java.util.UUID.randomUUID().toString.substring(0, 16) + ".parquet"
    Files.move(part.head, Paths.get(path, name),
      StandardCopyOption.ATOMIC_MOVE)
    commitReplace(path,
      lines0.filterNot(_.startsWith(s"$BloomRef$column\t")) :+
        s"$BloomRef$column\t$name\t$numBits\t$numHashes",
      parent)
  }

  /** The files a `column = value` probe must open: bloom-positive
    * covered files plus every file the index has never seen (post-
    * build appends). Returns (kept, listed) for plan audits.
    */
  def bloomFilesFor(spark: SparkSession, path: String, column: String,
      value: String): (Seq[String], Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val lines0 = head(path)._2
    val files = dataLines(resolved(path, lines0)).map(fileOf)
    bloomOf(lines0).get(column) match {
      case None => (files, files.size)
      case Some((bfile, bits, hashes)) =>
        // bounded driver read: one boolean per indexed file
        val probed = spark.read
          .parquet(resolveFile(path, parentsOf(lines0), bfile))
          .select(col("__file"),
            graft.functions.BloomFilter.bloom_might_contain(
              col("bits"), lit(value), bits, hashes).as("m"))
          .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
        (files.filter(f => probed.getOrElse(f, true)), files.size)
    }
  }

  /** Read only the files a `column = value` point predicate can touch
    * (bloom file-skipping), then apply the predicate exactly —
    * content-identical to filtering the full read-back (no false
    * negatives: a present value's file always probes positive, and
    * unindexed files are always read). The string `value` probes the
    * bitset; the row filter compares in the column's own type.
    */
  def readBackBloomEq(spark: SparkSession, path: String, column: String,
      value: String, schema: StructType = Schema): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val lines = resolved(path, head(path)._2)
    val (files, _) = bloomFilesFor(spark, path, column, value)
    readVisible(spark, path, restrict(lines, files.toSet), schema)
      .filter(col(column) === lit(value).cast(schema(column).dataType))
  }

  // ------------------------------------------------------------------
  // Row-level delete (copy-on-write)
  // ------------------------------------------------------------------

  /** ROW-LEVEL DELETE, copy-on-write: files containing matches are
    * rewritten without the matching rows (through the sink's own
    * serializer, so stats/format stay uniform); untouched files are
    * carried over by reference; the swap commits as ONE
    * compare-and-swap generation ([[commitReplace]]) — so time travel
    * still serves every pre-delete snapshot, and retention expiry +
    * [[vacuum]] later reclaims the replaced files once no retained
    * generation references them. The per-file match count is a
    * bounded driver read (one row per live data file).
    *
    * Returns (rows deleted, files rewritten, committed generation —
    * unchanged head when nothing matched).
    */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
      schema: StructType = Schema): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    val (parent, lines0) = head(path)
    val lines = resolved(path, lines0)
    val entries = dataLines(lines)
    if (entries.isEmpty) return (0L, 0, parent)
    // visible rows only: rows a delete vector already masks neither
    // match again nor survive into the rewrite (the rewrite PURGES
    // the affected files' vectors physically)
    val df = visibleWithFile(spark, path, lines, schema)
    val hits = df.groupBy("__file")
      .agg(sum(when(pred, lit(1L)).otherwise(lit(0L))).as("hits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val affected = entries.map(fileOf).filter(f => hits.getOrElse(f, 0L) > 0L)
    val deleted = affected.map(hits).sum
    if (deleted == 0L) return (0L, 0, parent)
    // survivors of ONLY the affected files rewrite through a side-dir
    // sink append (same TSV serializer, same stats), then move in
    // under their job-unique part names
    val side = graft.TempDirs.create("graft_sink_cow").toString
    df.filter(col("__file").isin(affected: _*) && !pred).drop("__file")
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", side).mode("append").save()
    val sideEntries = adoptSideFiles(side, path)
    // manifest rebuild streams shard-by-shard: shards the delete never
    // touched carry by reference, so the commit's manifest work is
    // O(affected shards), not O(table)
    val newLines =
      dropEntriesStreaming(path, lines0, affected.toSet) ++ sideEntries
    (deleted, affected.size, commitReplace(path, newLines, parent))
  }

  /** ROW-LEVEL DELETE, merge-on-read: instead of rewriting the
    * affected files ([[deleteWhere]]'s copy-on-write), write one
    * DELETE VECTOR per affected file — a sidecar listing the deleted
    * line content — and commit only new `#dv` manifest markers via
    * compare-and-swap. No data file is rewritten or dropped, so the
    * commit costs O(rows deleted) IO regardless of file sizes: the
    * right half of the Delta/Iceberg deletion-vector trade (cheap
    * deletes, a small per-read anti-join) against copy-on-write's
    * cheap reads. A second MoR delete on an already-vectored file
    * replaces its marker with a fresh UNION vector; any later
    * copy-on-write rewrite (delete/merge/compact/cluster) purges the
    * vectors physically and drops the markers. Time travel still
    * serves every pre-delete snapshot — vectors are referenced by
    * marker, and [[vacuum]] protects every retained generation's DV
    * files. Returns (rows deleted, files vectored, committed
    * generation — unchanged head when nothing matched).
    */
  def deleteWhereMor(spark: SparkSession, path: String, pred: Column,
      schema: StructType = Schema): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    val (parent, lines0) = head(path)
    val lines = resolved(path, lines0)
    val entries = dataLines(lines)
    if (entries.isEmpty) return (0L, 0, parent)
    val dvs = dvOf(lines)
    // visible rows carrying their raw line: the vector stores line
    // CONTENT, exact because a deterministic predicate matches every
    // copy of an identical line
    val matched = visibleLines(spark, path, lines)
      .select(Seq(col("__file"), col("value"),
        from_csv(col("value"), schema, Map("sep" -> "\t")).as("__r")) : _*)
      .select(Seq(col("__file"), col("value")) ++
        schema.fieldNames.map(n => col(s"__r.$n")): _*)
      .filter(pred).select("__file", "value").localCheckpoint()
    // bounded driver read: one row per affected file
    val hits = matched.groupBy("__file").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val deleted = hits.values.sum
    if (deleted == 0L) return (0L, 0, parent)
    val affected = entries.map(fileOf).filter(hits.contains)
    // fresh vector per affected file = matched lines ∪ the file's old
    // vector (distinct — old-masked rows were invisible, so the union
    // is disjoint; distinct also collapses duplicate matched copies,
    // which content semantics make redundant)
    val oldDv = affected.filter(dvs.contains)
    val newDv = {
      val m = matched.distinct()
      if (oldDv.isEmpty) m
      else {
        import spark.implicits._
        val tag = oldDv.map(f => (dvs(f)._1, f)).toDF("__dvf", "__file")
        m.unionByName(spark.read
          .text(oldDv.map(f => resolveFile(path, parentsOf(lines),
            dvs(f)._1)).distinct: _*)
          .select(col("_metadata.file_name").as("__dvf"), col("value"))
          .join(broadcast(tag), "__dvf").select("__file", "value"))
          .distinct()
      }
    }
    // ONE distributed job writes every vector: partitioned text write
    // (a file's lines land in a single task → a single part), then
    // per-file adoption under job-unique names — no driver-side data
    // write under a fresh subdir: the datasource writer refuses a
    // pre-existing path, and TempDirs.create makes one
    val dvRoot = graft.TempDirs.create("graft_sink_dv")
    val dvDir = dvRoot.resolve("out").toString
    newDv.repartition(col("__file"))
      .write.partitionBy("__file").text(dvDir)
    val jobTag = java.util.UUID.randomUUID().toString.substring(0, 8)
    val markers = affected.zipWithIndex.map { case (f, i) =>
      // the partitioned writer URL-escapes partition VALUES in its
      // directory names (space, '%', ':', …); reconstruct through the
      // SAME encoder, or an adopted data-file name carrying one of
      // those characters would make the Files.list below throw
      // NoSuchFileException mid-commit
      val pdir = Paths.get(dvDir, "__file=" + org.apache.spark.sql
        .catalyst.catalog.ExternalCatalogUtils.escapePathName(f))
      val s = Files.list(pdir)
      val parts =
        try s.iterator().asScala.filter(
          _.getFileName.toString.startsWith("part-")).toSeq
        finally s.close()
      require(parts.size == 1,
        s"expected one delete-vector part for $f, got ${parts.size}")
      val dvName = s"dv-$jobTag-$i.tsv"
      Files.move(parts.head, Paths.get(path, dvName),
        StandardCopyOption.ATOMIC_MOVE)
      dvMarker(f, dvName,
        hits(f) + dvs.get(f).map(_._2).getOrElse(0L))
    }
    graft.TempDirs.delete(dvRoot.toString) // every vector is adopted
    // MoR never drops data entries — only the affected files' #dv
    // markers swap (inline), so raw lines keep every shard ref as-is
    val newLines = dropDvFor(lines0, affected.toSet) ++ markers
    (deleted, affected.size, commitReplace(path, newLines, parent))
  }

  /** Adopt a side-directory sink write's committed parts into `path`:
    * move every head-listed part in under its job-unique name (atomic,
    * refuses to clobber) and hand back the manifest entries — the
    * shared rewrite step of every copy-on-write maintenance commit
    * (delete, compact, cluster, merge). The emptied side dir goes.
    */
  private def adoptSideFiles(side: String, path: String): Seq[String] = {
    val entries = dataLines(resolved(side, head(side)._2))
    entries.foreach { e =>
      Files.move(Paths.get(side, fileOf(e)), Paths.get(path, fileOf(e)),
        StandardCopyOption.ATOMIC_MOVE)
    }
    graft.TempDirs.delete(side)
    entries
  }

  /** COMPACTION: bin-pack the head's small files (listed rows <
    * `targetRows` — planned from the manifest alone, no file opens)
    * into ~targetRows parts via ONE rewrite job, carry the already-
    * large files by reference, and swap with ONE compare-and-swap
    * generation. Content-invariant (the gate hashes it); time travel
    * still serves the pre-compaction layout; retention expiry +
    * [[vacuum]] reclaims the replaced smalls. The small-file problem
    * is THE steady-state cost of streaming/epoch appends at 100 TB —
    * this is the maintenance loop that keeps reads O(right-sized
    * files). Returns (files before, files after, generation).
    */
  def compact(spark: SparkSession, path: String, targetRows: Long,
      schema: StructType = Schema): (Int, Int, Int) = {
    val (parent, raw) = head(path)
    // STREAMING pre-flight: one generation-range pass over the
    // manifest's entry batches collects ONLY the small files (the
    // rewrite's inherent working set) — never the resolved head,
    // which at the 100 TB design point is the driver's ceiling
    val (nEntries, smallRev) =
      foldEntryBatches(path, raw, (0, List.empty[String])) {
        case ((n, acc), batch) =>
          (n + batch.size, batch.foldLeft(acc)((a, e) =>
            if (e.split("\t")(1).toLong < targetRows) e :: a else a))
      }
    val small = smallRev.reverse
    if (small.size <= 1) return (nEntries, nEntries, parent)
    val totalRows = small.map(_.split("\t")(1).toLong).sum
    val nBins = math.max(1,
      math.ceil(totalRows.toDouble / targetRows).toInt)
    val side = graft.TempDirs.create("graft_sink_compact").toString
    val smallSet = small.map(fileOf).toSet
    // visible rows only: compacting a delete-vectored small file
    // purges its vector physically (marker dropped below). The
    // sub-manifest is assembled from the collected small entries plus
    // their inline markers — no full resolution
    val subManifest = raw.filter(l =>
      l.startsWith(ParentRef) ||
        (l.startsWith("#dv\t") && smallSet(l.split("\t")(1)))) ++ small
    readVisible(spark, path, subManifest, schema)
      .repartition(nBins)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", side).mode("append").save()
    val sideEntries = adoptSideFiles(side, path)
    val newLines =
      dropEntriesStreaming(path, raw, smallSet) ++ sideEntries
    val gen = commitReplace(path, newLines, parent)
    (nEntries, nEntries - small.size + sideEntries.size, gen)
  }

  /** CLUSTERING maintenance: rewrite the ENTIRE live content
    * range-clustered on `column` (`repartitionByRange` into `nFiles`
    * parts, so each part owns a disjoint range and its manifest
    * min/max stats are tight), committed as ONE compare-and-swap
    * generation. This is what turns an append-scrambled table — every
    * file spanning the full key range, zonemap useless — into one
    * where [[readBackWhere]] actually skips files. Returns the
    * committed generation.
    */
  def cluster(spark: SparkSession, path: String, column: String,
      nFiles: Int, schema: StructType = Schema): Int =
    clusterByExpr(spark, path,
      org.apache.spark.sql.functions.col(column), nFiles, schema)

  /** Cluster on a COMPUTED key (e.g. a Morton/Z-order interleave of
    * two columns): the key orders the rewrite, the manifest stats
    * stay per-RAW-column — so a space-filling-curve key makes the
    * zonemap prune on EVERY interleaved dimension at once.
    */
  def clusterByExpr(spark: SparkSession, path: String, key: Column,
      nFiles: Int, schema: StructType = Schema): Int = {
    val (parent, raw) = head(path)
    val side = graft.TempDirs.create("graft_sink_cluster").toString
    // a full rewrite purges every delete vector physically; the READ
    // resolves (the scan must hold its file list), but the new
    // manifest is just the raw MARKERS (minus every #dv — all vectors
    // pointed at replaced files) + the side entries: old data lines
    // and shard refs fall out wholesale, O(inline + shards) work
    readVisible(spark, path, resolved(path, raw), schema)
      .repartitionByRange(nFiles, key)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", side).mode("append").save()
    val sideEntries = adoptSideFiles(side, path)
    commitReplace(path,
      raw.filter(l => l.startsWith("#") && !l.startsWith("#dv\t")) ++
        sideEntries,
      parent)
  }

  // ------------------------------------------------------------------
  // OPTIMIZE planner — the maintenance twin of q_join_preflight
  // ------------------------------------------------------------------

  /** More live files than this and the table is in the small-file
    * regime: OPTIMIZE picks compaction first (a file-count stand-in
    * for the byte-sized budget a production table property carries —
    * the JoinPlanner.BroadcastRowLimit convention).
    */
  val CompactFileBudget = 16

  /** A declared access dimension whose files span, on average, more
    * than this fraction of the global range is DISPERSED: the zonemap
    * prunes nothing and the table needs (re-)clustering. Scrambled
    * layouts read ≈ 1.0 here, freshly range-clustered ones ≈ 1/nFiles
    * — the threshold sits far from both.
    */
  val DispersionThreshold = 0.5

  final case class OptimizeReport(decision: String, nFilesBefore: Int,
      dispersed: Boolean, generation: Int)

  /** OPTIMIZE (`q_sink_optimize`): ONE bounded head-manifest read
    * computes the table's layout health — live file count and, per
    * declared access dimension in `dims`, the average zonemap
    * span-fraction — then picks the maintenance action from a pinned
    * decision matrix and EXECUTES it:
    *
    *   - `nFiles > CompactFileBudget`            → COMPACT ([[compact]])
    *   - dispersed on ≥ 2 declared dims          → Z-ORDER
    *     ([[clusterByExpr]] on the Morton interleave, dims shifted
    *     into 11 bits off the manifest's own global stats)
    *   - dispersed on 1 declared dim             → CLUSTER ([[cluster]])
    *   - otherwise                               → NONE (no commit —
    *     rewriting a healthy table is the failure mode OPTIMIZE
    *     exists to avoid)
    *
    * The planner never touches data to DECIDE — at 100 TB the whole
    * pre-flight is an O(#files) manifest scan on the driver, and the
    * decision is reproduced by the gate as a SQL CASE over the same
    * inputs, so a wrong branch hash-fails. `dims` is the table's
    * declared clustering-dimension list (the Delta/Iceberg
    * table-property shape); numeric dims only for the z-order leg.
    */
  def optimize(spark: SparkSession, path: String, dims: Seq[String],
      targetFiles: Int = 8, schema: StructType = Schema): OptimizeReport = {
    val (parent, raw) = head(path)
    // STREAMING decide: two generation-range passes over the entry
    // batches — pass 1 the per-dim global extremes + counts + total
    // rows, pass 2 the span fractions against the pass-1 widths —
    // never the resolved head (O(#files) driver lines at 100 TB)
    var nFiles = 0
    var totalRows = 0L
    val loB = scala.collection.mutable.Map.empty[String, BigDecimal]
    val hiB = scala.collection.mutable.Map.empty[String, BigDecimal]
    val statCnt = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    foldEntryBatches(path, raw, ()) { (_, batch) =>
      batch.foreach { e =>
        nFiles += 1
        totalRows += e.split("\t")(1).toLong
        val st = statsOf(e)
        dims.foreach { d =>
          st.get(d).foreach { case (mn, mx) =>
            statCnt(d) += 1
            loB(d) = loB.get(d).fold(mn)(_.min(mn))
            hiB(d) = hiB.get(d).fold(mx)(_.max(mx))
          }
        }
      }
    }
    val widths = dims.flatMap(d =>
      loB.get(d).map(l => d -> (hiB(d) - l))).toMap
    val fracSum = scala.collection.mutable.Map
      .empty[String, BigDecimal].withDefaultValue(BigDecimal(0))
    if (widths.values.exists(_.signum != 0))
      foldEntryBatches(path, raw, ()) { (_, batch) =>
        batch.foreach { e =>
          val st = statsOf(e)
          dims.foreach { d =>
            widths.get(d).foreach { w =>
              if (w.signum != 0)
                st.get(d).foreach { case (mn, mx) =>
                  fracSum(d) += (mx - mn) / w
                }
            }
          }
        }
      }
    def avgSpanFrac(dim: String): Double = {
      if (statCnt(dim) == 0) 1.0 // no stats anywhere: assume dispersed
      else {
        // a file that carries NO zonemap for the dim counts as fully
        // dispersed (frac 1.0) — dropping it from the average would
        // let a mostly-stats-less store read as healthy off a tiny
        // stats-bearing minority
        val missing = (nFiles - statCnt(dim)).toDouble
        if (widths(dim).signum == 0) missing / nFiles
        else (fracSum(dim).toDouble + missing) / nFiles
      }
    }
    val dispersed =
      dims.nonEmpty && nFiles > 0 &&
        dims.map(avgSpanFrac).max > DispersionThreshold
    val decision =
      // an empty table has nothing to lay out — "no stats" must not
      // read as "dispersed" and trigger a pointless rewrite commit
      if (nFiles == 0) "none"
      else if (nFiles > CompactFileBudget) "compact"
      else if (dispersed && dims.size >= 2) "zorder"
      else if (dispersed) "cluster"
      else "none"
    val gen = decision match {
      case "compact" =>
        compact(spark, path,
          math.max(1L, (totalRows + targetFiles - 1) / targetFiles),
          schema)._3
      case "zorder" =>
        // dim shifts into 11 bits from the manifest's OWN global max —
        // still zero data reads to plan
        def shiftFor(dim: String): Int = {
          val mx = hiB(dim).toLong
          math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(mx) - 11)
        }
        import org.apache.spark.sql.functions.{col, shiftright}
        val Seq(d1, d2) = dims.take(2)
        clusterByExpr(spark, path,
          graft.operators.Layout.mortonZ(
            shiftright(col(d1), shiftFor(d1)),
            shiftright(col(d2), shiftFor(d2))),
          targetFiles, schema)
      case "cluster" => cluster(spark, path, dims.head, targetFiles, schema)
      case _ => parent
    }
    OptimizeReport(decision, nFiles, dispersed, gen)
  }

  /** MERGE (upsert), committed: rows of `updates` REPLACE same-`key`
    * rows in the store, keys the store has never seen APPEND — the
    * Delta/Iceberg MERGE INTO shape in the sink's own terms.
    * Copy-on-write like [[deleteWhere]]: only files holding a matched
    * key rewrite (their unmatched rows survive alongside ALL update
    * rows in the rewrite job), untouched files carry by reference,
    * and the whole merge is ONE compare-and-swap generation — readers
    * see pre- or post-merge state, never a mix. `updates` must be
    * key-unique (checked loudly with one bounded aggregate: two rows
    * for one key would make the merged state order-dependent).
    * Returns (rows replaced, rows inserted, committed generation).
    */
  def mergeUpsert(spark: SparkSession, path: String, updates: DataFrame,
      key: String, schema: StructType = Schema): (Long, Long, Int) = {
    import org.apache.spark.sql.functions._
    val u = updates.localCheckpoint()
    val dup = u.agg((count(lit(1)) - countDistinct(col(key))).as("d"))
      .first().getLong(0)
    require(dup == 0L, s"updates carry $dup duplicate '$key' rows")
    val (parent, lines0) = head(path)
    val lines = resolved(path, lines0)
    val entries = dataLines(lines)
    val base = visibleWithFile(spark, path, lines, schema)
    val keys = u.select(col(key))
    // bounded driver reads: one row per live data file + two scalars
    val hitByFile = base.join(keys, key, "left_semi")
      .groupBy("__file").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val affected = entries.map(fileOf).filter(f => hitByFile.contains(f))
    val replaced = hitByFile.values.sum
    val inserted = u.join(
        base.select(col(key)).distinct(), Seq(key), "left_anti")
      .count()
    val side = graft.TempDirs.create("graft_sink_merge").toString
    val survivors =
      if (affected.isEmpty)
        base.filter(lit(false)).drop("__file")
      else base.filter(col("__file").isin(affected: _*))
        .join(keys, Seq(key), "left_anti").drop("__file")
    survivors.unionByName(u.select(schema.fieldNames.map(col): _*))
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", side).mode("append").save()
    val sideEntries = adoptSideFiles(side, path)
    val gen = commitReplace(path,
      dropEntriesStreaming(path, lines0, affected.toSet) ++ sideEntries,
      parent)
    (replaced, inserted, gen)
  }

  /** SCHEMA EVOLUTION read: the sink is schema-driven and positional
    * (TSV), so evolution means APPENDING columns — newer files carry
    * more fields, older files' missing trailing fields surface as
    * null under the evolved schema (the CSV reader's PERMISSIVE
    * contract), and per-column `defaults` normalize them. Old readers
    * keep working too (extra trailing fields are ignored under the
    * old schema) — the two-way compatibility a long-lived 100 TB
    * store needs across producer upgrades.
    */
  def readBackEvolved(spark: SparkSession, path: String,
      schema: StructType, defaults: Map[String, Column]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    defaults.foldLeft(readBack(spark, path, schema)) {
      case (df, (c, d)) => df.withColumn(c, coalesce(col(c), d))
    }
  }

  /** INCREMENTAL READ (CDC): the row-level changes between two
    * committed generations, computed from the MANIFEST DELTA — files
    * carried by reference between the snapshots contribute NOTHING,
    * so the cost scales with what changed, not with the table (the
    * whole point of consuming a 100 TB store incrementally). Rows of
    * files the newer snapshot added, minus rows of files it removed,
    * cancel multiset-wise: a copy-on-write rewrite's survivors vanish,
    * leaving exactly the inserted rows (action `insert`) and the
    * deleted/replaced-away rows (action `delete`); an upsert surfaces
    * as delete(old) + insert(new). Both diffs are distributed
    * `exceptAll`s over the changed files only.
    */
  def readChanges(spark: SparkSession, path: String, fromGen: Int,
      toGen: Int, schema: StructType = Schema): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromGen < toGen, s"need fromGen < toGen, got $fromGen..$toGen")
    def linesOf(g: Int): Seq[String] = {
      val m = Paths.get(path, s"$VersionPrefix$g")
      require(Files.exists(m),
        s"no committed generation $g under $path " +
          s"(have: ${versions(path).mkString(",")})")
      resolved(path, readLines(m))
    }
    val fromLines = linesOf(fromGen)
    val toLines = linesOf(toGen)
    val from = dataLines(fromLines).map(fileOf).toSet
    val to = dataLines(toLines).map(fileOf).toSet
    // a file counts as changed if it entered/left the list OR its
    // delete-vector marker moved (a merge-on-read delete changes rows
    // without touching the file list); carried files with unchanged
    // vectors still contribute nothing — the cost stays proportional
    // to what changed
    val dvFrom = dvOf(fromLines)
    val dvTo = dvOf(toLines)
    val changed = ((to -- from) ++ (from -- to)) ++
      (from & to).filter(f => dvFrom.get(f) != dvTo.get(f))
    val added = readVisible(spark, path,
      restrict(toLines, to & changed), schema)
    val removed = readVisible(spark, path,
      restrict(fromLines, from & changed), schema)
    added.exceptAll(removed).withColumn("action", lit("insert"))
      .unionByName(
        removed.exceptAll(added).withColumn("action", lit("delete")))
  }

  /** DESCRIBE HISTORY: one row per retained generation, computed from
    * the manifests alone (no data file opens) — generation number,
    * visible rows, rows added/removed vs the parent generation (NULL
    * for the oldest retained generation when its parent was expired:
    * attributing its whole content as an append would falsify the
    * audit trail), files listed, and txn markers carried. The
    * observability surface every audit of an
    * append/delete/compact/merge trail starts from.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val raws = versions(path).map(g =>
      (g, readLines(Paths.get(path, s"$VersionPrefix$g"))))
    // TWO REGIMES, one contract: a table that never sharded has
    // every manifest inline — ≤ the shard threshold lines by the
    // [[spill]] invariant — so driver accounting is bounded and
    // cheap. A SHARDED table (the 100 TB regime) is exactly where
    // per-generation file lists stop fitting the driver, so the
    // accounting goes DISTRIBUTED: shard files read through Spark,
    // deltas via a generation-shifted join — the metadata plane
    // processed like the data plane.
    if (raws.forall(!_._2.exists(_.startsWith(ShardRef))))
      historyInline(spark, raws)
    else historySharded(spark, path, raws)
  }

  private def historyInline(spark: SparkSession,
      raws: Seq[(Int, Seq[String])]): DataFrame = {
    // accounting is in VISIBLE rows per file (listed minus delete-
    // vectored): a merge-on-read delete surfaces as rows_removed even
    // though the file list is unchanged, and a rewritten DV'd file's
    // removal is not overstated by its already-masked rows
    def visMap(lines: Seq[String]): Map[String, Long] = {
      val dv = dvOf(lines)
      dataLines(lines).map { e =>
        val f = fileOf(e)
        f -> (e.split("\t")(1).toLong - dv.get(f).map(_._2).getOrElse(0L))
      }.toMap
    }
    // only cur + prev live at once — never every generation's map
    var prevMap: Map[String, Long] = Map.empty
    val out = raws.zipWithIndex.map { case ((g, lines), i) =>
      val cur = visMap(lines)
      // deltas are only knowable against a PRESENT parent: gen 1's
      // parent is the empty store; an expired parent means unknown
      val prev: Option[Map[String, Long]] =
        if (i > 0) Some(prevMap)
        else if (g == 1) Some(Map.empty[String, Long])
        else None
      val addedRows = prev.map(pr => cur.iterator.map { case (f, n) =>
        math.max(0L, n - pr.getOrElse(f, 0L))
      }.sum)
      val removedRows = prev.map(pr => pr.iterator.map { case (f, n) =>
        math.max(0L, n - cur.getOrElse(f, 0L))
      }.sum)
      prevMap = cur
      (g.toLong, cur.values.sum, addedRows, removedRows,
        cur.size.toLong, lines.count(_.startsWith("#txn\t")).toLong)
    }
    import spark.implicits._
    out.toDF("generation", "n_rows", "rows_added", "rows_removed",
      "n_files", "n_txn")
  }

  /** DESCRIBE HISTORY for the sharded regime: per generation the
    * driver holds only the RAW manifest (O(inline + shards) lines);
    * the per-file visible-row accounting runs in Spark over the
    * shard files themselves, and the add/remove deltas come from a
    * full-outer join of each generation's file set with its retained
    * parent's. At 1e5 files × many retained generations nothing of
    * that size ever sits on the driver.
    */
  private def historySharded(spark: SparkSession, path: String,
      raws: Seq[(Int, Seq[String])]): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vs = raws.map(_._1)
    val spine = raws.zipWithIndex.map { case ((g, raw), i) =>
      (g.toLong, raw.count(_.startsWith("#txn\t")).toLong,
        if (i > 0) "known" else if (g == 1) "empty" else "unknown")
    }.toDF("generation", "n_txn", "parent_kind")
    // shard files carry the entry lists; hard-link them under
    // non-underscore names (Hadoop's hidden-file filter drops
    // `_SHARD.*` paths even when named explicitly) and read them
    // through Spark — a shard two generations share is read ONCE and
    // attributed to both via the tiny (link, generation) table
    val linkDir = graft.TempDirs.create("graft_sink_history")
    val refs: Seq[(Long, String)] = raws.flatMap { case (g, raw) =>
      val parents = parentsOf(raw)
      shardsOf(raw).map(s => (g.toLong, resolveFile(path, parents, s)))
    }
    val linkOf = refs.map(_._2).distinct.zipWithIndex.map {
      case (p, i) =>
        val name = s"shard-$i.tsv"
        val link = linkDir.resolve(name)
        try Files.createLink(link, Paths.get(p))
        catch { // cross-device: shards are bounded, copying is fine
          case _: Exception => Files.copy(Paths.get(p), link)
        }
        p -> name
    }.toMap
    val linkGen = refs.map { case (g, p) => (linkOf(p), g) }
      .toDF("__ln", "generation")
    val shardEntries =
      spark.read.text(linkOf.values.map(n =>
          linkDir.resolve(n).toString).toSeq: _*)
        .select(col("_metadata.file_name").as("__ln"), col("value"))
        .join(broadcast(linkGen), "__ln")
        .select(col("generation"), col("value").as("entry"))
    // inline tails are ≤ the shard threshold per generation by the
    // spill invariant — bounded, so they parallelize from the driver
    val inline = raws.flatMap { case (g, raw) =>
      dataLines(raw).map(e => (g.toLong, e))
    }.toDF("generation", "entry")
    val dv = raws.flatMap { case (g, raw) =>
      dvOf(raw).iterator.map { case (f, (_, n)) => (g.toLong, f, n) }
    }.toDF("generation", "file", "dv_rows")
    val perFile = shardEntries.unionByName(inline)
      .select(col("generation"),
        split(col("entry"), "\t").getItem(0).as("file"),
        split(col("entry"), "\t").getItem(1).cast("long").as("rows"))
      .join(dv, Seq("generation", "file"), "left")
      .select(col("generation"), col("file"),
        (col("rows") - coalesce(col("dv_rows"), lit(0L))).as("vis"))
    val base = perFile.groupBy("generation").agg(
      sum(col("vis")).as("b_rows"), count(lit(1)).as("b_files"))
    val prevDF = vs.zipWithIndex.collect {
      case (g, i) if i > 0 => (g.toLong, vs(i - 1).toLong)
    }.toDF("generation", "pg")
    val curSide = perFile.join(broadcast(prevDF), Seq("generation"))
      .select(col("generation"), col("file"), col("vis"))
    val prevSide = broadcast(prevDF)
      .join(perFile.select(col("generation").as("pg"), col("file"),
        col("vis").as("pvis")), Seq("pg"))
      .select(col("generation"), col("file"), col("pvis"))
    val diff = curSide.join(prevSide, Seq("generation", "file"), "full")
      .groupBy("generation").agg(
        sum(greatest(coalesce(col("vis"), lit(0L)) -
          coalesce(col("pvis"), lit(0L)), lit(0L))).as("d_add"),
        sum(greatest(coalesce(col("pvis"), lit(0L)) -
          coalesce(col("vis"), lit(0L)), lit(0L))).as("d_rem"))
    spine.join(base, Seq("generation"), "left")
      .join(diff, Seq("generation"), "left")
      .select(col("generation"),
        coalesce(col("b_rows"), lit(0L)).as("n_rows"),
        when(col("parent_kind") === "empty",
          coalesce(col("b_rows"), lit(0L)))
          .when(col("parent_kind") === "known",
            coalesce(col("d_add"), lit(0L))).as("rows_added"),
        when(col("parent_kind") === "empty", lit(0L))
          .when(col("parent_kind") === "known",
            coalesce(col("d_rem"), lit(0L))).as("rows_removed"),
        coalesce(col("b_files"), lit(0L)).as("n_files"),
        col("n_txn"))
      .orderBy(col("generation"))
  }

  /** ROLLBACK (RESTORE): publish a NEW generation whose manifest is a
    * verbatim copy of retained generation `toGen`'s — the
    * Delta/Iceberg RESTORE shape. Data files carry by reference (while
    * `toGen` is retained, [[vacuum]] protects every file it lists, so
    * nothing needs copying); the bad generations stay in history for
    * audit and time travel; and the restore itself is a strict
    * compare-and-swap ([[commitReplace]]) that refuses to publish over
    * a head that moved since the caller decided to restore. Verbatim
    * includes `toGen`'s txn ledger: epochs committed AFTER `toGen`
    * lose their idempotency markers along with their data, so a
    * streaming replay re-delivers exactly what the restore
    * un-committed — at-least-once across a restore, never silent loss.
    * Restoring a generation that retention already expired fails
    * loudly here (its file set may be gone), same contract as an
    * expired as-of read. Returns the committed generation.
    */
  def rollback(path: String, toGen: Int): Int = {
    val (parent, _) = head(path)
    require(toGen != parent,
      s"generation $toGen is already the head of $path")
    val m = Paths.get(path, s"$VersionPrefix$toGen")
    require(Files.exists(m),
      s"no committed generation $toGen under $path " +
        s"(have: ${versions(path).mkString(",")})")
    commitReplace(path, readLines(m), parent, Int.MaxValue)
  }

  // ------------------------------------------------------------------
  // Shallow clone (zero-copy CREATE TABLE ... CLONE)
  // ------------------------------------------------------------------

  /** SHALLOW CLONE: publish a NEW table at `clonePath` whose first
    * generation lists the parent head's data files, delete vectors
    * and bloom sidecars BY NAME — zero data bytes copied, O(manifest)
    * work (the Delta `CREATE TABLE ... SHALLOW CLONE` shape). The
    * clone then evolves INDEPENDENTLY: its appends/deletes/compactions
    * write local files and never touch the parent; CoW rewrites
    * progressively localize it. Reads resolve inherited names through
    * the `#parent` chain (clone-of-clone carries the whole chain), so
    * a clone costs nothing until it diverges.
    *
    * Inherited: the parent's resolved file list, DV markers, `#conf`
    * shard threshold, `#check` constraints, bloom markers. NOT
    * inherited: the parent's `#txn` ledger (a clone is a new table —
    * the parent's streaming epochs must not suppress the clone's own
    * appends), the parent's `#tag` refs (their generation numbers
    * index the parent's history, meaningless on the clone's own
    * generation line) and the parent's history (the clone starts at
    * generation 1).
    *
    * CAVEAT (same as Delta): `vacuum` on the PARENT may reclaim files
    * the clone still references; those clone reads then fail loudly
    * with no-such-file. The clone's own vacuum only ever deletes
    * files under the clone's directory, so it can never hurt the
    * parent. Returns the clone's committed generation (always 1).
    */
  /** `#parentgen<TAB><gen>` — the parent generation a shallow clone
    * was taken from: [[publishClone]]'s fast-forward precondition.
    */
  private val ParentGenRef = "#parentgen\t"

  private def parentGenOf(lines: Seq[String]): Option[Int] =
    lines.collectFirst {
      case l if l.startsWith(ParentGenRef) =>
        l.substring(ParentGenRef.length).toInt
    }

  def cloneShallow(parentPath: String, clonePath: String): Int = {
    val (pGen, pLines0) = head(parentPath)
    require(pGen > 0 || pLines0.nonEmpty,
      s"nothing committed under $parentPath to clone")
    Files.createDirectories(Paths.get(clonePath))
    require(versions(clonePath).isEmpty &&
        !Files.exists(Paths.get(clonePath, ManifestName)),
      s"$clonePath already holds a committed table")
    val parentAbs =
      Paths.get(parentPath).toAbsolutePath.normalize.toString
    // local-first resolution order: this parent, then ITS chain
    val chain = (parentAbs +: parentsOf(pLines0)).distinct
    // NOT inherited alongside #txn: the parent's #tag markers — a
    // tag's generation number indexes the PARENT's history, so on the
    // clone it would resolve against the clone's own generations
    // (wrong snapshot, or a no-such-generation failure) and exempt
    // the wrong numbers from the clone's vacuum.
    // RAW parent lines: the parent's `@shard` refs carry BY
    // REFERENCE through the `#parent` chain like data files, so a
    // clone of a 100 TB table is O(inline + shards) manifest lines —
    // zero-copy for the metadata plane too, the same caveat as data
    // (vacuum on the parent invalidates clones)
    val lines = pLines0.filterNot(l =>
      l.startsWith("#txn\t") || l.startsWith(TagRef) ||
        l.startsWith(ParentRef) ||
        l.startsWith(ParentGenRef)) ++
      chain.map(p => s"$ParentRef$p") :+ s"$ParentGenRef$pGen"
    val (withMeta, eff) = withConf(lines, DefaultShardThreshold)
    if (!publish(clonePath, 1, spill(clonePath, withMeta.sorted, eff)))
      throw new FileAlreadyExistsException(
        s"$clonePath was committed concurrently")
    refreshLive(clonePath)
    1
  }

  /** PUBLISH A CLONE back onto its parent — the BRANCH leg of
    * write-audit-publish (the Iceberg WAP workflow on the sink's own
    * terms): stage every change on a [[cloneShallow]] branch, audit
    * the staged TABLE with full query power (not just the incoming
    * batch — cross-batch invariants, joins against history, anything
    * [[readBack]] can ask), then FAST-FORWARD the parent to the
    * branch state in ONE CAS commit. The precondition is strict: the
    * parent head must still be the generation the clone was taken
    * from (`#parentgen`) — a moved parent means the branch no longer
    * fast-forwards and the caller must rebase (re-clone), surfaced
    * loudly, never merged silently.
    *
    * Mechanics: branch-LOCAL files (appends, CoW rewrites, DV
    * sidecars, bloom sidecars written on the branch) move into the
    * parent directory under their job-unique names; files the branch
    * still carries by reference already live there. The published
    * manifest is the branch head minus its `#parent`/`#parentgen`
    * chain entries for THIS parent (a grandparent chain survives —
    * clone-of-clone publishes keep resolving). The branch is
    * CONSUMED: its manifests stay for audit but its local files have
    * moved. Returns the parent's committed generation.
    */
  /** Test-only race injection: runs between staging a `.adopt-*`
    * temp and its atomic move (the race spec simulates a concurrent
    * vacuum sweeping the unreferenced temp). No-op in production.
    */
  private[graft] var adoptRaceHook: Path => Unit = _ => ()

  def publishClone(parentPath: String, clonePath: String): Int = {
    val (pGen, _) = head(parentPath)
    val cRaw = head(clonePath)._2
    val recorded = parentGenOf(cRaw).getOrElse(
      throw new IllegalArgumentException(
        s"$clonePath carries no #parentgen marker — not a clone"))
    if (pGen != recorded)
      throw new java.util.ConcurrentModificationException(
        s"parent $parentPath moved to generation $pGen since the " +
          s"branch was taken at $recorded; re-clone and replay")
    val parentAbs =
      Paths.get(parentPath).toAbsolutePath.normalize.toString
    // adopt branch-local files by COPY, not move: until commitReplace
    // succeeds the branch directory must keep the ONLY authoritative
    // copy of its staged data — a move followed by a failed CAS would
    // leave the files unreferenced in the parent, where a later
    // vacuum(parent) silently destroys them (UUID/job-tagged names
    // cannot clobber; REPLACE_EXISTING makes a crashed earlier
    // attempt's identical leftover harmless). Names STREAM in
    // shard-sized batches and only locally-present ones copy, so the
    // publish costs O(branch divergence) — names the branch merely
    // inherits (data files AND shards living in the parent dir)
    // contribute one existence check each, never a copy
    val staged = scala.collection.mutable.ArrayBuffer
      .empty[(Path, Path)]
    def adopt(f: String): Unit = {
      val local = Paths.get(clonePath, f)
      if (Files.exists(local)) {
        val target = Paths.get(parentPath, f)
        // copy to a hidden temp, then ATOMIC_MOVE over the target: a
        // direct REPLACE_EXISTING copy unlinks the target BEFORE
        // reading a source a racing winner may be deleting right now
        // (it reclaims branch-local copies after its commit) — a
        // mid-copy NoSuchFileException would leave the winner's
        // COMMITTED file destroyed. rename(2) replaces atomically, so
        // the target is never missing. A NoSuchFileException has TWO
        // causes with OPPOSITE correct responses: (a) the SOURCE
        // vanished — the racing winner committed this name and
        // reclaimed its branch copy, so the name is owned and the
        // skip is sound; (b) the TMP vanished — e.g. a concurrent
        // vacuum(parent) swept the unreferenced .adopt-* file — and
        // skipping would publish a manifest entry whose only copy
        // lives in the branch dir (data loss once the branch is
        // reclaimed). Re-check the source to tell them apart: retry
        // while it still exists, fail LOUDLY after bounded attempts
        // rather than publish a dangling reference.
        var attempts = 0
        var done = false
        while (!done) {
          val tmp = Paths.get(parentPath, s".adopt-$f-" +
            java.util.UUID.randomUUID().toString.substring(0, 8))
          try {
            Files.copy(local, tmp)
            adoptRaceHook(tmp)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            staged += ((local, target))
            done = true
          } catch {
            case e: java.nio.file.NoSuchFileException =>
              Files.deleteIfExists(tmp)
              if (!Files.exists(local)) done = true // winner owns f
              else {
                attempts += 1
                if (attempts >= 3)
                  throw new java.io.IOException(
                    s"adopting $f into $parentPath failed $attempts " +
                      "times with the source still present (tmp " +
                      "swept by a concurrent vacuum?) — refusing to " +
                      "publish a manifest entry without its file", e)
              }
          }
        }
      }
    }
    foldEntryBatches(clonePath, cRaw, ())((_, batch) =>
      batch.foreach(e => adopt(fileOf(e))))
    (dvOf(cRaw).values.map(_._1) ++ bloomOf(cRaw).values.map(_._1) ++
      shardsOf(cRaw)).foreach(adopt)
    // RAW branch lines publish: shard refs the branch inherited or
    // spilled locally both resolve under the parent after adoption
    val published = cRaw.filterNot { l =>
      l.startsWith(ParentGenRef) ||
        (l.startsWith(ParentRef) &&
          l.substring(ParentRef.length) == parentAbs)
    }
    val gen =
      try commitReplace(parentPath, published, pGen)
      catch {
        case e: Throwable =>
          // CAS lost (parent moved) or publish crashed: remove ONLY
          // staged copies the CURRENT parent manifest does not
          // reference — a racing publisher of the SAME branch may
          // have just committed these very UUID names, and deleting
          // them would orphan its published data. If the head cannot
          // be re-read, delete nothing: leftovers are harmless
          // (REPLACE_EXISTING on the next attempt) but a wrong delete
          // is data loss.
          val liveNow: Option[Set[String]] =
            try {
              val now = head(parentPath)._2
              val s = scala.collection.mutable.HashSet.empty[String]
              foldEntryBatches(parentPath, now, ())((_, batch) =>
                batch.foreach(e => s += fileOf(e)))
              dvOf(now).values.foreach(s += _._1)
              bloomOf(now).values.foreach(s += _._1)
              shardsOf(now).foreach(s += _)
              Some(s.toSet)
            } catch { case _: Throwable => None }
          liveNow.foreach { live =>
            staged.foreach { case (_, p) =>
              if (!live.contains(p.getFileName.toString))
                Files.deleteIfExists(p)
            }
          }
          throw e
      }
    // publish committed: the branch's local copies are now redundant
    // (the parent manifest references the adopted names)
    staged.foreach { case (l, _) => Files.deleteIfExists(l) }
    gen
  }

  // ------------------------------------------------------------------
  // CHECK constraints (persisted table metadata, write-enforced)
  // ------------------------------------------------------------------

  /** Parse a constraint's SQL against `schema` and return the BOUND
    * Catalyst expression the write path evaluates per row — parsed,
    * analyzed (type coercion, function resolution) and reference-
    * bound DRIVER-side, then shipped to every task: the production
    * shape (Delta's CHECK enforcement is an operator over the write),
    * never a per-row re-parse.
    */
  private[v2] def boundCheck(spark: SparkSession, schema: StructType,
      sql: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val analyzed = spark.sessionState.analyzer.executeAndCheck(
      Filter(parsed, LocalRelation(attrs)), new QueryPlanningTracker)
    val cond = analyzed.collectFirst { case f: Filter => f.condition }
      .getOrElse(throw new IllegalArgumentException(
        s"constraint did not analyze to a filter: $sql"))
    BindReferences.bindReference(cond, attrs)
  }

  /** ADD a persisted CHECK constraint: validate every EXISTING
    * visible row first (one distributed pass — SQL CHECK semantics:
    * only FALSE violates, NULL passes), then CAS-commit the
    * `#check` marker. Every write job STARTING after this commit
    * validates each row against the expression and fails loudly on a
    * violation; a write racing this commit fails its own publish with
    * a metadata conflict instead of committing un-validated rows.
    * Returns the committed generation.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String, schema: StructType = Schema): Int = {
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r') &&
        !exprSql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraint name/expression must be TSV-safe")
    val (parent, lines0) = head(path)
    require(!checksOf(lines0).exists(_._1 == name),
      s"constraint '$name' already exists under $path")
    boundCheck(spark, schema, exprSql) // fail fast on an unparsable expr
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val bad = readBack(spark, path, schema)
      .filter(not(coalesce(expr(exprSql), lit(true)))).count()
    require(bad == 0L,
      s"cannot add constraint '$name': $bad existing rows violate $exprSql")
    commitReplace(path, lines0 :+ s"$CheckRef$name\t$exprSql", parent)
  }

  /** DROP a persisted CHECK constraint by name (CAS commit). */
  def dropConstraint(path: String, name: String): Int = {
    val (parent, lines0) = head(path)
    require(checksOf(lines0).exists(_._1 == name),
      s"no constraint '$name' under $path")
    commitReplace(path,
      lines0.filterNot(_.startsWith(s"$CheckRef$name\t")), parent)
  }

  // ------------------------------------------------------------------
  // Generation tags (named snapshot refs, retention-exempt)
  // ------------------------------------------------------------------

  /** Tag marker `#tag<TAB><name><TAB><generation>` — a NAMED snapshot
    * ref (the Iceberg tag shape): "the v2024.08 audit snapshot" as
    * table metadata instead of a generation number in a runbook.
    * Tags ride the head like `#check`/`#conf`, [[vacuum]] EXEMPTS a
    * tagged generation from retention expiry (the whole point of
    * naming it), and dropping the tag releases it.
    */
  private val TagRef = "#tag\t"

  def tagsOf(lines: Seq[String]): Map[String, Int] =
    lines.filter(_.startsWith(TagRef)).map { l =>
      val p = l.split("\t")
      p(1) -> p(2).toInt
    }.toMap

  /** TAG a retained generation by name (CAS commit). Re-tagging an
    * existing name moves it — loudly visible in history as its own
    * commit, like every metadata change here.
    */
  def addTag(path: String, name: String, gen: Int): Int = {
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "tag name must be TSV-safe")
    val (parent, lines0) = head(path)
    require(Files.exists(Paths.get(path, s"$VersionPrefix$gen")),
      s"no committed generation $gen under $path " +
        s"(have: ${versions(path).mkString(",")})")
    commitReplace(path,
      lines0.filterNot(_.startsWith(s"$TagRef$name\t")) :+
        s"$TagRef$name\t$gen", parent)
  }

  // ------------------------------------------------------------------
  // ANALYZE — persisted table-level column statistics
  // ------------------------------------------------------------------

  /** `#colstats<TAB>col<TAB>n<TAB>ndv<TAB>min<TAB>max<TAB>gen` —
    * table-level column statistics persisted in the manifest (the
    * ANALYZE TABLE output a cost-based planner consults without
    * touching data). `gen` records the generation the stats were
    * computed AT, so a reader can tell stale stats from fresh ones —
    * the staleness check every CBO needs before trusting an NDV.
    */
  private val ColStatsRef = "#colstats\t"

  final case class ColStats(column: String, nRows: Long, ndv: Long,
      min: String, max: String, atGeneration: Int)

  /** Escape a persisted stat value: the manifest line format is
    * tab-separated, so a raw tab/newline inside a string column's
    * min/max would corrupt the line (colStatsOf splits on \t and the
    * trailing generation field would mis-parse).
    */
  private def escStat(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")

  private def unescStat(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't'  => b.append('\t')
          case 'n'  => b.append('\n')
          case 'r'  => b.append('\r')
          case '\\' => b.append('\\')
          case o    => b.append(o)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def colStatsOf(lines: Seq[String]): Seq[ColStats] =
    lines.filter(_.startsWith(ColStatsRef)).map { l =>
      val p = l.split("\t")
      ColStats(p(1), p(2).toLong, p(3).toLong,
        unescStat(p(4)), unescStat(p(5)), p(6).toInt)
    }

  /** ANALYZE the live table: ONE distributed pass computes per-column
    * row count, exact NDV, and min/max over the VISIBLE rows, then
    * CAS-commits the `#colstats` markers (replacing any previous
    * set). Exact `countDistinct` is the gate-SF regime; at 100 TB the
    * production swap is the theta-sketch NDV (`agg_theta`) — same
    * marker format, one flag of accuracy metadata away. Returns the
    * committed generation; the stats record the generation they were
    * computed at, so later writes make them visibly stale rather than
    * silently wrong.
    */
  def analyze(spark: SparkSession, path: String,
      schema: StructType = Schema): Int = {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      lit, max, min}
    val (parent, lines0) = head(path)
    val df = readBack(spark, path, schema)
    val aggs = schema.fields.flatMap(f => Seq(
      countDistinct(col(f.name)).as(s"ndv_${f.name}"),
      min(col(f.name)).cast("string").as(s"mn_${f.name}"),
      max(col(f.name)).cast("string").as(s"mx_${f.name}")))
    val r = df.agg(count(lit(1)).as("n"), aggs: _*).first()
    val n = r.getLong(r.fieldIndex("n"))
    // an empty table has no min/max to persist — recording literal
    // "null" strings would poison later numeric parses; no commit
    if (n == 0L) return parent
    val statLines = schema.fields.flatMap { f =>
      val mnI = r.fieldIndex(s"mn_${f.name}")
      val mxI = r.fieldIndex(s"mx_${f.name}")
      // an all-NULL column (n > 0 but no non-null value) has no
      // min/max — skip its stats row rather than persist the literal
      // string "null" a later numeric parse would choke on
      if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
      else Some(s"$ColStatsRef${f.name}\t$n\t" +
        s"${r.getLong(r.fieldIndex(s"ndv_${f.name}"))}\t" +
        s"${escStat(r.getString(mnI))}\t" +
        s"${escStat(r.getString(mxI))}\t$parent")
    }.toSeq
    commitReplace(path,
      lines0.filterNot(_.startsWith(ColStatsRef)) ++ statLines, parent)
  }

  /** DROP a tag by name (CAS commit) — the tagged generation becomes
    * an ordinary snapshot again, reclaimable by retention.
    */
  def dropTag(path: String, name: String): Int = {
    val (parent, lines0) = head(path)
    require(tagsOf(lines0).contains(name), s"no tag '$name' under $path")
    commitReplace(path,
      lines0.filterNot(_.startsWith(s"$TagRef$name\t")), parent)
  }

  /** Read the table AS OF a named tag — [[readBackAsOf]] through the
    * head's tag map.
    */
  def readBackTag(spark: SparkSession, path: String, name: String,
      schema: StructType = Schema): DataFrame = {
    val tags = tagsOf(head(path)._2)
    require(tags.contains(name),
      s"no tag '$name' under $path (have: ${tags.keys.mkString(",")})")
    readBackAsOf(spark, path, tags(name), schema)
  }

  /** VACUUM: delete files NO RETAINED generation references (crash
    * temps, aborted parts, foreign strays, and — after a row-level
    * delete — replaced pre-delete files once their snapshots expire)
    * and EXPIRE generation snapshots beyond the newest
    * `keepGenerations`. The referenced set is the UNION over every
    * retained snapshot's file list — with copy-on-write deletes the
    * head is no longer a superset of older generations, so vacuum
    * must protect everything any surviving as-of read can ask for
    * (expired generations fail loudly at read time instead).
    *
    * CONCURRENT WRITERS: an in-flight commit's files (renamed parts
    * and task temps) are unreferenced until its snapshot publishes,
    * so a concurrent vacuum could destroy them. `minAgeMs` is the
    * Delta/Iceberg answer — only unreferenced files OLDER than the
    * horizon are deleted; run vacuum with a horizon comfortably above
    * the longest job duration (tests use 0 on quiesced directories).
    * Returns (data files deleted, generation manifests expired).
    */
  def vacuum(path: String, keepGenerations: Int = Int.MaxValue,
      minAgeMs: Long = 0L): (Int, Int) = {
    // the latest snapshot must always survive: generation numbers
    // derive from the newest retained snapshot, so expiring ALL of
    // them would let a later commit REUSE an expired number with
    // different content — silently breaking the never-rewritten /
    // loud-expired-read contract
    require(keepGenerations >= 1,
      s"keepGenerations must be >= 1, got $keepGenerations")
    val dir = Paths.get(path)
    val vs = versions(path)
    val live = Paths.get(path, ManifestName)
    require(vs.nonEmpty || Files.exists(live),
      s"no committed manifest under $path")
    // TAGGED generations are retention-exempt (the Iceberg tag
    // semantic): a named snapshot stays readable until the tag is
    // dropped, however deep the keepGenerations horizon cuts
    val tagged = tagsOf(head(path)._2).values.toSet
    val expire = vs.dropRight(keepGenerations).toSet -- tagged
    val retained = vs.filterNot(expire)
    // the referenced set spans data files, delete-vector sidecars,
    // manifest shards AND bloom-index sidecars of every retained
    // snapshot — a DV or shard is as load-bearing as the files it
    // masks/lists (deleting either would resurrect rows or lose the
    // listing); a bloom sidecar must live as long as any retained
    // snapshot's reads may plan through it
    // the referenced set streams in shard-sized batches per retained
    // generation — a name a prior generation already contributed
    // dedups into the ONE set (O(distinct live files): the inherent
    // working set of an exact vacuum — ~4 MB of names at the 100 TB
    // design point — never the O(#gens × #files) concatenation)
    val referenced = scala.collection.mutable.HashSet.empty[String]
    def addRefs(raw: Seq[String]): Unit = {
      foldEntryBatches(path, raw, ())((_, batch) =>
        batch.foreach(e => referenced += fileOf(e)))
      dvOf(raw).values.foreach(referenced += _._1)
      bloomOf(raw).values.foreach(referenced += _._1)
      shardsOf(raw).foreach(referenced += _)
    }
    if (retained.nonEmpty)
      retained.foreach(g =>
        addRefs(readLines(Paths.get(path, s"$VersionPrefix$g"))))
    else addRefs(readLines(live))
    var dataDeleted = 0
    var manifestsExpired = 0
    val horizon = System.currentTimeMillis() - minAgeMs
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.foreach { p =>
      p.getFileName.toString match {
        case ManifestName => ()
        case GenName(g) =>
          if (expire(g.toInt)) { Files.delete(p); manifestsExpired += 1 }
        case name if !referenced(name)
            && Files.getLastModifiedTime(p).toMillis <= horizon =>
          Files.delete(p); dataDeleted += 1
        case _ => ()
      }
    } finally s.close()
    refreshLive(path)
    (dataDeleted, manifestsExpired)
  }

  /** Test hook: when set, the writer for partition 0 throws on its
    * first task attempt (after writing some rows), exercising the
    * abort + re-attempt path. Mirrors [[graft] FaultInjector]].
    */
  val failFirstAttempt = new java.util.concurrent.atomic.AtomicBoolean(false)
  val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
}

class GraftSinkTable(schema: StructType, path: String,
    cdcDataSchema: Option[StructType] = None)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"graft_sink($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftSinkBatchWrite(info.schema(), path,
            Option(info.options().get("txn")),
            Option(info.options().get("shardThreshold")).map(_.toInt)
              .getOrElse(GraftSink.DefaultShardThreshold))
      }
    }
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = schema
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            cdcDataSchema match {
              // CDC: the change-feed stream (signed insert/delete
              // rows, replace-commit safe); the reader parses the
              // DATA schema and appends the action column itself
              case Some(data) => new GraftSinkCdcStream(data, path)
              case None => new GraftSinkTailStream(schema, path)
            }
        }
    }
}

/** STREAMING TAIL of the sink (`readStream.format(...GraftSinkSource)`)
  * — the Delta/Iceberg streaming-source shape: committed generations
  * ARE the offsets, so a micro-batch is exactly the data files the
  * window's commits appended, planned from the manifests alone
  * (reference: the lab's master feeds workers exactly the new splits;
  * here the snapshot protocol replaces the master). Exactly-once
  * falls out of the commit protocol on BOTH ends: offsets name
  * immutable generations, and a restarted query re-plans the same
  * window to the same files. APPEND-ONLY tailing by contract: a
  * replace commit inside the window (delete/compact/cluster/merge —
  * files removed or a delete-vector moved) fails the stream LOUDLY
  * instead of silently re-emitting rewritten rows — tailing a table
  * under rewrite needs CDC semantics ([[GraftSink.readChanges]]), not
  * a tail. At 100 TB the tail never lists data files it already
  * emitted: planning cost is O(new files) per batch.
  */
class GraftSinkTailStream(schema: StructType, path: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.connector.read.{InputPartition,
    PartitionReader, PartitionReaderFactory}

  private case class GenOffset(gen: Int) extends Offset {
    override def json(): String = gen.toString
  }

  override def initialOffset(): Offset = GenOffset(0)
  override def latestOffset(): Offset =
    GenOffset(GraftSink.versions(path).lastOption.getOrElse(0))
  override def deserializeOffset(json: String): Offset =
    GenOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GenOffset].gen
    val e = end.asInstanceOf[GenOffset].gen
    if (e <= s) return Array.empty
    val from = GraftSink.tailState(path, s)
    val to = GraftSink.tailState(path, e)
    val removed = from._1 -- to._1
    require(removed.isEmpty,
      s"generation window $s..$e under $path removed files " +
        s"${removed.take(3).mkString(",")}…: the streaming tail is " +
        "append-only; a replace commit needs CDC (readChanges), not a tail")
    val dvMoved = (from._1 & to._1).filter(f => from._2.get(f) != to._2.get(f))
    require(dvMoved.isEmpty,
      s"generation window $s..$e under $path moved delete vectors on " +
        s"${dvMoved.take(3).mkString(",")}…: merge-on-read deletes need " +
        "CDC (readChanges), not a tail")
    (to._1 -- from._1).toArray.sorted
      .map(f => GraftSinkTailPartition(
        GraftSink.resolveTailFile(path, to._3, f)): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftSinkTailReaderFactory(schema)
}

/** Top-level and schema-only: the factory ships to executors, so it
  * must not capture the (non-serializable, driver-side) stream.
  */
case class GraftSinkTailReaderFactory(schema: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new GraftSinkTailReader(schema,
      partition.asInstanceOf[GraftSinkTailPartition].file)
}

case class GraftSinkTailPartition(file: String)
    extends org.apache.spark.sql.connector.read.InputPartition

/** Executor-side TSV reader: the exact inverse of [[GraftSinkWriter]]'s
  * field serializers (Inf/-Inf spellings included), so a tailed row is
  * bit-identical to its batch read-back.
  */
class GraftSinkTailReader(schema: StructType, file: String)
    extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
  private val lines = Files.newBufferedReader(
    Paths.get(file), StandardCharsets.UTF_8)
  private var row: InternalRow = _

  private val parse: Array[String => Any] =
    schema.fields.map { f =>
      f.dataType match {
        case LongType => (s: String) => java.lang.Long.parseLong(s)
        case IntegerType => (s: String) => java.lang.Integer.parseInt(s)
        case DoubleType => (s: String) => s match {
          case "Inf" => Double.PositiveInfinity
          case "-Inf" => Double.NegativeInfinity
          case _ => java.lang.Double.parseDouble(s)
        }
        case StringType => (s: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case d: DecimalType => (s: String) =>
          org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(s), d.precision, d.scale)
        case other => throw new IllegalArgumentException(
          s"graft sink tail does not parse $other (column ${f.name})")
      }
    }

  override def next(): Boolean = {
    val l = lines.readLine()
    if (l == null) { row = null; false }
    else {
      val parts = l.split("\t", -1)
      require(parts.length == parse.length,
        s"malformed sink line in $file: ${parts.length} fields, " +
          s"expected ${parse.length}")
      row = InternalRow.fromSeq(
        parts.iterator.zipWithIndex.map { case (p, i) => parse(i)(p) }.toSeq)
      true
    }
  }
  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}

/** STREAMING CHANGE FEED of the sink (`readStream` with `mode=cdc`) —
  * the CDC twin of [[GraftSinkTailStream]] that stays alive across
  * REPLACE commits (the tail fails loudly on them by contract): each
  * micro-batch emits the row-level delta between the window's
  * endpoint generations as (row, action) with action ∈
  * {insert, delete} — the Delta Change Data Feed shape, planned from
  * the MANIFEST DIFF alone, O(changed files) partitions per batch.
  *
  * Multiset semantics for SIGN-FOLD consumers (`q_cdc_apply`'s +1/−1
  * discipline): an appended file emits its visible rows as inserts, a
  * removed file emits its formerly-visible rows as deletes, and a
  * moved delete vector emits (new DV − old DV) content as deletes. A
  * copy-on-write rewrite's SURVIVORS therefore emit as BOTH insert
  * (new file) and delete (old file) and cancel exactly in any signed
  * fold — noisier than [[GraftSink.readChanges]]' batch `exceptAll`
  * (which cancels them before emitting) but identical after folding,
  * and it keeps the planner manifest-only: nothing is read twice,
  * nothing is diffed driver-side. Offsets are committed generations,
  * so restarts re-plan identical windows (exactly-once), and an
  * expired (vacuumed) offset fails loudly.
  */
class GraftSinkCdcStream(schema: StructType, path: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.connector.read.InputPartition

  private case class GenOffset(gen: Int) extends Offset {
    override def json(): String = gen.toString
  }

  override def initialOffset(): Offset = GenOffset(0)
  override def latestOffset(): Offset =
    GenOffset(GraftSink.versions(path).lastOption.getOrElse(0))
  override def deserializeOffset(json: String): Offset =
    GenOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GenOffset].gen
    val e = end.asInstanceOf[GenOffset].gen
    if (e <= s) return Array.empty
    val (fromFiles, fromDv, fromParents) = GraftSink.tailState(path, s)
    val (toFiles, toDv, toParents) = GraftSink.tailState(path, e)
    def at(parents: Seq[String], f: String): String =
      GraftSink.resolveTailFile(path, parents, f)
    val inserts = (toFiles -- fromFiles).toSeq.sorted.map { f =>
      // a file born with a vector in this window emits only its
      // visible rows
      GraftSinkCdcPartition(at(toParents, f),
        toDv.get(f).map(v => at(toParents, v._1)).toSeq, "insert")
    }
    val deletes = (fromFiles -- toFiles).toSeq.sorted.map { f =>
      // rows the old vector already masked were not visible at `s`,
      // so they must not emit as deletes now
      GraftSinkCdcPartition(at(fromParents, f),
        fromDv.get(f).map(v => at(fromParents, v._1)).toSeq, "delete")
    }
    val dvMoved = (fromFiles & toFiles)
      .filter(f => fromDv.get(f) != toDv.get(f)).toSeq.sorted.map { f =>
        // vectors only grow (a second MoR delete commits the union;
        // a shrink can only happen via rewrite, which drops the file
        // and lands in the branches above)
        require(toDv.contains(f),
          s"delete vector vanished from carried file $f in window " +
            s"$s..$e under $path — not a union move")
        GraftSinkCdcPartition(at(toParents, toDv(f)._1),
          fromDv.get(f).map(v => at(fromParents, v._1)).toSeq, "delete")
      }
    (inserts ++ deletes ++ dvMoved).map(p => p: InputPartition).toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    GraftSinkCdcReaderFactory(schema)
}

/** One CDC partition: emit `primary`'s lines minus `masks`' lines
  * (content subtraction — the DV semantics), each tagged `action`.
  */
case class GraftSinkCdcPartition(primary: String, masks: Seq[String],
    action: String)
    extends org.apache.spark.sql.connector.read.InputPartition

case class GraftSinkCdcReaderFactory(schema: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftSinkCdcPartition]
    new GraftSinkCdcReader(schema, p.primary, p.masks, p.action)
  }
}

/** Executor-side CDC reader: [[GraftSinkTailReader]]'s TSV parse with
  * a line-content mask (the partition's delete vectors, bounded by
  * deleted rows) and a constant trailing `action` column. Masking by
  * content drops EVERY copy of an identical line — the same multiset
  * semantics the batch read path's anti-join applies.
  */
class GraftSinkCdcReader(schema: StructType, primary: String,
    masks: Seq[String], action: String)
    extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
  private val mask: java.util.HashSet[String] = {
    val m = new java.util.HashSet[String]()
    masks.foreach { f =>
      val r = Files.newBufferedReader(Paths.get(f), StandardCharsets.UTF_8)
      try {
        var l = r.readLine()
        while (l != null) { if (l.nonEmpty) m.add(l); l = r.readLine() }
      } finally r.close()
    }
    m
  }
  private val lines = Files.newBufferedReader(
    Paths.get(primary), StandardCharsets.UTF_8)
  private val actionValue =
    org.apache.spark.unsafe.types.UTF8String.fromString(action)
  private var row: InternalRow = _

  private val parse: Array[String => Any] =
    schema.fields.map { f =>
      f.dataType match {
        case LongType => (s: String) => java.lang.Long.parseLong(s)
        case IntegerType => (s: String) => java.lang.Integer.parseInt(s)
        case DoubleType => (s: String) => s match {
          case "Inf" => Double.PositiveInfinity
          case "-Inf" => Double.NegativeInfinity
          case _ => java.lang.Double.parseDouble(s)
        }
        case StringType => (s: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case d: DecimalType => (s: String) =>
          org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(s), d.precision, d.scale)
        case other => throw new IllegalArgumentException(
          s"graft sink cdc does not parse $other (column ${f.name})")
      }
    }

  override def next(): Boolean = {
    var l = lines.readLine()
    while (l != null && mask.contains(l)) l = lines.readLine()
    if (l == null) { row = null; false }
    else {
      val parts = l.split("\t", -1)
      require(parts.length == parse.length,
        s"malformed sink line in $primary: ${parts.length} fields, " +
          s"expected ${parse.length}")
      row = InternalRow.fromSeq(
        parts.iterator.zipWithIndex.map { case (p, i) => parse(i)(p) }
          .toSeq :+ actionValue)
      true
    }
  }
  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}

/** Job-level commit: rename every task's temp to its job-unique
  * final part name, then publish through the optimistic-concurrency
  * snapshot protocol ([[GraftSink.commitAppend]] — atomic
  * create-if-absent of the next generation, lose-and-retry on
  * contention). Part names carry a per-job tag, so a second append
  * job can never clobber an earlier job's parts, and concurrent
  * append jobs serialize into consecutive generations. An optional
  * `txn` write option makes the whole job commit idempotent
  * (streaming epoch replays publish nothing the second time — their
  * already-renamed parts are deleted on the skip).
  */
class GraftSinkBatchWrite(schema: StructType, path: String,
    txn: Option[String],
    shardThreshold: Int = GraftSink.DefaultShardThreshold)
    extends BatchWrite {
  Files.createDirectories(Paths.get(path))

  private val jobTag =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  /** The table's CHECK constraints as of JOB START — parsed, analyzed
    * and bound on the driver (this constructor runs at write
    * planning), shipped to every task for per-row enforcement. The
    * job commit re-reads the set and refuses to publish if it moved.
    */
  private val checksAtStart: Seq[(String, String)] =
    GraftSink.checksOf(GraftSink.head(path)._2)
  private val boundChecks
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
    checksAtStart.map { case (n, sql) =>
      (n, GraftSink.boundCheck(SparkSession.active, schema, sql))
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new GraftSinkWriterFactory(schema, path, jobTag, boundChecks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[GraftSinkCommit])
    // metadata-conflict fast-fail: a constraint added or dropped while
    // this job ran means its rows were validated against a stale set.
    // This pre-check only saves renaming files that are about to be
    // discarded — the AUTHORITATIVE check runs inside commitAppend's
    // CAS loop against the very head being published onto, so a
    // constraint racing past this point still aborts the publish
    // atomically (no check-then-act window).
    if (GraftSink.checksOf(GraftSink.head(path)._2).toSet
        != checksAtStart.toSet) {
      msgs.foreach(m => Files.deleteIfExists(Paths.get(path, m.tmpName)))
      throw new java.util.ConcurrentModificationException(
        s"CHECK constraints changed under $path during the write; " +
          "rerun the job against the new constraint set")
    }
    msgs.foreach { m =>
      Files.move(Paths.get(path, m.tmpName), Paths.get(path, m.finalName),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val entries = msgs.map(m => s"${m.finalName}\t${m.rows}\t${m.stats}")
    val gen =
      try GraftSink.commitAppend(path, entries.toSeq, txn, shardThreshold,
        expectedChecks = Some(checksAtStart.toSet))
      catch {
        case e: java.util.ConcurrentModificationException =>
          // nothing was published — this job's renamed parts are
          // unreferenced; remove them rather than waiting for vacuum
          msgs.foreach(m =>
            Files.deleteIfExists(Paths.get(path, m.finalName)))
          throw e
      }
    // idempotent replay (txn already committed): this attempt's parts
    // were never published — remove them now rather than waiting for
    // vacuum
    if (gen < 0)
      msgs.foreach(m => Files.deleteIfExists(Paths.get(path, m.finalName)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftSinkCommit => m }
      .foreach(m => Files.deleteIfExists(Paths.get(path, m.tmpName)))
}

case class GraftSinkCommit(tmpName: String, finalName: String, rows: Long,
    stats: String) extends WriterCommitMessage

class GraftSinkWriterFactory(schema: StructType, path: String,
    jobTag: String,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)]
      = Seq.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftSinkWriter(schema, path, jobTag, partitionId, taskId, checks)
}

class GraftSinkWriter(schema: StructType, path: String, jobTag: String,
    partitionId: Int, taskId: Long,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)]
      = Seq.empty)
    extends DataWriter[InternalRow] {

  // CHECK predicates compiled ONCE per writer from the driver-bound
  // expressions (codegen'd where possible). SQL CHECK semantics: a
  // NULL/unknown evaluation passes, only FALSE violates — hence the
  // IsNull-OR wrap.
  private val checkPreds = checks.map { case (n, e) =>
    import org.apache.spark.sql.catalyst.expressions.{IsNull, Or, Predicate}
    val p = Predicate.create(Or(IsNull(e), e))
    p.initialize(partitionId)
    (n, p)
  }.toArray

  private val tmpName = f".tmp-$jobTag-$partitionId%05d-$taskId"
  private val out = Files.newBufferedWriter(
    Paths.get(path, tmpName), StandardCharsets.UTF_8)
  private var rows = 0L

  // field serializers resolved once per writer, never per row
  private val fieldOf: Array[InternalRow => String] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val get: InternalRow => String = f.dataType match {
        case LongType => r => r.getLong(i).toString
        case IntegerType => r => r.getInt(i).toString
        case DoubleType => r => {
          // the CSV read-back parses "NaN"/"Inf"/"-Inf" by default;
          // Double.toString's "Infinity" would silently null out
          val d = r.getDouble(i)
          if (d == Double.PositiveInfinity) "Inf"
          else if (d == Double.NegativeInfinity) "-Inf"
          else d.toString
        }
        case StringType => r => {
          val s = r.getUTF8String(i).toString
          // CR matters too: the CSV read-back treats a bare \r as a
          // record terminator, so it would silently split the row
          require(!s.contains('\t') && !s.contains('\n')
              && !s.contains('\r'),
            s"TSV-unsafe string in column ${f.name}")
          s
        }
        case d: DecimalType =>
          r => r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.toPlainString
        case other =>
          throw new IllegalArgumentException(
            s"graft sink does not serialize $other (column ${f.name})")
      }
      (r: InternalRow) => {
        require(!r.isNullAt(i), s"null in non-null sink column ${f.name}")
        get(r)
      }
    }

  // numeric accessors for the per-file min/max zonemap (null slot =
  // non-numeric column, no stats tracked)
  private val numOf: Array[InternalRow => java.math.BigDecimal] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case LongType => (r: InternalRow) =>
          java.math.BigDecimal.valueOf(r.getLong(i))
        case IntegerType => (r: InternalRow) =>
          java.math.BigDecimal.valueOf(r.getInt(i).toLong)
        case DoubleType => (r: InternalRow) => {
          // NaN never satisfies a BETWEEN and ±Inf sits outside any
          // finite window, so excluding non-finite values from the
          // min/max keeps range pruning SOUND — and BigDecimal.valueOf
          // would throw on them, killing the write task
          val d = r.getDouble(i)
          if (java.lang.Double.isFinite(d))
            java.math.BigDecimal.valueOf(d)
          else null
        }
        case d: DecimalType => (r: InternalRow) =>
          r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        case _ => null
      }
    }
  private val mins = new Array[java.math.BigDecimal](schema.fields.length)
  private val maxs = new Array[java.math.BigDecimal](schema.fields.length)

  override def write(row: InternalRow): Unit = {
    if (GraftSink.failFirstAttempt.get() && partitionId == 0 && rows == 1
        && org.apache.spark.TaskContext.get() != null
        && org.apache.spark.TaskContext.get().attemptNumber() == 0) {
      throw new RuntimeException("injected first-attempt sink failure")
    }
    var c = 0
    while (c < checkPreds.length) {
      if (!checkPreds(c)._2.eval(row))
        throw new IllegalArgumentException(
          s"CHECK constraint '${checkPreds(c)._1}' violated by a row " +
            s"in partition $partitionId")
      c += 1
    }
    var i = 0
    val sb = new StringBuilder
    while (i < fieldOf.length) {
      if (i > 0) sb.append('\t')
      sb.append(fieldOf(i)(row))
      if (numOf(i) != null) {
        val v = numOf(i)(row)
        if (v != null) {
          if (mins(i) == null || v.compareTo(mins(i)) < 0) mins(i) = v
          if (maxs(i) == null || v.compareTo(maxs(i)) > 0) maxs(i) = v
        }
      }
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    val stats = schema.fields.indices.iterator
      .filter(i => mins(i) != null)
      .map(i => s"${schema.fields(i).name}=" +
        s"${mins(i).toPlainString}..${maxs(i).toPlainString}")
      .mkString(";")
    GraftSinkCommit(tmpName, f"part-$jobTag-$partitionId%05d.tsv", rows,
      stats)
  }

  override def abort(): Unit = {
    GraftSink.aborted.incrementAndGet()
    try out.close() catch { case _: Exception => () }
    Files.deleteIfExists(Paths.get(path, tmpName))
  }

  override def close(): Unit = ()
}
