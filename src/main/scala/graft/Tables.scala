package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.MemoCache

/** Parquet table loaders for the driver-generated star schema.
  *
  * Plans built on these stay fully declarative so Catalyst pushes
  * filters/projections into the parquet scan — at 100 TB the scan is
  * the dominant cost and pruning is the first-order optimization.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ntzToLtz(parquet(spark, s"$sfDir/$name.parquet"))

  /** The parquet read of corpus tables and train-once stores. With
    * `schema` given the read takes it as is; otherwise the inferred
    * schema is served from [[schemaCache]]. Spark 4 infers a parquet
    * schema with a one-task footer job on EVERY `spark.read.parquet`,
    * even for one file, so a warm call that re-reads a table it read
    * before would pay one Spark job per table for a schema that
    * cannot have changed. A hit reads with the cached schema and
    * starts no job. Only the schema is cached: rows are always read
    * fresh.
    */
  def parquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val s = schema.getOrElse(
      schemaCache.getOrCompute(SchemaKey(spark, path, fingerprint(spark, path),
        SchemaConfs.map(spark.conf.get)))(spark.read.parquet(path).schema))
    spark.read.schema(s).parquet(path)
  }

  /** The confs that change how a parquet footer converts to a Spark
    * schema (nanos as long, NTZ inference, binary as string, INT96).
    */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** `files` is the path's corpus fingerprint: a corpus rewritten at
    * the same path changes some file's name, length or mtime, so it
    * misses and is inferred again.
    */
  private case class SchemaKey(spark: SparkSession, path: String,
      files: Seq[(String, Long, Long)], confs: Seq[String])

  private val schemaCache = new MemoCache[SchemaKey, StructType](
    capacity = 256, _.spark)(_ => ())

  /** One recursive Hadoop listing of `path`: (name, length, mtime) of
    * every file, sorted. A missing path lists as empty, and the
    * inference read then raises Spark's own error. `listStatus`, not
    * `listFiles`: the latter's `LocatedFileStatus` copies each file's
    * permission, which the local filesystem without native IO reads by
    * forking `ls -ld` per file. Also the corpus part of every
    * [[graft.operators.Artifacts]] key.
    */
  private[graft] def fingerprint(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def files(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    try fs.listStatus(p).toSeq.flatMap(files).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The driver-generated parquet stores NAIVE (no-tz) µs timestamps.
    * Our own sessions read them as TIMESTAMP directly
    * (`spark.sql.parquet.inferTimestampNTZ.enabled=false` in every
    * builder we own), but the driver's smoke check calls `entry` with
    * a session whose confs we don't control — there the columns
    * surface as TIMESTAMP_NTZ and `unix_micros`/encoder paths break.
    * Casting NTZ→TIMESTAMP is wall-clock-preserving in ANY session
    * timezone (the cast interprets the wall clock in the session zone
    * and `date_format` formats it back in the same zone), so every
    * downstream comparison/format matches the DuckDB oracle's naive
    * reads either way.
    */
  private def ntzToLtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df) { (d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.col(c).cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as long and floor-divide to µs
    * (integer div — a double roundtrip would lose precision at
    * ~1.7e18 ns), matching DuckDB's ns→µs truncation.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // scope the legacy flag to THIS load: the schema conversion happens
    // eagerly at read time (verified: the returned frame still executes
    // after restore), so the session-wide interpretation of other
    // nanos-timestamp parquet reads is left untouched. The save/set/
    // restore runs under the shared per-JVM flag lock — two concurrent
    // loads (or overlap with a streaming helper holding the flag for a
    // whole query) would otherwise interleave and restore a stale value.
    tsMicros(withNanosAsLong(s)(load(s, d, "events")))
  }

  /** An events frame with its nanos `ts` (read as long) floored to a
    * µs timestamp; as is when `ts` already is a timestamp. Also the
    * normalization of every events stream.
    */
  private[graft] def tsMicros(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Serializes every save/set/restore of the session-wide
    * `spark.sql.legacy.parquet.nanosAsLong` flag in this JVM. The flag
    * lives on the shared session, so unsynchronized scoping from two
    * threads can restore the wrong value or break the other caller's
    * schema inference mid-read.
    */
  private val nanosFlagLock = new Object

  /** Run `body` with the nanos-as-long flag set, restoring the prior
    * value after — atomically with respect to every other scoped use
    * of the flag in this JVM.
    */
  private[graft] def withNanosAsLong[T](s: SparkSession)(body: => T): T =
    nanosFlagLock.synchronized {
      val prev = s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      try body
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None => s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
    }
}
