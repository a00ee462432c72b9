package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

import graft.Tables.tsMicros

/** Structured Streaming twins of the batch event operators
  * (SURVEY §2.G): the same logical computation as
  * `Relational.eventsHourly` / `Relational.sessionize`, expressed as
  * an unbounded plan with watermarks and keyed state.
  *
  * Transforms take a DataFrame so they run identically on
  * `readStream` sources and (for testing) on MemoryStream.
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Buffered per-user event times in epoch MICROseconds —
    * `Timestamp.getTime` is millis and would silently truncate
    * event-time precision, making streaming sessions diverge from the
    * batch operator.
    */
  case class SessionState(times: Seq[Long])

  private def micros(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** Watermarked hourly tumbling-window aggregation. Late data beyond
    * 2 hours is dropped; state is bounded by (windows in watermark) ×
    * (event types) — safe for an unbounded run.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks from the preceding hour. Both sides watermarked so
    * state is bounded; the time-range predicate lets Spark expire
    * click state once the watermark passes.
    */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
        && col("c_ts") <= col("p_ts"))
  }

  /** Streaming exact dedup: drop repeated event_ids within the
    * watermark horizon — the streaming twin of `Dedup.exact`. State
    * is bounded by (ids seen inside the watermark window).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Event-time session windows with a 30-minute inactivity gap via
    * flatMapGroupsWithState.
    *
    * Events BUFFER in state and sessionization happens against the
    * watermark — so arbitrarily out-of-order arrivals inside the
    * watermark horizon (a late event extending a session backwards, or
    * forming its own earlier session) produce exactly the batch
    * gaps-and-islands result. Eager per-batch merging can't do that:
    * it would fold a too-early event into the current session and
    * never split it back out.
    *
    * State stays bounded even for a continuously-active key: each
    * batch, sessions whose `end + gap < watermark` are provably final
    * (Spark drops later-arriving rows older than the watermark, so
    * nothing can ever merge into them) — they are emitted immediately
    * and their event times pruned from the buffer. Only the
    * still-open tail (at most the watermark horizon of events)
    * remains in state; the event-time timeout flushes it when the key
    * goes quiet.
    */
  def sessionize(events: Dataset[Event],
      gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          val gapUs = gapSec * 1000000L
          // gaps-and-islands over sorted times → (start, end, n) runs
          def runs(sorted: Seq[Long]): Seq[(Long, Long, Long)] = {
            val out = Seq.newBuilder[(Long, Long, Long)]
            var start = sorted.head
            var end = start
            var n = 0L
            sorted.foreach { t =>
              if (t - end > gapUs) {
                out += ((start, end, n)); start = t; end = t; n = 1L
              } else { end = t; n += 1 }
            }
            out += ((start, end, n))
            out.result()
          }
          def emit(rs: Seq[(Long, Long, Long)]): Seq[SessionOut] =
            rs.map { case (s, e, n) => SessionOut(userId, toTs(s), toTs(e), n) }
          // shared step for both branches: emit the provably-final
          // prefix, keep the open tail, and register the NEXT timeout
          // at the earliest open session's close point — timeouts
          // chain, so every session emits as soon as the watermark
          // passes it, without waiting for new data on this key
          def step(times: Seq[Long]): Iterator[SessionOut] = {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val all = runs(times)
            // final = no admissible future event can reach it
            val (closed, open) = all.partition { case (_, e, _) => e + gapUs < wmUs }
            if (open.isEmpty) state.remove()
            else {
              state.update(SessionState(times.filter(_ >= open.head._1)))
              // timeout API is millis; round up so it never fires early
              state.setTimeoutTimestamp((open.head._2 + gapUs) / 1000 + 1)
            }
            emit(closed).iterator
          }
          if (state.hasTimedOut) step(state.get.times.sorted)
          else step((state.getOption.map(_.times).getOrElse(Seq.empty) ++
            batch.map(e => micros(e.ts))).sorted)
        })
  }

  /** Oracle-shaped hourly rollup (streaming twin of
    * `Relational.eventsHourly`, full column set, decimal money math).
    */
  def hourlyCountsFull(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("hour"),
        col("event_type"), col("n"), col("sum_value"),
        col("min_value"), col("max_value"))

  /** Run `body` over a bounded feed and delete every dir the feed
    * scope made once `body` returns or throws: a bounded stream needs
    * its feed, checkpoint and source table only while its query runs,
    * so `body` must drain its query, and a frame it returns must read
    * a dir made outside the scope (a file sink's output, a memory
    * sink's spill, a result table). Every stream key starts here.
    *
    * `body` lays the feed out through the [[Feed]] it is handed, all
    * at once or staged between restarts, in one of three layouts:
    *   - [[Feed.link]]: symlinks to the corpus events file (a copy
    *     where no symlink can be made);
    *   - [[Feed.split]]: a frame split into `n` part files;
    *   - [[Feed.dump]]: named single files with fixed mtimes (the
    *     source processes oldest-first, so fixed mtimes fix batch
    *     order).
    * The first layout fixes the schema of the streaming frame each
    * layout call returns, and the feed's byte measure
    * ([[Feed.bytes]]: one copy of a linked file, else the bytes
    * written) that sizes the query's state. A first layout of more
    * than one file streams one file per trigger: that forces a
    * cross-BATCH state carry, so a key gates state that survived a
    * batch boundary, not a single-batch degenerate case.
    */
  private def withFeed[T](spark: SparkSession, prefix: String)
      (body: Feed => T): T = {
    val root = graft.TempDirs.create(prefix)
    try body(new Feed(spark, root))
    finally graft.TempDirs.delete(root.toString)
  }

  /** One feed's dirs under the scope's root: the feed dir the file
    * source monitors, the checkpoint and a source table. Each is made
    * here through java.nio: Hadoop's local filesystem forks a `chmod`
    * for each dir it makes.
    */
  private final class Feed(spark: SparkSession, root: java.nio.file.Path) {
    import java.nio.file.Files
    val dir: java.nio.file.Path = Files.createDirectory(root.resolve("feed"))
    val ckpt: String = Files.createDirectory(root.resolve("ckpt")).toString
    val table: String = Files.createDirectory(root.resolve("tbl")).toString
    private var links = 0
    private var first: Option[(StructType, Int, Long)] = None

    /** Add `copies` symlinks to `sfDir`'s events file; the returned
      * stream normalizes its nanos `ts` to µs.
      */
    def link(sfDir: String, copies: Int = 1): DataFrame = {
      val path = java.nio.file.Paths.get(s"$sfDir/events.parquet")
      for (_ <- 1 to copies) {
        val to = dir.resolve(s"events_$links.parquet")
        links += 1
        // a copy where symlink creation is privilege-restricted
        // (e.g. Windows without developer mode)
        try Files.createSymbolicLink(to, path)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(path, to)
        }
      }
      tsMicros(laidOut(graft.Tables.parquet(spark, path.toString).schema,
        copies, pathBytes(path)))
    }

    /** Add `df` split round-robin into `n` part files. */
    def split(df: DataFrame, n: Int = 2): DataFrame = {
      df.repartition(n).write.mode("append").parquet(dir.toString)
      laidOut(df.schema, n, pathBytes(dir))
    }

    /** Add each `(df, name, mtimeMs)` as the single file `name`. */
    def dump(files: (DataFrame, String, Long)*): DataFrame = {
      files.foreach { case (df, name, mtimeMs) =>
        val tmp = dir.resolve(s"${name}_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part under $tmp"))
        val dest = dir.resolve(name)
        Files.move(part, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      laidOut(files.head._1.schema, files.size, pathBytes(dir))
    }

    /** The feed's byte measure, taken after its first layout. */
    def bytes: Long = first.get._3

    private def laidOut(schema: StructType, files: Int, measure: => Long)
        : DataFrame = {
      if (first.isEmpty) first = Some((schema, files, measure))
      val (s, n, _) = first.get
      val reader = spark.readStream.schema(s)
      (if (n > 1) reader.option("maxFilesPerTrigger", "1") else reader)
        .parquet(dir.toString)
    }
  }

  /** Far-future sentinel: one event a year past the corpus max
    * advances the GLOBAL watermark past every buffered session's
    * timeout — a bounded stream otherwise leaves the last sessions in
    * state forever. The sentinel file must carry the same physical ts
    * type as the source files; user_id −1 marks it for exclusion.
    */
  private def sentinel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = graft.Tables.parquet(spark, s"$sfDir/events.parquet")
    val maxTs = raw.agg(max(col("ts"))).head().get(0)
    raw.schema("ts").dataType match {
      case LongType =>
        spark.createDataset(Seq(
          (-1L, maxTs.asInstanceOf[Long] + 365L * 86400 * 1000000000L,
            -1L, "x", 0.0)))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
      case _ =>
        val far = new java.sql.Timestamp(
          maxTs.asInstanceOf[java.sql.Timestamp].getTime + 365L * 86400 * 1000)
        spark.createDataset(Seq((-1L, far, -1L, "x", 0.0)))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
    }
  }

  /** Drain `stream` into a per-run parquet FILE sink (append mode):
    * `drive` runs against the started query, which is stopped after
    * whatever happens, and the committed output reads back through
    * the sink's manifest with the query's own schema — so a stream
    * that commits no file drains to an empty frame instead of failing
    * schema inference, and the read-back starts no footer job. The
    * checkpoint is the output's hidden `_ckpt` dir (made through
    * java.nio, see [[Feed]]), which readers skip and which goes once
    * the query has stopped.
    */
  private[graft] def drainToFiles(spark: SparkSession, stream: Dataset[_],
      prefix: String)(drive: StreamingQuery => Unit): DataFrame = {
    val out = graft.TempDirs.create(s"${prefix}_out").toString
    val ckpt =
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(out, "_ckpt"))
    try runQuery(spark, stream.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append"))(drive)
    finally graft.TempDirs.deleteRecursively(ckpt)
    graft.Tables.parquet(spark, out, Some(stream.schema))
  }

  /** The flatMapGroupsWithState session builder behind the driver's
    * batch hash gate: stream the events parquet through the file
    * source, then append a far-future sentinel file so the watermark
    * closes every session (a bounded stream otherwise leaves the last
    * sessions in state forever). The memory-sink result gets its
    * per-user ordinal in a batch window so it matches the
    * q_sessionize oracle exactly.
    */
  def sessionsFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val drained = graft.Tables.withNanosAsLong(spark) {
      withFeed(spark, "graft_stream_sess") { f =>
        val events = f.link(sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")).as[Event]
        // PARQUET sink, not memory (the stream_dedup shape): the session
        // output is corpus-sized — one session row per user-burst — and
        // a memory sink pins one full driver copy of it (the wall
        // stream_dedup hit at sf10; guide §5 — the driver should do
        // almost no data work). The file sink streams each batch to
        // disk through its manifest; the read-back is manifest-scoped.
        withScaledState(spark, f.bytes) {
          drainToFiles(spark, sessionize(events), "graft_stream_sess") { q =>
            q.processAllAvailable()
            f.split(sentinel(spark, sfDir), 1)
            q.processAllAvailable()
          }
        }
      }
    }
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("session_start"))
    drained
      .filter(col("user_id") =!= -1L)
      .withColumn("session_id", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"))
  }

  /** The BUILT-IN `session_window` aggregate running as a STREAM —
    * the operator q_session_window exercises in batch, now with its
    * designed state story live: merging-session state rides the state
    * store, watermark eviction finalizes sessions, append mode emits
    * each exactly once. The far-future sentinel closes the tail
    * sessions on the bounded feed (same mechanics as
    * `sessionsFromFiles`), and the q_session_window oracle gates the
    * drained sink bit-for-bit — proving the batch and streaming
    * session operators agree on the measured end-inclusive merge
    * boundary.
    */
  def sessionWindowFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val drained = graft.Tables.withNanosAsLong(spark) {
      withFeed(spark, "graft_stream_swin") { f =>
        val sessions = f.link(sfDir)
          .withWatermark("ts", "10 minutes")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("s"), max(col("ts")).as("e"))
          .select(col("user_id"), col("s"), col("e"), col("n_events"))
        // parquet file sink for the corpus-sized session output — the
        // stream_dedup shape (see sessionsFromFiles)
        withScaledState(spark, f.bytes) {
          drainToFiles(spark, sessions, "graft_stream_swin") { q =>
            q.processAllAvailable()
            f.split(sentinel(spark, sfDir), 1)
            q.processAllAvailable()
          }
        }
      }
    }
    drained
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        date_format(col("s"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("e"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"))
  }

  /** The stream-stream interval join behind the driver's batch hash
    * gate: events stream through the file source on BOTH sides of
    * `purchaseClickJoin`; an inner stream-stream join emits each match
    * as soon as both rows are ingested (the watermark only bounds
    * state), so on a bounded input the append-mode sink holds exactly
    * the batch join result the DuckDB oracle computes.
    */
  def purchaseClicksFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val drained = graft.Tables.withNanosAsLong(spark) {
      withFeed(spark, "graft_stream_join") { f =>
        val events = f.link(sfDir)
        // parquet file sink: the join output is |purchases| ×
        // matching-clicks — corpus-proportional, the exact driver-copy
        // wall stream_dedup hit at sf10 (guide §5)
        withScaledState(spark, f.bytes) {
          drainToFiles(spark, purchaseClickJoin(events),
            "graft_stream_join")(_.processAllAvailable())
        }
      }
    }
    drained.select(
      col("purchase_id"), col("p_user").as("user_id"),
      date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("p_ts"),
      col("click_id"),
      date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("c_ts"))
  }

  /** Stream-stream LEFT OUTER interval join behind the driver's batch
    * hash gate (`stream_outer_join`): purchases keep flowing even when
    * no click preceded them — the unmatched row emits with NULL click
    * columns only once the watermark PROVES no admissible click can
    * still arrive (state eviction emits it; an inner join never
    * exercises that path). The far-future sentinel must pass BOTH
    * side's filters: each watermark node sits above its filter, so a
    * filtered-out sentinel would never advance the watermark and the
    * tail purchases' outer rows would sit in state forever. Outer
    * nulls normalize (click_id → −1, c_ts → 'never') so the drained
    * sink gates bit-for-bit against the batch LEFT JOIN oracle —
    * which also proves no purchase emitted BOTH matched and
    * null-matched rows (the double-emit failure outer state eviction
    * risks).
    */
  def purchaseClickOuterFromFiles(spark: SparkSession,
      sfDir: String): DataFrame = {
    val drained = graft.Tables.withNanosAsLong(spark) {
      withFeed(spark, "graft_stream_ojoin") { f =>
        val events = f.link(sfDir)
        val purchases = events.filter(col("event_type") === "purchase"
            || col("user_id") === -1L)
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("p_ts", "2 hours")
        val clicks = events.filter(col("event_type") === "click"
            || col("user_id") === -1L)
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user")
            && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
            && col("c_ts") <= col("p_ts"),
          "left_outer")
        // parquet file sink: the outer-join output is corpus-sized
        // (every purchase emits at least one row) — see
        // purchaseClicksFromFiles / sessionsFromFiles
        withScaledState(spark, f.bytes) {
          drainToFiles(spark, joined, "graft_stream_ojoin") { q =>
            q.processAllAvailable()
            f.split(sentinel(spark, sfDir), 1)
            q.processAllAvailable()
          }
        }
      }
    }
    drained
      .filter(col("p_user") =!= -1L)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("p_ts"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          lit("never")).as("c_ts"))
  }

  /** Streaming exact-dedup behind the driver's batch hash gate: the
    * file stream is fed TWO copies of the events parquet (two symlinks
    * to the same file), so `dropDuplicatesWithinWatermark` has real
    * duplicates to remove — both within a batch and across batches
    * inside the watermark horizon. The deduped stream must equal the
    * single-copy batch table, which is exactly what the oracle checks
    * (a single-copy feed would gate nothing: event_ids are unique).
    */
  def dedupFromFiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.withNanosAsLong(spark) {
      // PARQUET sink, not memory (stream_restart's shape): the
      // deduped output is corpus-sized, and a memory sink pins one
      // full driver copy of it — measured at the sf10 stream the 10M
      // drained rows OOM the 4 GB bench JVM before any state does.
      // The file sink streams each batch straight to disk through
      // its manifest; rows are identical, the driver never holds
      // them (guide §5: the driver should do almost no data work).
      withFeed(spark, "graft_stream_dedup") { f =>
        val events = f.link(sfDir, copies = 2)
        withStateFor(spark, f.bytes) {
          drainToFiles(spark, dedupStream(events),
            "graft_stream_dedup")(_.processAllAvailable())
        }
      }.select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    }

  /** Per-call memory-sink names: a fixed name would let two concurrent
    * invocations in one session clobber each other's sink and return
    * mixed/partial results.
    */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong()
  /** STREAMING ALWAYS-VALID A/B (`stream_msprt`) — the `q_msprt`
    * mixture-SPRT with its look moments MAINTAINED by the state
    * store instead of recomputed: per-(hour, arm) exact decimal
    * moments aggregate across micro-batches (maxFilesPerTrigger=1
    * forces a genuine cross-batch state carry), and the drained
    * state feeds the SAME mSPRT tail the batch key runs — so the
    * batch oracle gates the whole streaming path end-to-end. This is
    * the deployment shape: the experiment dashboard's state is
    * incremental, and every refresh reads a p-value that is valid
    * DESPITE being read continuously.
    */
  def msprtFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(hour(col("ts")).cast("long").as("h"), col("event_type"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val hourly = withFeed(spark, "graft_stream_msprt_src") { f =>
      val agg = f.split(ev).groupBy("h", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
      drainToMemory(spark, agg, "graft_stream_msprt", f.bytes)
    }
    graft.operators.Stats.msprtFromHourly(hourly, "purchase", "click", 0.5)
  }

  /** STREAMING FUNNEL WITH WILSON BANDS (`stream_funnel_ci`) — the
    * `q_funnel_ci` per-user step flags MAINTAINED by the state store
    * (max-of-indicator aggregates compose across micro-batches, so a
    * user's view in batch 1 and purchase in batch 3 still funnel);
    * the drained flags run the SAME Wilson tail as the batch key, so
    * the batch oracle gates the streaming path end-to-end — the live
    * funnel dashboard shape.
    */
  def funnelCiFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"))
    graft.operators.Relational.funnelCiFromFlags(
      withFeed(spark, "graft_stream_funnel_src") { f =>
        val flags = f.split(ev).groupBy("user_id")
          .agg(
            max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
            max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("p"))
        drainToMemory(spark, flags, "graft_stream_funnel", f.bytes)
      })
  }

  private def nextSinkName(prefix: String): String =
    s"${prefix}_${sinkCounter.incrementAndGet()}"

  /** Sum of regular-file bytes under `p` (a file or a feed dir) — the
    * input-size signal the state-partition derivation reads.
    */
  private def pathBytes(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Run a stateful streaming query with a SIZE-DERIVED shuffle (=
    * state-store) partition count instead of the session constant
    * (guide §2: make partitioning scale-adaptive — derive from input
    * size — rather than a constant tuned for either local mode or the
    * cluster). Stateful operators pin their state partitioning to
    * `spark.sql.shuffle.partitions` at FIRST query start and AQE never
    * coalesces it, so a micro-batch over a small feed otherwise
    * schedules — and checkpoints, one delta file each, a stream-stream
    * join keeps FOUR stores per partition — dozens of near-empty state
    * stores per trigger; across the 2–4 triggers the bounded feeds
    * force, that fixed cost dominates the key. One state partition per
    * `graft.stream.bytesPerStatePartition` bytes of feed (default
    * 8 MiB, conf-overridable), capped at the session's parallelism so
    * a large feed still fans out to every core: the gate SFs run a
    * handful of stores, an sf10+ feed saturates the cap, and on a real
    * cluster the cap IS the cluster's parallelism. Partitioning is
    * internal to the state store — the emitted row set is identical —
    * and the conf is restored after the body, so batch keys and the
    * bench harness see the session value throughout.
    */
  private[graft] def scaledStatePartitions(spark: SparkSession,
      feedBytes: Long): Int = {
    val per = bytesPerStatePartition(spark)
    val cap = math.max(1, spark.sparkContext.defaultParallelism)
    math.max(1L, math.min(cap.toLong, (feedBytes + per - 1) / per)).toInt
  }

  private def bytesPerStatePartition(spark: SparkSession): Long =
    spark.conf.getOption("graft.stream.bytesPerStatePartition")
      .map(_.toLong).getOrElse(8L << 20)

  private[graft] def withScaledState[T](spark: SparkSession, feedBytes: Long)
      (body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions",
      scaledStatePartitions(spark, feedBytes).toString)(body)

  /** Run `body` with the session conf `key` at `value`, restoring the
    * prior value (or its absence) after, also when `body` throws. The
    * one scope behind every per-query conf of this object: state
    * partitions, state-store provider, checkpoint file manager.
    */
  private[graft] def withConf[T](spark: SparkSession, key: String,
      value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Start the query `writer` describes with its checkpoint I/O on
    * [[GraftCheckpointFileManager]] (offset and commit logs, sink and
    * source logs, state stores), run `drive` against it and stop it
    * whatever happens; returns the stopped query. Every stream this
    * object runs starts here.
    */
  private[graft] def runQuery(spark: SparkSession,
      writer: DataStreamWriter[_])(drive: StreamingQuery => Unit)
      : StreamingQuery =
    withConf(spark, GraftCheckpointFileManager.ConfKey,
        classOf[GraftCheckpointFileManager].getName) {
      val q = writer.start()
      try drive(q) finally q.stop()
      q
    }

  /** Run a stream whose keyed state grows WITH THE FEED (exact dedup
    * keeps one entry per event id inside the watermark; the near-dup
    * bucket store keeps one per distinct band signature) with its
    * state sized from the feed for the life of the query:
    * [[scaledStatePartitions]] state partitions, and a state-store
    * provider chosen from the same measure. A feed that fits one
    * state partition's byte budget keeps Spark's on-heap HDFS-backed
    * store. RocksDB's fixed costs dominate at that size: per
    * micro-batch a native open, JNI gets and puts (plus one extra get
    * per write for row tracking) and a commit that flushes, fsyncs,
    * checkpoints and uploads SST files; once per JVM the extraction
    * of its 14 MB native library. A larger feed runs on RocksDB,
    * which keeps state off-heap with disk spill: the HDFS-backed
    * store holds its whole map ON-HEAP per partition, and measured at
    * the sf10 stream (10M events, 171 MB feed), stream_dedup's state
    * (~2×10M entries across both feed copies) OOMs the 4 GB bench JVM
    * outright. Results are provider-independent (the state backend is
    * internal); both confs are restored after the body.
    */
  private[graft] def withStateFor[T](spark: SparkSession, feedBytes: Long)
      (body: => T): T =
    withScaledState(spark, feedBytes) {
      withStateProvider(spark,
        if (feedBytes <= bytesPerStatePartition(spark))
          "HDFSBackedStateStoreProvider"
        else "RocksDBStateStoreProvider")(body)
    }

  /** Run a streaming query on the RocksDB state-store provider,
    * restoring the session provider after — for `transformWithState`,
    * which requires it (the multi-column-family store the operator is
    * built on).
    */
  private def withRocksDbState[T](spark: SparkSession)(body: => T): T =
    withStateProvider(spark, "RocksDBStateStoreProvider")(body)

  private def withStateProvider[T](spark: SparkSession, cls: String)
      (body: => T): T =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      s"org.apache.spark.sql.execution.streaming.state.$cls")(body)

  /** Run `stream` over its bounded feed (of `feedBytes`, see
    * [[withScaledState]]) into a per-call memory sink, hand the sink's
    * rows and the stopped query to `read`, and drop the sink's view
    * after, also when the run or `read` fails: a failed run must not
    * pin its partial result under a name nothing will ever drop.
    */
  private def readMemorySink[T](spark: SparkSession, stream: Dataset[_],
      prefix: String, feedBytes: Long, mode: String = "complete")
      (read: (DataFrame, StreamingQuery) => T): T = {
    val name = nextSinkName(prefix)
    try {
      val q = withScaledState(spark, feedBytes) {
        runQuery(spark, stream.writeStream.format("memory").queryName(name)
          .outputMode(mode))(_.processAllAvailable())
      }
      read(spark.table(name), q)
    } finally spark.catalog.dropTempView(name)
  }

  /** [[readMemorySink]] spilled through a per-run temp parquet: the
    * memory sink already holds one driver copy of the rows, and a
    * collect + createDataFrame would pin a SECOND for the life of the
    * returned frame. The rollup and session sinks are small by
    * construction, but the stream-stream join sink is |purchases| ×
    * matching-clicks — spilling keeps peak driver memory at the
    * sink's own copy and hands back a scan-backed DataFrame (freed
    * with the dropped view) for every caller.
    */
  private def drainToMemory(spark: SparkSession, stream: Dataset[_],
      prefix: String, feedBytes: Long, mode: String = "complete")
      : DataFrame =
    readMemorySink(spark, stream, prefix, feedBytes, mode) { (rows, _) =>
      val dest = graft.TempDirs.create("graft_sink_drain").resolve("rows").toString
      rows.write.mode("overwrite").parquet(dest)
      graft.Tables.parquet(spark, dest, Some(rows.schema))
    }

  /** The streaming path behind the driver's batch hash gate: read the
    * events parquet through the FILE-STREAM source, run the unbounded
    * hourly plan, materialize via a memory sink (complete mode — a
    * finite input's trailing windows never cross the watermark in
    * append mode), and hand the result back as a DataFrame matching
    * the q_events_hourly oracle.
    */
  def hourlyCountsFromFiles(spark: SparkSession, sfDir: String): DataFrame =
    // the legacy flag must hold for the whole (bounded) stream run —
    // file splits convert the parquet schema as they are read; the
    // shared flag lock scopes it atomically vs other scoped uses
    graft.Tables.withNanosAsLong(spark) {
      withFeed(spark, "graft_stream_src") { f =>
        drainToMemory(spark, hourlyCountsFull(f.link(sfDir)),
          "graft_stream_hourly", f.bytes)
      }
    }

  /** INCREMENTAL sketch maintenance over a stream: the theta distinct
    * sketch aggregate runs inside a streaming groupBy, its mergeable
    * buffer carried across triggers by the state store — the pattern
    * that keeps always-on distinct counts without ever re-scanning
    * history. The feed is DOUBLED with maxFilesPerTrigger=1 (the
    * stream_dedup trick): the sketch state provably survives a batch
    * boundary AND absorbs the duplicate copy, because distinct
    * counting is idempotent under replay — which is why the
    * single-copy batch count(DISTINCT) oracle still gates the result
    * exactly (k ≫ cardinality ⇒ exact regime).
    */
  def thetaFromFiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.withNanosAsLong(spark) {
      withFeed(spark, "graft_stream_theta_src") { f =>
        val agg = f.link(sfDir, copies = 2)
          .select(col("event_type"), col("user_id").cast("string").as("uid"))
          .groupBy("event_type")
          .agg(graft.functions.ThetaSketch.theta_sketch(col("uid"), 65536).as("sk"))
        drainToMemory(spark, agg, "graft_stream_theta", f.bytes)
      }
        .select(col("event_type"),
          graft.functions.ThetaSketch.theta_estimate(col("sk"), 65536).as("users"))
    }

  /** INCREMENTAL quantile-sketch maintenance over a stream: the KLL
    * aggregate's mergeable buffer rides the state store across
    * triggers, so per-key quantiles stay current without re-scanning
    * history — `stream_theta`'s pattern for an aggregate that is NOT
    * replay-idempotent (duplicating the feed shifts interpolated
    * quantiles), which is why the input here is a SINGLE copy split
    * into two files with maxFilesPerTrigger=1: the cross-batch state
    * carry is still forced, and the single-copy batch quantile_cont
    * oracle gates the result exactly (k ≫ group size ⇒ exact regime;
    * compaction regime is spec-pinned in FunctionsSpec).
    */
  def kllFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars").cast("double").as("n_chars"))
    withFeed(spark, "graft_stream_kll_src") { f =>
      val agg = f.split(docs).groupBy("lang")
        .agg(graft.functions.KllSketch.kll_quantiles(
          col("n_chars"), 8192, Seq(0.25, 0.5, 0.75)).as("qs"))
      drainToMemory(spark, agg, "graft_stream_kll", f.bytes)
    }.select(col("lang"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"))
  }

  /** INCREMENTAL Count-Min maintenance over a stream: one global CMS
    * rides the state store across triggers, so per-item frequency
    * estimates stay current without re-scanning history — the
    * heavy-hitter companion to [[kllFromFiles]]. CMS cells are
    * ADDITIVE (replaying the feed doubles every count, unlike
    * `stream_theta`'s idempotent distinct), so the input is a SINGLE
    * copy split into two files with maxFilesPerTrigger=1: the
    * cross-batch state carry is still forced, and the single-copy
    * batch GROUP BY count oracle gates the result exactly (width ≫
    * distinct items ⇒ zero collisions ⇒ exact regime; the collision
    * regime is spec-pinned in FunctionsSpec).
    *
    * At 100 TB the sketch is one fixed 4×8192-long state row total —
    * frequency tracking whose state does not grow with the stream.
    */
  def cmsFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir).select(col("event_type"))
    val sk = withFeed(spark, "graft_stream_cms_src") { f =>
      val agg = f.split(ev).agg(graft.functions.CountMinSketch
        .count_min(col("event_type"), 4, 8192).as("sk"))
      drainToMemory(spark, agg, "graft_stream_cms", f.bytes)
    }
    // the final complete-mode sketch is ONE row; broadcast it over
    // the distinct item set so the wide cell array never shuffles
    ev.distinct().crossJoin(broadcast(sk))
      .select(col("event_type"),
        graft.functions.CountMinSketch.cms_estimate(
          col("sk"), col("event_type"), 4, 8192).as("cnt"))
  }

  /** INCREMENTAL drift monitoring over a stream: the per-bucket
    * occupancy counts behind the PSI report ride the state store
    * across triggers, so "has this corpus drifted from the baseline"
    * stays current per micro-batch without re-scanning history — the
    * monitoring twin of the batch `q_drift_psi`. The baseline run's
    * KLL decile cutpoints are computed ONCE batch-side (exact regime,
    * a 9-double driver collect — the bounded-literal convention of
    * the SRP codebooks) and enter the stream as a literal array, so
    * in-stream bucketing is a STATELESS projection; the maintained
    * state is ≤ nBuckets rows of two longs, fixed-size forever.
    * Counts are ADDITIVE (replaying the feed doubles them), so the
    * input is the SINGLE-copy two-file feed with maxFilesPerTrigger=1
    * forcing the cross-batch carry; the drained final counts feed the
    * identical smoothing/rounding PSI projection, and the batch
    * oracle gates the stream bit-for-bit.
    */
  def driftFromFiles(spark: SparkSession, sfDir: String,
      nBuckets: Int = 10, kllK: Int = 8192): DataFrame = {
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("double").as("x"))
    // an empty documents table has no max id: every doc is run 2
    val mx = Option(docs.agg(max(col("doc_id"))).head().get(0))
      .fold(-1L)(_.asInstanceOf[Long])
    val mid = (mx + 1) / 2 // floor((mx+1)/2): q_drift_psi's run split
    val cuts: Seq[Double] = docs.filter(col("doc_id") < mid)
      .agg(graft.functions.KllSketch.kll_quantiles(col("x"), kllK, probs))
      .head().getSeq[Double](0)
    val cutsLit = typedLit(cuts)
    val counts = withFeed(spark, "graft_stream_drift_src") { f =>
      val agg = f.split(docs)
        .select(when(col("doc_id") < mid, 1L).otherwise(2L).as("run"),
          graft.functions.KllSketch.bucket_below(cutsLit, col("x"))
            .cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(sum(when(col("run") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("run") === 2, 1L).otherwise(0L)).as("n2"))
      drainToMemory(spark, agg, "graft_stream_drift", f.bytes)
    }
    // the drained final counts run the SAME psi projection as the
    // batch operator — one definition, one smoothing constant
    graft.operators.Pipeline.psiFromCounts(counts, nBuckets)
  }

  /** INCREMENTAL exact-moment maintenance over a stream: per-type
    * (n, Σx, Σx², min, max) ride the state store across triggers, so
    * mean/variance/extremes stay current without re-scanning history —
    * the EXACT companion to the approximate maintained-sketch family
    * (theta = distinct, KLL = quantiles, CMS = frequencies, MG =
    * top-k; this = moments). The sums are DECIMAL(18,2) of the
    * 2-decimal source values — decimal addition is associative and
    * exact, so the result is independent of partition/trigger order
    * and the batch GROUP BY oracle gates it bit-for-bit; doubles
    * appear only in the final one-shot mean/variance projection
    * (the `q_regression` moment-sum recipe). Spark's built-in
    * streaming aggregation already maintains partial aggregates
    * incrementally in the state store, so this is a plain
    * `groupBy().agg()` in complete mode — a custom
    * mapGroupsWithState would re-implement exactly that, worse.
    *
    * Sums are ADDITIVE (replaying the feed doubles them), so the
    * input is a SINGLE copy split into two files with
    * maxFilesPerTrigger=1: the cross-batch state carry is still
    * forced. At 100 TB the state is one fixed-width row per event
    * type — it does not grow with the stream.
    */
  def momentsFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_type"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
    withFeed(spark, "graft_stream_moments_src") { f =>
      val agg = f.split(ev).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"),
          min(col("v")).as("mn"),
          max(col("v")).as("mx"))
      drainToMemory(spark, agg, "graft_stream_moments", f.bytes)
    }.select(col("event_type"), col("n"),
        round(col("s1").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round((col("n").cast("double") * col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))),
          6).as("var_samp"),
        col("mn").cast("double").as("vmin"),
        col("mx").cast("double").as("vmax"))
  }

  /** INCREMENTAL heavy-hitter maintenance over a stream: per-language
    * Misra–Gries sketches ride the state store across triggers, so the
    * top-k word list stays current without re-scanning history — the
    * streaming twin of `agg_freq_items`, completing the maintained-
    * sketch family (theta = distinct, KLL = quantiles, CMS =
    * frequencies, MG = top-k). Retained counts are ADDITIVE (replay
    * would double them), so the input is a SINGLE copy split into two
    * files with maxFilesPerTrigger=1; k = 64 ≥ per-language vocabulary
    * keeps the sketch in the exact regime, and the batch top-5 oracle
    * gates the result (the eviction regime is spec-pinned in
    * FreqItemsSpec).
    */
  def topkFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val words = graft.Tables.documents(spark, sfDir)
      .select(col("lang"),
        explode(split(col("text"),
          graft.operators.TextMapReduce.WordSplit)).as("word"))
      .filter(col("word") =!= "")
    withFeed(spark, "graft_stream_topk_src") { f =>
      val agg = f.split(words).groupBy("lang")
        .agg(graft.functions.FreqItemsSketch.freq_items(col("word"), 64).as("sk"))
      drainToMemory(spark, agg, "graft_stream_topk", f.bytes)
    }.select(col("lang"), posexplode(slice(col("sk"), 1, 5)))
      .select(col("lang"), col("col.item").as("word"),
        col("col.cnt").as("cnt"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** STREAM–STATIC enrichment join (`stream_dim_join`) — the
    * production shape every streaming ingest runs before anything
    * else: the event stream joined to a BROADCAST dimension table
    * (customers keyed on user_id), then a complete-mode rollup per
    * (segment, event_type). The dim side is a plain batch DataFrame —
    * Structured Streaming re-plans it per micro-batch, the broadcast
    * keeps every batch shuffle-free on the stream side, and no state
    * store is involved (the join is stateless; only the downstream
    * aggregate carries state). maxFilesPerTrigger=1 forces the rollup
    * to accumulate across batches, so cross-batch additivity is
    * what's gated, not a single-batch degenerate case.
    */
  def dimJoinFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val dim = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    withFeed(spark, "graft_stream_dim_src") { f =>
      val joined = f.split(ev)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"))
      drainToMemory(spark, joined, "graft_stream_dim", f.bytes)
    }.select(col("c_mktsegment"), col("event_type"), col("n"),
        col("sv").cast("double").as("sum_value"))
  }

  case class BandRow(doc_id: Long, band: Int, sig: String)

  /** Streaming INCREMENTAL near-dup detection — the state-store twin
    * of the batch LSH dedup family: each (band, sig) bucket keeps one
    * long of state (the minimum doc id ever seen there), every
    * arriving document is assigned the bucket's running minimum as
    * its owner, and the per-doc verdict is the min owner across its
    * bands. With id-ordered arrival (the feed below guarantees it)
    * this equals the batch canonical-assignment rule "near_dup_of =
    * min id among bucket-mates with id ≤ mine" — deterministic, so
    * the DuckDB oracle replays it with a running-min window.
    *
    * State is O(#distinct band buckets) longs, watermark-free
    * (signatures never expire — a year-old duplicate is still a
    * duplicate; real deployments would TTL the store the same way
    * the fingerprint store in `dedup_incremental` is compacted).
    * Downstream per-doc min is an aggregation AFTER
    * flatMapGroupsWithState in Append mode — the one composition
    * Structured Streaming allows for exactly this pattern.
    */
  def nearDupStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // band projection shared with the batch decontamination path —
    // md5-MinHash signatures + Carter–Wegman perms (Dedup.PermCoef)
    graft.operators.Dedup.minhashBands(docs).as[BandRow]
      .groupByKey(r => (r.band, r.sig))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), rows: Iterator[BandRow],
            state: GroupState[Long]) => {
          var mn = state.getOption.getOrElse(Long.MaxValue)
          val out = rows.map(_.doc_id).toArray.sorted.map { id =>
            if (id < mn) mn = id
            (id, mn)
          }
          state.update(mn)
          out.iterator
        })
      .toDF("doc_id", "owner")
      .groupBy("doc_id")
      .agg(min(col("owner")).as("near_dup_of"))
  }

  /** WATERMARK LATE-DATA DROP (`stream_late_drop`) — the one
    * watermark semantic no other key gates directly: what happens to
    * data that arrives AFTER the watermark passed it. The feed is the
    * corpus split at its midpoint day with the LATER half landing
    * first (mtime-ordered, the stream_merge device): batch 1
    * advances the watermark to max(ts) − 2h, then batch 2 delivers
    * the ENTIRE earlier half — every row of it is now beyond the
    * watermark and must be dropped wholesale. The append-mode hourly
    * counts that emerge are therefore exactly the LATER half's
    * windows finalized below the watermark — late rows contribute
    * NOTHING, open windows at the head emit nothing — and ONE SQL
    * reproduces that from the split rule and the watermark
    * arithmetic. At 100 TB this is the semantic that bounds state:
    * the engine is ALLOWED to forget, and this key pins exactly what
    * forgetting means.
    */
  def lateDropFromFiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.withNanosAsLong(spark) {
      val raw = tsMicros(graft.Tables.parquet(spark, s"$sfDir/events.parquet"))
        .select(col("event_id"), col("ts"))
      val cut = raw.agg(
        expr("date_add(to_date(min(ts)), CAST(datediff(to_date(max(ts))," +
          " to_date(min(ts))) div 2 AS INT))").as("cutoff"))
      val late = raw.crossJoin(broadcast(cut))
        .filter(to_date(col("ts")) < col("cutoff")).drop("cutoff")
      val fresh = raw.crossJoin(broadcast(cut))
        .filter(to_date(col("ts")) >= col("cutoff")).drop("cutoff")
      val out = graft.TempDirs.create("graft_stream_late_out").toString
      val schema = withFeed(spark, "graft_stream_late") { f =>
        // the LATER half arrives FIRST — a full run over it commits the
        // advanced watermark into the checkpoint (a trailing no-data
        // micro-batch finalizes its closed windows); only THEN does the
        // earlier half land, entirely beyond the recovered watermark
        val counts = f.dump((fresh, "a.parquet", 1000000000000L))
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
        // state sized from the corpus events file, not the feed
        val events = java.nio.file.Paths.get(s"$sfDir/events.parquet")
        def runOnce(): Unit = withScaledState(spark, pathBytes(events)) {
          runQuery(spark, counts.writeStream
            .format("parquet").option("path", out)
            .option("checkpointLocation", f.ckpt)
            .outputMode("append"))(_.processAllAvailable())
        }
        runOnce()
        f.dump((late, "b.parquet", 1000000060000L))
        runOnce()
        counts.schema
      }
      graft.Tables.parquet(spark, out, Some(schema))
        .select(date_format(col("window.start"),
          "yyyy-MM-dd HH:mm:ss").as("window_start"), col("n"))
    }

  /** The file-fed gate path: documents split into id-ordered halves
    * (two parquet files with forced modification times, processed
    * oldest-first one per trigger), so the second batch's docs are
    * checked against state built by the first — a real cross-batch
    * incremental dedup, gated bit-for-bit by the batch oracle.
    */
  def nearDupFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    // feed construction only (not the operator): 1-row bounded agg
    // for the id cutoff between the two simulated ingest runs; an
    // empty documents table has no max id
    val cutoff = Option(docs.agg(max(col("doc_id"))).head().get(0))
      .fold(1L)(_.asInstanceOf[Long] / 2 + 1)
    withFeed(spark, "graft_stream_near_dup") { f =>
      // fixed past mtimes: the source processes oldest-first
      val stream = f.dump(
        (docs.filter(col("doc_id") < cutoff), "run1.parquet", 1000000000000L),
        (docs.filter(col("doc_id") >= cutoff), "run2.parquet", 1000000060000L))
      withStateFor(spark, f.bytes) {
        drainToMemory(spark, nearDupStream(stream), "graft_stream_near_dup",
          f.bytes)
      }
    }.select(col("doc_id"), col("near_dup_of"))
  }

  /** Streaming CDC apply (`stream_merge`): change batches arriving on
    * a file stream are resolved against a maintained keyed table via
    * `foreachBatch` + the batch MERGE operator — each trigger reads
    * the current table version, merges the batch
    * (Relational.mergeApply), and commits a NEW immutable version
    * directory (versioned read-modify-write, the Delta/Iceberg loop
    * without a table format). Change key sets are disjoint across the
    * feed's batches, so the version chain's final state equals the
    * one-shot batch merge — which is exactly the q_merge_upsert
    * oracle this key is gated by. foreachBatch is the one streaming
    * surface where arbitrary BATCH operators compose into a stream;
    * this key pins that surface.
    */
  def mergeStreamFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Relational
    // ONE change-batch definition shared with q_merge_upsert — the
    // shared outcome-replay oracle is only sound while both keys
    // apply the identical batch
    val base = Relational.mergeBase(spark, sfDir)
    val (updates, delins) = Relational.mergeChangeBatches(base)
    val tbl = graft.TempDirs.create("graft_stream_merge_tbl")
    base.write.mode("overwrite").parquet(s"$tbl/v0")
    @volatile var cur = s"$tbl/v0"
    withFeed(spark, "graft_stream_merge_src") { f =>
      // mtime order fixes batch order: updates first, deletes+inserts second
      val stream = f.dump((updates, "changes1.parquet", 1000000000000L),
        (delins, "changes2.parquet", 1000000060000L))
      runQuery(spark, stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val merged = Relational.mergeApply(graft.Tables.parquet(spark, cur),
            batch, "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
          val next = s"$tbl/v${id + 1}"
          merged.write.mode("overwrite").parquet(next)
          cur = next
        })(_.processAllAvailable())
    }
    graft.Tables.parquet(spark, cur)
  }

  /** CHECKPOINT-RECOVERY streaming dedup (`stream_restart`) — the
    * fault-tolerance story Structured Streaming actually ships at
    * 100 TB: source progress and dedup state live in the checkpoint,
    * the parquet sink commits exactly-once through its manifest log,
    * and a stopped query RESTARTED over the same checkpoint resumes
    * where it left off. Run 1 processes the corpus and stops; a full
    * duplicate copy then lands; run 2 — a fresh query object over the
    * same checkpoint — must emit NOTHING new, because every arriving
    * row is either a duplicate of recovered state or behind the
    * recovered watermark. The sink read-back (through the manifest,
    * so partial files from a crash would be invisible) must equal
    * the single-copy batch table — the same oracle as stream_dedup,
    * now gating recovery semantics instead of in-flight dedup.
    */
  def dedupRestartFromFiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.withNanosAsLong(spark) {
      val out = graft.TempDirs.create("graft_stream_restart_out").toString
      val schema = withFeed(spark, "graft_stream_restart") { f =>
        val deduped = dedupStream(f.link(sfDir))
        def runOnce(): Unit = withStateFor(spark, f.bytes) {
          runQuery(spark, deduped.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", f.ckpt)
            .outputMode("append"))(_.processAllAvailable())
        }
        runOnce()
        // the duplicate copy lands only AFTER the restart boundary
        f.link(sfDir)
        runOnce()
        deduped.schema
      }
      graft.Tables.parquet(spark, out, Some(schema))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"))
    }

  /** STREAMING TAIL of the DSv2 sink (`stream_sink_tail`) — the READ
    * twin of `stream_graft_sink`'s write leg and the Delta/Iceberg
    * streaming-source shape: `readStream.format(GraftSinkSource)`
    * tails committed GENERATIONS as offsets, each micro-batch exactly
    * the files the window's commits appended (planned from manifests
    * alone, O(new files) per batch — the tail never re-lists what it
    * already emitted). The key exercises the restart contract: run 1
    * tails generation 1 and stops; generation 2 commits; a restarted
    * query over the SAME checkpoint emits ONLY generation 2's rows
    * (offsets name immutable generations, so recovery re-plans the
    * same window to the same files — duplicates or gaps double or
    * starve the hash). The answer re-aggregates the tailed output and
    * gates against the full source rollup.
    */
  def sinkTail(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val out = graft.TempDirs.create("graft_stream_tail_out").toString
    val ev = graft.Tables.events(spark, sfDir)
    val roll = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("event_type"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
    val schema = withFeed(spark, "graft_stream_tail") { f =>
      def put(df: DataFrame): Unit =
        df.write.format("graft.sources.v2.GraftSinkSource")
          .option("path", f.table).mode("append").save()
      val tail = spark.readStream.format("graft.sources.v2.GraftSinkSource")
        .schema(graft.sources.v2.GraftSink.Schema)
        .option("path", f.table).load()
      def runOnce(): Unit =
        runQuery(spark, tail.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", f.ckpt))(_.processAllAvailable())
      put(roll.filter(col("user_id") % 2 === 0))
      runOnce()
      // the second generation lands only AFTER the restart boundary
      put(roll.filter(col("user_id") % 2 =!= 0))
      runOnce()
      tail.schema
    }
    graft.Tables.parquet(spark, out, Some(schema)).groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_events"),
        sum(col("sum_value")).cast("double").as("total_value"))
  }

  /** STREAMING CHANGE FEED of the sink (`stream_sink_cdc`,
    * `readStream` with `mode=cdc`) — the CDC stream that stays alive
    * across the REPLACE commits the append-only tail refuses by
    * contract: each micro-batch emits the manifest-diff delta between
    * its endpoint generations as signed (row, action) changes. The
    * key drives the full lifecycle across THREE restart boundaries —
    * run 1 consumes two append generations (insert partitions), a
    * MERGE-ON-READ delete then moves a delete vector and run 2 emits
    * exactly the newly-masked rows as deletes (the DV-delta
    * partition), and a full COMPACTION rewrite then swaps every file
    * and run 3's insert+delete pairs must cancel EXACTLY in the
    * signed fold (the rewrite-survivor contract). The answer
    * sign-folds the feed per event type and gates against the
    * post-delete source recompute — a missed window, a wrong sign, a
    * double-emitted survivor, or a DV mask applied to the wrong side
    * all hash-fail.
    */
  def sinkCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val out = graft.TempDirs.create("graft_stream_cdc_out").toString
    val ev = graft.Tables.events(spark, sfDir)
    val roll = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      .select(col("user_id"), col("event_type"), col("n"),
        col("sv").cast(DecimalType(18, 2)).as("sum_value"))
    val schema = withFeed(spark, "graft_stream_cdc") { f =>
      def put(df: DataFrame): Unit =
        df.write.format("graft.sources.v2.GraftSinkSource")
          .option("path", f.table).mode("append").save()
      val changes = spark.readStream.format("graft.sources.v2.GraftSinkSource")
        .schema(graft.sources.v2.GraftSink.Schema)
        .option("path", f.table).option("mode", "cdc").load()
      def runOnce(): Unit =
        runQuery(spark, changes.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", f.ckpt))(_.processAllAvailable())
      put(roll.filter(col("user_id") % 2 === 0))
      put(roll.filter(col("user_id") % 2 =!= 0))
      runOnce() // window 0→2: append partitions
      graft.sources.v2.GraftSink.deleteWhereMor(spark, f.table,
        col("user_id") % 7 === 0)
      runOnce() // window 2→3: delete-vector delta partitions
      graft.sources.v2.GraftSink.compact(spark, f.table,
        targetRows = Long.MaxValue)
      runOnce() // window 3→4: rewrite — insert/delete pairs must cancel
      changes.schema
    }
    graft.Tables.parquet(spark, out, Some(schema))
      .withColumn("sign",
        when(col("action") === "insert", lit(1L)).otherwise(lit(-1L)))
      .groupBy("event_type")
      .agg(sum(col("sign")).as("n_keys"),
        sum(col("sign") * col("n")).as("n_events"),
        sum(col("sign") * col("sum_value")).cast("double")
          .as("total_value"))
  }

  /** Streaming dedup EXACTLY-ONCE into the custom DSv2 GraftSink
    * (`stream_graft_sink`) — `stream_restart`'s recovery gate
    * retargeted at the sink's own generation-commit protocol instead
    * of Spark's built-in parquet sink. Each micro-batch commits
    * through `foreachBatch` with a per-epoch `txn` idempotency key:
    * the sink's manifest ledger skips a replayed epoch wholesale, so
    * at-least-once batch delivery becomes exactly-once visibility.
    * The key exercises all three legs: (1) run 1 streams the corpus
    * into the sink and stops; (2) a full duplicate copy lands and a
    * restarted query over the same checkpoint recovers state and
    * emits nothing new; (3) a DUPLICATE DELIVERY of epoch 0 is then
    * fired straight at the sink with epoch 0's txn id — the ledger
    * must publish nothing, or the read-back doubles and the hash
    * gate fails. The answer is the manifest-scoped read-back, gated
    * against the single-copy batch oracle (stream_dedup's SQL).
    */
  def dedupToGraftSink(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.withNanosAsLong(spark) {
      val out = graft.TempDirs.create("graft_stream_gsink_out").toString
      // TSV-serializable shape: the event-time formats to a string,
      // doubles round-trip exactly (Double.toString ∘ parseDouble = id)
      def shape(df: DataFrame): DataFrame = df.select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id", LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      withFeed(spark, "graft_stream_gsink") { f =>
        val deduped = dedupStream(f.link(sfDir))
        def runOnce(): Unit = withStateFor(spark, f.bytes) {
          runQuery(spark, deduped.writeStream
            .foreachBatch { (batch: DataFrame, id: Long) =>
              shape(batch).write.format("graft.sources.v2.GraftSinkSource")
                .option("path", out).option("txn", s"epoch-$id")
                .mode("append").save()
            }
            .option("checkpointLocation", f.ckpt))(_.processAllAvailable())
        }
        runOnce()
        // the duplicate copy lands only AFTER the restart boundary
        f.link(sfDir)
        runOnce()
      }
      // leg 3 — duplicate DELIVERY of a whole committed epoch: replay
      // epoch 0's payload (its batch twin) with epoch 0's txn id; the
      // manifest ledger must skip the commit or the hash gate doubles
      shape(tsMicros(graft.Tables.parquet(spark, s"$sfDir/events.parquet")))
        .dropDuplicates("event_id")
        .write.format("graft.sources.v2.GraftSinkSource")
        .option("path", out).option("txn", "epoch-0")
        .mode("append").save()
      graft.sources.v2.GraftSink.readBack(spark, out, sinkSchema)
    }

  /** STREAMING INGEST + AUTO-COMPACTION (`stream_sink_compact`) —
    * the maintenance loop run WHERE small files are born: every
    * epoch appends its micro-batch to the sink (per-epoch txn
    * ledger), then ONE bounded history-row read prices the layout
    * and, past `fileBudget` live files, compacts the store inside
    * the same loop — the auto-OPTIMIZE production streaming tables
    * schedule next to ingest (Delta auto-compaction), composing
    * `stream_graft_sink`'s epoch protocol with `q_sink_compact`'s
    * rewrite. Steady state at 100 TB: file count saw-tooths around
    * the budget instead of growing with stream lifetime, readers CAS
    * between layouts, and every compaction is content-invariant.
    *
    * Gate: the answer carries the final rollup PLUS the observed
    * (n_files, n_compactions); the oracle replays the whole
    * maintenance recurrence arithmetically (epochs × files-per-epoch
    * against the budget in a recursive CTE) — a lost row, a skipped
    * or spurious compaction, or a wrong post-compaction layout all
    * hash-fail.
    */
  def sinkCompactLoop(spark: SparkSession, sfDir: String,
      fileBudget: Int = 8, feedFiles: Int = 6,
      filesPerEpoch: Int = 2): DataFrame = {
    import graft.sources.v2.GraftSink
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val out = graft.TempDirs.create("graft_stream_compact_out").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType)))
    val nCompactions = new java.util.concurrent.atomic.AtomicLong(0)
    withFeed(spark, "graft_stream_compact") { f =>
      val stream = f.split(docs, feedFiles)
      // the DuckDB oracle replays the maintenance recurrence from the
      // REGISTRY constants (feedFiles epochs x filesPerEpoch appends vs
      // the budget) — these checks turn the two assumptions that
      // recurrence rests on into loud failures instead of silent gate
      // divergence: (1) the feed write produced exactly one parquet
      // part per epoch, (2) each epoch has enough rows that the
      // round-robin repartition leaves no empty partition (an empty
      // partition writes no file and breaks files-per-epoch)
      val nFeedParts =
        f.dir.toFile.listFiles().count(_.getName.endsWith(".parquet"))
      require(nFeedParts == feedFiles,
        s"feed wrote $nFeedParts parts, oracle recurrence assumes $feedFiles")
      runQuery(spark, stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // round-robin into a deterministic per-epoch file count — the
          // small-file pressure the loop exists to manage
          val n = batch.count()
          require(n >= filesPerEpoch,
            s"epoch $id has $n rows < $filesPerEpoch — an empty " +
              "round-robin partition would write fewer files than the " +
              "oracle's recurrence assumes")
          batch.repartition(filesPerEpoch)
            .write.format("graft.sources.v2.GraftSinkSource")
            .option("path", out).option("txn", s"epoch-$id")
            .mode("append").save()
          val live = GraftSink.history(spark, out)
            .orderBy(col("generation").desc).limit(1)
            .select("n_files").first().getLong(0)
          if (live > fileBudget) {
            GraftSink.compact(spark, out, Long.MaxValue, schema)
            nCompactions.incrementAndGet()
          }
          ()
        }
        .option("checkpointLocation", f.ckpt))(_.processAllAvailable())
    }
    val finalFiles = GraftSink.history(spark, out)
      .orderBy(col("generation").desc).limit(1)
      .select("n_files").first().getLong(0)
    GraftSink.readBack(spark, out, schema)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(finalFiles).as("n_files"),
        lit(nCompactions.get()).as("n_compactions"))
  }

  /** STREAMING WRITE–AUDIT–PUBLISH (`stream_sink_wap`) — the
    * production streaming ingest gate, composing `stream_graft_sink`
    * (foreachBatch + txn-ledger exactly-once epochs) with
    * `q_sink_publish` (shallow-clone branch, publishClone
    * fast-forward): epochs stream into a BRANCH of the parent table,
    * the audit queries the STAGED TABLE with full power (cross-epoch
    * duplicate check against the whole history, not just the incoming
    * batch), and only a clean audit fast-forwards the parent — one
    * CAS commit, readers never see a partially-ingested or
    * un-audited state. A dirty epoch QUARANTINES the branch: nothing
    * publishes, the parent head is untouched, and the staged rows
    * stay on the branch for forensics (spec-pinned via `dirty`).
    *
    * At 100 TB this is the shape streaming ingest needs: per-epoch
    * commits land on branch manifests (O(new files) each, the
    * exactly-once ledger riding the same CAS), the audit is one
    * distributed pass over the staged table, and the publish moves
    * no data bytes that the branch didn't already write.
    */
  def sinkWap(spark: SparkSession, sfDir: String,
      dirty: Option[DataFrame] = None): DataFrame = {
    import graft.sources.v2.GraftSink
    val parent = graft.TempDirs.create("graft_stream_wap_p").toString
    val branch = graft.TempDirs.create("graft_stream_wap_b").toString + "/t"
    val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType),
      org.apache.spark.sql.types.StructField("n_chars", LongType)))
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val thr = docs.agg(
      floor((min(col("doc_id")) + max(col("doc_id"))) / lit(2.0))
        .cast("long").as("t"))
    def half(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : DataFrame =
      docs.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    // the parent's published baseline: the id-lower half
    half(col("doc_id") <= _)
      .write.format("graft.sources.v2.GraftSinkSource")
      .option("path", parent).mode("append").save()
    GraftSink.cloneShallow(parent, branch)
    // the feed: the upper half in two files (⇒ two epochs, one file
    // per trigger), plus an optional planted dirty epoch
    withFeed(spark, "graft_stream_wap") { f =>
      val stream = f.split(half(col("doc_id") > _))
      dirty.foreach(d => f.split(d.select(col("doc_id").cast("long"),
        col("n_chars").cast("long")), 1))
      runQuery(spark, stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.format("graft.sources.v2.GraftSinkSource")
            .option("path", branch).option("txn", s"epoch-$id")
            .mode("append").save()
        }
        .option("checkpointLocation", f.ckpt))(_.processAllAvailable())
    }
    // the AUDIT, over the staged TABLE (inherited baseline + every
    // streamed epoch): key uniqueness across the WHOLE history and a
    // per-row sanity rule — cross-epoch invariants a batch-local
    // check cannot see
    val a = GraftSink.readBack(spark, branch, sinkSchema)
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"),
        sum(when(col("n_chars") <= 0L, 1L).otherwise(0L)).as("bad"))
      .first()
    val auditPass = a.getLong(0) == a.getLong(1) && a.getLong(2) == 0L
    val preGen = GraftSink.versions(parent).max
    if (auditPass) GraftSink.publishClone(parent, branch)
    def roll(df: DataFrame, phase: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(phase).as("phase"), col("n_rows"), col("sum_chars"),
          lit(auditPass).as("audit_pass"))
    roll(GraftSink.readBackAsOf(spark, parent, preGen, sinkSchema),
        "before")
      .unionByName(roll(GraftSink.readBack(spark, parent, sinkSchema),
        "after"))
  }

  /** Streaming ingest-time curation (`stream_curate`): the stateless
    * Gopher-keep + language-prediction gate
    * (TextAnalysis.curateGateOver) run in APPEND mode over a
    * multi-file document feed. The operator carries NO state — the
    * point being demonstrated: front-line quality curation composes
    * into Structured Streaming untouched, every batch is independent,
    * and the union of batch outputs equals the batch run (which is
    * exactly what the DuckDB oracle checks). maxFilesPerTrigger=1
    * forces multiple triggers so append-across-batches is what's
    * gated, not a single-batch degenerate case.
    */
  def curateFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    // parquet file sink, not memory: the kept documents are
    // corpus-sized (see sessionsFromFiles)
    withFeed(spark, "graft_stream_curate_src") { f =>
      drainToFiles(spark,
        graft.operators.TextAnalysis.curateGateOver(f.split(docs)),
        "graft_stream_curate")(_.processAllAvailable())
    }.select(col("doc_id"), col("n_words"), col("pred_lang"))
  }

  /** `Dataset.observe` on a STREAMING query — the per-batch
    * observability surface: exact input counters ride each
    * micro-batch's own pass (CollectMetrics under the streaming
    * plan), surfacing in every `StreamingQueryProgress.observedMetrics`
    * with zero extra scans. The counters are ADDITIVE, so summing
    * them across the two forced batches must reproduce the batch
    * aggregate exactly — which is what the oracle gates. At 100 TB
    * this is how a streaming ingest reports per-trigger data health
    * without a second read of the trigger's files.
    */
  def observeStreamFromFiles(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val (nRows, sumV, nPurch) = withFeed(spark, "graft_stream_obs_src") { f =>
      val agg = f.split(ev)
        .observe("graft_stream_obs",
          count(lit(1)).as("n_rows"),
          sum(col("v")).as("sum_value"),
          count(when(col("event_type") === "purchase", lit(1)))
            .as("n_purchase"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      // the sink rows are never read; per-batch observed metrics are
      // additive across the feed
      readMemorySink(spark, agg, "graft_stream_obs", f.bytes) { (_, q) =>
        q.recentProgress.flatMap(p =>
            Option(p.observedMetrics.get("graft_stream_obs")))
          .foldLeft((0L, BigDecimal(0), 0L)) { (acc, row) =>
            (acc._1 + row.getLong(0),
              acc._2 + (row.get(1) match {
                case null => BigDecimal(0) // an empty batch sums to null
                case d: java.math.BigDecimal => BigDecimal(d)
              }),
              acc._3 + row.getLong(2))
          }
      }
    }
    import spark.implicits._
    Seq((nRows, sumV.toDouble, nPurch))
      .toDF("n_rows", "sum_value", "n_purchase")
  }

  case class TwsAlert(user_id: Long, threshold: Long)

  /** Spark 4 `transformWithState` (the StatefulProcessor arbitrary-
    * state API, successor to flatMapGroupsWithState): per-user
    * LOG-THROTTLED alerting — emit one row each time a user's
    * lifetime event count crosses a power of two (1, 2, 4, 8, …).
    * This is genuinely ARBITRARY state logic: rows are emitted
    * conditionally mid-stream from custom state transitions, which no
    * built-in streaming aggregate expresses (an agg yields one row
    * per key per trigger, not one per crossing).
    *
    * Correctness discipline: the count in `ValueState` is ADDITIVE
    * and threshold crossings in (prev, cur] depend only on the
    * running total, so the emitted SET is independent of batch split
    * and within-batch order — the batch oracle (every power of two ≤
    * each user's total count, integer shifts on both engines) gates
    * it bit-for-bit. Input is a single copy split into two files with
    * maxFilesPerTrigger=1, forcing a cross-batch state carry.
    *
    * The operator requires the RocksDB state store provider (the
    * multi-column-family store transformWithState is built on),
    * scoped to this query and restored after. At 100 TB the state is
    * ONE long per user in RocksDB — the store the API was built to
    * scale on.
    */
  def twsPowerAlertsFromFiles(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]
    withFeed(spark, "graft_stream_tws_src") { f =>
      val stream = f.split(ev.toDF()).as[Event]
      withRocksDbState(spark) {
        val alerts = stream.groupByKey(_.user_id)
          .transformWithState(new PowerAlertProcessor(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[TwsAlert])
        drainToMemory(spark, alerts.toDF(), "graft_stream_tws",
          f.bytes, "append")
      }
    }.select(col("user_id"), col("threshold"))
  }

  /** INCREMENTAL k-means codebook maintenance over a stream: the
    * per-cluster (n, Σu) `VecSumAgg` partials that make batch
    * distributed k-means one pass per iteration ride the STATE STORE
    * across triggers instead — new vectors update their cluster's
    * fixed k×(d+1) state and the refined centroids stay current
    * without re-scanning history. This is the `stream_moments` recipe
    * applied to `q_embed_kmeans`'s training aggregate: assignment
    * runs against the frozen sample-trained init codebook (a
    * broadcast kernel constant — re-assigning history under a moving
    * codebook is a batch refit's job, not a stream's), so the drained
    * state IS one exact Lloyd refinement over everything seen.
    *
    * Sums are ADDITIVE (replay would double them), so the input is a
    * SINGLE corpus copy split into two files with maxFilesPerTrigger=1
    * — the cross-batch state carry is still forced. At 100 TB the
    * state is k fixed-width buffers; it does not grow with the
    * stream. Output per cluster: size, refined-centroid norm, and the
    * drift from the init codebook. Rows-gated (Lloyd geometry — the
    * family's declared regime); the spec pins the drained state equal
    * to the batch one-iteration refit on the same feed.
    */
  def kmeansFromFiles(spark: SparkSession, sfDir: String,
      k: Int = graft.operators.Similarity.KmClusters): DataFrame = {
    import spark.implicits._
    import graft.functions.CatalystExprs.{centroid_probes, dot_product}
    import graft.operators.Similarity
    val all = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
    val cents = Similarity.lloyd(Similarity.unitSample(all), k,
      Similarity.PqLloydIters)
    val d = cents(0).length
    // k bounded rows of drained state -> refined centroids
    val drained = withFeed(spark, "graft_stream_kmeans_src") { f =>
      val agg = f.split(all.select(col("v"), col("norm")))
        .select(element_at(centroid_probes(col("v"), col("norm"), cents, 1), 1)
          .as("cid"), col("v"), col("norm"))
        .as[(Int, Seq[Double], Double)]
        .groupByKey(_._1)
        .agg(graft.functions.VecSumAgg.agg(d).toColumn)
        .toDF("cid", "buf")
      readMemorySink(spark, agg, "graft_stream_kmeans", f.bytes)(
        (rows, _) => rows.collect())
    }
    val rows = drained.map { r =>
      val cid = r.getInt(0)
      val buf = r.getStruct(1)
      val n = buf.getLong(0)
      val s = buf.getSeq[Double](1)
      val c0 = cents(cid)
      val c1 = if (n > 0) s.map(_ / n).toArray else c0
      val cnorm = math.sqrt(c1.map(x => x * x).sum)
      val shift = math.sqrt(
        c1.zip(c0).map { case (a, b) => (a - b) * (a - b) }.sum)
      (cid.toLong, n, cnorm, shift)
    }.toSeq
    rows.toDF("cluster_id", "n", "cnorm0", "shift0")
      .select(col("cluster_id"), col("n"),
        round(col("cnorm0"), 6).as("cnorm"),
        round(col("shift0"), 6).as("shift"))
  }

  case class EwmaIn(event_type: String, day: java.sql.Date, y: Long)
  case class EwmaOut(event_type: String, day: java.sql.Date, y: Long,
      ewma: Double, out_of_control: Option[Boolean])
  case class EwmaParams(mu0: Double, limits: Option[(Double, Double)])

  /** Streaming EWMA CONTROL CHART — `q_ewma_chart`'s monitor moved
    * onto the state store, which is where SPC naturally lives (the
    * whole point of EWMA is that tomorrow's alert needs ONE number
    * of state, not the history): control limits are CONFIGURED FROM
    * THE BASELINE period (first 15 days — the classic phase-I/
    * phase-II split, and the steady-state limit μ₀ ± L·σ₀·√(λ/(2−λ))
    * a long-running monitor converges to), then each day's count
    * folds into the per-type z = (y + 3z)/4 as it arrives, the
    * single ValueState[Double] carrying z across triggers.
    *
    * Fully DuckDB-oracle-gated: the recursion is the q_ewma_chart
    * dyadic dag seeded at μ₀, replayed by a recursive CTE; days
    * arrive in order (two fixed-mtime feed files split at the
    * baseline cut, batch rows sorted by day inside the handler), so
    * the drained stream is bit-identical to the batch fold. At
    * 100 TB the state is one double per type; the corpus-sized work
    * is the daily rollup the feed is built from.
    */
  def ewmaFromFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
    val daily = ev
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cut = ev.agg(date_add(to_date(min(col("ts"))), 15).as("cut"))
    // phase-I parameters: exact integer moments over the baseline
    // half, limits computed IN THE COLUMN DAG (bit-identical to the
    // oracle's), collected as the monitor's bounded per-type config
    val lims = daily.crossJoin(broadcast(cut))
      .filter(col("day") < col("cut"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("ss"))
      .select(col("event_type"),
        (col("s").cast("double") / col("n").cast("double")).as("mu0"),
        when(col("n") > 1,
          sqrt((col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")) / (col("n") - 1).cast("double")))
          .as("sigma0"))
      .withColumn("hi", col("mu0") + lit(3.0) * col("sigma0") *
        sqrt(lit(0.25) / lit(1.75)))
      .withColumn("lo", col("mu0") - lit(3.0) * col("sigma0") *
        sqrt(lit(0.25) / lit(1.75)))
      .localCheckpoint()
    val params = lims.collect().map { r =>
      r.getString(0) -> EwmaParams(r.getDouble(1),
        if (r.isNullAt(2)) None
        else Some((r.getDouble(4), r.getDouble(3))))
    }.toMap
    val withCut = daily.crossJoin(broadcast(cut))
    withFeed(spark, "graft_stream_ewma") { f =>
      // fixed past mtimes: the source processes oldest-first
      val stream = f.dump(
        (withCut.filter(col("day") < col("cut")).drop("cut"),
          "run1.parquet", 1000000000000L),
        (withCut.filter(col("day") >= col("cut")).drop("cut"),
          "run2.parquet", 1000000060000L)).as[EwmaIn]
      // both consumers (the limits collect, the two feed dumps) have
      // run — the rollup's blocks are dead weight from here on
      daily.unpersist(blocking = false)
      withRocksDbState(spark) {
        val out = stream.groupByKey(_.event_type)
          .transformWithState(new EwmaProcessor(params),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[EwmaOut])
        drainToMemory(spark, out.toDF(), "graft_stream_ewma", f.bytes,
          "append")
      }
    }.join(broadcast(lims
        .select(col("event_type"), col("hi"), col("lo"))), "event_type")
      .select(col("event_type"), col("day"), col("y"),
        round(col("ewma"), 6).as("ewma"),
        round(col("hi"), 6).as("ucl"), round(col("lo"), 6).as("lcl"),
        col("out_of_control"))
  }
}

/** The StatefulProcessor: one `ValueState[Long]` per user holds the
  * lifetime count; each batch advances it by the batch's row count
  * and emits the power-of-two thresholds crossed in (prev, cur] —
  * integer arithmetic only (highestOneBit shifts), so the oracle's
  * `1 << k` replay is exact.
  */
/** The EWMA StatefulProcessor: one `ValueState[Double]` per event
  * type carries z across triggers; each batch's days fold in DAY
  * ORDER through the dyadic z = (y + 3z)/4 update (the same
  * correctly-rounded op sequence the oracle's recursive CTE runs, so
  * the drained stream hash-gates). Types absent from the baseline
  * config emit nothing (the oracle's inner join).
  */
class EwmaProcessor(params: Map[String, EventStreams.EwmaParams])
    extends org.apache.spark.sql.streaming
    .StatefulProcessor[String, EventStreams.EwmaIn, EventStreams.EwmaOut] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}

  @transient private var zState: org.apache.spark.sql.streaming.ValueState[Double] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    zState = getHandle.getValueState[Double]("z",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[EventStreams.EwmaIn],
      timerValues: TimerValues): Iterator[EventStreams.EwmaOut] =
    params.get(key) match {
      case None => Iterator.empty
      case Some(p) =>
        var z = if (zState.exists()) zState.get() else p.mu0
        val out = rows.toArray.sortBy(_.day.getTime).map { r =>
          z = (r.y.toDouble + 3.0 * z) / 4.0
          EventStreams.EwmaOut(r.event_type, r.day, r.y, z,
            p.limits.map { case (lo, hi) => z > hi || z < lo })
        }
        zState.update(z)
        out.iterator
    }
}

class PowerAlertProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, EventStreams.Event, EventStreams.TwsAlert] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}

  @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("n",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[EventStreams.Event],
      timerValues: TimerValues): Iterator[EventStreams.TwsAlert] = {
    val prev = if (count.exists()) count.get() else 0L
    val cur = prev + rows.size
    count.update(cur)
    var t = if (prev == 0L) 1L else java.lang.Long.highestOneBit(prev) << 1
    val out = scala.collection.mutable.ArrayBuffer.empty[EventStreams.TwsAlert]
    while (t <= cur) {
      out += EventStreams.TwsAlert(key, t)
      t <<= 1
    }
    out.iterator
  }

}
