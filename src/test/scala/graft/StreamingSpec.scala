package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("streaming hourly counts equal the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0),
      Event(4, ts(70), 1, "click", 4.0))
    input.addData(events: _*)
    val q = EventStreams.hourlyCounts(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hourly_out")
      .select("hour", "event_type", "n", "sum_value")
    val want = events.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming theta sketch accumulates across batches and " +
      "absorbs replayed users") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val agg = input.toDF()
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy("event_type")
      .agg(graft.functions.ThetaSketch.theta_sketch(col("uid"), 1024).as("sk"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("theta_out").start()
    // batch 1: users 1..100; batch 2: users 51..150 — the sketch state
    // must carry across the trigger AND dedupe the 50-user overlap
    input.addData((1 to 100).map(u => Event(u.toLong, ts(u % 60), u.toLong, "click", 1.0)): _*)
    q.processAllAvailable()
    input.addData((51 to 150).map(u => Event(200L + u, ts(u % 60), u.toLong, "click", 1.0)): _*)
    q.processAllAvailable()
    q.stop()
    val est = spark.table("theta_out")
      .select(graft.functions.ThetaSketch.theta_estimate(col("sk"), 1024).as("users"))
      .head().getLong(0)
    spark.catalog.dropTempView("theta_out")
    assert(est == 150, s"expected exact 150 distinct users, got $est")
  }

  test("streaming dedup drops repeated event ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(1), 1, "click", 1.0), // dup id within watermark
      Event(2, ts(2), 1, "view", 2.0))
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out")
    assert(got.count() == 2)
    assert(got.select("event_id").distinct().count() == 2)
  }

  test("file-source streaming over parquet matches the batch rollup") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-stream-src").toString
    val batch = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir)
    val q = graft.streaming.EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("file_hourly").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("file_hourly")
    val want = batch
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming sessionize equals batch sessionize on the real events table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val input = MemoryStream[Event]
    input.addData(events.toSeq: _*)
    val q = graft.streaming.EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_full").start()
    q.processAllAvailable()
    // sentinel far past every session end → watermark closes them all
    val sentinel = Event(-1L,
      new Timestamp(events.last.ts.getTime + 365L * 86400 * 1000), -1L, "x", 0.0)
    input.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_full")
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"))
    val want = graft.operators.Relational.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"streaming sessions diverge from batch: got=${got.count()} want=${want.count()}")
  }

  test("streaming sessionize equals batch on OUT-OF-ORDER input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event].collect()
    // deterministic shuffle WITHIN the watermark horizon: deliver in
    // 30-min buckets, events inside each bucket reversed — late events
    // that extend sessions backwards or split earlier sessions
    val scrambled = events
      .groupBy(_.ts.getTime / (30 * 60 * 1000))
      .toSeq.sortBy(_._1)
      .flatMap(_._2.sortBy(e => (-e.ts.getTime, e.event_id)))
    val input = MemoryStream[Event]
    val q = graft.streaming.EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_ooo").start()
    scrambled.grouped(500).foreach { chunk =>
      input.addData(chunk: _*)
      q.processAllAvailable()
    }
    val sentinel = Event(-1L,
      new Timestamp(events.map(_.ts.getTime).max + 365L * 86400 * 1000),
      -1L, "x", 0.0)
    input.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_ooo")
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"))
    val want = graft.operators.Relational.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"OOO streaming sessions diverge: got=${got.count()} want=${want.count()}")
  }

  test("sessionize emits closed sessions INCREMENTALLY for an always-active user") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_inc").start()
    // the user NEVER goes quiet — closed sessions must still emit
    // (via chained watermark timeouts), keeping state bounded
    input.addData(Event(1, ts(0), 1, "c", 1.0), Event(2, ts(10), 1, "c", 1.0))
    q.processAllAvailable()
    input.addData(Event(3, ts(300), 1, "c", 1.0))
    q.processAllAvailable()
    assert(spark.table("sess_inc").count() == 1,
      "first closed session not emitted while user still active")
    input.addData(Event(4, ts(600), 1, "c", 1.0))
    q.processAllAvailable()
    assert(spark.table("sess_inc").count() == 2,
      "second closed session not emitted while user still active")
    q.stop()
  }

  test("stream-stream interval join pairs purchases with prior clicks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(30), 1, "purchase", 5.0), // joins click 1 (30m before)
      Event(3, ts(200), 1, "purchase", 5.0), // no click within 1h
      Event(4, ts(10), 2, "click", 1.0),
      Event(5, ts(100), 2, "purchase", 5.0)) // click 90m before → no join
    val q = EventStreams.purchaseClickJoin(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L)))
  }

  test("streaming sessionization closes sessions at the 30-min gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // user 1: two events 10 min apart (one session), then 40-min gap
    // → second session; a far-future event advances the watermark so
    // both of user 1's sessions time out and get emitted.
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 1.0),
      Event(3, ts(50), 1, "click", 1.0))
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    input.addData(Event(99, ts(600), 2, "click", 1.0)) // watermark push
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out")
      .orderBy("session_start").collect()
    assert(got.length == 2, s"expected 2 closed sessions, got ${got.length}")
    assert(got(0).getAs[Timestamp]("session_start") == ts(0))
    assert(got(0).getAs[Timestamp]("session_end") == ts(10))
    assert(got(0).getAs[Long]("n_events") == 2)
    assert(got(1).getAs[Timestamp]("session_start") == ts(50))
    assert(got(1).getAs[Long]("n_events") == 1)
  }

  test("streaming KLL quantiles equal the batch exact quantiles " +
      "(state carried across the two-file feed)") {
    val got = EventStreams.kllFromFiles(spark, sf)
    val exp = Tables.documents(spark, sf)
      .groupBy("lang")
      .agg(expr(
        "percentile(CAST(n_chars AS DOUBLE), array(0.25, 0.5, 0.75))")
        .as("q"))
      .select(col("lang"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"))
    val joined = got.join(exp, "lang").cache()
    assert(joined.count() == exp.count())
    assert(joined.filter(
      abs(got("p25") - exp("p25")) > 1e-9 ||
      abs(got("p50") - exp("p50")) > 1e-9 ||
      abs(got("p75") - exp("p75")) > 1e-9).isEmpty)
  }

  test("streaming Misra-Gries top-k equals the batch top-5 per language " +
      "(sketch state carried across the two-file feed)") {
    // PRECONDITION for exactness, asserted so a corpus change fails
    // HERE and not as a confusing count mismatch below: Misra-Gries
    // retained counts are exact only while k=64 >= the per-language
    // distinct-word vocabulary (no evictions ever fire)
    val maxVocab = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"),
        graft.operators.TextMapReduce.WordSplit)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang").agg(countDistinct(col("word")).as("nd"))
      .agg(max(col("nd"))).head.getLong(0)
    assert(maxVocab < 64,
      s"per-language vocabulary $maxVocab >= sketch k=64: topkFromFiles " +
        "leaves the exact regime; raise k or re-gate as approximate")
    val got = EventStreams.topkFromFiles(spark, sf)
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("count").desc, col("word"))
    val exp = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"),
        graft.operators.TextMapReduce.WordSplit)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").count()
      .withColumn("rnk", row_number().over(byLang).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("word"), col("count").as("cnt"), col("rnk"))
    assert(got.count() == exp.count() && exp.count() > 0)
    assert(got.join(exp, Seq("lang", "word", "cnt", "rnk"), "left_anti").isEmpty)
  }

  test("streaming CMS counts equal the batch exact counts " +
      "(additive state carried across the two-file feed)") {
    val got = EventStreams.cmsFromFiles(spark, sf)
    val exp = Tables.events(spark, sf).groupBy("event_type").count()
    val joined = got.join(exp, "event_type").cache()
    assert(joined.count() == exp.count() && exp.count() > 0)
    assert(joined.filter(col("cnt") =!= col("count")).isEmpty)
  }

  test("streaming exact moments equal the batch decimal moment sums " +
      "bit-for-bit (state carried across the two-file feed)") {
    val got = EventStreams.momentsFromFiles(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
    val exp = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .select(col("event_type"), col("n"),
        round(col("s1").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round((col("n").cast("double") * col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))),
          6).as("var_samp"),
        col("mn").cast("double").as("vmin"),
        col("mx").cast("double").as("vmax"))
    // decimal state ⇒ trigger/partition order cannot move the result:
    // exact set equality, no tolerance
    assert(got.count() == exp.count() && exp.count() > 0)
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty)
  }

  test("streaming drift PSI equals the batch drift report frame-for-frame " +
      "(bucket counts carried across the two-file feed)") {
    val got = EventStreams.driftFromFiles(spark, sf)
    val exp = graft.operators.Pipeline.driftPsi(spark, sf)
    assert(got.count() == exp.count() && exp.count() > 0)
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty)
    // the conventional stability bar holds on the id-split corpus:
    // both halves come from one distribution, so Σ terms < 0.1
    assert(got.agg(sum(abs(col("psi_term")))).head().getDouble(0) < 0.1)
  }

  test("streaming near-dup: a run-2 copy is caught against run-1 state " +
      "and the stream equals the batch window replay") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base),                                   // run 1 original
      (1L, "totally different words entirely here unlike anything else"),
      (2L, base + " phi"),                          // run-1 near-dup of 0
      (10L, base + " chi psi"),                     // run 2: near-dup of 0
      (11L, "unique second run content nothing shares these tokens ever"))
      .toDF("doc_id", "text")
    val dir = TempDirs.create("graft_stream_neardup_spec").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = EventStreams.nearDupFromFiles(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cutoff = max/2 + 1 = 6: docs 0,1,2 are run 1; 10,11 run 2.
    // doc 10 shares every 3-shingle prefix with doc 0 → all four
    // bands collide → owner 0, detected purely from run-1 state
    assert(got(10L) == 0L, s"cross-batch near-dup missed: $got")
    assert(got(2L) == 0L, s"within-batch near-dup missed: $got")
    assert(got(0L) == 0L && got(1L) == 1L && got(11L) == 11L,
      s"unique docs must own themselves: $got")
    // full equality vs the batch running-min replay on the real corpus
    val stream = EventStreams.nearDupFromFiles(spark, sf)
    val bands = graft.operators.Dedup.minhashBands(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val batch = bands
      .withColumn("owner", min(col("doc_id")).over(
        Window.partitionBy(col("band"), col("sig"))
          .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id").agg(min(col("owner")).as("near_dup_of"))
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
      "stream and batch near-dup assignments diverge")
  }

  test("streaming WAP: a dirty epoch quarantines the branch — the " +
      "parent publishes nothing, the staged rows survive for forensics") {
    import spark.implicits._
    // a planted dirty epoch: n_chars <= 0 trips the audit's per-row
    // sanity rule (the doc_id cannot collide with any corpus id)
    val dirty = Seq((-1L, -5L)).toDF("doc_id", "n_chars")
    val out = EventStreams.sinkWap(spark, sf, dirty = Some(dirty))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out("before").getBoolean(3) && !out("after").getBoolean(3),
      "the audit must fail on the dirty epoch")
    // publish refused: parent head == parent baseline, byte for byte
    assert(out("after").getLong(1) == out("before").getLong(1) &&
      out("after").getLong(2) == out("before").getLong(2),
      "a dirty branch must never fast-forward the parent")
    // and the clean path still publishes (the gated key's regime)
    val clean = EventStreams.sinkWap(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(clean("after").getBoolean(3) &&
      clean("after").getLong(1) > clean("before").getLong(1))
  }

  test("streaming CDC apply equals the one-shot batch merge") {
    val got = EventStreams.mergeStreamFromFiles(spark, sf)
    val want = graft.operators.Relational.mergeUpsert(spark, sf)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "versioned foreachBatch merge diverges from the one-shot merge")
  }

  test("checkpoint recovery: restarted query over recovered state " +
      "emits nothing for a duplicate corpus copy; sink equals batch") {
    val got = EventStreams.dedupRestartFromFiles(spark, sf).cache()
    val want = Tables.events(spark, sf)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // equality vs the SINGLE-copy table: if checkpoint state (or the
    // sink manifest) were lost across the restart, the second copy
    // would re-emit and double the rows
    assert(got.count() == want.count(),
      s"restart re-emitted rows: ${got.count()} vs ${want.count()}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "restart sink diverges from the single-copy batch table")
    got.unpersist()
  }

  test("streaming curation gate equals the batch gate (stateless ⇒ " +
      "append union is batch output)") {
    val stream = EventStreams.curateFromFiles(spark, sf)
    val batch = graft.operators.TextAnalysis.curateGateOver(
      Tables.documents(spark, sf))
    assert(stream.count() > 0, "gate kept nothing — vacuous")
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
      "stream and batch curation outputs diverge")
  }

  test("streaming observe: per-batch metrics sum to the batch audit " +
      "across the forced two-batch feed") {
    val m = EventStreams.observeStreamFromFiles(spark, sf).head
    val ev = Tables.events(spark, sf)
    assert(m.getLong(0) == ev.count())
    assert(m.getLong(2) ==
      ev.filter(col("event_type") === "purchase").count())
    val want = ev.agg(
      sum(col("value").cast("decimal(18,2)")).cast("double")).head.getDouble(0)
    assert(math.abs(m.getDouble(1) - want) < 1e-9)
  }

  test("transformWithState power alerts: emitted set equals every " +
      "2^k <= each user's total, across the forced batch split") {
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val got = EventStreams.twsPowerAlertsFromFiles(spark, sf).cache()
    // expected: integer-shift replay of the lifetime totals
    val want = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(col("user_id"), explode(expr(
        "filter(transform(sequence(0, 39), k -> shiftleft(CAST(1 AS BIGINT), k)), t -> t <= n)"))
        .as("threshold"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "transformWithState alert set diverges from the batch replay")
    // no duplicate crossings: the ValueState carry survived the
    // cross-batch split without re-emitting
    assert(got.distinct().count() == got.count(),
      "duplicate threshold crossings — state carry broken")
    // the scoped RocksDB provider conf was restored to its prior value
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass") == prevProvider)
    got.unpersist()
  }

  test("streaming session_window equals the batch session_window " +
      "operator frame-for-frame") {
    val streamed = EventStreams.sessionWindowFromFiles(spark, sf).cache()
    val batch = graft.operators.Relational.sessionWindowBuiltin(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streaming session_window diverges from the batch operator")
    // append mode emitted each finalized session exactly once
    assert(streamed.distinct().count() == streamed.count())
    streamed.unpersist()
  }

  test("streaming k-means maintenance: drained per-cluster state equals " +
      "the batch one-iteration refit on the same feed") {
    import spark.implicits._
    import graft.functions.CatalystExprs.{centroid_probes, dot_product}
    import graft.operators.Similarity
    val got = graft.streaming.EventStreams.kmeansFromFiles(spark, sf).cache()
    // batch replay: same frozen init codebook, same one-pass aggregate
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
    val cents = Similarity.lloyd(Similarity.unitSample(all),
      Similarity.KmClusters, Similarity.PqLloydIters)
    val d = cents(0).length
    val batch = all
      .select(element_at(centroid_probes(col("v"), col("norm"), cents, 1), 1)
        .as("cid"), col("v"), col("norm"))
      .as[(Int, Seq[Double], Double)]
      .groupByKey(_._1)
      .agg(graft.functions.VecSumAgg.agg(d).toColumn)
      .collect()
      .map { case (cid, buf) =>
        val c1 = buf.s.map(_ / buf.n)
        (cid.toLong, buf.n,
          math.sqrt(c1.map(x => x * x).sum),
          math.sqrt(c1.zip(cents(cid)).map { case (a, b) =>
            (a - b) * (a - b) }.sum))
      }.map { case (k2, n, cn, sh) => k2 -> ((n, cn, sh)) }.toMap
    val gotRows = got.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(gotRows.keySet == batch.keySet)
    batch.foreach { case (cid, (n, cn, sh)) =>
      val (gn, gcn, gsh) = gotRows(cid)
      assert(gn == n, s"cluster $cid size")
      // double sums across state merges are ulp-order-sensitive (the
      // VecSumAgg regime) -- tolerance, not bit equality
      assert(math.abs(gcn - cn) < 1e-6, s"cluster $cid cnorm")
      assert(math.abs(gsh - sh) < 1e-6, s"cluster $cid shift")
    }
    got.unpersist()
  }

  test("streaming EWMA chart: drained z series is bit-identical to the " +
      "driver-side baseline-seeded fold, every day emitted once") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.EventStreams.ewmaFromFiles(spark, sf).cache()
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date](1).toString,
        r.getLong(2)))
    val cut = Tables.events(spark, sf)
      .agg(date_add(to_date(min(col("ts"))), 15)).head.getDate(0).toString
    val byType = daily.groupBy(_._1)
    // one output row per (type, day); the z fold replayed driver-side
    assert(got.count() == daily.length)
    byType.foreach { case (et, rows) =>
      val ordered = rows.sortBy(_._2)
      val base = ordered.filter(_._2 < cut).map(_._3)
      val mu0 = base.sum.toDouble / base.length
      var z = mu0
      val expected = ordered.map { case (_, day, y) =>
        z = (y.toDouble + 3.0 * z) / 4.0
        day -> BigDecimal(z).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      val gotRows = got.filter(col("event_type") === et).collect()
        .map(r => r.getAs[java.sql.Date]("day").toString ->
          r.getAs[Double]("ewma")).toMap
      assert(gotRows == expected, s"type $et z series")
    }
    // verdicts are consistent with the emitted limits
    assert(got.filter(col("out_of_control") =!=
      (col("ewma") > col("ucl") || col("ewma") < col("lcl")))
      // rounding at the gate can flip a hairline verdict readback:
      // recheck only clear-margin rows
      .filter(abs(col("ewma") - col("ucl")) > 1e-5 &&
        abs(col("ewma") - col("lcl")) > 1e-5)
      .isEmpty)
    got.unpersist()
  }

  test("stream-static dim join: the accumulated complete-mode rollup " +
      "equals the batch join, and the dim side broadcasts") {
    val got = graft.streaming.EventStreams.dimJoinFromFiles(spark, sf)
      .cache()
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("sum_value"))
      .select("c_mktsegment", "event_type", "n", "sum_value")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "stream-accumulated rollup diverged from the batch join")
    // the enrichment join must be broadcast on the batch twin's plan
    // (the same plan shape each micro-batch re-plans)
    val plan = want.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim join did not broadcast:\n$plan")
    got.unpersist()
  }

  test("sink tail: generations are offsets — a restarted query emits " +
      "only the new window, and a replace commit fails the tail loudly") {
    import graft.sources.v2.GraftSink
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType)))
    val dir = graft.TempDirs.create("graft_tail_tbl").toString
    val ckpt = graft.TempDirs.create("graft_tail_ckpt").toString
    val out = graft.TempDirs.create("graft_tail_out").toString
    def put(ids: Range): Unit =
      ids.map(i => (i.toLong, i.toLong)).toDF("doc_id", "n_chars")
        .coalesce(2).write.format("graft.sources.v2.GraftSinkSource")
        .option("path", dir).mode("append").save()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.v2.GraftSinkSource")
        .schema(schema).option("path", dir).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    put(1 to 10)
    runOnce()
    assert(spark.read.parquet(out).count() == 10)
    // restart boundary: the second generation lands afterwards, and
    // the recovered query must emit EXACTLY its rows — no re-emission
    // of generation 1, no gap
    put(11 to 20)
    runOnce()
    val ids = spark.read.parquet(out).as[(Long, Long)].collect()
      .map(_._1).sorted.toSeq
    assert(ids == (1L to 20L), s"tail must be exactly-once, got $ids")
    // a replace commit (copy-on-write delete rewrites files) breaks
    // the append-only tail contract: the stream must fail LOUDLY, not
    // silently re-emit rewritten rows
    GraftSink.deleteWhere(spark, dir, col("doc_id") === 5L, schema)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    assert(e.getMessage.contains("append-only")
        || Option(e.getCause).exists(_.getMessage.contains("append-only")),
      s"expected the append-only contract failure, got: ${e.getMessage}")
  }

  test("stream msprt: the state-store moments drained through the " +
      "shared tail equal the batch always-valid report exactly") {
    val st = graft.streaming.EventStreams.msprtFromFiles(spark, sf)
    val bt = graft.operators.Stats.msprt(spark, sf)
    assert(st.exceptAll(bt).isEmpty && bt.exceptAll(st).isEmpty,
      "streaming mSPRT drifted from the batch key")
  }

  test("stream funnel ci: state-store per-user flags drained through " +
      "the shared Wilson tail equal the batch key exactly") {
    val st = graft.streaming.EventStreams.funnelCiFromFiles(spark, sf)
    val bt = graft.operators.Relational.funnelCi(spark, sf)
    assert(st.exceptAll(bt).isEmpty && bt.exceptAll(st).isEmpty,
      "streaming funnel CI drifted from the batch key")
  }

  test("stream_sink_compact: the in-loop maintenance fires exactly " +
      "when the budget is crossed, compacts content-invariantly, and " +
      "the final layout matches the recurrence") {
    import org.apache.spark.sql.functions._
    val r = graft.streaming.EventStreams.sinkCompactLoop(spark, sf)
      .first()
    val docs = Tables.documents(spark, sf)
      .agg(count(lit(1)), sum(col("n_chars"))).first()
    // content-invariant across every epoch + the compaction
    assert(r.getLong(0) == docs.getLong(0), "rows lost/duplicated")
    assert(r.getLong(1) == docs.getLong(1), "chars lost/duplicated")
    // 6 epochs x 2 files against the 8-file budget: one compaction at
    // epoch 5 (10 > 8 -> 1 file), two more files land in epoch 6
    assert(r.getLong(2) == 3L, s"final n_files = ${r.getLong(2)}")
    assert(r.getLong(3) == 1L, s"n_compactions = ${r.getLong(3)}")
  }

  test("scaled state partitions: one per 8 MiB of feed, floor 1, " +
      "capped at the session parallelism, and the scoped conf is " +
      "restored even when the body throws") {
    val cap = spark.sparkContext.defaultParallelism
    assert(EventStreams.scaledStatePartitions(spark, 0L) == 1)
    assert(EventStreams.scaledStatePartitions(spark, 8L << 20) == 1)
    assert(EventStreams.scaledStatePartitions(spark, (8L << 20) + 1) ==
      math.min(2, cap))
    assert(EventStreams.scaledStatePartitions(spark, Long.MaxValue / 2) ==
      cap)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    var inside = -1
    EventStreams.withScaledState(spark, (8L << 20) * 3) {
      inside = spark.conf.get(key).toInt
    }
    assert(inside == math.min(3, cap), s"scoped value was $inside")
    assert(spark.conf.get(key) == before, "conf not restored")
    intercept[RuntimeException] {
      EventStreams.withScaledState(spark, 1L) { sys.error("boom") }
    }
    assert(spark.conf.get(key) == before, "conf not restored on throw")
  }

  /** `body`'s result with the custom-metric names of the state
    * operators in every progress of the streams it runs, read once
    * each of them has reported its termination (the listener bus
    * delivers in order).
    */
  private def withStateMetrics[T](body: => T): (T, Set[String]) = {
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (started.contains(e.progress.runId))
          e.progress.stateOperators.foreach(
            _.customMetrics.keySet.forEach(k => names.add(k)))
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    val out = try {
      val out = body
      def done = !started.isEmpty && ended.containsAll(started)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!done && System.nanoTime() < deadline) Thread.sleep(10)
      assert(done, "a query's termination was never reported")
      out
    } finally spark.streams.removeListener(listener)
    (out, names.asScala.toSet)
  }

  test("stream_dedup's state store follows its feed: on-heap at the " +
      "test SF, RocksDB past the per-partition budget; both runs equal " +
      "the batch table and restore the session confs") {
    val want = Tables.events(spark, sf)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val confs = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.shuffle.partitions")
    def run(): Set[String] = {
      val before = confs.map(spark.conf.getOption)
      val (got, metrics) =
        withStateMetrics(EventStreams.dedupFromFiles(spark, sf))
      assert(confs.map(spark.conf.getOption) == before, "confs not restored")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "stream_dedup diverges from the single-copy batch table")
      assert(metrics.nonEmpty, "no state-operator metrics reported")
      metrics
    }
    val onHeap = run()
    assert(!onHeap.exists(_.startsWith("rocksdb")),
      s"small feed ran on RocksDB: ${onHeap.filter(_.startsWith("rocksdb"))}")
    val budget = "graft.stream.bytesPerStatePartition"
    val feed = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    spark.conf.set(budget, (feed / 2).toString)
    val rocks = try run() finally spark.conf.unset(budget)
    assert(rocks.exists(_.startsWith("rocksdb")),
      s"feed past the budget did not run on RocksDB: $rocks")
  }

  test("stream_dedup leaves no checkpoint or feed dir behind; its " +
      "output dirs stay and back the returned frames") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def dirs(prefix: String): Set[String] = {
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches(s"${prefix}[0-9]+")).toSet
      finally s.close()
    }
    val prefixes = Seq("graft_stream_dedup", "graft_stream_dedup_ckpt",
      "graft_stream_dedup_out")
    val before = prefixes.map(p => p -> dirs(p)).toMap
    val outs = Seq.fill(3)(EventStreams.dedupFromFiles(spark, sf))
    val added = prefixes.map(p => p -> (dirs(p) -- before(p))).toMap
    assert(added("graft_stream_dedup").isEmpty, s"feed dirs left: $added")
    assert(added("graft_stream_dedup_ckpt").isEmpty,
      s"checkpoint dirs left: $added")
    assert(added("graft_stream_dedup_out").size == 3)
    val n = Tables.events(spark, sf).count()
    outs.foreach(o => assert(o.count() == n))
    // the other bounded-stream keys: feed, checkpoint and source-table
    // dirs go once the query has stopped; only the dir behind the
    // returned frame (the file-sink output or the memory-sink spill)
    // stays
    val keys = Seq(
      "stream_restart" -> (Seq("graft_stream_restart_src",
        "graft_stream_restart_ckpt"), "graft_stream_restart_out"),
      "stream_graft_sink" -> (Seq("graft_stream_gsink_src",
        "graft_stream_gsink_ckpt"), "graft_stream_gsink_out"),
      "stream_late_drop" -> (Seq("graft_stream_late_src",
        "graft_stream_late_ckpt"), "graft_stream_late_out"),
      "stream_sink_tail" -> (Seq("graft_stream_tail_tbl",
        "graft_stream_tail_ckpt"), "graft_stream_tail_out"),
      "stream_sessionize" -> (Seq("graft_stream_sess",
        "graft_stream_sess_ckpt"), "graft_stream_sess_out"),
      "stream_events_hourly" -> (Seq("graft_stream_src"), "graft_sink_drain"),
      "stream_near_dup" -> (Seq("graft_stream_near_dup"), "graft_sink_drain"))
    keys.foreach { case (key, (gone, kept)) =>
      val ps = gone :+ kept
      val before = ps.map(p => p -> dirs(p)).toMap
      val out = SparkEntry.queries(key)(spark, sf)
      val added = ps.map(p => p -> (dirs(p) -- before(p))).toMap
      gone.foreach(p => assert(added(p).isEmpty, s"$key left $p dirs: $added"))
      assert(added(kept).size == 1, s"$key: $added")
      assert(out.count() > 0, s"$key: its returned frame reads no rows")
    }
  }

  test("a file-sink drain of an empty feed commits no file and reads " +
      "back as an empty frame with the query's schema") {
    val feed = TempDirs.create("graft_stream_empty_src").toString
    val stream = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING")
      .parquet(feed)
      .filter(col("event_type") =!= "x")
    val out = EventStreams.drainToFiles(spark, stream,
      "graft_stream_empty")(_.processAllAvailable())
    assert(out.schema.map(f => f.name -> f.dataType) ==
      stream.schema.map(f => f.name -> f.dataType))
    assert(out.count() == 0)
  }
}
