package graft

import org.apache.spark.sql.functions._

import graft.operators.{HitsTrajectory, Relational}

class RelationalExtSpec extends SparkSpec {

  test("running window is monotone per supplier") {
    val r = Relational.runningWindow(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("running_qty") < col("qty")).isEmpty)
    assert(r.filter(col("avg3") <= 0).isEmpty)
  }

  test("cube emits all four grouping sets") {
    val c = Relational.cubeSales(spark, sf).cache()
    assert(c.filter(col("o_orderstatus").isNull
      && col("o_orderpriority").isNull).count() == 1)
    val statuses = Tables.orders(spark, sf)
      .select("o_orderstatus").distinct().count()
    assert(c.filter(col("o_orderstatus").isNotNull
      && col("o_orderpriority").isNull).count() == statuses)
  }

  test("salted aggregation equals the plain aggregation") {
    val salted = Relational.saltedUserAgg(spark, sf)
    val plain = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("approx distinct is within 10% of exact") {
    val a = Relational.approxDistinctUsers(spark, sf)
    val e = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"))
    val joined = a.join(e, "event_type")
      .withColumn("err",
        abs(col("approx_users") - col("exact")) / col("exact"))
    assert(joined.filter(col("err") > 0.10).isEmpty)
  }

  test("big spenders all exceed 4x the global average") {
    val g = Tables.orders(spark, sf)
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("g")).head().getDouble(0)
    val b = Relational.bigSpenders(spark, sf)
    assert(b.filter(col("spend") <= g * 4).isEmpty)
  }

  test("salted join equals plain join on a 90%-hot-key fact table") {
    // 10k rows, 90% on key 7 — the shape that stalls a plain shuffle join
    val fact = spark.range(10000)
      .select(col("id").as("event_id"),
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100).as("k"),
        (col("id") % 97).cast("double").as("value"))
    val dim = spark.range(100).select(col("id").as("k"),
      concat(lit("seg_"), col("id") % 5).as("seg"))
    val salted = Relational.saltedJoin(fact, dim, "k", col("event_id"), 8)
      .groupBy("seg").agg(count(lit(1)).as("n"), sum("value").as("s"))
    val plain = fact.join(dim, "k")
      .groupBy("seg").agg(count(lit(1)).as("n"), sum("value").as("s"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // hot key preserved exactly once per fact row (9000 of 10000 rows)
    val spread = Relational.saltedJoin(fact, dim, "k", col("event_id"), 8)
      .filter(col("k") === 7)
    assert(spread.count() == 9000)
  }

  test("salting measurably flattens the 90%-hot-key reducer distribution") {
    // The skew EVIDENCE, measured deterministically: a shuffle join
    // keys reducers on the join key, so rows-per-key IS the per-task
    // work distribution (wall-time on a shared box would be noise).
    val fact = spark.range(10000)
      .select(col("id").as("event_id"),
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100).as("k"))
    // plain join: ONE reducer owns 90% of the probe side
    val plainMax = fact.groupBy("k").count()
      .agg(max("count")).head().getLong(0)
    assert(plainMax == 9000)
    // salted join keys on (k, salt) — same salt expression the
    // operator uses, so this measures the real shuffle keys
    val saltedMax = fact
      .withColumn("_salt", Relational.saltColumn(col("event_id"), 8))
      .groupBy("k", "_salt").count()
      .agg(max("count")).head().getLong(0)
    // ideal is 9000/8 = 1125; allow 25% hash-spread slack
    assert(saltedMax <= 1406, s"hot key still concentrated: $saltedMax")
    val flattening = plainMax.toDouble / saltedMax
    assert(flattening >= 6.4, // ≥ 80% of the 8× ideal
      f"salting flattened the hot key only $flattening%.1f× of the 8× ideal")
  }

  test("gap fill produces the dense hour × type grid and preserves totals") {
    val g = Relational.gapFill(spark, sf).cache()
    val nTypes = Tables.events(spark, sf)
      .select("event_type").distinct().count()
    // dense grid: every type has the identical number of hours
    val perType = g.groupBy("event_type").count()
      .select("count").distinct().collect()
    assert(perType.length == 1)
    assert(g.count() == nTypes * perType.head.getLong(0))
    // zero-filled holes exist, and filled counts sum to the raw total
    assert(g.filter(col("n") === 0).count() > 0)
    assert(g.agg(sum("n")).head().getLong(0) ==
      Tables.events(spark, sf).count())
  }

  test("scd2 intervals tile each user's timeline without gaps or overlaps") {
    val iv = Relational.scd2Intervals(spark, sf).cache()
    // every event is inside exactly one run
    val nEvents = Tables.events(spark, sf).count()
    assert(iv.agg(sum("n_events")).head().getLong(0) == nEvents)
    // exactly one open (current) interval per user
    val open = iv.filter(col("valid_to").isNull)
      .groupBy("user_id").count().filter(col("count") =!= 1)
    assert(open.isEmpty)
    // valid_to of run i == valid_from of run i+1 (no gaps, no overlap)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("run_id")
    val chained = iv.withColumn("next_from", lead(col("valid_from"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull
      && col("valid_to") =!= col("next_from")).isEmpty)
    // consecutive runs always change event_type (runs are maximal)
    val typed = iv.withColumn("next_type", lead(col("event_type"), 1).over(w))
    assert(typed.filter(col("next_type").isNotNull
      && col("event_type") === col("next_type")).isEmpty)
  }

  test("unpivot emits one row per (group, measure) and preserves totals") {
    val u = Relational.unpivotLineitem(spark, sf).cache()
    val groups = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_linestatus").distinct().count()
    assert(u.count() == groups * 3)
    // long-form qty total == direct exact-decimal aggregate
    val qtyLong = u.filter(col("measure") === "qty")
      .agg(sum("val")).head().getDouble(0)
    val qtyWide = Tables.lineitem(spark, sf)
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    assert(math.abs(qtyLong - qtyWide) < 1e-6)
  }

  test("sequence match covers every user and matched implies the " +
      "v..c..p subsequence with no intervening purchase") {
    val sm = Relational.sequenceMatch(spark, sf).cache()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(sm.count() == users)
    assert(sm.agg(sum("n_events")).head().getLong(0) ==
      Tables.events(spark, sf).count())
    // cross-check against an independent strict-EXISTS formulation:
    // some view, a later click with no purchase between, a later purchase
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
    ev.createOrReplaceTempView("seq_ev")
    val expect = spark.sql(
      """SELECT DISTINCT v.user_id FROM seq_ev v
        |JOIN seq_ev c ON c.user_id = v.user_id
        |  AND (c.ts, c.event_id) > (v.ts, v.event_id) AND c.event_type = 'click'
        |JOIN seq_ev p ON p.user_id = v.user_id
        |  AND (p.ts, p.event_id) > (c.ts, c.event_id) AND p.event_type = 'purchase'
        |WHERE v.event_type = 'view'
        |  AND NOT EXISTS (SELECT 1 FROM seq_ev x
        |    WHERE x.user_id = v.user_id AND x.event_type = 'purchase'
        |      AND (x.ts, x.event_id) > (v.ts, v.event_id)
        |      AND (x.ts, x.event_id) < (p.ts, p.event_id))""".stripMargin)
    val got = sm.filter(col("matched")).select("user_id")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("sequence match bounds per-user state: a hot user far above the " +
      "cap completes, keeps its true count, and is flagged overflow") {
    import spark.implicits._
    val cap = 16
    // hot user 1: 50×cap events (all views, then one click+purchase at
    // the tail the capped prefix can never see); cold user 2: v,c,p
    val hot = (1 to cap * 50).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i % 60}%02d"),
        1L, if (i == cap * 50) "purchase" else if (i == cap * 50 - 1) "click" else "view"))
    val cold = Seq(
      (100001L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 2L, "view"),
      (100002L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 2L, "click"),
      (100003L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 2L, "purchase"))
    val ev = (hot ++ cold)
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = Relational.sequenceMatchOver(ev, maxEventsPerUser = cap)
      .collect().map(row => row.getLong(0) ->
        (row.getLong(1), row.getBoolean(2), row.getBoolean(3))).toMap
    assert(r(1L) == ((cap * 50L, false, true)),
      "hot user: true count, prefix-only match, loud overflow")
    assert(r(2L) == ((3L, true, false)),
      "cold user below cap is matched and not flagged")
  }

  test("q2 adaptation keeps exactly the min-cost supplier rows per part") {
    val r = Relational.q2MinCostSupplier(spark, sf).cache()
    assert(r.count() > 0 && r.count() <= 100)
    // independent recompute of the regional min cost per part
    val sup = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
    val minCost = Tables.lineitem(spark, sf)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(min(col("l_extendedprice")).as("true_min"))
    assert(r.join(minCost, "p_partkey")
      .filter(col("cost") =!= col("true_min")).isEmpty)
  }

  test("q11 adaptation keeps exactly the parts above the decimal threshold") {
    val r = Relational.q11ImportantValue(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("value") <= 0).isEmpty)
    // fraction=1 keeps parts with value > the grand total — i.e. none
    assert(Relational.q11ImportantValue(spark, sf, fraction = 1).isEmpty)
  }

  test("q16 adaptation: excluding complaint suppliers never raises a count") {
    val excl = Relational.q16SupplierCount(spark, sf).cache()
    assert(excl.count() > 0)
    val allowedSizes = Set(1, 4, 9, 14, 19, 23, 36, 49)
    assert(excl.filter(!col("p_size").isin(allowedSizes.toSeq: _*)).isEmpty)
    assert(excl.filter(col("p_brand") === "Brand#13"
      || col("p_type") === "PROMO").isEmpty)
    assert(excl.filter(col("supplier_cnt") <= 0).isEmpty)
  }

  test("q20 adaptation: dominance set is real and the output is its " +
      "nation slice") {
    // the nation set is chosen populated at EVERY test SF (sf0.001
    // included — the driver's empty-result gate runs there)
    val shipped = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === 1996)
      .join(Tables.part(spark, sf).filter(col("p_name").startsWith("small")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(18,2)").as("q"))
    val pair = shipped.groupBy("l_partkey", "l_suppkey")
      .agg(sum("q").as("pair_qty"))
    val tot = shipped.groupBy("l_partkey").agg(sum("q").as("part_qty"))
    val dominant = pair.join(tot, "l_partkey")
      .filter(col("pair_qty") * lit(2) > col("part_qty"))
      .select("l_suppkey").distinct().cache()
    assert(dominant.count() > 0)
    val r = Relational.q20PartSupply(spark, sf)
    assert(r.count() > 0, "q20 empty at the smallest SF — driver gate would fail")
    // every returned supplier is dominant and in the target nation set
    val expected = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf)
          .filter(col("n_name").isin("NATION_13", "NATION_15", "NATION_18")),
        col("s_nationkey") === col("n_nationkey"))
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
    assert(r.exceptAll(expected).isEmpty && expected.exceptAll(r).isEmpty)
  }

  test("anomaly z-score ranks the planted outlier first and caps per-type " +
      "output at k") {
    import spark.implicits._
    // type 'a': 99 values at 10.0 plus one at 1000.0 — the outlier must
    // take rnk=1 at |z| ≈ 9.9σ; type 'b' is a plain 1..50 spread and
    // exercises the per-type k cap
    val planted = ((1L to 99L).map(i => (i, "a", 10.0)) :+ (100L, "a", 1000.0)) ++
      (1L to 50L).map(i => (200L + i, "b", i.toDouble))
    val got = graft.operators.Relational
      .anomalyZscoreOver(planted.toDF("event_id", "event_type", "value"))
      .cache()
    val topA = got.filter(col("event_type") === "a" && col("rnk") === 1)
      .collect()
    assert(topA.length == 1 && topA(0).getLong(1) == 100L)
    assert(math.abs(topA(0).getDouble(3)) > 9.0) // ~9.95σ on 100 points
    assert(got.groupBy("event_type").count()
      .filter(col("count") > 5).isEmpty)
    // real corpus: exactly 5 rows per type, ranks 1..5, z finite
    val real = graft.operators.Relational.anomalyZscore(spark, sf).cache()
    assert(real.groupBy("event_type").count()
      .filter(col("count") =!= 5).isEmpty)
    assert(real.filter(col("z").isNull || isnan(col("z"))).isEmpty)
  }

  test("regression recovers a planted exact line (slope 2, intercept 1, " +
      "corr 1) and stays in-range on the real corpus") {
    import spark.implicits._
    val planted = (1 to 100).map(i => ("A", "x", i.toDouble, 2.0 * i + 1.0))
      .toDF("l_returnflag", "l_linestatus", "x", "y")
    val got = graft.operators.Relational.regressionOver(planted).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(2) == 100L)
    assert(r.getDouble(3) == 2.0, s"slope=${r.getDouble(3)}")
    assert(r.getDouble(4) == 1.0, s"intercept=${r.getDouble(4)}")
    assert(r.getDouble(5) == 1.0, s"corr=${r.getDouble(5)}")
    val real = graft.operators.Relational.regression(spark, sf).cache()
    assert(real.count() >= 4)
    assert(real.filter(col("corr_xy") < -1.0 || col("corr_xy") > 1.0
      || col("slope").isNull || isnan(col("slope"))).isEmpty)
  }

  test("decay score halves per elapsed half-life exactly and counts " +
      "every event") {
    import spark.implicits._
    // user 10: 4.0 at one day back (k=0 → w=4.0) + 8.0 at 22 days back
    // (k=3 → w=1.0); user 11: one event 15 days back (k=2 → w=1.5)
    val planted = Seq(
      (10L, "2024-01-31 12:00:00", 4.0),
      (10L, "2024-01-10 00:00:00", 8.0),
      (11L, "2024-01-17 06:30:00", 6.0),
      // AFTER asOf: clamps to k=0 (w = value) instead of hitting
      // Spark's masked negative shift (1 << -1 = Long.MIN_VALUE)
      (12L, "2024-02-15 00:00:00", 3.0)
    ).toDF("user_id", "ts0", "value")
      .select(col("user_id"), col("ts0").cast("timestamp").as("ts"), col("value"))
    val got = graft.operators.Relational
      .decayScoreOver(planted, 7, "2024-02-01").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L) == ((2L, 5.0)), s"u10=${got(10L)}")
    assert(got(11L) == ((1L, 1.5)), s"u11=${got(11L)}")
    assert(got(12L) == ((1L, 3.0)), s"u12=${got(12L)}")
    // real corpus: every user with events appears, scores finite
    val real = graft.operators.Relational.decayScore(spark, sf).cache()
    assert(real.count() ==
      Tables.events(spark, sf).select("user_id").distinct().count())
    assert(real.filter(col("score").isNull || isnan(col("score"))).isEmpty)
  }

  test("profile emits one all-bigint row per column with exact " +
      "distinct counts") {
    val got = graft.operators.Relational.profile(spark, sf).cache()
    assert(got.count() == 6)
    val o = Tables.orders(spark, sf)
    val byName = got.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val nRows = o.count()
    assert(byName("o_orderkey") == ((nRows, nRows, 0L, nRows)))
    val ndStatus = o.select("o_orderstatus").distinct().count()
    assert(byName("o_orderstatus")._4 == ndStatus)
    assert(byName.values.forall { case (n, nn, nul, nd) =>
      n == nRows && nn + nul == n && nd <= nn })
  }

  test("mad anomaly: planted extreme outlier ranks first; rank tail " +
      "is bounded heaps, not a corpus-keyed window") {
    import spark.implicits._
    val rows = (1L to 100L).map(i => (i, "m", 10.0 + (i % 7) * 0.01)) :+
      ((999L, "m", 500.0))
    val got = Relational.anomalyMadOver(
      rows.toDF("event_id", "event_type", "value"), 3).cache()
    val top = got.filter(col("rnk") === 1).head()
    assert(top.getLong(1) == 999L, s"outlier not ranked first: $top")
    assert(got.count() == 3)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "window survived in mad plan")
    // z-score shares the contract now that its tail moved off row_number
    val z = Relational.anomalyZscoreOver(
      rows.toDF("event_id", "event_type", "value"), 3)
    assert(z.filter(col("rnk") === 1).head().getLong(1) == 999L)
    assert(!z.queryExecution.executedPlan.toString.contains("Window"),
      "window survived in zscore plan")
    got.unpersist()
  }

  test("merge apply: update coalesces in, delete drops, insert " +
      "survives, untouched rows pass through") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    val changes = Seq(
      (2L, "B", 21.0, "update"),
      (3L, null.asInstanceOf[String], 0.0, "delete"),
      // UPDATE SET s = NULL must actually null the field (a coalesce
      // formulation would silently keep the stale base value)
      (4L, null.asInstanceOf[String], 41.0, "update"),
      (9L, "i", 90.0, "insert"),
      (7L, "x", 70.0, "delete")) // delete of an absent key: no-op
      .toDF("k", "s", "v", "op")
    val got = Relational.mergeApply(base, changes, "k", Seq("s", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got == Set((1L, "a", 10.0), (2L, "B", 21.0),
      (4L, null, 41.0), (9L, "i", 90.0)), s"merge semantics broken: $got")
  }

  test("variant props: parse-once extraction agrees with the " +
      "string-path baseline and try_ semantics swallow malformed rows") {
    // real corpus: variant extraction == get_json_object extraction
    val v = Relational.variantProps(spark, sf).cache()
    val base = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS LONG)").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"))
    val j = v.join(base.withColumnRenamed("n_with_k", "bn")
      .withColumnRenamed("sum_k", "bs"), "event_type")
    assert(j.filter(col("n_with_k") =!= col("bn") ||
      col("sum_k") =!= col("bs")).isEmpty)
    assert(v.filter(col("n_missing") =!= 0).isEmpty)
    v.unpersist()
    // planted malformed payloads: try_variant_get nulls, never throws
    import spark.implicits._
    val planted = Seq(
      (1L, "t", """{"k": 7}"""),
      (2L, "t", """not json at all"""),
      (3L, "t", """{"k": "strings do not cast"}"""),
      (4L, "t", null.asInstanceOf[String]))
      .toDF("event_id", "event_type", "props")
    val got = Relational.variantPropsOver(planted).head
    assert(got.getLong(1) == 1 && got.getLong(2) == 7,
      s"planted variant extraction: $got")
  }

  test("built-in session_window agrees with the manual chain and " +
      "MERGES an exactly-gap pair (end-inclusive boundary)") {
    val builtin = Relational.sessionWindowBuiltin(spark, sf).cache()
    val manual = Relational.sessionize(spark, sf).cache()
    // totals conserved in both formulations
    val nEvents = Tables.events(spark, sf).count()
    assert(builtin.agg(sum("n_events")).head.getLong(0) == nEvents)
    assert(manual.agg(sum("n_events")).head.getLong(0) == nEvents)
    // same split rule -> identical session sets
    assert(builtin.exceptAll(manual.drop("session_id")
      .select("user_id", "session_start", "session_end", "n_events")).isEmpty)
    // planted boundary: two events exactly 30 min apart MERGE
    import spark.implicits._
    val base = 1705320000000L
    val planted = Seq(
      (1L, new java.sql.Timestamp(base)),
      (2L, new java.sql.Timestamp(base + 1800L * 1000)))
      .toDF("event_id", "ts").withColumn("user_id", lit(9L))
    val got = planted
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count().count()
    assert(got == 1, s"exact-gap pair did not merge: $got session(s)")
    builtin.unpersist(); manual.unpersist()
  }

  test("join hint overrides the broadcast default: shuffle_hash forces " +
      "ShuffledHashJoin on a side the planner would broadcast") {
    val hinted = Relational.hintJoin(spark, sf)
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    // the unhinted twin DOES broadcast — the hint is what changed it
    val plain = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("sum_acctbal"))
    assert(plain.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // strategy choice never changes the result
    assert(hinted.exceptAll(plain).isEmpty && plain.exceptAll(hinted).isEmpty)
  }

  test("observe metrics ride the query's own scan: values match direct " +
      "aggregates and the plan carries CollectMetrics over one scan") {
    val m = Relational.observeMetrics(spark, sf).head
    val ev = Tables.events(spark, sf)
    assert(m.getLong(0) == ev.count())
    assert(m.getLong(2) ==
      ev.filter(col("event_type") === "purchase").count())
    assert(m.getLong(3) ==
      ev.filter(col("event_type") === "error").count())
    // structural: the metrics are attached to the single scan, not a
    // second pass
    val obs = org.apache.spark.sql.Observation()
    val audited = ev.observe(obs, count(lit(1)).as("n"))
      .groupBy("event_type").agg(count(lit(1)))
    val plan = audited.queryExecution.optimizedPlan
    assert(plan.toString.contains("CollectMetrics"), plan.toString)
    assert(plan.collectLeaves().size == 1)
  }

  test("lateral top-3 decorrelates: one bounded-rank join, no per-row " +
      "nested loop, and every nation emits at most 3 customers") {
    // The property under test is CATALYST'S OWN decorrelation (the
    // correlated LIMIT becomes WindowGroupLimit + one join), so the
    // engine's RewriteWindowTopK rule is removed for the duration —
    // otherwise the assertion silently degrades to "TopKPerKey fired"
    // whenever an earlier test registered the rule in the shared
    // session, and a decorrelation regression would go unseen.
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations =
      saved.filterNot(_ == graft.plans.RewriteWindowTopK)
    try {
      val df = SparkEntry.queries("sql_lateral")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // Catalyst must rewrite the correlated LIMIT into a rank + single
      // join; a BroadcastNestedLoopJoin would re-scan customer per
      // nation, and a bare sort-the-group WindowExec is not bounded.
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("WindowGroupLimit"), plan)
      val perNation = df.groupBy("n_name").count().collect()
      assert(perNation.nonEmpty && perNation.forall(_.getLong(1) <= 3))
    } finally exp.extraOptimizations = saved
  }

  test("recursive CTE closure: depth equals digit-depth of the key and " +
      "every supplier is reached exactly once") {
    Tables.supplier(spark, sf).createOrReplaceTempView("supplier_rec")
    val chain = spark.sql(
      """WITH RECURSIVE chain AS (
        |  SELECT s_suppkey, s_suppkey AS root, CAST(0 AS BIGINT) AS depth
        |  FROM supplier_rec WHERE s_suppkey < 10
        |  UNION ALL
        |  SELECT s.s_suppkey, c.root, c.depth + CAST(1 AS BIGINT)
        |  FROM supplier_rec s JOIN chain c ON s.s_suppkey DIV 10 = c.s_suppkey
        |  WHERE s.s_suppkey >= 10)
        |SELECT s_suppkey, root, depth FROM chain""".stripMargin).collect()
    val total = Tables.supplier(spark, sf).count()
    assert(chain.length == total, s"${chain.length} != $total")
    assert(chain.map(_.getLong(0)).distinct.length == total)
    chain.foreach { r =>
      val (k, root, depth) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(depth == k.toString.length - 1, s"key $k depth $depth")
      // root is the leading digit of the key
      assert(root == k.toString.head.asDigit, s"key $k root $root")
    }
  }

  test("changepoint: planted mean shift peaks exactly at the shift " +
      "boundary and reruns are identical") {
    import spark.implicits._
    // 10 days at 100.00, then 10 days at 200.00 — CUSUM |peak| at the
    // last low day (day 10)
    val facts = (1 to 20).map { d =>
      (f"2024-01-$d%02d", if (d <= 10) 100.0 else 200.0)
    }.toDF("day", "v")
    val cp = Relational.changepointOver(facts).cache()
    assert(cp.count() == 20)
    val peaks = cp.filter(col("is_peak")).collect()
    assert(peaks.length == 1)
    assert(peaks(0).getString(0) == "2024-01-10")
    // symmetric series: cusum at the boundary = -n*shift/2/100 scaled;
    // just pin sign and magnitude ordering
    assert(peaks(0).getDouble(2) < 0)
    val again = Relational.changepointOver(facts)
    assert(cp.exceptAll(again).isEmpty && again.exceptAll(cp).isEmpty)
  }

  test("skyline: planted staircase keeps exactly the frontier and " +
      "equals the brute-force dominance filter on the real table") {
    import spark.implicits._
    val pts = Seq(
      (1L, 1.0, 5), (2L, 2.0, 3), (3L, 3.0, 3), // 3 dominated by 2
      (4L, 4.0, 1), (5L, 5.0, 9),               // 5 dominated
      (6L, 1.0, 7)                              // same price as 1, bigger
    ).toDF("p_partkey", "price", "size")
    val sky = Relational.skylineOver(pts).collect()
      .map(r => r.getLong(0)).sorted.toSeq
    assert(sky == Seq(1L, 2L, 4L))
    // real table: frontier == brute-force "no dominator exists"
    val real = Relational.skyline(spark, sf).cache()
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").as("size"))
    val dominated = parts.as("a").join(parts.as("b"),
        col("b.price") <= col("a.price") && col("b.size") <= col("a.size")
          && (col("b.price") < col("a.price") || col("b.size") < col("a.size")),
        "left_semi")
    val frontier = parts.exceptAll(dominated)
      // brute frontier keeps ALL min-size ties at a price; the
      // operator's canonical cut keeps the min-partkey one
      .groupBy("price", "size").agg(min("p_partkey").as("p_partkey"))
      .select("p_partkey", "price", "size")
    assert(real.exceptAll(frontier).isEmpty
      && frontier.exceptAll(real).isEmpty)
  }

  test("parameterized sql binds named markers like literals: result " +
      "equals the literal twin and the filter reaches the scan") {
    val bound = SparkEntry.queries("sql_param")(spark, sf)
    Tables.orders(spark, sf).createOrReplaceTempView("orders_param_lit")
    val literal = spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders_param_lit
        |WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
        |  AND o_orderstatus = 'O'
        |GROUP BY o_orderpriority""".stripMargin)
    assert(bound.exceptAll(literal).isEmpty &&
      literal.exceptAll(bound).isEmpty)
    // the bound markers constant-fold into pushed parquet filters
    val scan = bound.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "IsNotNull(o_orderstatus)") || scan.contains("GreaterThanOrEqual(o_orderdate"),
      scan)
  }

  test("stickiness: full-window days only, dau <= wau <= corpus users, " +
      "and a spot-checked rolling distinct") {
    val s = Relational.stickiness(spark, sf).cache()
    val ev = graft.Tables.events(spark, sf)
      .select(to_date(date_trunc("DAY", col("ts"))).as("day"),
        col("user_id"))
    val nDays = ev.select("day").distinct().count()
    assert(s.count() == nDays - 6)
    val total = ev.select("user_id").distinct().count()
    assert(s.filter(col("dau") > col("wau") || col("wau") > total
      || col("stickiness") <= 0.0 || col("stickiness") > 1.0).isEmpty)
    assert(s.filter(col("stickiness") =!=
      round(col("dau").cast("double") / col("wau"), 6)).isEmpty)
    // spot check the last day's rolling distinct directly
    val last = s.agg(max(col("day"))).head().getDate(0)
    val expWau = ev
      .filter(col("day").between(date_sub(lit(last), 6), lit(last)))
      .select("user_id").distinct().count()
    assert(s.filter(col("day") === last).head().getLong(2) == expWau)
    s.unpersist()
  }

  test("transition paths: per-source probabilities sum to 1 and counts " +
      "tile the within-session steps") {
    val t = Relational.transitionPaths(spark, sf).cache()
    val sums = t.groupBy("from_type").agg(sum(col("p")).as("sp"),
      sum(col("n")).as("sn"))
    // rounded 6-decimal probabilities: allow per-row rounding slack
    assert(sums.filter(abs(col("sp") - 1.0) > 1e-5 * 25).isEmpty)
    // total transitions = sum over sessions of (n_events - 1)
    val expected = Relational.sessionize(spark, sf)
      .agg(sum(col("n_events") - 1)).head().getLong(0)
    assert(t.agg(sum(col("n"))).head().getLong(0) == expected)
    t.unpersist()
  }

  test("top paths: planted sessions pin the label strings, the first-" +
      "purchase cut, and the frequency rank") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def t(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    // u1, u2: click>CONV (post-purchase view is cut); u3: view only
    val rows = Seq(
      (1L, t(0), 1L, "click"), (2L, t(60), 1L, "purchase"),
      (3L, t(120), 1L, "view"),
      (4L, t(0), 2L, "click"), (5L, t(60), 2L, "purchase"),
      (6L, t(0), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Relational.topPathsOver(rows, 10).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("click>CONV", "view"))
    assert(out("click>CONV").getAs[Long]("n") == 2 &&
      out("click>CONV").getAs[Long]("converted") == 1)
    assert(out("click>CONV").getAs[Long]("rnk") == 1)
    assert(out("view").getAs[Long]("n") == 1 &&
      out("view").getAs[Long]("converted") == 0)
    assert(out("view").getAs[Long]("rnk") == 2)
  }

  test("abc classification: planted 80/15/5 corpus pins classes at the " +
      "inclusive integer boundaries") {
    import spark.implicits._
    val out = Relational.abcClassOver(
      Seq((1L, 80L), (2L, 15L), (3L, 5L)).toDF("l_partkey", "cents"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("abc") == "A" &&
      out(1L).getAs[Long]("rank") == 1)
    assert(out(2L).getAs[String]("abc") == "B" &&
      out(2L).getAs[Long]("rank") == 2)
    assert(out(3L).getAs[String]("abc") == "C" &&
      out(3L).getAs[Long]("rank") == 3)
    assert(out(1L).getAs[Long]("cum_cents") == 80)
    assert(out(3L).getAs[Long]("cum_cents") == 100)
    assert(out(2L).getAs[Double]("cum_share") == 0.95)
    // equal-cents ties rank by partkey: 2 before 3
    val tied = Relational.abcClassOver(
      Seq((3L, 10L), (2L, 10L), (1L, 20L)).toDF("l_partkey", "cents"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rank")).toMap
    assert(tied == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("markov attribution: planted two-channel chain pins removal " +
      "effects 2:1 and complementary shares") {
    import spark.implicits._
    // u1/u2: ad -> purchase; u3: ad only (NULL); u4: email -> purchase
    // START->ad .75 / ->email .25; ad->CONV 2/3; email->CONV 1
    // base = .750000250, eff(ad) = .500000250, eff(email) = .25
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:01:00")
    val rows = Seq(
      (1L, t0, 1L, "ad"), (2L, t1, 1L, "purchase"),
      (3L, t0, 2L, "ad"), (4L, t1, 2L, "purchase"),
      (5L, t0, 3L, "ad"),
      (6L, t0, 4L, "email"), (7L, t1, 4L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Relational.markovAttributionOver(rows, 32)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("ad", "email"))
    assert(out("ad").getAs[Double]("base_cvr") == 0.75)
    assert(out("ad").getAs[Double]("removed_cvr") == 0.25)
    assert(out("email").getAs[Double]("removed_cvr") == 0.5)
    assert(out("ad").getAs[Double]("removal_effect") == 0.666667)
    assert(out("email").getAs[Double]("removal_effect") == 0.333333)
    assert(out("ad").getAs[Double]("attribution") == 0.666667)
    assert(out("email").getAs[Double]("attribution") == 0.333333)
  }

  test("SLO burn: a one-hour spike diluted by the slow window does not " +
      "page; a sustained burn pages on both windows") {
    import spark.implicits._
    val dir = TempDirs.create("graft_slo").toString
    val t = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00")
    var id = 0L
    def hour(d: Int, h: Int, ok: Int, err: Int) =
      (1 to ok).map { _ => id += 1; (id, t(d, h), 1L, "view") } ++
        (1 to err).map { _ => id += 1; (id, t(d, h), 1L, "error") }
    val rows =
      // day 1: five big clean hours, then a 10%-error spike hour —
      // fast window burns (2x) but the slow window dilutes below 1x
      (0 to 4).flatMap(h => hour(1, h, 200, 0)) ++
        hour(1, 5, 18, 2) ++
        // day 2: six straight hours at 10% errors — both windows burn
        (0 to 5).flatMap(h => hour(2, h, 18, 2))
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.sloBurn(spark, dir).collect()
      .map(r => r.getString(0).substring(0, 13) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val spike = out("2024-03-01 05")
    assert(spike._1 == 2000000L, s"fast burn $spike")     // 2.0x
    assert(!spike._3, s"diluted spike paged: $spike")      // slow < 1x
    val sustained = out("2024-03-02 05")
    assert(sustained._1 == 2000000L && sustained._2 == 2000000L)
    assert(sustained._3, s"sustained burn did not page: $sustained")
  }

  test("interpolate: planted gaps fill linearly in exact micro-dollars, " +
      "observed days stay exact, singletons are excluded") {
    import spark.implicits._
    val dir = TempDirs.create("graft_interp").toString
    val t = (d: Int) => java.sql.Timestamp.valueOf(f"2024-02-$d%02d 09:00:00")
    Seq(
      (1L, t(1), 1L, "purchase", 1.00),   // 100 cents
      (2L, t(4), 1L, "purchase", 4.00),   // 400 cents, 2-day gap
      (3L, t(2), 2L, "purchase", 9.99),   // singleton user: excluded
      (4L, t(1), 3L, "view", 5.0))        // non-purchase: ignored
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.interpolate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out == Map(
      (1L, "2024-02-01") -> ((10000L, true)),
      (1L, "2024-02-02") -> ((20000L, false)),  // 100+300/3 = 200 cents
      (1L, "2024-02-03") -> ((30000L, false)),
      (1L, "2024-02-04") -> ((40000L, true))))
  }

  test("rolling retention: planted cohorts pin D1/D7 exactly and a " +
      "same-day repeat never counts as retained") {
    import spark.implicits._
    val dir = TempDirs.create("graft_retention").toString
    val t = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    Seq(
      // u1: day 1 + day 2 (D1) + day 8 (D7)
      (1L, t(1, 8), 1L, "view"), (2L, t(2, 8), 1L, "view"),
      (3L, t(8, 8), 1L, "view"),
      // u2: day 1 twice (same-day repeat only — retained nowhere)
      (4L, t(1, 9), 2L, "view"), (5L, t(1, 18), 2L, "view"),
      // u3: day 2 cohort, back day 3 (D1 only)
      (6L, t(2, 9), 3L, "view"), (7L, t(3, 9), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.rollingRetention(spark, dir).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    assert(out == Map(
      "2024-02-01" -> ((2L, 1L, 1L, 0.5, 0.5)),
      "2024-02-02" -> ((1L, 1L, 0L, 1.0, 0.0))))
  }

  test("cohort LTV: a planted two-cohort store pins cells, cumulative " +
      "telescoping, and distinct-user counting") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ltv").toString
    // cohort A (week of Jan 1): u1 buys w0 (1.00+2.00) and w1 (4.00);
    // cohort B (week of Jan 8): u2 buys w1 (8.00)
    Seq(
      (1L, "2024-01-01 08:00:00", 1L, 1.00),
      (2L, "2024-01-02 08:00:00", 1L, 2.00),
      (3L, "2024-01-08 08:00:00", 1L, 4.00),
      (4L, "2024-01-08 09:00:00", 2L, 8.00))
      .map { case (e, ts, u, v) =>
        (e, java.sql.Timestamp.valueOf(ts), u, "purchase", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.cohortLtv(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val weekA = out.keys.map(_._1).min
    assert(out(weekA -> 0L) == ((1L, 300L, 300L)))
    assert(out(weekA -> 1L) == ((1L, 400L, 700L)),
      "cumulative must telescope within the cohort")
    assert(out((weekA + 1) -> 0L) == ((1L, 800L, 800L)))
    assert(out.size == 3)
  }

  test("interarrival: same-day bursts collapse, gaps and micro-shares " +
      "replay exactly") {
    import spark.implicits._
    val dir = TempDirs.create("graft_gap").toString
    // u1: days 1, 1(burst), 3, 10 -> gaps 2, 7; u2: days 1, 3 -> gap 2
    Seq((1L, 1), (2L, 1), (3L, 3), (4L, 10))
      .map { case (e, d) => (e, java.sql.Timestamp.valueOf(
        f"2024-01-$d%02d 08:00:00"), 1L, "purchase", 1.0, "{}") } ++
      Seq((5L, 1), (6L, 3)).map { case (e, d) =>
        (e, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00"),
          2L, "purchase", 1.0, "{}") } match { case rows =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val out = Relational.interarrival(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 3 gaps total: two 2-day (share 2/3 -> 666667 half-up), one 7-day
    assert(out == Map(2L -> ((2L, 666667L)), 7L -> ((1L, 333333L))))
  }

  test("new vs returning: the first-seen day is new exactly once, " +
      "same-day repeats collapse") {
    import spark.implicits._
    val dir = TempDirs.create("graft_nvr").toString
    // u1 active d1, d1(repeat), d2; u2 active d2 only
    Seq((1L, 1, 1L), (2L, 1, 1L), (3L, 2, 1L), (4L, 2, 2L))
      .map { case (e, d, u) => (e, java.sql.Timestamp.valueOf(
        f"2024-01-$d%02d 08:00:00"), u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.newVsReturning(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("2024-01-01" -> ((1L, 0L)),
      "2024-01-02" -> ((1L, 1L))))
  }

  test("churn risk: the final-week cutoff splits planted last-active " +
      "days exactly (the corpus case is degenerate-zero)") {
    import spark.implicits._
    val dir = TempDirs.create("graft_churn").toString
    // window ends Jan 20 -> cutoff Jan 14; u1 last active Jan 13 (at
    // risk), u2 Jan 14 (exactly the cutoff: NOT at risk), u3 Jan 20
    Seq((1L, 13, 1L), (2L, 14, 2L), (3L, 20, 3L), (4L, 2, 1L))
      .map { case (e, d, u) => (e, java.sql.Timestamp.valueOf(
        f"2024-01-$d%02d 08:00:00"), u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = Relational.churnRisk(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out("A") == ((2L, 1L, 500000L)),
      s"cutoff-day user must NOT be at risk: ${out("A")}")
    assert(out("B") == ((1L, 0L, 0L)))
  }

  test("pareto: the ceil(n/5) cutoff and the id tiebreak at the rank " +
      "boundary are deterministic") {
    import spark.implicits._
    val dir = TempDirs.create("graft_pareto").toString
    // 6 users -> k = ceil(6/5) = 2; users 3 and 4 TIE at 30.00: the
    // id tiebreak must put user 3 in and user 4 out
    Seq((1L, 1L, 50.00), (2L, 2L, 40.00), (3L, 3L, 30.00),
        (4L, 4L, 30.00), (5L, 5L, 20.00), (6L, 6L, 10.00))
      .map { case (e, u, v) => (e, java.sql.Timestamp.valueOf(
        "2024-01-01 08:00:00"), u, "purchase", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Relational.pareto(spark, dir).collect()(0)
    // top 2 = 50 + 40 = 9000 cents of 18000 -> exactly 500000 micro
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L
      && r.getLong(2) == 9000L && r.getLong(3) == 18000L
      && r.getLong(4) == 500000L, s"got $r")
  }

  test("HITS converged: the stop test fires where the independent " +
      "fixed unrolls measure an L1 step within eps, and mass stays 1") {
    val eps = 1e-6
    val out = Relational.hitsConverged(spark, sf, eps = eps).cache()
    val head = out.select("n_rounds", "converged").first()
    val n = head.getLong(0).toInt
    assert(head.getBoolean(1), s"did not converge within the cap ($n)")
    // scores are L1-normalized per side every half-step
    val mass = out.groupBy("kind").agg(sum(col("score")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mass.size == 2 && mass.values.forall(m => math.abs(m - 1.0) < 1e-5),
      s"per-side L1 mass drifted: $mass")
    // the certificate, measured independently via fixed unrolls: the
    // authority vectors of rounds n-1 and n are within eps in L1
    val aN = Relational.hitsRun(spark, sf, maxRounds = n, eps = None)._1
      .filter(col("kind") === "part")
      .select(col("node_id"), col("score"))
    val aPrev = Relational.hitsRun(spark, sf, maxRounds = n - 1, eps = None)._1
      .filter(col("kind") === "part")
      .select(col("node_id"), col("score").as("prev"))
    val l1 = aN.join(aPrev, "node_id")
      .agg(coalesce(sum(abs(col("score") - col("prev"))), lit(0.0)))
      .first().getDouble(0)
    assert(l1 <= eps, s"stop test fired at round $n but measured L1=$l1")
    out.unpersist()
  }

  test("a warm q_hits call runs at most 3 Spark jobs") {
    def call(): Unit = SparkEntry.queries("q_hits")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    call() // builds the memoized edges, degrees and trajectory
    val n = jobsOf(call())
    assert(n <= 3, s"warm q_hits ran $n jobs")
  }

  /** The sf0.001 schemas with no lineitem row: no (customer, part)
    * edge.
    */
  private def emptyGraphCorpus(): String = {
    val dir = TempDirs.create("graft_hits_empty")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      dir.resolve("orders.parquet"))
    spark.read.parquet(s"$sf/lineitem.parquet").limit(0)
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    dir.toString
  }

  /** Five orders: customer 1 buys parts 101, 102 and a null part;
    * customer 2 buys 101 and a null part; a null customer buys 102
    * and 103 (so 103 is reached by no scored hub); customer 4 buys
    * only a null part; customer 3's order has no line.
    */
  private def nullKeysCorpus(): String = {
    import spark.implicits._
    val dir = TempDirs.create("graft_hits_nulls").toString
    Seq((10L, Some(1L)), (20L, Some(2L)), (30L, None), (40L, Some(3L)),
        (50L, Some(4L)))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, Some(101L)), (10L, Some(102L)), (10L, None), (20L, Some(101L)),
        (20L, None), (30L, Some(102L)), (30L, Some(103L)), (50L, None))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("a warm q_item_similarity call runs at most 1 Spark job") {
    def call(): Unit = SparkEntry.queries("q_item_similarity")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    call() // builds the basket artifacts and the neighbour lists
    val n = jobsOf(call())
    assert(n <= 1, s"warm q_item_similarity ran $n jobs")
  }

  test("q_item_similarity over an empty lineitem returns an empty frame " +
      "with the sf0.001 schema") {
    val want = SparkEntry.queries("q_item_similarity")(spark, sf).schema
    val got = SparkEntry.queries("q_item_similarity")(spark,
      emptyGraphCorpus())
    assert(got.schema == want, s"${got.schema} vs $want")
    assert(got.count() == 0)
  }

  test("HITS on an empty edge graph returns an empty frame") {
    val dir = emptyGraphCorpus()
    for (key <- Seq("q_hits", "q_hits_converged")) {
      val out = SparkEntry.queries(key)(spark, dir)
      assert(out.count() == 0, key)
    }
  }

  test("HITS: the on-driver and distributed trajectories give bit-" +
      "identical frames for rounds 1..12 and the same converged stop, " +
      "on sf0.001, a graph with null keys, and an empty graph") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      .sorted.toSeq
    for (dir <- Seq(sf, nullKeysCorpus(), emptyGraphCorpus())) {
      val local = HitsTrajectory(spark, dir)
      val dist = HitsTrajectory(spark, dir, driverCutoff = -1L)
      try {
        for (n <- 1 to 12) {
          val (l, d) = (Relational.hitsOver(local, n, None)._1,
            Relational.hitsOver(dist, n, None)._1)
          if (n == 1) {
            val (ll, dl) = (l.queryExecution.analyzed.collectLeaves(),
              d.queryExecution.analyzed.collectLeaves())
            assert(ll.nonEmpty && ll.forall(_.isInstanceOf[LocalRelation]),
              s"$dir: not the on-driver path: $ll")
            assert(dl.nonEmpty && dl.forall(_.isInstanceOf[LogicalRDD]),
              s"$dir: not the distributed path: $dl")
          }
          assert(bits(l) == bits(d), s"$dir round $n")
        }
        val (lc, dc) = (Relational.hitsOver(local, 12, Some(1e-6)),
          Relational.hitsOver(dist, 12, Some(1e-6)))
        assert((lc._2, lc._3) == ((dc._2, dc._3)), dir)
        assert(bits(lc._1) == bits(dc._1), dir)
      } finally { local.close(); dist.close() }
    }
  }

  test("HITS on the driver: a cold q_hits_converged runs no more jobs " +
      "than a cold q_hits, and a warm q_hits runs at most 1 job") {
    def call(key: String, dir: String): Unit =
      SparkEntry.queries(key)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    val cold = jobsOf(call("q_hits", linkedSf()))
    val coldConverged = jobsOf(call("q_hits_converged", linkedSf()))
    assert(coldConverged <= cold,
      s"cold q_hits_converged ran $coldConverged jobs, cold q_hits $cold")
    val dir = linkedSf()
    call("q_hits", dir)
    val warm = jobsOf(call("q_hits", dir))
    assert(warm <= 1, s"warm q_hits ran $warm jobs")
  }

  test("HITS: a planted bipartite graph replays the two normalized " +
      "rounds bit-exactly, with degrees recounted") {
    import spark.implicits._
    val dir = TempDirs.create("graft_hits").toString
    // u1 buys p101,p102,p103 (order 10); u2 buys p101 (order 20)
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 101L), (10L, 102L), (10L, 103L), (20L, 101L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Relational.hitsScores(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a1 ∝ part degree / 4: p101 = .5, p102 = p103 = .25 (exact)
    // h1 raw: u1 = 1.0, u2 = .5 → normalize by 1.5
    val h1 = Map(1L -> r9(1.0 / 1.5), 2L -> r9(0.5 / 1.5))
    // a2 raw: decimal-exact sums of the 9-decimal h1 scores
    val a2raw = Map(
      101L -> (BigDecimal(h1(1L)) + BigDecimal(h1(2L))),
      102L -> BigDecimal(h1(1L)), 103L -> BigDecimal(h1(1L)))
    val ta2 = a2raw.values.sum
    val a2 = a2raw.view
      .mapValues(v => r9(v.toDouble / ta2.toDouble)).toMap
    val h2raw = Map(
      1L -> (BigDecimal(a2(101L)) + BigDecimal(a2(102L))
        + BigDecimal(a2(103L))),
      2L -> BigDecimal(a2(101L)))
    val th2 = h2raw.values.sum
    val h2 = h2raw.view
      .mapValues(v => r9(v.toDouble / th2.toDouble)).toMap
    assert(out(("part", 101L)) == ((a2(101L), 2L)))
    assert(out(("part", 102L)) == ((a2(102L), 1L)))
    assert(out(("part", 103L)) == ((a2(103L), 1L)))
    assert(out(("cust", 1L)) == ((h2(1L), 3L)))
    assert(out(("cust", 2L)) == ((h2(2L), 1L)))
    // scores stay L1-normalized per side (up to round-9 residue)
    assert(math.abs(a2.values.sum - 1.0) < 1e-6)
    assert(math.abs(h2.values.sum - 1.0) < 1e-6)
  }

  test("backlog: a no-line order never closes, a same-month close " +
      "nets zero, and the last-ship rule closes on the final line") {
    import spark.implicits._
    val dir = TempDirs.create("graft_backlog_spec").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    Seq((1L, ts("2024-01-05"), 10.0), // closes 2024-03 (last line)
        (2L, ts("2024-01-10"), 20.0), // NO lineitem: never closes
        (3L, ts("2024-02-01"), 30.0)) // opens and closes in 2024-02
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // order 1 has an early and a late line: the ORDER closes when its
    // LAST line ships, so February must still carry it
    Seq((1L, ts("2024-02-15")), (1L, ts("2024-03-10")),
        (3L, ts("2024-02-20")))
      .toDF("l_orderkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.backlog(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("2024-01", 2L, 30.0),  // 1 and 2 open
      ("2024-02", 2L, 30.0),  // 3 opened AND closed; 1 still open
      ("2024-03", 1L, 20.0)), // 1 closed; only the line-less 2 remains
      s"got ${got.toSeq}")
  }

  test("user entropy: a uniform two-action user pins ln 2, a " +
      "single-action user pins 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = TempDirs.create("graft_uentropy").toString
    var id = 0L
    val rows =
      Seq(("click", 1L), ("click", 1L), ("view", 1L), ("view", 1L),
        ("click", 2L), ("click", 2L), ("click", 2L)).map {
        case (t, u) => id += 1
          (id, java.sql.Timestamp.valueOf("2024-01-05 08:00:00"), u, t,
            1.0, "{}")
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Relational.userEntropy(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // u1: counts (2,2) -> H = ln4 - (2*r6(ln2)*2)/4, rounded 6 = ln 2
    assert(out(1L)._1 == 4L && out(1L)._2 == 2L)
    assert(out(1L)._3 == 0.693147, s"H = ${out(1L)._3}")
    // u2: one action type -> H = ln3 - 3*r6(ln3)/3 = 0 after rounding
    assert(out(2L)._2 == 1L && out(2L)._3 == 0.0, s"H = ${out(2L)._3}")
  }

  test("order-to-ship: per-priority rollup re-derives from the raw join, " +
      "median bounded by max") {
    import org.apache.spark.sql.functions._
    val out = Relational.orderToShip(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("median_days") <=
        r.getAs[Long]("max_days").toDouble)
    }
    // the priority buckets partition the joined fact exactly
    val joined = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
    assert(rows.map(_.getAs[Long]("n_items")).sum == joined.count())
    // spot-recompute one priority's mean from first principles
    val p = rows.head.getAs[String]("o_orderpriority")
    val ds = joined.filter(col("o_orderpriority") === p)
      .select(datediff(to_date(col("l_shipdate")),
        to_date(col("o_orderdate"))).cast("long"))
      .collect().map(_.getLong(0))
    val want = BigDecimal(ds.sum.toDouble / ds.length.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getAs[Double]("avg_days") == want)
    out.unpersist()
  }

  test("retention half-life: a planted exact-halving cohort pins " +
      "slope -ln2 and half-life 1.0 under horizon-aware denominators") {
    import spark.implicits._
    import java.sql.Date
    def d(k: Int): Date =
      Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(k))
    // 64 users first active on day 0; user u active on day k iff
    // u < 64/2^k -> r_k = 2^-k exactly for k = 1..6
    val rows = for {
      u <- 0 until 64
      k <- 0 to 6
      if u < (64 >> k)
    } yield (u.toLong, d(k))
    val r = Relational.retentionHalflifeOver(
      rows.toDF("user_id", "day"), 6).head
    assert(r.getLong(0) == 6, s"n_points ${r.getLong(0)}")
    assert(math.abs(r.getDouble(1) + 0.6931471805599453) < 1e-4,
      s"slope ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-4,
      s"half-life ${r.getDouble(2)}")
    // corpus: the report exists and null-guards honestly (the flat
    // synthetic retention yields no decay -> no half-life)
    val real = Relational.retentionHalflife(spark, sf).head
    assert(real.getLong(0) >= 1)
  }

  test("funnel CI: hand-replayed Wilson bands on planted counts; the " +
      "interval always brackets the rate and respects [0, 1]") {
    import spark.implicits._
    // 4 viewers, 3 click, 1 purchases
    val rows = Seq(
      (1L, "view"), (1L, "click"), (1L, "purchase"),
      (2L, "view"), (2L, "click"),
      (3L, "view"), (3L, "click"),
      (4L, "view"))
    val r = Relational.funnelCiOver(rows.toDF("user_id", "event_type"))
      .orderBy("step").collect()
    assert(r.map(_.getString(0)).toSeq ==
      Seq("1_view", "2_click", "3_purchase"))
    assert(r.map(_.getLong(1)).toSeq == Seq(4L, 3L, 1L))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def wilson(k: Long, n: Long): (Double, Double, Double) = {
      val z = 1.96; val z2 = z * z
      val nD = n.toDouble; val ph = k.toDouble / nD
      val denom = 1.0 + z2 / nD
      val center = ph + z2 / (2.0 * nD)
      val half = z * math.sqrt(ph * (1.0 - ph) / nD + z2 / (4.0 * nD * nD))
      (r6(ph), r6((center - half) / denom), r6((center + half) / denom))
    }
    val (rc, lc, hc) = wilson(3, 4)
    assert(r(1).getDouble(2) == rc && r(1).getDouble(3) == lc &&
      r(1).getDouble(4) == hc, s"click step ${r(1)}")
    val (rp, lp, hp) = wilson(1, 3)
    assert(r(2).getDouble(2) == rp && r(2).getDouble(3) == lp &&
      r(2).getDouble(4) == hp, s"purchase step ${r(2)}")
    // corpus: bands bracket the rate and stay in [0, 1]
    Relational.funnelCi(spark, sf).filter(col("conv_rate").isNotNull)
      .collect().foreach { row =>
      assert(row.getDouble(3) <= row.getDouble(2) &&
        row.getDouble(2) <= row.getDouble(4))
      assert(row.getDouble(3) >= 0.0 && row.getDouble(4) <= 1.0)
    }
  }

  test("bloom planner: bits replay ceil(n * bits_per_key) exactly, " +
      "cost grows as fpp tightens, hash counts are the textbook 3/7/10") {
    val r = Relational.bloomPlanner(spark, sf)
      .orderBy(col("target_fpp").desc).collect()
    assert(r.length == 3)
    val ln2 = math.log(2.0)
    r.zip(Seq(0.1, 0.01, 0.001)).foreach { case (row, p) =>
      val n = row.getLong(1)
      val bpk = -math.log(p) / (ln2 * ln2)
      assert(row.getLong(3) == math.ceil(n.toDouble * bpk).toLong,
        s"bits mismatch at fpp $p")
      assert(row.getLong(5) == (row.getLong(3) + 7) / 8)
    }
    assert(r.map(_.getLong(3)).toSeq == r.map(_.getLong(3)).sorted.toSeq,
      "bits must grow as fpp tightens")
    assert(r.map(_.getLong(4)).toSeq == Seq(3L, 7L, 10L))
  }

  test("basket memos: market basket equals the un-memoized incidence " +
      "self-join row for row, item similarity shares the same pair " +
      "artifact, and repeat calls add no new entries") {
    Relational.marketBasket(spark, sf).count() // seeds both artifacts
    def n = graft.operators.Artifacts.count("basket_pairs") +
      graft.operators.Artifacts.count("basket_order_parts")
    val n0 = n
    val got = Relational.marketBasket(spark, sf)
    Relational.itemSimilarity(spark, sf).count()
    assert(n == n0,
      "a consumer re-built the basket artifact instead of sharing")
    // the original formulation, verbatim: incidence self-join on the
    // order key, a < b, counted, thresholded, top-k
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val direct = op.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(op.select(col("l_orderkey"), col("l_partkey").as("part_b")),
        "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      "kernel-expanded basket pairs drifted from the self-join pipeline")
  }
}
