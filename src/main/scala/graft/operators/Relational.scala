package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational/analytics layer — the reference's map/shuffle/reduce
  * generalized to declarative multi-table plans (SURVEY §2.B).
  *
  * Engine-portability rules (oracle hash-match, SURVEY §5):
  *  - money math in decimal(18,2) (exact, identical in DuckDB), final
  *    cast to double;
  *  - timestamps leave oracle-gated outputs as UTC-formatted strings
  *    (parquet TZ annotation differences can't bite);
  *  - every LIMIT is preceded by a total order with unique tiebreak.
  *
  * Scale notes: `region`/`nation` are fixed-cardinality → broadcast
  * hints; all other joins stay shuffle-based so the same plan survives
  * 1000-executor / 100 TB inputs (AQE converts to broadcast at
  * runtime when a side is actually small).
  */
object Relational {

  // shared across operator objects (Stats reuses it) so the engines'
  // money-DECIMAL discipline has exactly one definition
  private[operators] def money(c: Column): Column = c.cast(DecimalType(18, 2))
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** TPC-H Q1-shape pricing summary. One shuffle; partial aggregation
    * map-side keeps shuffle rows = groups × partitions.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))
          * (lit(1) + money(col("l_tax")))).cast("double").as("sum_charge"),
        (sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-shape: top-10 undelivered orders by revenue. */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("1998-03-15 00:00:00").cast("timestamp")
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > cut)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), TsFmt).as("o_orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shape: revenue per nation for one region+year, 6-way
    * join. region/nation broadcast (fixed cardinality at any SF).
    */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val l = Tables.lineitem(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey")
        && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q6-shape: highly selective scan + single agg — the
    * pushdown showcase (filters reach the parquet reader).
    */
  def q6RevenueDelta(spark: SparkSession, sfDir: String): DataFrame =
    q6Over(Tables.lineitem(spark, sfDir))

  /** The Q6 aggregate over any lineitem-shaped frame — shared by the
    * parquet path and the ORC round-trip source gate.
    */
  def q6Over(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")
        && col("l_discount").between(0.02, 0.06)
        && col("l_quantity") < 24)
      .agg(sum(money(col("l_extendedprice")) * money(col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Top-3 orders per customer by price — window top-k, the
    * "reduce with per-key state" shape.
    */
  def topkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** ROLLUP aggregation (hierarchical subtotals in one pass). */
  def rollupSales(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** Left-semi + left-anti in one result (EXISTS / NOT EXISTS). */
  def semiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    val ok = Tables.orders(spark, sfDir).select("o_custkey")
    val has = c.join(ok, c("c_custkey") === ok("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
    val none = c.join(ok, c("c_custkey") === ok("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    has.unionAll(none)
  }

  /** Exact distinct users per event type (two-level agg, one query). */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("n"))

  /** Continuous quartiles of quantity per returnflag. */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"))

  /** Hourly event rollup — batch twin of the streaming windowed agg
    * (graft.streaming.EventStreams.hourlyCounts).
    */
  def eventsHourly(spark: SparkSession, sfDir: String): DataFrame =
    eventsHourlyOver(Tables.events(spark, sfDir))

  /** Same hourly rollup over any events-shaped input (parquet, JSONL,
    * or a materialized stream) — the source never changes the plan.
    */
  def eventsHourlyOver(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .withColumn("hour", date_format(col("hour"), TsFmt))

  /** Gaps-and-islands sessionization, 30-minute inactivity gap.
    * Batch twin of the flatMapGroupsWithState streaming session
    * builder. One shuffle on user_id; both windows share it.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          || col("ts").cast("double") - col("prev_ts").cast("double") > 1800d, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        date_format(min(col("ts")), TsFmt).as("session_start"),
        date_format(max(col("ts")), TsFmt).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Sessionization via Spark's BUILT-IN `session_window` aggregate —
    * the engine-native path next to the manual lag/sum-of-flags chain
    * ([[sessionize]]): one grouped aggregation whose merging-session
    * state is maintained by the operator itself (no ordered window
    * functions, so no per-user sort dependency in the logical plan;
    * the same aggregate powers streaming session windows with
    * watermark eviction). Boundary semantics MEASURED and pinned: the
    * merge test treats the window end as inclusive, so a pair exactly
    * 1800 s apart MERGES — the same strict-> split rule as the manual
    * chain, and what the oracle replays.
    */
  def sessionWindowBuiltin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("s"), max(col("ts")).as("e"))
      .select(col("user_id"),
        date_format(col("s"), TsFmt).as("session_start"),
        date_format(col("e"), TsFmt).as("session_end"),
        col("n_events"))

  /** Running aggregates per supplier over ship time: cumulative
    * quantity and 3-row moving average — the ordered-window shape.
    */
  def runningWindow(spark: SparkSession, sfDir: String): DataFrame = {
    // qty as final tiebreaker: (orderkey, linenumber) is NOT unique in
    // the generated data, and a tied sort key with differing qty makes
    // running sums order-dependent across engines. With qty pinned,
    // any remaining ties produce identical output rows.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("qty"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), money(col("l_quantity")).as("qty"))
      .withColumn("running_qty",
        sum(col("qty")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("avg3",
        (sum(col("qty")).over(w.rowsBetween(-2, 0)).cast("double")
          / count(lit(1)).over(w.rowsBetween(-2, 0))))
      .withColumn("qty", col("qty").cast("double"))
      .drop("l_shipdate")
  }

  /** CUBE aggregation over two dimensions (all 4 grouping sets). */
  def cubeSales(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(sum(money(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))

  /** Skew-resistant two-phase aggregation: pre-aggregate on a salted
    * key (user_id, salt) so one hot user spreads over 8 reducers, then
    * merge partials. Result is identical to the plain groupBy — which
    * is exactly what the oracle checks.
    */
  def saltedUserAgg(spark: SparkSession, sfDir: String,
      saltBuckets: Int = 8): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("salt", pmod(col("event_id"), lit(saltBuckets)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(money(col("value"))).as("pv"))
      .groupBy(col("user_id"))
      .agg(sum(col("pn")).as("n_events"),
        sum(col("pv")).cast("double").as("sum_value"))

  /** Scalar + correlated subquery shape: customers whose total spend
    * exceeds 4× the global average order price.
    */
  def bigSpenders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val globalAvg = o.agg(
      (sum(money(col("o_totalprice"))).cast("double") / count(lit(1)))
        .as("g")).select("g")
    val perCust = o.groupBy("o_custkey")
      .agg(sum(money(col("o_totalprice"))).cast("double").as("spend"),
        count(lit(1)).as("n_orders"))
    perCust.crossJoin(globalAvg)
      .filter(col("spend") > col("g") * 4)
      .select(col("o_custkey"), col("spend"), col("n_orders"))
  }

  /** Sketch-based distinct counting (HyperLogLog++): the approximate
    * twin of `distinctUsers` for the 100 TB path where exact distinct
    * is a full shuffle of the key space. rows-gated; the spec checks
    * the estimate against the exact count within rsd bounds.
    */
  def approxDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        expr("approx_percentile(value, 0.5, 1000)").as("p50_value"))

  /** Trailing 30-day quantity sum per supplier — RANGE window frame
    * over event time (epoch-seconds ordering so the frame arithmetic
    * is engine-portable).
    */
  def trailing30d(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("ep"))
      .rangeBetween(-30L * 86400, 0)
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        unix_timestamp(col("l_shipdate")).as("ep"),
        money(col("l_quantity")).as("qty"))
      .withColumn("qty_30d", sum(col("qty")).over(w).cast("double"))
      .drop("qty")
  }

  /** first/last/nth value window functions per customer order history. */
  def firstLastOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("first_order", first(col("o_orderkey")).over(w))
      .withColumn("last_order", last(col("o_orderkey")).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), TsFmt).as("o_orderdate"),
        col("first_order"), col("last_order"))
  }

  /** Deterministic ~1/16 sample via md5 prefix — the reproducible
    * sampling a pipeline needs (same rows on every engine and every
    * run, unlike RNG-based Bernoulli sampling).
    */
  def deterministicSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** INTERSECT / EXCEPT set semantics: customers ordering in both
    * years vs only the first.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    def custsIn(year: Int) = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit(s"${year + 1}-01-01 00:00:00").cast("timestamp"))
      .select("o_custkey")
    val both = custsIn(1996).intersect(custsIn(1997))
      .withColumn("tag", lit("both"))
    val only96 = custsIn(1996).except(custsIn(1997))
      .withColumn("tag", lit("only_1996"))
    both.unionAll(only96)
  }

  /** GROUP BY + HAVING shape: orders with at least 5 line items. */
  def bigOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(money(col("l_quantity"))).cast("double").as("total_qty"))
      .filter(col("n_items") >= 5)

  /** String-function suite incl. Levenshtein edit distance. */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 100)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        length(col("c_name")).cast("long").as("name_len"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        levenshtein(col("c_name"), lit("Customer#000000001")).cast("long")
          .as("edit_dist"))

  /** Datetime-part extraction rollup (year/month grain). */
  def dateParts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("o_totalprice"))).cast("double").as("total"))

  /** JSON property extraction from the events.props payload.
    * `try_cast` (not a plain cast): under ANSI mode a malformed "k"
    * value must degrade to null, not kill the job — mirrored by the
    * oracle's regexp_extract null-on-no-match semantics.
    */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS LONG)").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"),
        count(col("k")).as("n_with_k"))

  /** JOIN-STRATEGY HINT surface: `hint("shuffle_hash")` forces a
    * ShuffledHashJoin where the planner would otherwise BROADCAST the
    * (tiny) nation side — proving user hints override the default
    * strategy choice (plan-spec-asserted). The hint surface is the
    * manual override for when statistics mislead the planner at
    * 100 TB: a "small" side that is small per partition but hot, or a
    * build side the CBO undersizes. The result is strategy-invariant,
    * so the plain-join oracle gates it.
    */
  def hintJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir).hint("shuffle_hash")
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(money(col("c_acctbal"))).cast("double").as("sum_acctbal"))
  }

  /** VARIANT-typed semi-structured extraction (Spark 4's open-format
    * binary JSON): `parse_json` decodes the payload ONCE into the
    * variant encoding, then every path extraction (`try_variant_get`)
    * reads the binary form — at 100 TB the parse-once/extract-many
    * shape beats `get_json_object`'s re-parse-per-path (the
    * `q_json_props` baseline) linearly in the number of paths.
    * `try_` semantics: malformed payloads and missing paths degrade
    * to null (counted, not fatal), mirroring the oracle's
    * regexp null-on-no-match.
    */
  def variantProps(spark: SparkSession, sfDir: String): DataFrame =
    variantPropsOver(Tables.events(spark, sfDir))

  /** Same operator over any (event_type, props) frame — planted
    * malformed-payload specs pin the try_ degradation semantics.
    */
  def variantPropsOver(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("try_parse_json(props)").as("vr"))
      .select(col("event_type"),
        expr("try_variant_get(vr, '$.k', 'long')").as("k"),
        expr("try_variant_get(vr, '$.missing', 'string')").as("miss"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("miss")).as("n_missing"))

  /** FREE pipeline observability — `Dataset.observe` attaches metric
    * aggregates to a query's OWN scan (Spark's CollectMetrics node),
    * so input-health counters (row count, value mass, per-class
    * tallies — DISTINCT aggregates are rejected by design, they don't
    * merge per-partition) come out of the same single pass that computes the real
    * result: zero extra scans, exact values, no sampling. The
    * [[org.apache.spark.sql.Observation]] handle collects them after
    * the action. At 100 TB this is the ONLY affordable way to audit
    * every batch — a separate metrics query would double the read.
    *
    * The operator returns the observed metrics as a one-row frame,
    * oracle-gated against plain aggregates over the same table.
    */
  def observeMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val audited = Tables.events(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(money(col("value"))).cast("double").as("sum_value"),
        count(when(col("event_type") === "purchase", lit(1)))
          .as("n_purchase"),
        // observed metrics reject DISTINCT aggregates (they must be
        // mergeable per-partition); the distinct-user audit belongs
        // to q_profile/theta sketches, not this surface
        count(when(col("event_type") === "error", lit(1))).as("n_error"))
      // the real downstream work the metrics ride along with
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    audited.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("sum_value").asInstanceOf[Double],
      m("n_purchase").asInstanceOf[Long],
      m("n_error").asInstanceOf[Long]))
      .toDF("n_rows", "sum_value", "n_purchase", "n_error")
  }

  /** Windowed ranking/navigation suite: quartile (ntile), 2nd order
    * (nth_value over the full frame — the default running frame would
    * make early rows nondeterministic vs engines that differ on it),
    * prev/next (lag/lead). One shuffle; all four share the window.
    */
  def windowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        nth_value(col("o_orderkey"), 2).over(wFull).as("second_order"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"))
  }

  /** Conditional-aggregation suite over events: filtered counts/sums
    * and boolean aggregates — all map-side-combinable, one shuffle.
    */
  def condAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("value") > 100, lit(1))).as("n_high"),
        sum(when(col("value") > 100, money(col("value")))).cast("double")
          .as("sum_high"),
        bool_and(col("value") > 0).as("all_positive"),
        bool_or(col("value") > 500).as("any_huge"))

  /** Funnel conversion: users whose click converts to a purchase
    * within the attribution window, counted per click day. The
    * user-keyed equi-join bounds the pair space; the time predicate
    * is a post-filter on it (never a keyless interval join).
    */
  def funnel(spark: SparkSession, sfDir: String,
      windowSec: Long = 3600): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    clicks.join(purchases, "user_id")
      .filter(col("p_ts") > col("click_ts")
        && col("p_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .groupBy(date_format(date_trunc("day", col("click_ts")), TsFmt).as("day"))
      .agg(countDistinct(col("user_id")).as("converting_users"))
  }

  /** Cohort retention matrix: users bucketed by first-seen week,
    * distinct actives per (cohort week, activity week). Two keyed
    * shuffles (first-seen agg, then the matrix agg); the join is
    * user-keyed.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
    val firstSeen = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    ev.join(firstSeen, "user_id")
      .groupBy(date_format(col("cohort"), TsFmt).as("cohort_week"),
        date_format(date_trunc("week", col("ts")), TsFmt).as("activity_week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Skew-resistant equi-join: a hot fact key lands every row in one
    * task under a plain shuffle join; salting spreads it over `salts`
    * tasks — the fact side gets a deterministic salt from a
    * high-entropy column, the dim side replicates each row across the
    * salt range, and the join keys on (key, salt). Result set is
    * IDENTICAL to the plain join (the oracle checks exactly that);
    * dim-side cost is a bounded ×salts blowup of the (small) side.
    * Complements AQE's runtime skew split with a plan-level guarantee.
    */
  /** THE salt: deterministic spread of a hot key over `salts` shuffle
    * keys, derived from a high-entropy column. Shared by `saltedJoin`
    * and the skew-evidence measurement so the two cannot drift.
    */
  def saltColumn(saltFrom: Column, salts: Int): Column =
    pmod(xxhash64(saltFrom), lit(salts))

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltFrom: Column, salts: Int): DataFrame = {
    val sf = fact.withColumn("_salt", saltColumn(saltFrom, salts))
    val sd = dim.withColumn("_salt",
      explode(sequence(lit(0).cast("long"), lit(salts - 1).cast("long"))))
    sf.join(sd, Seq(key, "_salt")).drop("_salt")
  }

  /** events⋈customer through the salted join, aggregated per market
    * segment — the driver gate proves salted == plain-join semantics.
    */
  def skewJoinSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = Tables.events(spark, sfDir)
      .select(col("user_id").as("k"), col("event_id"), col("value"))
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    saltedJoin(fact, dim, "k", col("event_id"), 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("sum_value"))
  }

  // ---- part-joining TPC-H shapes -------------------------------------

  /** TPC-H Q14-shape promo revenue: conditional aggregation over the
    * part⋈lineitem join, per ship month of 1997. The part side is a
    * dimension at this schema's scale — Spark/AQE picks broadcast when
    * it fits; the plan stays a keyed shuffle join otherwise, so the
    * same code survives a part table too big to broadcast.
    */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .groupBy(month(col("l_shipdate")).cast("long").as("m"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)).cast("double").as("promo_rev"),
        sum(rev).cast("double").as("total_rev"))
      .withColumn("promo_pct",
        col("promo_rev") * lit(100.0) / col("total_rev"))
  }

  /** TPC-H Q17-shape small-quantity revenue per brand: lineitems whose
    * quantity is under 20% of their part's average. The per-part
    * average is a window over l_partkey — ONE scan of lineitem, one
    * shuffle keyed on partkey, instead of a groupBy + re-join that
    * reads the fact table twice.
    */
  def q17SmallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val byPart = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("avg_qty",
        sum(money(col("l_quantity"))).over(byPart).cast("double")
          / count(lit(1)).over(byPart))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg((sum(money(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** TPC-H Q9-shape product profit per (nation, order year): lineitem
    * ⋈ orders ⋈ part ⋈ supplier ⋈ nation, margin = revenue − retail
    * cost of the shipped quantity (this schema has no partsupp, so
    * p_retailprice stands in for ps_supplycost). Fixed-cardinality
    * nation broadcasts; the fact⋈fact joins shuffle on their keys.
    */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val amount = money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))) -
      money(col("p_retailprice")) * money(col("l_quantity"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).filter(col("p_name").contains("gear")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("profit"))
  }

  /** TPC-H Q4-shape: orders placed in 1997H1 with at least one line
    * shipped after the order date, counted per priority. The EXISTS
    * is a left-semi join — the probe side never duplicates rows, so
    * the count stays per-order however many lines match.
    */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-07-01 00:00:00").cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey")
        && col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q10-shape: top-20 customers by returned-lineitem revenue
    * in 1997H2. Total order with unique tiebreak precedes the LIMIT.
    */
  def q10Returned(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-07-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q12-shape (this schema has no shipmode, so linestatus
    * plays the mode): per status, how many 1997 shipments belonged to
    * critical- vs normal-priority orders — one fact⋈fact join, counts
    * as conditional aggregation.
    */
  def q12PriorityClass(spark: SparkSession, sfDir: String): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(critical, 1L).otherwise(0L)).as("high_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_count"))
  }

  /** ORDER-TO-SHIP LEAD TIME (`q_order_to_ship`) — the fulfilment
    * latency distribution per order priority (does URGENT actually
    * ship faster?): per-lineitem days from order date to ship date,
    * rolled to n / mean / exact median / max per priority. Day diffs
    * are exact integers (no timestamp arithmetic survives into the
    * hash); the mean is one IEEE division of exact sums; the median
    * is `percentile` on integers (== quantile_cont — halves exact).
    * One fact-side join on the order key (the Q3/Q12 shuffle shape,
    * AQE-skew-safe) and one partial-agg rollup.
    */
  def orderToShip(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .join(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            to_date(col("o_orderdate")).as("od")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("ship"), col("od")).cast("long").as("d"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("d")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_days"),
        expr("percentile(d, 0.5D)").as("median_days"),
        max(col("d")).as("max_days"))

  /** TPC-H Q13-shape customer order-count distribution: LEFT OUTER
    * join so order-less customers appear as c_count = 0, then the
    * histogram over counts. Two aggregations, each one shuffle.
    */
  def q13CustDist(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") =!= "5-LOW"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q18-shape large-volume orders: orders whose total quantity
    * exceeds the threshold, with their customer. The qualifying set
    * comes from a window over l_orderkey — ONE scan of lineitem feeds
    * both the filter and the output aggregate.
    */
  def q18LargeOrders(spark: SparkSession, sfDir: String,
      minQty: Long = 200): DataFrame = {
    val byOrder = Window.partitionBy(col("l_orderkey"))
    val big = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
      .withColumn("total_qty",
        sum(money(col("l_quantity"))).over(byOrder).cast("double"))
      .filter(col("total_qty") > minQty)
      .groupBy("l_orderkey")
      .agg(max(col("total_qty")).as("total_qty")) // constant per group
    big.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), TsFmt).as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
  }

  /** TPC-H Q19-shape disjunctive-predicate revenue: OR-of-ANDs over
    * brand/size/quantity. The per-branch part predicates can't prune
    * the scan individually, but the OR still pushes to the part read
    * and the join stays a plain hash join on partkey.
    */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
        && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)
        && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#5" && col("p_size").between(1, 35)
        && col("l_quantity").between(20, 30))
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q22-shape: rich-but-lapsed customers — above-average
    * balance and no orders since 1998 (anti join), per market
    * segment. The average threshold compares `bal · n > total` in
    * EXACT decimal instead of dividing: a floating-point average
    * could flip boundary rows between engines.
    */
  def q22IdleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val stats = c.filter(col("c_acctbal") > 0.0)
      .agg(sum(money(col("c_acctbal"))).as("total"),
        count(lit(1)).as("n_pos"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1998-06-01 00:00:00").cast("timestamp"))
    c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(stats))
      .filter(money(col("c_acctbal")) * col("n_pos") > col("total"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"),
        sum(money(col("c_acctbal"))).cast("double").as("totacctbal"))
  }

  /** Ranking-function suite: dense_rank / percent_rank / cume_dist
    * over one shared per-customer window — complements q_window_suite
    * (ntile / nth_value / lag / lead), one shuffle total.
    */
  def rankSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"))
  }

  /** TPC-H Q7-shape volume shipping: bilateral trade revenue between
    * two nations per ship year. The nation dim joins twice (supplier
    * side, customer side) — both copies broadcast (fixed cardinality
    * at any SF); the cross-nation pair filter lands on the joined
    * row, the fact tables shuffle only on their join keys.
    */
  def q7VolumeShipping(spark: SparkSession, sfDir: String,
      nationA: String = "NATION_18", nationB: String = "NATION_19"): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1998-01-01 00:00:00").cast("timestamp")
    val n1 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB)
        || (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q8-shape national market share: the target nation's slice
    * of one region's part-type market per order year. Numerator and
    * denominator come out of ONE aggregation over one joined scan
    * (conditional sum), both in exact decimal; the share is a single
    * final double division (SURVEY §5).
    */
  def q8MarketShare(spark: SparkSession, sfDir: String,
      targetNation: String = "NATION_2", regionName: String = "ASIA",
      partType: String = "ECONOMY"): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1998-01-01 00:00:00").cast("timestamp")
    val r = Tables.region(spark, sfDir).filter(col("r_name") === regionName)
    val nCust = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
    val nSupp = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val p = Tables.part(spark, sfDir).filter(col("p_type") === partType)
    val vol = money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))
    Tables.lineitem(spark, sfDir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("c_nkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("s_nkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === targetNation, vol)).cast("double")
          .as("nation_volume"),
        sum(vol).cast("double").as("total_volume"))
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
  }

  /** TPC-H Q15-shape top supplier: revenue per supplier over one
    * quarter, keep the max-revenue supplier(s). The max comparison
    * happens in EXACT decimal (the revenue view is computed once and
    * self-compared) — a double-domain max could tie-break differently
    * across engines; the 1-row max broadcasts.
    */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1997-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-04-01 00:00:00").cast("timestamp")
    val revenue = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy("l_suppkey")
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .as("rev"))
    val top = revenue.agg(max(col("rev")).as("max_rev"))
    revenue.crossJoin(broadcast(top))
      .filter(col("rev") === col("max_rev"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev").cast("double").as("total_revenue"))
  }

  /** SCD2 interval reconstruction (slowly-changing-dimension type 2):
    * collapse each user's event stream into validity intervals of its
    * CURRENT event_type — [valid_from, valid_to) rows where valid_to
    * is the next change's timestamp (null while current). The
    * warehouse pattern for turning an append-only change log into a
    * point-in-time dimension: gaps-and-islands run detection (lag ≠
    * current → change flag → running sum = run id) + one lead over
    * the collapsed runs. Two windows, both over the SAME
    * (user, time) partitioning — one shuffle.
    */
  /** Strict three-step funnel (view → click → purchase, each hop
    * within `hop`): the multi-step generalization of `funnel`. NOT a
    * chain of joins — each hop is the as-of union+window composition
    * (step events and candidate events interleave per user; a
    * last-non-null window carries the latest upstream step forward),
    * so the event stream is never self-joined and each hop costs one
    * user-keyed window. A user's purchase converts when its latest
    * QUALIFIED click (one with a view ≤ hop before it) is ≤ hop
    * before the purchase — exactly the EXISTS-chain the oracle
    * states, because "latest within window exists" ⟺ "any within
    * window exists".
    */
  def funnel3(spark: SparkSession, sfDir: String,
      hop: String = "24 HOUR"): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def step(upstream: DataFrame, events: DataFrame): DataFrame = {
      // upstream rows carry kind=0 (sort first at ts ties: at-or-before
      // is inclusive), candidates kind=1; one window per user. Nulls
      // in event_id exist only on kind=0 rows, so nulls-first keeps
      // the order total without a sentinel value a real id could
      // collide with.
      val unioned = upstream.select(col("user_id"), col("ts"),
          lit(0).as("kind"), lit(null).cast("long").as("event_id"))
        .unionByName(events.select(col("user_id"), col("ts"),
          lit(1).as("kind"), col("event_id")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, 0)
      unioned
        .withColumn("up_ts",
          last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1
          && col("up_ts").isNotNull
          && col("ts") <= col("up_ts") + expr(s"INTERVAL $hop"))
        .select(col("user_id"), col("ts"), col("event_id"))
    }
    val views = ev.filter(col("event_type") === "view").select("user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id")
    val qClicks = step(views, clicks)
    val converted = step(qClicks.select("user_id", "ts"), purchases)
    converted
      .groupBy(date_format(date_trunc("day", col("ts")), TsFmt).as("day"))
      .agg(countDistinct(col("user_id")).as("converted_users"))
  }

  /** BLOOM FILTER SIZING PLANNER (`q_bloom_planner`) — the knob
    * behind `q_sink_bloom`'s sidecars and `q_bloom_join`'s pruning,
    * planned instead of guessed: for each target false-positive rate,
    * the optimal bits m = ⌈n·(−ln p/ln²2)⌉ and hash count
    * k = round(−ln p/ln 2) for THIS table's key cardinality — the
    * memory-vs-precision menu a 100 TB deployment prices before
    * committing sidecar bytes. n is one exact distinct count; the
    * per-p constants (−ln p/ln²2 bits-per-key, the integer k) are
    * Scala literals mirrored into the oracle (zero runtime ln);
    * ceil on the identical product double is exact in both engines.
    */
  def bloomPlanner(spark: SparkSession, sfDir: String,
      fpps: Seq[Double] = Seq(0.1, 0.01, 0.001)): DataFrame = {
    val cnt = Tables.documents(spark, sfDir)
      .agg(countDistinct(col("doc_id")).as("n"))
      .localCheckpoint()
    val ln2 = math.log(2.0)
    fpps.map { p =>
      val bitsPerKey = -math.log(p) / (ln2 * ln2)
      val k = math.max(1L, math.round(-math.log(p) / ln2))
      cnt.select(lit(p).as("target_fpp"),
          col("n").cast("long").as("n_keys"),
          round(lit(bitsPerKey), 6).as("bits_per_key"),
          ceil(col("n").cast("double") * lit(bitsPerKey)).as("bits"),
          lit(k).as("n_hashes"))
        .withColumn("bytes", expr("(bits + 7) div 8"))
    }.reduce(_ unionAll _)
  }

  /** FUNNEL WITH WILSON CONFIDENCE BANDS (`q_funnel_ci`) — the
    * view→click→purchase user funnel with a 95% Wilson interval on
    * each step's conversion rate: the uncertainty a small late-funnel
    * denominator hides (a "60% checkout rate" on 20 users spans
    * ~[39%, 78%] — Wilson stays honest near 0/1 and small n where the
    * naive Wald band collapses). One conditional-agg scan to per-user
    * step flags, a 1-row count frame, and the Wilson dag (z = 1.96
    * with z² precomputed ONCE in Scala and mirrored into the oracle)
    * on exact integer counts — three rows out.
    */
  def funnelCi(spark: SparkSession, sfDir: String): DataFrame =
    funnelCiOver(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")))

  /** Same operator over any (user_id, event_type) frame — the planted
    * spec replays the Wilson dag by hand on small known counts. */
  private[graft] def funnelCiOver(events: DataFrame): DataFrame =
    funnelCiFromFlags(events
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("p")))

  /** The funnel-CI tail over an already-aggregated per-user
    * (v, c, p) flag frame — shared with `stream_funnel_ci`, whose
    * state store maintains exactly these flags across micro-batches.
    */
  private[graft] def funnelCiFromFlags(flags: DataFrame): DataFrame = {
    val z = 1.96
    val z2 = z * z
    val counts = flags.agg(
      sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("v") === 1 && col("c") === 1, 1L).otherwise(0L))
        .as("n_click"),
      sum(when(col("v") === 1 && col("c") === 1 && col("p") === 1, 1L)
        .otherwise(0L)).as("n_purch"))
      .localCheckpoint()
    def wilson(k: Column, n: Column): (Column, Column, Column) = {
      val nD = n.cast("double")
      val ph = k.cast("double") / nD
      val denom = lit(1.0) + lit(z2) / nD
      val center = ph + lit(z2) / (lit(2.0) * nD)
      val half = lit(z) * sqrt(ph * (lit(1.0) - ph) / nD +
        lit(z2) / (lit(4.0) * nD * nD))
      (round(ph, 6),
        round((center - half) / denom, 6),
        round((center + half) / denom, 6))
    }
    val (rc, lc, hc) = wilson(col("n_click"), col("n_view"))
    val (rp, lp, hp) = wilson(col("n_purch"), col("n_click"))
    counts.select(lit("1_view").as("step"),
        col("n_view").as("n_users"),
        lit(null).cast("double").as("conv_rate"),
        lit(null).cast("double").as("ci_lo"),
        lit(null).cast("double").as("ci_hi"))
      .unionAll(counts.select(lit("2_click").as("step"),
        col("n_click").as("n_users"),
        when(col("n_view") > 0, rc).as("conv_rate"),
        when(col("n_view") > 0, lc).as("ci_lo"),
        when(col("n_view") > 0, hc).as("ci_hi")))
      .unionAll(counts.select(lit("3_purchase").as("step"),
        col("n_purch").as("n_users"),
        when(col("n_click") > 0, rp).as("conv_rate"),
        when(col("n_click") > 0, lp).as("ci_lo"),
        when(col("n_click") > 0, hp).as("ci_hi")))
  }

  /** RFM segmentation — recency / frequency / monetary quartiles per
    * customer, the classic warehouse customer-scoring analytic. One
    * aggregation pass builds the three measures; each quartile is an
    * ntile over a TOTAL order (measure + c_custkey tiebreak —
    * ntile on a partial order would be engine-dependent); the
    * segment code packs r·100 + f·10 + m.
    *
    * Scale note: the unpartitioned ntile windows run over the
    * CUSTOMER ROLLUP (one row per customer — orders of magnitude
    * smaller than the fact table), which a single task handles into
    * the hundreds of millions; for a dimension beyond that, swap
    * ntile for percentile-threshold binning (different tie semantics,
    * so it is not the default here where the oracle pins ntile's).
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(money(col("o_totalprice"))).as("monetary_dec"))
    val rW = Window.orderBy(col("last_order").desc, col("c_custkey"))
    val fW = Window.orderBy(col("frequency").desc, col("c_custkey"))
    val mW = Window.orderBy(col("monetary_dec").desc, col("c_custkey"))
    base
      .withColumn("r", ntile(4).over(rW).cast("long"))
      .withColumn("f", ntile(4).over(fW).cast("long"))
      .withColumn("m", ntile(4).over(mW).cast("long"))
      .select(col("c_custkey"),
        date_format(col("last_order"), TsFmt).as("last_order"),
        col("frequency"),
        col("monetary_dec").cast("double").as("monetary"),
        col("r"), col("f"), col("m"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("rfm"))
  }

  /** Market-basket pair mining: parts co-ordered on the same order,
    * counted across orders — the co-occurrence primitive behind
    * association rules. The self-join keys on l_orderkey, so pair
    * blowup is bounded by lines-per-order (single digits in any
    * order-shaped fact), never corpus-quadratic; per-order distinct
    * parts first so multi-line items don't double-count.
    */
  /** Shared BASKET [[Artifacts]] frames per corpus — `q_market_basket`
    * and `q_item_similarity` both start from the identical distinct
    * (order, part) incidence and its unordered co-occurrence counts;
    * before these artifacts each key re-scanned lineitem and
    * self-joined the incidence with itself (the incidence subtree
    * twice per key). `orderParts` is ONE partial-aggregated shuffle
    * (collect_set dedups (order, part) and the set is sorted, so the
    * kernel's a < b pairs are exactly the self-join's
    * `part_a < part_b` rows); `basketPairCounts` explodes the pairs
    * MAP-SIDE (codegen'd
    * [[graft.functions.CatalystExprs.sorted_pairs]], bounded by
    * lines-per-order) into one partial-aggregated count shuffle.
    * Two shuffles total for the artifact both keys read, vs four per
    * key before (guide §2.4 — remove shuffles outright; §1.2 — don't
    * recompute).
    *
    * (l_orderkey, ps: sorted distinct parts) — one row per order.
    */
  private def orderParts(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.frame(spark, sfDir, "basket_order_parts")(
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))

  /** (pa, pb, n_ab) with pa < pb — co-order counts over all baskets. */
  private def basketPairCounts(spark: SparkSession,
      sfDir: String): DataFrame =
    Artifacts.frame(spark, sfDir, "basket_pairs")(
      orderParts(spark, sfDir)
        .select(explode(
          graft.functions.CatalystExprs.sorted_pairs(col("ps"))).as("pr"))
        .select(col("pr.a").as("pa"), col("pr.b").as("pb"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_ab")))

  def marketBasket(spark: SparkSession, sfDir: String,
      minCount: Long = 2, topK: Int = 20): DataFrame =
    basketPairCounts(spark, sfDir)
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
        col("n_ab").as("n_orders"))
      .filter(col("n_orders") >= minCount)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topK)

  /** Item-to-item collaborative similarity over order baskets — the
    * recommender primitive `marketBasket`'s global top pairs don't
    * give you: for EVERY part, its top-`topK` co-purchased neighbors
    * by cosine over the order-incidence vectors
    * (cos(a,b) = n_ab / √(n_a·n_b)).
    *
    * Scale shape: the pair fan-out self-joins on l_orderkey, so a HOT
    * PART never explodes the join — baskets are small (≤ lines per
    * order) and the blowup is Σ (basket choose 2), linear in corpus
    * size. The (a,b) count is one partial-agg shuffle (AQE splits hot
    * pairs), frequencies broadcast-join back, and the per-item rank
    * runs on bounded `TopKPerKey` heaps — no part-keyed window sort
    * anywhere. Output is O(#parts × topK).
    */
  def itemSimilarity(spark: SparkSession, sfDir: String,
      topK: Int = 3): DataFrame = {
    // both artifacts come from the shared basket artifacts (see
    // marketBasket): the incidence is never self-joined, the pair
    // counts are computed once per session
    val freq = orderParts(spark, sfDir)
      .select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_part"))
    val pairs = basketPairCounts(spark, sfDir)
    val sym = pairs.select(col("pa"), col("pb"), col("n_ab"))
      .unionAll(pairs.select(col("pb").as("pa"), col("pa").as("pb"),
        col("n_ab")))
    val scored = sym
      .join(freq.select(col("l_partkey").as("pa"), col("n_part").as("n_a")),
        "pa")
      .join(freq.select(col("l_partkey").as("pb"), col("n_part").as("n_b")),
        "pb")
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("n_ab"),
        (col("n_ab").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")))
          .as("c"))
    graft.plans.TopKPerKey(scored, Seq("part_a"),
        Seq(("c", true), ("part_b", false)), topK)
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("c"), 6).as("cosine"), col("rnk"))
  }

  /** Mutual information between market segment and order priority —
    * the feature-relevance screen (does this categorical column carry
    * signal about that one?) run the `text_collocations` way: joint
    * counts, marginals DERIVED from the joint (never a second corpus
    * pass), and the ln term expanded over exact-integer ratios so
    * both engines evaluate the identical double expression. Per-pair
    * PMI + MI contribution; Σ mi_term is the MI.
    *
    * Scale shape: ONE fact-side shuffle (the joint groupBy after the
    * broadcast customer join); marginals re-aggregate the tiny joint
    * table. |X|×|Y| output.
    */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val joint = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_xy"))
    val nx = joint.groupBy("segment").agg(sum("n_xy").as("n_x"))
    val ny = joint.groupBy("priority").agg(sum("n_xy").as("n_y"))
    val n = joint.agg(sum("n_xy").as("n"))
    joint.join(broadcast(nx), "segment")
      .join(broadcast(ny), "priority")
      .crossJoin(broadcast(n))
      .select(col("segment"), col("priority"), col("n_xy"),
        round(log((col("n_xy") * col("n")).cast("double") /
          (col("n_x") * col("n_y")).cast("double")), 6).as("pmi"),
        round((col("n_xy").cast("double") / col("n").cast("double")) *
          log((col("n_xy") * col("n")).cast("double") /
            (col("n_x") * col("n_y")).cast("double")), 6).as("mi_term"))
  }

  /** Long-tail category capping — the feature-engineering primitive
    * that keeps one-hot/embedding vocabularies bounded: the top-k
    * categories survive, everything else folds into 'OTHER'. The
    * category histogram is ONE partial-agg shuffle; the keep set is
    * k rows (broadcast), so the cap never materializes the tail.
    */
  def groupRare(spark: SparkSession, sfDir: String,
      topK: Int = 5): DataFrame = {
    val cat = Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").as("category"))
    val hist = cat.groupBy("category").agg(count(lit(1)).as("n"))
    val keep = hist
      .orderBy(col("n").desc, col("category"))
      .limit(topK)
      .select(col("category"), lit(true).as("kept"))
    hist.join(broadcast(keep), Seq("category"), "left")
      .select(
        when(col("kept"), col("category")).otherwise(lit("OTHER"))
          .as("category"),
        col("n"))
      .groupBy("category").agg(sum(col("n")).as("n"))
  }

  /** Year-over-year growth of monthly revenue — the lag-12 time-series
    * transform beside `gapFill` (resample) and `q_trailing_30d`
    * (rolling). The monthly rollup is one fact shuffle down to
    * O(#months) rows; the lag window runs on that TINY frame (a
    * global sort of ≤ dozens of rows, not data). Decimal sums;
    * double only in the final ratio.
    */
  def yoyGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy(col("month"))
    monthly
      .withColumn("rev_prev_year", lag(col("rev"), 12).over(w))
      .select(col("month"), col("rev").cast("double").as("revenue"),
        col("rev_prev_year").cast("double").as("revenue_prev_year"),
        round((col("rev") - col("rev_prev_year")).cast("double") /
          col("rev_prev_year").cast("double"), 6).as("yoy"))
  }

  /** Open-order BACKLOG time series (`q_backlog`): how many orders —
    * and how much order value — were placed but not yet fully shipped
    * as of each month end. An order closes when its LAST line ships
    * (max l_shipdate); orders with no lines never close. The interval-
    * stabbing question ("how many intervals cover T?") is answered
    * WITHOUT a point-in-time join: each order contributes a +1 delta
    * in its open month and a −1 in its close month, and backlog(m) is
    * the running difference of the two monthly delta series — two
    * aggregations plus one cumulative window over the calendar-bounded
    * month axis, instead of months × orders join work. At 100 TB the
    * delta trick is the difference between a linear pass and a
    * quadratic stab. Money stays decimal until the final report cast.
    */
  def backlog(spark: SparkSession, sfDir: String): DataFrame = {
    val lastShip = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("last_ship"))
    val o = Tables.orders(spark, sfDir)
      .join(lastShip, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderdate"), col("o_totalprice"), col("last_ship"))
    val opens = o
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_open"), sum(money(col("o_totalprice"))).as("v_open"))
    val closes = o.filter(col("last_ship").isNotNull)
      .groupBy(date_format(col("last_ship"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_close"), sum(money(col("o_totalprice"))).as("v_close"))
    val w = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    opens.join(closes, Seq("month"), "full_outer")
      .na.fill(0L, Seq("n_open", "n_close"))
      .select(col("month"),
        (sum(col("n_open")).over(w) - sum(col("n_close")).over(w))
          .as("backlog_orders"),
        (sum(coalesce(col("v_open"), money(lit(0)))).over(w)
          - sum(coalesce(col("v_close"), money(lit(0)))).over(w))
          .cast("double").as("backlog_value"))
  }

  /** Time-series gap filling: the hourly rollup joined onto a dense
    * calendar SPINE (every hour between the corpus min and max ×
    * every event type), missing cells zero-filled — the resample
    * step monitoring/forecasting pipelines need, since a groupBy
    * silently drops empty buckets. The spine derives from a 1-row
    * bounds aggregate + the tiny type dim (both broadcast); `sequence`
    * explodes it without a driver-side loop, and the fact rollup
    * left-joins on (hour, type).
    */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    spine.join(hourly, Seq("hour", "event_type"), "left")
      .select(date_format(col("hour"), TsFmt).as("hour"),
        col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** LINEAR INTERPOLATION across per-user gap days — the resample
    * step [[gapFill]]'s zero-fill can't do (a balance or rate between
    * two observations is BETWEEN them, not zero): each user's daily
    * purchase total, observed days exact, missing days between the
    * user's first and last observation linearly interpolated between
    * the bracketing observations. prev/next ride two IGNORE-NULLS
    * windows over the user's own calendar span (bounded by the
    * corpus month, the q_yoy discipline — never corpus-sized); the
    * interpolated value is ONE fixed IEEE dag on exact cents and
    * integer day distances, rounded 6. Only users with ≥ 2 observed
    * days interpolate; grid endpoints are observed, so interior
    * brackets always exist.
    */
  def interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(sum((money(col("value")) * 100).cast("long")).as("cents"))
      .localCheckpoint()
    val span = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
    val grid = span.select(col("user_id"),
      explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = w.rowsBetween(0, Window.unboundedFollowing)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pd", last(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("nd", first(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(wNext))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("k", datediff(col("day"), col("pd")).cast("long"))
      .withColumn("n", datediff(col("nd"), col("pd")).cast("long"))
      // micro-dollar units (cents × 100) via HALF-UP INTEGER division
      // — a rounded double here lands on exact decimal halves
      // whenever the gap length divides the cent delta (the
      // text_kneser_ney straddle class, pre-empted): micro =
      // (pv + (nv−pv)·k/n)·100 = ((pv·n + Δ·k)·100 + n/2)/n, all
      // exact BIGINT.
      // PRECONDITION (shared by every (2a+n) div (2n) site — also
      // sloBurn and Quality.anonSweep): the numerator must be
      // NON-NEGATIVE. Spark's `div` truncates toward zero while
      // DuckDB's `//` floors, so a negative numerator (e.g. a
      // refund-valued purchase making a daily cents sum negative)
      // would diverge from the oracle by one micro-unit. Gate data is
      // strictly positive; a dataset with refunds needs the floor-safe
      // pmod formulation in BOTH engines before this gate can hold.
      .select(col("user_id"), col("day"),
        when(col("cents").isNotNull, col("cents") * 100)
          .otherwise(expr(
            "(2 * ((pv * n + (nv - pv) * k) * 100) + n) div (2 * n)"))
          .as("value_micro"),
        col("cents").isNotNull.as("observed"))
  }

  /** Fixed-width value histogram per event type — the numeric-binning
    * primitive (monitoring distributions, feature bucketing). The bin
    * id is floor(value/step): one IEEE division + floor, identical in
    * every engine, no width_bucket dependency.
    */
  def histogram(spark: SparkSession, sfDir: String,
      step: Double = 50.0): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("bin", floor(col("value") / step).cast("long"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("sum_value"))

  /** The collapsed SCD2 runs (typed timestamps) — shared by the
    * interval projection and the point-in-time lookup join.
    */
  private[graft] def scd2Runs(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull
          || lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("run_id",
        sum(col("chg")).over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min(col("ts")).as("vf"), count(lit(1)).as("n_events"))
  }

  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    val byRun = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    scd2Runs(spark, sfDir)
      .withColumn("vt", lead(col("vf"), 1).over(byRun))
      .select(col("user_id"), col("run_id"), col("event_type"),
        date_format(col("vf"), TsFmt).as("valid_from"),
        date_format(col("vt"), TsFmt).as("valid_to"),
        col("n_events"))
  }

  /** Point-in-time (temporal) dimension lookup — the consumer side of
    * SCD2: attach to every order the state interval its user occupied
    * AT order time. NOT an interval join: dimension-change rows and
    * fact rows union into one stream, a single last-non-null window
    * per user carries the state forward, facts keep their row — the
    * as-of composition (one shuffle on user, zero joins) that scales
    * where a point-in-interval join would nested-loop. At equal
    * timestamps the dimension row sorts first (valid_from is
    * inclusive); facts before a user's first interval (or with no
    * events at all) keep a null state.
    */
  def scd2Lookup(spark: SparkSession, sfDir: String): DataFrame = {
    val runs = scd2Runs(spark, sfDir)
      .select(col("user_id"), col("vf").as("ts"), col("run_id"), col("event_type"))
      .withColumn("o_orderkey", lit(null).cast("long"))
      .withColumn("is_fact", lit(0))
    val facts = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
        col("o_orderkey"))
      .withColumn("run_id", lit(null).cast("long"))
      .withColumn("event_type", lit(null).cast("string"))
      .withColumn("is_fact", lit(1))
    // run_id is null exactly on fact rows and o_orderkey exactly on
    // dimension rows, so nulls-last ordering is total without
    // sentinel values a real key could collide with
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_fact"),
        col("run_id").asc_nulls_last, col("o_orderkey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    runs.unionByName(facts)
      .withColumn("state", last(col("event_type"), ignoreNulls = true).over(w))
      .filter(col("is_fact") === 1)
      .select(col("o_orderkey"), col("user_id"),
        date_format(col("ts"), TsFmt).as("o_orderdate"), col("state"))
  }

  /** General MERGE (the warehouse `MERGE INTO` / CDC-apply shape):
    * one full-outer join on the merge key resolves a change batch of
    * insert / update / delete ops against the keyed base table —
    * matched updates take the change values (`coalesce`), matched
    * deletes drop, unmatched inserts survive from the change side,
    * untouched base rows pass through. At 100 TB both sides shuffle
    * ONCE on the key (or reuse a bucketed layout, q_bucketed_join's
    * point) and per-key work is O(1); this is the nightly
    * base-vs-changes reconciliation every incremental corpus runs.
    * Contract: `key` is unique on BOTH sides (the warehouse `MERGE
    * INTO` cardinality rule — a change batch with duplicate keys is
    * the same error SQL MERGE rejects as non-deterministic).
    */
  def mergeApply(base: DataFrame, changes: DataFrame, key: String,
      valueCols: Seq[String]): DataFrame =
    base.as("b").join(changes.as("c"), Seq(key), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      // keyed on op presence, NOT coalesce: `UPDATE SET v = NULL` must
      // null the field — coalesce would silently keep the stale value
      .select(col(key) +: valueCols.map(v =>
        when(col("op").isNotNull, col(s"c.$v"))
          .otherwise(col(s"b.$v")).as(v)): _*)

  /** Driver query for `mergeApply`: the change batch derives
    * deterministically from orders (updates for keys ≡ 5,9 (mod 17),
    * deletes ≡ 3, inserts ≡ 7 re-keyed beyond the key domain), so the
    * DuckDB oracle replays the merge OUTCOME without the join. The
    * price update adds 1.0 in plain double — a single IEEE op both
    * engines perform bit-identically (SURVEY §5 discipline).
    */
  /** The orders base table the merge keys operate on. */
  def mergeBase(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** The deterministic change batches both merge keys derive from the
    * base (updates ≡ 5,9 (mod 17); deletes ≡ 3; inserts ≡ 7 re-keyed
    * beyond the domain). ONE definition on purpose: q_merge_upsert and
    * stream_merge share the same outcome-replay oracle, which is only
    * sound while both engines apply the identical batch.
    */
  def mergeChangeBatches(base: DataFrame): (DataFrame, DataFrame) = {
    val m = col("o_orderkey") % 17
    val updates = base.filter(m === 5 || m === 9)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice"),
        lit("update").as("op"))
    val deletes = base.filter(m === 3)
      .select(col("o_orderkey"), lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"), lit("delete").as("op"))
    val inserts = base.filter(m === 7)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"),
        lit("insert").as("op"))
    (updates, deletes.unionByName(inserts))
  }

  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = mergeBase(spark, sfDir)
    val (updates, delins) = mergeChangeBatches(base)
    mergeApply(base, updates.unionByName(delins),
      "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
  }

  /** Bloom-pruned semi join — the sketch-based approximate-join
    * pattern: build a Bloom filter over the small side's keys (one
    * tiny aggregate), broadcast the bit array, prune the fact table
    * with pure-Column probes BEFORE any shuffle, then confirm the
    * survivors with the exact semi join. No false negatives ⇒ the
    * result is EXACTLY the plain semi join (the oracle), but at
    * 100 TB the shuffle moves only the ~selectivity fraction of the
    * fact table that probes true — the same idea as Spark's own
    * runtime bloom-filter join pushdown, expressed as first-class
    * operators.
    */
  def bloomPrunedJoin(spark: SparkSession, sfDir: String,
      segment: String = "BUILDING",
      numBits: Int = 1 << 16, numHashes: Int = 6): DataFrame = {
    import graft.functions.BloomFilter._
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val bloom = cust.agg(
      bloom_filter(col("c_custkey").cast("string"), numBits, numHashes).as("bf"))
    Tables.orders(spark, sfDir)
      .crossJoin(broadcast(bloom))
      .filter(bloom_might_contain(col("bf"),
        col("o_custkey").cast("string"), numBits, numHashes))
      .drop("bf")
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(money(col("o_totalprice"))).cast("double").as("total"))
  }

  /** TPC-H Q21-shape suppliers who kept orders waiting: for finished
    * multi-supplier orders, count per supplier the orders where it was
    * the ONLY supplier to ship late (> `lateDays` after the order
    * date; the driver schema has no commit/receipt dates, so lateness
    * is shipdate-based). Q21's classic EXISTS + NOT-EXISTS double
    * self-join is reformulated as ONE per-order aggregation — supplier
    * counts and the sole late supplier fall out of a single lineitem
    * scan, then one small join back to supplier. Same semantics,
    * one shuffle on l_orderkey instead of three fact self-joins.
    */
  def q21WaitingSupplier(spark: SparkSession, sfDir: String,
      lateDays: Int = 90, topK: Int = 10): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
    val perOrder = l.groupBy("l_orderkey")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"),
        min(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
    perOrder
      .join(Tables.supplier(spark, sfDir), col("late_supp") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(topK)
  }

  /** UNPIVOT (wide → long): one aggregated row per (flag, status)
    * carrying three measures unpivots into three rows tagged by
    * measure name — `stack` evaluates per-row with NO shuffle beyond
    * the one aggregation, and the measure columns are computed once.
    * The inverse of `q_pivot`; together they close the reshape pair.
    * All three measures come out of exact decimal sums so the doubles
    * are bit-identical to the oracle's UNION ALL formulation.
    */
  def unpivotLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
        sum(money(col("l_discount"))).cast("double").as("sum_disc"))
    wide.select(col("l_returnflag"), col("l_linestatus"),
      expr("stack(3, 'qty', sum_qty, 'price', sum_price, 'disc', sum_disc)")
        .as(Seq("measure", "val")))
  }

  /** Per-user event-SEQUENCE pattern matching (MATCH_RECOGNIZE-lite):
    * collapse each user's ordered event stream to a compact
    * one-char-per-event string, then run ordinary regexes over it —
    * "viewed, later clicked, later purchased, with no purchase in
    * between" is `v[^p]*c[^p]*p`. Per-user state is BOUNDED: events
    * are ranked by a spill-safe window (row_number over ts, event_id)
    * and only the first `maxEventsPerUser` reach the collect, so a
    * bot user with 10⁸ events costs at most `cap` structs of executor
    * memory; the true event count still comes out of the streaming
    * count, and `overflow` flags every truncated user loudly instead
    * of silently matching a prefix. Ordering is total ((ts, event_id)
    * tiebreak), which is what lets a DuckDB `string_agg(... ORDER BY
    * ts, event_id)` oracle over the same rank-capped prefix gate the
    * result. One shuffle: the window's hash partitioning on user_id
    * is reused by the groupBy.
    */
  def sequenceMatch(spark: SparkSession, sfDir: String,
      pattern: String = "v[^p]*c[^p]*p",
      maxEventsPerUser: Int = 4096): DataFrame =
    sequenceMatchOver(Tables.events(spark, sfDir), pattern,
      maxEventsPerUser)

  /** Same bounded sequence match over any events-shaped input — lets
    * specs plant a hot user far above the cap and watch the overflow
    * flag fire with bounded memory.
    */
  def sequenceMatchOver(events: DataFrame,
      pattern: String = "v[^p]*c[^p]*p",
      maxEventsPerUser: Int = 4096): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ranked = events
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      .withColumn("rn", row_number().over(w))
    ranked.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") <= maxEventsPerUser,
            struct(col("rn"), col("c"))))),
          e => e.getField("c")), "").as("seq"))
      .select(
        col("user_id"),
        col("n_events"),
        col("seq").rlike(pattern).as("matched"),
        (col("n_events") > maxEventsPerUser).as("overflow"))
  }

  /** TPC-H Q2-shape (partsupp-free adaptation — the driver corpus has
    * no partsupp table, so supply cost is derived from shipped lines):
    * for sized parts and one region's suppliers, keep each part's
    * MINIMUM-cost supplier (the correlated-min-subquery shape,
    * expressed as a window min over the part partition — one shuffle,
    * no self-join). Cost = min extended price the (part, supplier)
    * pair ever shipped at; min-selection of stored doubles is exact,
    * so the `cost === min_cost` equality is engine-portable.
    * Ref: reference/src/main/wc.go computes nothing relational — the
    * TPC-H sweep is the engine-generalization surface (SURVEY §2.B).
    */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val supInRegion = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfDir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val cost = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("cost"))
    val p = Tables.part(spark, sfDir)
      .filter(col("p_size").between(10, 20) && col("p_type") === "MEDIUM")
    val w = Window.partitionBy(col("p_partkey"))
    cost.join(broadcast(supInRegion), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("min_cost", min(col("cost")).over(w))
      .filter(col("cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q11-shape (partsupp-free): per-part shipped VALUE from one
    * nation's suppliers, keeping parts above a fixed fraction of the
    * grand total — the HAVING-against-a-global-scalar shape. The
    * 1-row total broadcasts back over the per-part rows, and the
    * threshold compares `value * 10000 > total` IN DECIMAL (a double
    * division would be engine-dependent at the boundary).
    */
  def q11ImportantValue(spark: SparkSession, sfDir: String,
      fraction: Int = 10000): DataFrame = {
    val supNation = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir).filter(col("n_name") === "NATION_18"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = Tables.lineitem(spark, sfDir)
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
        .as("value_dec"))
    val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_dec") * lit(fraction) > col("total_dec"))
      .select(col("l_partkey"), col("value_dec").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q16-shape (partsupp-free): DISTINCT supplier count per part
    * attribute group, excluding an anti-set of suppliers (negative
    * account balance standing in for Q16's complaint comment — the
    * corpus has no s_comment) and one excluded brand/type slice. The
    * NOT-IN subquery is a broadcast left-anti join (the complaint set
    * is a small fraction of the supplier dim, safe to hint). The part
    * slice keeps ~16% of `part` — too wide to force a broadcast at
    * 100 TB — so it is projected down to key + the 3 group columns and
    * the join strategy is left to the planner/AQE; the distinct count
    * shuffles once on the group keys.
    */
  def q16SupplierCount(spark: SparkSession, sfDir: String): DataFrame = {
    val complaints = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO"
        && col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20-shape (partsupp-free): suppliers of a small nation set
    * (chosen populated at every test SF) that DOMINATE supply of some
    * small-named part in one ship year —
    * pair-shipped quantity strictly above half the part's total. Both
    * quantity masses aggregate in decimal and the half-threshold is
    * `2 * pair_qty > part_qty` in decimal (no division). One
    * aggregation per granularity + a broadcast part-total join; the
    * supplier dim joins last, semi-style, via the distinct dominant
    * pair set.
    */
  def q20PartSupply(spark: SparkSession, sfDir: String): DataFrame = {
    val yr = Tables.lineitem(spark, sfDir)
      .filter(year(col("l_shipdate")) === 1996)
    val greens = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith("small")).select("p_partkey")
    val shipped = yr
      .join(broadcast(greens), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), money(col("l_quantity")).as("q"))
    val perPair = shipped.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("q")).as("pair_qty"))
    val perPart = shipped.groupBy("l_partkey")
      .agg(sum(col("q")).as("part_qty"))
    val dominant = perPair
      .join(perPart, "l_partkey")
      .filter(col("pair_qty") * lit(2) > col("part_qty"))
      .select("l_suppkey").distinct()
    Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir)
          .filter(col("n_name").isin("NATION_13", "NATION_15", "NATION_18")),
        col("s_nationkey") === col("n_nationkey"))
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_name"), col("s_suppkey"))
  }

  /** Per-event-type z-score anomaly detection: flag the top-k events
    * whose `value` deviates most from the type's mean in population-σ
    * units — the standard data-quality outlier sweep over a metrics
    * feed.
    *
    * Cross-engine discipline: `value` is quantized to decimal (the
    * `money` cast) so the moment sums (Σx, Σx²) are order-independent
    * decimal arithmetic; mean/variance/z then derive via single IEEE
    * ops on those exact sums (deterministic in both engines) and z is
    * rounded before ranking, ties broken on event_id. Top-k per group,
    * not a fixed |z| cutoff, so the result is non-empty at every SF.
    *
    * Plan: one partial-aggregating moment shuffle (G rows out), the
    * tiny stats frame broadcast back over the feed, and the rank tail
    * on bounded `TopKPerKey` heaps (≤ k rows per type per map
    * partition through the shuffle — an event_type-keyed `row_number`
    * window would sort corpus-sized partitions; the ann-family
    * discipline applies here too). No global sort, no driver math.
    */
  def anomalyZscore(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame =
    anomalyZscoreOver(Tables.events(spark, sfDir), k)

  /** Same operator over any (event_id, event_type, value) frame —
    * planted-distribution specs pin the ranking.
    */
  def anomalyZscoreOver(events: DataFrame, k: Int = 5): DataFrame = {
    val ev = events
      .select(col("event_id"), col("event_type"),
        money(col("value")).as("v"))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n")).as("mean"),
        sqrt(col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n"))
            * (col("s1").cast("double") / col("n"))).as("sigma"))
    val scored = ev.join(broadcast(stats), "event_type")
      .withColumn("z", round(
        (col("v").cast("double") - col("mean")) / col("sigma"), 6))
      .withColumn("az", abs(col("z")))
    graft.plans.TopKPerKey(
        scored.select(col("event_type"), col("event_id"),
          col("v").cast("double").as("value"), col("z"), col("az")),
        Seq("event_type"), Seq(("az", true), ("event_id", false)), k)
      .select(col("event_type"), col("event_id"), col("value"), col("z"),
        col("rnk"))
      .orderBy(col("event_type"), col("rnk"))
  }

  /** Per-event-type ROBUST anomaly detection (median/MAD instead of
    * mean/σ): robust z = 0.6745·(x − median)/MAD — the estimator that
    * doesn't let the outliers it is hunting inflate its own scale
    * (one extreme value moves mean AND σ; it moves neither median nor
    * MAD), the standard complement to `q_anomaly_zscore` on heavy-
    * tailed metric feeds.
    *
    * Plan: TWO grouped KLL-sketch quantile aggregates (median, then
    * median of |x − median| after a broadcast join-back) — mergeable
    * O(k) buffers; k = 65536 keeps the sketch in its exact regime up
    * to 65k values PER TYPE, which covers events at sf0.1 (~20k/type,
    * where 8192 would already have compacted and drifted off DuckDB's
    * `quantile_cont`) — and the rank tail on bounded TopKPerKey
    * heaps. No whole-column percentile buffer, no corpus-keyed
    * window. Types with MAD = 0 (a majority-constant metric) are
    * excluded in BOTH engines: they have no robust outliers, and
    * dividing by zero would make NaN/Inf vs NULL cross-engine soup.
    */
  def anomalyMad(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame =
    anomalyMadOver(Tables.events(spark, sfDir), k)

  def anomalyMadOver(events: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.KllSketch.kll_quantiles
    val ev = events.select(col("event_id"), col("event_type"),
      money(col("value")).as("v"))
    val med = ev.groupBy("event_type")
      .agg(kll_quantiles(col("v").cast("double"), 65536, Seq(0.5)).as("qs"))
      .select(col("event_type"), element_at(col("qs"), 1).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("v").cast("double") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(kll_quantiles(col("adev"), 65536, Seq(0.5)).as("qs"))
      .select(col("event_type"), element_at(col("qs"), 1).as("mad"))
      .filter(col("mad") > 0.0)
    val scored = dev.join(broadcast(mad), "event_type")
      .withColumn("rz", round(
        lit(0.6745) * (col("v").cast("double") - col("med")) / col("mad"), 6))
      .withColumn("arz", abs(col("rz")))
    graft.plans.TopKPerKey(
        scored.select(col("event_type"), col("event_id"),
          col("v").cast("double").as("value"), col("rz"), col("arz")),
        Seq("event_type"), Seq(("arz", true), ("event_id", false)), k)
      .select(col("event_type"), col("event_id"), col("value"), col("rz"),
        col("rnk"))
      .orderBy(col("event_type"), col("rnk"))
  }

  /** Time-decayed per-user engagement score — the recency-weighting
    * primitive for training-data sampling and feature pipelines:
    * score = Σ value·2^(−⌊Δdays/halfLife⌋) as of a reference date.
    *
    * Cross-engine discipline: the decay step is a POWER OF TWO with an
    * integer exponent, so `value / 2^k` is an exact exponent shift
    * (zero rounding error) in both engines — unlike `exp(−λΔ)`, whose
    * libm last-ulp can differ across runtimes. Per-event weights round
    * to 6 places, quantize to decimal and sum order-independently; the
    * one IEEE division per row is deterministic. Events AFTER `asOf`
    * clamp to k = 0 (weight = value, no amplification): a negative k
    * would hit Spark's masked shift count (`1 << -1` =
    * Long.MIN_VALUE — silently wrong weights) and DuckDB's unmasked
    * `<<` disagrees, so the clamp is applied identically in the
    * operator and the oracle.
    *
    * Plan: single scan, one partial-aggregating shuffle keyed user_id.
    */
  def decayScore(spark: SparkSession, sfDir: String,
      halfLifeDays: Int = 7, asOf: String = "2024-02-01"): DataFrame =
    decayScoreOver(Tables.events(spark, sfDir), halfLifeDays, asOf)

  /** Same operator over any (user_id, ts, value) frame — planted
    * exact-weight specs pin the decay arithmetic.
    */
  def decayScoreOver(events: DataFrame, halfLifeDays: Int,
      asOf: String): DataFrame = {
    val ev = events
      .select(col("user_id"), col("value"),
        datediff(lit(asOf).cast("date"), col("ts").cast("date")).as("d"))
      .withColumn("k",
        greatest(floor(col("d").cast("double") / halfLifeDays.toDouble), lit(0L))
          .cast("int"))
      .withColumn("w",
        round(col("value") / expr("CAST(shiftleft(CAST(1 AS BIGINT), k) AS DOUBLE)"), 6)
          .cast(DecimalType(18, 6)))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("s"))
      .select(col("user_id"), col("n_events"),
        col("s").cast("double").as("score"))
  }

  /** One-pass per-column data-quality profile over orders: row count,
    * non-null count, null count and EXACT distinct cardinality for
    * every column — the schema-audit primitive a curation pipeline
    * runs before trusting a new drop of data.
    *
    * All six distinct counts ride ONE aggregation (Catalyst plans the
    * multi-distinct via Expand: rows × (columns+1) before the partial
    * agg — one scan, one shuffle). At 100 TB swap the exact counts for
    * `approx_count_distinct` (the `q_approx_distinct` path) — the
    * operator shape is identical. Output is one row per column via
    * `stack`, all-bigint ⇒ bit-stable across engines.
    */
  def profile(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"))) :+
      count(lit(1)).as("n_rows")
    val wide = Tables.orders(spark, sfDir).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    wide.select(
        expr(s"stack(${cols.size}, $stacked) AS (col_name, n_non_null, n_distinct)"),
        col("n_rows"))
      .select(col("col_name"), col("n_rows"),
        col("n_non_null"),
        (col("n_rows") - col("n_non_null")).as("n_null"),
        col("n_distinct"))
      .orderBy(col("col_name"))
  }

  /** Per-group ordinary-least-squares regression: slope, intercept and
    * Pearson correlation of extendedprice on quantity per
    * (returnflag, linestatus) — the grouped linear-fit primitive
    * (`REGR_SLOPE`/`REGR_INTERCEPT`/`CORR` in SQL engines) computed
    * from first principles so the result is cross-engine
    * deterministic.
    *
    * Cross-engine discipline (the `anomalyZscore` pattern): x and y
    * quantize to decimal, the five moment sums (Σx, Σy, Σxy, Σx², Σy²)
    * accumulate in exact decimal arithmetic (order-independent under
    * any shuffle), each sum casts to double ONCE, and the closed-form
    * slope/intercept/corr derive via the identical IEEE expression
    * tree in both engines, rounded to 6 places. Built-in `regr_slope`
    * would float-drift across partitionings; exact sums cannot.
    *
    * Plan: one partial-aggregating moment shuffle, G rows out —
    * the cheapest possible shape at any scale.
    */
  def regression(spark: SparkSession, sfDir: String): DataFrame =
    regressionOver(Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))

  /** Same operator over any (l_returnflag, l_linestatus, x, y) frame —
    * planted exact-line specs pin slope/intercept/corr.
    */
  def regressionOver(pts: DataFrame): DataFrame = {
    val li = pts.select(col("l_returnflag"), col("l_linestatus"),
      money(col("x")).as("x"), money(col("y")).as("y"))
    val m = li.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n0"),
        sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
        sum(col("x") * col("y")).as("sxy0"),
        sum(col("x") * col("x")).as("sxx0"),
        sum(col("y") * col("y")).as("syy0"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n0"),
        col("n0").cast("double").as("n"),
        col("sx0").cast("double").as("sx"),
        col("sy0").cast("double").as("sy"),
        col("sxy0").cast("double").as("sxy"),
        col("sxx0").cast("double").as("sxx"),
        col("syy0").cast("double").as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    m.select(col("l_returnflag"), col("l_linestatus"),
        col("n0").as("n"),
        round(slope, 6).as("slope"),
        round(col("sy") / col("n") - slope * col("sx") / col("n"), 6)
          .as("intercept"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_xy"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** 2-D SKYLINE (Pareto frontier): the parts no other part beats on
    * both price and size — the multi-criteria shortlist query
    * (cheapest-for-its-size catalog cut). A part is dominated when
    * some other part has price ≤ and size ≤ with at least one strict.
    *
    * Scale shape — never the O(n²) dominance self-join: (1) the corpus
    * collapses to one candidate per DISTINCT price (min size, then min
    * partkey) in one partial-agg shuffle; (2) the frontier test
    * "size < min size over all strictly lower prices" is a running
    * min in price order, computed with the SAME two-level
    * range-partitioned prefix trick as `Pipeline.packBins`: slice-local
    * running mins per range partition + a P-row slice-min frame whose
    * prefix broadcasts back — no global single-task window ever sees
    * the candidate set. Ties: equal price keeps only the min-size
    * candidate; equal size to the prefix min is dominated (lower price
    * earlier in the order).
    */
  def skyline(spark: SparkSession, sfDir: String): DataFrame =
    skylineOver(Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").as("size")))

  /** Same operator over any (p_partkey, price, size) frame — planted
    * staircase specs pin the frontier.
    */
  def skylineOver(parts: DataFrame): DataFrame = {
    val spark = parts.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val cand = parts
      .groupBy("price")
      .agg(min(struct(col("size"), col("p_partkey"))).as("m"))
      .select(col("price"), col("m.size").as("size"),
        col("m.p_partkey").as("p_partkey"))
    val ranged = Scratch.persistDeferred(
      cand.repartitionByRange(p, col("price"))
        .withColumn("pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = ranged.withColumn("lmin", min(col("size")).over(wLocal))
    // P rows — the only unpartitioned window runs over slice minima
    val wPrior = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = ranged.groupBy("pid").agg(min(col("size")).as("smin"))
      .withColumn("pmin", min(col("smin")).over(wPrior))
      .select(col("pid"), col("pmin"))
    withLocal.join(broadcast(prior), "pid")
      .withColumn("prefix_min", least(col("lmin"), col("pmin")))
      .filter(col("prefix_min").isNull
        || col("size") < col("prefix_min"))
      .select(col("p_partkey"), col("price"), col("size"))
  }

  /** CUSUM change-point scan over the daily revenue series — the
    * mean-shift detector beside the pointwise outlier hunters
    * (`anomalyZscore`, `anomalyMad`): the day where the cumulative sum
    * of deviations from the series mean peaks in magnitude is the
    * maximum-likelihood single change point of a mean-shift model.
    *
    * Scale shape: the 100 TB fact table collapses to O(#days) rows in
    * ONE partial-aggregating shuffle; the cumulative window and the
    * peak flag run over that tiny series (the single-task window is
    * |days| rows by construction — same license as `q_yoy_growth`).
    * Exact integer arithmetic end-to-end: daily sums in decimal cents
    * become BIGINT, the deviation uses the division-free n·x−Σ form
    * (same argmax, no per-row rounding choice), and the n·x−Σ product
    * and running sum run in DECIMAL(38,0) — the n-fold magnitude
    * inflation of the division-free form would clear 2⁶³ on a skewed
    * 100 TB series, where BIGINT would wrap silently while DuckDB's
    * HUGEINT promotion stays exact; decimal keeps both engines on the
    * same integer. The peak day is shuffle-order- and engine-exact;
    * doubles appear only in the reported score.
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame =
    changepointOver(Tables.orders(spark, sfDir)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        col("o_totalprice").as("v")))

  /** Same operator over any (day, v) frame — planted-shift specs pin
    * the peak day.
    */
  def changepointOver(facts: DataFrame): DataFrame = {
    val daily = facts
      .groupBy("day")
      .agg(sum(money(col("v"))).as("rev"))
      .withColumn("cents", (col("rev") * 100).cast("long"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d19 = DecimalType(19, 0)
    val cusum = daily.crossJoin(broadcast(tot))
      .withColumn("c", sum(col("n").cast(d19) * col("cents").cast(d19)
        - col("s").cast(DecimalType(38, 0))).over(w))
    val peak = cusum.agg(max(abs(col("c"))).as("peak"))
    val peakDay = cusum.crossJoin(broadcast(peak))
      .filter(abs(col("c")) === col("peak"))
      .agg(min(col("day")).as("peak_day"))
    cusum.crossJoin(broadcast(peakDay))
      .withColumn("is_peak", col("day") === col("peak_day"))
      .select(col("day"), col("rev").cast("double").as("rev"),
        round(col("c").cast("double")
          / (col("n").cast("double") * 100.0), 4).as("cusum"),
        col("is_peak"))
  }

  /** SESSION TRANSITION MATRIX — the Markov view of user behavior
    * ("after a view, what comes next?") that powers next-action
    * prediction features and funnel design: consecutive event-type
    * pairs WITHIN a session (the [[sessionize]] 30-min-gap rule —
    * transitions never cross a session boundary), counted globally
    * and normalized per source type into exact-ratio transition
    * probabilities.
    *
    * Scale shape: the per-user ordered window is the sessionize
    * discipline (bounded by a user's own event count); transition
    * counting is one partial-aggregated groupBy over the
    * #types²-sized key space; the normalizing row totals come from
    * re-aggregating the tiny count table, never a second corpus
    * scan. P(b|a) is one exact-integer division, rounded 6.
    */
  def transitionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          || col("ts").cast("double") - col("prev_ts").cast("double") > 1800d, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("next_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("next_type").isNotNull)
    val counts = steps.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("p"))
  }

  /** TOP CONVERTING / NON-CONVERTING JOURNEY PATHS — the path report
    * every funnel review opens with ("what do users actually DO
    * before buying"), and the human-readable companion to
    * [[markovAttribution]]'s chain (same journeys, same first-
    * purchase cut; this one keeps the sequences instead of
    * factorizing them): per session the ordered label string
    * (e.g. 'click>view>CONV'), counted across the corpus, global
    * top-k by frequency on the bounded TopKPerKey heaps (never a
    * corpus-wide sort — path cardinality is data-dependent and
    * unbounded at 100 TB).
    */
  def topPaths(spark: SparkSession, sfDir: String, k: Int = 20)
      : DataFrame =
    topPathsOver(Tables.events(spark, sfDir), k)

  /** Shared journey prep for [[topPathsOver]] and
    * [[markovAttributionOver]] ("same journeys, same first-purchase
    * cut"): 30-min-gap sessionization (the [[sessionize]] rule with
    * (ts, event_id) tie order), each session cut at its FIRST
    * purchase, purchase relabeled 'CONV'. Emits (user_id, session_id,
    * ts, event_id, fp, to_s); fp is null for non-converting sessions.
    */
  private[graft] def sessionJourneys(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val bySessAll = Window.partitionBy(col("user_id"), col("session_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          || col("ts").cast("double") - col("prev_ts").cast("double")
            > 1800d, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(bySess))
      .withColumn("fp",
        min(when(col("event_type") === "purchase", col("rn")))
          .over(bySessAll))
      .filter(col("fp").isNull || col("rn") <= col("fp"))
      .select(col("user_id"), col("session_id"), col("ts"),
        col("event_id"), col("fp"),
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")).as("to_s"))
  }

  /** Same report over any (event_id, user_id, ts, event_type) frame
    * — planted sessions pin the path strings and the cut. */
  def topPathsOver(events: DataFrame, k: Int): DataFrame = {
    val paths = sessionJourneys(events)
      .groupBy("user_id", "session_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("to_s")))).as("arr"),
        max(when(col("to_s") === "CONV", 1L).otherwise(0L))
          .as("converted"))
      .select(
        concat_ws(">", expr("transform(arr, s -> s.to_s)")).as("path"),
        col("converted"))
      .groupBy("path", "converted")
      .agg(count(lit(1)).as("n"))
    graft.plans.TopKPerKey(paths.withColumn("g", lit(1)),
        Seq("g"), Seq(("n", true), ("path", false)), k)
      .select(col("path"), col("converted"), col("n"), col("rnk"))
  }

  /** ABC INVENTORY CLASSIFICATION of parts by revenue — the
    * warehouse-management classic (A ≈ top 80% of revenue, B the
    * next 15%, C the tail) that drives stocking and audit policy:
    * per-part exact revenue CENTS, the global descending rank and
    * running revenue total from the TWO-LEVEL range-partitioned
    * prefix sum (the lorenz/pack_sequences discipline — never a
    * global single-task sort), and the class from INTEGER
    * predicates 100·cum ≤ 80·total / 95·total in DECIMAL (no float
    * quantile, no boundary ambiguity).
    */
  def abcClass(spark: SparkSession, sfDir: String): DataFrame =
    abcClassOver(Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum((money(col("l_extendedprice")) * 100).cast("long"))
        .as("cents")))

  /** Same classification over any (l_partkey, cents) frame — a
    * planted 80/15/5 corpus pins the class boundaries. */
  private[graft] def abcClassOver(perPart: DataFrame): DataFrame = {
    val spark = perPart.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val d38 = DecimalType(38, 0)
    val ranged = Scratch.persistDeferred(perPart
      .repartitionByRange(p, col("cents").desc, col("l_partkey"))
      .withColumn("pid", spark_partition_id()))
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("pid")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("pc"))
      .withColumn("off_n", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .withColumn("off_c", coalesce(sum(col("pc")).over(wOff), lit(0L)))
      .select("pid", "off_n", "off_c")
    val wRun = Window.partitionBy(col("pid"))
      .orderBy(col("cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // read the grand total off the cached range-partitioned frame —
    // re-aggregating perPart would re-run the corpus scan + groupBy
    val tot = ranged.agg(sum(col("cents")).as("tc"))
    ranged.join(broadcast(offsets), "pid")
      .withColumn("rank",
        col("off_n") + coalesce(sum(lit(1L)).over(wRun), lit(0L)) + 1L)
      .withColumn("cum",
        col("off_c") + coalesce(sum(col("cents")).over(wRun), lit(0L))
          + col("cents"))
      .crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("cents"), col("rank"),
        col("cum").as("cum_cents"),
        when(col("cum").cast(d38) * 100 <= col("tc").cast(d38) * 80, "A")
          .when(col("cum").cast(d38) * 100 <= col("tc").cast(d38) * 95, "B")
          .otherwise("C").as("abc"),
        round(col("cents").cast("double") / col("tc").cast("double"), 6)
          .as("share"),
        round(col("cum").cast("double") / col("tc").cast("double"), 6)
          .as("cum_share"))
  }

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the principled multi-touch
    * model beside `q_attribution`'s last-touch rule (last-touch gives
    * the closer 100% of the credit; the Markov model asks the causal
    * question "how much conversion disappears if channel c vanishes",
    * the removal effect of Anderl et al.): session journeys become a
    * first-order chain START → touches → CONV/NULL (cut at the first
    * purchase; non-converting sessions absorb into NULL), and each
    * channel's credit is its normalized removal effect — the drop in
    * P(START→CONV) when paths through the channel are severed.
    *
    * The corpus-sized work is the sessionized window pass + ONE
    * (from, to) groupBy; the chain itself is #types²-bounded, so the
    * transition matrix is a BOUNDED collect (the codebook-training
    * convention) and the absorbing-chain solve runs driver-side in
    * EXACT DECIMAL (probabilities rounded 6, per-term products
    * rounded 9 and accumulated in BigDecimal — the same op sequence
    * the oracle's 32-step unrolled-CTE iteration runs, so every
    * emitted float hash-gates). Removal severs at READ (val(c) ≡ 0),
    * identical in both engines.
    */
  def markovAttribution(spark: SparkSession, sfDir: String,
      iters: Int = 32): DataFrame =
    markovAttributionOver(Tables.events(spark, sfDir), iters)

  /** Same model over any (user_id, event_id, ts, event_type) frame —
    * a planted two-channel corpus with hand-computable chain pins
    * the removal effects and shares. */
  def markovAttributionOver(events: DataFrame, iters: Int): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val spark = events.sparkSession
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val bySessAll = Window.partitionBy(col("user_id"), col("session_id"))
    val kept = sessionJourneys(events)
      .withColumn("from_s",
        coalesce(lag(col("to_s"), 1).over(bySess), lit("START")))
      .withColumn("krn", row_number().over(bySess))
      .withColumn("kmax", max(col("krn")).over(bySessAll))
    val terminals = kept
      .filter(col("fp").isNull && col("krn") === col("kmax"))
      .select(col("to_s").as("from_s"), lit("NULL").as("to_s"))
    val edges = kept.select("from_s", "to_s").unionByName(terminals)
      .groupBy("from_s", "to_s").agg(count(lit(1)).as("n"))
    val withP = edges
      .join(edges.groupBy("from_s").agg(sum(col("n")).as("tot")), "from_s")
      .select(col("from_s"), col("to_s"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("p"))
    // #event-types²-bounded matrix: the bounded-collect convention
    val mat = withP.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val outgoing = mat.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => (e._2, e._3)).sortBy(_._1)
    }
    val states = outgoing.keySet
    val channels = (states - "START").toSeq.sorted
    def solve(removed: Option[String]): JBD = {
      var v = Map.empty[String, JBD]
      for (_ <- 1 to iters) {
        v = states.map { s =>
          val nv = outgoing(s).foldLeft(JBD.ZERO) { case (acc, (t, p)) =>
            val tv =
              if (t == "CONV") 1.0
              else if (t == "NULL") 0.0
              else if (removed.contains(t)) 0.0
              else v.get(t).map(_.doubleValue).getOrElse(0.0)
            acc.add(new JBD(p * tv).setScale(9, RM.HALF_UP))
          }
          s -> nv
        }.toMap
      }
      v.getOrElse("START", JBD.ZERO)
    }
    val base = solve(None)
    val perCh = channels.map { c =>
      val rem = solve(Some(c))
      (c, rem, base.subtract(rem))
    }
    val totEff = perCh.foldLeft(JBD.ZERO)((a, r) => a.add(r._3))
    def r6(x: Double): Double =
      new JBD(x).setScale(6, RM.HALF_UP).doubleValue
    val rows = perCh.map { case (c, rem, eff) =>
      (c, r6(base.doubleValue), r6(rem.doubleValue),
        if (base.doubleValue > 0)
          Some(r6(eff.doubleValue / base.doubleValue)) else None,
        if (totEff.doubleValue > 0)
          Some(r6(eff.doubleValue / totEff.doubleValue)) else None)
    }
    import spark.implicits._
    rows.toDF("channel", "base_cvr", "removed_cvr", "removal_effect",
      "attribution")
  }

  /** DAU/WAU STICKINESS — the engagement ratio every product
    * dashboard tracks (what share of weekly-active users show up on
    * a given day): daily active users over rolling-7-day active
    * users, reported only for days with a full trailing window.
    *
    * Scale shape: the corpus-sized work is ONE distinct down to the
    * (day, user) rollup (#users × #days, not #events); the rolling
    * distinct fans that rollup out ×7 against the O(#days) day grid
    * — a broadcast of the GRID (tiny, calendar-bounded) against the
    * rollup, the documented bounded-side BroadcastNestedLoopJoin
    * shape, never a distinct-over-window on raw events. The
    * full-window cutoff is a 1-row broadcast aggregate; the ratio is
    * one exact-integer division.
    */
  def stickiness(spark: SparkSession, sfDir: String,
      window: Int = 7): DataFrame = {
    val pairs = Scratch.persistDeferred(
      Tables.events(spark, sfDir)
        .select(to_date(date_trunc("DAY", col("ts"))).as("day"),
          col("user_id")).distinct())
    val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
    val grid = dau.select(col("day").as("d"))
    val wau = pairs.join(broadcast(grid),
        col("day").between(date_sub(col("d"), window - 1), col("d")))
      .groupBy("d").agg(countDistinct(col("user_id")).as("wau"))
    val lo = pairs.agg(date_add(min(col("day")), window - 1).as("lo"))
    dau.join(wau, col("day") === col("d")).drop("d")
      .join(broadcast(lo), col("day") >= col("lo")).drop("lo")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /** SLO BURN-RATE ALERTING — the Google-SRE multi-window error
    * budget monitor: per hour, the error-event share against a 5%
    * budget, as a FAST window (the hour itself) and a SLOW 6-hour
    * trailing window; a page fires only when BOTH burn above 1× (the
    * fast window catches the spike, the slow window confirms it is
    * not a blip). Alert predicates are EXACT INTEGER comparisons
    * (20·errors > events — budget 1/20 never touches a float); burn
    * rates are integer micro-units by half-up division (the
    * q_interpolate discipline). The corpus work is ONE hourly
    * rollup; the trailing window rides the calendar-bounded hourly
    * frame (the q_yoy discipline).
    */
  def sloBurn(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("errs"))
    // the slow window must be TIME-based: densify onto the calendar
    // spine (the gapFill trick) so ROWS 5 PRECEDING is exactly six
    // calendar hours — over the sparse rollup it would skip silent
    // hours and page on stale errors across a gap
    val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val dense = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
      .join(hourly, Seq("hour"), "left")
      .select(col("hour"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("errs"), lit(0L)).as("errs"))
    val w6 = Window.orderBy(col("hour")).rowsBetween(-5, 0)
    dense
      .withColumn("n6", sum(col("n")).over(w6))
      .withColumn("e6", sum(col("errs")).over(w6))
      .select(date_format(col("hour"), TsFmt).as("hour"),
        col("n"), col("errs"),
        // half-up integer division: numerator is non-negative by
        // construction (error counts ≥ 0) — the precondition the
        // shared idiom requires (see interpolate's PRECONDITION note)
        when(col("n") > 0,
          expr("(2 * (20 * errs * 1000000) + n) div (2 * n)"))
          .otherwise(0L).as("burn1h_micro"),
        when(col("n6") > 0,
          expr("(2 * (20 * e6 * 1000000) + n6) div (2 * n6)"))
          .otherwise(0L).as("burn6h_micro"),
        (col("errs") * 20 > col("n") && col("e6") * 20 > col("n6"))
          .as("page"))
  }

  /** DAY-N ROLLING RETENTION by signup-day cohort — the growth
    * dashboard's classic triangle reduced to its D1/D7 columns: for
    * each cohort day (a user's first active day), the share of users
    * active again EXACTLY N days later. One scan collapses the corpus
    * to distinct (user, day) pairs; the cohort day is a per-user min;
    * the D+N flags are conditional aggregates over the user's own
    * (bounded) day set — no window, no self-join, O(#cohort-days)
    * rows out.
    */
  def rollingRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .distinct()
      .localCheckpoint()
    val first = days.groupBy("user_id").agg(min(col("day")).as("d0"))
    val flags = days.join(first, "user_id")
      .groupBy(col("user_id"), col("d0"))
      .agg(
        max(when(col("day") === date_add(col("d0"), 1), 1L).otherwise(0L))
          .as("r1"),
        max(when(col("day") === date_add(col("d0"), 7), 1L).otherwise(0L))
          .as("r7"))
    flags.groupBy(col("d0").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("r1")).as("d1_retained"),
        sum(col("r7")).as("d7_retained"))
      .select(col("cohort_day"), col("n_users"),
        col("d1_retained"), col("d7_retained"),
        round(col("d1_retained").cast("double")
          / col("n_users").cast("double"), 6).as("d1_rate"),
        round(col("d7_retained").cast("double")
          / col("n_users").cast("double"), 6).as("d7_rate"))
  }

  /** RETENTION HALF-LIFE (`q_retention_halflife`) — fit the pooled
    * retention curve r_k (share of users active exactly k days after
    * their first day, k = 1..14) to an exponential decay and report
    * the half-life in days: the ONE growth number a D1/D7 table
    * ([[rollingRetention]]) doesn't give — how fast engagement decays
    * between the landmarks. Right-truncation handled the only honest
    * way: user u enters day-k's DENOMINATOR only if the data horizon
    * extends k days past u's first day (else short cohorts fake
    * decay). Log-linear OLS on (k, ln r_k): the ln points round 6
    * into DECIMAL, the OLS moments are exact decimal/integer sums
    * (Σk, Σk², Σy, Σky with k as a DECIMAL(2,0) exact factor), the
    * slope ONE IEEE expression on exact aggregates, half-life
    * −ln2/slope with ln 2 as a shared literal.
    *
    * Scale shape: one distinct-(user, day) scan, per-user firsts, a
    * bounded offsets frame (≤ maxK per user), and the denominator via
    * a CALENDAR-sized span histogram + suffix sums — no user × grid
    * join survives to corpus scale.
    */
  def retentionHalflife(spark: SparkSession, sfDir: String,
      maxK: Int = 14): DataFrame =
    retentionHalflifeOver(Tables.events(spark, sfDir)
      .select(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("day")), maxK)

  /** Same operator over any (user_id, day) activity frame — a planted
    * exact-halving cohort (r_k = 2^−k) pins slope = −ln 2 and
    * half-life = 1.0 day. */
  private[graft] def retentionHalflifeOver(activity: DataFrame,
      maxK: Int): DataFrame = {
    val spark = activity.sparkSession
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val days = activity
      .select(col("user_id"), col("day"))
      .distinct()
      .localCheckpoint()
    val first = days.groupBy("user_id").agg(min(col("day")).as("d0"))
      .localCheckpoint()
    val mx = days.agg(max(col("day")).as("mend"))
    val num = days.join(first, "user_id")
      .select(col("user_id"),
        datediff(col("day"), col("d0")).cast("long").as("k"))
      .filter(col("k") >= 1 && col("k") <= maxK)
      .distinct()
      .groupBy("k").agg(count(lit(1)).as("num"))
    // denominator: span histogram (calendar-sized) + suffix sums
    val spans = first.crossJoin(broadcast(mx))
      .select(datediff(col("mend"), col("d0")).cast("long").as("span"))
      .groupBy("span").agg(count(lit(1)).as("c"))
    val grid = spark.range(1, maxK + 1).select(col("id").as("k"))
    val den = grid.join(spans, col("span") >= col("k"))
      .groupBy("k").agg(sum(col("c")).as("den"))
    val curve = num.join(den, "k")
      .filter(col("num") > 0 && col("den") > 0)
      .select(col("k"),
        round(log(col("num").cast("double") / col("den").cast("double")),
          6).cast(d186).as("y"))
    val m = curve.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
      sum(col("k") * col("k")).as("skk"), sum(col("y")).as("sy"),
      sum(col("y") * col("k").cast(DecimalType(2, 0))).as("sky"))
    val nD = col("n").cast("double")
    val skD = col("sk").cast("double")
    val slope = (nD * col("sky").cast("double") -
      skD * col("sy").cast("double")) /
      (nD * col("skk").cast("double") - skD * skD)
    val ln2 = 0.6931471805599453
    m.select(col("n").cast("long").as("n_points"),
      when(col("n") >= 2 && nD * col("skk").cast("double") -
        skD * skD > 0, round(slope, 6)).as("decay_slope"),
      when(col("n") >= 2 && nD * col("skk").cast("double") -
        skD * skD > 0 && slope < 0,
        round(lit(ln2) / -slope, 6)).as("half_life_days"))
  }

  /** HITS HUB/AUTHORITY SCORES over the bipartite customer→part
    * purchase graph (Kleinberg 1999) — the mutual-reinforcement
    * ranking co-purchase analytics uses where PageRank's single
    * score can't: a part is AUTHORITATIVE when bought by broad-basket
    * customers, a customer is a strong HUB when they buy
    * authoritative parts. Two full mutual-update rounds with L1
    * normalization, unrolled in the oracle as CTEs (the `q_pagerank`
    * discipline): per-edge contributions are 9-decimal-rounded and
    * summed IN DECIMAL, each normalization is ONE double division of
    * the decimal-cast score by the decimal-cast 1-row total
    * (broadcast), re-rounded to 9 — every intermediate score is
    * bit-identical in both engines.
    *
    * Scale shape: the edge set (distinct customer-part pairs) is
    * built once from the lineitem ⋈ orders join and
    * localCheckpointed; each half-step is ONE partial-aggregated
    * groupBy over the edges plus a 1-row broadcast total — the
    * standard message-passing shape, never a matrix materialization.
    * Scores exist only for nodes on edges (an unsold part has no
    * authority to rank).
    */
  /** Churn-risk snapshot (`q_churn_risk`) — per market segment, the
    * share of ever-active users whose LAST activity predates the
    * final week of the window: one last-active rollup, one segment
    * join, shares in half-up integer micro-units off a 1-row cutoff
    * (the list a retention team actually pages through, summarized).
    */
  def churnRisk(spark: SparkSession, sfDir: String): DataFrame = {
    val lastActive = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(max(to_date(date_trunc("DAY", col("ts")))).as("last_day"))
    val cut = Tables.events(spark, sfDir)
      .agg(date_sub(max(to_date(date_trunc("DAY", col("ts")))), 6)
        .as("cutoff"))
    lastActive
      .join(Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .crossJoin(broadcast(cut))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("last_day") < col("cutoff"), 1L).otherwise(0L))
          .as("n_at_risk"))
      .select(col("segment"), col("n_users"), col("n_at_risk"),
        expr("(2 * (n_at_risk * 1000000) + n_users) div (2 * n_users)")
          .as("risk_micro"))
  }

  /** Weekend effect (`q_weekend_effect`) — per event type, weekday vs
    * weekend daily revenue means and their difference: the
    * seasonality sanity check behind staffing/campaign timing. Daily
    * cents are exact; each mean is the half-up micro division; the
    * effect is a plain integer subtraction. Spark's dayofweek is
    * 1=Sunday while DuckDB's is 0=Sunday — the oracle shifts +1 (the
    * q_seasonal_decompose convention).
    */
  def weekendEffect(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("event_type"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg((sum(col("value").cast(d182)) * 100).cast("long").as("cents"))
      .withColumn("is_weekend",
        dayofweek(col("day")).isin(1, 7)) // 1=Sunday, 7=Saturday
    daily.groupBy("event_type")
      .agg(
        sum(when(col("is_weekend"), 1L).otherwise(0L)).as("wk_days"),
        sum(when(!col("is_weekend"), 1L).otherwise(0L)).as("wd_days"),
        sum(when(col("is_weekend"), col("cents")).otherwise(0L))
          .as("wk_cents"),
        sum(when(!col("is_weekend"), col("cents")).otherwise(0L))
          .as("wd_cents"))
      .select(col("event_type"), col("wk_days"), col("wd_days"),
        expr("(2 * (wk_cents * 10000) + wk_days) div (2 * wk_days)")
          .as("wk_mean_micro"),
        expr("(2 * (wd_cents * 10000) + wd_days) div (2 * wd_days)")
          .as("wd_mean_micro"))
      .withColumn("effect_micro",
        col("wk_mean_micro") - col("wd_mean_micro"))
  }

  /** Daily NEW vs RETURNING split (`q_new_vs_returning`) — the growth
    * dashboard's first row: each active day a user is either brand
    * new (this is their first-seen day) or returning. One distinct
    * (user, day) activity pass, first-seen day as a min-window, then
    * a conditional rollup — exact integers end-to-end, two shuffles.
    */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .distinct()
    val withFirst = act.withColumn("first_day",
      min(col("day")).over(Window.partitionBy("user_id")))
    withFirst.groupBy("day")
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
          .as("returning_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("returning_users"))
  }

  /** Pareto concentration (`q_pareto`) — what share of revenue the
    * top 20% of purchasers carry (the 80/20 check): users ranked by
    * exact cent totals (id tiebreak so the boundary is deterministic
    * in both engines), cutoff k = ⌈n/5⌉ by integer arithmetic, the
    * top-k share in half-up integer micro-units. One rollup + one
    * rank window + two bounded 1-row aggregates.
    */
  def pareto(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val rev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg((sum(col("value").cast(d182)) * 100).cast("long")
        .as("cents"))
    val ranked = rev.withColumn("rnk",
      row_number().over(
        Window.orderBy(col("cents").desc, col("user_id"))))
    val tot = rev.agg(count(lit(1)).as("n_users"),
      sum(col("cents")).as("total_cents"))
    ranked.crossJoin(broadcast(tot))
      .filter(col("rnk") <= expr("(n_users + 4) div 5"))
      .groupBy(col("n_users"), col("total_cents"))
      .agg(count(lit(1)).as("top_k"), sum(col("cents")).as("top_cents"))
      .select(col("n_users"), col("top_k"), col("top_cents"),
        col("total_cents"),
        expr("(2 * (top_cents * 1000000) + total_cents) " +
          "div (2 * total_cents)").as("share_micro"))
  }

  /** Cohort LTV triangle (`q_cohort_ltv`) — the revenue companion to
    * `q_cohort`'s retention triangle: users grouped by first-purchase
    * WEEK (the corpus spans ~a month, so weekly cohorts give a real
    * triangle), revenue accumulated per cohort-age, and the running
    * CUMULATIVE LTV per cohort (the curve a growth team actually
    * projects from). Week index kept as the exact integer epoch-day
    * div 7 so ages are integer subtraction, revenue in exact decimal
    * cents, the cumulative a window sum over the bounded
    * (cohort × age) triangle — nothing floating anywhere.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        // epoch-week: non-negative post-1970, so div ≡ DuckDB //
        expr("CAST(datediff(to_date(date_trunc('DAY', ts)), " +
          "DATE '1970-01-01') AS BIGINT) div 7").as("m"),
        col("value").cast(d182).as("v"))
    val firstM = purchases.groupBy("user_id")
      .agg(min(col("m")).as("cohort_m"))
    val cells = purchases.join(firstM, "user_id")
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("age"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        (sum(col("v")) * 100).cast("long").as("rev_cents"))
    val w = Window.partitionBy("cohort_m").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(col("cohort_m"), col("age"), col("n_users"),
        col("rev_cents"), col("cum_rev_cents"))
  }

  /** Inter-purchase gap distribution (`q_interarrival`) — the
    * inter-arrival histogram behind churn/replenishment models: per
    * user the day gaps between consecutive purchase DAYS (distinct
    * days, so a burst counts once), then the corpus-wide gap
    * histogram with the share in integer micro-units (half-up on a
    * non-negative numerator — the shared idiom's precondition). One
    * window pass + one bounded-domain groupBy (gaps ≤ the window
    * span in days).
    */
  def interarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val gaps = days
      .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(w)))
      .filter(col("gap").isNotNull)
      .select(col("gap").cast("long").as("gap_days"))
      .localCheckpoint() // consumed twice: cells + the 1-row total
    val tot = gaps.agg(count(lit(1)).as("n_total"))
    gaps.groupBy("gap_days")
      .agg(count(lit(1)).as("n_gaps"))
      .crossJoin(broadcast(tot))
      .select(col("gap_days"), col("n_gaps"),
        expr("(2 * (n_gaps * 1000000) + n_total) div (2 * n_total)")
          .as("share_micro"))
  }

  def hitsScores(spark: SparkSession, sfDir: String): DataFrame =
    hitsRun(spark, sfDir, maxRounds = 2, eps = None)._1

  /** CONVERGENCE-MODE HITS (`q_hits_converged`): instead of the fixed
    * two mutual-update rounds, iterate full (authority, hub) rounds
    * until the L1 delta between successive authority vectors is ≤
    * `eps` (scores are L1-normalized each half-step, so eps is a
    * fraction of total mass; default 1e-6 — one ppm of mass still
    * moving, the point where further rounds change no ranking; the
    * exact round-9 lattice fixed point sits a few rounds further and
    * eps=0 reaches it) with a round cap. One bounded 1-row driver
    * read per round prices the stop test. `q_hits` stays the
    * DuckDB-gated twin (its oracle is the 2-round unroll); this key
    * is rows-gated with the fixed-point certificate spec-pinned.
    */
  def hitsConverged(spark: SparkSession, sfDir: String,
      eps: Double = 1e-6, maxRounds: Int = 12): DataFrame = {
    val (out, rounds, converged) = hitsRun(spark, sfDir, maxRounds, Some(eps))
    out.select(col("kind"), col("node_id"), col("score"), col("deg"),
      lit(rounds.toLong).as("n_rounds"), lit(converged).as("converged"))
  }

  /** Node budget under which a HITS score/degree vector broadcasts
    * (~4M nodes ≈ a few hundred MB built — the guide's comfortable
    * broadcast range). The per-round joins read score frames through
    * `localCheckpoint`, whose LogicalRDD reports UNKNOWN size stats,
    * so the planner sort-merge-joins 550k edges against a 20k-row
    * score vector every half-step; re-attaching the size decision
    * from the degree vectors' observed row counts restores the
    * broadcast the stats loss hid. Past the budget the sort-merge
    * shape stands — a web-scale score vector cannot ship to every
    * executor.
    */
  private val HitsBroadcastNodeBudget = 4L * 1000 * 1000

  /** The HITS TRAJECTORY, an [[Artifacts]] value per corpus that
    * owns every frame it reads: the distinct (customer, part) edge
    * graph, both degree vectors and each round's score vectors, all
    * freed by `close()` when the registry evicts it. `q_hits`, the
    * convergence-mode twin, and the certificate spec's fixed unrolls
    * all iterate the IDENTICAL graph (at 100 TB a production HITS
    * persists this edge list and every run reloads it), and the
    * (a, h) score vectors are a deterministic function of the edge
    * graph alone (eps only decides where a caller STOPS reading), so
    * `q_hits` (2 rounds), `q_hits_converged` (rounds until the L1
    * test fires) and the certificate spec's fixed unrolls all read
    * prefixes of ONE fixed-point iteration. Before this artifact each
    * caller re-ran the edge join 2×rounds times from round 1 — a
    * production HITS maintains one score table and every consumer
    * reads it.
    *
    * Round economy inside the trajectory: one half-step is ONE
    * materialized job — the edge join + decimal side-sums
    * checkpoint, with the L1-normalization total collected AS AN
    * OBSERVED METRIC of that same job (`observe`: the CollectMetrics
    * accumulator rides the checkpoint pass — zero extra jobs, zero
    * extra scans, a 1-row driver value at ANY graph scale). This
    * replaces r18's global window (which funneled the ENTIRE
    * node-sized aggregate through one window task every half-step:
    * bounded under the 4M budget, single-task at web scale) and the
    * pre-r18 crossJoin(broadcast(tot)) (whose broadcast build thread
    * re-ran the whole edge join). The decimal sum is exact in any
    * order, and BigDecimal.doubleValue is the same correctly-rounded
    * conversion Cast(decimal→double) performs, so the rounded
    * division is bit-identical to the forms the oracle replays. The
    * normalized projections stay lazy: every consumer re-runs one
    * cheap narrow projection over its round's checkpoint.
    */
  private[graft] final class HitsTrajectory(spark: SparkSession,
      sfDir: String) extends AutoCloseable {
    private val d289 = DecimalType(28, 9)
    private val edges = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint()

    /** Per-node degree vector on side `key`, checkpointed once, with
      * its row count (= the side's distinct nodes) observed on the
      * same job.
      */
    private def degrees(key: String): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val deg = edges.groupBy(col(key).as("node"))
        .agg(count(lit(1)).as("deg"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      (deg, obs.get("n").asInstanceOf[Long])
    }
    private[graft] val (uDeg, nCust) = degrees("u")
    private[graft] val (pDeg, nPart) = degrees("p")
    // the degree builds' observed counts price the join strategy for
    // every round (the scaledPlanesPerBand convention: derive the
    // scale decision from the data, once)
    private val nNodes = nCust + nPart
    private[graft] def sized(df: DataFrame): DataFrame =
      if (nNodes <= HitsBroadcastNodeBudget) broadcast(df) else df

    private def halfStep(scores: DataFrame, keyIn: String,
        keyOut: String): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val raw = edges
        .join(sized(scores.withColumnRenamed("node", keyIn)), keyIn)
        .groupBy(col(keyOut).as("node"))
        .agg(sum(col("s").cast(d289)).as("raw"))
        .observe(obs, sum(col("raw")).as("t"))
        .localCheckpoint()
      // an empty edge graph observes a null total over zero rows:
      // any divisor then yields the same empty vector
      val t = Option(obs.get("t").asInstanceOf[java.math.BigDecimal])
        .fold(0.0)(_.doubleValue)
      raw.select(col("node"),
        round(col("raw").cast("double") / lit(t), 9).as("s"))
    }

    // hs(k) = hub vector entering round k+1 (hs(0) = all-ones init);
    // as(k-1) = authority vector after round k; l1s(k) = L1 step
    // between as of rounds k-1 and k (defined from round 2), computed
    // on first read — a fixed-round caller never pays for it
    private val hs = scala.collection.mutable.ArrayBuffer[DataFrame](
      uDeg.select(col("node"), lit(1.0).as("s")))
    private val as = scala.collection.mutable.ArrayBuffer[DataFrame]()
    private val l1s = scala.collection.mutable.Map[Int, Double]()

    /** Extend the trajectory to `rounds` full rounds: two jobs (one
      * per half-step) per extension round.
      */
    def ensure(rounds: Int): Unit = synchronized {
      while (as.length < rounds) {
        val a2 = halfStep(hs.last, "u", "p")
        hs += halfStep(a2, "p", "u")
        as += a2
      }
    }
    def a(round: Int): DataFrame = synchronized(as(round - 1))
    def h(round: Int): DataFrame = synchronized(hs(round))
    /** L1 step into `round` (≥ 2, already ensured). ONE bounded 1-row
      * collect on first access: both vectors are cheap
      * projections over their retained checkpoints, so the L1 agg
      * re-runs no edge join. Both vectors live on the same node set
      * (every part with a sale), so the left join's null rows — none
      * in practice — contribute exactly what an inner-join sum did:
      * nothing (null abs-diff is skipped by sum).
      */
    def l1(round: Int): Double = synchronized(l1s.getOrElseUpdate(round,
      as(round - 1)
        .join(sized(as(round - 2).select(col("node"), col("s").as("prev"))),
          Seq("node"), "left")
        .agg(coalesce(sum(abs(col("s") - col("prev"))), lit(0.0)))
        .first().getDouble(0)))
    /** Evict hook: free the edge graph, every checkpointed round and
      * both degree vectors.
      */
    def close(): Unit = synchronized((as ++ hs ++ Seq(edges, uDeg, pDeg))
      .foreach(MemoCache.freeLocalCheckpoint))
  }

  private[graft] def hitsRun(spark: SparkSession, sfDir: String,
      maxRounds: Int, eps: Option[Double]): (DataFrame, Int, Boolean) = {
    val traj = Artifacts.value(spark, sfDir, "hits_trajectory")(
      new HitsTrajectory(spark, sfDir))
    var rounds = 0
    var converged = false
    eps match {
      case None =>
        traj.ensure(maxRounds)
        rounds = maxRounds
      case Some(e) =>
        // identical stop semantics to the inline loop: the test fires
        // after round k ≥ 2 on the L1 step between a_{k-1} and a_k
        while (rounds < maxRounds && !converged) {
          rounds += 1
          traj.ensure(rounds)
          if (rounds >= 2 && traj.l1(rounds) <= e) converged = true
        }
    }
    val a = traj.a(rounds)
    val h = traj.h(rounds)
    (a.join(traj.sized(traj.pDeg), "node")
      .select(lit("part").as("kind"), col("node").as("node_id"),
        col("s").as("score"), col("deg"))
      .unionByName(h.join(traj.sized(traj.uDeg), "node")
        .select(lit("cust").as("kind"), col("node").as("node_id"),
          col("s").as("score"), col("deg"))),
      rounds, converged)
  }

  /** PER-USER BEHAVIORAL ENTROPY (`q_user_entropy`) — the Shannon
    * entropy of each user's action mix, the one-number behavioral-
    * diversity feature (H = 0: a single-action bot or scraper;
    * H → ln k: a uniformly engaged human) that feeds bot filtering
    * and segmentation next to `q_rfm`'s magnitude view. Computed as
    * H = ln n − (Σ cᵢ·ln cᵢ)/n so every ln argument is an exact
    * INTEGER count: each ln rounds to 6 and multiplies its exact
    * count INTO DECIMAL (the perplexity discipline — the per-user
    * sum has one deterministic value), one division and one final
    * rounding. Two partial-agg shuffles, no window.
    */
  def userEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val d186 = DecimalType(18, 6)
    Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum((col("c").cast(DecimalType(12, 0)) *
          round(log(col("c").cast("double")), 6).cast(d186))
          .cast(DecimalType(30, 6))).as("clnc"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(log(col("n_events").cast("double")) -
          col("clnc").cast("double") / col("n_events").cast("double"), 6)
          .as("entropy"))
  }
}
