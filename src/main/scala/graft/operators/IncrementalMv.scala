package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Tables, TempDirs}

/** Incremental MATERIALIZED-VIEW maintenance (SURVEY §2.B): the daily
  * revenue rollup kept fresh at O(new batch + view), never O(history).
  * Run 1 persists its rollup PARTIAL — exact mergeable (n, Σv) per
  * (day, event_type) — as a parquet artifact; run 2 rolls up ONLY its
  * new batch and merges with the artifact by union + re-aggregate.
  * This is the `sketch_persist` re-mergeable-rollup shape applied to
  * EXACT aggregates, and the batch twin of `stream_merge`'s
  * foreachBatch CDC apply: at 100 TB the nightly job scans the day's
  * partition plus a view-sized store, while a naive dashboard query
  * re-scans the whole corpus every run.
  *
  * Exactness: counts and DECIMAL sums are associative and
  * order-independent, so the two-run merge reproduces the one-shot
  * full-corpus rollup bit-for-bit — the property that lets ONE
  * full-scan DuckDB oracle gate the incremental composition (the
  * `dedup_incremental` / `pipeline_shard_append` gate pattern). The
  * artifact keeps the sum in DECIMAL(38,2); the single
  * decimal→double cast happens once at emission, identical in both
  * engines.
  */
object IncrementalMv {

  private def money(c: Column): Column = Relational.money(c)

  private def rollup(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("event_type"),
        money(col("value")).as("v"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast(DecimalType(38, 2)).as("rev"))

  /** Persist one batch's rollup partial as the view artifact;
    * partitioned by run so re-ingest never clobbers other runs. */
  def writeRollup(events: DataFrame, dir: String, run: String): Unit =
    rollup(events).write.mode("overwrite").parquet(s"$dir/mv/run=$run")

  /** Merge the persisted view with a NEW batch: batch-sized rollup
    * unioned with the view-sized artifact, one re-aggregate on the
    * view key. Old raw rows are never touched. */
  def mergeWithStore(store: DataFrame, batch: DataFrame): DataFrame =
    store.select(col("day"), col("event_type"), col("n"), col("rev"))
      .unionByName(rollup(batch))
      .groupBy("day", "event_type")
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("rev")).cast("double").as("revenue"))
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))

  /** Registry composition: split the corpus at its mid-epoch day
    * (derived from the data, never a calendar literal — the
    * `q_zonemap_skip` lesson), persist run 1's rollup, then answer
    * from artifact + run-2 raw only. Gated by the one-shot
    * full-corpus SQL. */
  def mvIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val thr = ev.agg(
      date_add(to_date(min(col("ts"))),
        (datediff(to_date(max(col("ts"))), to_date(min(col("ts")))) /
          lit(2)).cast("int")).as("t"))
    def half(pred: Column => Column): DataFrame =
      ev.crossJoin(broadcast(thr)).filter(pred(col("t"))).drop("t")
    val dir = TempDirs.create("graft_mv_store").toString
    writeRollup(half(to_date(col("ts")) <= _), dir, "r1")
    val store = Tables.parquet(spark, s"$dir/mv")
    mergeWithStore(store, half(to_date(col("ts")) > _))
  }
}
