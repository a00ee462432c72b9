package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.CyclicBarrier

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The parquet schema cache behind `Tables.parquet`: a warm load
  * starts no Spark job, and the cache never serves a schema the path
  * or the session's parquet confs no longer give.
  */
class TablesSpec extends SparkSpec {

  private val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** A fresh corpus dir holding copies of the named sf tables. */
  private def corpusCopy(names: String*): String = {
    val dir = TempDirs.create("graft_tables_spec")
    names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"),
      dir.resolve(s"$n.parquet")))
    dir.toString
  }

  test("a warm Tables.load starts no Spark job and still reads every row") {
    val dir = corpusCopy("orders")
    assert(jobsOf(Tables.orders(spark, dir)) >= 1,
      "a cold load infers the schema with a footer job")
    assert(jobsOf(Tables.orders(spark, dir)) == 0)
    assert(Tables.orders(spark, dir).count() ==
      spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("a table rewritten at the same path loads with its new schema") {
    val dir = TempDirs.create("graft_tables_rewrite").toString
    // a Spark-written directory table, overwritten in place
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(5).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val dirTable = Tables.load(spark, dir, "t")
    assert(dirTable.columns.toSeq == Seq("b", "c"))
    assert(dirTable.count() == 5)
    // a single-file table replaced by another file of the same name
    val file = Paths.get(s"$dir/f.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), file)
    assert(Tables.load(spark, dir, "f").columns.toSeq ==
      spark.read.parquet(s"$sf/region.parquet").columns.toSeq)
    Files.copy(Paths.get(s"$sf/nation.parquet"), file,
      StandardCopyOption.REPLACE_EXISTING)
    val fileTable = Tables.load(spark, dir, "f")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    assert(fileTable.columns.toSeq == nation.columns.toSeq)
    assert(fileTable.count() == nation.count())
  }

  test("events loads under nanos-as-long scoping, warm and cold alike") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    val cold = Tables.events(spark, sf)
    assert(jobsOf(Tables.events(spark, sf)) == 0)
    val warm = Tables.events(spark, sf)
    assert(spark.conf.getOption(key) == prior, "nanos flag not restored")
    assert(warm.schema == cold.schema)
    assert(warm.schema("ts").dataType == TimestampType)
    val direct = spark.read.parquet(s"$sf/events.parquet")
    assert(warm.orderBy("event_id").collect().toSeq ==
      direct.orderBy("event_id").collect().toSeq)
  }

  test("an NTZ-inferring session still gets TIMESTAMP columns from " +
      "the loaders, and the conf keys the cache") {
    val orders = s"$sf/orders.parquet"
    // warm the entry of the NTZ-off test session first
    assert(Tables.parquet(spark, orders).schema("o_orderdate").dataType ==
      TimestampType)
    val ntz = spark.newSession()
    ntz.conf.set(ntzKey, "true")
    assert(Tables.parquet(ntz, orders).schema("o_orderdate").dataType ==
      TimestampNTZType)
    assert(Tables.orders(ntz, sf).schema("o_orderdate").dataType ==
      TimestampType)
    assert(Tables.events(ntz, sf).schema("ts").dataType == TimestampType)
    ntz.conf.set(ntzKey, "false")
    assert(Tables.parquet(ntz, orders).schema("o_orderdate").dataType ==
      TimestampType)
  }

  test("concurrent first loads from two threads both get the schema") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = corpusCopy("lineitem")
    val want = spark.read.parquet(s"$sf/lineitem.parquet").schema
    val barrier = new CyclicBarrier(2)
    val loads = Seq.fill(2)(Future {
      barrier.await()
      Tables.lineitem(spark, dir).schema
    })
    Await.result(Future.sequence(loads), 2.minutes)
      .foreach(s => assert(s == want))
    assert(Tables.lineitem(spark, dir).schema == want)
  }
}
