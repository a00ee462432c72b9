package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed run of a workload's key list through the public registry.
  *
  * A call is timed exactly as `graft.Bench` times a key: the
  * `SparkEntry.queries(key)` call, the `noop` write and
  * `Scratch.release`. One closed-loop client: the next call starts when
  * the previous one has returned. The run goes
  *
  *   1. session + warm-up query (`setup_s`, from JVM start);
  *   2. one cold pass over the key list in the fresh session;
  *   3. warm passes until `--seconds` of passes have run (at least
  *      `--min-warm`); the first `--settle` of them are JIT warm-up;
  *   4. a probe of the storage the session still holds;
  *   5. the check phase: every key once more, written to parquet for
  *      the oracle compare (untimed).
  *
  * Each cold call also writes its own result frame to parquet once its
  * clock has stopped, so the check sees what the build path returned,
  * not only what a warm call serves.
  *
  * With `--trace 1` a [[Tracer]] listens to the cold pass and to half
  * of the settled warm passes; the others run with the listeners
  * removed, so the traced-minus-untraced warm pass time is the tracing
  * overhead.
  *
  * Everything is written to `<out>/result.json`; `perfbench/run.py`
  * turns it into metrics.
  */
object Harness {

  final case class Call(pass: Int, key: String, id: String, t0: Double,
      tEntry: Double, tNoop: Double, t1: Double, error: String,
      traced: Boolean)

  // epoch milliseconds from the monotonic clock, so harness spans and
  // listener event times share one axis
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  def session(cpus: Int, localDir: String, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val corpus = opt("corpus")
    val keys = opt("keys").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val out = Paths.get(opt("out"))
    val minWarm = opt("min-warm").toInt
    val settle = opt("settle").toInt
    val maxWarm = 50
    val cpus = Runtime.getRuntime.availableProcessors()
    val localDir = out.resolve("spark-local").toString
    val warehouse = out.resolve("warehouse").toString
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cpus, localDir, warehouse)
    // warm-up: a key neither workload times
    graft.SparkEntry.queries("q14_promo_revenue")(spark, corpus)
      .write.format("noop").mode("overwrite").save()
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    graft.operators.Scratch.release(spark)

    // a result written to parquet for the oracle compare; returns the
    // error, or "" when it was written
    def save(df: => DataFrame, dir: String, key: String): String =
      try {
        df.write.mode("overwrite").parquet(out.resolve(s"$dir/$key").toString)
        ""
      } catch { case e: Throwable => describe(e)
      } finally graft.operators.Scratch.release(spark)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val calls = ArrayBuffer[Call]()
    var nCalls = 0

    def call(pass: Int, key: String, traced: Boolean): Call = {
      nCalls += 1
      val id = s"c$nCalls"
      spark.sparkContext.setJobGroup(id, s"$key pass $pass", false)
      val t0 = nowMs()
      var tEntry, tNoop = Double.NaN
      var err = ""
      var df: DataFrame = null
      try {
        df = graft.SparkEntry.queries(key)(spark, corpus)
        tEntry = nowMs()
        df.write.format("noop").mode("overwrite").save()
        tNoop = nowMs()
      } catch { case e: Throwable => err = describe(e)
      } finally graft.operators.Scratch.release(spark)
      val t1 = nowMs()
      spark.sparkContext.clearJobGroup()
      if (tEntry.isNaN) tEntry = t1
      if (tNoop.isNaN) tNoop = tEntry
      // the cold call's own result frame, written after its clock
      // stopped: the check compares it with the oracle, or with the
      // check phase's result for a key with no oracle
      if (pass == 0 && err.isEmpty) err = save(df, "check-cold", key)
      Call(pass, key, id, t0, tEntry, tNoop, t1, err, traced)
    }

    // a pass's time is the sum of its timed calls: the untimed cold
    // check writes between calls are not part of it
    val passTimes = ArrayBuffer[(Int, Boolean, Double)]()
    def runPass(pass: Int, traced: Boolean): Unit = {
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val cs = keys.map(k => call(pass, k, traced))
      calls ++= cs
      passTimes += ((pass, traced, cs.map(c => c.t1 - c.t0).sum / 1e3))
    }

    val tRun0 = System.nanoTime()
    runPass(0, traced = trace)
    var pass = 1
    def elapsed = (System.nanoTime() - tRun0) / 1e9
    // the first `settle` warm passes let the JIT settle and are not
    // reported as warm; after them, traced runs interleave traced and
    // untraced passes in ABBA order (T U U T ...), at least two of
    // each, so that drift across passes cancels out of the overhead
    val need = if (trace) math.max(minWarm, settle + 4) else minWarm
    while (pass <= maxWarm && (pass <= need || elapsed < seconds)) {
      runPass(pass, traced = trace && pass > settle && (pass - settle) % 4 <= 1)
      pass += 1
    }
    tracer.foreach(_.detach())

    val probe = Probe.measure(spark, tmpDir)

    // check phase: untimed, after the probe
    val checkErrors =
      keys.map(k => k -> save(graft.SparkEntry.queries(k)(spark, corpus), "check", k))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }

    spark.stop()

    val j = new Json
    j.obj {
      j.field("cpus", cpus)
      j.field("keys", keys)
      j.field("setup_s", setup)
      j.key("passes"); j.arr(passTimes.toSeq) { case (p, tr, s) =>
        j.obj { j.field("pass", p); j.field("traced", tr); j.field("s", s) } }
      j.key("calls"); j.arr(calls.toSeq) { c =>
        j.obj {
          j.field("pass", c.pass); j.field("key", c.key); j.field("id", c.id)
          j.field("t0", c.t0); j.field("t_entry", c.tEntry)
          j.field("t_noop", c.tNoop); j.field("t1", c.t1)
          j.field("error", c.error); j.field("traced", c.traced)
        }
      }
      j.key("probe"); j.obj { probe.foreach { case (k, v) => j.field(k, v) } }
      j.key("check_errors"); j.obj { checkErrors.foreach { case (k, v) => j.field(k, v) } }
      j.key("oracle_sql"); j.obj { oracle.toSeq.sortBy(_._1).foreach { case (k, v) => j.field(k, v) } }
      tracer.foreach { t => j.key("trace"); t.dump(j) }
    }
    Files.writeString(out.resolve("result.json"), j.toString)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
}
