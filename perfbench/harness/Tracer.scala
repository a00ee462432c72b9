package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own listeners, registered from the benchmark: one
  * `SparkListener` for jobs, stages and task metrics, and one
  * `StreamingQueryListener` for per-trigger progress. Records stay in
  * memory and are written with the run record; `perfbench/trace.py`
  * ties them to calls and sums them per layer.
  *
  * Task metrics are summed per stage attempt as they arrive, so memory
  * grows with stages, not tasks.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Trigger
  private val sc = spark.sparkContext

  final class JobRec(val id: Int, val group: String, val start: Long,
      val stages: Seq[Int]) { var end = 0L; var ok = true }

  final class StageRec(val id: Int, val attempt: Int) {
    var name = ""; var submit = 0L; var complete = 0L; var failed = false
    val m = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  }

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val triggers = mutable.ArrayBuffer[Trigger]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += new JobRec(e.jobId, group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.name = e.stageInfo.name
      s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.submit == 0L) s.submit = i.submissionTime.getOrElse(0L)
      s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
      s.failed = i.failureReason.isDefined
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      val m = s.m
      m("tasks") += 1
      if (e.taskInfo.failed || e.taskInfo.killed) m("tasks_failed") += 1
      val t = e.taskMetrics
      if (t != null) {
        val run = t.executorRunTime.toDouble
        m("run_ms") += run
        m("cpu_ns") += t.executorCpuTime
        m("gc_ms") += t.jvmGCTime
        m("result_bytes") += t.resultSize
        m("spill_mem_bytes") += t.memoryBytesSpilled
        m("spill_disk_bytes") += t.diskBytesSpilled
        val in = t.inputMetrics
        m("input_bytes") += in.bytesRead
        m("input_rows") += in.recordsRead
        if (in.bytesRead > 0 || in.recordsRead > 0) m("scan_run_ms") += run
        val sr = t.shuffleReadMetrics
        m("shuffle_read_bytes") += sr.totalBytesRead
        m("shuffle_read_rows") += sr.recordsRead
        m("fetch_wait_ms") += sr.fetchWaitTime
        val sw = t.shuffleWriteMetrics
        m("shuffle_write_bytes") += sw.bytesWritten
        m("shuffle_write_rows") += sw.recordsWritten
        val out = t.outputMetrics
        m("output_bytes") += out.bytesWritten
        m("output_rows") += out.recordsWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      val sinkRows = Option(p.sink).map(_.numOutputRows).getOrElse(-1L)
      val t = Trigger(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, sinkRows)
      Tracer.this.synchronized { triggers += t }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Deliver every queued event, then stop listening. */
  def detach(): Unit = if (attached) {
    PerfbenchListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def dump(j: Json): Unit = Tracer.this.synchronized {
    j.obj {
      j.key("jobs"); j.arr(jobs.toSeq) { r => j.obj {
        j.field("id", r.id); j.field("group", r.group); j.field("start", r.start)
        j.field("end", r.end); j.field("ok", r.ok); j.field("stages", r.stages)
      } }
      j.key("stages"); j.arr(stages.values.toSeq) { s => j.obj {
        j.field("id", s.id); j.field("attempt", s.attempt); j.field("name", s.name)
        j.field("submit", s.submit); j.field("complete", s.complete)
        j.field("failed", s.failed)
        j.key("m"); j.obj { s.m.foreach { case (k, v) => j.field(k, v) } }
      } }
      j.key("triggers"); j.arr(triggers.toSeq) { t => j.obj {
        j.field("run_id", t.runId); j.field("batch", t.batchId)
        j.field("start", t.start); j.field("input_rows", t.inputRows)
        j.field("state_rows", t.stateRows); j.field("state_bytes", t.stateBytes)
        j.field("sink_rows", t.sinkRows)
        j.key("ms"); j.obj { t.durations.foreach { case (k, v) => j.field(k, v) } }
      } }
    }
  }
}

object Tracer {
  final case class Trigger(runId: String, batchId: Long, start: Long,
      durations: Map[String, Long], inputRows: Long, stateRows: Long,
      stateBytes: Long, sinkRows: Long)
}
