package graft

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.streaming.EventStreams

/** Without native Hadoop IO, Hadoop's local filesystem forks a process
  * (`readlink`, `chmod`, `ls -ld`) for metadata operations. Checkpoint
  * I/O and table loads must not: this records every process start
  * (JFR `jdk.ProcessStart`, with its stack) while a stateful stream on
  * each state-store provider drains and a table loads twice, and fails
  * on any start whose stack passes through Spark's checkpoint managers
  * or `graft.Tables`. Holds with or without native IO.
  */
class ForkGuardSpec extends SparkSpec {

  private def guarded(frameType: String): Boolean =
    frameType.contains(".streaming.checkpointing.") ||
      frameType == "graft.Tables" || frameType.startsWith("graft.Tables$")

  test("no process fork from checkpoint I/O or Tables.load") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // RocksDB state, file sink: offsets, commits, _spark_metadata
      assert(EventStreams.dedupFromFiles(spark, sf).count() > 0)
      // HDFS-backed state, memory sink
      assert(EventStreams.hourlyCountsFromFiles(spark, sf).count() > 0)
      Tables.load(spark, sf, "orders")
      Tables.load(spark, sf, "orders")
    } finally rec.stop()
    val file = TempDirs.create("graft_fork_guard").resolve("forks.jfr")
    rec.dump(file)
    rec.close()
    val forks = RecordingFile.readAllEvents(file).asScala.toSeq
    val offending = forks.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(f => guarded(f.getMethod.getType.getName)))
    }
    assert(offending.isEmpty,
      s"${offending.size} of ${forks.size} process starts came from " +
        "checkpoint I/O or Tables:\n" + offending.take(3).map { e =>
          e.getString("command") + "\n" + e.getStackTrace.getFrames.asScala
            .take(30).map(f => s"  ${f.getMethod.getType.getName}." +
              f.getMethod.getName).mkString("\n")
        }.mkString("\n"))
  }
}
