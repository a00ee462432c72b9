package graft

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

import graft.streaming.EventStreams

/** Without native Hadoop IO, Hadoop's local filesystem forks a process
  * (`readlink`, `chmod`, `ls -ld`) for metadata operations. Checkpoint
  * I/O, table loads and the on-heap state store must not: these record
  * every process start (JFR `jdk.ProcessStart`, with its stack) while
  * streams drain or a table loads, and fail on any start whose stack
  * passes through a guarded frame. Holds with or without native IO.
  */
class ForkGuardSpec extends SparkSpec {

  /** Every process start while `body` runs. */
  private def forksDuring(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = TempDirs.create("graft_fork_guard").resolve("forks.jfr")
    rec.dump(file)
    rec.close()
    RecordingFile.readAllEvents(file).asScala.toSeq
  }

  private def assertNoneThrough(forks: Seq[RecordedEvent], what: String)
      (guarded: String => Boolean): Unit = {
    val offending = forks.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(f => guarded(f.getMethod.getType.getName)))
    }
    assert(offending.isEmpty,
      s"${offending.size} of ${forks.size} process starts came from " +
        s"$what:\n" + offending.take(3).map { e =>
          e.getString("command") + "\n" + e.getStackTrace.getFrames.asScala
            .take(30).map(f => s"  ${f.getMethod.getType.getName}." +
              f.getMethod.getName).mkString("\n")
        }.mkString("\n"))
  }

  test("no process fork from checkpoint I/O or Tables.load") {
    val budget = "graft.stream.bytesPerStatePartition"
    val forks = forksDuring {
      // RocksDB state (a budget below the feed), file sink: offsets,
      // commits, _spark_metadata
      spark.conf.set(budget, "1024")
      try assert(EventStreams.dedupFromFiles(spark, sf).count() > 0)
      finally spark.conf.unset(budget)
      // HDFS-backed state, memory sink
      assert(EventStreams.hourlyCountsFromFiles(spark, sf).count() > 0)
      Tables.load(spark, sf, "orders")
      Tables.load(spark, sf, "orders")
    }
    assertNoneThrough(forks, "checkpoint I/O or Tables") { t =>
      t.contains(".streaming.checkpointing.") ||
        t == "graft.Tables" || t.startsWith("graft.Tables$")
    }
  }

  test("a small-feed stream_dedup starts no process through the state " +
      "store") {
    val forks = forksDuring {
      assert(EventStreams.dedupFromFiles(spark, sf).count() > 0)
    }
    assertNoneThrough(forks, "the state store")(
      _.startsWith("org.apache.spark.sql.execution.streaming.state."))
  }
}
