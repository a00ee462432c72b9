package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{EventStreams, GraftCheckpointFileManager}

/** The checkpoint file manager of graft's streams: the temp-then-
  * publish commit rule on `file:` paths, Spark's default manager on
  * any other scheme, and the per-query conf scope that installs it.
  */
class CheckpointFileManagerSpec extends SparkSpec {

  private val key = GraftCheckpointFileManager.ConfKey

  /** The manager Spark's own factory builds while graft's is named. */
  private def manager(dir: JPath): CheckpointFileManager = {
    val conf = new Configuration()
    conf.set(key, classOf[GraftCheckpointFileManager].getName)
    CheckpointFileManager.create(new Path(dir.toString), conf)
  }

  private def write(fm: CheckpointFileManager, f: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(f, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("createAtomic without overwrite onto an existing file throws " +
      "FileAlreadyExistsException and keeps the first writer's bytes") {
    val dir = TempDirs.create("graft_cfm_exists")
    val fm = manager(dir)
    assert(fm.isInstanceOf[GraftCheckpointFileManager])
    val f = new Path(dir.toString, "0")
    write(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, f, "second", overwrite = false)
    }
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "first")
    assert(names(dir) == Set("0"), "the losing writer's temp file stayed")
  }

  test("cancel leaves neither a temp file nor the target") {
    val dir = TempDirs.create("graft_cfm_cancel")
    val out = manager(dir).createAtomic(new Path(dir.toString, "0"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("close publishes, and the listing shows no temp or checksum file") {
    val dir = TempDirs.create("graft_cfm_close")
    val fm = manager(dir)
    val nested = new Path(dir.toString, "offsets")
    fm.mkdirs(nested)
    write(fm, new Path(nested, "0"), "batch 0", overwrite = false)
    write(fm, new Path(nested, "1"), "batch 1", overwrite = false)
    assert(fm.list(nested).map(_.getPath.getName).toSet == Set("0", "1"))
    assert(names(dir.resolve("offsets")) == Set("0", "1"))
    assert(fm.exists(new Path(nested, "1")))
    val in = fm.open(new Path(nested, "1"))
    try assert(new String(in.readAllBytes(), UTF_8) == "batch 1")
    finally in.close()
    fm.delete(nested)
    assert(!fm.exists(nested) && names(dir).isEmpty)
  }

  test("overwrite replaces the file and drops a stale Hadoop checksum") {
    val dir = TempDirs.create("graft_cfm_overwrite")
    val fm = manager(dir)
    val f = new Path(dir.toString, "metadata")
    write(fm, f, "v1", overwrite = false)
    Files.write(dir.resolve(".metadata.crc"), Array[Byte](1, 2, 3))
    assert(fm.list(new Path(dir.toString)).map(_.getPath.getName).toSeq ==
      Seq("metadata"), "a checksum sibling is not a checkpoint file")
    write(fm, f, "v2", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("metadata")), UTF_8) == "v2")
    assert(names(dir) == Set("metadata"))
  }

  test("a path with a scheme other than file: gets Spark's default manager") {
    val conf = new Configuration()
    conf.set(key, classOf[GraftCheckpointFileManager].getName)
    val fm = new GraftCheckpointFileManager(
      new Path("hdfs://localhost:8020/graft/ckpt"), conf)
    assert(fm.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!fm.isLocal)
  }

  test("a stream key scopes the checkpoint file manager to its query and " +
      "restores the session value after, also when the stream fails") {
    assert(spark.conf.getOption(key).isEmpty)
    assert(SparkEntry.queries("stream_curate")(spark, sf).count() > 0)
    assert(spark.conf.getOption(key).isEmpty, "an unset conf stayed set")

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val prior = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(key, prior)
    try {
      var during: Option[String] = None
      val e = intercept[IllegalStateException] {
        EventStreams.drainToFiles(spark, input.toDF(), "graft_cfm_fail") { q =>
          q.processAllAvailable()
          during = spark.conf.getOption(key)
          throw new IllegalStateException("drive failed")
        }
      }
      assert(e.getMessage == "drive failed")
      assert(during.contains(classOf[GraftCheckpointFileManager].getName))
      assert(spark.conf.getOption(key).contains(prior))
    } finally spark.conf.unset(key)
  }
}
