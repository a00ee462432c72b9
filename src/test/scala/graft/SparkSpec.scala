package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh corpus dir of symlinks to the sf tables: the same data
    * under a path no artifact is keyed by yet.
    */
  def linkedSf(): String = {
    val d = TempDirs.create("graft_artifacts_link")
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(sf))
    try s.iterator().asScala.foreach(f =>
      java.nio.file.Files.createSymbolicLink(d.resolve(f.getFileName), f))
    finally s.close()
    d.toString
  }

  /** A fresh corpus dir of the sf tables in which each of `emptied`
    * (file names, e.g. "documents.parquet") keeps its footer schema,
    * nanos timestamps included, and holds no row group; the other
    * tables are symlinks.
    */
  def emptiedSf(emptied: String*): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = TempDirs.create("graft_emptied_corpus")
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(sf))
    try files.iterator().asScala.foreach { p =>
      val to = dir.resolve(p.getFileName)
      if (emptied.contains(p.getFileName.toString)) {
        val in = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(p.toString), conf))
        val schema = try in.getFooter.getFileMetaData.getSchema
          finally in.close()
        val w = new ParquetFileWriter(
          HadoopOutputFile.fromPath(new Path(to.toString), conf), schema,
          ParquetFileWriter.Mode.CREATE, 0L, 0)
        w.start()
        w.end(java.util.Collections.emptyMap[String, String]())
      } else java.nio.file.Files.createSymbolicLink(to, p)
    } finally files.close()
    dir.toString
  }

  /** Spark jobs `body` starts on this thread, counted by a listener
    * under a private job group. A trailing marker job in its own
    * group proves the listener bus delivered every earlier job start
    * before the count is read.
    */
  def jobsOf(body: => Any): Int = {
    val group = s"spec-jobs-${java.util.UUID.randomUUID}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group)).foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!groups.contains(s"$group-marker")
          && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-marker"), "marker job never reported")
      groups.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  // local[4, 2]: 4 threads, up to 2 attempts per task — lets the
  // fault-tolerance spec exercise Spark's task re-issue (the
  // reference's Part IV behavior) instead of failing the job on the
  // first injected error.
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // driver-generated parquet carries NAIVE (no-tz) µs timestamps;
    // read them as TIMESTAMP (LTZ, session=UTC) like Spark <3.4 did
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
