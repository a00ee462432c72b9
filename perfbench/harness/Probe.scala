package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What the session still holds after the last pass, read through
  * Spark's public status APIs plus the bytes under `java.io.tmpdir`:
  * the engine's per-run temp dirs (stream feeds, checkpoints, table
  * stores, artifact stores) and the ~0.4 MB of native codec libraries
  * the JVM extracts there. The run points `java.io.tmpdir` at a
  * directory of its own, so nothing else is counted.
  */
object Probe {
  private val MB = 1024.0 * 1024.0

  def measure(spark: SparkSession, tmpDir: Path): Seq[(String, Double)] = {
    // what is unreachable is not held: collect it and give the context
    // cleaner (it polls every 100 ms) time to drop its blocks
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    val sc = spark.sparkContext
    val rdds = sc.getRDDStorageInfo
    val cachedMem = rdds.map(_.memSize).sum.toDouble
    val cachedDisk = rdds.map(_.diskSize).sum.toDouble
    // every block in the memory store: cached frames, checkpoints and
    // broadcasts
    val blockMem = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum.toDouble
    val tmp = bytesUnder(tmpDir).toDouble
    Seq(
      "retained_mb" -> (blockMem + cachedDisk + tmp) / MB,
      "storage.cached_mb" -> (cachedMem + cachedDisk) / MB,
      "tmpdir.mb" -> tmp / MB)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .mapToLong(f => try Files.size(f) catch { case _: java.io.IOException => 0L })
        .sum()
      finally s.close()
    }
}
