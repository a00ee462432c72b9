package graft

import java.nio.file.{Files, Path}

/** Per-run temp directories with guaranteed JVM-exit cleanup.
  *
  * The format/streaming helpers materialize through per-run temp dirs
  * (fixed paths would race between concurrent JVMs); the returned
  * DataFrames stay lazy, so the directory must outlive the call and
  * can only be reclaimed at JVM exit. One shutdown hook sweeps every
  * directory registered here — repeated bench/verify runs no longer
  * accumulate unbounded disk under /tmp.
  */
object TempDirs {

  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(deleteRecursively)
    }, "graft-tempdir-cleanup"))

  /** Create a fresh temp directory cleaned up at JVM exit. */
  def create(prefix: String): Path = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p
  }

  /** Delete a directory made by [[create]] now, not at JVM exit — the
    * release of evicted `Artifacts` stores and of a stream's feed and
    * checkpoint dirs, so a long session does not grow its disk.
    */
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    registered.remove(p)
    deleteRecursively(p)
  }

  /** Best-effort: an entry that cannot be deleted (or is already gone)
    * is skipped.
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val children = Files.list(p)
        try children.forEach(deleteRecursively) finally children.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // best-effort
}
