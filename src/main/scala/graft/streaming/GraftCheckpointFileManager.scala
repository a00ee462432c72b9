package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption,
  Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{
  CancellableFSDataOutputStream, RenameBasedFSDataOutputStream}

/** The checkpoint file manager of every graft streaming query (offset
  * and commit logs, file-sink `_spark_metadata`, source logs, and the
  * RocksDB and HDFS-backed state stores all get their manager from
  * `CheckpointFileManager.create`, which instantiates this class while
  * [[GraftCheckpointFileManager.ConfKey]] names it).
  *
  * `file:` paths go through java.nio. Without native Hadoop IO, Hadoop's
  * local filesystem shells out for each metadata operation: `readlink`
  * four times per `FileContext` rename, `chmod` per create and mkdir —
  * one process fork each, most of a trigger's protocol cost. Here a write
  * lands in a hidden temp file and is published on close, with the same
  * commit rule as Spark's default manager: without overwrite the publish
  * is an atomic create-if-absent (`createLink` of the final name, the
  * `GraftSink` manifest idiom), so a second writer of a batch file fails
  * with `FileAlreadyExistsException` and the first writer's bytes stay;
  * with overwrite it is an atomic rename over the target.
  *
  * Any other scheme gets Spark's default manager, unchanged.
  */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import GraftCheckpointFileManager._

  private[graft] val delegate: CheckpointFileManager =
    if (isFileScheme(path, hadoopConf)) new NioCheckpointFileManager
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()

  /** `file:` checkpoint I/O on java.nio. It extends Spark's FileSystem
    * manager only for its (sealed) rename-helper contract, which
    * Spark's temp-then-publish output stream takes; every method is
    * replaced here.
    */
  private class NioCheckpointFileManager
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    // qualification, path→file mapping and reads only: none of them
    // forks (the raw local status loads permissions lazily, never here)
    private val raw: RawLocalFileSystem = FileSystem.getLocal(hadoopConf)
      .getRaw.asInstanceOf[RawLocalFileSystem]

    private def local(p: Path): JPath = raw.pathToFile(p).toPath

    override def createAtomic(p: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
      new RenameBasedFSDataOutputStream(this, p, overwriteIfPossible)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = local(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(f)), null)
    }

    override def renameTempFile(src: Path, dst: Path,
        overwriteIfPossible: Boolean): Unit = {
      val (s, d) = (local(src), local(dst))
      if (overwriteIfPossible)
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      else
        try Files.createLink(d, s)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists")
        } finally Files.deleteIfExists(s)
      // a checksum left by a Hadoop writer no longer matches the bytes
      Files.deleteIfExists(crcOf(d))
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = raw.makeQualified(p)
      val s = try Files.list(local(p))
        catch { case e: NoSuchFileException =>
          throw new FileNotFoundException(s"$p does not exist: ${e.getMessage}")
        }
      // an entry deleted since the listing is skipped, as Hadoop does
      try s.iterator().asScala.filterNot(c => isCrc(c.getFileName.toString))
        .flatMap { c =>
          val q = new Path(dir, c.getFileName.toString)
          try {
            val a = Files.readAttributes(c, classOf[BasicFileAttributes])
            Some(new FileStatus(a.size, a.isDirectory, 1,
              raw.getDefaultBlockSize(q), a.lastModifiedTime.toMillis, q))
          } catch { case _: NoSuchFileException => None }
        }
        .filter(st => filter.accept(st.getPath)).toArray
      finally s.close()
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    /** Recursive and best-effort, as the temp-file cleanup of Spark's
      * own cancel is; a missing path is not an error.
      */
    override def delete(p: Path): Unit = {
      val f = local(p)
      graft.TempDirs.deleteRecursively(f)
      Files.deleteIfExists(crcOf(f))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      Files.createDirectories(local(path))
      raw.makeQualified(path)
    }
  }
}

object GraftCheckpointFileManager {
  /** Spark's internal `spark.sql.streaming.checkpointFileManagerClass`. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Hadoop's checksum sibling of a local file: `.<name>.crc`. */
  private def isCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")
}
