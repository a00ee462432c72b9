package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.{Tables, TempDirs}

/** The one registry of train-once session artifacts: the near-dup
  * pair list, the HITS trajectory, the BPE encoding, the ANN index
  * stores, the LM count tables, the layout copies of `Formats`. One
  * session builds each once and every later key serves from it.
  *
  * An entry's key is (session, corpus dir, corpus fingerprint, kind,
  * params). The fingerprint is [[Tables.fingerprint]], the recursive
  * (name, length, mtime) listing `Tables.parquet` already takes per
  * load: a corpus rewritten at the same path misses and rebuilds,
  * and that first miss releases the old fingerprint's entries.
  *
  * The registry, not the call site, decides how a value is
  * materialized and how it is released:
  *   - [[frame]]: the build's plan is `localCheckpoint`ed (so a
  *     `clearCache` between bench runs cannot wipe it); release
  *     frees the checkpoint blocks ([[MemoCache.freeLocalCheckpoint]]);
  *   - [[dir]]: the registry creates a [[TempDirs]] store the build
  *     writes into; release deletes it;
  *   - [[value]]: a driver value (fold betas, a vocabulary) or a value
  *     that owns its storage; release is `close()` for an
  *     `AutoCloseable`, nothing otherwise.
  *
  * One [[MemoCache]] bounds them all: compute outside the lock, a
  * race loser's value released, a stopped session's entries dropped
  * on access. A value never reads another entry's storage through a
  * field: a build may read another entry, but what it keeps is its
  * own checkpoint, store or driver value.
  */
object Artifacts {

  /** Registry-wide entry bound. One corpus's full `graft.Verify` run
    * creates 25 distinct (kind, params) entries; 64 holds that twice
    * over, so no call can evict an artifact its own returned plan
    * reads.
    */
  private[graft] val Capacity = 64

  private final case class Key(spark: SparkSession, sfDir: String,
      files: Seq[(String, Long, Long)], kind: String, params: Seq[Any])

  /** A registry-owned [[TempDirs]] store. */
  private final case class Store(path: String)

  private val entries = new MemoCache[Key, AnyRef](Capacity, _.spark)({
    case df: Dataset[_] => MemoCache.freeLocalCheckpoint(df)
    case Store(path) => TempDirs.delete(path)
    case c: AutoCloseable => c.close()
    case _ => ()
  })

  private def lookup(spark: SparkSession, sfDir: String, kind: String,
      params: Seq[Any])(build: => AnyRef): AnyRef = {
    val files = Tables.fingerprint(spark, sfDir)
    entries.getOrCompute(Key(spark, sfDir, files, kind, params)) {
      releaseRewritten(spark, sfDir, files)
      build
    }
  }

  /** On the first miss after the corpus at `sfDir` was rewritten:
    * release the session's entries of the old fingerprint, and
    * re-read Spark's cached plans over the path. The shingle and
    * vector projections (`Dedup.shinglesOf`, `Similarity.vecs`) are
    * cache-manager entries matched by plan, and a plan names the path,
    * not its files, so without the refresh a rebuild would read the
    * old corpus through them.
    */
  private def releaseRewritten(spark: SparkSession, sfDir: String,
      files: Seq[(String, Long, Long)]): Unit = {
    def stale(k: Key) = k.spark == spark && k.sfDir == sfDir && k.files != files
    if (entries.keys.exists(stale)) {
      entries.removeWhere(stale)
      spark.catalog.refreshByPath(sfDir)
    }
  }

  /** The `kind` artifact of the corpus at `sfDir`: `build`'s plan,
    * checkpointed once per key.
    */
  def frame(spark: SparkSession, sfDir: String, kind: String,
      params: Any*)(build: => DataFrame): DataFrame =
    lookup(spark, sfDir, kind, params)(build.localCheckpoint())
      .asInstanceOf[DataFrame]

  /** The `kind` store of the corpus at `sfDir`: a fresh TempDir that
    * `build` writes once per key. A failed build deletes it.
    */
  def dir(spark: SparkSession, sfDir: String, kind: String,
      params: Any*)(build: String => Unit): String =
    lookup(spark, sfDir, kind, params) {
      val d = TempDirs.create(s"graft_$kind").toString
      try build(d)
      catch { case t: Throwable => TempDirs.delete(d); throw t }
      Store(d)
    }.asInstanceOf[Store].path

  /** The `kind` value of the corpus at `sfDir`, built once per key;
    * released by `close()` when it is `AutoCloseable`.
    */
  def value[V <: AnyRef](spark: SparkSession, sfDir: String, kind: String,
      params: Any*)(build: => V): V =
    lookup(spark, sfDir, kind, params)(build).asInstanceOf[V]

  /** Test hook: live entries of `kind`, over every session and corpus. */
  private[graft] def count(kind: String): Int =
    entries.keys.count(_.kind == kind)
}
