package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The artifact store: every persisted index (text, vector, graph) and
  * mart is laid out, built, published and read through this module —
  * the warehouse side of the reference's build-once, serve-many split.
  *
  * Layout: `target/graft-index/<sf-leaf>-<source fingerprint>/<kind>`.
  * The fingerprint covers the SOURCE table (absolute path + each part
  * file's name/size/mtime, see [[sourceFingerprint]]), so regenerated
  * data lands in a fresh directory instead of serving a stale index;
  * every build parameter is part of `kind`. An artifact over a slice of
  * the corpus on its ingest key carries the slice in `kind` too
  * (`<kind>_lt<b>` / `<kind>_ge<b>`, see [[Slice]]).
  *
  * Publish ([[ensure]]): built lazily on first use into
  * `<path>.tmp.<pid>`, stamped with the `_GRAFT_INDEX_OK` sentinel after
  * the write completes, then renamed onto `<path>` atomically. A directory at
  * `<path>` without the sentinel is a crashed writer's leftovers and is
  * deleted and rebuilt; one holding only Spark's `_SUCCESS` predates the
  * sentinel and is adopted as is. The object lock serializes builds in
  * this JVM; across JVMs whoever renames first wins, and the loser keeps
  * the winner's files and deletes its own build. A published directory
  * is never rewritten, so concurrent readers never see it change. Each
  * build actually run (never a cache hit) is recorded in [[BuildLedger]]
  * under the artifact directory name.
  *
  * Read ([[read]]): every parquet read of an artifact or a source table
  * takes its schema from [[SchemaCache]] under the path's current
  * [[sourceFingerprint]], so a path rewritten in place is read with its
  * new schema.
  */
object Artifacts {

  /** The rows of the corpus an artifact covers: all of them, or one
    * side of a batch boundary on the ingest key. A per-row artifact of
    * the corpus is the union of its `below` and `from` slices, which is
    * what lets an ingest build only the batch's delta and never rewrite
    * the base.
    */
  final case class Slice(suffix: String, keep: DataFrame => DataFrame)

  val Whole: Slice = Slice("", identity)

  /** Rows with `key < boundary`: the artifact as it stood before the batch. */
  def below(key: String, boundary: Long): Slice =
    Slice(s"_lt$boundary", _.filter(col(key) < boundary))

  /** Rows with `key >= boundary`: the batch's delta. */
  def from(key: String, boundary: Long): Slice =
    Slice(s"_ge$boundary", _.filter(col(key) >= boundary))

  /** Every part file's (name, size, mtime), not the directory entry's
    * own length/mtime: a directory's length is not content-derived and
    * its mtime tick is coarse. Spark writes part files under fresh UUID
    * names, so any rewrite changes the name list even within one mtime
    * tick. A single-file source is fingerprinted by the file itself.
    */
  private[sources] def sourceFingerprint(src: java.io.File): String = {
    val parts =
      if (src.isDirectory)
        src.listFiles().sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
          .mkString(",")
      else s"${src.length}:${src.lastModified}"
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      s"${src.getAbsolutePath}|$parts"))
  }

  /** `kind` of an artifact that also derives from a second source
    * table: that table's fingerprint joins the kind under `tag`, so
    * regenerating either table moves the artifact directory.
    */
  def alsoOver(kind: String, tag: String, src: java.io.File): String =
    s"${kind}_$tag${sourceFingerprint(src)}"

  private def indexPathFor(src: java.io.File, d: String, kind: String): Path =
    Paths.get("target", "graft-index",
      s"${Paths.get(d).getFileName}-${sourceFingerprint(src)}", kind)

  /** The store's main entry: the artifact `kind` over source table
    * `src` of data directory `d`, built from `frame` (evaluated only
    * when the artifact is missing) in overwrite mode, published, and
    * read back.
    */
  def persist(s: SparkSession, src: java.io.File, d: String, kind: String)
             (frame: => DataFrame): DataFrame =
    read(s, ensure(src, d, kind)(frame.write.mode("overwrite").parquet(_)).toString)

  /** [[ensure]] at the artifact path of `kind`, for writers that are
    * not a plain parquet write; returns the published path.
    */
  def ensure(src: java.io.File, d: String, kind: String)
            (build: String => Unit): Path = {
    val path = indexPathFor(src, d, kind)
    ensure(path)(build)
    path
  }

  /** The schema-cached parquet read of `path` — a published artifact
    * or a source table — served from [[SchemaCache]] under the path's
    * current fingerprint.
    */
  def read(s: SparkSession, path: String): DataFrame =
    SchemaCache.parquet(s, path, sourceFingerprint(new java.io.File(path)))

  /** Our own publish marker, written into the build dir AFTER the write
    * completes and BEFORE the rename, so a published dir always carries
    * it whether or not Spark's committer emits `_SUCCESS`
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false` would
    * otherwise make every call classify a healthy artifact as crashed
    * leftovers and delete a directory live readers may still scan).
    */
  private val Sentinel = "_GRAFT_INDEX_OK"

  /** Publishes `path` by the protocol in the object doc, calling
    * `build` with the temp dir to write only when `path` holds no
    * published artifact.
    */
  private[graft] def ensure(path: Path)(build: String => Unit): Unit =
    synchronized {
      if (!Files.exists(path.resolve(Sentinel)) &&
          Files.exists(path.resolve("_SUCCESS")))
        Files.createFile(path.resolve(Sentinel))
      if (!Files.exists(path.resolve(Sentinel))) {
        val tmp = path.resolveSibling(path.getFileName.toString +
          ".tmp." + ProcessHandle.current().pid())
        val t0 = System.nanoTime()
        build(tmp.toString)
        BuildLedger.record(path.getFileName.toString,
          (System.nanoTime() - t0) / 1e9)
        Files.createFile(tmp.resolve(Sentinel))
        try {
          Files.createDirectories(path.getParent)
          if (Files.exists(path) && !Files.exists(path.resolve(Sentinel)))
            deleteTree(path)
          Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.FileSystemException =>
            deleteTree(tmp)
        }
      }
    }

  /** Deletes `p` and everything under it; a path already gone is no
    * error. The one recursive delete in the library: artifact publish,
    * snapshot pruning and delta-ledger folds all go through it.
    */
  private[graft] def deleteTree(p: Path): Unit = {
    Option(p.toFile.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.toPath))
    Files.deleteIfExists(p); ()
  }
}
