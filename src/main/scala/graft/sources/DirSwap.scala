package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe directory swap behind every in-place rewrite
  * (`VectorCollection.compact`, `BucketedCollection.upsert`'s bucket
  * swap, `LshIndex.compact`): the rewrite lands in a fresh directory,
  * then [[replace]] moves the live directory to a `._old` backup and the
  * fresh one into its place.
  *
  * A crash between the two renames leaves the live path absent while its
  * data sits intact in the backup. [[heal]], called before every read or
  * write of the live directory, rolls such a backup forward; a backup
  * NEXT TO a live directory (crash after the second rename) is stale and
  * is dropped. So the data is never absent AND unrecoverable, and no
  * manual recovery step exists.
  *
  * Single-writer assumption (standard for bare parquet directories —
  * cross-process atomicity needs a table format's manifest): no reader
  * heals while a rewrite is mid-swap in another process. Concurrent
  * healers are tolerated. */
object DirSwap {

  private def backup(live: Path): Path = live.suffix("._old")

  private def renameOrThrow(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"directory swap: rename $from -> $to failed")

  /** Swap `fresh` in as `live`, keeping the old contents in the backup
    * until the new directory is in place. */
  def replace(fs: FileSystem, live: Path, fresh: Path): Unit = {
    val bak = backup(live)
    fs.delete(bak, true)
    if (fs.exists(live)) renameOrThrow(fs, live, bak)
    renameOrThrow(fs, fresh, live)
    fs.delete(bak, true)
  }

  /** Finish or clean up an interrupted [[replace]] of `live`. A failed
    * roll-forward is an error only while `live` is still missing: if it
    * exists now, a concurrent healer won the rename race. */
  def heal(fs: FileSystem, live: Path): Unit = {
    val bak = backup(live)
    if (fs.exists(bak)) {
      if (!fs.exists(live)) {
        if (!fs.rename(bak, live) && !fs.exists(live))
          throw new java.io.IOException(
            s"failed to heal interrupted swap: rename $bak -> $live")
      } else fs.delete(bak, true)
    }
  }
}
