package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** THE atomic-publish discipline, shared by every crash-recoverable swap in
  * the engine: the kupo index's manifest commit ([[GraftIndex.Manifest.write]]
  * and the vacuum-pending bookkeeping), the ANN index's offline compaction
  * (`Similarity.compactIndex`), and the curation sinks' tiered folds
  * (`CurationStream`). One implementation means the ordering rules — stage
  * first, one rename as the commit point, originals recoverable at every
  * intermediate state — cannot silently fork between subsystems (the
  * reference gets the same property for free from SQLite transactions,
  * /root/reference/src/Kupo/App/Database/SQLite.hs:388-437; on a plain
  * filesystem it has to be a discipline).
  *
  * All IO goes through the Hadoop FileSystem resolved by the caller, so the
  * swaps work on any scheme Spark reads (file://, hdfs://, s3a:// — noting
  * object stores implement rename as copy; deployments there front these
  * with a manifest pointer, which is exactly what GraftIndex does). */
object AtomicSwap {

  /** Stage-and-rename a metadata FILE: bytes land whole in `tmp`, then ONE
    * overwrite-rename publishes at `dst`. The rename is the commit point —
    * a reader never observes a torn file, and a crash before the rename
    * leaves only an ignorable tmp.
    *
    * On a checksummed filesystem (the local `file://` one) the file goes
    * through the raw filesystem underneath ([[GraftIndex.metaFs]]), and
    * readers read it the same way: the checksummed overwrite-rename deletes
    * `dst`, renames the file, then renames its `.crc` — a racing reader
    * could find no file, or new bytes under the old checksum ("Checksum
    * error"). The raw rename is one atomic replace. A `.crc` left beside
    * `dst` by an earlier checksummed publish is deleted first, so no
    * checksummed reader can pair it with the new bytes. */
  def publishFile(conf: Configuration, fs: FileSystem, tmp: Path, dst: Path,
                  bytes: Array[Byte]): Unit = {
    GraftIndex.writeBytes(fs, tmp, bytes)
    fs match {
      case cfs: ChecksumFileSystem =>
        val raw = cfs.getRawFileSystem
        raw.delete(cfs.getChecksumFile(dst), false)
        if (!raw.rename(tmp, dst))
          throw new java.io.IOException(s"publish $tmp -> $dst failed")
      case _ => GraftIndex.renameOverwrite(conf, fs, tmp, dst)
    }
  }

  /** Work/trash DIRECTORY publish: every `source` renames aside into
    * `trash` (each remains restorable by name), ONE rename publishes the
    * fully-written `work` dir at `target`, then trash deletes. A crash at
    * ANY point leaves the data recoverable, and [[heal]] finishes or
    * unwinds the attempt: before the publish the originals restore from
    * trash; after it, only the trash cleanup remains. */
  def publishDir(fs: FileSystem, work: Path, target: Path, trash: Path,
                 sources: Seq[Path], label: String): Unit = {
    fs.mkdirs(trash)
    sources.foreach { p =>
      if (!fs.rename(p, new Path(trash, p.getName)))
        throw new java.io.IOException(s"$label: rename $p aside failed")
    }
    if (!fs.rename(work, target))
      throw new java.io.IOException(
        s"$label: publish $work -> $target failed (originals preserved in $trash)")
    fs.delete(trash, true)
  }

  /** Heal one crashed [[publishDir]] attempt. A surviving WORK dir means
    * the publish never happened — the trash contents are authoritative and
    * restore into `restoreTo` (their original parent); trash WITHOUT a work
    * dir means the publish DID happen and only the cleanup was interrupted,
    * so the trash just deletes. No-op when neither exists. */
  def heal(fs: FileSystem, work: Path, trash: Path, restoreTo: Path,
           label: String): Unit = {
    if (fs.exists(work)) {
      if (fs.exists(trash))
        fs.listStatus(trash).foreach { st =>
          // a failed restore rename must ABORT, never fall through to the
          // trash delete below — Hadoop rename returns false instead of
          // throwing (e.g. destination recreated externally), and deleting
          // the trash then would destroy the only copy of those rows
          if (!fs.rename(st.getPath, new Path(restoreTo, st.getPath.getName)))
            throw new java.io.IOException(
              s"$label: healing restore ${st.getPath} -> $restoreTo failed; " +
                "trash preserved for manual recovery")
        }
      fs.delete(trash, true)
      fs.delete(work, true)
    } else if (fs.exists(trash)) {
      fs.delete(trash, true) // publish happened; finish the cleanup
    }
  }
}
