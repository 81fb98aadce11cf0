package graft.sinks

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe way to replace a directory: write the new contents
  * to `staging`, rename the live `target` to `backup`, rename `staging` to
  * `target`, then delete `backup`. The old contents are never deleted
  * before the new ones are in place, so a crash at any rename boundary
  * leaves the data at `target` or at `backup`, and [[recover]] puts it
  * back. Every directory swap in the program (live-store delete-back,
  * upsert-sink merge, compaction, watermark store) goes through here; each
  * caller picks its own `staging`/`backup` names, so directories a crash
  * left behind under those names stay recoverable.
  *
  * Works through the Hadoop FS API, so any URI the sinks accept (file://,
  * hdfs://, s3a://, ...) is fine.
  */
object Commit {

  /** `<target><suffix>`, a sibling of `target`. */
  def sibling(target: Path, suffix: String): Path =
    new Path(target.getParent, target.getName + suffix)

  /** Finish or undo a swap a crash interrupted: a `backup` with no
    * `target` is the only copy and is restored; a `backup` beside a
    * `target` is stale (the swap had completed) and is deleted. */
  def recover(fs: FileSystem, target: Path, backup: Path): Unit =
    if (fs.exists(backup)) {
      if (fs.exists(target)) fs.delete(backup, true)
      else if (!fs.rename(backup, target))
        throw new IOException(s"cannot restore $backup to $target")
    }

  /** Replace `target` (which may not exist yet) with what `write` puts
    * at the staging path it is given; returns what `write` returns. A
    * failed second rename rolls the backup back into place and leaves
    * staging for inspection. */
  def replace[T](fs: FileSystem, target: Path, staging: Path, backup: Path)(
      write: Path => T): T = {
    recover(fs, target, backup)
    val result = write(staging)
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, backup))
      throw new IOException(s"cannot back up $target to $backup")
    if (!fs.rename(staging, target)) {
      if (hadTarget) fs.rename(backup, target)
      throw new IOException(s"rename $staging -> $target failed")
    }
    fs.delete(backup, true)
    result
  }
}
