package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe directory replacement: backup-swap, never delete-then-rename.
  *
  * Protocol: the previous content renames ASIDE to `<dir>.__bak` before
  * the staged content renames in, so a crash at any step leaves either the
  * old or the new state on disk. `recover` is idempotent and cheap (one exists() probe when clean);
  * call it before reading or mutating a swapped directory:
  *  - backup present, main missing  -> the swap died mid-flight: restore
  *    the backup (the writer re-runs; all writers using this are
  *    idempotent upserts/recomputes);
  *  - backup present, main present  -> the swap committed but cleanup
  *    died: drop the backup;
  *  - stray staging                 -> a writer died before the swap
  *    started: drop it.
  */
object SafeSwap {
  def bakPath(dir: String): String = s"$dir.__bak"
  def stagingPath(dir: String): String = s"$dir.__staging"

  /** @return true when anything was restored or cleaned — a caller holding
    *   a cached view of `dir` must drop it then (the on-disk state moved
    *   underneath the cache).
    */
  def recover(fs: FileSystem, dir: String): Boolean = {
    val main = new Path(dir)
    val bak = new Path(bakPath(dir))
    var acted = false
    if (fs.exists(bak)) {
      acted = true
      if (!fs.exists(main)) {
        if (!fs.rename(bak, main))
          throw new java.io.IOException(s"recover: rename $bak -> $main failed")
      } else fs.delete(bak, true)
      ()
    }
    val staging = new Path(stagingPath(dir))
    if (fs.exists(staging)) { acted = true; fs.delete(staging, true); () }
    acted
  }

  /** Swap fully-written `staging` in for `dir`. Caller must have called
    * `recover` before writing staging (so no stale backup exists).
    */
  def commit(fs: FileSystem, dir: String): Unit = {
    val main = new Path(dir)
    val bak = new Path(bakPath(dir))
    val staging = new Path(stagingPath(dir))
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(main) && !fs.rename(main, bak))
      throw new java.io.IOException(s"swap: rename $main -> $bak failed")
    if (!fs.rename(staging, main))
      throw new java.io.IOException(s"swap: rename $staging -> $main failed")
    fs.delete(bak, true)
    ()
  }
}
