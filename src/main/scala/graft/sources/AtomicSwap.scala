package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe partition publish by aside-swap, shared by the streaming
  * upsert sink ([[graft.streaming.LiveFeed]]) and [[Compact]] — the
  * filesystem-rename analogue of the reference's tmp + `os.replace`
  * (`update_live_price.py:289-292`) at partition granularity.
  *
  * Publish order for one partition:
  *   1. delete any stale aside copy `.<name>.old`
  *   2. move the live dir ASIDE (rename live → `.<name>.old`)
  *   3. promote the staged dir (rename staged → live)
  *   4. drop the aside copy
  *
  * The aside name is dot-prefixed so partition discovery never surfaces a
  * half-swapped directory as a bogus partition. Every crash window leaves
  * the partition recoverable:
  *
  *   - crash before 2: live untouched, staged dir orphaned (harmless)
  *   - crash between 2 and 3: live MISSING, old data in `.<name>.old`,
  *     new data still staged → [[recover]] restores the aside copy
  *   - crash between 3 and 4: live is the new data, `.<name>.old` is a
  *     stale shadow → [[recover]] deletes it
  *
  * [[recover]] is idempotent and safe to run unconditionally at startup
  * (the reference restarts its loop blindly; a 1000-executor job must
  * instead prove the store is whole before serving from it).
  */
object AtomicSwap {

  /** Swap `staged` into place as `live` (same parent dir conventions as
    * Hive partitions: `live.getName` is the partition dir name).
    *
    * Hadoop's `FileSystem.rename` reports many failures by returning
    * FALSE rather than throwing (missing source, missing destination
    * parent, cross-FS move) — ignoring it would let a failed promote fall
    * through to deleting the aside copy, destroying the only copy of the
    * partition. Every rename is checked; a failed promote restores the
    * live dir from the aside before raising.
    */
  def publish(fs: FileSystem, staged: Path, live: Path): Unit = {
    val aside = asideFor(live)
    fs.delete(aside, true)
    if (fs.exists(live) && !fs.rename(live, aside))
      throw new java.io.IOException(s"AtomicSwap: failed to move $live aside")
    if (!fs.rename(staged, live)) {
      if (fs.exists(aside)) fs.rename(aside, live) // undo: restore old data
      throw new java.io.IOException(
        s"AtomicSwap: failed to promote $staged to $live (old data restored)")
    }
    fs.delete(aside, true)
  }

  private def asideFor(live: Path): Path =
    new Path(live.getParent, "." + live.getName + ".old")

  /** Heal every partition of `storeDir` after a possible mid-swap crash:
    * an aside copy whose live partition is missing is restored; one whose
    * live partition exists is a committed swap's leftover and is dropped.
    * A restore whose rename fails raises and leaves the aside copy in
    * place: serving a store with that partition missing would be wrong,
    * and the next [[publish]] to it would delete the only copy.
    *
    * @return the partition names that were restored from their aside copy
    */
  def recover(fs: FileSystem, storeDir: Path): Seq[String] = {
    if (!fs.exists(storeDir)) return Seq.empty
    fs.listStatus(storeDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".") &&
        s.getPath.getName.endsWith(".old"))
      .flatMap { aside =>
        val name = aside.getPath.getName.stripPrefix(".").stripSuffix(".old")
        val live = new Path(storeDir, name)
        if (fs.exists(live)) {
          fs.delete(aside.getPath, true) // committed swap's leftover shadow
          None
        } else if (fs.rename(aside.getPath, live)) {
          Some(name) // interrupted swap: old data restored
        } else {
          throw new java.io.IOException(
            s"AtomicSwap: failed to restore partition $name from ${aside.getPath}")
        }
      }
      .toSeq
  }
}
