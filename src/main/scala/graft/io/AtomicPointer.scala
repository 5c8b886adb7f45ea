package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** A tiny pointer file published by atomic (or atomically-recoverable)
  * rename — the commit primitive behind zero-blip generational layouts
  * (the IVF index's `CURRENT`, the dedup ingest index's `FOLDED`). The
  * pointer names which generation of a dataset is live; flipping it IS
  * the commit, so writers prepare whole generations off to the side and
  * readers never observe a torn state.
  *
  * Write path ([[flip]]): content lands in a tmp file, then ONE
  * overwrite-rename publishes it — rename(2) on the raw local FS (atomic
  * replace on POSIX), the FileContext rename2 RPC on HDFS. Filesystems
  * with neither (no atomic replace, no AbstractFileSystem binding for
  * the scheme — many object-store connectors ship only a FileSystem
  * impl) degrade to a RECOVERABLE three-rename sequence: the live
  * pointer is renamed ASIDE (`.<name>.old`, never deleted) before the
  * new one moves in, and [[read]] falls back to the aside copy — a crash
  * at any point leaves one of the two generations readable, never
  * neither.
  *
  * Read path ([[read]]): primary, then aside, then primary again, with a
  * bounded retry absorbing the exists/open race against a non-atomic
  * flip.
  *
  * Checksum sidecars: on a ChecksumFileSystem (the local FS) the data
  * file and its `.crc` are replaced by SEPARATE renames, so a reader
  * between them cross-checks new content against the old checksum and
  * dies with a ChecksumException (caught live by a hammer-reader spec).
  * All pointer IO therefore goes through the raw FS, sidecar-free — the
  * pointer is a single-digit-byte file validated by the caller's own
  * format check. */
object AtomicPointer {

  /** The filesystem for pointer IO: raw (sidecar-free) on checksummed
    * filesystems, the FS itself elsewhere. */
  def pointerIoFs(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The aside copy's file name, and the prefix of every flip tmp. */
  private[io] def asideName(name: String): String = s".$name.old"
  private[io] def tmpPrefix(name: String): String = s".$name.tmp"

  private def asidePath(dir: String, name: String) =
    new Path(s"$dir/${asideName(name)}")

  /** Read the pointer content (trimmed): primary first, then the aside
    * copy a crashed fallback flip may have left, then the primary again,
    * retrying through the exists/open race of a concurrent non-atomic
    * flip. None only when no probe finds a pointer (callers treat that as
    * "nothing committed here yet"). */
  def read(fs: FileSystem, dir: String, name: String): Option[String] = {
    val pfs = pointerIoFs(fs)
    val primary = new Path(s"$dir/$name")
    val aside = asidePath(dir, name)
    var attempt = 0
    while (attempt < 20) {
      try {
        if (pfs.exists(primary)) return Some(readSmall(pfs, primary))
        else if (pfs.exists(aside)) return Some(readSmall(pfs, aside))
        // a fallback flip that ran to completion between the two probes
        // (primary moved aside, new primary in, aside deleted) leaves
        // both probes missing although a pointer existed throughout —
        // the new primary is there now
        else if (pfs.exists(primary)) return Some(readSmall(pfs, primary))
        else return None
      } catch {
        // lost the exists/open race with a non-atomic flip — retry
        case _: java.io.FileNotFoundException => ()
      }
      attempt += 1
      if (attempt < 20) Thread.sleep(5)
    }
    None
  }

  /** Atomically repoint `dir/name` to `content` (see the object doc for
    * the atomicity ladder). Single-writer per pointer: concurrent flips
    * of the same pointer are the caller's race to rule out. */
  def flip(fs: FileSystem, conf: Configuration, dir: String, name: String,
           content: String): Unit = {
    val pfs = pointerIoFs(fs)
    // tmp is UNIQUE per flip: with a shared `.name.tmp`, a concurrent
    // flip's create(overwrite) TRUNCATES the file this flip is about to
    // rename, and the pointer itself lands empty/torn — readers then see
    // garbage, not just a superseded generation (caught by Round12Spec's
    // flip hammer: final pointer read back as ""). With unique tmps a
    // breach degrades to clean last-writer-wins + the fence telling the
    // losers; the pointer content is always some writer's whole value.
    val tmp =
      new Path(s"$dir/${tmpPrefix(name)}.${java.util.UUID.randomUUID()}")
    val primary = new Path(s"$dir/$name")
    writeSmall(pfs, tmp, content)
    try flipFrom(fs, pfs, conf, dir, name, tmp, primary)
    finally {
      // consumed by the rename on success; a failure path (or a beaten
      // racer) must not strand it — crash-orphaned tmps are swept by the
      // maintenance cleanups
      try { if (pfs.exists(tmp)) { pfs.delete(tmp, false); () } }
      catch { case _: java.io.IOException => () }
    }
  }

  private def flipFrom(fs: FileSystem, pfs: FileSystem, conf: Configuration,
                       dir: String, name: String, tmp: Path,
                       primary: Path): Unit = {
    def atomicReplace(): Boolean =
      if (pfs ne fs) pfs.rename(tmp, primary) // rename(2): atomic on POSIX
      else try {
        org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
          .rename(fs.makeQualified(tmp), fs.makeQualified(primary),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        // no AbstractFileSystem binding for this scheme (FileContext is a
        // separate registry from FileSystem; many object-store connectors
        // ship only the latter) — use the recoverable fallback below
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
      }
    if (!atomicReplace()) {
      // recoverable non-atomic path: aside-rename, never delete — a crash
      // between the renames leaves the aside copy, which read() falls
      // back to (the superseded generation must still be on disk: run
      // generation cleanup only after flip returns)
      val aside = asidePath(dir, name)
      if (pfs.exists(primary)) {
        // a stale aside is only deletable here, where the primary->aside
        // rename immediately recreates it: in the crash-RECOVERY state
        // (primary missing, aside the sole pointer) deleting it first
        // would re-open the exact zero-pointer window this path closes —
        // there the aside stays untouched until the new primary lands
        if (pfs.exists(aside)) pfs.delete(aside, false)
        require(pfs.rename(primary, aside),
          s"AtomicPointer.flip: rename $primary aside failed; live " +
            "pointer untouched — rerun the maintenance op")
      }
      require(pfs.rename(tmp, primary),
        s"AtomicPointer.flip: rename $tmp -> $primary failed; readers " +
          s"fall back to $aside (previous generation) until the " +
          "maintenance op is rerun")
      pfs.delete(aside, false)
    }
  }

  /** [[flip]] plus a read-back FENCE — detection, not locking (r11
    * verdict 3). The single-writer contract says concurrent flips of one
    * pointer never happen; this is the cheap check that CATCHES a breach
    * instead of trusting it. After the flip, the pointer is re-read: a
    * foreign value means another maintainer's flip interleaved with ours
    * (possible on the non-atomic fallback path, or via a rogue cron job
    * running a second maintenance loop) and OUR generation is not the one
    * installed — its data would otherwise be silently last-writer-lost,
    * with the losing maintainer none the wiser. Pointer contents embed a
    * per-maintainer UUID (the generation/buildId), so a foreign value is
    * unambiguous. The fence is one tiny read; it narrows the undetected
    * window to "the foreign flip lands after our read-back", where the
    * foreign maintainer is simply a LATER commit — and ITS fence would
    * catch us the same way if we were the late ones. */
  def flipFenced(fs: FileSystem, conf: Configuration, dir: String,
                 name: String, content: String): Unit = {
    flip(fs, conf, dir, name, content)
    verifyOwn(fs, dir, name, content)
  }

  /** The read-back half of [[flipFenced]], callable on its own at the end
    * of a multi-step maintenance op (flip, then cleanup, then verify the
    * pointer STILL names our generation). Throws when the pointer reads a
    * foreign value — the caller's generation was superseded or clobbered
    * by a concurrent maintainer and must not be reported as installed.
    *
    * Reads the PRIMARY only, never the aside (r12 ADVICE): on the
    * non-atomic path a foreign flip that has renamed our primary aside
    * but not yet installed its own primary would let this maintainer read
    * its own content back through the aside and falsely pass the fence —
    * both maintainers then believe they are installed, the exact state
    * the fence exists to detect. After our own successful flip the
    * primary must exist, so a missing primary is itself evidence of a
    * concurrent flip mid-sequence and raises the same exception. */
  def verifyOwn(fs: FileSystem, dir: String, name: String,
                content: String): Unit = {
    val pfs = pointerIoFs(fs)
    val primary = new Path(s"$dir/$name")
    val got =
      try { if (pfs.exists(primary)) Some(readSmall(pfs, primary)) else None }
      catch {
        // lost the exists/open race — only a concurrent flip can remove
        // the primary we just installed, so this too is breach evidence
        case _: java.io.FileNotFoundException => None
      }
    if (!got.contains(content)) {
      // Breach-residue cleanup (r12 verdict 6): this maintainer's failed
      // flip left its aside snapshot (superseded content) on disk; if the
      // winner's primary were ever lost, read() would resolve through it.
      // Clear it NOW, while a verified foreign primary exists — the only
      // state where deleting the aside cannot orphan readers (clearAside
      // re-checks the primary). Best-effort under an already-detected
      // breach: a third concurrent flipper could recreate an aside in the
      // same instant, but every such flipper's own fence reports the
      // breach loudly, and the pointer itself is never torn.
      if (got.isDefined) clearAside(fs, dir, name)
      throw new ConcurrentFlipException(
        s"pointer $dir/$name reads '${got.getOrElse("<missing>")}' after " +
          s"this maintainer flipped it to '$content' — a concurrent " +
          "maintainer raced this flip (single-writer contract breached). " +
          "This generation is NOT installed; run maintenance serially and " +
          "rerun the op.")
    }
  }

  /** A detected single-writer breach: two maintainers flipped the same
    * pointer concurrently and this one lost. */
  final class ConcurrentFlipException(msg: String)
    extends IllegalStateException(msg)

  /** Delete a stale aside copy — ONLY safe when the primary exists (after
    * a crash recovery the aside may be the sole pointer readers resolve
    * through). Returns true when something was deleted. */
  def clearAside(fs: FileSystem, dir: String, name: String): Boolean = {
    val pfs = pointerIoFs(fs)
    val aside = asidePath(dir, name)
    pfs.exists(new Path(s"$dir/$name")) && pfs.exists(aside) &&
      pfs.delete(aside, false)
  }

  private[graft] def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private[graft] def writeSmall(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}
