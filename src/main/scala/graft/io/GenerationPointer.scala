package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The generation-pointer protocol both growing-index families commit
  * through: the IVF index (`CURRENT` naming `gen-*` dirs,
  * [[graft.operators.Ann]]) and [[TieredGenLog]] (`FOLDED` naming `base-*`
  * dirs). An index root holds whole generation dirs plus one
  * [[AtomicPointer]] file naming the live ones, base first; flipping it is
  * the commit. Shared here: the pointer codec (`g1,g2`, or
  * `maxBatch g1,g2` when `watermarked`), the fenced flip, the post-flip
  * self-check, the tier rule and the superseded-generation sweep. Each
  * family keeps its own layout inside and beside the generations.
  * Single-writer per index: the fence turns a concurrent maintainer into
  * a loud error, not a lock. */
private[graft] final case class GenerationPointer(name: String,
                                                  prefix: String,
                                                  watermarked: Boolean) {

  /** Whether `n` is a well-formed generation name of this layout. */
  def isGen(n: String): Boolean =
    n.startsWith(prefix) && !n.contains("/") && !n.contains("..")

  /** Whether `n` is this pointer's file, its aside copy or a flip tmp —
    * the pointer artifacts a non-atomic flip leaves in the index root. */
  def ownsFile(n: String): Boolean =
    n == name || n == AtomicPointer.asideName(name) ||
      n.startsWith(AtomicPointer.tmpPrefix(name))

  /** The pointer content, None when the index has no pointer. */
  def read(fs: FileSystem, dir: String): Option[String] =
    AtomicPointer.read(fs, dir, name)

  /** Parse pointer `content`: the batch watermark (watermarked layouts
    * only) and the ordered live generation list. Empty list entries are
    * dropped; anything else malformed throws — a pointer is never
    * guessed at. */
  def decode(dir: String, content: String): (Option[Long], Seq[String]) = {
    val (mark, list) =
      if (!watermarked) (None, Some(content))
      else content.split("\\s+") match {
        // Try, so a digit string beyond Long range dies with the
        // descriptive message below, not a bare NumberFormatException
        case Array(m, l) => (scala.util.Try(m.toLong).toOption, Some(l))
        case _ => (None, None)
      }
    val gens = list.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    require((!watermarked || mark.isDefined) && gens.nonEmpty &&
        gens.forall(isGen),
      s"corrupt $name pointer at $dir: '$content'")
    (mark, gens)
  }

  def encode(mark: Option[Long], gens: Seq[String]): String =
    mark.fold("")(m => s"$m ") + gens.mkString(",")

  /** THE commit: a fenced flip of the pointer to `content` — fails loudly
    * when a concurrent maintainer's flip interleaved. */
  def flip(fs: FileSystem, conf: Configuration, dir: String,
           content: String): Unit =
    AtomicPointer.flipFenced(fs, conf, dir, name, content)

  /** The end-of-maintenance self-check: after the flip AND the cleanup,
    * the pointer must still read `content`, and every generation it names
    * must still pass the family's `complete` test (which throws). This
    * catches a concurrent maintainer's cleanup deleting our generations
    * as "superseded" after our fence passed; a maintenance op that fails
    * here must not report its result as installed. */
  def verifyLive(fs: FileSystem, dir: String, content: String,
                 complete: String => Unit): Unit = {
    AtomicPointer.verifyOwn(fs, dir, name, content)
    decode(dir, content)._2.foreach(complete)
  }

  /** Delete what the live list supersedes under `dir`: every `<prefix>*`
    * generation directory not in `live` that the family's `release` guard
    * lets go (the guard may also throw to refuse the sweep and keep the
    * evidence), orphaned per-flip tmp files, and the aside copy once the
    * primary exists. Returns the deleted names, in listing order. Call it
    * only after the flip that superseded them — and after in-flight
    * readers of the old list drain when there are any. */
  def sweep(fs: FileSystem, dir: String, live: Set[String],
            release: String => Boolean): Seq[String] = {
    val deleted = GenerationPointer.list(fs, dir).flatMap { st =>
      val n = st.getPath.getName
      val stale =
        if (st.isDirectory) n.startsWith(prefix) && !live(n) && release(n)
        // crash-orphaned flip tmps: uuid-suffixed, never readable
        else n.startsWith(AtomicPointer.tmpPrefix(name))
      if (stale) { fs.delete(st.getPath, true); Some(n) } else None
    }
    if (AtomicPointer.clearAside(fs, dir, name))
      deleted :+ AtomicPointer.asideName(name)
    else deleted
  }
}

private[graft] object GenerationPointer {

  /** The tier rule both families fold by — MINOR (fold only the pending
    * data into a new sibling generation, keeping `frozen`) or MAJOR
    * (collapse everything into one new base), by bytes, i.e. corpus mass
    * rather than dir counts. Major when there is no base yet (`frozen`
    * empty), when `baseRatio <= 0`, when `liveCount` has reached
    * `maxGens`, or when everything but the base — the frozen siblings plus
    * `pendingBytes` — has grown to `baseRatio` of the base's bytes. Fired
    * geometrically, majors keep lifetime write volume at about
    * (1 + 1/baseRatio)× the corpus instead of quadratic.
    *
    * `frozen` = the live generations a minor fold keeps, base first;
    * `liveCount` = the count the family holds against `maxGens` (IVF
    * counts its append tail; the log's pending batches are no
    * generation). Sizes are only measured when the cheap tests pass. */
  def majorFold(frozen: Seq[String], liveCount: Int, maxGens: Int,
                baseRatio: Double, bytes: String => Long,
                pendingBytes: => Long): Boolean =
    frozen.isEmpty || baseRatio <= 0.0 || liveCount >= maxGens ||
      frozen.tail.map(bytes).sum + pendingBytes >=
        baseRatio * bytes(frozen.head)

  /** Recursive byte size of `path`, 0 when absent — the tier rule's
    * input (one getContentSummary RPC). */
  def pathBytes(fs: FileSystem, path: String): Long =
    try fs.getContentSummary(new Path(path)).getLength
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Tiny-file IO for the families' manifests and markers. */
  def readFile(fs: FileSystem, path: String): String =
    AtomicPointer.readSmall(fs, new Path(path))

  def writeFile(fs: FileSystem, path: String, content: String): Unit =
    AtomicPointer.writeSmall(fs, new Path(path), content)

  /** The entries of `dir`, empty when it does not exist. */
  def list(fs: FileSystem, dir: String): Seq[FileStatus] =
    try Option(fs.listStatus(new Path(dir)))
      .getOrElse(Array.empty[FileStatus]).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
}
