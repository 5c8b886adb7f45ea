package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch kernels (SURVEY §2.9 bucket 3). The declarative HOF
  * formulations (`transform`+`array_min` per hash function, `aggregate` per
  * signature bit) are semantically right but evaluate interpreted with one
  * full array pass per hash/bit — 96 passes for a 96-hash MinHash
  * signature, 64 for SimHash. These expressions compute the whole signature
  * in ONE primitive pass per row (the classic CPU-bound sketch loop), which
  * is what makes sketch-based dedup affordable when the corpus is 100 TB:
  * the cost is then I/O-bound scanning, not hash arithmetic.
  *
  * Eval-mode (CodegenFallback) is deliberate: the per-row loop is already
  * primitive Scala with zero allocation beyond the output array, and
  * keeping it out of codegen avoids giant generated methods for large
  * signature widths.
  */

/** MinHash signature over a shingle-hash array: element i =
  * min over shingles x of (a_i * (x mod p) + b_i) mod p, with
  * p = 2^31-1 and the same (a_i, b_i) schedule as
  * [[graft.operators.Dedup.minHashSignature]] — signatures are
  * interchangeable between the HOF and native forms. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  private val P = 2147483647L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(i => (2L * i + 1L) % P)
  private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(i => (0x9E3779B9L * (i + 1)) % P)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = arr.getLong(j)
      val xm = { val m = x % P; if (m < 0) m + P else m }
      var i = 0
      while (i < numHashes) {
        val h = (as(i) * xm + bs(i)) % P   // < 2^62, no overflow
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 64-bit SimHash over a token array: per-token `xxhash64` (same function
  * and seed as the built-in), one pass updating 64 counters, bit j set iff
  * the counter is positive — interchangeable with the HOF form in
  * [[graft.operators.Dedup.simHash]].
  *
  * `fnv = true` swaps the token hash for FNV-1a-64 over Unicode code
  * points — a hash simple enough to recompute in plain SQL (HUGEINT
  * modular arithmetic), which is what lets the `d4b` gate hash-match a
  * DuckDB oracle end-to-end. xxhash64 stays the default: it is faster and
  * better-mixed, the right production choice. */
case class SimHash64(child: Expression, seed: Long = 42L,
                     fnv: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val t = arr.getUTF8String(j)
      if (t != null) {
        // FNV-1a over code points: identical to list_reduce over
        // unicode(c) per character in the SQL oracle
        val h = if (fnv) Fnv.hash64(t.toString)
                else XxHash64Function.hash(t, StringType, seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Scalar FNV-1a-64 over a string's Unicode code points — the same fold
  * [[SimHash64]] uses per token, exposed standalone so ID-hash operators
  * (splits, samples) have a DuckDB-recomputable variant: plain SQL can
  * replay the fold with HUGEINT mod-2^64 arithmetic (see the `d4b`/`s11b`
  * oracles). xxhash64 remains the production default everywhere; this
  * exists to make hash-membership decisions value-checkable end-to-end. */
case class Fnv1a64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Fnv.hash64(input.asInstanceOf[UTF8String].toString)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Distinct character n-gram strings in one pass — the oracle-comparable
  * (unhashed) shingle form used by the exact Jaccard path. */
case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val len = s.numChars()
    val count = math.max(len - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var i = 0
    while (i < count) {
      seen.add(s.substringSQL(i + 1, n))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** |A ∩ B| for two string or long arrays in one pass (hash set of the
  * smaller side) — replaces `size(array_intersect(a, b))`, skipping the
  * intermediate intersection array. Inputs are already-distinct shingle
  * sets, so the count equals distinct-intersection size exactly. */
case class IntersectionSize(
    left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  private lazy val isString = left.dataType match {
    case ArrayType(StringType, _) => true
    case ArrayType(LongType, _) => false
    case t => throw new IllegalArgumentException(
      s"expected array<string|bigint>, got $t")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    var c = 0
    var i = 0
    if (isString) {
      val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
      while (i < small.numElements()) { set.add(small.getUTF8String(i)); i += 1 }
      i = 0
      while (i < big.numElements()) {
        if (set.contains(big.getUTF8String(i))) c += 1
        i += 1
      }
    } else {
      val set = new java.util.HashSet[java.lang.Long](small.numElements() * 2)
      while (i < small.numElements()) { set.add(small.getLong(i)); i += 1 }
      i = 0
      while (i < big.numElements()) {
        if (set.contains(big.getLong(i))) c += 1
        i += 1
      }
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct character n-gram hashes of a string in one pass:
  * xxhash64 (seed 42, matching the built-in) of each length-`n` codepoint
  * window. Replaces the `transform(sequence(...), substr, xxhash64)` +
  * `array_distinct` chain (three interpreted passes + per-shingle Column
  * machinery). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val len = s.numChars()
    val count = math.max(len - n + 1, 1)
    val seen = new java.util.HashSet[Long](count * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](count)
    var i = 0
    while (i < count) {
      val sh = s.substringSQL(i + 1, n)
      val h = XxHash64Function.hash(sh, StringType, 42L)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Membership hit-count against a BROADCAST sorted long-array set: counts
  * how many elements of an `array<long>` input are present in the set
  * (binary search — 8 bytes per entry, no boxing, no hash-table load
  * factor). This is the corpus side of benchmark decontamination: a pure
  * projection over the scan — no explode, no join, no shuffle — with the
  * benchmark n-gram set shipped to each executor ONCE via torrent
  * broadcast, so task size is independent of benchmark size. The array
  * MUST be sorted (the operator entry point sorts before broadcasting). */
case class BroadcastSetHits(child: Expression,
    setBc: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  @transient private lazy val sorted: Array[Long] = setBc.value

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    var hits = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) hits += 1
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Unicode NFC normalization (canonical composition) — the first step of
  * corpus text cleaning (ftfy-style): decomposed accent sequences
  * (e + U+0301) compose to their canonical form (é) so downstream hashing,
  * dedup and tokenization see one representation. JDK Normalizer implements
  * the published Unicode algorithm, so results match any conformant
  * implementation (the DuckDB oracle uses utf8proc). */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // fast path: already-NFC text (the overwhelming majority) costs one
    // quick-check scan, no allocation
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Shannon entropy (nats) of the code-point distribution of a string —
  * the cheap screen for non-linguistic content: base64/hex blobs and
  * minified code sit well ABOVE natural text (near-uniform symbol use),
  * while padding/repetition sits far below. Natural language clusters in
  * a narrow band, so both tails are drop candidates. One pass to count
  * code points (no per-row allocation beyond the count map), no shuffle —
  * scan-speed at any corpus size. Empty strings score 0. */
case class CharEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Array[Int]]()
    var i = 0
    var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.computeIfAbsent(cp, _ => new Array[Int](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var ent = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      ent -= p * math.log(p)
    }
    ent
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Bloom-filter membership against a BROADCAST
  * `org.apache.spark.util.sketch.BloomFilter` (the sketch
  * `DataFrameStatFunctions.bloomFilter` builds). Long/int keys probe via
  * `mightContainLong`, strings via their UTF-8 bytes — both matching what
  * the builder inserted. False positives possible (callers must re-check
  * exactly), false negatives impossible. */
case class BloomMightContain(child: Expression,
    bfBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  @transient private lazy val bf = bfBc.value

  override def nullSafeEval(input: Any): Any = input match {
    case l: java.lang.Long    => bf.mightContainLong(l)
    case i: java.lang.Integer => bf.mightContainLong(i.toLong)
    case s: UTF8String        => bf.mightContainBinary(s.getBytes)
    case other => throw new IllegalArgumentException(
      s"bloom_might_contain supports long/int/string keys, got ${other.getClass}")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Content-defined chunk boundaries via a gear-style rolling hash — the
  * FastCDC-family chunking step that makes chunk-level dedup robust to
  * insertions (fixed-width chunks shift after an edit; content-defined
  * boundaries re-synchronize). Per code point `cp`:
  *
  *   gear(cp) = (FNV_BASIS ^ cp) * FNV_PRIME   (one FNV-1a step)
  *   h_i      = h_{i-1} * 2 + gear(cp_i)       (all mod 2^64, h_0 = 0)
  *
  * and position i (1-based, counted in code points) is a boundary iff
  * `(h_i & mask) == 0` with `mask = ((1 << maskBits) - 1) << (63 -
  * maskBits)` — maskBits HIGH bits below the sign bit, following FastCDC:
  * the shift-accumulate recurrence leaves low bits correlated with the
  * last few characters (measured 1/22 boundary rate at maskBits = 5 on
  * the synthetic corpus vs 1/30.7 for the high mask), while high bits mix
  * a full window of multiplied gear values. Expected chunk length ≈
  * 2^maskBits. The doubling ages a character's influence out of the hash
  * after 64 positions, so boundaries depend only on a bounded trailing
  * window — the locality CDC needs. Interior boundaries only
  * (i < length); the final chunk always ends at the text end. Every step
  * is plain two's-complement arithmetic, so a SQL oracle can replay it
  * bit-for-bit (HUGEINT mod-2^64, the d15 gate). */
case class CdcBoundaries(child: Expression, maskBits: Int)
    extends UnaryExpression with CodegenFallback {
  require(maskBits >= 1 && maskBits <= 32,
    s"maskBits must be in [1, 32] (got $maskBits)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    val mask = ((1L << maskBits) - 1L) << (63 - maskBits)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var h = 0L
    var i = 0
    var pos = 0
    val n = str.codePointCount(0, str.length)
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val gear = Fnv.step(Fnv.Basis, cp)
      h = h * 2L + gear
      pos += 1
      if ((h & mask) == 0L && pos < n) out += pos
      i += Character.charCount(cp)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
