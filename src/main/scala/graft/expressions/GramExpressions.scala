package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native adjacent-token gram kernels (guide §"eliminate non-codegen
  * expressions in the hot path"). The declarative formulations —
  * `transform(sequence(1, size-1), i => …element_at…)` chains — are
  * semantically right but evaluate the lambda INTERPRETED once per array
  * element, with per-element Column machinery and intermediate arrays; the
  * r14 profile showed the corpus n-gram queries (t21/t9/s19 and e2e2's
  * DSIR tail) spending the bulk of their task time inside those lambdas.
  * Each expression here does the whole per-row pass in one primitive loop,
  * the same idiom as [[ShingleHashes]].
  *
  * Eval-mode (CodegenFallback) is deliberate, matching the other kernels:
  * the loop is primitive Scala with no allocation beyond the output.
  */

private[expressions] object GramExpressions {
  /** Element `i` of a token array. `getUTF8String` on a null element of an
    * UnsafeArrayData returns undefined bytes, not null, so the kernels'
    * no-null-tokens precondition is checked here rather than trusted. */
  def token(arr: ArrayData, i: Int, kernel: String): UTF8String = {
    if (arr.isNullAt(i))
      throw new IllegalArgumentException(
        s"$kernel: null token at index $i; token arrays must not contain nulls")
    arr.getUTF8String(i)
  }
}

/** Adjacent token pairs of a token array as array<struct<w1,w2>> — the
  * bigram explode shape. `padded = false` emits the n−1 true bigrams
  * (empty for arrays shorter than 2). `padded = true` emits n entries:
  * every token appears exactly ONCE as w1, and the terminal entry of each
  * row carries w2 = null — which is what lets a single explode serve BOTH
  * the bigram counts (rows with w2 non-null) and the exact unigram counts
  * (group the padded counts by w1), replacing two full corpus passes with
  * one (t21's restructure).
  *
  * PRECONDITION: the input array must not contain null elements —
  * `tokenize` output never does (split never yields null elements), and
  * every caller feeds tokenize output. Enforced by [[GramExpressions.token]]:
  * a null element fails the task instead of yielding undefined bytes. */
case class AdjacentPairs(child: Expression, padded: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = if (padded) n else math.max(n - 1, 0)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val w1 = GramExpressions.token(arr, i, "AdjacentPairs")
      val w2 = if (i + 1 < n) GramExpressions.token(arr, i + 1, "AdjacentPairs")
               else null
      out(i) = new GenericInternalRow(Array[Any](w1, w2)): InternalRow
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Space-joined sliding token `n`-gram STRINGS ("w1 w2 … wn") of a token
  * array, in position order, non-distinct — the t9/d12-style gram shape
  * without the interpreted `transform(sequence…, array_join(slice…))`
  * chain. Arrays shorter than `n` yield an empty result. `hashed = true`
  * emits the built-in `xxhash64` (seed 42) of each gram string instead —
  * value-identical to `xxhash64(array_join(slice(toks,i,n), " "))`, with
  * only 8 bytes per gram leaving the kernel (the d12b production form).
  * A null token fails the task, as in [[AdjacentPairs]]. */
case class TokenGramStrings(child: Expression, n: Int,
                            hashed: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1 (got $n)")

  private val SPACE = UTF8String.fromString(" ")

  override def dataType: DataType =
    ArrayType(if (hashed) LongType else StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val m = math.max(len - n + 1, 0)
    if (len < n) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](2 * n - 1)
    var j = 1
    while (j < 2 * n - 1) { parts(j) = SPACE; j += 2 }
    var i = 0
    while (i < m) {
      var k = 0
      while (k < n) {
        parts(2 * k) = GramExpressions.token(arr, i + k, "TokenGramStrings")
        k += 1
      }
      val g = UTF8String.concat(parts: _*)
      out(i) = if (hashed) XxHash64Function.hash(g, StringType, 42L)
               else g
      i += 1
    }
    if (hashed) {
      val longs = new Array[Long](m)
      var x = 0
      while (x < m) { longs(x) = out(x).asInstanceOf[Long]; x += 1 }
      new GenericArrayData(longs)
    } else new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 64-bit hashes of the DSIR gram multiset — unigrams then space-joined
  * adjacent bigrams — of a token array, in ONE pass, with no intermediate
  * gram strings for the FNV form and a single concat per bigram for the
  * xxhash64 form. Exactly equivalent (same hash values, same multiset) to
  * hashing `Dsir.unigramBigram(toks)` element-wise:
  *
  *  - `fnv = true`: FNV-1a-64 folded over Unicode CODE POINTS, matching
  *    [[Fnv1a64]] (and thus the s19 DuckDB oracle's HUGEINT replay); a
  *    bigram "w1 w2" folds w1's code points, then 0x20, then w2's — byte
  *    identical to folding the joined string, so no string is built.
  *  - `fnv = false`: the built-in `xxhash64` (seed 42) over the gram
  *    string's UTF-8 bytes, matching `xxhash64(gram)` in the default
  *    [[graft.operators.Dsir.importanceWeights]] bucket derivation.
  *
  * Callers take `pmod(hash, buckets)` in-plan, so the bucket arithmetic
  * stays visible to the optimizer and identical to the previous form.
  * A null token fails the task, as in [[AdjacentPairs]]. */
case class TokenGramHashes(child: Expression, fnv: Boolean)
    extends UnaryExpression with CodegenFallback {

  private val SPACE = UTF8String.fromString(" ")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](if (n >= 2) 2 * n - 1 else n)
    var i = 0
    while (i < n) {   // unigrams, in order
      val w = GramExpressions.token(arr, i, "TokenGramHashes")
      out(i) =
        if (fnv) Fnv.hash64(w.toString)
        else XxHash64Function.hash(w, StringType, 42L)
      i += 1
    }
    i = 0
    while (i < n - 1) {   // bigrams "w1 w2", in order
      val w1 = GramExpressions.token(arr, i, "TokenGramHashes")
      val w2 = GramExpressions.token(arr, i + 1, "TokenGramHashes")
      out(n + i) =
        if (fnv) Fnv.fold(Fnv.step(Fnv.hash64(w1.toString), ' '), w2.toString)
        else XxHash64Function.hash(
          UTF8String.concat(w1, SPACE, w2), StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All length-`w` code-point windows of a string, in position order —
  * the suffix-doubling SEED shape ([[graft.operators.SuffixDedup]]):
  * replaces the interpreted `transform(sequence(1, len−w+1),
  * i => substring(t, i, w))` chain with one primitive loop. Strings
  * shorter than `w` yield an empty array (the caller's `when` guard,
  * folded in). Non-distinct — positions matter (the caller posexplodes
  * for 0-based offsets). */
case class SlidingWindows(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(w >= 1, s"window must be >= 1 (got $w)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val len = s.numChars()
    if (len < w) return new GenericArrayData(new Array[Any](0))
    val count = len - w + 1
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      out(i) = s.substringSQL(i + 1, w)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
