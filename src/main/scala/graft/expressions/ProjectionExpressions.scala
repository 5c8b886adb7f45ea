package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** FNV-1a-64 over a string's Unicode code points, driver/executor-side —
  * the one fold behind [[Fnv1a64]], [[SimHash64]]'s FNV mode,
  * [[TokenGramHashes]]' FNV mode and [[CdcBoundaries]]' gear, replayed in
  * SQL by [[graft.queries.Q.fnvSql]]; shared so seeded structures
  * (projection sign matrices, LSH sign planes) can be generated
  * identically in Scala and rebuilt in a DuckDB oracle. */
object Fnv {
  val Basis = 0xcbf29ce484222325L
  private val Prime = 0x100000001b3L

  /** One FNV-1a step: fold `x` (a code point or byte value) into `h`. */
  @inline def step(h: Long, x: Long): Long = (h ^ x) * Prime

  /** [[step]] over every code point of `s` (not its UTF-8 bytes), seeded
    * by `h0`. */
  def fold(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = step(h, cp)
      i += Character.charCount(cp)
    }
    h
  }

  def hash64(s: String): Long = fold(Basis, s)
}

/** Sparse random projection (Achlioptas 2003, JL lemma): maps an
  * `array<double>` embedding of any input dimension down to `outDim`
  * components via a seeded ±1/0 sign matrix,
  *
  *   y_j = sqrt(3/outDim) · Σ_i x_i · s(i, j)
  *
  * with s(i, j) ∈ {+1, −1, 0} w.p. {1/6, 1/6, 2/3}, derived from
  * FNV-1a-64 over the code points of "seed:i:j" (pmod 6 → 0 ⇒ +1,
  * 1 ⇒ −1, else 0). E[‖y‖²] = ‖x‖² under this scaling, and pairwise
  * distances concentrate per Johnson–Lindenstrauss — the standard cheap
  * dimension-reduction step in front of LSH/IVF ANN at 100 TB scale
  * (project 1024-d → 64-d once at ingest; every downstream distance costs
  * 16× less bandwidth).
  *
  * Engineering notes:
  *  - the sign matrix is NEVER materialized as data: it is recomputed from
  *    the seed per executor and memoized per input dimension, so the
  *    projection is a pure scan-speed map with zero shuffle and zero
  *    broadcast;
  *  - accumulation is in index order (i ascending per output j) in double
  *    precision, so results are bit-identical across partitionings AND
  *    replayable in plain SQL: the rp1 oracle rebuilds the sign matrix
  *    from the same FNV fold ([[graft.queries.Q.fnvSql]]) and folds the
  *    same terms with `list_reduce` — FNV here is not a weakness, it is
  *    what makes the operator value-checkable end to end. Zero-sign terms
  *    still participate as `x_i · 0.0` adds (adding ±0.0 is an IEEE-754
  *    identity on finite accumulators, and the oracle folds them too).
  */
case class SparseRandomProject(child: Expression, outDim: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {

  require(outDim > 0, s"outDim must be positive (got $outDim)")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sparse_random_project"

  // one sign matrix per observed input dimension, built lazily per
  // executor (row-major: s(i * outDim + j)); tiny — 8·dIn·outDim bytes
  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def signs(dIn: Int): Array[Double] =
    signCache.computeIfAbsent(dIn, { d =>
      val m = new Array[Double](d * outDim)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < outDim) {
          val h = Fnv.hash64(s"$seed:$i:$j")
          val r = ((h % 6) + 6) % 6
          m(i * outDim + j) =
            if (r == 0) 1.0 else if (r == 1) -1.0 else 0.0
          j += 1
        }
        i += 1
      }
      m
    })

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dIn = arr.numElements()
    val s = signs(dIn)
    val out = new Array[Double](outDim)
    var i = 0
    while (i < dIn) {
      val v = arr.getDouble(i)
      var j = 0
      while (j < outDim) {
        out(j) += v * s(i * outDim + j)
        j += 1
      }
      i += 1
    }
    val scale = math.sqrt(3.0 / outDim)
    var j = 0
    while (j < outDim) { out(j) *= scale; j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
