package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** JVM kernels for the dot-product fold at the heart of every cosine
  * operator ([[graft.operators.VectorOps]]) and the ANN inner loops, each
  * bound to Catalyst by a `StaticInvoke` (the `...Call` builders).
  *
  * The builtin form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — evaluates
  * its lambda INTERPRETED per element: a blocked near-dup pass at sf0.1
  * runs ~2.5M pairs × 64 dims of boxed lambda calls. This kernel is the same
  * left-to-right multiply-add sequence (bit-identical IEEE result, verified
  * by the DuckDB oracle gate) as a static call inside whole-stage codegen.
  *
  * A kernel undefined on a non-null input (length mismatch, null element,
  * missing code, wrong width) returns a boxed null, which the binding maps
  * to SQL NULL on both evaluation paths.
  */
object VectorKernels {

  /** Sequential left-to-right multiply-add — the exact fold order of
    * `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, _+_)` and of DuckDB's
    * `list_sum(list_transform(...))` accumulation. Null where the builtin
    * fold is null: `zip_with` nulls the pair result on a length mismatch and
    * `x * y` propagates a null element — never a silent truncation or a
    * garbage read.
    */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (!defined(a, b)) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** True iff the folds are well-defined: equal lengths, no null elements.
    * The null scan is a bitmap test per element — negligible next to the
    * multiply-add stream it guards.
    */
  private def defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Squared euclidean distance, sequential left-to-right fold — the exact
    * operation order of `aggregate(zip_with(a, b, (x, y) => (x-y)*(x-y)),
    * 0.0, _+_)` and of the IVF oracle's
    * `list_sum(list_transform(..., (v[i]-c[i])*(v[i]-c[i])))`, so results
    * are bit-identical to both. Null in the same cases as [[dot]].
    */
  def d2(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (!defined(a, b)) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** IVFADC estimator sum: Σ_s tables[s][codes[s]] in subspace order — the
    * FUSED form of the per-subspace
    * `element_at(element_at(tbl, s+1), element_at(codes, s+1))` chain. The
    * unfused chain evaluates m nested generic map probes per candidate
    * pair, each with its own null gate, boxed key, and re-read of the
    * ArrayData; this is ONE static call scanning the ≤ks-entry primitive
    * key/value arrays in a register loop. The add order is the same
    * left-to-right subspace fold, so the result is bit-identical
    * (oracle-gated on x_v9/x_v11/x_v12/x_v13/x_v14).
    *
    * Returns null when a code has no entry in its table — the unfused
    * chain's `element_at` miss semantics (cannot occur for codes produced
    * by the same books, but the contract is preserved).
    */
  def adcSum(tables: ArrayData, codes: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      val map = tables.getMap(s)
      val code = codes.getInt(s)
      val keys = map.keyArray()
      val vals = map.valueArray()
      val n = keys.numElements()
      var i = 0
      var found = false
      while (i < n && !found) {
        if (keys.getInt(i) == code) {
          if (vals.isNullAt(i)) return null // a null d2 entry: propagate like element_at
          acc += vals.getDouble(i)
          found = true
        }
        i += 1
      }
      if (!found) return null
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** argmin-by-(d2, cid) over a fixed centroid table, with monotone early
    * exit: squared-distance partial sums only grow, so a candidate is
    * abandoned the moment its partial reaches the current best — on average
    * that prunes most of the k·dim multiply-adds while provably selecting
    * the SAME cid as scoring every centroid in full:
    *   - a pruned candidate's full d2 ≥ its partial ≥ best, so it could at
    *     most TIE, and ties go to the earlier (smaller, the table is
    *     cid-ascending) cid anyway — `>=` in both the exit and the
    *     keep-strict-`<` update encode exactly that;
    *   - a surviving candidate's d2 is the complete left-to-right fold,
    *     bit-identical to [[d2]] / the `array_min(struct(d2, cid))` form
    *     this kernel replaces.
    * NaN vectors poison every candidate (NaN comparisons are false, nothing
    * is ever kept); return the smallest cid then — the same row
    * `array_min`'s NaN-equal struct ordering picked.
    *
    * Null when `v` has a null element or is not exactly the table's width
    * — the dirty inputs every call site already filters out (the
    * literal-tree form's null-wins-array_min trap, made explicit).
    */
  def nearestCid(v: ArrayData, table: CentroidTable): java.lang.Integer = {
    val cids = table.cids
    val cents = table.cents
    val dim = cents(0).length
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    var best = Double.PositiveInfinity
    var bestCid = -1
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      var acc = 0.0
      i = 0
      var pruned = false
      while (i < dim && !pruned) {
        val d = v.getDouble(i) - c(i)
        acc += d * d
        if (acc >= best) pruned = true
        i += 1
      }
      if (!pruned && acc < best) { best = acc; bestCid = cids(k) }
      k += 1
    }
    if (bestCid == -1) cids(0) else bestCid
  }

  // ── Catalyst bindings ────────────────────────────────────────────────────

  private val Doubles = ArrayType(DoubleType)

  /** `dot(a, b)` over `array<double>`; other numeric arrays cast implicitly.
    * Null for a null array and wherever [[dot]] is undefined.
    */
  def dotCall(a: Expression, b: Expression): Expression =
    StaticInvoke(getClass, DoubleType, "dot", Seq(a, b), Seq(Doubles, Doubles))

  /** `d2(a, b)`, with [[dotCall]]'s casts and nulls. */
  def d2Call(a: Expression, b: Expression): Expression =
    StaticInvoke(getClass, DoubleType, "d2", Seq(a, b), Seq(Doubles, Doubles))

  /** `adcSum(tables, codes)`: `tables` = the per-query ADC tables (array of
    * cid→d2 maps, one per subspace), `codes` = the candidate's codes (one
    * cid per subspace). Evaluated once per (candidate, query) pair — the
    * inner loop of every PQ-family search.
    */
  def adcSumCall(tables: Expression, codes: Expression): Expression =
    StaticInvoke(getClass, DoubleType, "adcSum", Seq(tables, codes))

  /** Nearest-centroid assignment of `v` over a plan-constant table: parallel
    * non-empty `cids`/`cents`, cid-ascending (the tie order). The table
    * rides as an object literal — a codegen reference object, not an
    * O(k·dim) literal tree — so codegen size is flat in k and the early-exit
    * loop lives in a single JIT-friendly kernel.
    */
  def nearestCidCall(v: Expression, cids: Seq[Int], cents: Seq[Seq[Double]]): Expression = {
    require(cids.nonEmpty && cids.size == cents.size, "parallel non-empty cid/centroid tables")
    require(cids == cids.sorted, "centroid table must be cid-ascending (tie order)")
    val table = new CentroidTable(cids.toArray, cents.map(_.toArray).toArray)
    val tableType = ObjectType(classOf[CentroidTable])
    StaticInvoke(getClass, IntegerType, "nearestCid",
      Seq(v, Literal(table, tableType)), Seq(Doubles, tableType))
  }
}

/** [[VectorKernels.nearestCid]]'s centroid table: parallel cid-ascending ids
  * and centroid vectors. Equality is by value, so two assignments over equal
  * tables are one plan (exchange reuse, cache lookup, subexpression
  * elimination).
  */
final class CentroidTable(val cids: Array[Int], val cents: Array[Array[Double]])
    extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case t: CentroidTable => java.util.Arrays.equals(cids, t.cids) &&
      java.util.Arrays.deepEquals(
        cents.asInstanceOf[Array[AnyRef]], t.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    31 * java.util.Arrays.hashCode(cids) +
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])
}
