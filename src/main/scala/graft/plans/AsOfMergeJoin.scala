package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

import graft.operators.AsOf.{Range, RightTs}

/** Whole-operator Catalyst integration for the as-of join — the (c)-tier of
  * SURVEY §4's preference order: a resolved logical node planned by an
  * injected `SparkStrategy` into a dedicated physical operator that merges
  * the two clustered, time-sorted children in ONE streaming pass. Built by
  * `operators.AsOf.nearest` / `backward`, the only as-of entry points.
  *
  * Both children carry a `__asof_range` column, `floor(ts / span)` with
  * `span` a fixed multiple of the tolerance, and the right side also carries
  * a copy of every row lying within one tolerance of a range edge, tagged
  * with the neighbouring range. The exec clusters and merges on
  * (key, range), so one hot key spreads over as many tasks as its time span
  * has ranges, and each (key, range) cell is complete on its own: no
  * `row_number()` dedup, no fan-out of intermediate matches, and memory per
  * task bounded by the right rows inside one tolerance window.
  *
  * Semantics (reference `RDS_SCHEMA.md:703-756`): for each left row, the
  * right row minimizing |rightTs - leftTs| within tolerance (ties -> earlier
  * right ts, then smallest `rightTieCols` in order), or for
  * `backward = true` the latest right row with rightTs <= leftTs within
  * tolerance (ties -> largest `rightTieCols`). Inner: unmatched left rows
  * are dropped.
  */
case class AsOfMergeJoinNode(
    left: LogicalPlan,  // carries __asof_range
    right: LogicalPlan, // (key, __right_ts, value cols..., __asof_range)
    key: String,
    leftTs: String,
    toleranceMs: Long,
    backward: Boolean,
    rightTieCols: Seq[String]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output.filterNot(_.name == Range) ++
      right.output.filterNot(a => a.name == key || a.name == Range)
  // The join columns are named by String, not held as Expressions, so the
  // default (expression-derived) references are EMPTY and ColumnPruning
  // would strip key/ts/range/tie columns out of the children before
  // planning. Declaring them here keeps pruning correct: unused VALUE
  // columns still prune all the way to the scan, but the merge columns
  // survive.
  override def references: AttributeSet = AttributeSet(
    left.output.filter(a => a.name == key || a.name == leftTs || a.name == Range) ++
      right.output.filter(a =>
        a.name == key || a.name == RightTs || a.name == Range ||
          rightTieCols.contains(a.name)))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMergeJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfMergeJoinNode]] → [[AsOfMergeJoinExec]]. Registered per
  * session by `operators.AsOf` on first use, or globally via
  * [[GraftExtensions]].
  */
object AsOfMergeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfMergeJoinNode =>
      AsOfMergeJoinExec(
        n.key, n.leftTs, n.toleranceMs, n.backward, n.rightTieCols,
        n.output, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** `GraftSession.builder(...).withExtensions(new GraftExtensions)` plans the
  * as-of node on every session of the builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => AsOfMergeJoinStrategy)
}

/** Single-pass sorted-merge as-of join.
  *
  * Required layout (declared, so `EnsureRequirements` inserts the exchanges
  * and sorts, and AQE re-plans them like any built-in join): both children
  * clustered on (key, range) and sorted by (key, range, ts[, tie cols]).
  * Each partition is then merged with a sliding window of right rows per
  * (key, range) cell — O(|L| + |R|) plus the in-window nearest scan.
  */
case class AsOfMergeJoinExec(
    keyName: String,
    leftTsName: String,
    toleranceMs: Long,
    backward: Boolean,
    rightTieCols: Seq[String],
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  private def attr(side: SparkPlan, name: String): Attribute =
    side.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(
        s"as-of child is missing column $name; has ${side.output.map(_.name).mkString(",")}"))

  private def keyL = attr(left, keyName)
  private def tsL = attr(left, leftTsName)
  private def keyR = attr(right, keyName)
  private def tsR = attr(right, RightTs)

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(keyL, attr(left, Range))) ::
      ClusteredDistribution(Seq(keyR, attr(right, Range))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(keyL, attr(left, Range), tsL).map(SortOrder(_, Ascending)),
    (Seq(keyR, attr(right, Range), tsR) ++ rightTieCols.map(attr(right, _)))
      .map(SortOrder(_, Ascending)))

  // Matched left rows stream out sorted by key within each partition; the
  // partitioning itself is on the range column, which the output drops.
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(left.outputPartitioning.numPartitions)
  override def outputOrdering: Seq[SortOrder] = SortOrder(keyL, Ascending) :: Nil

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    require(tsL.dataType == LongType && tsR.dataType == LongType,
      "as-of timestamps must be epoch-millis LongType")
    // One interpreted ordering (built from the LEFT key type) reads and
    // compares BOTH sides' key slots; a type mismatch would mis-read slots
    // (an int slot read as long returns garbage for negatives) and merge in
    // a corrupted order — silently dropped matches. Fail loudly instead.
    require(keyL.dataType == keyR.dataType,
      s"as-of key types must match: left=${keyL.dataType} right=${keyR.dataType}")
    val numOutputRows = longMetric("numOutputRows")
    val kIdxL = left.output.indexWhere(_.name == keyName)
    val tIdxL = left.output.indexWhere(_.name == leftTsName)
    val gIdxL = left.output.indexWhere(_.name == Range)
    val kIdxR = right.output.indexWhere(_.name == keyName)
    val tIdxR = right.output.indexWhere(_.name == RightTs)
    val gIdxR = right.output.indexWhere(_.name == Range)
    val keyType = keyL.dataType
    val tol = toleranceMs
    val back = backward
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val proj = UnsafeProjection.create(outAttrs, leftOut ++ rightOut)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // Right rows of the current (key, range) cell within the active
        // tolerance window, in (ts, tie cols) order. Rows are copied when
        // buffered (upstream iterators reuse row objects); eviction keeps
        // the buffer bounded by the rows inside one 2*tol window — the
        // operator's only state.
        private val buf = new java.util.ArrayDeque[InternalRow]()
        private var bufKey: Any = null
        private var bufRange = 0L
        private var rNext: InternalRow = _
        private var pendL: InternalRow = _
        private var pendR: InternalRow = _
        private var ready = false

        advanceRight()

        private def advanceRight(): Unit = {
          rNext = null
          while (rNext == null && rIter.hasNext) {
            val r = rIter.next()
            if (!r.isNullAt(kIdxR) && !r.isNullAt(tIdxR)) rNext = r.copy()
          }
        }

        // rNext's (key, range) cell against the left row's: <0, 0 or >0.
        private def cellCmp(k: Any, g: Long): Int = {
          val c = keyOrd.compare(rNext.get(kIdxR, keyType), k)
          if (c != 0) c else java.lang.Long.compare(rNext.getLong(gIdxR), g)
        }

        // findNext only LOCATES the next (left, best-right) pair; the shared
        // UnsafeProjection buffer is applied in next(). Projecting inside
        // hasNext() would overwrite the row handed out by the previous
        // next() while the consumer may still hold it — Spark's row-reuse
        // contract is "valid until the next next()", not "until hasNext".
        // pendL needs no copy: lIter does not advance again until the next
        // findNext call; pendR is already a buffered copy.
        private def findNext(): Unit = {
          pendL = null; pendR = null
          while (pendL == null && lIter.hasNext) {
            val l = lIter.next()
            // a non-null ts always has a non-null range
            if (!l.isNullAt(kIdxL) && !l.isNullAt(tIdxL)) {
              val k = l.get(kIdxL, keyType)
              val g = l.getLong(gIdxL)
              val t = l.getLong(tIdxL)
              if (bufKey != null && (bufRange != g || keyOrd.compare(bufKey, k) != 0)) {
                buf.clear(); bufKey = null
              }
              while (rNext != null && cellCmp(k, g) < 0) advanceRight()
              val hi = if (back) t else t + tol
              while (rNext != null && cellCmp(k, g) == 0 && rNext.getLong(tIdxR) <= hi) {
                // rNext is a copy — its key value stays valid as bufKey.
                bufKey = rNext.get(kIdxR, keyType)
                bufRange = g
                buf.addLast(rNext)
                advanceRight()
              }
              while (!buf.isEmpty && buf.peekFirst.getLong(tIdxR) < t - tol)
                buf.removeFirst()
              val best =
                if (back) buf.peekLast // latest ts <= t; sort puts max tie cols last
                else {
                  var b: InternalRow = null
                  var bestD = Long.MaxValue
                  val it = buf.iterator()
                  while (it.hasNext) {
                    val r = it.next()
                    val d = math.abs(r.getLong(tIdxR) - t)
                    // tie -> first in (ts, tie cols) order wins
                    if (d < bestD) { bestD = d; b = r }
                  }
                  b
                }
              if (best != null) {
                numOutputRows += 1
                pendL = l
                pendR = best
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (!ready) { findNext(); ready = true }
          pendL != null
        }

        override def next(): InternalRow = {
          if (!ready) findNext()
          ready = false
          if (pendL == null) null else proj(joined(pendL, pendR))
        }
      }
    }
  }
}
