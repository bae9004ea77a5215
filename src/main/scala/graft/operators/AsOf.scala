package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Filter, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

import graft.plans.{AsOfMergeJoinNode, AsOfMergeJoinStrategy}

/** As-of / nearest-neighbor-in-time join — SURVEY §2.3 J1, the reference's
  * prediction-outcome update (`docs/schemas/RDS_SCHEMA.md:703-756`), and J3's
  * latest-quote enrichment: match each left row to one right row of the same
  * key within a tolerance in time.
  *
  * Scale shape (the part Spark lacks natively): a naive formulation is a range
  * join, which Catalyst executes as a broadcast-nested-loop or a cartesian —
  * O(|L|·|R|) per key. Here both sides are cut into time ranges of
  * `SpanTolerances` tolerances (`__asof_range = floor(ts / span)`); a right
  * row within one tolerance of a range edge is copied into the neighbouring
  * range (forward only for `backward`, both ways for `nearest`; about 1.6 %
  * of right rows per direction). Each (key, range) cell then holds every
  * candidate for its left rows, so [[graft.plans.AsOfMergeJoinExec]]
  * clusters both sides on (key, range) and merges each cell in one sorted
  * pass. A hot key spreads over as many tasks as its time span has ranges.
  */
object AsOf {

  /** Name the right side's timestamp arrives under in every as-of output. */
  val RightTs: String = "__right_ts"

  /** Range id column both sides carry into the exec; not in the output. */
  val Range: String = "__asof_range"

  /** Range width in tolerances: wide enough that boundary copies stay a few
    * percent of the right side, narrow enough that a year of one key
    * splits into many tasks at any tolerance up to a day.
    */
  val SpanTolerances: Long = 64L

  /** Backward as-of join: for each left row, the LATEST right row with
    * `rightTs <= leftTs` within `toleranceMs` (the classic "state as of this
    * event" lookup — J3 stream-static enrichment: each trade gets the most
    * recent quote's mid). Ties on `__right_ts` break toward the largest
    * `rightTieBreak`.
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      toleranceMs: Long,
      rightValueCols: Seq[String],
      rightTieBreak: String): DataFrame =
    join(left, right, key, leftTs, rightTs, toleranceMs, rightValueCols,
      backward = true, rightTieCols = Seq(rightTieBreak))

  /** Nearest-within-tolerance join (both directions in time).
    *
    * @param rightValueCols right columns to carry; right's ts arrives as
    *                 `__right_ts`. Ties on |Δt| break toward the earlier
    *                 right timestamp, then by `rightValueCols` ascending in
    *                 order — so two right rows sharing (key, ts) still
    *                 resolve deterministically under any partitioning.
    * Result: inner — left rows with no right row within tolerance are absent
    * (callers needing outer semantics left-join the result back, see J1).
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      toleranceMs: Long,
      rightValueCols: Seq[String]): DataFrame =
    join(left, right, key, leftTs, rightTs, toleranceMs, rightValueCols,
      backward = false, rightTieCols = rightValueCols)

  private def join(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      toleranceMs: Long,
      rightValueCols: Seq[String],
      backward: Boolean,
      rightTieCols: Seq[String]): DataFrame = {
    require(toleranceMs > 0 && toleranceMs <= Long.MaxValue / SpanTolerances,
      s"toleranceMs must be in (0, Long.MaxValue / $SpanTolerances], got $toleranceMs")
    // The node's output drops the right side's key BY NAME, so a value
    // column sharing that name (or a reserved name) would vanish silently —
    // reject it loudly; alias the column beforehand instead.
    require(!rightValueCols.exists(Set(key, RightTs, Range)),
      s"rightValueCols may not contain the join key '$key' or the reserved " +
        s"'$RightTs'/'$Range' names — alias the column on the right side first")
    val spark = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // sessions built with GraftExtensions already plan the node
    if (!spark.sessionState.planner.strategies.contains(AsOfMergeJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfMergeJoinStrategy
    val span = toleranceMs * SpanTolerances
    // floor division, exact for negative epochs too
    def rangeOf(ts: String) = expr(s"(`$ts` - pmod(`$ts`, ${span}L)) div ${span}L")
    // Aliases mint fresh exprIds on every right-side column so the node's
    // output never collides with the left side, even on self-joins.
    val r = right
      .select(
        (col(key).as(key) +: col(rightTs).as(RightTs) +:
          rightValueCols.map(c => col(c).as(c))): _*)
      .withColumn(Range, rangeOf(RightTs))
    // One candidate row per right row and range: its own range, and the
    // neighbour's when the row lies within one tolerance of that edge (null
    // otherwise, dropped by the filter). Catalyst's Expand emits them in one
    // pass; a Union of filtered copies would re-run the right side's whole
    // lineage per copy, since the filters push down below its aggregates.
    val offset = pmod(col(RightTs), lit(span))
    val cells = col(Range) +: when(offset >= span - toleranceMs, col(Range) + 1) +:
      (if (backward) Nil else Seq(when(offset < toleranceMs, col(Range) - 1)))
    val projections = cells.map { c =>
      r.select(r.columns.map(n => if (n == Range) c.as(Range) else col(n)): _*)
        .queryExecution.analyzed.asInstanceOf[Project]
    }
    val rangeOut = AttributeReference(Range, LongType)()
    val expand = Expand(
      projections.map(_.projectList.map {
        case a: Alias => a.child
        case e => e
      }),
      projections.head.output.map(a => if (a.name == Range) rangeOut else a),
      projections.head.child)
    val node = AsOfMergeJoinNode(
      left.withColumn(Range, rangeOf(leftTs)).queryExecution.analyzed,
      Filter(IsNotNull(rangeOut), expand),
      key, leftTs, toleranceMs, backward, rightTieCols)
    ColumnBridge.ofRows(spark, node)
  }
}
