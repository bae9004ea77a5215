package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval (range) join — the second operator family Spark lacks
  * natively (alongside as-of): match each point row `ts` to the interval
  * rows whose `[start, end]` contains it, per key. Naive Spark plans this as
  * a BroadcastNestedLoopJoin (or a cartesian) because the containment
  * predicate is not an equi-join — quadratic and cluster-fatal at scale.
  *
  * Spark-first rewrite (the cell-and-copy idea of [[AsOf]]'s ranges): bucket the
  * time axis into `chunkMs` cells; points land in exactly ONE cell, each
  * interval is replicated to the cells it overlaps (`sequence(start div c,
  * end div c)` — replication factor = interval span / chunkMs, bounded and
  * chosen by the caller), then an ordinary equi-join on (key, cell) + the
  * exact containment filter. Catalyst plans a hash join: shuffle volume is
  * O(points + interval-replicas), nothing quadratic, AQE handles cell skew.
  *
  * Matching is inclusive on both bounds. A point matching k overlapping
  * intervals emits k rows (standard range-join semantics); dedup on the
  * (cell) replication is unnecessary because a point exists in one cell
  * only. A null key/ts/start/end never matches (equi-join + comparison
  * semantics), mirroring SQL range-join behavior.
  *
  * Column-name contract: when `points` and `intervals` share a column name,
  * the OUTPUT keeps the points-side column and drops the intervals-side
  * duplicate (deterministic — the common case is the join key itself, equal
  * by definition on matched rows). Rename interval columns beforehand if
  * both copies are needed. Internal scratch columns use a `__graft_iv_`
  * prefix; inputs must not contain columns with that prefix (validated).
  */
object Interval {

  private val Prefix = "__graft_iv_"

  /** Join `points` to the containing rows of `intervals`.
    *
    * @param points     must expose `pointKey` and `ts`
    * @param intervals  must expose `intervalKey`, `start`, `end` (ms, end >= start)
    * @param chunkMs    time-cell width; pick >= the typical interval span so
    *                   the replication factor stays near 2
    * @param maxCellsPerInterval hard guard on per-interval replication: an
    *                   interval spanning more than this many cells fails the
    *                   job loudly (raise_error) instead of silently exploding
    *                   shuffle volume — at 100 TB an unbounded `sequence()`
    *                   from one bad row (e.g. an end in µs joined to a start
    *                   in ms) is a cluster-killer. Raise it deliberately, or
    *                   raise `chunkMs`, for genuinely long intervals.
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointKey: Column,
      ts: Column,
      intervalKey: Column,
      start: Column,
      end: Column,
      chunkMs: Long,
      maxCellsPerInterval: Int = 4096): DataFrame = {
    require(chunkMs > 0, s"chunkMs must be positive, got $chunkMs")
    require(maxCellsPerInterval > 0,
      s"maxCellsPerInterval must be positive, got $maxCellsPerInterval")
    (points.columns ++ intervals.columns).find(_.startsWith(Prefix)).foreach { c =>
      throw new IllegalArgumentException(
        s"pointInInterval: input column '$c' collides with the reserved '$Prefix' scratch prefix")
    }
    val kCol = Prefix + "k"; val tsCol = Prefix + "ts"; val cellCol = Prefix + "cell"
    val sCol = Prefix + "start"; val eCol = Prefix + "end"

    val p = points
      .withColumn(kCol, pointKey)
      .withColumn(tsCol, ts)
      .withColumn(cellCol, graft.functions.TimeUnits.bucketIndex(ts, chunkMs))

    // Caller exprs (intervalKey/start/end) are applied on the ORIGINAL
    // column names first; only then are interval columns whose names collide
    // with a points column renamed to scratch names (dropped post-join —
    // points side wins, per the column-name contract above).
    val pointNames = points.columns.toSet
    val dupRenames = intervals.columns.filter(pointNames.contains)
      .map(c => c -> (Prefix + "dup_" + c)).toMap
    val i0 = dupRenames.foldLeft(
      intervals
        .withColumn(kCol, intervalKey)
        .withColumn(sCol, start)
        .withColumn(eCol, end)) {
      case (df, (from, to)) => df.withColumnRenamed(from, to)
    }
    val startCell = graft.functions.TimeUnits.bucketIndex(col(sCol), chunkMs)
    val endCell = graft.functions.TimeUnits.bucketIndex(col(eCol), chunkMs)
    // Per-row replication guard: fail loudly rather than explode quietly.
    // Guard the ABSOLUTE span: sequence(a, b) with a > b generates a
    // DESCENDING sequence, so an inverted interval (end < start, e.g. a µs
    // end against a ms start) replicates just as explosively as a forward
    // one — both directions must trip the guard. Bounded inverted intervals
    // survive to the containment filter, which matches nothing (end < start
    // can contain no point). Polarity matters for nulls: a null start/end
    // makes the predicate null -> otherwise branch -> null endCell ->
    // sequence null -> explode drops the row (the no-match semantics
    // above), never a spurious error.
    val guardedEndCell = when(
      abs(endCell - startCell) >= lit(maxCellsPerInterval.toLong),
      raise_error(concat(
        lit(s"pointInInterval: interval spans more than $maxCellsPerInterval cells " +
          s"at chunkMs=$chunkMs (start="), col(sCol).cast("string"),
        lit(", end="), col(eCol).cast("string"),
        lit("); raise chunkMs or maxCellsPerInterval"))).cast("long"))
      .otherwise(endCell)
    val i = i0.withColumn(cellCol, explode(sequence(startCell, guardedEndCell)))

    p.join(i, Seq(kCol, cellCol))
      .filter(col(tsCol) >= col(sCol) && col(tsCol) <= col(eCol))
      .drop(cellCol, kCol, tsCol, sCol, eCol)
      .drop(dupRenames.values.toSeq: _*)
  }
}
