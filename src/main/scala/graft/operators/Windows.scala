package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking / analytic window operators — lag-derived features (SURVEY §2.5 W1,
  * `transformer.py:262-291`), latest-row-per-key (W2/A9, Postgres
  * `DISTINCT ON` at `RDS_SCHEMA.md:573-605`), sequence-gap detection (W4,
  * `services/gap_detector/README.md`), and per-group top-N (O3/O4).
  *
  * All of these shuffle once on the partition key and sort locally — the
  * idiomatic Spark shape for "per key, in time order" logic. Partition keys
  * are the high-cardinality entity (symbol / user / service), so parallelism
  * scales with key count, not file count.
  */
object Windows {

  /** W1: previous-row deltas per key — `price_change = price - lag(price)`
    * and percentage form, ordered by (ts, tiebreak) for determinism.
    */
  def lagFeatures(
      rows: DataFrame,
      key: Column,
      tsMs: Column,
      price: Column,
      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tsMs, tieBreak)
    rows
      .withColumn("prev_price", lag(price, 1).over(w))
      .withColumn("price_change", round(price - col("prev_price"), 8))
      .withColumn(
        "price_change_pct",
        (price - col("prev_price")) / nullif(col("prev_price"), lit(0.0)) * 100)
  }

  /** W2/A9: latest row per key (`DISTINCT ON (key) ... ORDER BY ts DESC`).
    * Deterministic under ts ties via the descending tiebreak — which also
    * makes it the K4 `foreachBatch` sink body: replays (at-least-once)
    * converge, the contract of the reference's Redis `SETEX ...:latest`
    * (`redis_writer.py:67-112`).
    */
  def latestPerKey(rows: DataFrame, key: Column, tsMs: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tsMs.desc, tieBreak.desc)
    rows.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W4: sequence-gap detection — rows whose id jumped more than `tolerance`
    * vs the previous row in (ts, id) order per key. Returns the gap rows with
    * `prev_seq` and `gap` columns (reference: gap if `seq - prev_seq > 1` on
    * SBE update ids).
    */
  def sequenceGaps(
      rows: DataFrame,
      key: Column,
      tsMs: Column,
      seq: Column,
      tolerance: Long = 1L): DataFrame = {
    // prev = running MAX of seen ids, not lag: a replayed old id must
    // surface as a regression (negative gap) AND must not manufacture a
    // false forward gap on the next in-order id (lag against the replayed
    // id would). Matches the streaming twin (streaming/GapDetector), which
    // tracks max(seq) in state — batch backfills and the live detector now
    // agree on the same data.
    val w = Window.partitionBy(key).orderBy(tsMs, seq)
      .rowsBetween(Window.unboundedPreceding, -1)
    rows
      .withColumn("prev_seq", max(seq).over(w))
      .withColumn("gap", seq - col("prev_seq"))
      .withColumn(
        "kind",
        when(col("gap") > tolerance, "gap").when(col("gap") < 0, "regression"))
      .filter(col("kind").isNotNull)
  }

  /** O4: top-N rows per group by `ord` descending (tie-broken ascending by
    * `tieBreak`), with the rank retained.
    */
  def topNPerGroup(rows: DataFrame, key: Column, ord: Column, tieBreak: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord.desc, tieBreak)
    rows.withColumn("rank_in_group", row_number().over(w).cast("long")).filter(col("rank_in_group") <= n)
  }
}
