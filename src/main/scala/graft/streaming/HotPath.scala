package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming version of the reference's hot path — SURVEY §2.9 /
  * §3.1: decode → event-time windowed feature aggregation → keyed sinks.
  *
  * Deliberate semantic upgrades over the reference implementation (SURVEY
  * §7.5.1): the reference *buffers by processing time* (count>=10 OR 5 s,
  * `stream_aggregator.py:142-171`) while its docs specify event-time rolling
  * windows — this module implements the documented event-time semantics with
  * watermarked lateness instead of silent misplacement, and
  * `dropDuplicatesWithinWatermark` replaces the 1 h LRU seen-set
  * (`deduplication.py`) with bounded state of the same intent (T3).
  *
  * Scale: state is keyed by (symbol, window); the shuffle partitions by
  * symbol so state grows with key-count × window-count inside the watermark
  * horizon, independent of throughput. At-least-once sources + idempotent
  * `foreachBatch` sinks reproduce the reference's delivery contract (T4).
  */
object HotPath {

  /** T1/T2 + A1-streaming: event-time tumbling trade features per symbol.
    * `tsCol` must be a TimestampType event-time column.
    */
  def windowedTradeStats(
      stream: DataFrame,
      tsCol: String,
      symbol: String,
      price: String,
      qty: String,
      windowDuration: String = "1 minute",
      watermark: String = "10 seconds"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col(symbol))
      .agg(
        count(lit(1)).as("trade_count"),
        sum(col(qty)).as("volume"),
        min(col(price)).as("min_price"),
        max(col(price)).as("max_price"),
        (sum(col(price) * col(qty)) / sum(col(qty))).as("vwap"))
      .select(
        col(symbol),
        col("window.start").as("open_time"),
        col("trade_count"), col("volume"), col("min_price"), col("max_price"),
        col("vwap"))

  /** T5-session: event-time SESSION windows per key — the streaming twin of
    * [[graft.operators.Sessionize]] (same gap rule, merged by Spark's
    * session-window state store instead of a batch island sum). State is one
    * open session per live key, closed and emitted once the watermark passes
    * `gap` beyond the last event — so state is O(live keys), independent of
    * throughput.
    */
  def sessionStats(
      stream: DataFrame,
      tsCol: String,
      key: String,
      value: String,
      gap: String = "30 seconds",
      watermark: String = "10 seconds"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(key))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(value)).as("total_value"))
      .select(
        col(key),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** T3: bounded-state streaming dedup (the reference's per-symbol seen-set
    * with 1 h window / 100 k LRU cap).
    */
  def dedupStream(stream: DataFrame, tsCol: String, keys: Seq[String], watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** J3-streaming: stream-stream enrichment — each trade joined to quotes of
    * the same symbol within a bounded time range (quote at-or-before the
    * trade, at most `toleranceMs` old). Both sides watermarked so Spark can
    * discard quote state older than the tolerance: state stays
    * O(keys × tolerance × rate), not unbounded.
    */
  def enrichTradesWithQuotes(
      trades: DataFrame, // ts (timestamp), symbol, price
      quotes: DataFrame, // qts (timestamp), symbol, mid
      toleranceMs: Long,
      watermark: String = "30 seconds"): DataFrame = {
    val t = trades.withWatermark("ts", watermark)
    val q = quotes.withWatermark("qts", watermark)
    t.join(
      q,
      t("symbol") === q("symbol") &&
        q("qts") <= t("ts") &&
        // milliseconds verbatim: an integer-divided SECONDS interval would
        // truncate sub-second tolerances to zero (equality-only matches)
        q("qts") >= t("ts") - expr(s"INTERVAL $toleranceMs MILLISECONDS"),
      "inner")
      .select(
        t("symbol"), t("ts"), t("price"), q("qts"), q("mid"),
        (t("price") - q("mid")).as("price_minus_mid"))
  }
}
