package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** Join and set-operation queries (SURVEY §2.3 / §2.7). */
object JoinQueries {
  private val T = Tables.tradesOracleCte

  /** 1-minute bars reused by the as-of queries. */
  private def bars(s: SparkSession, dir: String): DataFrame =
    Bars.ohlcv(
      Tables.trades(s, dir),
      symbol = col("symbol"), tsMs = col("ts_ms"), price = col("price"),
      qty = col("qty"), tieBreak = col("trade_id"), barMs = 60000L)

  private val barsCte =
    s"""bars AS (
       |  SELECT symbol, (ts_ms // 60000) * 60000 AS open_time_ms,
       |         last(price ORDER BY ts_ms, trade_id) AS close_price
       |  FROM t GROUP BY 1, 2)""".stripMargin

  /** J1 + P11 — prediction-outcome as-of join (RDS_SCHEMA.md:703-756):
    * actual price = close of the bar containing target_ts, else the bar
    * whose close_time is nearest within ±30 min (scaled from ±30 s), else
    * null. COALESCE fallback chain exercised via outcome_source.
    */
  private def asofOutcomes(s: SparkSession, dir: String): DataFrame = {
    // Predictions are one symbol's trades; filtering the bars to it here
    // pushes the filter into their scan. Catalyst cannot infer it through
    // the as-of node, so otherwise every symbol's bars are aggregated,
    // shuffled and sorted into the merge and never matched.
    val predSymbol = col("symbol") === "purchase"
    val b = bars(s, dir)
      .filter(predSymbol)
      .select(
        col("symbol"), col("open_time_ms"),
        (col("open_time_ms") + 60000L).as("close_time_ms"), col("close_price"))
    val preds = Tables.trades(s, dir)
      .filter(predSymbol)
      .select(
        col("trade_id").as("prediction_id"), col("symbol"),
        col("ts_ms").as("prediction_ts"),
        (col("ts_ms") + 600000L).as("target_ts"),
        col("price").as("current_price"))
    val exact = b.select(
      col("symbol").as("esym"), col("open_time_ms").as("ebar"),
      col("close_price").as("exact_price"))
    val bSel = b.select(col("symbol"), col("close_time_ms"), col("close_price"))
    val nearRaw = AsOf.nearest(
      preds, bSel,
      key = "symbol", leftTs = "target_ts", rightTs = "close_time_ms",
      toleranceMs = 1800000L, rightValueCols = Seq("close_price"))
    val near = nearRaw.select(col("prediction_id").as("pid"), col("close_price").as("near_price"))
    preds
      .join(
        exact,
        preds("symbol") === col("esym") &&
          graft.functions.TimeUnits.bucketStartMs(preds("target_ts"), 60000L) === col("ebar"),
        "left")
      .join(near, preds("prediction_id") === col("pid"), "left")
      .select(
        col("prediction_id"), col("symbol"), col("target_ts"), col("current_price"),
        coalesce(col("exact_price"), col("near_price")).as("actual_price"),
        when(col("exact_price").isNotNull, "exact")
          .when(col("near_price").isNotNull, "nearest")
          .otherwise("none").as("outcome_source"),
        round(coalesce(col("exact_price"), col("near_price")) - col("current_price"), 8)
          .as("prediction_error"))
  }

  /** J3 — stream-static enrichment: each trade gets the most recent quote
    * mid at-or-before its timestamp (vwap_minus_mid input,
    * DATA_PIPELINE.md:129,153) via a backward as-of join.
    */
  private def enrichLatestMid(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.trades(s, dir)
    val quotes = t.filter(pmod(col("trade_id"), lit(2)) === 0)
      .select(col("symbol"), col("ts_ms"), col("trade_id").as("qid"), col("price").as("mid"))
    val tr = t.filter(pmod(col("trade_id"), lit(2)) === 1)
      .select("symbol", "ts_ms", "trade_id", "price")
    AsOf
      .backward(tr, quotes, key = "symbol", leftTs = "ts_ms", rightTs = "ts_ms",
        toleranceMs = 3600000L, rightValueCols = Seq("mid", "qid"), rightTieBreak = "qid")
      .select(
        col("symbol"), col("trade_id"), col("ts_ms"), col("price"),
        col(AsOf.RightTs).as("quote_ts"), col("mid"),
        round(col("price") - col("mid"), 8).as("price_minus_mid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // j1b/j1c name the Catalyst-node and merge-exec forms, which are now
    // the one as-of operator: all three run the same plan and oracle.
    "j1_asof_outcomes" -> asofOutcomes,
    "j1b_asof_catalyst_node" -> asofOutcomes,
    "j1c_asof_merge_exec" -> asofOutcomes,
    // J2 — 10-ahead label self-join on the feature grid (S3_SCHEMA.md:629-663);
    // 2 s grid scaled to 2 min, 10 s horizon to 10 min (5 buckets).
    "j2_horizon_labels" -> { (s, dir) =>
      val grid = Labels.gridPrices(
        Tables.trades(s, dir),
        symbol = col("symbol"), tsMs = col("ts_ms"), price = col("price"),
        tieBreak = col("trade_id"), gridMs = 120000L)
      Labels.horizonLabels(grid, horizonBuckets = 5, gridMs = 120000L)
    },
    // J5 — multi-way equi-join with broadcast dims (RDS_SCHEMA.md:573-661
    // analog): revenue per region/nation across the star schema.
    // ScanFill (r17 opt): all four join probes + the revenue partial
    // aggregate run inside the fact scan stage — one task on the bench
    // file (diag: 1.5 s task CPU at ~0.9-way). Filled on the JOIN key so
    // a non-broadcast orders join could reuse the exchange outright.
    "j5_star_join_revenue" -> { (s, dir) =>
      val li = ScanFill.fill(Tables.lineitem(s, dir), col("l_orderkey"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_lines"),
          // Final round: double→high-scale-decimal conversion of computed
          // products can differ by 1 ulp across engines; 2 decimals is far
          // above that noise floor.
          round(
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(27,10)"))
              .cast("double"),
            2).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    },
    "j3_enrich_latest_mid" -> enrichLatestMid,
    // j3b names the merge-exec form, now the one as-of operator
    "j3b_asof_merge_backward" -> enrichLatestMid,
    // U1/J4 — SBE+REST union with source_mix provenance (S3_SCHEMA.md:352).
    "u1_source_mix" -> { (s, dir) =>
      val t = Tables.trades(s, dir)
      val sbe = t.filter(pmod(col("trade_id"), lit(2)) === 0).withColumn("source", lit("sbe"))
      val rest = t.filter(pmod(col("trade_id"), lit(2)) === 1).withColumn("source", lit("rest"))
      SetOps.sourceMix(sbe, rest, symbol = "symbol", tsMs = "ts_ms", bucketMs = 3600000L)
    },
    // U3 — schema-evolution union: two bronze generations with different
    // column sets merged BY NAME (`unionByName(allowMissingColumns)`),
    // missing columns null-filled — the incremental-ingest reality where an
    // old partition predates a newly added field. Positional union would
    // silently transpose columns here.
    "u3_union_evolve" -> { (s, dir) =>
      val t = Tables.trades(s, dir)
      val v1 = t.filter(col("trade_id") < 5000)
        .select(col("trade_id"), col("symbol"), col("price"))
      val v2 = t.filter(col("trade_id") >= 5000)
        .select(col("trade_id"), col("price"), col("symbol"), col("qty"))
      v1.unionByName(v2, allowMissingColumns = true)
    },
    // U2 — anti-join dedup shape: customers with no high-value order.
    "u2_anti_customers" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 250000.0)
        .select(col("o_custkey").as("c_custkey"))
      SetOps.exceptSeen(c, o, Seq("c_custkey")).select("c_custkey", "c_name")
    },
    // U2/J5 — semi-join: customers with at least one open order.
    "u2_semi_customers" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").select("c_custkey", "c_name")
    },
    // T3/U2/D — exact dedup keeping first-in-time per (user, symbol) key.
    "d1_dedup_first" -> { (s, dir) =>
      SetOps
        .dedupFirst(
          Tables.trades(s, dir),
          keys = Seq(col("user_id"), col("symbol")),
          tsMs = col("ts_ms"), tieBreak = col("trade_id"))
        .select("user_id", "symbol", "trade_id", "ts_ms", "price")
    }
  )

  private val j1OracleSql: String =
    s"""WITH t AS ($T),
         |$barsCte,
         |preds AS (
         |  SELECT trade_id AS prediction_id, symbol, ts_ms AS prediction_ts,
         |         ts_ms + 600000 AS target_ts, price AS current_price
         |  FROM t WHERE symbol = 'purchase'),
         |exact AS (
         |  SELECT p.prediction_id, b.close_price AS exact_price
         |  FROM preds p JOIN bars b
         |    ON b.symbol = p.symbol
         |   AND b.open_time_ms = (p.target_ts // 60000) * 60000),
         |near AS (
         |  SELECT prediction_id, close_price AS near_price FROM (
         |    SELECT p.prediction_id, b.close_price,
         |      row_number() OVER (PARTITION BY p.prediction_id
         |        ORDER BY abs((b.open_time_ms + 60000) - p.target_ts), b.open_time_ms + 60000) AS rn
         |    FROM preds p JOIN bars b
         |      ON b.symbol = p.symbol
         |     AND abs((b.open_time_ms + 60000) - p.target_ts) <= 1800000)
         |  WHERE rn = 1)
         |SELECT p.prediction_id, p.symbol, p.target_ts, p.current_price,
         |  coalesce(e.exact_price, n.near_price) AS actual_price,
         |  CASE WHEN e.exact_price IS NOT NULL THEN 'exact'
         |       WHEN n.near_price IS NOT NULL THEN 'nearest'
         |       ELSE 'none' END AS outcome_source,
         |  round(coalesce(e.exact_price, n.near_price) - p.current_price, 8) AS prediction_error
         |FROM preds p
         |LEFT JOIN exact e USING (prediction_id)
         |LEFT JOIN near n USING (prediction_id)""".stripMargin

  private val j3OracleSql: String =
    s"""WITH t AS ($T),
       |quotes AS (
       |  SELECT symbol, ts_ms AS qts, trade_id AS qid, price AS mid
       |  FROM t WHERE trade_id % 2 = 0),
       |tr AS (SELECT symbol, ts_ms, trade_id, price FROM t WHERE trade_id % 2 = 1),
       |j AS (
       |  SELECT tr.symbol, tr.trade_id, tr.ts_ms, tr.price, q.qts, q.mid,
       |    row_number() OVER (PARTITION BY tr.symbol, tr.trade_id
       |                       ORDER BY q.qts DESC, q.qid DESC) AS rn
       |  FROM tr JOIN quotes q
       |    ON q.symbol = tr.symbol AND q.qts <= tr.ts_ms AND tr.ts_ms - q.qts <= 3600000)
       |SELECT symbol, trade_id, ts_ms, price, qts AS quote_ts, mid,
       |  round(price - mid, 8) AS price_minus_mid
       |FROM j WHERE rn = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "j1_asof_outcomes" -> j1OracleSql,
    "j1b_asof_catalyst_node" -> j1OracleSql,
    "j1c_asof_merge_exec" -> j1OracleSql,
    "j3_enrich_latest_mid" -> j3OracleSql,
    "j3b_asof_merge_backward" -> j3OracleSql,
    "j2_horizon_labels" ->
      s"""WITH t AS ($T),
         |grid AS (
         |  SELECT symbol, ts_ms // 120000 AS bucket,
         |         last(price ORDER BY ts_ms, trade_id) AS px
         |  FROM t GROUP BY 1, 2)
         |SELECT f.symbol, f.bucket * 120000 AS feature_ts,
         |  f.px AS current_price, g.px AS future_price,
         |  CASE WHEN f.px > 0 AND g.px > 0 THEN round(ln(g.px / f.px), 8) + 0.0 END AS log_return,
         |  CASE WHEN g.px > f.px THEN 1 WHEN g.px < f.px THEN -1
         |       WHEN g.px IS NOT NULL THEN 0 END AS direction,
         |  g.px IS NOT NULL AS is_valid
         |FROM grid f LEFT JOIN grid g
         |  ON g.symbol = f.symbol AND g.bucket = f.bucket + 5""".stripMargin,
    "j5_star_join_revenue" ->
      """SELECT r_name, n_name,
        |  count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,10))) AS DOUBLE), 2) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "u1_source_mix" ->
      s"""WITH t AS ($T),
         |m AS (
         |  SELECT symbol, ts_ms,
         |    CASE WHEN trade_id % 2 = 0 THEN 'sbe' ELSE 'rest' END AS source
         |  FROM t)
         |SELECT symbol, (ts_ms // 3600000) * 3600000 AS bucket_ms,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN source = 'sbe' THEN 1 ELSE 0 END) AS BIGINT) AS n_sbe,
         |  CAST(sum(CASE WHEN source = 'rest' THEN 1 ELSE 0 END) AS BIGINT) AS n_rest,
         |  CASE WHEN n_sbe > 0 AND n_rest > 0 THEN 'mixed'
         |       WHEN n_sbe > 0 THEN 'sbe' ELSE 'rest' END AS source_mix
         |FROM m GROUP BY 1, 2""".stripMargin,
    "u3_union_evolve" ->
      s"""WITH t AS ($T)
         |SELECT trade_id, symbol, price, NULL::DOUBLE AS qty
         |FROM t WHERE trade_id < 5000
         |UNION ALL
         |SELECT trade_id, symbol, price, qty FROM t WHERE trade_id >= 5000""".stripMargin,
    "u2_anti_customers" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000.0)""".stripMargin,
    "u2_semi_customers" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin,
    "d1_dedup_first" ->
      s"""WITH t AS ($T),
         |r AS (
         |  SELECT user_id, symbol, trade_id, ts_ms, price,
         |    row_number() OVER (PARTITION BY user_id, symbol ORDER BY ts_ms, trade_id) AS rn
         |  FROM t)
         |SELECT user_id, symbol, trade_id, ts_ms, price FROM r WHERE rn = 1""".stripMargin
  )
}
