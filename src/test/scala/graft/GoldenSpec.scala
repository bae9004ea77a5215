package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators._

/** Golden micro-fixtures pinning the semantic traps from SURVEY §7.5. */
class GoldenSpec extends SparkSpec {
  import spark.implicits._

  private def trades = Seq(
    // (symbol, ts_ms, price, qty, is_buyer_maker, trade_id)
    ("BTC", 0L, 100.0, 1.0, false, 1L),
    ("BTC", 1000L, 110.0, 2.0, true, 2L),
    ("BTC", 59999L, 105.0, 1.0, true, 3L), // last inside bar 0
    ("BTC", 60000L, 120.0, 4.0, false, 4L), // exactly on the boundary -> bar 1
    ("ETH", 500L, 10.0, 10.0, false, 5L)
  ).toDF("symbol", "ts_ms", "price", "qty", "is_buyer_maker", "trade_id")

  test("A1: buyer-maker=true counts as SELL volume (feature_builder.py:119-123)") {
    val out = TradeAggregates
      .tradeBatchStats(
        trades.filter($"symbol" === "BTC"),
        keys = Seq($"symbol"),
        price = $"price", qty = $"qty", isSell = $"is_buyer_maker",
        tsMs = $"ts_ms", tieBreak = $"trade_id")
      .collect()(0)
    assert(out.getAs[Double]("sell_volume") === 3.0) // trades 2 and 3
    assert(out.getAs[Double]("buy_volume") === 5.0) // trades 1 and 4
    assert(out.getAs[Double]("volume_imbalance") === 0.25) // (5-3)/8
  }

  test("A1: VWAP lies within [min,max] price and differs from plain avg") {
    val out = TradeAggregates
      .tradeBatchStats(trades, Seq($"symbol"), $"price", $"qty", $"is_buyer_maker",
        $"ts_ms", $"trade_id")
      .filter($"symbol" === "BTC").collect()(0)
    val vwap = out.getAs[Double]("vwap")
    assert(vwap >= out.getAs[Double]("min_price") && vwap <= out.getAs[Double]("max_price"))
    // (100 + 220 + 105 + 480) / 8 = 113.125
    assert(vwap === 113.125)
    assert(vwap !== out.getAs[Double]("avg_price"))
  }

  test("A4: a trade exactly on the minute boundary opens the next bar") {
    val bars = Bars
      .ohlcv(trades, $"symbol", $"ts_ms", $"price", $"qty", $"trade_id", 60000L)
      .filter($"symbol" === "BTC")
      .orderBy($"open_time_ms")
      .collect()
    assert(bars.length === 2)
    val b0 = bars(0)
    assert(b0.getAs[Long]("open_time_ms") === 0L)
    assert(b0.getAs[Double]("open_price") === 100.0)
    assert(b0.getAs[Double]("close_price") === 105.0) // ts 59999 stays in bar 0
    assert(b0.getAs[Double]("high_price") === 110.0)
    assert(bars(1).getAs[Double]("open_price") === 120.0)
  }

  test("D1: dedup keeps first row per key deterministically under ts ties") {
    val dup = Seq(
      ("BTC", 10L, 1.0, 100L), ("BTC", 10L, 2.0, 99L), ("BTC", 20L, 3.0, 101L)
    ).toDF("symbol", "ts_ms", "price", "trade_id")
    val out = SetOps
      .dedupFirst(dup, Seq($"symbol"), $"ts_ms", $"trade_id")
      .collect()(0)
    // same ts: lower trade_id wins
    assert(out.getAs[Long]("trade_id") === 99L)
  }

  test("AsOf.nearest picks min |Δt| within tolerance; equidistant -> earlier") {
    val left = Seq(("K", 1000L, 1L)).toDF("k", "lts", "lid")
    val right = Seq(
      ("K", 400L, "far_early"), ("K", 900L, "near_early"),
      ("K", 1100L, "near_late"), ("K", 5000L, "outside")
    ).toDF("k", "rts", "tag")
    val out = AsOf.nearest(left, right, "k", "lts", "rts", 2000L, Seq("tag"))
    // |900-1000| == |1100-1000|: tie breaks toward earlier right ts
    assert(out.select("tag").as[String].collect().toSeq === Seq("near_early"))
    // tolerance excludes 5000 even with no better match
    val far = AsOf.nearest(
      Seq(("K", 10000L, 2L)).toDF("k", "lts", "lid"),
      right, "k", "lts", "rts", 2000L, Seq("tag"))
    assert(far.count() === 0) // 5000 is 5000ms away > 2000
  }

  test("Labels: horizon join labels only ticks with a future grid point") {
    val grid = Labels.gridPrices(
      trades.filter($"symbol" === "BTC"), $"symbol", $"ts_ms", $"price", $"trade_id",
      gridMs = 60000L)
    val lab = Labels.horizonLabels(grid, horizonBuckets = 1, gridMs = 60000L)
      .orderBy($"feature_ts").collect()
    assert(lab.length === 2)
    assert(lab(0).getAs[Boolean]("is_valid"))
    assert(lab(0).getAs[Double]("future_price") === 120.0)
    assert(lab(0).getAs[Int]("direction") === 1) // 105 -> 120
    assert(!lab(1).getAs[Boolean]("is_valid")) // last tick has no future
  }

  test("J1: prediction with no bar inside tolerance gets null outcome (FIXTURES trap)") {
    val bars = Seq(("BTC", 0L, 60000L, 100.0)).toDF("symbol", "open_time_ms", "close_time_ms", "close_price")
    val preds = Seq(("BTC", 10_000_000L, 1L)).toDF("symbol", "target_ts", "prediction_id")
    val near = AsOf.nearest(preds, bars, "symbol", "target_ts", "close_time_ms",
      toleranceMs = 30000L, rightValueCols = Seq("close_price"))
    assert(near.count() === 0) // bar is ~10^7 ms away: no outcome
  }

  test("SBE: symbol longer than 127 bytes survives the unsigned length byte") {
    import graft.functions.Sbe
    val longSym = "X" * 200
    val df = Seq((1000000L, 1L, 100L, -2, false, longSym))
      .toDF("us", "id", "m", "e", "mk", "s")
    val d = df.select(Sbe.encodeTrade($"us", $"id", $"m", $"e", $"mk", $"s").as("f"))
      .select(Sbe.decodeTrade($"f").as("d")).select("d.symbol").as[String].collect()(0)
    assert(d === longSym) // a signed-byte read would truncate/corrupt at 127
  }

  test("operators tolerate empty inputs (0 rows out, no crash)") {
    val empty = spark.emptyDataset[(String, Long, Double, Double, Boolean, Long)]
      .toDF("symbol", "ts_ms", "price", "qty", "is_buyer_maker", "trade_id")
    assert(Bars.ohlcv(empty, $"symbol", $"ts_ms", $"price", $"qty", $"trade_id", 60000L)
      .count() === 0)
    assert(TradeAggregates.tradeBatchStats(empty, Seq($"symbol"), $"price", $"qty",
      $"is_buyer_maker", $"ts_ms", $"trade_id").count() === 0)
    assert(SetOps.dedupFirst(empty, Seq($"symbol"), $"ts_ms", $"trade_id").count() === 0)
    val emptyDocs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(TextDedup.nearDuplicates(emptyDocs, $"doc_id", $"text").count() === 0)
    assert(AsOf.nearest(empty, empty, "symbol", "ts_ms", "ts_ms", 1000L,
      Seq("price")).count() === 0)
  }

  test("S7: JSONL(.gz) reader with explicit schema skips malformed lines (PERMISSIVE)") {
    import java.nio.file.{Files, Paths}
    import java.util.zip.GZIPOutputStream
    val dir = Files.createTempDirectory("jsonl")
    val gz = new GZIPOutputStream(Files.newOutputStream(Paths.get(s"$dir/part-0.jsonl.gz")))
    gz.write(
      """{"symbol":"BTC","event_ts":1000,"price":100.5,"qty":1.0}
        |not json at all
        |{"symbol":"ETH","event_ts":2000,"price":10.25,"qty":2.0}
        |""".stripMargin.getBytes("UTF-8"))
    gz.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "symbol STRING, event_ts LONG, price DOUBLE, qty DOUBLE")
    val df = spark.read.schema(schema).json(dir.toString)
    val good = df.filter($"symbol".isNotNull)
    assert(good.count() === 2) // bad line dropped, gz transparent
    assert(good.filter($"symbol" === "BTC").select("price").as[Double].collect()(0) === 100.5)
  }

  test("TimeUnits.bucketStartMs is exact at large epochs") {
    val df = Seq(1706313599999L, 1706313600000L).toDF("ts_ms")
    val out = df.select(functions.TimeUnits.bucketStartMs($"ts_ms", 60000L).as("b"))
      .as[Long].collect().toSeq
    assert(out === Seq(1706313540000L, 1706313600000L))
  }
}
