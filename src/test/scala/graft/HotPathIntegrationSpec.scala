package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Sbe
import graft.operators.Skew
import graft.streaming.HotPath

/** End-to-end hot path (SURVEY §3.1): SBE binary frames → decode expression
  * → event-time windowed features → latest-per-key sink — the reference's
  * wss→decoder→aggregator→Redis lifecycle as one streaming plan.
  */
class HotPathIntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("hot path: binary frames stream → decode → windowed bars → latest features") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val frames = mem.toDF().toDF("frame")
    val decoded = frames
      .select(Sbe.decodeTrade(col("frame")).as("d"))
      .filter(col("d").isNotNull)
      .select(
        timestamp_millis(col("d.ts_ms")).as("ts"),
        col("d.symbol").as("symbol"),
        col("d.price").as("price"),
        lit(1.0).as("qty"))
    val features = HotPath.windowedTradeStats(
      decoded, "ts", "symbol", "price", "qty",
      windowDuration = "1 minute", watermark = "30 seconds")
    val q = features.writeStream.outputMode("append")
      .format("memory").queryName("hotpath").start()

    def frame(tsMs: Long, id: Long, priceCents: Long, sym: String): Array[Byte] = {
      // reuse the encode UDF through a one-row DataFrame
      Seq((tsMs * 1000, id, priceCents, -2, false, sym))
        .toDF("us", "id", "m", "e", "mk", "s")
        .select(Sbe.encodeTrade($"us", $"id", $"m", $"e", $"mk", $"s").as("f"))
        .as[Array[Byte]].collect()(0)
    }
    mem.addData(frame(5000L, 1, 10000, "BTC")) // 100.00 in window 0
    mem.addData(frame(30000L, 2, 10200, "BTC")) // 102.00 in window 0
    mem.addData(frame(200000L, 3, 10400, "BTC")) // advances watermark past window 0
    q.processAllAvailable()
    val out = spark.table("hotpath").orderBy("open_time").collect()
    q.stop()
    assert(out.nonEmpty)
    assert(out(0).getAs[Long]("trade_count") === 2L)
    assert(math.abs(out(0).getAs[Double]("vwap") - 101.0) < 1e-9)

    // latest-feature view over the emitted feature rows (K4 analog)
    val latest = graft.operators.Windows.latestPerKey(
      spark.table("hotpath"), col("symbol"), unix_millis(col("open_time")),
      tieBreak = col("trade_count"))
    assert(latest.count() === 1L)
  }

  test("stream-stream join: trades enrich against time-bounded quote state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tMem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val qMem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val joined = HotPath.enrichTradesWithQuotes(
      tMem.toDF().toDF("ts", "symbol", "price"),
      qMem.toDF().toDF("qts", "symbol", "mid"),
      toleranceMs = 10000L)
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ss").start()
    def t(ms: Long) = new java.sql.Timestamp(ms)
    qMem.addData((t(1000), "BTC", 99.5), (t(4000), "BTC", 100.5), (t(50000), "BTC", 101.0))
    tMem.addData((t(5000), "BTC", 100.0)) // joins quotes at 1s and 4s, not 50s
    q.processAllAvailable()
    val out = spark.table("ss").orderBy("qts").collect()
    q.stop()
    assert(out.length === 2)
    assert(out.map(_.getAs[Double]("mid")).toSeq === Seq(99.5, 100.5))
    assert(math.abs(out(1).getAs[Double]("price_minus_mid") - (-0.5)) < 1e-9)
  }

  test("session_window: gapped events split, close events merge, late state evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sess = HotPath.sessionStats(
      mem.toDF().toDF("ts", "user", "v"),
      tsCol = "ts", key = "user", value = "v",
      gap = "10 seconds", watermark = "5 seconds")
    val q = sess.writeStream.outputMode("append").format("memory")
      .queryName("sess").start()
    def t(ms: Long) = new java.sql.Timestamp(ms)
    // u1: events at 1s,5s (merge: gap 4s < 10s) then 30s (new session);
    // u2: single event at 2s.
    mem.addData((t(1000), "u1", 1.0), (t(5000), "u1", 2.0), (t(2000), "u2", 5.0))
    mem.addData((t(30000), "u1", 3.0))
    // advance the watermark far enough to close every session
    mem.addData((t(120000), "u3", 0.0))
    q.processAllAvailable()
    val out = spark.table("sess").orderBy("user", "session_start").collect()
    q.stop()
    val u1 = out.filter(_.getAs[String]("user") == "u1")
    assert(u1.length === 2)
    assert(u1(0).getAs[Long]("n_events") === 2L) // 1s+5s merged
    assert(u1(0).getAs[Double]("total_value") === 3.0)
    // session extends gap past the last event
    assert(u1(0).getAs[java.sql.Timestamp]("session_end").getTime === 15000L)
    assert(u1(1).getAs[Long]("n_events") === 1L)
    assert(out.count(_.getAs[String]("user") == "u2") === 1)
  }

  test("Skew: salted two-phase aggregation equals direct aggregation") {
    val rnd = new scala.util.Random(13L)
    // 90% of rows on one hot key
    val rows = (0 until 2000).map { i =>
      val k = if (rnd.nextDouble() < 0.9) "HOT" else s"k${rnd.nextInt(10)}"
      (k, rnd.nextDouble() * 100, i.toLong)
    }.toDF("k", "v", "id")
    val salted = Skew.saltedBasicStats(rows, Seq(col("k")), col("v"), col("id"), buckets = 16)
    val direct = rows.groupBy("k").agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(27,8)")).cast("double").as("total"),
      min("v").as("min_value"),
      max("v").as("max_value"))
    val a = salted.orderBy("k").collect().map(_.toString)
    val b = direct.orderBy("k").collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
  }
}
