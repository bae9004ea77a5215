package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Bronze
import graft.streaming.HotPath
import graft.operators.{Multimodal, Windows}
import graft.functions.Sbe

class BronzeStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("Bronze: partitioned write + incremental watermark read prunes partitions") {
    val dir = Files.createTempDirectory("bronze").toString
    val day0 = 1704067200000L // 2024-01-01
    val rows = Seq(
      (1L, day0 + 1000L, 10.0),
      (2L, day0 + 90000000L, 20.0), // next day
      (3L, day0 + 180000000L, 30.0) // day 3
    ).toDF("trade_id", "ts_ms", "price")
    Bronze.writePartitioned(rows, col("ts_ms"), dir)

    // watermark at day 2 start, overlap 1h: only rows 2 and 3 survive
    val got = Bronze
      .readIncremental(spark, dir, "ts_ms", day0 + 90000000L - 1, 3600000L)
      .select("trade_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(2L, 3L))

    // partition layout on disk is hive-style
    val yyyy = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("yyyy="))
    assert(yyyy.nonEmpty)
  }

  test("Bronze: alias normalization coalesces qty|volume") {
    val df = Seq((Some(1.0), None: Option[Double]), (None, Some(2.0)))
      .toDF("qty", "volume")
    val out = Bronze.normalizeAliases(df, Map("qty" -> Seq("qty", "volume")))
      .select("qty").as[Double].collect().toSeq
    assert(out === Seq(1.0, 2.0))
  }

  test("Bronze: watermark store roundtrip") {
    val dir = Files.createTempDirectory("wm").toString + "/wm"
    assert(Bronze.loadWatermark(spark, dir, "BTC").isEmpty)
    Bronze.saveWatermark(spark, dir, "BTC", 12345L)
    assert(Bronze.loadWatermark(spark, dir, "BTC").contains(12345L))
  }

  test("Bronze: bucketed tables join without any exchange") {
    spark.sql("DROP TABLE IF EXISTS bucketed_trades")
    spark.sql("DROP TABLE IF EXISTS bucketed_notional")
    val t = Tables.trades(spark, sf).select("trade_id", "symbol", "price", "qty")
    Bronze.writeBucketed(t, "bucketed_trades", "trade_id", 8, Some("trade_id"))
    Bronze.writeBucketed(
      t.select(col("trade_id"), (col("price") * col("qty")).as("notional")),
      "bucketed_notional", "trade_id", 8, Some("trade_id"))
    // disable broadcast so the planner actually uses the bucketing (tiny
    // test tables would otherwise broadcast, which bypasses co-location)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketed_trades")
        .join(spark.table("bucketed_notional"), "trade_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(600)) // co-located
      assert(plan.contains("Bucketed: true"), plan.take(600))
      assert(joined.count() === t.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE bucketed_trades")
    spark.sql("DROP TABLE bucketed_notional")
  }

  test("Bronze: re-anchor swaps state versions atomically via the pointer") {
    val base = Files.createTempDirectory("anchor").toString
    assert(Bronze.readCurrent(spark, base).isEmpty)
    val v1 = Bronze.reAnchor(spark, base, Seq(("BTC", 1.0)).toDF("symbol", "state"))
    assert(v1 === 1L)
    assert(Bronze.readCurrent(spark, base).get.count() === 1L)
    val v2 = Bronze.reAnchor(spark, base, Seq(("BTC", 2.0), ("ETH", 3.0)).toDF("symbol", "state"))
    assert(v2 === 2L)
    val cur = Bronze.readCurrent(spark, base).get
    assert(cur.count() === 2L)
    assert(cur.filter($"symbol" === "BTC").select("state").as[Double].collect()(0) === 2.0)
  }

  test("VectorOps: SRP-LSH near-dup pairs are a subset of brute-force pairs") {
    import graft.operators.VectorOps
    val rnd = new scala.util.Random(9L)
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    // plant exact duplicates (cosine 1.0, same bucket by construction)
    val planted = (0 until 3).map(i => (100L + i, base(i)._2))
    val df = (base ++ planted).toDF("id", "embedding")
    val lsh = VectorOps.nearDupLsh(df, dim = 16, threshold = 0.9, nBits = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = VectorOps.nearDupPairs(
      df.withColumn("block", lit(1)), threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    (0 until 3).foreach(i => assert(lsh.contains((i.toLong, 100L + i))))
  }

  test("HotPath: event-time windows aggregate out-of-order input; late data beyond watermark dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double, Double)]
    val stream = mem.toDF().toDF("ts", "symbol", "price", "qty")
    val agg = HotPath.windowedTradeStats(stream, "ts", "symbol", "price", "qty",
      windowDuration = "1 minute", watermark = "30 seconds")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("hot").start()
    def t(ms: Long) = new java.sql.Timestamp(ms)
    // out-of-order within the watermark: both land in window [0,60s)
    mem.addData((t(5000), "BTC", 100.0, 1.0))
    mem.addData((t(2000), "BTC", 110.0, 1.0))
    // advance event time far enough to close the first window
    mem.addData((t(200000), "BTC", 120.0, 1.0))
    q.processAllAvailable()
    // too-late event for window [0,60s): must NOT reopen it
    mem.addData((t(1000), "BTC", 999.0, 9.0))
    mem.addData((t(300000), "BTC", 121.0, 1.0))
    q.processAllAvailable()
    val out = spark.table("hot").orderBy("open_time").collect()
    q.stop()
    assert(out.length >= 1)
    val w0 = out(0)
    assert(w0.getAs[Long]("trade_count") === 2L) // late 999.0 excluded
    assert(w0.getAs[Double]("vwap") === 105.0)
  }

  test("HotPath: streaming dedup within watermark removes duplicate ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    val stream = mem.toDF().toDF("ts", "symbol", "trade_id")
    val q = HotPath
      .dedupStream(stream, "ts", Seq("symbol", "trade_id"), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    def t(ms: Long) = new java.sql.Timestamp(ms)
    mem.addData((t(1000), "BTC", 1L), (t(2000), "BTC", 1L), (t(3000), "BTC", 2L))
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n === 2L)
  }

  test("HotPath: latest-per-key batch sink is idempotent") {
    val batch = Seq(("BTC", 1L, 1.0), ("BTC", 2L, 2.0), ("ETH", 1L, 3.0))
      .toDF("symbol", "ts_ms", "v")
    val once = Windows.latestPerKey(batch, col("symbol"), col("ts_ms"), col("v"))
    val twice = Windows.latestPerKey(once, col("symbol"), col("ts_ms"), col("v"))
    assert(twice.orderBy("symbol").select("v").as[Double].collect().toSeq === Seq(2.0, 3.0))
  }

  test("SBE: trade frame decode roundtrip, µs->ms floor, foreign template -> null") {
    val df = Seq((1704067200123456L, 42L, 4523050L, -2, true, "BTCUSDT"))
      .toDF("ts_us", "tid", "mant", "exp", "maker", "sym")
    val enc = df.select(Sbe.encodeTrade($"ts_us", $"tid", $"mant", $"exp", $"maker", $"sym").as("f"))
    val d = enc.select(Sbe.decodeTrade($"f").as("d")).select("d.*").collect()(0)
    assert(d.getAs[Long]("ts_ms") === 1704067200123L)
    assert(d.getAs[Long]("trade_id") === 42L)
    assert(math.abs(d.getAs[Double]("price") - 45230.50) < 1e-9)
    assert(d.getAs[Boolean]("is_buyer_maker"))
    assert(d.getAs[String]("symbol") === "BTCUSDT")
    // foreign templateId: flip bytes 2-3
    val bad = enc.select(Sbe.decodeTrade(expr(
      "concat(substring(f, 1, 2), X'FFFF', substring(f, 5, length(f)-4))")).as("d"))
    assert(bad.filter($"d".isNotNull).count() === 0)
  }

  test("SBE: BBA frame decode roundtrip") {
    val df = Seq((1704067200123456L, 4523050L, 4523150L, 150L, 220L, -2, "BTCUSDT"))
      .toDF("us", "bm", "am", "bs", "as_", "e", "sym")
    val d = df
      .select(Sbe.encodeBba($"us", $"bm", $"am", $"bs", $"as_", $"e", $"sym").as("f"))
      .select(Sbe.decodeBba($"f").as("d")).select("d.*").collect()(0)
    assert(d.getAs[Long]("ts_ms") === 1704067200123L)
    assert(math.abs(d.getAs[Double]("bid_px") - 45230.50) < 1e-9)
    assert(math.abs(d.getAs[Double]("ask_px") - 45231.50) < 1e-9)
    assert(math.abs(d.getAs[Double]("bid_sz") - 1.50) < 1e-9)
    assert(d.getAs[String]("symbol") === "BTCUSDT")
  }

  test("SBE: depth frame decode walks repeating groups with explicit counts") {
    val df = Seq((1704067200000000L, 100L, 105L, Seq(4523000L, 4522900L), Seq(4523100L, 4523200L, 4523300L), -2, "BTCUSDT"))
      .toDF("us", "fid", "lid", "bids", "asks", "e", "sym")
    val d = df
      .select(Sbe.encodeDepth($"us", $"fid", $"lid", $"bids", $"asks", $"e", $"sym").as("f"))
      .select(Sbe.decodeDepth($"f").as("d"))
      .select(
        $"d.first_update_id", $"d.final_update_id",
        expr("size(d.bids)").as("nb"), expr("size(d.asks)").as("na"),
        expr("d.bids[0].price").as("b0p"), expr("d.bids[0].qty").as("b0q"),
        expr("d.asks[2].price").as("a2p"), $"d.symbol")
      .collect()(0)
    assert(d.getAs[Long]("first_update_id") === 100L)
    assert(d.getAs[Long]("final_update_id") === 105L)
    assert(d.getAs[Int]("nb") === 2 && d.getAs[Int]("na") === 3)
    assert(math.abs(d.getAs[Double]("b0p") - 45230.00) < 1e-9)
    assert(math.abs(d.getAs[Double]("b0q") - 45230.01) < 1e-9)
    assert(math.abs(d.getAs[Double]("a2p") - 45233.00) < 1e-9)
  }

  test("Bronze -> file stream: partitioned bronze parquet drives a streaming window aggregation") {
    val dir = Files.createTempDirectory("bronze_stream").toString
    val day0 = 1704067200000L
    val rows = Seq(
      ("BTC", day0 + 1000L, 100.0, 1.0, 1L),
      ("BTC", day0 + 2000L, 110.0, 1.0, 2L),
      ("BTC", day0 + 120000L, 120.0, 1.0, 3L)
    ).toDF("symbol", "ts_ms", "price", "qty", "trade_id")
    Bronze.writePartitioned(rows, col("ts_ms"), dir)
    // All files in ONE trigger: with per-file triggers the arrival order is
    // nondeterministic and the watermark can advance past window 0 before
    // its rows arrive (they'd be dropped as late — correct semantics, wrong
    // test). The no-data batch after the single trigger emits the closed
    // window deterministically.
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val agg = HotPath.windowedTradeStats(stream, "ts", "symbol", "price", "qty",
      windowDuration = "1 minute", watermark = "0 seconds")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("bstream").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("bstream").orderBy("open_time").collect()
    assert(out.length >= 1)
    assert(out(0).getAs[Long]("trade_count") === 2L)
  }

  test("Multimodal: batched mapPartitions feature extraction over binary payloads") {
    val media = Seq((1L, "hello"), (2L, ""), (3L, "abc"))
      .toDF("id", "s")
      .select($"id", $"s".cast("binary").as("content"))
    val out = Multimodal.extractFeaturesBatched(media, batchSize = 2)
      .orderBy("id").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("feat_len") === 5L)
    assert(out(1).getAs[Double]("feat_mean_byte") === 0.0)
    val abcMean = ('a'.toInt + 'b'.toInt + 'c'.toInt) / 3.0
    assert(math.abs(out(2).getAs[Double]("feat_mean_byte") - abcMean) < 1e-12)
  }

  test("Multimodal: frame sampling slices payload bytes") {
    val media = Seq((1L, "0123456789")).toDF("id", "s")
      .select($"id", $"s".cast("binary").as("content"))
    val frames = media.select(Multimodal.frameSample($"content", 5).as("fr"))
      .select(expr("transform(fr, b -> cast(b as string))").as("strs"))
      .as[Seq[String]].collect()(0)
    assert(frames === Seq("01", "23", "45", "67", "89"))
  }
}
