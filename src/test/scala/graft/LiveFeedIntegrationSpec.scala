package graft

import java.io.DataOutputStream
import java.net.ServerSocket
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._

import graft.functions.{Avro, Sbe}
import graft.sources.SocketCapture

/** End-to-end live ingest: a REAL socket writer races the streaming reader.
  *
  * [[graft.sources.SocketCapture]] journals frames into the active capture
  * file WHILE a Structured Streaming query tails the same directory through
  * the `sbe-frames` source — the claim under test is the source's
  * complete-frame-boundary admission (an in-flight append is never
  * half-consumed) against a genuinely concurrent writer, not a test-side
  * `appendFrameFile` between micro-batches. Covered for both wire formats:
  * SBE (codegen decode) and Avro (the Kinesis payload schemas).
  */
class LiveFeedIntegrationSpec extends SparkSpec {
  import spark.implicits._

  /** Serves `frames` in two halves, gated by a latch released mid-stream so
    * the second half lands while the streaming query is already running.
    */
  private def serveGated(
      frames: Seq[Array[Byte]], firstHalf: Int): (Int, CountDownLatch) = {
    val server = new ServerSocket(0)
    val release = new CountDownLatch(1)
    val t = new Thread(() => {
      val sock = server.accept()
      val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
      def send(fs: Seq[Array[Byte]]): Unit = {
        fs.foreach { f => out.writeInt(f.length); out.write(f) }
        out.flush()
      }
      send(frames.take(firstHalf))
      release.await()
      send(frames.drop(firstHalf))
      sock.close(); server.close()
    }, "gated-frame-server")
    t.setDaemon(true)
    t.start()
    (server.getLocalPort, release)
  }

  private def awaitCount(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      table: String, expected: Long): Long = {
    val deadline = System.currentTimeMillis() + 30000
    var n = -1L
    while (n != expected && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      n = spark.table(table).count()
      if (n != expected) Thread.sleep(100)
    }
    n
  }

  test("SBE: socket -> journal -> streaming tail -> decode, across a live append") {
    val frames = Tables.trades(spark, sf).filter(col("trade_id") < 200)
      .select(Sbe.encodeTrade(
        col("ts_ms") * 1000L, col("trade_id"),
        round(col("price") * 100).cast("long"), lit(-2),
        col("qty") > 50, upper(col("symbol"))).as("frame"))
      .orderBy("trade_id").collect().map(_.getAs[Array[Byte]]("frame")).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_live_sbe_").toFile
    val (port, release) = serveGated(frames, firstHalf = 120)
    val cap = new SocketCapture("localhost", port, dir.toString)
    val q = spark.readStream.format("sbe-frames").load(dir.toString)
      .select(Sbe.decodeTrade(col("frame")).getField("trade_id").as("id"))
      .writeStream.outputMode("append").format("memory").queryName("live_sbe")
      .start()
    try {
      assert(awaitCount(q, "live_sbe", 120) === 120, "first half not tailed")
      release.countDown() // second half arrives while the query runs
      cap.awaitCompletion()
      assert(awaitCount(q, "live_sbe", 200) === 200, "live append not tailed")
      val ids = spark.table("live_sbe").as[Long].collect().sorted
      assert(ids.toSeq === (0L until 200L), "frames lost or torn across the append")
    } finally { q.stop(); cap.close() }
  }

  test("Avro: socket -> journal -> streaming windowed agg, across a live append") {
    // The full hot-path loop for the Avro wire format: SocketCapture journals
    // Avro-framed payloads WHILE a streaming query tails the journal,
    // schema-resolved-decodes each frame, and maintains a watermarked
    // 1-minute event-time aggregation — the reference's Kinesis-consumer →
    // aggregator shape end-to-end on real wire bytes.
    val src = Tables.trades(spark, sf).filter(col("trade_id") < 150)
    val frames = src
      .select(Avro.encode(
        struct(
          upper(col("symbol")), col("ts_ms"), col("ts_ms") + 5L, col("trade_id"),
          col("price"), coalesce(col("qty"), lit(0.0)),
          col("trade_id") % 2 === 0, lit("sbe")),
        Avro.TradeSchemaJson).as("frame"))
      .orderBy("trade_id").collect().map(_.getAs[Array[Byte]]("frame")).toSeq
    // batch twin of the streaming agg = the expected final answer
    val expected = src
      .groupBy(upper(col("symbol")).as("symbol"),
        window(timestamp_millis(col("ts_ms")), "1 minute").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("symbol"), col("w.start").cast("long").as("ws"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_live_avro_").toFile
    val (port, release) = serveGated(frames, firstHalf = 80)
    val cap = new SocketCapture("localhost", port, dir.toString)
    val q = spark.readStream.format("sbe-frames").load(dir.toString)
      .select(Avro.decode(col("frame"), Avro.TradeSchemaJson).as("d"))
      .select(
        col("d.symbol").as("symbol"),
        timestamp_millis(col("d.event_ts")).as("ts"))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("symbol"), window(col("ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName("live_avro")
      .start()
    def total(): Long = {
      q.processAllAvailable()
      spark.table("live_avro").agg(sum("n")).head().getLong(0)
    }
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (total() != 80 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(total() === 80, "first half not aggregated")
      release.countDown() // second half arrives while the query runs
      cap.awaitCompletion()
      while (total() != 150 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(total() === 150, "live append not aggregated")
      val got = spark.table("live_avro")
        .select(col("symbol"), col("w.start").cast("long").as("ws"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === expected, "streaming windowed agg diverged from batch twin")
    } finally { q.stop(); cap.close() }
  }
}
