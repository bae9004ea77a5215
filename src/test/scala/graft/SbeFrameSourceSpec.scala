package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.Sbe
import graft.sources.{GraftFs, SbeFramePartition, SbeFrameReaderFactory, SbeFrameSource}

/** End-to-end coverage for the `sbe-frames` DataSource V2 source: batch
  * read, micro-batch tailing of a growing capture directory, per-file
  * sequence numbering, and decode through the codegen expression.
  */
class SbeFrameSourceSpec extends SparkSpec {
  import spark.implicits._


  // test-side frame builder mirroring Sbe.encodeTrade's wire layout
  private def tradeFrame(tsUs: Long, id: Long, mant: Long, exp: Int, sym: String): Array[Byte] = {
    val s = sym.getBytes("UTF-8")
    val bb = ByteBuffer.allocate(8 + 27 + s.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(27.toShort).putShort(10000.toShort).putShort(1.toShort).putShort(0.toShort)
    bb.putLong(tsUs).putLong(id).putLong(mant).put(exp.toByte).put(0.toByte)
    bb.put(s.length.toByte).put(s)
    bb.array()
  }

  private def mkFeed(): File = {
    val d = Files.createTempDirectory("sbef_feed").toFile
    SbeFrameSource.writeFrameFile(
      new File(d, "cap_00000.sbef"),
      Seq(tradeFrame(1000000L, 1L, 12345L, -2, "BTC"), tradeFrame(2000000L, 2L, 999L, -1, "ETH")))
    SbeFrameSource.writeFrameFile(
      new File(d, "cap_00001.sbef"),
      Seq(tradeFrame(3000000L, 3L, 777L, -2, "BTC")))
    d
  }

  test("batch read: all frames, per-file byte offsets, decode through codegen expr") {
    val feed = mkFeed()
    val df = spark.read.format("sbe-frames").load(feed.toString)
    assert(df.count() === 3)
    // BTC trade frame = 8 header + 26 block + 1 symLen + 3 sym = 38 bytes,
    // +4 length prefix -> the second frame of cap_00000 starts at byte 42
    val offs = df.select("source_file", "frame_offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(offs === Seq(("cap_00000.sbef", 0L), ("cap_00000.sbef", 42L), ("cap_00001.sbef", 0L)))
    val dec = df
      .select(Sbe.decodeTrade(col("frame")).as("d"))
      .select(col("d.trade_id"), col("d.ts_ms"), round(col("d.price"), 2).as("price"), col("d.symbol"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(dec === Seq(
      (1L, 1000L, 123.45, "BTC"), (2L, 2000L, 99.9, "ETH"), (3L, 3000L, 7.77, "BTC")))
  }

  test("micro-batch stream tails new capture files with checkpointable offsets") {
    val feed = mkFeed()
    val q = spark.readStream.format("sbe-frames").load(feed.toString)
      .select(Sbe.decodeTrade(col("frame")).as("d"))
      .select("d.trade_id")
      .writeStream.outputMode("append").format("memory").queryName("sbef_tail")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sbef_tail").count() === 3)
      // a new capture file appears (the reference's reconnect chunk) —
      // the next batch picks up exactly the delta
      SbeFrameSource.writeFrameFile(
        new File(feed, "cap_00002.sbef"),
        Seq(tradeFrame(4000000L, 4L, 1L, 0, "SOL"), tradeFrame(5000000L, 5L, 2L, 0, "SOL")))
      q.processAllAvailable()
      val ids = spark.table("sbef_tail").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch (catch-up = N bounded batches)") {
    val feed = mkFeed() // 2 files, 3 frames
    val q = spark.readStream.format("sbe-frames")
      .option("maxFilesPerTrigger", "1")
      .load(feed.toString)
      .writeStream.outputMode("append").format("memory").queryName("sbef_limited")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sbef_limited").count() === 3)
      // 2 files at 1 file/trigger -> at least 2 non-empty micro-batches
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 2, s"expected >=2 bounded batches, saw $nonEmpty")
    } finally q.stop()
  }

  test("checkpoint offsets: name-anchored pass through, legacy index-counted fail") {
    val feed = mkFeed() // cap_00000 (2 frames), cap_00001 (1 frame)
    val stream = new graft.sources.SbeFrameMicroBatchStream(feed.toString, None)
    // the name-anchored format passes through untouched
    assert(stream.deserializeOffset("""{"file":"cap_00001.sbef","tailBytes":42}""")
      === graft.sources.SbeFrameOffset("cap_00001.sbef", 42L))
    // a legacy index-counted offset or unparseable JSON must fail the
    // restart loudly, never default to the empty offset (replaying every
    // consumed file)
    for (json <- Seq(
        """{"files":1,"tailBytes":42}""", """{"files":0,"tailBytes":0}""",
        """{"wat":true}""")) {
      val e = intercept[IllegalArgumentException](stream.deserializeOffset(json))
      assert(e.getMessage.contains("unrecognized offset JSON"), e.getMessage)
    }
  }

  test("full hot path on the connector: frames -> decode -> event-time windows") {
    val feed = mkFeed() // BTC@1s, ETH@2s, BTC@3s — one 1-minute window
    val stream = spark.readStream.format("sbe-frames").load(feed.toString)
      .select(Sbe.decodeTrade(col("frame")).as("d"))
      .select(
        (col("d.ts_ms") / 1000).cast("timestamp").as("event_ts"),
        col("d.symbol").as("symbol"),
        col("d.price").as("price"),
        lit(1.0).as("qty"))
    val agg = graft.streaming.HotPath
      .windowedTradeStats(stream, "event_ts", "symbol", "price", "qty")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("sbef_hotpath").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sbef_hotpath")
        .select("symbol", "trade_count", "vwap")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(rows === Seq(("BTC", 2L), ("ETH", 1L)))
    } finally q.stop()
  }

  test("empty directory yields an empty batch, not an error") {
    val d = Files.createTempDirectory("sbef_empty").toFile
    assert(spark.read.format("sbe-frames").load(d.toString).count() === 0)
  }

  test("live appends to the ACTIVE file are tailed at frame granularity") {
    val feed = mkFeed() // cap_00000 (2 frames), cap_00001 (1 frame)
    val q = spark.readStream.format("sbe-frames").load(feed.toString)
      .select(Sbe.decodeTrade(col("frame")).as("d")).select("d.trade_id")
      .writeStream.outputMode("append").format("memory").queryName("sbef_live")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sbef_live").count() === 3)
      // the capture appends a frame to the ACTIVE (last) file — no roll
      val active = new File(feed, "cap_00001.sbef")
      SbeFrameSource.appendFrameFile(active, Seq(tradeFrame(9000000L, 9L, 5L, 0, "BTC")))
      q.processAllAvailable()
      assert(spark.table("sbef_live").count() === 4)
      // an in-flight (truncated) append must NOT be consumed...
      val full = tradeFrame(9500000L, 10L, 6L, 0, "ETH")
      val out = new java.io.FileOutputStream(active, true)
      try {
        out.write(java.nio.ByteBuffer.allocate(4).putInt(full.length).array())
        out.write(full, 0, 10)
      } finally out.close()
      q.processAllAvailable()
      assert(spark.table("sbef_live").count() === 4)
      // ...until the remaining bytes land, then exactly that frame arrives
      val out2 = new java.io.FileOutputStream(active, true)
      try out2.write(full, 10, full.length - 10) finally out2.close()
      q.processAllAvailable()
      val ids = spark.table("sbef_live").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L, 9L, 10L))
    } finally q.stop()
  }

  test("retention deletes of consumed files cannot shift the replay offset") {
    // Name-anchored offsets: after files A,B are consumed and A is deleted
    // (retention), a restart from the checkpoint must read ONLY new file C —
    // index-counted offsets would shift and re-read B / skip C's content.
    val feed = mkFeed() // cap_00000 (2 frames) + cap_00001 (1 frame)
    val ck = Files.createTempDirectory("sbef_ck").toString
    val out = Files.createTempDirectory("sbef_out").toString
    def start() = spark.readStream.format("sbe-frames").load(feed.toString)
      .select(Sbe.decodeTrade(col("frame")).getField("trade_id").as("id"))
      .writeStream.option("checkpointLocation", ck)
      .outputMode("append").format("parquet").option("path", out).start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 3)
    } finally q.stop()
    assert(new File(feed, "cap_00000.sbef").delete()) // retention removes oldest
    SbeFrameSource.writeFrameFile(
      new File(feed, "cap_00002.sbef"), Seq(tradeFrame(4000000L, 4L, 1L, 0, "BTC")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L, 4L),
        s"offset shifted after retention: ${ids.toSeq}")
    } finally q2.stop()
  }

  test("a corrupt length prefix stops at the last good boundary, not a crash") {
    val d = Files.createTempDirectory("sbef_corrupt").toFile
    val f = new File(d, "cap_00000.sbef")
    SbeFrameSource.writeFrameFile(f, Seq(tradeFrame(1000000L, 1L, 5L, 0, "BTC")))
    // append a corrupt negative length prefix followed by garbage
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f, true))
    out.writeInt(-123456); out.write(Array.fill[Byte](64)(7)); out.close()
    val ids = spark.read.format("sbe-frames").load(d.toString)
      .select(Sbe.decodeTrade(col("frame")).getField("trade_id").as("id"))
      .as[Long].collect()
    assert(ids.toSeq === Seq(1L)) // good frame kept, corrupt tail ignored
  }

  test("a truncated tail frame reads as EOF, keeping the complete frames") {
    val d = Files.createTempDirectory("sbef_trunc").toFile
    val f = new File(d, "cap_00000.sbef")
    SbeFrameSource.writeFrameFile(
      f, Seq(tradeFrame(1000000L, 1L, 100L, -2, "BTC"), tradeFrame(2000000L, 2L, 200L, -2, "ETH")))
    // chop the file mid-way through the second frame (a live in-flight write)
    val bytes = Files.readAllBytes(f.toPath)
    Files.write(f.toPath, java.util.Arrays.copyOf(bytes, bytes.length - 5))
    val ids = spark.read.format("sbe-frames").load(d.toString)
      .select(Sbe.decodeTrade(col("frame")).as("d")).select("d.trade_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(1L))
  }

  test("cut at every byte: reader and boundary walk keep exactly the complete frames") {
    val conf = GraftFs.conf()
    val reader = SbeFrameReaderFactory(GraftFs.broadcastConf(conf))
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val frames = rnd.shuffle(Array.emptyByteArray +:
        Seq.fill(6)(Array.fill(rnd.nextInt(40))(rnd.nextInt().toByte))).map(_.toSeq)
      val d = Files.createTempDirectory("sbef_cut").toFile
      val full = new File(d, "full.sbef")
      SbeFrameSource.writeFrameFile(full, frames.map(_.toArray))
      val bytes = Files.readAllBytes(full.toPath)
      val ends = frames.scanLeft(0L)((pos, f) => pos + 4 + f.length) // every boundary
      assert(ends.last === bytes.length)
      val cut = new File(d, "cut.sbef")
      val path = new org.apache.hadoop.fs.Path(cut.toURI)
      for (n <- 0 to bytes.length) {
        Files.write(cut.toPath, java.util.Arrays.copyOf(bytes, n))
        val complete = ends.lastIndexWhere(_ <= n)
        val r = reader.createReader(SbeFramePartition(path.toString, 0L, -1L))
        val got = try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().getBinary(0).toSeq).toList
        finally r.close()
        assert(got === frames.take(complete), s"seed $seed, cut at $n")
        val fs = GraftFs.fs(path, conf)
        val st = fs.getFileStatus(path)
        for (from <- ends.take(complete + 1))
          assert(SbeFrameSource.completeFrameBoundary(fs, st, from) === ends(complete),
            s"seed $seed, cut at $n, walk from $from")
      }
    }
  }
}
