package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.functions.Sbe
import graft.streaming.{BookState, GridTicker, HotPath}

/** The streaming workload: an open-loop generator appends SBE frames to an
  * `sbe-frames` journal on a fixed schedule; three streaming queries read
  * it through `SbeFrameSource`, decode with `Sbe`, and run the hot path's
  * three legs (`HotPath.windowedTradeStats`, `GridTicker.ticks`,
  * `BookState.maintain`) into `foreachBatch` sinks that stamp when each row
  * becomes visible. Afterwards the journal is replayed from offset 0 into
  * fresh checkpoints (the drain passes). The live outputs and those of the
  * last drain are compared with a plain Scala computation over the
  * generated events.
  */
object HotPathWorkload {
  val Rate = 5000 // events per second
  val Symbols = 64
  val HotShare = 0.5
  val TradeShare = 0.6
  val OutOfOrderShare = 0.02
  val LateShare = 0.001
  val DelayMs = 2000L // watermark delay of every leg
  val WindowMs = 1000L // HotPath window
  val GridMs = 2000L // GridTicker step
  /** Event time a row needs to become final (window plus watermark delay). */
  val FinalMs = WindowMs + DelayMs
  /** Rows final in the first part of the live phase are not measured: the
    * queries are still settling after set-up. The live phase runs this
    * much plus [[FinalMs]] longer than the run's seconds, so that the rows
    * of that many seconds become final and are measured while it runs.
    */
  val LiveWarmupMs = 4000L
  val Drains = 5 // the first (first_pass_s) and four warm ones (wall_s)
  val Legs = Seq("streaming.HotPath", "streaming.GridTicker", "streaming.BookState")

  def symbolName(i: Int): String = if (i == 0) "BTCUSDT" else f"S$i%02dUSDT"
  def basePrice(sym: Int): Long = 100000L + sym * 5000L // mantissa, exponent -2

  /** One generated event. `tsMs` is its event time; `dueMs` when the
    * generator is scheduled to append it (both epoch ms once the live phase
    * starts; warm-up events are due at once).
    */
  final case class Ev(
      trade: Boolean, sym: Int, var tsMs: Long, var dueMs: Long, late: Boolean,
      priceM: Long, tradeId: Long, firstId: Long,
      bids: Array[(Long, Long)], asks: Array[(Long, Long)]) {
    def levels: Int = bids.length + asks.length
  }

  /** The seeded event schedule: a warm-up segment holding one trade and one
    * depth update per symbol, then `seconds` of events at [[Rate]].
    * Offsets are relative; [[run]] adds the live start time.
    */
  def schedule(seed: Long, seconds: Double): (Seq[Ev], Seq[Ev]) = {
    val rnd = new scala.util.Random(seed)
    val nextId = Array.fill(Symbols)(1L)
    var lateCount = 0
    def depth(sym: Int, ts: Long, due: Long, late: Boolean): Ev = {
      def side(sign: Int) = Array.fill(1 + rnd.nextInt(3)) {
        val px = basePrice(sym) + sign * (1 + rnd.nextInt(40))
        val qty = if (rnd.nextDouble() < 0.1) 0L else 1L + rnd.nextInt(999)
        (px, qty)
      }
      val b = side(-1); val a = side(1)
      val first = nextId(sym)
      nextId(sym) += b.length + a.length
      Ev(trade = false, sym, ts, due, late, 0L, 0L, first, b, a)
    }
    def trade(i: Int, sym: Int, ts: Long, due: Long, late: Boolean): Ev =
      Ev(trade = true, sym, ts, due, late,
        basePrice(sym) + rnd.nextInt(2001) - 1000, i.toLong, 0L, Array.empty, Array.empty)
    var i = 0
    // first observations spread over one grid step, so the symbols' tick
    // grids (anchored on them) fall at different phases
    val warm = (0 until Symbols).flatMap { s =>
      val t = trade(i, s, -GridMs + s * GridMs / Symbols, 0L, late = false); i += 1
      val d = depth(s, -GridMs + s * GridMs / Symbols, 0L, late = false); i += 1
      Seq(t, d)
    }
    val n = (Rate * seconds).toInt
    val live = (0 until n).map { k =>
      val due = k * 1000L / Rate
      val sym = if (rnd.nextDouble() < HotShare) 0 else 1 + rnd.nextInt(Symbols - 1)
      val isTrade = rnd.nextDouble() < TradeShare
      val u = rnd.nextDouble()
      // late events only once the watermark has had time to advance; each
      // lands in a window of its own, 60 s or more before the live start,
      // so no two are merged by an aggregation before they are dropped
      val late = u < LateShare && due >= 3000L
      val ts =
        if (late) { lateCount += 1; -60000L - lateCount * WindowMs }
        else if (u < LateShare + OutOfOrderShare) due - rnd.nextInt(1500)
        else due
      val e = if (isTrade) trade(i, sym, ts, due, late) else depth(sym, ts, due, late)
      i += 1
      e
    }
    (warm, live)
  }

  // ---------------------------------------------------------- frame codec

  def encode(e: Ev): Array[Byte] = {
    val sym = symbolName(e.sym).getBytes(StandardCharsets.UTF_8)
    if (e.trade) {
      val bb = ByteBuffer.allocate(8 + 27 + sym.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.putShort(27.toShort).putShort(10000.toShort).putShort(1.toShort).putShort(0.toShort)
      bb.putLong(e.tsMs * 1000L).putLong(e.tradeId).putLong(e.priceM)
      bb.put((-2).toByte).put((e.tradeId % 2).toByte)
      bb.put(sym.length.toByte).put(sym)
      bb.array()
    } else {
      val bb = ByteBuffer.allocate(8 + 24 + 2 + e.levels * 18 + 1 + sym.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putShort(0.toShort).putShort(10003.toShort).putShort(1.toShort).putShort(0.toShort)
      bb.putLong(e.tsMs * 1000L).putLong(e.firstId).putLong(e.firstId + e.levels - 1)
      Seq(e.bids, e.asks).foreach { ls =>
        bb.put(ls.length.toByte)
        ls.foreach { case (p, q) => bb.putLong(p).put((-2).toByte).putLong(q).put((-3).toByte) }
      }
      bb.put(sym.length.toByte).put(sym)
      bb.array()
    }
  }

  def px(m: Long): Double = m * math.pow(10.0, -2)
  def qtyOf(m: Long): Double = m * math.pow(10.0, -3)
  /** The HotPath leg's trade size, derived from the trade id. */
  def tradeQty(tradeId: Long): Double = (tradeId % 5 + 1) * 0.25

  // ------------------------------------------------------------- journal

  /** Appends frames to the active journal file; records each frame's
    * byte offset and the wall time its write completed.
    */
  final class Journal(dir: File) {
    dir.mkdirs()
    private val file = new File(dir, "00000" + graft.sources.SbeFrameSource.FileSuffix)
    private val out = new BufferedOutputStream(new FileOutputStream(file, true), 1 << 16)
    private var pos = 0L
    val writtenMs = mutable.ArrayBuffer.empty[Double]
    val endOffset = mutable.ArrayBuffer.empty[Long]
    def append(frames: Seq[Array[Byte]]): Unit = {
      frames.foreach { f =>
        out.write(ByteBuffer.allocate(4).putInt(f.length).array()); out.write(f)
        pos += 4 + f.length
        endOffset += pos
      }
      out.flush()
      val now = Session.nowEpochMs()
      frames.foreach(_ => writtenMs += now)
    }
    def close(): Unit = out.close()
  }

  // ---------------------------------------------------------------- legs

  final class Sink {
    /** (batch id, row, epoch ms when the row became visible) */
    val rows = new ConcurrentLinkedQueue[(Long, Row, Double)]()
    val writeMs = new ConcurrentLinkedQueue[Double]()
    @volatile var inject: String = "none"
    @volatile var batches = 0
    def write(df: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      val got = df.collect()
      val visible = Session.nowEpochMs()
      batches += 1
      if (inject == "fail" && batches == 3) throw new IllegalStateException("injected sink failure")
      got.foreach { r =>
        val row = if (inject == "wrong" && id > 0 && rows.isEmpty) corrupt(r) else r
        rows.add((id, row, visible))
      }
      writeMs.add((System.nanoTime() - t0) / 1e6)
    }
    /** Self-test hook: one emitted count off by one. */
    private def corrupt(r: Row): Row = {
      val i = r.schema.fieldIndex("trade_count")
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        r.toSeq.updated(i, r.getLong(i) + 1).toArray, r.schema)
    }
  }

  def startLegs(spark: SparkSession, journal: String, ckpt: String, tag: String,
      sinks: Map[String, Sink]): Seq[StreamingQuery] = {
    import spark.implicits._
    def frames = spark.readStream.format("sbe-frames").load(journal)
    val trades = frames.select(Sbe.decodeTrade(col("frame")).as("t")).where(col("t").isNotNull)
      .select(col("t.symbol").as("symbol"), col("t.ts_ms").as("ts_ms"),
        col("t.price").as("price"), col("t.trade_id").as("trade_id"))
    val windows = HotPath.windowedTradeStats(
        trades.withColumn("ts", timestamp_millis(col("ts_ms")))
          .withColumn("qty", (col("trade_id") % 5 + 1) * 0.25),
        "ts", "symbol", "price", "qty", s"$WindowMs milliseconds", s"$DelayMs milliseconds")
      .withColumn("open_ms", unix_millis(col("open_time")))
      .select("symbol", "open_ms", "trade_count", "volume", "min_price", "max_price", "vwap")
    val ticks = GridTicker.ticks(trades.select("symbol", "ts_ms", "price").as[GridTicker.Obs],
      GridMs, s"$DelayMs milliseconds").toDF()
    val deltas = frames.select(Sbe.decodeDepth(col("frame")).as("d")).where(col("d").isNotNull)
      .select(col("d.symbol").as("symbol"), col("d.ts_ms").as("ts_ms"),
        col("d.first_update_id").as("first_id"),
        posexplode(concat(
          transform(col("d.bids"), l => struct(lit("bid").as("side"), l("price").as("price"), l("qty").as("qty"))),
          transform(col("d.asks"), l => struct(lit("ask").as("side"), l("price").as("price"), l("qty").as("qty"))))))
      .select(col("symbol"), (col("first_id") + col("pos")).as("update_id"), col("ts_ms"),
        col("col.side").as("side"), col("col.price").as("price"), col("col.qty").as("qty"))
      .as[BookState.Delta]
    val books = BookState.maintain(deltas, 10, s"$DelayMs milliseconds").toDF()
    Seq("streaming.HotPath" -> windows, "streaming.GridTicker" -> ticks,
      "streaming.BookState" -> books).map { case (leg, df) =>
      val sink = sinks(leg)
      df.writeStream
        .queryName(s"$tag:$leg")
        .option("checkpointLocation", s"$ckpt/${leg.stripPrefix("streaming.")}")
        .outputMode("append")
        .foreachBatch((b: DataFrame, id: Long) => sink.write(b, id))
        .start()
    }
  }

  /** Collects every progress event per query name (traced runs). */
  final class ProgressListener extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def awaitAll(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())

  // ----------------------------------------------------------------- run

  def run(o: Opts, spark: SparkSession, spans: Spans): Map[String, Any] = {
    val base = s"${o.work}/hot"
    val journalDir = new File(s"$base/journal")
    val (warm, live) = schedule(o.seed, o.seconds + (LiveWarmupMs + FinalMs) / 1000.0)
    val listener = if (o.trace) Some(new ProgressListener) else None
    // registered once at most, and the bus drained before it is removed
    var listening = false
    def listen(on: Boolean): Unit = listener.foreach { l =>
      if (on && !listening) spark.streams.addListener(l)
      if (!on && listening) {
        org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark.sparkContext)
        spark.streams.removeListener(l)
      }
      listening = on
    }
    listen(true)

    // set-up: warm-up frames, three queries started, first batch committed
    val warmAt = Session.nowEpochMs().toLong
    warm.foreach { e => e.tsMs += warmAt; e.dueMs = warmAt }
    val journal = new Journal(journalDir)
    journal.append(warm.map(encode))
    val sinks = Legs.map(l => l -> new Sink).toMap
    sinks("streaming.HotPath").inject = o.inject
    val qs = startLegs(spark, journalDir.getPath, s"$base/ckpt-live", "live", sinks)
    awaitAll(qs)
    val setupS = (Session.nowEpochMs() - o.launchEpochMs) / 1000.0

    // live phase: open loop, each chunk appended when due
    val liveStart = Session.nowEpochMs().toLong + 100L
    live.foreach { e => e.tsMs += liveStart; e.dueMs += liveStart }
    val genStartNs = System.nanoTime()
    var k = 0
    val genLate = mutable.ArrayBuffer.empty[Double]
    while (k < live.length && qs.forall(_.isActive)) {
      val now = Session.nowEpochMs()
      if (live(k).dueMs > now) Thread.sleep(math.max(1L, math.min(5L, live(k).dueMs - now.toLong)))
      else {
        var j = k
        while (j < live.length && live(j).dueMs <= now) j += 1
        val chunk = live.slice(k, j)
        journal.append(chunk.map(encode))
        val written = Session.nowEpochMs()
        chunk.foreach(e => genLate += written - e.dueMs)
        k = j
      }
    }
    val genEndNs = System.nanoTime()
    journal.close()
    val failures = mutable.ArrayBuffer.empty[String]
    try awaitAll(qs)
    catch { case e: Exception => failures += s"live query failed: ${e.getMessage.linesIterator.nextOption().getOrElse("")}" }
    val liveWallS = (System.nanoTime() - genStartNs) / 1e9
    val liveProgress = qs.map(q => q.name.stripPrefix("live:") -> q.recentProgress.toSeq).toMap
    qs.foreach(_.stop())
    if (k < live.length) failures += s"generator stopped after $k of ${live.length} events"
    spans.add(Span(spans.nextId(), 0, "generator", genStartNs, genEndNs,
      Map("events" -> live.length, "late_ms_p99" -> Stats.percentile(genLate.toSeq, 99))))

    // drains: replay the whole journal from offset 0 into fresh checkpoints.
    // A traced run traces the middle two of the four warm ones, so that run
    // order weighs the same on both sides of trace.overhead_ratio.
    val drains = (1 to Drains).map { d =>
      val traced = o.trace && (d == 3 || d == 4)
      listen(traced)
      val dSinks = Legs.map(l => l -> new Sink).toMap
      // a wrong row is injected into the checked replay too
      if (d == Drains && o.inject == "wrong") dSinks("streaming.HotPath").inject = o.inject
      val t0 = System.nanoTime()
      val dq = startLegs(spark, journalDir.getPath, s"$base/ckpt-drain-$d", s"drain$d", dSinks)
      val progress =
        try { awaitAll(dq); dq.map(q => q.name.stripPrefix(s"drain$d:") -> q.recentProgress.toSeq).toMap }
        finally dq.foreach(_.stop())
      val t1 = System.nanoTime()
      spans.add(Span(spans.nextId(), 0, s"drain:$d", t0, t1, Map("traced" -> traced)))
      (d, traced, (t1 - t0) / 1e9, dSinks, progress)
    }
    listen(false)

    // ---- checks (outside the timed windows)
    val events = warm ++ live
    val check = Check.outputs(events, warm, sinks, liveProgress, replay = false)
    // the last drain reads the whole journal in one batch, whose watermark
    // is still 0, so it drops nothing: the late events count there
    val drainCheck = Check.outputs(events, warm, drains.last._4, drains.last._5, replay = true)

    val measureFrom = (liveStart + LiveWarmupMs).toDouble
    val latencies = Check.emitLatencies(sinks, measureFrom)
    val untracedDrains = drains.drop(1).filterNot(_._2).map(_._3)
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "first_pass_s" -> drains.head._3,
      "wall_s" -> Stats.median(untracedDrains),
      "latency_p50_ms" -> Stats.percentile(latencies, 50),
      "latency_p99_ms" -> Stats.percentile(latencies, 99))
    // the p99 needs at least 10 samples above it to be read as one; the
    // rows of one batch often share a latency, so samples count by rank
    val aboveP99 = latencies.size - 1 - math.floor((latencies.size - 1) * 0.99).toInt
    val notApplicable =
      if (aboveP99 >= 10) Map.empty[String, String]
      else Map("latency_p99_ms" -> s"$aboveP99 of ${latencies.size} samples rank above the p99, fewer than 10")
    val frames = events.size
    val layers = listener.map { l =>
      perLayer(spark, l, liveStart, liveWallS, journal, journalDir.getPath, events, sinks, genLate.toSeq,
        drains.map(d => (d._2, d._3)))
    }.getOrElse(Map.empty)
    Map(
      "e2e" -> e2e,
      "per_layer" -> layers,
      "attempted" -> (check.attempted + drainCheck.attempted + failures.size),
      "failed" -> (check.failed + drainCheck.failed + failures.size),
      "failures" -> (failures.toSeq ++ check.failures ++ drainCheck.failures.map("replay: " + _)),
      "not_applicable" -> notApplicable,
      "details" -> Map(
        "events" -> frames,
        "rate_eps" -> Rate,
        "live_s" -> liveWallS,
        "drain_s" -> drains.map(_._3),
        "drain_eps" -> frames / e2e("wall_s"),
        "latency_samples" -> latencies.size,
        "latency_mean_ms" -> latencies.sum / latencies.size,
        "latency_samples_ranked_above_p99" -> aboveP99,
        "latency_by_leg_p50_ms" -> Check.emitLatenciesByLeg(sinks, measureFrom).map { case (k, v) => k -> Stats.median(v) },
        "rows_checked" -> check.attempted,
        "replay_rows_checked" -> drainCheck.attempted,
        "late_events" -> events.count(_.late),
        "generator_late_ms_p99" -> Stats.percentile(genLate.toSeq, 99),
        "watermarks" -> check.watermarks))
  }

  private def perLayer(spark: SparkSession, l: ProgressListener, liveStart: Long, liveWallS: Double,
      journal: Journal, journalPath: String, events: Seq[Ev], sinks: Map[String, Sink],
      genLate: Seq[Double], drains: Seq[(Boolean, Double)]): Map[String, Double] = {
    val all = l.progress.asScala.toSeq
    val live = all.filter(p => Option(p.name).exists(_.startsWith("live:")))
    def inLive(p: StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli >= liveStart
    val out = mutable.LinkedHashMap.empty[String, Double]
    Legs.foreach { leg =>
      val all = live.filter(_.name == s"live:$leg")
      val ps = all.filter(inLive)
      val withData = ps.filter(_.numInputRows > 0)
      def dur(k: String) = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        ps.lastOption.map(_.stateOperators.map(f).sum).getOrElse(0.0)
      out(s"$leg.batches") = ps.size.toDouble
      out(s"$leg.rows_in") = ps.map(_.numInputRows).sum.toDouble
      out(s"$leg.rows_out") = sinks(leg).rows.size.toDouble
      out(s"$leg.trigger_ms_p50") = Stats.median(withData.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble)))
      Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning").foreach { k =>
        out(s"$leg.${k}_ms_p50") = Stats.median(dur(k))
      }
      out(s"$leg.busy_ratio") = dur("triggerExecution").sum / 1000.0 / liveWallS
      out(s"$leg.state_rows") = state(_.numRowsTotal.toDouble)
      out(s"$leg.state_mb") = state(_.memoryUsedBytes / (1024.0 * 1024.0))
      out(s"$leg.state_commit_ms_p50") = Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
      out(s"$leg.late_dropped") = all.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
    }
    // source lag: how long each frame waited in the journal before a batch
    // of the HotPath leg fixed an offset range covering it
    val tailRe = """"tailBytes":(\d+)""".r
    val lags = mutable.ArrayBuffer.empty[Double]
    var idx = 0
    live.filter(p => p.name == "live:streaming.HotPath" && p.numInputRows > 0).foreach { p =>
      val fixedAt = java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("latestOffset")).map(_.toLong).getOrElse(0L)
      val end = p.sources.headOption.flatMap(s => tailRe.findFirstMatchIn(s.endOffset)).map(_.group(1).toLong).getOrElse(0L)
      while (idx < journal.endOffset.size && journal.endOffset(idx) <= end) {
        lags += fixedAt - journal.writtenMs(idx)
        idx += 1
      }
    }
    out("sources.SbeFrameSource.lag_ms_p99") = Stats.percentile(lags.toSeq, 99)
    out("functions.Sbe.decode_ns_per_frame") = decodeNsPerFrame(spark, journalPath, events.size)
    out("sink.write_ms_p50") = Stats.median(sinks.values.flatMap(_.writeMs.asScala).toSeq)
    out("generator.late_ms_p99") = Stats.percentile(genLate, 99)
    val tracedD = drains.drop(1).filter(_._1).map(_._2)
    val untracedD = drains.drop(1).filterNot(_._1).map(_._2)
    out("trace.wall_s") = Stats.median(tracedD)
    out("trace.overhead_ratio") = Stats.median(tracedD) / Stats.median(untracedD)
    out.toMap
  }

  /** Batch decode of the run's journal: every frame through both decoders. */
  private def decodeNsPerFrame(spark: SparkSession, journal: String, frames: Int): Double = {
    val df = spark.read.format("sbe-frames").load(journal)
      .select(Sbe.decodeTrade(col("frame")).as("t"), Sbe.decodeDepth(col("frame")).as("d"))
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / frames
    })
  }
}
