package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryProgress

import perfbench.HotPathWorkload._

/** Checks the hot path's output against a plain Scala computation over
  * the same generated events. Live, events beyond the watermark are left
  * out of the expected output, and each leg's count of rows dropped by the
  * watermark must equal the generator's count of such rows. A replay reads
  * the whole journal in one batch, whose watermark is still 0, so there
  * every event counts and nothing may be dropped. Either way each leg's
  * last watermark must have reached its newest event time less the delay,
  * so that the rows it finalizes are all judged.
  */
object Check {
  final case class Result(attempted: Int, failed: Int, failures: Seq[String], watermarks: Map[String, Long])

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def watermark(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).foldLeft(0L)(math.max)

  /** Rows of batches whose progress was reported (a batch cut short when
    * its query stopped has no progress and its rows are not judged).
    */
  private def judged(s: Sink, ps: Seq[StreamingQueryProgress]): Seq[Row] = {
    val last = ps.map(_.batchId).foldLeft(-1L)(math.max)
    s.rows.asScala.toSeq.collect { case (b, r, _) if b <= last => r }
  }

  def outputs(events: Seq[Ev], warm: Seq[Ev], sinks: Map[String, Sink],
      progress: Map[String, Seq[StreamingQueryProgress]], replay: Boolean): Result = {
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def fail(msg: String): Unit = if (failures.size < 50) failures += msg else failures += ""
    val accepted = if (replay) events else events.filterNot(_.late)
    // the events of the first batch, which anchor each symbol's tick grid
    val firstBatch = if (replay) events else warm
    val wms = Legs.map(l => l -> watermark(progress.getOrElse(l, Nil))).toMap

    // late rows: every leg must drop exactly what the generator sent late
    // (nothing in a replay), and its watermark must have caught up
    val lateTrades = events.count(e => e.late && e.trade)
    val lateLevels = events.filter(e => e.late && !e.trade).map(_.levels).sum
    Legs.foreach { leg =>
      val book = leg == "streaming.BookState"
      val dropped = progress.getOrElse(leg, Nil).map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      val want = if (replay) 0 else if (book) lateLevels else lateTrades
      attempted += 1
      if (dropped != want) fail(s"$leg dropped $dropped late rows, want $want")
      val newest = accepted.filter(_.trade != book).map(_.tsMs).max
      attempted += 1
      if (wms(leg) != newest - DelayMs) fail(s"$leg watermark ${wms(leg)}, want ${newest - DelayMs}")
    }

    // HotPath: 1 s windows per symbol, emitted once the watermark passes the end
    {
      val leg = "streaming.HotPath"
      val wm = wms(leg)
      val exp = accepted.filter(_.trade).groupBy(e => (symbolName(e.sym), e.tsMs / WindowMs * WindowMs))
      val got = judged(sinks(leg), progress.getOrElse(leg, Nil))
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("open_ms")) -> r).toMap
      exp.foreach { case (k @ (sym, open), es) =>
        val end = open + WindowMs
        if (end < wm) {
          attempted += 1
          got.get(k) match {
            case None => fail(s"$leg missing window $sym@$open")
            case Some(r) =>
              val q = es.map(e => tradeQty(e.tradeId))
              val p = es.map(e => px(e.priceM))
              val ok = r.getAs[Long]("trade_count") == es.size &&
                close(r.getAs[Double]("volume"), q.sum) &&
                close(r.getAs[Double]("min_price"), p.min) &&
                close(r.getAs[Double]("max_price"), p.max) &&
                close(r.getAs[Double]("vwap"), p.zip(q).map { case (a, b) => a * b }.sum / q.sum)
              if (!ok) fail(s"$leg unequal window $sym@$open: $r")
          }
        }
      }
      got.keys.foreach { case k @ (sym, open) =>
        if (!exp.contains(k) || open + WindowMs > wm) fail(s"$leg extra window $sym@$open")
      }
    }

    // GridTicker: 2 s LOCF ticks anchored on each symbol's first observation
    {
      val leg = "streaming.GridTicker"
      val wm = wms(leg)
      val got = judged(sinks(leg), progress.getOrElse(leg, Nil))
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("grid_ts")) -> r).toMap
      val expected = mutable.HashSet.empty[(String, Long)]
      accepted.filter(_.trade).groupBy(_.sym).foreach { case (s, es) =>
        val sym = symbolName(s)
        val anchor = firstBatch.filter(e => e.trade && e.sym == s).map(_.tsMs).min
        val obs = es.map(e => (e.tsMs, px(e.priceM))).sortBy(identity)
        var g = anchor
        var i = 0
        var last = Double.NaN
        while (g <= wm) {
          var fresh = false
          while (i < obs.length && obs(i)._1 <= g) {
            last = obs(i)._2
            if (obs(i)._1 > g - GridMs) fresh = true
            i += 1
          }
          expected += ((sym, g))
          if (g < wm) {
            attempted += 1
            got.get((sym, g)) match {
              case None => fail(s"$leg missing tick $sym@$g")
              case Some(r) =>
                if (!close(r.getAs[Double]("price"), last) || r.getAs[Boolean]("fresh") != fresh)
                  fail(s"$leg unequal tick $sym@$g: $r want price=$last fresh=$fresh")
            }
          }
          g += GridMs
        }
      }
      got.keys.filterNot(expected).foreach { case (sym, g) => fail(s"$leg extra tick $sym@$g") }
    }

    // BookState: every snapshot equals a replay of the accepted deltas up
    // to its update id, and each symbol's last snapshot covers all of them
    {
      val leg = "streaming.BookState"
      val rows = judged(sinks(leg), progress.getOrElse(leg, Nil))
      val bySym = accepted.filterNot(_.trade).groupBy(e => symbolName(e.sym))
        .map { case (k, v) => k -> v.sortBy(_.firstId) }
      def levels(r: Row, f: String): Seq[(Double, Double)] =
        r.getAs[scala.collection.Seq[Row]](f).map(l => (l.getDouble(0), l.getDouble(1))).toSeq
      rows.foreach { r =>
        attempted += 1
        val sym = r.getAs[String]("symbol")
        val upTo = r.getAs[Long]("last_update_id")
        val bids = mutable.HashMap.empty[Double, Double]
        val asks = mutable.HashMap.empty[Double, Double]
        var ts = 0L
        var lastId = Long.MinValue
        bySym.getOrElse(sym, Nil).takeWhile(_.firstId <= upTo).foreach { e =>
          (e.bids.map(("bid", _)) ++ e.asks.map(("ask", _))).zipWithIndex.foreach {
            case ((side, (pm, qm)), j) if e.firstId + j <= upTo =>
              val book = if (side == "bid") bids else asks
              if (qm > 0) book(px(pm)) = qtyOf(qm) else book.remove(px(pm))
              lastId = e.firstId + j
              ts = math.max(ts, e.tsMs)
            case _ =>
          }
        }
        val topB = bids.toSeq.sortBy(-_._1).take(10)
        val topA = asks.toSeq.sortBy(_._1).take(10)
        def same(a: Seq[(Double, Double)], b: Seq[(Double, Double)]) =
          a.size == b.size && a.zip(b).forall { case (x, y) => close(x._1, y._1) && close(x._2, y._2) }
        val ok = lastId == upTo && r.getAs[Long]("ts_ms") == ts &&
          r.getAs[Int]("live_bid_levels") == bids.size && r.getAs[Int]("live_ask_levels") == asks.size &&
          same(levels(r, "bids"), topB) && same(levels(r, "asks"), topA)
        if (!ok) fail(s"$leg unequal snapshot $sym@$upTo")
      }
      val lastSeen = rows.groupBy(_.getAs[String]("symbol"))
        .map { case (k, v) => k -> v.map(_.getAs[Long]("last_update_id")).max }
      bySym.foreach { case (sym, es) =>
        attempted += 1
        val want = es.last.firstId + es.last.levels - 1
        if (!lastSeen.get(sym).contains(want)) fail(s"$leg book $sym ends at ${lastSeen.get(sym)}, want $want")
      }
    }
    val shown = failures.filter(_.nonEmpty)
    val more = failures.size - shown.size
    Result(attempted, failures.size, (if (more > 0) shown :+ s"... and $more more" else shown).toSeq, wms)
  }

  /** Emit latency of one output row: when it became visible in the sink
    * minus when it became final in event time (window end or grid tick
    * plus the watermark delay; a book snapshot is emitted on arrival, so
    * its own event time).
    */
  def emitLatenciesByLeg(sinks: Map[String, Sink], from: Double): Map[String, Seq[Double]] =
    sinks.map { case (leg, s) =>
      leg -> s.rows.asScala.toSeq.flatMap { case (_, r, visible) =>
        val fin = leg match {
          case "streaming.HotPath" => r.getAs[Long]("open_ms") + WindowMs + DelayMs
          case "streaming.GridTicker" => r.getAs[Long]("grid_ts") + DelayMs
          case _ => r.getAs[Long]("ts_ms")
        }
        if (fin >= from) Some(visible - fin) else None
      }
    }

  def emitLatencies(sinks: Map[String, Sink], from: Double): Seq[Double] =
    emitLatenciesByLeg(sinks, from).values.flatten.toSeq
}
