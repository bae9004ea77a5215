package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StateOperatorProgress

import graft.streaming.BookState.Delta

/** The stateful streaming workloads shared by [[ClusterStream]] (output
  * identity across JVM topologies) and [[StateSweep]] (state cost per key
  * under a capped heap): MemoryStream input, deterministic generators and a
  * fixed chunk schedule, so every run of a path sees the same micro-batch
  * sequence — and with it the same watermark progression and state
  * transitions.
  */
private[graft] object StatefulWorkload {

  final case class TradeEvent(symbol: String, ts: java.sql.Timestamp, price: Double, qty: Double, trade_id: Long)

  /** Book delta for the `id`-th event over `syms` live symbols. Side and
    * price level derive from the symbol's own SEQUENCE number (id / syms),
    * NOT from id: with an even symbol count, id's parity fixes the side
    * per symbol (every book one-sided) and gcd(syms, 200) collapses the
    * price grid to a handful of residues. Within the sequence, side comes
    * from seq's parity and the level from (seq/2) % 200 — the level counter
    * advances once per side-pair, so BOTH sides walk all 200 residues
    * (level from seq % 200 would couple to the parity and give each side
    * only its 100 matching residues); qty 0 every 11th = delete.
    */
  def bookDelta(id: Long, syms: Int): Delta = {
    val seq = id / syms
    Delta(
      s"SYM${id % syms}", id, 1700000000000L + seq * 50L,
      if (seq % 2 == 0) "bid" else "ask",
      100.0 + ((seq / 2) % 200) * 0.05 * (if (seq % 2 == 0) -1 else 1),
      if (seq % 11 == 0) 0.0 else 1.0 + (seq % 5))
  }

  def primeDeltas: Seq[Delta] = (0 until 1000).map(i =>
    Delta(s"PRIME${i % 8}", i.toLong, 1700000000000L, "bid", 100.0, 1.0))

  /** Deterministic trade event: event time advances ~50 ms per event per
    * symbol so 1 s windows close steadily under the watermark as chunks
    * arrive.
    */
  def eventFor(id: Long, symbols: Int): TradeEvent = TradeEvent(
    s"SYM${id % symbols}",
    new java.sql.Timestamp(1700000000000L + (id / symbols) * 50L),
    100.0 + (id % 1000) * 0.01,
    1.0 + (id % 7),
    id)

  /** Priming events on PRIME* keys at the stream's start timestamp:
    * state-store + sink init happens before the chunks WITHOUT feeding
    * them any already-seen events (a re-added prefix would be replay no-ops
    * for book_state, the only true duplicates for dedup, and double-counted
    * windows for hot_path).
    */
  def primeTrades: Seq[TradeEvent] = (0 until 1000).map { i =>
    TradeEvent(s"PRIME${i % 8}", new java.sql.Timestamp(1700000000000L),
      100.0, 1.0, i.toLong)
  }

  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** One stateful path, fully assembled: the MemoryStream, the output
    * DataFrame, the prime batch and the per-chunk data generator. Build a
    * FRESH instance per run: the MemoryStream inside is stateful.
    */
  final case class Workload[T](
      mem: MemoryStream[T],
      out: DataFrame,
      prime: Seq[T],
      chunkFn: (Int, Int) => Seq[T]) { // (chunkIdx, perChunk)

    /** Prime batch (state-store + sink spin-up, untimed), then `chunks`
      * data chunks with one `processAllAvailable` barrier each. Returns the
      * seconds the chunks took and the last state-operator progress. Stops
      * the query and deletes its checkpoint even on failure.
      */
    def run(chunks: Int, perChunk: Int, format: String = "noop",
        path: Option[String] = None): (Double, Option[StateOperatorProgress]) = {
      val ckpt = java.nio.file.Files.createTempDirectory("stateful_chunks")
      val w = out.writeStream.outputMode("append").format(format)
        .option("checkpointLocation", ckpt.toString)
      val q = path.fold(w)(p => w.option("path", p)).start()
      try {
        mem.addData(prime)
        q.processAllAvailable()
        val t0 = System.nanoTime()
        (0 until chunks).foreach { c =>
          mem.addData(chunkFn(c, perChunk))
          q.processAllAvailable()
        }
        ((System.nanoTime() - t0) / 1e9,
          Option(q.lastProgress).flatMap(_.stateOperators.headOption))
      } finally {
        q.stop()
        deleteRecursively(ckpt)
      }
    }
  }

  val Paths: Seq[String] = Seq("hot_path", "book_state", "ewma", "dedup", "grid")

  def workload(spark: SparkSession, path: String, symbols: Int): Workload[_] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    path match {
      case "hot_path" =>
        // watermarked event-time 1 s bars per symbol — the aggregator hot path
        val mem = MemoryStream[TradeEvent]
        Workload(mem,
          streaming.HotPath.windowedTradeStats(
            mem.toDF(), "ts", "symbol", "price", "qty",
            windowDuration = "1 second", watermark = "2 seconds"),
          primeTrades,
          (c, per) => (0 until per).map(i => eventFor(c.toLong * per + i, symbols)))
      case "book_state" =>
        // per-symbol order-book delta replay in flatMapGroupsWithState
        val mem = MemoryStream[Delta]
        Workload(mem,
          streaming.BookState.maintain(mem.toDS(), depth = 10).toDF(),
          primeDeltas,
          (c, per) => (0 until per).map(i => bookDelta(c.toLong * per + i, symbols)))
      case "ewma" =>
        // per-EVENT emission (one output row per input tick) — the per-tick
        // feature path, unlike hot_path's window-per-second compaction
        val mem = MemoryStream[streaming.EwmaStream.Px]
        Workload(mem,
          streaming.EwmaStream.features(mem.toDS()).toDF(),
          (0 until 1000).map(i => streaming.EwmaStream.Px(
            s"PRIME${i % 8}", 1700000000000L, i.toLong, 100.0)),
          (c, per) => (0 until per).map { i =>
            val id = c.toLong * per + i
            streaming.EwmaStream.Px(
              s"SYM${id % symbols}", 1700000000000L + (id / symbols) * 50L,
              id, 100.0 + (id % 1000) * 0.01)
          })
      case "grid" =>
        // fixed-cadence LOCF tick emission — the hot path's 2 s emission
        // contract. Emission is watermark-finalized, so identical chunk
        // boundaries give an identical tick stream regardless of the
        // micro-batch split.
        val mem = MemoryStream[streaming.GridTicker.Obs]
        Workload(mem,
          streaming.GridTicker.ticks(mem.toDS(), stepMs = 2000L).toDF(),
          (0 until 1000).map(i => streaming.GridTicker.Obs(
            s"PRIME${i % 8}", 1700000000000L + i.toLong * 10L, 100.0)),
          (c, per) => (0 until per).map { i =>
            val id = c.toLong * per + i
            streaming.GridTicker.Obs(
              s"SYM${id % symbols}", 1700000000000L + (id / symbols) * 50L,
              100.0 + (id % 1000) * 0.01)
          })
      case "dedup" =>
        // 10% duplicates: every 10th slot carries the WHOLE previous event
        // again — same (symbol, trade_id) key, a genuine collision the
        // dedup operator must drop
        val mem = MemoryStream[TradeEvent]
        Workload(mem,
          streaming.HotPath.dedupStream(
            mem.toDF(), "ts", Seq("symbol", "trade_id"), watermark = "10 seconds"),
          primeTrades,
          (c, per) => (0 until per).map { i =>
            val id = c.toLong * per + i
            eventFor(if (id % 10 == 9) id - 1 else id, symbols)
          })
      case other => sys.error(s"unknown stateful path $other")
    }
  }
}
