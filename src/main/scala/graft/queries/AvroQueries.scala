package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Avro

/** Avro wire-format roundtrips — SURVEY §1.1: the reference's Kinesis
  * payloads are Avro binary (the three record schemas under `schemas/avro/`). Each query encodes the
  * trade view into real Avro binary frames (the schema-driven encode
  * expression, fixture side) and decodes them back through the schema-driven
  * decode expression — the replay path a consumer of captured wire data
  * runs. The oracle reproduces the projected values directly from the
  * source table: a hash match proves the binary round-trip is lossless
  * field-for-field.
  *
  * Doubles survive Avro binary bit-exactly (IEEE764 little-endian on the
  * wire), so no rounding is needed on either side.
  */
object AvroQueries {
  private val T = Tables.tradesOracleCte

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ evolutionQuery ++ genericQuery ++ ocfQuery

  private def firstTrades(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir).filter(col("trade_id") < 2000)

  /** A trade row as a MarketTrade record: fields in schema order, which is
    * how the encoder binds them.
    */
  private def tradeRecord: Column = struct(
    upper(col("symbol")).as("symbol"),
    col("ts_ms").as("event_ts"),
    (col("ts_ms") + 5L).as("ingest_ts"),
    col("trade_id"),
    col("price"),
    coalesce(col("qty"), lit(0.0)).as("qty"),
    (col("trade_id") % 2 === 0).as("is_buyer_maker"),
    lit("sbe").as("source"))

  /** The MarketTrade roundtrip of the first 2000 trades, all 8 fields. */
  private def tradeRoundtrip(s: SparkSession, dir: String): DataFrame =
    firstTrades(s, dir)
      .select(Avro.encode(tradeRecord, Avro.TradeSchemaJson).as("frame"))
      .select(Avro.decode(col("frame"), Avro.TradeSchemaJson).as("d"))
      .select("d.*")

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MarketTrade.avsc roundtrip: all 8 fields through Avro binary (the
    // same plan as avro5).
    "avro1_trade_roundtrip" -> tradeRoundtrip,
    // BestBidAsk.avsc roundtrip (quote fields synthesized from trades the
    // same way the a2 quote view does).
    "avro2_bba_roundtrip" -> { (s, dir) =>
      val q = coalesce(col("qty"), lit(0.0))
      val bba = struct(
        upper(col("symbol")).as("symbol"),
        col("ts_ms").as("event_ts"),
        (col("ts_ms") + 7L).as("ingest_ts"),
        (col("price") - q * 0.01).as("bid_px"),
        (q + 1.0).as("bid_sz"),
        (col("price") + lit(0.01) + q * 0.005).as("ask_px"),
        (lit(101.0) - q).as("ask_sz"),
        lit("rest").as("source"))
      firstTrades(s, dir)
        .select(
          col("trade_id").as("orig_id"), Avro.encode(bba, Avro.BbaSchemaJson).as("frame"))
        .select(col("orig_id"), Avro.decode(col("frame"), Avro.BbaSchemaJson).as("d"))
        .select("orig_id", "d.*")
    },
    // DepthDelta.avsc roundtrip: the nested array<array<string>> book sides.
    // Level strings are integer mantissas (cents) so the string form is
    // engine-independent; the nested arrays are flattened to CSV so the full
    // content is hash-checked (not just lengths).
    "avro3_depth_roundtrip" -> { (s, dir) =>
      val m = round(col("price") * 100).cast("long")
      def lvl(px: Column, qy: Column) = array(px.cast("string"), qy.cast("string"))
      val depth = struct(
        upper(col("symbol")).as("symbol"),
        col("ts_ms").as("event_ts"),
        (col("ts_ms") + 11L).as("ingest_ts"),
        array(lvl(m - 1L, m), lvl(m - 2L, m)).as("bids"),
        array(lvl(m + 1L, m + 2L)).as("asks"),
        lit("sbe").as("source"))
      firstTrades(s, dir)
        .select(
          col("trade_id").as("orig_id"), Avro.encode(depth, Avro.DepthSchemaJson).as("frame"))
        .select(col("orig_id"), Avro.decode(col("frame"), Avro.DepthSchemaJson).as("d"))
        .select(
          col("orig_id"),
          col("d.symbol").as("symbol"),
          col("d.event_ts").as("event_ts"),
          col("d.ingest_ts").as("ingest_ts"),
          size(col("d.bids")).cast("long").as("n_bids"),
          size(col("d.asks")).cast("long").as("n_asks"),
          concat_ws(",", flatten(col("d.bids"))).as("bids_csv"),
          concat_ws(",", flatten(col("d.asks"))).as("asks_csv"),
          element_at(element_at(col("d.bids"), 1), 1).cast("long").as("best_bid_cents"),
          element_at(element_at(col("d.asks"), 1), 1).cast("long").as("best_ask_cents"),
          col("d.source").as("source"))
    }
  )

  /** Evolved reader for avro4: a consumer replaying OLD captures after a
    * schema migration — `venue` added with a default, `fee_bps` added as
    * nullable, `qty`/timestamps dropped, `symbol` moved. Avro resolves by
    * field name against the writer schema.
    */
  private val EvolvedTradeReaderJson: String =
    """{"type":"record","name":"MarketTrade","namespace":"binance","fields":[
      |{"name":"venue","type":"string","default":"binance"},
      |{"name":"trade_id","type":"long"},
      |{"name":"price","type":"double"},
      |{"name":"symbol","type":"string"},
      |{"name":"fee_bps","type":["null","double"],"default":null}]}""".stripMargin

  val evolutionQuery: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Schema-resolution decode: v1 frames → evolved reader, columns in
    // reader order.
    "avro4_evolved_reader" -> { (s, dir) =>
      firstTrades(s, dir)
        .select(Avro.encode(tradeRecord, Avro.TradeSchemaJson).as("frame"))
        .select(
          Avro.decode(col("frame"), Avro.TradeSchemaJson, EvolvedTradeReaderJson).as("d"))
        .select("d.*")
    }
  )

  /** Generic `to_avro`→`from_avro` path: the whole roundtrip through the
    * schema-driven expressions. Since the trade queries share the one codec,
    * this is avro1's plan under its own name.
    */
  val genericQuery: Map[String, (SparkSession, String) => DataFrame] = Map(
    "avro5_generic_roundtrip" -> tradeRoundtrip
  )

  /** The avro7 export target: one temp dir per process, overwritten by
    * every run (files deleted on overwrite-truncate, so exit-time cleanup
    * of the then-near-empty dir works).
    */
  private object Avro7ExportDir {
    lazy val path: String = {
      val d = java.nio.file.Files.createTempDirectory("graft_ocf_rt_").toFile
      d.deleteOnExit()
      d.toString
    }
  }

  /** OCF capture fixture: first 2000 trades as rolling container files,
    * written ONCE per (process, sf dir) — same memo discipline as S1Feed so
    * the declared plan is purely the `avro-ocf` scan.
    */
  private object OcfFeed {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def dir(s: SparkSession, sfDir: String): String = {
      val key = FixtureKey.of(sfDir, "events.parquet")
      cache.getOrElseUpdate(key, {
        val feed = java.nio.file.Files.createTempDirectory("graft_ocf_feed_").toFile
        feed.deleteOnExit()
        val rows = firstTrades(s, sfDir)
          .select(
            upper(col("symbol")).as("symbol"), col("ts_ms"), col("trade_id"),
            col("price"), coalesce(col("qty"), lit(0.0)).as("qty"))
          .orderBy("trade_id").collect()
        val recs = rows.map { r =>
          val rec = new org.apache.avro.generic.GenericData.Record(Avro.TradeSchema)
          rec.put("symbol", r.getAs[String]("symbol"))
          rec.put("event_ts", r.getAs[Long]("ts_ms"))
          rec.put("ingest_ts", r.getAs[Long]("ts_ms") + 5L)
          rec.put("trade_id", r.getAs[Long]("trade_id"))
          rec.put("price", r.getAs[Double]("price"))
          rec.put("qty", r.getAs[Double]("qty"))
          rec.put("is_buyer_maker", r.getAs[Long]("trade_id") % 2 == 0)
          rec.put("source", "ocf")
          rec
        }.toSeq
        recs.grouped(800).zipWithIndex.foreach { case (chunk, i) =>
          val f = new java.io.File(feed, f"part-$i%05d.avro")
          f.deleteOnExit()
          graft.sources.AvroOcfSource.writeOcf(f, Avro.TradeSchema, chunk, syncEvery = 128)
        }
        feed.toString
      })
    }
  }

  /** The `avro-ocf` container-file source scanned through the driver gate. */
  val ocfQuery: Map[String, (SparkSession, String) => DataFrame] = Map(
    "avro6_ocf_scan" -> { (s, dir) =>
      s.read.format("avro-ocf").load(OcfFeed.dir(s, dir))
        .select(
          col("symbol"), col("event_ts"), col("ingest_ts"), col("trade_id"),
          col("price"), col("qty"), col("is_buyer_maker"), col("source"))
    },
    // Full sink round-trip through the driver gate: export the trade view
    // with `df.write.format("avro-ocf")` (the write side a user shipping
    // training shards in the reference's Avro contract runs), scan the
    // containers back, and aggregate. Decimal-summed measures keep the
    // result fold-order-exact so the oracle hash-matches.
    "avro7_ocf_roundtrip" -> { (s, dir) =>
      // ONE process-wide export dir, overwritten per invocation: each run
      // still pays the full write job (that IS the measured surface), but
      // repeated bench/spec invocations don't leak a populated temp dir
      // each (deleteOnExit cannot remove non-empty directories).
      val out = Avro7ExportDir.path
      firstTrades(s, dir)
        .select(
          upper(col("symbol")).as("symbol"), col("ts_ms").as("event_ts"),
          col("trade_id"), col("price"), coalesce(col("qty"), lit(0.0)).as("qty"))
        .write.format("avro-ocf").mode("overwrite")
        .option("codec", "deflate").option("syncEvery", "256")
        .save(out)
      s.read.format("avro-ocf").load(out)
        .groupBy(col("symbol"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("trade_id")).as("id_sum"),
          min(col("price")).as("px_min"),
          max(col("price")).as("px_max"),
          sum(col("price").cast("decimal(27,8)")).cast("double").as("px_sum"),
          sum(col("qty").cast("decimal(27,8)")).cast("double").as("qty_sum"),
          max(col("event_ts")).as("last_ts"))
    }
  )

  val oracle: Map[String, String] = Map(
    "avro7_ocf_roundtrip" ->
      s"""WITH t AS ($T),
         |q AS (SELECT upper(symbol) AS symbol, ts_ms AS event_ts, trade_id,
         |        price, coalesce(qty, 0.0) AS qty
         |      FROM t WHERE trade_id < 2000)
         |SELECT symbol, count(*) AS n, CAST(sum(trade_id) AS BIGINT) AS id_sum,
         |  min(price) AS px_min, max(price) AS px_max,
         |  CAST(sum(CAST(price AS DECIMAL(27,8))) AS DOUBLE) AS px_sum,
         |  CAST(sum(CAST(qty AS DECIMAL(27,8))) AS DOUBLE) AS qty_sum,
         |  max(event_ts) AS last_ts
         |FROM q GROUP BY 1""".stripMargin,
    "avro6_ocf_scan" ->
      s"""WITH t AS ($T)
         |SELECT upper(symbol) AS symbol, ts_ms AS event_ts, ts_ms + 5 AS ingest_ts,
         |  trade_id, price, coalesce(qty, 0.0) AS qty,
         |  trade_id % 2 = 0 AS is_buyer_maker, 'ocf' AS source
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "avro5_generic_roundtrip" ->
      s"""WITH t AS ($T)
         |SELECT upper(symbol) AS symbol, ts_ms AS event_ts, ts_ms + 5 AS ingest_ts,
         |  trade_id, price, coalesce(qty, 0.0) AS qty,
         |  trade_id % 2 = 0 AS is_buyer_maker, 'sbe' AS source
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "avro4_evolved_reader" ->
      s"""WITH t AS ($T)
         |SELECT 'binance' AS venue, trade_id, price, upper(symbol) AS symbol,
         |  CAST(NULL AS DOUBLE) AS fee_bps
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "avro1_trade_roundtrip" ->
      s"""WITH t AS ($T)
         |SELECT upper(symbol) AS symbol, ts_ms AS event_ts, ts_ms + 5 AS ingest_ts,
         |  trade_id, price, coalesce(qty, 0.0) AS qty,
         |  trade_id % 2 = 0 AS is_buyer_maker, 'sbe' AS source
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "avro2_bba_roundtrip" ->
      s"""WITH t AS ($T),
         |q AS (SELECT trade_id, ts_ms, symbol, price, coalesce(qty, 0.0) AS qy
         |      FROM t WHERE trade_id < 2000)
         |SELECT trade_id AS orig_id, upper(symbol) AS symbol,
         |  ts_ms AS event_ts, ts_ms + 7 AS ingest_ts,
         |  price - qy * 0.01 AS bid_px, qy + 1.0 AS bid_sz,
         |  price + 0.01 + qy * 0.005 AS ask_px, 101.0 - qy AS ask_sz,
         |  'rest' AS source
         |FROM q""".stripMargin,
    "avro3_depth_roundtrip" ->
      s"""WITH t AS ($T),
         |m AS (SELECT trade_id, ts_ms, upper(symbol) AS sym,
         |        CAST(round(price * 100) AS BIGINT) AS mm
         |      FROM t WHERE trade_id < 2000)
         |SELECT trade_id AS orig_id, sym AS symbol,
         |  ts_ms AS event_ts, ts_ms + 11 AS ingest_ts,
         |  CAST(2 AS BIGINT) AS n_bids, CAST(1 AS BIGINT) AS n_asks,
         |  concat(mm - 1, ',', mm, ',', mm - 2, ',', mm) AS bids_csv,
         |  concat(mm + 1, ',', mm + 2) AS asks_csv,
         |  mm - 1 AS best_bid_cents, mm + 1 AS best_ask_cents,
         |  'sbe' AS source
         |FROM m""".stripMargin
  )
}
