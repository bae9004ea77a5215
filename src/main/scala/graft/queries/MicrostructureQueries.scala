package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Sbe, TimeUnits}
import graft.operators._
import graft.sources.GraftFs

/** Quote/depth microstructure aggregates (A2/A3), the SBE binary decode
  * roundtrip (S2), and bronze partition-key derivation (K2/S8).
  *
  * The testdata has no quote/book tables, so quotes are derived
  * deterministically from trades (bid/ask straddling the price, sizes from
  * qty) and books from per-day top/bottom price levels — the OPERATORS are
  * the real thing; only the inputs are synthesized views.
  */
object MicrostructureQueries {
  private val T = Tables.tradesOracleCte

  /** s1's capture fixtures: the first 2000 trades encoded into rolling
    * `.sbef` files ONCE per (process, sf dir, template) — ingest-side setup,
    * hoisted out of the declared queries so each measured plan is purely the
    * `sbe-frames` scan + decode. All three wire templates flow through the
    * same source: trade (10000), BBA (10001), depth (10003) — the fixture
    * values mirror the s2/s2b/s2c roundtrips so the same oracle arithmetic
    * applies. The feed root is a process-unique temp dir (no cross-process
    * races on a shared path, deleteOnExit-registered) and the memo is keyed
    * by (canonical sf path, content fingerprint, template), so repeat
    * invocations — e.g. the bench loop — skip the encode+write entirely and
    * a regenerated sf dir gets a fresh capture instead of a stale feed.
    */
  private object S1Feed {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def dir(s: SparkSession, sfDir: String, kind: String): String = {
      val key = FixtureKey.of(sfDir, "events.parquet", variant = kind)
      cache.getOrElseUpdate(key, {
        val feed =
          java.nio.file.Files.createTempDirectory(s"graft_s1_${kind}_feed_").toFile
        // deleteOnExit runs LIFO: registering the dir BEFORE its files means
        // files are deleted first, then the (empty) dir.
        feed.deleteOnExit()
        val m = round(col("price") * 100).cast("long")
        val frameCol = kind match {
          case "trade" => Sbe.encodeTrade(
            col("ts_ms") * 1000L, col("trade_id"), m, lit(-2),
            col("qty") > 50, upper(col("symbol")))
          case "bba" => Sbe.encodeBba(
            col("ts_ms") * 1000L, m - 50L, m + 50L,
            round(col("qty") * 100).cast("long") + 1L,
            round(col("qty") * 100).cast("long") + 2L,
            lit(-2), upper(col("symbol")))
          case "depth" => Sbe.encodeDepth(
            col("ts_ms") * 1000L, col("trade_id") * 10L, col("trade_id") * 10L + 5L,
            array(m - 1L, m - 2L, m - 3L), array(m + 1L, m + 2L),
            lit(-2), upper(col("symbol")))
        }
        val frames = Tables.trades(s, sfDir).filter(col("trade_id") < 2000)
          .select(col("trade_id"), frameCol.as("frame"))
          .orderBy("trade_id").collect()
        frames.grouped(512).zipWithIndex.foreach { case (chunk, i) =>
          val f = new java.io.File(
            feed, f"capture_$i%05d${graft.sources.SbeFrameSource.FileSuffix}")
          f.deleteOnExit()
          graft.sources.SbeFrameSource.writeFrameFile(
            f, chunk.map(_.getAs[Array[Byte]]("frame")).toSeq)
        }
        feed.toString
      })
    }
  }

  /** k9's fixtures: a memoized 32-small-file parquet copy of the trades
    * view (the accreted-micro-batch input shape compaction exists to fix;
    * built once per (process, sf dir) — setup, not measured surface) and ONE
    * process-wide compaction output dir, overwritten per invocation so
    * repeated bench runs pay the full rewrite without leaking temp dirs.
    */
  private object CompactionFixture {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    private val dstCache = scala.collection.concurrent.TrieMap.empty[String, String]

    def smallFilesDir(s: SparkSession, sfDir: String): String = {
      val key = FixtureKey.of(sfDir, "events.parquet", variant = "smallfiles")
      cache.getOrElseUpdate(key, {
        val d = java.nio.file.Files.createTempDirectory("graft_smallfiles_").toFile
        d.deleteOnExit()
        Tables.trades(s, sfDir)
          .repartition(32).write.mode("overwrite").parquet(d.toString)
        FixtureCleanup.registerTree(d)
        d.toString
      })
    }

    /** One output dir PER sf dir (keyed like the input): a process that
      * interleaves sf dirs must not have B's compaction overwrite the
      * directory a DataFrame returned for A still lazily reads. Repeat
      * invocations for the SAME sf overwrite in place (the avro7 contract:
      * each run pays the full job, no per-run temp-dir leak).
      */
    def dstDir(sfDir: String): String = {
      val key = FixtureKey.of(sfDir, "events.parquet", variant = "compact_dst")
      dstCache.getOrElseUpdate(key, {
        val d = java.nio.file.Files.createTempDirectory("graft_compacted_").toFile
        d.deleteOnExit()
        d.toString
      })
    }
  }

  /** b1/b2's synthetic DepthDelta log: floor-grid prices force genuine
    * level collisions (several updates to one price), trade_id is the total
    * update order, every 17th delta is a qty-0 deletion. `floor` (not
    * `round`) because Spark rounds HALF_UP while DuckDB rounds half-even —
    * floor is identical in both. ONE recipe — the DuckDB CTEs mirror it,
    * so it must not fork.
    */
  private def bookDeltasTs(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir).select(
      col("symbol"),
      col("trade_id").as("uid"),
      col("ts_ms"),
      when(pmod(col("trade_id"), lit(2)) === 0, "bid").otherwise("ask").as("side"),
      // cast back: Spark's floor returns BIGINT, DuckDB's returns DOUBLE
      floor(col("price")).cast("double").as("price"),
      when(pmod(col("trade_id"), lit(17)) === 0, 0.0).otherwise(col("qty")).as("qty"))

  /** The time-free view for b1/b1b (end-state replay needs no chunking). */
  private def bookDeltas(s: SparkSession, dir: String): DataFrame =
    bookDeltasTs(s, dir).drop("ts_ms")

  /** DuckDB twin of [[bookDeltas]] + the last-write-wins live-level CTEs. */
  private val bookCte =
    s"""d AS (
       |  SELECT symbol, trade_id AS uid,
       |    CASE WHEN trade_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
       |    floor(price) AS price,
       |    CASE WHEN trade_id % 17 = 0 THEN 0.0 ELSE qty END AS qty
       |  FROM t),
       |lastw AS (
       |  SELECT symbol, side, price, qty,
       |    row_number() OVER (PARTITION BY symbol, side, price
       |      ORDER BY uid DESC, qty DESC) AS rn
       |  FROM d),
       |rk AS (
       |  SELECT symbol, side, price, qty,
       |    row_number() OVER (PARTITION BY symbol, side
       |      ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END) AS level
       |  FROM lastw WHERE rn = 1 AND qty > 0),
       |lv AS (
       |  SELECT symbol, side, CAST(level AS BIGINT) AS level, price, qty,
       |    price * qty AS value
       |  FROM rk WHERE level <= 10)""".stripMargin

  private val quotesCte =
    """q AS (
      |  SELECT symbol, ts_ms, trade_id AS quote_id,
      |    price - qty * 0.01 AS bid_px,
      |    price + 0.01 + qty * 0.005 AS ask_px,
      |    qty + 1.0 AS bid_sz,
      |    101.0 - qty AS ask_sz
      |  FROM t)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2 — BBA batch aggregate (feature_builder.py:187-286), incl. the
    // latest_bid_size the reference meant to compute (SURVEY §7.5.5).
    "a2_bba_stats" -> { (s, dir) =>
      val q = Tables.trades(s, dir).select(
        col("symbol"), col("ts_ms"), col("trade_id").as("quote_id"),
        (col("price") - col("qty") * 0.01).as("bid_px"),
        (col("price") + lit(0.01) + col("qty") * 0.005).as("ask_px"),
        (col("qty") + 1.0).as("bid_sz"),
        (lit(101.0) - col("qty")).as("ask_sz"))
      QuoteAggregates.bbaStats(
        q,
        Seq(col("symbol"), TimeUnits.bucketStartMs(col("ts_ms"), 86400000L).as("day_ms")))
    },
    // A3 — depth snapshot features over array<struct> book levels
    // (feature_builder.py:288-354): per (symbol, day) the bottom-10 prices
    // form the bid side (sorted desc) and top-10 the ask side (sorted asc);
    // stats are computed on the LATEST snapshot per symbol.
    "a3_depth_snapshot" -> { (s, dir) =>
      val t = Tables.trades(s, dir)
        .withColumn("day", TimeUnits.bucketIndex(col("ts_ms"), 86400000L))
      val wAsc = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("price"), col("trade_id"))
      val wDesc = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("price").desc, col("trade_id").desc)
      val rk = t
        .withColumn("ra", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
      val lvl = struct(col("price"), col("qty"), col("trade_id"))
      val bids = rk.filter(col("ra") <= 10)
        .groupBy(col("symbol"), col("day"))
        .agg(reverse(sort_array(collect_list(lvl))).as("bids"))
      val asks = rk.filter(col("rd") <= 10)
        .groupBy(col("symbol"), col("day"))
        .agg(sort_array(collect_list(lvl)).as("asks"))
      val books = bids
        .join(asks, Seq("symbol", "day"))
        .withColumn("ts_ms", col("day") * 86400000L)
        .withColumn("snap_id", col("day"))
      QuoteAggregates.depthSnapshotStats(books, Seq(col("symbol")), topN = 5)
    },
    // B1 — order-book delta replay (BookReplay.levels): the book's surviving
    // top-10 levels after applying a DepthDelta log (last write per level
    // wins, qty=0 deletes — DATA_PIPELINE.md:84-95). The delta log is
    // derived deterministically from trades (floor-grid price levels so
    // updates genuinely collide, every 17th delta a deletion); the streaming
    // twin is streaming/BookState (spec-asserted end-state identical).
    "b1_book_replay" -> { (s, dir) =>
      BookReplay.levels(
        bookDeltas(s, dir),
        symbol = col("symbol"), updateId = col("uid"), side = col("side"),
        price = col("price"), qty = col("qty"), depth = 10)
    },
    // B1b — the ob:{symbol} metric row over the replayed book: best bid/ask,
    // spread (+bp), top-10 value sums, value imbalance, size-weighted mid
    // (DATA_PIPELINE.md:96-120).
    "b1b_book_metrics" -> { (s, dir) =>
      BookReplay.metrics(
        bookDeltas(s, dir),
        symbol = col("symbol"), updateId = col("uid"), side = col("side"),
        price = col("price"), qty = col("qty"), depth = 10)
    },
    // B2 — book TIMELINE (BookReplay.timeline): top-10 levels at the end of
    // every day-chunk of the delta log, via level-validity intervals + rank
    // — the replay-at-grid audit with no sequential fold. Same synthetic
    // delta log as b1, plus the event ts for chunking.
    "b2_book_timeline" -> { (s, dir) =>
      BookReplay.timeline(
        bookDeltasTs(s, dir),
        symbol = col("symbol"), updateId = col("uid"), tsMs = col("ts_ms"),
        side = col("side"), price = col("price"), qty = col("qty"),
        chunkMs = 86400000L, depth = 10)
    },
    // S1 — the real connector: frames captured to rolling `.sbef` files are
    // read back through the `sbe-frames` DataSource V2 source (batch side of
    // the same MicroBatchStream the streaming spec drives) and decoded by
    // the codegen expression — the full ingest path, not an analog. The
    // capture fixture (encode + write) is [[S1Feed]]: memoized per
    // (process, sf dir), so the declared plan is ONLY the scan + decode.
    "s1_sbe_frame_source" -> { (s, dir) =>
      s.read.format("sbe-frames").load(S1Feed.dir(s, dir, "trade"))
        .select(Sbe.decodeTrade(col("frame")).as("d"))
        .select(
          col("d.trade_id").as("trade_id"),
          col("d.ts_ms").as("ts_ms"),
          round(col("d.price"), 2).as("price"),
          col("d.is_buyer_maker").as("is_buyer_maker"),
          col("d.symbol").as("symbol"))
    },
    // S1b — BBA frames (templateId 10001) through the same DSv2 source +
    // codegen decode: the full quote ingest path, closing the loop on the
    // second decode expression (fixture values mirror s2b).
    "s1b_bba_frame_source" -> { (s, dir) =>
      s.read.format("sbe-frames").load(S1Feed.dir(s, dir, "bba"))
        .select(Sbe.decodeBba(col("frame")).as("d"))
        .select(
          col("d.ts_ms").as("ts_ms"),
          round(col("d.bid_px"), 2).as("bid_px"),
          round(col("d.ask_px"), 2).as("ask_px"),
          round(col("d.ask_px") - col("d.bid_px"), 2).as("spread"),
          col("d.symbol").as("symbol"))
    },
    // S1c — depth frames (templateId 10003, repeating groups) through the
    // same source; levels flattened to scalars as in s2c.
    "s1c_depth_frame_source" -> { (s, dir) =>
      s.read.format("sbe-frames").load(S1Feed.dir(s, dir, "depth"))
        .select(Sbe.decodeDepth(col("frame")).as("d"))
        .select(
          col("d.ts_ms").as("ts_ms"),
          col("d.first_update_id").as("first_update_id"),
          col("d.final_update_id").as("final_update_id"),
          size(col("d.bids")).cast("long").as("n_bids"),
          size(col("d.asks")).cast("long").as("n_asks"),
          round(element_at(col("d.bids"), 1).getField("price"), 2).as("best_bid"),
          round(element_at(col("d.asks"), 1).getField("price"), 2).as("best_ask"),
          col("d.symbol").as("symbol"))
    },
    // S2 — SBE mantissa·10^exp binary decode roundtrip through the custom
    // Catalyst expression (sbe_decoder.cpp:107-111, 134-136).
    "s2_sbe_roundtrip" -> { (s, dir) =>
      val t = Tables.trades(s, dir).filter(col("trade_id") < 2000)
      val enc = t.select(
        col("trade_id").as("orig_id"),
        Sbe.encodeTrade(
          col("ts_ms") * 1000L, col("trade_id"),
          round(col("price") * 100).cast("long"), lit(-2),
          col("qty") > 50, upper(col("symbol"))).as("frame"))
      enc
        .select(col("orig_id"), Sbe.decodeTrade(col("frame")).as("d"))
        .select(
          col("orig_id"),
          col("d.ts_ms").as("ts_ms"),
          col("d.trade_id").as("trade_id"),
          round(col("d.price"), 2).as("price"),
          col("d.is_buyer_maker").as("is_buyer_maker"),
          col("d.symbol").as("symbol"))
    },
    // S2b — BBA template roundtrip through the codegen decode expression.
    "s2b_bba_roundtrip" -> { (s, dir) =>
      val t = Tables.trades(s, dir).filter(col("trade_id") < 2000)
      val enc = t.select(
        col("trade_id").as("orig_id"),
        Sbe.encodeBba(
          col("ts_ms") * 1000L,
          round(col("price") * 100).cast("long") - 50L,
          round(col("price") * 100).cast("long") + 50L,
          round(col("qty") * 100).cast("long") + 1L,
          round(col("qty") * 100).cast("long") + 2L,
          lit(-2), upper(col("symbol"))).as("frame"))
      enc
        .select(col("orig_id"), Sbe.decodeBba(col("frame")).as("d"))
        .select(
          col("orig_id"),
          col("d.ts_ms").as("ts_ms"),
          round(col("d.bid_px"), 2).as("bid_px"),
          round(col("d.ask_px"), 2).as("ask_px"),
          round(col("d.ask_px") - col("d.bid_px"), 2).as("spread"),
          col("d.symbol").as("symbol"))
    },
    // S2c — depth template (10003) roundtrip: the repeating-group walk
    // (sbe_decoder.cpp:456-542) through the codegen decode expression. Levels
    // are flattened to scalars (best bid/ask, per-side qty fold) so the
    // oracle can reproduce the arithmetic without array hashing.
    "s2c_depth_roundtrip" -> { (s, dir) =>
      val t = Tables.trades(s, dir).filter(col("trade_id") < 2000)
      val m = round(col("price") * 100).cast("long")
      val enc = t.select(
        col("trade_id").as("orig_id"),
        Sbe.encodeDepth(
          col("ts_ms") * 1000L,
          col("trade_id") * 10L,
          col("trade_id") * 10L + 5L,
          array(m - 1L, m - 2L, m - 3L),
          array(m + 1L, m + 2L),
          lit(-2), upper(col("symbol"))).as("frame"))
      enc
        .select(col("orig_id"), Sbe.decodeDepth(col("frame")).as("d"))
        .select(
          col("orig_id"),
          col("d.ts_ms").as("ts_ms"),
          col("d.first_update_id").as("first_update_id"),
          col("d.final_update_id").as("final_update_id"),
          size(col("d.bids")).cast("long").as("n_bids"),
          size(col("d.asks")).cast("long").as("n_asks"),
          round(element_at(col("d.bids"), 1).getField("price"), 2).as("best_bid"),
          round(element_at(col("d.asks"), 1).getField("price"), 2).as("best_ask"),
          round(
            aggregate(
              transform(col("d.bids"), l => l.getField("qty")), lit(0.0), (a, x) => a + x),
            2).as("bid_qty_sum"),
          round(
            aggregate(
              transform(col("d.asks"), l => l.getField("qty")), lit(0.0), (a, x) => a + x),
            2).as("ask_qty_sum"),
          col("d.symbol").as("symbol"))
    },
    // K2/S8 — bronze object-key derivation and parse-back
    // (s3_writer.py:216-230, s3_reader.py:124-152).
    "k2_partition_keys" -> { (s, dir) =>
      val ts = TimeUnits.millisToTimestamp(col("ts_ms"))
      Tables.trades(s, dir)
        .filter(col("trade_id") < 1000)
        .select(
          col("trade_id"),
          concat(
            lit("bronze/"), lower(col("symbol")), lit("/trade/yyyy="),
            date_format(ts, "yyyy"), lit("/mm="), date_format(ts, "MM"),
            lit("/dd="), date_format(ts, "dd"), lit("/hh="), date_format(ts, "HH"),
            lit("/trade_"), col("ts_ms").cast("string"), lit(".jsonl.gz")).as("object_key"))
        .withColumn(
          "parsed_symbol", regexp_extract(col("object_key"), "bronze/([a-z]+)/", 1))
        .withColumn(
          "parsed_mm", regexp_extract(col("object_key"), "mm=(\\d+)", 1).cast("int"))
    },
    // Z1 — Morton z-value layout keys over (user, minute): the clustering
    // key OPTIMIZE-ZORDER-style writes range-partition on, so parquet
    // min/max stats prune on either dimension (Layout.clusteredWrite).
    "z1_zorder_keys" -> { (s, dir) =>
      Tables.trades(s, dir)
        .filter(col("trade_id") < 5000)
        .select(
          col("trade_id"),
          col("user_id").bitwiseAND(lit(65535L)).as("zx"),
          expr("ts_ms div 60000").bitwiseAND(lit(65535L)).as("zy"))
        .withColumn("zvalue", Layout.zValue16(col("zx"), col("zy")))
        .withColumn("zbucket", shiftright(col("zvalue"), 22))
    },
    // K9 — small-file compaction round-trip: a memoized 32-small-file
    // parquet dir (the shape per-trigger streaming commits accrete) is
    // bin-packed by Layout.compactParquet into ~targetBytes outputs, then
    // the COMPACTED files are read back and returned in full — the oracle
    // (plain SELECT over the original table) proves the rewrite preserved
    // every row and value. Each invocation pays the full compaction job;
    // that IS the measured surface (same contract as avro7's export).
    "k9_compaction" -> { (s, dir) =>
      val src = CompactionFixture.smallFilesDir(s, dir)
      val dst = CompactionFixture.dstDir(dir)
      Layout.compactParquet(s, src, dst, targetBytes = 256L * 1024)
      FixtureCleanup.registerTree(new java.io.File(dst))
      GraftFs.readParquet(s, dst)
        .select("symbol", "ts_ms", "price", "qty", "trade_id", "user_id")
    },
    // K10 — MERGE-style upsert (Scd.mergeUpsert): base = latest state per
    // user over the first id half, updates = the second half; result =
    // reconciled latest state with the insert/update/keep classification a
    // MERGE INTO writer splits its commit on.
    "k10_merge_upsert" -> { (s, dir) =>
      val t = Tables.trades(s, dir)
      Scd.mergeUpsert(
        base = t.filter(col("trade_id") < 5000),
        updates = t.filter(col("trade_id") >= 5000),
        key = col("user_id"), tsMs = col("ts_ms"), tieBreak = col("trade_id"),
        attrs = Seq("price", "symbol"))
    },
    // K8 — SCD2 history assembly: per-user change stream → validity
    // intervals (the lakehouse generalization of db_writer.py's
    // latest-row-per-key upsert; RDS_SCHEMA.md:703-756).
    "k8_scd2_history" -> { (s, dir) =>
      Scd.history(
        Tables.trades(s, dir).filter(col("user_id") < 30),
        key = col("user_id"), tsMs = col("ts_ms"), tieBreak = col("trade_id"),
        attrs = Seq("price" -> col("price"), "symbol" -> col("symbol")))
    }
  )

  val oracle: Map[String, String] = Map(
    // Content preservation through the compact rewrite: the Spark side reads
    // the COMPACTED files; the oracle reads the ORIGINAL table. Equal hash =
    // no row lost, duplicated, or altered by the bin-packing.
    "k9_compaction" ->
      s"""WITH t AS ($T)
         |SELECT symbol, ts_ms, price, qty, trade_id, user_id FROM t""".stripMargin,
    "k10_merge_upsert" ->
      s"""WITH t AS ($T),
         |b AS (SELECT user_id AS key, ts_ms, trade_id, price, symbol
         |      FROM t WHERE trade_id < 5000),
         |u AS (SELECT user_id AS key, ts_ms, trade_id, price, symbol
         |      FROM t WHERE trade_id >= 5000),
         |bl AS (SELECT key, ts_ms AS base_ts, price AS base_price,
         |         symbol AS base_symbol
         |       FROM (SELECT *, row_number() OVER (PARTITION BY key
         |               ORDER BY ts_ms DESC, trade_id DESC) AS rn FROM b) x
         |       WHERE rn = 1),
         |ul AS (SELECT key, ts_ms AS upd_ts, price AS upd_price,
         |         symbol AS upd_symbol
         |       FROM (SELECT *, row_number() OVER (PARTITION BY key
         |               ORDER BY ts_ms DESC, trade_id DESC) AS rn FROM u) x
         |       WHERE rn = 1)
         |SELECT key, coalesce(upd_ts, base_ts) AS ts_ms,
         |  CASE WHEN upd_ts IS NOT NULL THEN upd_price ELSE base_price END AS price,
         |  CASE WHEN upd_ts IS NOT NULL THEN upd_symbol ELSE base_symbol END AS symbol,
         |  CASE WHEN base_ts IS NULL THEN 'insert'
         |       WHEN upd_ts IS NULL THEN 'keep'
         |       ELSE 'update' END AS merge_op
         |FROM bl FULL JOIN ul USING (key)""".stripMargin,
    "z1_zorder_keys" -> {
      val z = Layout.zValue16Sql("zx", "zy")
      s"""WITH t AS ($T),
         |k AS (
         |  SELECT trade_id, user_id & 65535 AS zx, (ts_ms // 60000) & 65535 AS zy
         |  FROM t WHERE trade_id < 5000),
         |z AS (SELECT trade_id, zx, zy, $z AS zvalue FROM k)
         |SELECT trade_id, zx, zy, zvalue, zvalue >> 22 AS zbucket FROM z""".stripMargin
    },
    // No-op compression: rows whose (price, symbol) tuple equals the
    // predecessor's are dropped before the lead pass (Scd.history's
    // lag-struct compare), so valid_to is the next CHANGE's valid_from.
    "k8_scd2_history" ->
      s"""WITH t AS ($T),
         |s AS (SELECT user_id AS key, ts_ms, trade_id, price, symbol
         |      FROM t WHERE user_id < 30),
         |m AS (SELECT *,
         |        struct_pack(p := price, sy := symbol) IS DISTINCT FROM
         |          lag(struct_pack(p := price, sy := symbol))
         |            OVER (PARTITION BY key ORDER BY ts_ms, trade_id) AS changed
         |      FROM s)
         |SELECT key, ts_ms AS valid_from, price, symbol,
         |  lead(ts_ms, 1) OVER w AS valid_to,
         |  lead(ts_ms, 1) OVER w IS NULL AS is_current
         |FROM m WHERE changed
         |WINDOW w AS (PARTITION BY key ORDER BY ts_ms, trade_id)""".stripMargin,
    "a2_bba_stats" ->
      s"""WITH t AS ($T),
         |$quotesCte
         |SELECT symbol, (ts_ms // 86400000) * 86400000 AS day_ms,
         |  count(*) AS n_quotes,
         |  last(bid_px ORDER BY ts_ms, quote_id) AS latest_bid,
         |  last(ask_px ORDER BY ts_ms, quote_id) AS latest_ask,
         |  last(bid_sz ORDER BY ts_ms, quote_id) AS latest_bid_size,
         |  last(ask_sz ORDER BY ts_ms, quote_id) AS latest_ask_size,
         |  round(avg(ask_px - bid_px), 6) AS avg_spread,
         |  min(ask_px - bid_px) AS min_spread,
         |  max(ask_px - bid_px) AS max_spread,
         |  round(stddev_samp(ask_px - bid_px), 4) AS spread_std,
         |  round(avg((ask_px + bid_px) / 2.0), 6) AS avg_mid,
         |  CAST(sum(CAST(bid_sz AS DECIMAL(27,8))) AS DOUBLE) AS total_bid_size,
         |  CAST(sum(CAST(ask_sz AS DECIMAL(27,8))) AS DOUBLE) AS total_ask_size,
         |  first((ask_px + bid_px) / 2.0 ORDER BY ts_ms, quote_id) AS first_mid,
         |  last((ask_px + bid_px) / 2.0 ORDER BY ts_ms, quote_id) AS last_mid,
         |  (total_bid_size - total_ask_size) / nullif(total_bid_size + total_ask_size, 0.0) AS size_imbalance,
         |  last_mid - first_mid AS mid_change
         |FROM q GROUP BY 1, 2""".stripMargin,
    "a3_depth_snapshot" ->
      s"""WITH t AS ($T),
         |d AS (SELECT symbol, ts_ms // 86400000 AS day, price, qty, trade_id FROM t),
         |rk AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY symbol, day ORDER BY price, trade_id) AS ra,
         |    row_number() OVER (PARTITION BY symbol, day ORDER BY price DESC, trade_id DESC) AS rd
         |  FROM d),
         |bids AS (
         |  SELECT symbol, day,
         |    list(struct_pack(price := price, qty := qty, trade_id := trade_id)
         |         ORDER BY price DESC, qty DESC, trade_id DESC) AS bids
         |  FROM rk WHERE ra <= 10 GROUP BY 1, 2),
         |asks AS (
         |  SELECT symbol, day,
         |    list(struct_pack(price := price, qty := qty, trade_id := trade_id)
         |         ORDER BY price, qty, trade_id) AS asks
         |  FROM rk WHERE rd <= 10 GROUP BY 1, 2),
         |books AS (
         |  SELECT b.symbol, b.day, b.bids, a.asks
         |  FROM bids b JOIN asks a USING (symbol, day)),
         |latest AS (
         |  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY day DESC) AS rn
         |  FROM books)
         |SELECT symbol, day * 86400000 AS snapshot_ts,
         |  bids[1].price AS best_bid,
         |  asks[1].price AS best_ask,
         |  asks[1].price - bids[1].price AS spread,
         |  (asks[1].price + bids[1].price) / 2.0 AS mid,
         |  list_sum(list_transform(bids[1:5], l -> l.qty)) AS bid_depth,
         |  list_sum(list_transform(asks[1:5], l -> l.qty)) AS ask_depth,
         |  (list_sum(list_transform(bids[1:5], l -> l.qty)) - list_sum(list_transform(asks[1:5], l -> l.qty)))
         |    / nullif(list_sum(list_transform(bids[1:5], l -> l.qty)) + list_sum(list_transform(asks[1:5], l -> l.qty)), 0.0) AS depth_imbalance,
         |  list_sum(list_transform(bids[1:5], l -> l.price * l.qty))
         |    / nullif(list_sum(list_transform(bids[1:5], l -> l.qty)), 0.0) AS bid_vwap_top,
         |  list_sum(list_transform(asks[1:5], l -> l.price * l.qty))
         |    / nullif(list_sum(list_transform(asks[1:5], l -> l.qty)), 0.0) AS ask_vwap_top,
         |  len(bids) AS bid_levels,
         |  len(asks) AS ask_levels
         |FROM latest WHERE rn = 1""".stripMargin,
    "b2_book_timeline" ->
      s"""WITH t AS ($T),
         |d AS (
         |  SELECT symbol, trade_id AS uid, ts_ms // 86400000 AS chunk,
         |    CASE WHEN trade_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
         |    floor(price) AS price,
         |    CASE WHEN trade_id % 17 = 0 THEN 0.0 ELSE qty END AS qty
         |  FROM t),
         |lw AS (
         |  SELECT symbol, side, price, chunk, qty,
         |    row_number() OVER (PARTITION BY symbol, side, price, chunk
         |      ORDER BY uid DESC, qty DESC) AS rn
         |  FROM d),
         |iv AS (
         |  SELECT symbol, side, price, chunk, qty,
         |    lead(chunk) OVER (PARTITION BY symbol, side, price ORDER BY chunk) AS next_chunk,
         |    max(chunk) OVER (PARTITION BY symbol) AS max_chunk
         |  FROM lw WHERE rn = 1),
         |g AS (
         |  SELECT symbol, side, price, qty,
         |    unnest(generate_series(chunk, coalesce(next_chunk - 1, max_chunk))) AS gc
         |  FROM iv WHERE qty > 0),
         |rk AS (
         |  SELECT symbol, gc, side, price, qty,
         |    row_number() OVER (PARTITION BY symbol, side, gc
         |      ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END) AS level
         |  FROM g)
         |SELECT symbol, (gc + 1) * 86400000 AS snapshot_ts, side,
         |  CAST(level AS BIGINT) AS level, price, qty
         |FROM rk WHERE level <= 10""".stripMargin,
    "b1_book_replay" ->
      s"""WITH t AS ($T),
         |$bookCte
         |SELECT symbol, side, level, price, qty, value FROM lv""".stripMargin,
    "b1b_book_metrics" ->
      s"""WITH t AS ($T),
         |$bookCte,
         |agg AS (
         |  SELECT symbol,
         |    max(CASE WHEN side = 'bid' AND level = 1 THEN price END) AS best_bid,
         |    max(CASE WHEN side = 'ask' AND level = 1 THEN price END) AS best_ask,
         |    max(CASE WHEN side = 'bid' AND level = 1 THEN qty END) AS bbq,
         |    max(CASE WHEN side = 'ask' AND level = 1 THEN qty END) AS baq,
         |    CAST(sum(CASE WHEN side = 'bid' THEN CAST(value AS DECIMAL(27,8)) ELSE 0 END) AS DOUBLE) AS bid_value_sum,
         |    CAST(sum(CASE WHEN side = 'ask' THEN CAST(value AS DECIMAL(27,8)) ELSE 0 END) AS DOUBLE) AS ask_value_sum,
         |    count(CASE WHEN side = 'bid' THEN 1 END) AS bid_levels,
         |    count(CASE WHEN side = 'ask' THEN 1 END) AS ask_levels
         |  FROM lv GROUP BY 1)
         |SELECT symbol, best_bid, best_ask, bid_value_sum, ask_value_sum,
         |  bid_levels, ask_levels,
         |  best_ask - best_bid AS spread,
         |  round((best_ask - best_bid) / ((best_ask + best_bid) / 2.0) * 10000.0, 4) AS spread_bp,
         |  round((bid_value_sum - ask_value_sum)
         |    / nullif(bid_value_sum + ask_value_sum, 0.0), 6) AS ob_imbalance,
         |  round((best_bid * baq + best_ask * bbq) / nullif(bbq + baq, 0.0), 6) AS weighted_mid
         |FROM agg""".stripMargin,
    "s1_sbe_frame_source" ->
      s"""WITH t AS ($T)
         |SELECT trade_id, ts_ms,
         |  round(CAST(round(price * 100) AS BIGINT) * 0.01, 2) AS price,
         |  qty > 50 AS is_buyer_maker,
         |  upper(symbol) AS symbol
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "s1b_bba_frame_source" ->
      s"""WITH t AS ($T)
         |SELECT ts_ms,
         |  round((CAST(round(price * 100) AS BIGINT) - 50) * 0.01, 2) AS bid_px,
         |  round((CAST(round(price * 100) AS BIGINT) + 50) * 0.01, 2) AS ask_px,
         |  round((CAST(round(price * 100) AS BIGINT) + 50) * 0.01
         |        - (CAST(round(price * 100) AS BIGINT) - 50) * 0.01, 2) AS spread,
         |  upper(symbol) AS symbol
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "s1c_depth_frame_source" ->
      s"""WITH t AS ($T),
         |m AS (
         |  SELECT trade_id, ts_ms, CAST(round(price * 100) AS BIGINT) AS mm,
         |         upper(symbol) AS sym
         |  FROM t WHERE trade_id < 2000)
         |SELECT ts_ms,
         |  trade_id * 10 AS first_update_id,
         |  trade_id * 10 + 5 AS final_update_id,
         |  CAST(3 AS BIGINT) AS n_bids,
         |  CAST(2 AS BIGINT) AS n_asks,
         |  round((mm - 1) * 0.01, 2) AS best_bid,
         |  round((mm + 1) * 0.01, 2) AS best_ask,
         |  sym AS symbol
         |FROM m""".stripMargin,
    "s2_sbe_roundtrip" ->
      s"""WITH t AS ($T)
         |SELECT trade_id AS orig_id, ts_ms, trade_id,
         |  round(CAST(round(price * 100) AS BIGINT) * 0.01, 2) AS price,
         |  qty > 50 AS is_buyer_maker,
         |  upper(symbol) AS symbol
         |FROM t WHERE trade_id < 2000""".stripMargin,
    "s2b_bba_roundtrip" ->
      s"""WITH t AS ($T)
         |SELECT trade_id AS orig_id, ts_ms,
         |  round((CAST(round(price * 100) AS BIGINT) - 50) * 0.01, 2) AS bid_px,
         |  round((CAST(round(price * 100) AS BIGINT) + 50) * 0.01, 2) AS ask_px,
         |  round((CAST(round(price * 100) AS BIGINT) + 50) * 0.01
         |        - (CAST(round(price * 100) AS BIGINT) - 50) * 0.01, 2) AS spread,
         |  upper(symbol) AS symbol
         |FROM t WHERE trade_id < 2000""".stripMargin,
    // qty mantissa is price-mantissa+1 per level (see Sbe.encodeDepth), so
    // bid qtys are m, m-1, m-2 and ask qtys m+2, m+3; the fold order of the
    // qty sums matches Spark's sequential aggregate.
    "s2c_depth_roundtrip" ->
      s"""WITH t AS ($T),
         |m AS (
         |  SELECT trade_id, ts_ms, CAST(round(price * 100) AS BIGINT) AS mm,
         |         upper(symbol) AS sym
         |  FROM t WHERE trade_id < 2000)
         |SELECT trade_id AS orig_id,
         |  ts_ms,
         |  trade_id * 10 AS first_update_id,
         |  trade_id * 10 + 5 AS final_update_id,
         |  CAST(3 AS BIGINT) AS n_bids,
         |  CAST(2 AS BIGINT) AS n_asks,
         |  round((mm - 1) * 0.01, 2) AS best_bid,
         |  round((mm + 1) * 0.01, 2) AS best_ask,
         |  round(mm * 0.01 + (mm - 1) * 0.01 + (mm - 2) * 0.01, 2) AS bid_qty_sum,
         |  round((mm + 2) * 0.01 + (mm + 3) * 0.01, 2) AS ask_qty_sum,
         |  sym AS symbol
         |FROM m""".stripMargin,
    "k2_partition_keys" ->
      s"""WITH t AS ($T)
         |SELECT trade_id,
         |  concat('bronze/', lower(symbol), '/trade/yyyy=',
         |         strftime(make_timestamp(ts_ms * 1000), '%Y'), '/mm=',
         |         strftime(make_timestamp(ts_ms * 1000), '%m'), '/dd=',
         |         strftime(make_timestamp(ts_ms * 1000), '%d'), '/hh=',
         |         strftime(make_timestamp(ts_ms * 1000), '%H'),
         |         '/trade_', CAST(ts_ms AS VARCHAR), '.jsonl.gz') AS object_key,
         |  lower(symbol) AS parsed_symbol,
         |  CAST(strftime(make_timestamp(ts_ms * 1000), '%m') AS INT) AS parsed_mm
         |FROM t WHERE trade_id < 1000""".stripMargin
  )
}
