package graft

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Avro

/** [[graft.functions.Avro]] — the Avro wire-format adapter.
  *
  * Covers: (1) the wire bytes are REAL Avro binary (hand-computed byte
  * sequence per the spec's zigzag-varint + IEEE764-LE encoding, not a private
  * framing), and every frame matches what Avro's own `GenericDatumWriter`
  * writes and `GenericDatumReader` reads for the same record; (2)
  * field-exact roundtrips for all three reference schemas, including the
  * nested array<array<string>> book sides; (3) undecodable / truncated /
  * trailing-garbage bytes decode to null instead of failing the task
  * (replay-side behavior for corrupt stream segments), while a null in a
  * non-nullable field fails the encoding task loudly.
  */
class AvroSpec extends SparkSpec {
  import spark.implicits._

  /** The frame Avro's own library writes for a record filled by `fill`. */
  private def libraryFrame(schemaJson: String)(fill: GenericData.Record => Unit): Array[Byte] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(schema)
    fill(rec)
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** The record Avro's own library reads back from `frame`. */
  private def libraryRecord(schemaJson: String, frame: Array[Byte]): GenericRecord = {
    val schema = new Schema.Parser().parse(schemaJson)
    new GenericDatumReader[GenericRecord](schema)
      .read(null, DecoderFactory.get().binaryDecoder(frame, null))
  }

  /** All of `df`'s columns, in order, as one record struct. */
  private def record(df: DataFrame): Column = struct(df.columns.map(col).toSeq: _*)

  private def roundtrip(df: DataFrame, schemaJson: String): DataFrame =
    df.select(Avro.decode(Avro.encode(record(df), schemaJson), schemaJson).as("d"))
      .select("d.*")

  /** The frame `encode` writes for a one-row `df`. */
  private def frame(df: DataFrame, schemaJson: String): Array[Byte] =
    df.select(Avro.encode(record(df), schemaJson).as("f")).head().getAs[Array[Byte]]("f")

  private def fillTrade(
      symbol: String, eventTs: Long, ingestTs: Long, tradeId: Long,
      price: Double, qty: Double, isBuyerMaker: Boolean, source: String)(
      r: GenericData.Record): Unit = {
    r.put("symbol", symbol); r.put("event_ts", eventTs); r.put("ingest_ts", ingestTs)
    r.put("trade_id", tradeId); r.put("price", price); r.put("qty", qty)
    r.put("is_buyer_maker", isBuyerMaker); r.put("source", source)
  }

  private val tradeCols =
    Seq("symbol", "event_ts", "ingest_ts", "trade_id", "price", "qty", "is_buyer_maker", "source")

  test("trade wire bytes match the Avro binary spec exactly") {
    // {"symbol":"A","event_ts":1,"ingest_ts":2,"trade_id":3,
    //  "price":1.0,"qty":0.5,"is_buyer_maker":true,"source":"s"}
    // Avro binary: fields in schema order, no header/tags.
    //   string "A"  -> len zigzag(1)=0x02, 'A'=0x41
    //   long 1/2/3  -> zigzag = 0x02, 0x04, 0x06
    //   double      -> 8 bytes IEEE754 little-endian
    //   boolean     -> 1 byte
    val bytes = frame(
      Seq(("A", 1L, 2L, 3L, 1.0, 0.5, true, "s")).toDF(tradeCols: _*), Avro.TradeSchemaJson)
    def le(d: Double): Seq[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(d); bb.array().toSeq
    }
    val expected: Seq[Byte] =
      Seq[Byte](0x02, 0x41) ++ Seq[Byte](0x02, 0x04, 0x06) ++
        le(1.0) ++ le(0.5) ++ Seq[Byte](0x01) ++ Seq[Byte](0x02, 0x73)
    assert(bytes.toSeq === expected)
  }

  test("trade roundtrip is field-exact, including double bit-patterns") {
    val rows = Seq(
      ("BTCUSDT", 1700000000123L, 1700000000125L, 42L, 67123.45678901, 0.00123456, true, "sbe"),
      ("ETHUSDT", 1700000001000L, 1700000001002L, 43L, -0.0, Double.MinPositiveValue, false, "rest"))
    val df = roundtrip(rows.toDF(tradeCols: _*), Avro.TradeSchemaJson)
    val got = df.as[(String, Long, Long, Long, Double, Double, Boolean, String)].collect().toSeq
    assert(got === rows)
    // -0.0 must stay -0.0 (bit-exact, not value-equal)
    assert(java.lang.Double.doubleToRawLongBits(got(1)._5) ===
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("bba roundtrip is field-exact") {
    val df = roundtrip(
      Seq(("BTCUSDT", 1L, 2L, 99.5, 1.25, 100.5, 2.5, "sbe"))
        .toDF("s", "e", "i", "bp", "bs", "ap", "as", "src"),
      Avro.BbaSchemaJson)
    assert(df.collect().toSeq === Seq(Row("BTCUSDT", 1L, 2L, 99.5, 1.25, 100.5, 2.5, "sbe")))
  }

  test("depth roundtrip preserves nested array<array<string>> sides and order") {
    val bids = Seq(Seq("100.5", "2.0"), Seq("100.4", "1.5"), Seq("100.3", "0.1"))
    val asks = Seq(Seq("100.6", "3.0"))
    val df = roundtrip(
      Seq(("BTCUSDT", 7L, 9L, bids, asks, "rest"), ("X", 1L, 1L, Seq.empty, Seq.empty, "s"))
        .toDF("s", "e", "i", "bids", "asks", "src"),
      Avro.DepthSchemaJson)
    val Seq(r, empty) = df.collect().toSeq
    assert(r.getString(0) === "BTCUSDT")
    assert(r.getLong(1) === 7L && r.getLong(2) === 9L)
    assert(r.getSeq[Seq[String]](3) === bids)
    assert(r.getSeq[Seq[String]](4) === asks)
    assert(r.getString(5) === "rest")
    // empty sides are legal deltas
    assert(empty.getSeq[Seq[String]](3).isEmpty && empty.getSeq[Seq[String]](4).isEmpty)
  }

  test("undecodable bytes decode to null, not task failure") {
    val tradeFrame =
      libraryFrame(Avro.TradeSchemaJson)(fillTrade("A", 1L, 2L, 3L, 1.0, 1.0, true, "s"))
    val bad = Seq(
      Array.empty[Byte],              // no fields at all
      Array[Byte](0x02),              // truncated mid-string
      tradeFrame.dropRight(1),        // short read
      tradeFrame :+ 0x00.toByte)      // trailing bytes
    val df = bad.map(Tuple1(_)).toDF("frame")
      .select(Avro.decode(col("frame"), Avro.TradeSchemaJson).as("d"))
    assert(df.filter(col("d").isNotNull).count() === 0)
    // and the good frame still decodes alongside the bad ones
    val mixed = (bad :+ tradeFrame)
      .map(Tuple1(_)).toDF("frame")
      .select(Avro.decode(col("frame"), Avro.TradeSchemaJson).as("d"))
    assert(mixed.filter(col("d").isNotNull).count() === 1)
  }

  test("a null in a non-nullable field fails the encoding task and names the field") {
    val df = Seq(("BTCUSDT", Option.empty[Long], 2L, 42L, 100.5, 0.25, true, "sbe"))
      .toDF(tradeCols: _*)
    val e = intercept[Exception] {
      df.select(Avro.encode(record(df), Avro.TradeSchemaJson).as("f")).collect()
    }
    val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
    assert(String.valueOf(root.getMessage).contains("event_ts"), root.toString)
  }

  // ── schema resolution, other Avro types, SQL surface ─────────────────────

  private val evolvedReaderJson =
    """{"type":"record","name":"MarketTrade","namespace":"binance","fields":[
      |{"name":"venue","type":"string","default":"binance"},
      |{"name":"trade_id","type":"long"},
      |{"name":"price","type":"double"},
      |{"name":"symbol","type":"string"},
      |{"name":"fee_bps","type":["null","double"],"default":null}]}""".stripMargin

  test("decode reads a library-written trade frame as Avro's GenericDatumReader does") {
    val frame = libraryFrame(Avro.TradeSchemaJson)(
      fillTrade("BTCUSDT", 1L, 2L, 42L, 100.5, 0.25, true, "sbe"))
    val lib = libraryRecord(Avro.TradeSchemaJson, frame)
    val got = Seq(Tuple1(frame)).toDF("frame")
      .select(Avro.decode(col("frame"), Avro.TradeSchemaJson).as("d"))
      .select("d.*")
    assert(got.columns.toSeq === tradeCols)
    val expected = tradeCols.map(f => lib.get(f) match {
      case u: org.apache.avro.util.Utf8 => u.toString
      case v => v
    })
    assert(got.head() === Row(expected: _*))
  }

  test("schema evolution: added fields take defaults, dropped skipped, match by name") {
    val df = Seq(("ETHUSDT", 10L, 11L, 7L, 2000.0, 1.5, false, "rest")).toDF(tradeCols: _*)
    val out = df.select(Avro.encode(record(df), Avro.TradeSchemaJson).as("frame"))
      .select(Avro.decode(col("frame"), Avro.TradeSchemaJson, evolvedReaderJson).as("d"))
      .select("d.*")
    // reader order, NOT writer order: venue (new, default), trade_id, price,
    // symbol (moved), fee_bps (new nullable, default null)
    assert(out.columns.toSeq === Seq("venue", "trade_id", "price", "symbol", "fee_bps"))
    val r = out.head()
    assert(r.getString(0) === "binance")
    assert(r.getLong(1) === 7L)
    assert(r.getDouble(2) === 2000.0)
    assert(r.getString(3) === "ETHUSDT")
    assert(r.isNullAt(4))
  }

  test("avro_decode SQL surface decodes with literal schemas") {
    GraftFunctions.register(spark)
    Seq(Tuple1(libraryFrame(Avro.TradeSchemaJson)(
      fillTrade("BTCUSDT", 1L, 2L, 3L, 9.5, 0.5, true, "sbe"))))
      .toDF("frame")
      .createOrReplaceTempView("avro_frames")
    val w = Avro.TradeSchemaJson.replace("\n", " ")
    val got = spark.sql(
      s"SELECT avro_decode(frame, '$w').trade_id AS tid FROM avro_frames")
      .head().getLong(0)
    assert(got === 3L)
  }

  test("generic decode handles maps, enums, and nullable unions") {
    val schema =
      """{"type":"record","name":"Doc","fields":[
        |{"name":"tags","type":{"type":"map","values":"long"}},
        |{"name":"kind","type":{"type":"enum","name":"K","symbols":["A","B"]}},
        |{"name":"note","type":["null","string"],"default":null}]}""".stripMargin
    val frame = libraryFrame(schema) { rec =>
      val tags = new java.util.HashMap[String, java.lang.Long]()
      tags.put("x", 1L); tags.put("y", 2L)
      rec.put("tags", tags)
      rec.put("kind", new GenericData.EnumSymbol(rec.getSchema.getField("kind").schema(), "B"))
      rec.put("note", null)
    }
    val df = Seq(Tuple1(frame)).toDF("frame")
      .select(Avro.decode(col("frame"), schema).as("d"))
    val r = df.select("d.*").head()
    assert(r.getMap[String, Long](0).toSeq.sorted === Seq("x" -> 1L, "y" -> 2L))
    assert(r.getString(1) === "B")
    assert(r.isNullAt(2))
  }

  test("logical types: decimal, timestamp-millis/micros, date map to Spark types") {
    val schema =
      """{"type":"record","name":"Px","fields":[
        |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":20,"scale":8}},
        |{"name":"at_ms","type":{"type":"long","logicalType":"timestamp-millis"}},
        |{"name":"at_us","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"day","type":{"type":"int","logicalType":"date"}}]}""".stripMargin
    val frame = libraryFrame(schema) { rec =>
      val amt = new java.math.BigDecimal("67123.45678901") // scale 8
      rec.put("amount", java.nio.ByteBuffer.wrap(amt.setScale(8).unscaledValue().toByteArray))
      rec.put("at_ms", 1700000000123L)
      rec.put("at_us", 1700000000123456L)
      rec.put("day", 19600) // days since epoch
    }
    val df = Seq(Tuple1(frame)).toDF("frame")
      .select(Avro.decode(col("frame"), schema).as("d"))
      .select("d.*")
    import org.apache.spark.sql.types._
    assert(df.schema("amount").dataType === DecimalType(20, 8))
    assert(df.schema("at_ms").dataType === TimestampType)
    assert(df.schema("at_us").dataType === TimestampType)
    assert(df.schema("day").dataType === DateType)
    val r = df.selectExpr(
      "CAST(amount AS STRING)", "unix_micros(at_ms)", "unix_micros(at_us)",
      "datediff(day, DATE '1970-01-01')").head()
    assert(r.getString(0) === "67123.45678901")
    assert(r.getLong(1) === 1700000000123000L)
    assert(r.getLong(2) === 1700000000123456L)
    assert(r.getInt(3) === 19600)
  }

  test("generic decode compiles under CODEGEN_ONLY (no interpreted fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val n = Tables.trades(spark, sf).limit(50)
        .select(Avro.encode(
          struct(
            upper(col("symbol")), col("ts_ms"), col("ts_ms"), col("trade_id"),
            col("price"), coalesce(col("qty"), lit(0.0)), lit(true), lit("s")),
          Avro.TradeSchemaJson).as("frame"))
        .select(Avro.decode(col("frame"), Avro.TradeSchemaJson).as("d"))
        .filter(col("d").isNotNull).count()
      assert(n === 50)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("encode writes the frame Avro's GenericDatumWriter writes, for all three schemas") {
    def check(schemaJson: String, df: DataFrame)(fill: GenericData.Record => Unit): Unit =
      assert(frame(df, schemaJson).toSeq === libraryFrame(schemaJson)(fill).toSeq, schemaJson)
    check(Avro.TradeSchemaJson,
      Seq(("BTCUSDT", 1L, 2L, 42L, 100.5, 0.25, true, "sbe")).toDF(tradeCols: _*))(
      fillTrade("BTCUSDT", 1L, 2L, 42L, 100.5, 0.25, true, "sbe"))
    check(Avro.BbaSchemaJson,
      Seq(("ETHUSDT", 3L, 4L, 99.5, 1.25, 100.5, 2.5, "rest"))
        .toDF("s", "e", "i", "bp", "bs", "ap", "as", "src")) { r =>
      r.put("symbol", "ETHUSDT"); r.put("event_ts", 3L); r.put("ingest_ts", 4L)
      r.put("bid_px", 99.5); r.put("bid_sz", 1.25); r.put("ask_px", 100.5); r.put("ask_sz", 2.5)
      r.put("source", "rest")
    }
    val bids = Seq(Seq("100.5", "2.0"), Seq("100.4", "1.5"))
    val asks = Seq(Seq("100.6", "3.0"))
    check(Avro.DepthSchemaJson,
      Seq(("BTCUSDT", 5L, 6L, bids, asks, "sbe")).toDF("s", "e", "i", "b", "a", "src")) { r =>
      def side(ls: Seq[Seq[String]]) = ls.map(_.asJava).asJava
      r.put("symbol", "BTCUSDT"); r.put("event_ts", 5L); r.put("ingest_ts", 6L)
      r.put("bids", side(bids)); r.put("asks", side(asks)); r.put("source", "sbe")
    }
  }

  test("generic encode/decode roundtrip covers maps, enums, unions, logical types") {
    val schema =
      """{"type":"record","name":"Mix","fields":[
        |{"name":"tags","type":{"type":"map","values":"long"}},
        |{"name":"kind","type":{"type":"enum","name":"K2","symbols":["A","B"]}},
        |{"name":"note","type":["null","string"],"default":null},
        |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":20,"scale":8}},
        |{"name":"at_us","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"day","type":{"type":"int","logicalType":"date"}}]}""".stripMargin
    val src = spark.sql(
      """SELECT map('x', CAST(1 AS BIGINT), 'y', CAST(2 AS BIGINT)) AS tags,
        |  'B' AS kind, CAST(NULL AS STRING) AS note,
        |  CAST('67123.45678901' AS DECIMAL(20,8)) AS amount,
        |  timestamp_micros(1700000000123456) AS at_us,
        |  DATE '2023-08-31' AS day""".stripMargin)
    val rt = src
      .select(Avro.encode(
        struct(col("tags"), col("kind"), col("note"), col("amount"),
          col("at_us"), col("day")), schema).as("frame"))
      .select(Avro.decode(col("frame"), schema).as("d"))
      .select("d.*")
    assert(rt.schema === src.schema.copy(fields = rt.schema.fields)) // shape sanity
    val (a, b) = (src.head(), rt.head())
    assert(b.getMap[String, Long](0).toSeq.sorted === a.getMap[String, Long](0).toSeq.sorted)
    assert(b.getString(1) === "B" && b.isNullAt(2))
    assert(b.getDecimal(3) === a.getDecimal(3))
    assert(b.getTimestamp(4) === a.getTimestamp(4))
    assert(b.getDate(5).toString === a.getDate(5).toString)
  }

  test("logical types: uuid (string and fixed16) and local-timestamp map + round-trip") {
    val schema =
      """{"type":"record","name":"U","fields":[
        |{"name":"id_s","type":{"type":"string","logicalType":"uuid"}},
        |{"name":"id_f","type":{"type":"fixed","name":"UF","size":16,"logicalType":"uuid"}},
        |{"name":"lt_ms","type":{"type":"long","logicalType":"local-timestamp-millis"}},
        |{"name":"lt_us","type":{"type":"long","logicalType":"local-timestamp-micros"}}]}""".stripMargin
    val uid = "0a1b2c3d-4e5f-6071-8293-a4b5c6d7e8f9"
    val frame = libraryFrame(schema) { rec =>
      val u = java.util.UUID.fromString(uid)
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
      rec.put("id_s", uid)
      rec.put("id_f", new GenericData.Fixed(rec.getSchema.getField("id_f").schema(), bb.array()))
      rec.put("lt_ms", 1700000000123L)     // 2023-11-14 22:13:20.123 (no zone)
      rec.put("lt_us", 1700000000123456L)
    }
    val df = Seq(Tuple1(frame)).toDF("frame")
      .select(Avro.decode(col("frame"), schema).as("d"))
      .select("d.*")
    import org.apache.spark.sql.types._
    assert(df.schema("id_s").dataType === StringType)
    assert(df.schema("id_f").dataType === StringType) // canonical form, not bytes
    assert(df.schema("lt_ms").dataType === TimestampNTZType)
    assert(df.schema("lt_us").dataType === TimestampNTZType)
    val r = df.selectExpr(
      "id_s", "id_f", "CAST(lt_ms AS STRING)", "CAST(lt_us AS STRING)").head()
    assert(r.getString(0) === uid)
    assert(r.getString(1) === uid)
    assert(r.getString(2) === "2023-11-14 22:13:20.123")
    assert(r.getString(3) === "2023-11-14 22:13:20.123456")

    // encode half: Spark strings/NTZ back out under the same writer schema,
    // then through the decoder again — fixed16 packing must invert exactly
    val rt = spark.sql(
      s"""SELECT '$uid' AS id_s, '$uid' AS id_f,
         |  TIMESTAMP_NTZ'2023-11-14 22:13:20.123' AS lt_ms,
         |  TIMESTAMP_NTZ'2023-11-14 22:13:20.123456' AS lt_us""".stripMargin)
      .select(Avro.encode(
        struct(col("id_s"), col("id_f"), col("lt_ms"), col("lt_us")), schema).as("f"))
      .select(Avro.decode(col("f"), schema).as("d"))
      .selectExpr("d.id_s", "d.id_f", "CAST(d.lt_ms AS STRING)", "CAST(d.lt_us AS STRING)")
      .head()
    assert(rt.getString(0) === uid)
    assert(rt.getString(1) === uid)
    assert(rt.getString(2) === "2023-11-14 22:13:20.123")
    assert(rt.getString(3) === "2023-11-14 22:13:20.123456")
  }

  test("avro_encode SQL surface round-trips through avro_decode") {
    GraftFunctions.register(spark)
    val w = Avro.TradeSchemaJson.replace("\n", " ")
    val got = spark.sql(
      s"""SELECT avro_decode(
         |  avro_encode(
         |    named_struct(
         |      'symbol', 'X', 'event_ts', CAST(1 AS BIGINT),
         |      'ingest_ts', CAST(2 AS BIGINT), 'trade_id', CAST(9 AS BIGINT),
         |      'price', 1.5D, 'qty', 2.5D, 'is_buyer_maker', true,
         |      'source', 'sbe'),
         |    '$w'),
         |  '$w').trade_id AS tid""".stripMargin).head().getLong(0)
    assert(got === 9L)
  }

  for (seed <- Seq(11L, 97L)) {
    test(s"property (seed $seed): adversarial values survive the roundtrip bit-exactly") {
      val rnd = new scala.util.Random(seed)
      val specials = Seq(
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        Double.MaxValue, Double.MinPositiveValue, -0.0, 0.0)
      val symbols = Seq("", "BTCUSDT", "наличные", "円/ビット", "a" * 500, " tab\t")
      val rows = (0 until 200).map { i =>
        (symbols(rnd.nextInt(symbols.length)),
          rnd.nextLong(), rnd.nextLong(), rnd.nextLong(),
          if (i % 3 == 0) specials(rnd.nextInt(specials.length))
          else java.lang.Double.longBitsToDouble(rnd.nextLong()),
          rnd.nextDouble(), rnd.nextBoolean(),
          symbols(rnd.nextInt(symbols.length)))
      }
      val df = rows.toDF(tradeCols: _*)
      val got = roundtrip(df, Avro.TradeSchemaJson).collect()
      assert(got.length === rows.length)
      got.zip(df.collect()).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g.getString(0) === e.getString(0), s"row $i symbol")
        assert(g.getLong(1) === e.getLong(1) && g.getLong(2) === e.getLong(2)
          && g.getLong(3) === e.getLong(3), s"row $i longs")
        // bit-exact doubles: NaN payloads and -0.0 must survive
        for (d <- Seq(4, 5))
          assert(java.lang.Double.doubleToRawLongBits(g.getDouble(d)) ===
            java.lang.Double.doubleToRawLongBits(e.getDouble(d)), s"row $i double $d bits")
        assert(g.getBoolean(6) === e.getBoolean(6), s"row $i flag")
        assert(g.getString(7) === e.getString(7), s"row $i source")
      }
    }
  }

  test("sf0.001 trade roundtrip: decode(encode(x)) == x for every row") {
    val t = Tables.trades(spark, sf).limit(500)
      .select(
        upper(col("symbol")).as("symbol"), col("ts_ms").as("event_ts"),
        (col("ts_ms") + 5L).as("ingest_ts"), col("trade_id"),
        col("price"), coalesce(col("qty"), lit(0.0)).as("qty"),
        (col("trade_id") % 2 === 0).as("is_buyer_maker"), lit("sbe").as("source"))
    val rt = roundtrip(t, Avro.TradeSchemaJson)
    assert(rt.exceptAll(t).count() === 0 && t.exceptAll(rt).count() === 0)
  }
}
