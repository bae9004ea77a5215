package graft

import org.apache.avro.generic.GenericData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Avro
import graft.sources.AvroOcfSource

/** `avro-ocf` DataSource V2: container files with embedded writer schema,
  * deflate-compressed multi-block bodies, per-file parallelism, and
  * reader-schema resolution through the `readerSchema` option.
  */
class AvroOcfSpec extends SparkSpec {
  import spark.implicits._

  private def tradeRecord(id: Long): GenericData.Record = {
    val r = new GenericData.Record(Avro.TradeSchema)
    r.put("symbol", s"SYM${id % 3}")
    r.put("event_ts", 1000L + id)
    r.put("ingest_ts", 1001L + id)
    r.put("trade_id", id)
    r.put("price", 100.0 + id * 0.5)
    r.put("qty", 0.25 * (id % 7))
    r.put("is_buyer_maker", id % 2 == 0)
    r.put("source", "ocf")
    r
  }

  private def writeFixture(n: Int): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_").toFile
    // two files, tiny sync interval -> several compressed blocks per file
    val (a, b) = (0L until n.toLong).map(tradeRecord).splitAt(n / 2)
    AvroOcfSource.writeOcf(
      new java.io.File(dir, "part-00000.avro"), Avro.TradeSchema, a, syncEvery = 64)
    AvroOcfSource.writeOcf(
      new java.io.File(dir, "part-00001.avro"), Avro.TradeSchema, b, syncEvery = 64)
    dir
  }

  test("schema is inferred from the container header; values read back exactly") {
    val dir = writeFixture(500)
    val df = spark.read.format("avro-ocf").load(dir.toString)
    assert(df.schema === StructType(Seq(
      StructField("symbol", StringType),
      StructField("event_ts", LongType),
      StructField("ingest_ts", LongType),
      StructField("trade_id", LongType),
      StructField("price", DoubleType),
      StructField("qty", DoubleType),
      StructField("is_buyer_maker", BooleanType),
      StructField("source", StringType))))
    assert(df.count() === 500)
    val ids = df.select("trade_id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 500L))
    val r = df.filter(col("trade_id") === 42L).head()
    assert(r.getAs[String]("symbol") === "SYM0")
    assert(r.getAs[Double]("price") === 121.0)
    assert(r.getAs[Boolean]("is_buyer_maker"))
  }

  test("readerSchema option applies evolution on read (defaults, drops, reorder)") {
    val dir = writeFixture(100)
    val evolved =
      """{"type":"record","name":"MarketTrade","namespace":"binance","fields":[
        |{"name":"venue","type":"string","default":"binance"},
        |{"name":"trade_id","type":"long"},
        |{"name":"symbol","type":"string"}]}""".stripMargin
    val df = spark.read.format("avro-ocf")
      .option("readerSchema", evolved).load(dir.toString)
    assert(df.columns.toSeq === Seq("venue", "trade_id", "symbol"))
    val r = df.filter(col("trade_id") === 7L).head()
    assert(r.getString(0) === "binance" && r.getString(2) === "SYM1")
    assert(df.count() === 100)
  }

  test("options resolve case-insensitively in BOTH inferSchema and getTable") {
    // Regression (r5 advice): getTable read the raw properties map, so a
    // user-typed 'readerschema' declared the reader layout but decoded the
    // writer layout — silent column misalignment. Both paths must agree.
    val dir = writeFixture(60)
    val evolved =
      """{"type":"record","name":"MarketTrade","namespace":"binance","fields":[
        |{"name":"venue","type":"string","default":"binance"},
        |{"name":"trade_id","type":"long"},
        |{"name":"symbol","type":"string"}]}""".stripMargin
    val df = spark.read.format("avro-ocf")
      .option("readerschema", evolved) // deliberately lower-cased
      .load(dir.toString)
    assert(df.columns.toSeq === Seq("venue", "trade_id", "symbol"))
    val r = df.filter(col("trade_id") === 7L).head()
    assert(r.getString(0) === "binance" && r.getString(2) === "SYM1")
  }

  test("zero-length .avro files are skipped, not fatal") {
    val dir = writeFixture(80)
    assert(new java.io.File(dir, "empty.avro").createNewFile())
    val df = spark.read.format("avro-ocf").load(dir.toString)
    assert(df.count() === 80)
  }

  test("heterogeneous writer schemas in one directory resolve, never misalign") {
    // Two export batches, schemas evolved between them: the scan pins every
    // file to the inferred (first file's) reader schema and lets Avro
    // resolution match BY NAME — batch 2's reordered/extra fields must land
    // in the right columns, not shift positionally.
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_mixed_").toFile
    val v1 = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"Evt","fields":[
        |{"name":"id","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin)
    val v2 = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"Evt","fields":[
        |{"name":"tag","type":"string"},{"name":"extra","type":"double"},
        |{"name":"id","type":"long"}]}""".stripMargin)
    def rec(s: org.apache.avro.Schema, vals: (String, AnyRef)*) = {
      val r = new GenericData.Record(s); vals.foreach { case (k, v) => r.put(k, v) }; r
    }
    AvroOcfSource.writeOcf(new java.io.File(dir, "a_batch1.avro"), v1,
      (0L until 5L).map(i => rec(v1, "id" -> Long.box(i), "tag" -> s"old$i")))
    AvroOcfSource.writeOcf(new java.io.File(dir, "b_batch2.avro"), v2,
      (5L until 10L).map(i => rec(v2,
        "tag" -> s"new$i", "extra" -> Double.box(i * 0.5), "id" -> Long.box(i))))
    val df = spark.read.format("avro-ocf").load(dir.toString)
    assert(df.schema.fieldNames.toSeq === Seq("id", "tag")) // first file's layout
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === (0L until 5L).map(i => i -> s"old$i").toMap ++
      (5L until 10L).map(i => i -> s"new$i").toMap)
  }

  test("sync-point splits: one giant file reads exactly-once across many tasks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_split_").toFile
    val f = new java.io.File(dir, "giant.avro")
    // tiny sync interval -> many small blocks; tiny splitBytes -> many splits
    AvroOcfSource.writeOcf(
      f, Avro.TradeSchema, (0L until 2000L).map(tradeRecord), syncEvery = 50)
    val df = spark.read.format("avro-ocf")
      .option("splitBytes", "4096").load(dir.toString)
    assert(df.rdd.getNumPartitions > 4, s"expected many splits, got ${df.rdd.getNumPartitions}")
    val ids = df.select("trade_id").as[Long].collect().sorted
    assert(ids.length === 2000, "records lost or duplicated across split boundaries")
    assert(ids.toSeq === (0L until 2000L))
  }

  test("column pruning reaches the decoder: subset reader schema, exact values") {
    val dir = writeFixture(200)
    val df = spark.read.format("avro-ocf").load(dir.toString)
      .select("price", "trade_id") // 2 of 8 columns, reordered
    // the SCAN itself (not a post-scan project) must carry only the 2 fields
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("avro-ocf")).getOrElse("")
    assert(scanLine.contains("price") && scanLine.contains("trade_id"))
    assert(!scanLine.contains("symbol") && !scanLine.contains("ingest_ts"),
      s"scan decodes unprojected columns: $scanLine")
    assert(df.schema.fieldNames.toSeq === Seq("price", "trade_id"))
    val r = df.filter(col("trade_id") === 42L).head()
    assert(r.getDouble(0) === 121.0 && r.getLong(1) === 42L)
    // empty projection (count(*)) decodes zero fields and still counts right
    assert(spark.read.format("avro-ocf").load(dir.toString).count() === 200)
    // pruning composes with readerSchema evolution
    val evolved =
      """{"type":"record","name":"MarketTrade","namespace":"binance","fields":[
        |{"name":"venue","type":"string","default":"binance"},
        |{"name":"trade_id","type":"long"},
        |{"name":"symbol","type":"string"}]}""".stripMargin
    val ev = spark.read.format("avro-ocf").option("readerSchema", evolved)
      .load(dir.toString).select("venue", "trade_id")
    assert(ev.filter(col("trade_id") === 7L).head().getString(0) === "binance")
  }

  test("write sink round-trips: df.write -> scan, task-per-partition files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_sink_").toString
    val src = spark.range(0, 1000).selectExpr(
      "concat('SYM', id % 3) AS symbol", "id AS trade_id",
      "cast(100.0 + id * 0.5 AS double) AS price",
      "id % 2 = 0 AS is_buyer_maker",
      "IF(id % 10 = 0, CAST(NULL AS double), cast(id AS double) / 4) AS qty")
      .repartition(4)
    src.write.format("avro-ocf").mode("append").option("syncEvery", "100").save(dir)
    val files = new java.io.File(dir).listFiles((_, n) => n.endsWith(".avro"))
    assert(files.length === 4) // one container per task/partition
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")))
    val back = spark.read.format("avro-ocf").load(dir)
    assert(back.schema.fieldNames.toSeq ===
      Seq("symbol", "trade_id", "price", "is_buyer_maker", "qty"))
    assert(back.count() === 1000)
    assert(back.filter(col("qty").isNull).count() === 100) // nullable union survives
    val r = back.filter(col("trade_id") === 42L).head()
    assert(r.getAs[String]("symbol") === "SYM0" && r.getAs[Double]("price") === 121.0)
  }

  test("write sink: overwrite truncates, append accumulates, codecs decode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_modes_").toString
    def w(n: Int, mode: String, codec: String): Unit =
      spark.range(0, n).selectExpr("id AS v").coalesce(1)
        .write.format("avro-ocf").mode(mode).option("codec", codec).save(dir)
    w(100, "append", "deflate")
    w(50, "append", "uncompressed") // second job: unique file names, no clobber
    assert(spark.read.format("avro-ocf").load(dir).count() === 150)
    w(30, "overwrite", "deflate") // truncate: old files gone, only the 30 remain
    val back = spark.read.format("avro-ocf").load(dir)
    assert(back.count() === 30)
    assert(back.agg(sum("v")).head().getLong(0) === (0 until 30).sum.toLong)
  }

  test("write sink round-trips complex types: nested struct, map, decimal, temporal") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_complex_").toString
    val src = spark.range(0, 50).selectExpr(
      "id",
      "named_struct('px', CAST(100.5 + id AS DECIMAL(20,8)), 'qty', CAST(id AS DOUBLE)) AS level",
      "array(named_struct('p', id * 2, 'q', id * 3), named_struct('p', id, 'q', id)) AS book",
      "map('venue', concat('v', id % 3), 'tier', 'spot') AS tags",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
      "make_timestamp_ntz(2024, 3, 1, 12, 34, id) AS lts",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
      "IF(id % 5 = 0, CAST(NULL AS DECIMAL(10,4)), CAST(id / 7.0 AS DECIMAL(10,4))) AS fee")
    src.coalesce(2).write.format("avro-ocf").mode("append").save(dir)
    val back = spark.read.format("avro-ocf").load(dir)
    assert(back.count() === 50)
    val r = back.filter(col("id") === 21L).head()
    assert(r.getAs[org.apache.spark.sql.Row]("level")
      .getAs[java.math.BigDecimal]("px").doubleValue() === 121.5)
    assert(r.getAs[Seq[org.apache.spark.sql.Row]]("book").map(_.getLong(0)) === Seq(42L, 21L))
    assert(r.getAs[Map[String, String]]("tags") === Map("venue" -> "v0", "tier" -> "spot"))
    assert(r.getAs[java.sql.Timestamp]("ts").getTime === 1700000021000L)
    // NTZ derives local-timestamp-micros and reads back as NTZ, not UTC-anchored
    assert(back.schema("lts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(r.getAs[java.time.LocalDateTime]("lts").toString === "2024-03-01T12:34:21")
    assert(r.getAs[java.sql.Date]("d").toString === "2024-01-22")
    assert(r.getAs[java.math.BigDecimal]("fee").doubleValue() === 3.0)
    assert(back.filter(col("fee").isNull).count() === 10) // nullable decimal union
    // decimal exactness survives the bytes+logical-type encoding
    assert(back.agg(sum(col("level.px"))).head().getDecimal(0).doubleValue()
      === (0 until 50).map(100.5 + _).sum)
  }

  test("write sink preserves negative short/byte values (slot-width regression)") {
    // Reading a ShortType UnsafeRow slot as int returns the raw unsigned
    // lower bytes (-5 reads as 65531); the converter must honor the
    // dataframe's real types, and Avro INT widening must sign-extend.
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_short_").toString
    spark.range(0, 10).selectExpr(
      "id", "CAST(-5 - id AS SMALLINT) AS s16", "CAST(-3 AS TINYINT) AS s8")
      .coalesce(1).write.format("avro-ocf").mode("append").save(dir)
    val back = spark.read.format("avro-ocf").load(dir)
    val r = back.filter(col("id") === 2L).head()
    assert(r.getInt(1) === -7 && r.getInt(2) === -3)
    assert(back.filter(col("s16") >= 0 || col("s8") >= 0).count() === 0)
  }

  test("write sink honors an explicit avroSchema option") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_explicit_").toString
    val src = spark.range(0, 20).selectExpr(
      "concat('S', id) AS symbol", "id AS event_ts", "id + 5 AS ingest_ts",
      "id AS trade_id", "cast(id AS double) AS price", "cast(1.0 AS double) AS qty",
      "id % 2 = 0 AS is_buyer_maker", "'w' AS source")
    src.coalesce(1).write.format("avro-ocf").mode("append")
      .option("avroSchema", Avro.TradeSchemaJson).save(dir)
    // the container header carries the reference MarketTrade schema verbatim
    val f = new java.io.File(dir).listFiles((_, n) => n.endsWith(".avro")).head
    assert(AvroOcfSource.writerSchema(f).getFullName === "binance.MarketTrade")
    assert(spark.read.format("avro-ocf").load(dir).count() === 20)
  }

  test("streaming read tails a growing shard directory across sink jobs") {
    // sink → stream composition: each write job's files sort after the
    // previous job's (millis-prefixed ids), so the name-count offset admits
    // exactly the new files; a restart from the checkpoint must not replay.
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_tail_").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_ocf_tail_ck_").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ocf_tail_out_").toString
    def export(from: Long, until: Long): Unit =
      spark.range(from, until).selectExpr("id", "cast(id AS double) AS v")
        .coalesce(2).write.format("avro-ocf").mode("append").save(dir)
    export(0, 40)
    def start() = spark.readStream.format("avro-ocf")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.option("checkpointLocation", ck)
      .outputMode("append").format("parquet").option("path", out).start()
    def sunk(): Long = spark.read.parquet(out).count()
    val q = start()
    try {
      q.processAllAvailable()
      assert(sunk() === 40)
      export(40, 70) // lands while the query runs
      q.processAllAvailable()
      assert(sunk() === 70)
    } finally q.stop()
    export(70, 100) // lands while the query is DOWN
    val q2 = start()
    try {
      q2.processAllAvailable()
      // restart resumes from the checkpointed name-count offset: the files
      // that landed while the query was down arrive, nothing replays
      val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted
      assert(ids.toSeq === (0L until 100L), "missed or replayed files across restart")
    } finally q2.stop()
  }

  test("streaming export: foreachBatch appends container shards per micro-batch") {
    // The training-shard export loop under a stream: each micro-batch
    // appends its own container files (the sink's per-job ids keep names
    // unique), and the batch scan sees the union — at-least-once append,
    // the same contract as the reference's S3 shard exporters.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ocf_stream_").toString
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDF().toDF("trade_id", "price")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.format("avro-ocf").mode("append").save(dir)
      }
      .start()
    try {
      mem.addData((0L, 1.0), (1L, 2.0)); q.processAllAvailable()
      mem.addData((2L, 3.0)); q.processAllAvailable()
      val back = spark.read.format("avro-ocf").load(dir)
      assert(back.count() === 3)
      assert(back.select("trade_id").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("reads are file-parallel and filters work through the scan") {
    val dir = writeFixture(300)
    val df = spark.read.format("avro-ocf").load(dir.toString)
    assert(df.rdd.getNumPartitions === 2) // one partition per container file
    assert(df.filter(col("price") > 200.0).count() ===
      (0L until 300L).count(id => 100.0 + id * 0.5 > 200.0))
  }
}
