package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{Avro, ImageKernels, Sbe, TextKernels, VectorKernels}
import graft.operators.Bpe

/** Every row-level kernel is reached through one `StaticInvoke`/`Invoke`
  * binding, from which Spark derives both the generated-code and the
  * interpreted call. The table below runs each binding once in
  * whole-stage generated code (CODEGEN_ONLY) and once interpreted
  * (NO_CODEGEN, whole-stage off) and asserts the two agree on every row —
  * including the null input and each kernel's null-on-bad-input case — and
  * that the null pattern is the kernel's contract. Object arguments (merge table,
  * centroid table, Avro kernel) compare by value, so equal calls are one
  * plan.
  */
class KernelBindingSpec extends SparkSpec {
  import spark.implicits._

  private val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))

  /** One row per case; ids: 1 good, 2 every input null, 3 and 4 bad inputs. */
  private lazy val fixture: DataFrame = {
    val enc = spark.range(1).select(
      Sbe.encodeTrade(lit(1500L), lit(7L), lit(12345L), lit(-2), lit(true), lit("BTCUSDT"))
        .as("trade"),
      Sbe.encodeBba(lit(2500L), lit(100L), lit(101L), lit(5L), lit(6L), lit(-1), lit("ETHUSDT"))
        .as("bba"),
      Sbe.encodeDepth(lit(3500L), lit(1L), lit(2L), typedLit(Seq(100L, 99L)),
        typedLit(Seq(101L)), lit(-1), lit("ETHUSDT")).as("depth"),
      Avro.encode(
        struct(lit("BTCUSDT"), lit(1L), lit(2L), lit(3L), lit(1.5), lit(0.25), lit(true),
          lit("s")),
        Avro.TradeSchemaJson).as("avro")).head()
    val Seq(trade, bba, depth, avro) = (0 until 4).map(i => enc.getAs[Array[Byte]](i))
    val png = ImageKernels.encodeImage(1L, 16, 10, "png")
    val jpg = ImageKernels.encodeImage(2L, 9, 5, "jpg")
    def d(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val rows = Seq(
      Row(1L, "the quick brown fox the quick fox", trade, bba, depth, png, avro,
        d(1.0, 2.0), d(3.0, 4.0), Seq(Map(0 -> 0.5, 2 -> 1.75), Map(1 -> 2.5)), Seq(2, 1),
        d(0.1, 0.9)),
      Row(2L, null, null, null, null, null, null, null, null, null, null, null),
      // foreign template ids, a truncated depth body, non-image and
      // undecodable bytes, a length mismatch, a missing code, a wrong width
      Row(3L, "", bba, trade, depth.take(8 + 24 + 1 + 5), "not an image".getBytes("UTF-8"),
        avro.take(avro.length - 3), d(1.0, 2.0), d(3.0), Seq(Map(0 -> 0.5), Map(1 -> 2.5)),
        Seq(5, 1), d(1.0)),
      // a frame shorter than any header, null elements, non-ASCII text
      Row(4L, "naïve café 😀 naïve café", trade.take(4), bba, depth, jpg, avro,
        d(1.0, null), d(3.0, 4.0), Seq(Map(0 -> 0.5), Map(1 -> 2.5)), Seq(0, 1),
        d(1.0, null)))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("trade", BinaryType), StructField("bba", BinaryType),
      StructField("depth", BinaryType), StructField("image", BinaryType),
      StructField("avro", BinaryType),
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
      StructField("tbl", ArrayType(MapType(IntegerType, DoubleType))),
      StructField("codes", ArrayType(IntegerType)), StructField("v", ArrayType(DoubleType))))
    // an RDD leaf, not a local Seq: ConvertToLocalRelation / ConstantFolding
    // would otherwise evaluate the kernels at optimization time, interpreted
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def c(name: String): Expression = ColumnBridge.expression(col(name))

  /** (name, binding, ids besides the all-null row 2 where the result is null). */
  private def kernels: Seq[(String, Expression, Set[Long])] = Seq(
    ("sbe_trade", Sbe.decodeTradeCall(c("trade")), Set(3L, 4L)),
    ("sbe_bba", Sbe.decodeBbaCall(c("bba")), Set(3L)),
    ("sbe_depth", Sbe.decodeDepthCall(c("depth")), Set(3L)),
    ("image_meta", ImageKernels.imageMetaCall(c("image")), Set(3L)),
    ("thumbnail", ImageKernels.thumbnailCall(c("image"), 2), Set(3L)),
    ("avro_decode", Avro.decodeCall(c("avro"), Avro.TradeSchemaJson, Avro.TradeSchemaJson),
      Set(3L)),
    ("dot", VectorKernels.dotCall(c("a"), c("b")), Set(3L, 4L)),
    ("d2", VectorKernels.d2Call(c("a"), c("b")), Set(3L, 4L)),
    ("adc_sum", VectorKernels.adcSumCall(c("tbl"), c("codes")), Set(3L)),
    ("nearest_cid", VectorKernels.nearestCidCall(c("v"), Seq(0, 1, 2), cents), Set(3L, 4L)),
    ("word_shingles", TextKernels.wordShinglesCall(c("text"), 3), Set()),
    ("char_shingles", TextKernels.charShinglesCall(c("text"), 5), Set()),
    ("shingle_hashes", TextKernels.shingleHashesCall(c("text"), 2, 2147483647L), Set()),
    ("shingle_hash_seq", TextKernels.shingleHashSeqCall(c("text"), 2, 2147483647L), Set()),
    ("char_window_hash_seq", TextKernels.charWindowHashSeqCall(c("text"), 4, 2147483647L),
      Set()),
    ("winnowed_pack_seq", TextKernels.winnowedPackSeqCall(c("text"), 4, 3, 2147483647L),
      Set()),
    ("simhash32", TextKernels.simhash32Call(c("text")), Set()),
    ("rolling_hash", TextKernels.rollingHashCall(c("text"), 131L, 1000000007L), Set()),
    ("ngram_repetition", TextKernels.ngramRepetitionCall(c("text"), 2), Set()),
    ("gram_dominance", TextKernels.gramDominanceCall(c("text"), 1), Set()),
    ("bpe_token_count", TextKernels.bpeTokenCountCall(c("text"), Bpe.Merges), Set()),
    ("bpe_tokens", TextKernels.bpeTokensCall(c("text"), Bpe.Merges), Set()),
    ("bpe_tokens_marked", TextKernels.bpeTokensMarkedCall(c("text"), Bpe.Merges), Set()))

  /** The kernel table's rows, and whether the plan ran whole-stage codegen.
    * Interpreted means both off: the factory mode alone does not stop a
    * whole-stage stage from generating its projection.
    */
  private def run(codegen: Boolean): (Array[Row], Boolean) = {
    spark.conf.set(
      "spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    try {
      val df = fixture.select(
        col("id") +: kernels.map { case (n, e, _) => ColumnBridge.column(e).as(n) }: _*)
      val wholeStage = df.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      (df.collect().sortBy(_.getLong(0)), wholeStage)
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("every kernel binding gives the same rows with and without codegen") {
    val (generated, wholeStage) = run(codegen = true)
    val (interpreted, interpretedStage) = run(codegen = false)
    assert(wholeStage, "the kernel calls left whole-stage codegen")
    assert(!interpretedStage)
    assert(generated.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    for (((name, _, _), i) <- kernels.zipWithIndex; r <- generated.indices) {
      assert(generated(r).get(i + 1) === interpreted(r).get(i + 1),
        s"$name differs between the two paths on row ${generated(r).getLong(0)}")
    }
    for (((name, _, nullOn), i) <- kernels.zipWithIndex; row <- generated) {
      val id = row.getLong(0)
      assert(row.isNullAt(i + 1) === (id == 2L || nullOn(id)),
        s"$name on row $id: ${row.get(i + 1)}")
    }
    // spot values: the kernels compute, not merely agree
    val good = generated.head
    def at(name: String): Any = good.get(kernels.indexWhere(_._1 == name) + 1)
    assert(at("sbe_trade").asInstanceOf[Row].getLong(1) === 7L)
    assert(at("dot") === 11.0)
    assert(at("d2") === 8.0)
    assert(at("adc_sum") === 1.75 + 2.5)
    assert(at("nearest_cid") === 1)
    assert(at("avro_decode").asInstanceOf[Row].getString(0) === "BTCUSDT")
  }

  test("equal kernel calls are one plan; different parameters are not") {
    val text = AttributeReference("text", StringType)()
    val v = AttributeReference("v", ArrayType(DoubleType))()
    val frame = AttributeReference("frame", BinaryType)()
    def same(a: Expression, b: Expression): Boolean = a.semanticEquals(b)
    // two independently built calls: distinct but equal object arguments
    assert(same(TextKernels.bpeTokenCountCall(text, Bpe.Merges),
      TextKernels.bpeTokenCountCall(text, Bpe.Merges)))
    assert(same(VectorKernels.nearestCidCall(v, Seq(0, 1, 2), cents),
      VectorKernels.nearestCidCall(v, Seq(0, 1, 2), cents)))
    assert(same(Avro.decodeCall(frame, Avro.TradeSchemaJson, Avro.TradeSchemaJson),
      Avro.decodeCall(frame, Avro.TradeSchemaJson, Avro.TradeSchemaJson)))
    assert(same(TextKernels.wordShinglesCall(text, 3), TextKernels.wordShinglesCall(text, 3)))
    // and different parameters are different plans
    assert(!same(TextKernels.bpeTokenCountCall(text, Bpe.Merges),
      TextKernels.bpeTokenCountCall(text, Bpe.Merges.take(10))))
    assert(!same(VectorKernels.nearestCidCall(v, Seq(0, 1, 2), cents),
      VectorKernels.nearestCidCall(v, Seq(0, 1, 2), cents.map(_.map(_ + 1.0)))))
    val symbolOnly = """{"type":"record","name":"MarketTrade","namespace":"binance",
      |"fields":[{"name":"symbol","type":"string"}]}""".stripMargin
    assert(!same(Avro.decodeCall(frame, Avro.TradeSchemaJson, Avro.TradeSchemaJson),
      Avro.decodeCall(frame, Avro.TradeSchemaJson, symbolOnly)))
    assert(!same(TextKernels.wordShinglesCall(text, 3), TextKernels.wordShinglesCall(text, 2)))
    // what the cache manager and exchange reuse see: two DataFrames built
    // apart over equal tables are the same query
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    def counted: DataFrame =
      docs.select(graft.functions.TextFunctions.bpeTokenCount(col("text"), Bpe.Merges))
    assert(counted.sameSemantics(counted))
    assert(!counted.sameSemantics(
      docs.select(graft.functions.TextFunctions.bpeTokenCount(col("text"), Bpe.Merges.take(10)))))
  }
}
