package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{Avro, Sbe, TextKernels, VectorKernels}

/** SQL-surface registration for graft's kernels, so
  * `spark.sql("SELECT sbe_decode_trade(frame) ...")` works alongside the
  * Column API — the reference's pybind11 boundary (`sbe_decoder.cpp:561-578`)
  * re-expressed as session function registration. Each function builds
  * through the same `...Call` binding as its Column API. The text kernels
  * join the same registry so the dedup/fingerprint pipeline is writable in
  * pure SQL.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry

    def lit(e: org.apache.spark.sql.catalyst.expressions.Expression): Any =
      e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal].value
    def int(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      lit(e).asInstanceOf[Number].intValue()
    def long(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
      lit(e).asInstanceOf[Number].longValue()

    registry.createOrReplaceTempFunction(
      "sbe_decode_trade", exprs => Sbe.decodeTradeCall(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "sbe_decode_bba", exprs => Sbe.decodeBbaCall(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "sbe_decode_depth", exprs => Sbe.decodeDepthCall(exprs.head), "built-in")
    // text kernels: literal tuning params (n, base, mod) fold at plan time
    registry.createOrReplaceTempFunction(
      "graft_rolling_hash",
      exprs => TextKernels.rollingHashCall(exprs.head, long(exprs(1)), long(exprs(2))),
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_word_shingles",
      exprs => TextKernels.wordShinglesCall(exprs.head, int(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "graft_char_shingles",
      exprs => TextKernels.charShinglesCall(exprs.head, int(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "graft_shingle_hashes",
      exprs => TextKernels.shingleHashesCall(exprs.head, int(exprs(1)), long(exprs(2))),
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_simhash32", exprs => TextKernels.simhash32Call(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "graft_ngram_repetition",
      exprs => TextKernels.ngramRepetitionCall(exprs.head, int(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "graft_gram_dominance",
      exprs => TextKernels.gramDominanceCall(exprs.head, int(exprs(1))), "built-in")
    // vector kernels: the similarity primitives in pure SQL —
    // graft_dot(a, b) / graft_d2(a, b) over array<double> (null on length
    // mismatch or null element, same contract as the Column API)
    registry.createOrReplaceTempFunction(
      "graft_dot", exprs => VectorKernels.dotCall(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "graft_d2", exprs => VectorKernels.d2Call(exprs.head, exprs(1)), "built-in")
    // avro_decode(frame, writerSchemaJson [, readerSchemaJson]) — the
    // from_avro SQL surface (schema JSON as literals, folded at plan time).
    registry.createOrReplaceTempFunction(
      "avro_decode",
      exprs => {
        val writer = String.valueOf(lit(exprs(1)))
        val reader = if (exprs.size > 2) String.valueOf(lit(exprs(2))) else writer
        Avro.decodeCall(exprs.head, writer, reader)
      },
      "built-in")
    // avro_encode(struct, schemaJson) — the to_avro SQL surface.
    registry.createOrReplaceTempFunction(
      "avro_encode",
      exprs => Avro.AvroEncodeExpr(exprs.head, String.valueOf(lit(exprs(1)))),
      "built-in")
  }
}
