package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SBE-style binary decode — SURVEY §2.1 S2, the reference's only native
  * operator (`services/sbe_ingestor/src/sbe_decoder/src/sbe_decoder.cpp`).
  *
  * Frame layout (simplified from the reference's header + fixed block +
  * var-length symbol; little-endian like the wire format,
  * `sbe_decoder.cpp:157-185`):
  * {{{
  *   u16 blockLength | u16 templateId | u16 schemaId | u16 version
  *   trade (10000):  i64 ts_us | i64 trade_id | i64 mantissa | i8 exp | u8 maker
  *   bba   (10001):  i64 ts_us | 4 x (i64 mant, i8 exp) for bid_px, ask_px, bid_sz, ask_sz
  *   then: u8 symbolLen | bytes symbol
  * }}}
  * Prices are mantissa·10^exponent int64+int8 pairs (`sbe_decoder.cpp:107-111`);
  * µs timestamps are floored to ms (`sbe_decoder.cpp:134-136`).
  *
  * Decode is a `StaticInvoke` of the ByteBuffer kernel (no UDF row-encoding
  * overhead; null on a foreign templateId like the reference's dispatch, and
  * on a short or truncated frame): a static call inside whole-stage codegen,
  * and the same method reflected when codegen is off.
  */
object Sbe {

  val tradeSchema: StructType = StructType(Seq(
    StructField("ts_ms", LongType),
    StructField("trade_id", LongType),
    StructField("price", DoubleType),
    StructField("is_buyer_maker", BooleanType),
    StructField("symbol", StringType)))

  /** Trade decode kernel: the row, or null for a frame that is not a whole
    * trade.
    */
  def decodeTradeBytes(bytes: Array[Byte]): InternalRow = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.remaining() < 8) return null
    bb.getShort() // blockLength
    val templateId = bb.getShort()
    bb.getShort(); bb.getShort() // schemaId, version
    if (templateId != 10000 || bb.remaining() < 27) return null
    val tsUs = bb.getLong()
    val tradeId = bb.getLong()
    val mantissa = bb.getLong()
    val exp = bb.get()
    val maker = bb.get() == 1.toByte
    val symLen = bb.get() & 0xff
    if (bb.remaining() < symLen) return null
    val sym = new Array[Byte](symLen)
    bb.get(sym)
    InternalRow(
      java.lang.Long.valueOf(Math.floorDiv(tsUs, 1000L)),
      java.lang.Long.valueOf(tradeId),
      java.lang.Double.valueOf(mantissa * math.pow(10.0, exp.toDouble)),
      java.lang.Boolean.valueOf(maker),
      UTF8String.fromBytes(sym))
  }

  /** One decode kernel bound to Catalyst: a null frame maps to null, and so
    * does a frame the kernel rejects. The Column API below and the SQL
    * functions (GraftFunctions) both build through these.
    */
  private def call(method: String, schema: StructType, frame: Expression): Expression =
    StaticInvoke(getClass, schema, method, Seq(frame))

  def decodeTradeCall(frame: Expression): Expression =
    call("decodeTradeBytes", tradeSchema, frame)
  def decodeBbaCall(frame: Expression): Expression = call("decodeBbaBytes", bbaSchema, frame)
  def decodeDepthCall(frame: Expression): Expression =
    call("decodeDepthBytes", depthSchema, frame)

  def decodeTrade(c: Column): Column =
    ColumnBridge.column(decodeTradeCall(ColumnBridge.expression(c)))

  // ── BBA (templateId 10001) ───────────────────────────────────────────────
  val bbaSchema: StructType = StructType(Seq(
    StructField("ts_ms", LongType),
    StructField("bid_px", DoubleType),
    StructField("ask_px", DoubleType),
    StructField("bid_sz", DoubleType),
    StructField("ask_sz", DoubleType),
    StructField("symbol", StringType)))

  def decodeBbaBytes(bytes: Array[Byte]): InternalRow = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.remaining() < 8) return null
    bb.getShort()
    if (bb.getShort() != 10001) return null
    bb.getShort(); bb.getShort()
    if (bb.remaining() < 8 + 4 * 9 + 1) return null
    val tsUs = bb.getLong()
    def px(): Double = { val m = bb.getLong(); val e = bb.get(); m * math.pow(10.0, e.toDouble) }
    val bid = px(); val ask = px(); val bidSz = px(); val askSz = px()
    val symLen = bb.get() & 0xff
    if (bb.remaining() < symLen) return null
    val sym = new Array[Byte](symLen); bb.get(sym)
    InternalRow(
      java.lang.Long.valueOf(Math.floorDiv(tsUs, 1000L)),
      java.lang.Double.valueOf(bid), java.lang.Double.valueOf(ask),
      java.lang.Double.valueOf(bidSz), java.lang.Double.valueOf(askSz),
      UTF8String.fromBytes(sym))
  }

  def decodeBba(c: Column): Column =
    ColumnBridge.column(decodeBbaCall(ColumnBridge.expression(c)))

  /** Counts written as a single unsigned byte (symbol length, level counts)
    * must fit it — silent .toByte wrapping would emit an undecodable frame.
    */
  private def u8(n: Int, what: String): Byte = {
    require(n >= 0 && n <= 255, s"SBE $what must fit one unsigned byte, got $n")
    n.toByte
  }

  val encodeBba: UserDefinedFunction = udf(
    (tsUs: Long, bidM: Long, askM: Long, bidSzM: Long, askSzM: Long, exp: Int, symbol: String) => {
      val sym = symbol.getBytes("UTF-8")
      val bb = ByteBuffer.allocate(8 + 8 + 4 * 9 + 1 + sym.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.putShort(44.toShort).putShort(10001.toShort).putShort(1.toShort).putShort(0.toShort)
      bb.putLong(tsUs)
      Seq(bidM, askM, bidSzM, askSzM).foreach { m => bb.putLong(m); bb.put(exp.toByte) }
      bb.put(u8(sym.length, "symbol length")).put(sym)
      bb.array()
    })

  // ── Depth (templateId 10003): repeating price-level groups ───────────────
  // Layout after header: i64 ts_us | i64 first_update_id | i64 final_update_id
  //   | u8 nBids | nBids × (i64 mant, i8 exp, i64 qty_mant, i8 qty_exp)
  //   | u8 nAsks | nAsks × (...) | u8 symLen | symbol
  // (the reference's repeating-group walk, sbe_decoder.cpp:456-542 — minus
  // its "first 10 levels are bids" guess, SURVEY §7.5.5: counts are explicit)
  val levelType: StructType = StructType(Seq(
    StructField("price", DoubleType), StructField("qty", DoubleType)))
  val depthSchema: StructType = StructType(Seq(
    StructField("ts_ms", LongType),
    StructField("first_update_id", LongType),
    StructField("final_update_id", LongType),
    StructField("bids", ArrayType(levelType)),
    StructField("asks", ArrayType(levelType)),
    StructField("symbol", StringType)))

  def decodeDepthBytes(bytes: Array[Byte]): InternalRow = try {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.remaining() < 8) return null
    bb.getShort()
    if (bb.getShort() != 10003) return null
    bb.getShort(); bb.getShort()
    if (bb.remaining() < 25) return null
    val tsUs = bb.getLong()
    val firstId = bb.getLong()
    val finalId = bb.getLong()
    def levels(): org.apache.spark.sql.catalyst.util.GenericArrayData = {
      val n = bb.get() & 0xff
      val arr = new Array[Any](n)
      var i = 0
      while (i < n) {
        val pm = bb.getLong(); val pe = bb.get()
        val qm = bb.getLong(); val qe = bb.get()
        arr(i) = InternalRow(
          java.lang.Double.valueOf(pm * math.pow(10.0, pe.toDouble)),
          java.lang.Double.valueOf(qm * math.pow(10.0, qe.toDouble)))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    val bids = levels(); val asks = levels()
    val symLen = bb.get() & 0xff
    if (bb.remaining() < symLen) return null
    val sym = new Array[Byte](symLen); bb.get(sym)
    InternalRow(
      java.lang.Long.valueOf(Math.floorDiv(tsUs, 1000L)),
      java.lang.Long.valueOf(firstId), java.lang.Long.valueOf(finalId),
      bids, asks, UTF8String.fromBytes(sym))
  } catch {
    // A truncated/malformed depth body (level counts claiming more data
    // than the buffer holds) is a bad frame, not a task failure — the same
    // null-on-bad-frame contract the fixed-size decoders honor via their
    // up-front remaining() checks, which can't cover a variable-length body.
    case _: java.nio.BufferUnderflowException => null
  }

  def decodeDepth(c: Column): Column =
    ColumnBridge.column(decodeDepthCall(ColumnBridge.expression(c)))

  val encodeDepth: UserDefinedFunction = udf(
    (tsUs: Long, firstId: Long, finalId: Long,
     bids: Seq[Long], asks: Seq[Long], exp: Int, symbol: String) => {
      // each level is encoded from a single mantissa m: price m, qty m+1
      val sym = symbol.getBytes("UTF-8")
      val bb = ByteBuffer
        .allocate(8 + 24 + 2 + (bids.length + asks.length) * 18 + 1 + sym.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putShort(0.toShort).putShort(10003.toShort).putShort(1.toShort).putShort(0.toShort)
      bb.putLong(tsUs).putLong(firstId).putLong(finalId)
      def side(ls: Seq[Long]): Unit = {
        bb.put(u8(ls.length, "level count"))
        ls.foreach { m =>
          bb.putLong(m); bb.put(exp.toByte); bb.putLong(m + 1); bb.put(exp.toByte)
        }
      }
      side(bids); side(asks)
      bb.put(u8(sym.length, "symbol length")).put(sym)
      bb.array()
    })

  /** Test/ingest-side encoder (UDF is fine off the hot path). */
  val encodeTrade: UserDefinedFunction = udf(
    (tsUs: Long, tradeId: Long, mantissa: Long, exp: Int, maker: Boolean, symbol: String) => {
      val sym = symbol.getBytes("UTF-8")
      val bb = ByteBuffer.allocate(8 + 27 + sym.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.putShort(27.toShort).putShort(10000.toShort).putShort(1.toShort).putShort(0.toShort)
      bb.putLong(tsUs).putLong(tradeId).putLong(mantissa)
      bb.put(exp.toByte).put(if (maker) 1.toByte else 0.toByte)
      bb.put(u8(sym.length, "symbol length")).put(sym)
      bb.array()
    })
}
