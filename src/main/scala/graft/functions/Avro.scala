package graft.functions

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{codegen, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro wire-format adapter — SURVEY §1.1: the reference's Kinesis payloads
  * are Avro binary under the three record schemas in
  * `src/bitcoin_datapipeline/schemas/avro/{MarketTrade,BestBidAsk,DepthDelta}.avsc`.
  * This environment ships Avro core (`avro-1.12.1.jar`) but not the
  * `spark-avro` module, so `from_avro`/`to_avro` are unavailable; the adapter
  * builds the same surface directly on Avro's public `GenericDatumReader`/
  * `GenericDatumWriter` binary codec.
  *
  * One schema-driven codec serves every record type: [[decodeCall]] and
  * [[AvroEncodeExpr]] take the schema JSON at plan time, map it to the
  * Spark type ([[sparkType]]) and call a per-plan kernel from generated
  * code (stays inside whole-stage codegen, like [[Sbe]]). Decode
  * returns the record struct, or null on undecodable bytes — the
  * replay-side behavior a consumer wants when a stream segment is corrupt.
  * Encode binds struct fields to record fields by position and fails the
  * task on a null in a non-nullable field.
  *
  * Thread-safety: `GenericDatumReader.read` resolves per-thread (Avro creates
  * a fresh `ResolvingDecoder` for threads other than the reader's creator),
  * so a kernel shared by task threads is safe under local[32].
  */
object Avro {

  /** Schema JSON verbatim from the reference's .avsc files (field names,
    * types, and order — Avro binary is positional, so order is the contract).
    */
  val TradeSchemaJson: String =
    """{"type":"record","name":"MarketTrade","namespace":"binance","fields":[
      |{"name":"symbol","type":"string"},
      |{"name":"event_ts","type":"long"},
      |{"name":"ingest_ts","type":"long"},
      |{"name":"trade_id","type":"long"},
      |{"name":"price","type":"double"},
      |{"name":"qty","type":"double"},
      |{"name":"is_buyer_maker","type":"boolean"},
      |{"name":"source","type":"string"}]}""".stripMargin

  val BbaSchemaJson: String =
    """{"type":"record","name":"BestBidAsk","namespace":"binance","fields":[
      |{"name":"symbol","type":"string"},
      |{"name":"event_ts","type":"long"},
      |{"name":"ingest_ts","type":"long"},
      |{"name":"bid_px","type":"double"},
      |{"name":"bid_sz","type":"double"},
      |{"name":"ask_px","type":"double"},
      |{"name":"ask_sz","type":"double"},
      |{"name":"source","type":"string"}]}""".stripMargin

  val DepthSchemaJson: String =
    """{"type":"record","name":"DepthDelta","namespace":"binance","fields":[
      |{"name":"symbol","type":"string"},
      |{"name":"event_ts","type":"long"},
      |{"name":"ingest_ts","type":"long"},
      |{"name":"bids","type":{"type":"array","items":{"type":"array","items":"string"}}},
      |{"name":"asks","type":{"type":"array","items":{"type":"array","items":"string"}}},
      |{"name":"source","type":"string"}]}""".stripMargin

  val TradeSchema: Schema = new Schema.Parser().parse(TradeSchemaJson)

  private def utf8(o: AnyRef): UTF8String = o match {
    case u: org.apache.avro.util.Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
    case s => UTF8String.fromString(String.valueOf(s))
  }

  // ── decoder: any record schema + reader/writer resolution ────────────────
  // The `from_avro` surface: a decode expression built from schema JSON at
  // plan time, with full Avro schema-resolution semantics (reader-side added
  // fields take their defaults, dropped fields are skipped, matching is by
  // field NAME not position) — what a consumer replaying old captures after
  // a schema evolution actually needs.

  /** Avro Schema → Spark DataType (records, arrays, maps, enums, fixed,
    * nullable `["null", T]` unions; no general unions). Logical types map to
    * their Spark equivalents: decimal → DecimalType, timestamp-millis/micros
    * → TimestampType (µs), local-timestamp-millis/micros → TimestampNTZType
    * (the zoneless twin — Avro local-timestamp has no UTC anchor, exactly
    * Spark's NTZ semantics), date → DateType, uuid → StringType (canonical
    * 36-char form, whether the carrier is `string` or `fixed(16)` — Spark
    * has no UUID type, and the reference's IDs flow as strings).
    */
  def sparkType(s: Schema): DataType = s.getLogicalType match {
    case d: org.apache.avro.LogicalTypes.Decimal =>
      DecimalType(d.getPrecision, d.getScale)
    case _: org.apache.avro.LogicalTypes.TimestampMillis => TimestampType
    case _: org.apache.avro.LogicalTypes.TimestampMicros => TimestampType
    case _: org.apache.avro.LogicalTypes.LocalTimestampMillis => TimestampNTZType
    case _: org.apache.avro.LogicalTypes.LocalTimestampMicros => TimestampNTZType
    case _: org.apache.avro.LogicalTypes.Date => DateType
    // Avro models uuid as a plain named LogicalType (no dedicated class)
    case lt if lt != null && lt.getName == "uuid" => StringType
    case _ => sparkTypeRaw(s)
  }

  private def sparkTypeRaw(s: Schema): DataType = s.getType match {
    case Schema.Type.STRING => StringType
    case Schema.Type.LONG => LongType
    case Schema.Type.INT => IntegerType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.FLOAT => FloatType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES => BinaryType
    case Schema.Type.ENUM => StringType
    case Schema.Type.FIXED => BinaryType
    case Schema.Type.ARRAY => ArrayType(sparkType(s.getElementType))
    case Schema.Type.MAP =>
      MapType(StringType, sparkType(s.getValueType))
    case Schema.Type.RECORD =>
      StructType(s.getFields.asScala.map(f =>
        StructField(f.name, sparkType(f.schema))).toSeq)
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1, s"only nullable unions supported, got $s")
      sparkType(nonNull.head)
    case t => throw new IllegalArgumentException(s"unsupported Avro type $t")
  }

  /** Avro generic datum → Catalyst value, shaped by the (reader) schema.
    * (private[graft]: also the row converter for the `avro-ocf` file source.)
    */
  private[graft] def toCatalyst(v: AnyRef, s: Schema): Any = {
    if (v == null) return null
    s.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal =>
        val unscaled = s.getType match {
          case Schema.Type.FIXED =>
            v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes()
          case _ =>
            val bb = v.asInstanceOf[java.nio.ByteBuffer]
            val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
        }
        return org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(new java.math.BigInteger(unscaled), d.getScale),
          d.getPrecision, d.getScale)
      case _: org.apache.avro.LogicalTypes.TimestampMillis =>
        return java.lang.Long.valueOf(v.asInstanceOf[java.lang.Long] * 1000L) // ms → µs
      case _: org.apache.avro.LogicalTypes.TimestampMicros => return v
      case _: org.apache.avro.LogicalTypes.LocalTimestampMillis => // NTZ is µs too
        return java.lang.Long.valueOf(v.asInstanceOf[java.lang.Long] * 1000L)
      case _: org.apache.avro.LogicalTypes.LocalTimestampMicros => return v
      case _: org.apache.avro.LogicalTypes.Date => return v // days since epoch
      case lt if lt != null && lt.getName == "uuid" =>
        return s.getType match {
          case Schema.Type.FIXED => // RFC 4122 big-endian 16 bytes → canonical
            val b = v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes()
            val bb = java.nio.ByteBuffer.wrap(b)
            utf8(new java.util.UUID(bb.getLong, bb.getLong).toString)
          case _ => utf8(v) // string-backed uuid: the text IS the value
        }
      case _ => ()
    }
    s.getType match {
      case Schema.Type.UNION =>
        val branch = s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        toCatalyst(v, branch)
      case Schema.Type.STRING | Schema.Type.ENUM => utf8(v)
      case Schema.Type.BYTES =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
      case Schema.Type.FIXED =>
        v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes().clone()
      case Schema.Type.ARRAY =>
        val in = v.asInstanceOf[java.util.List[AnyRef]]
        val out = new Array[Any](in.size())
        var i = 0
        while (i < in.size()) { out(i) = toCatalyst(in.get(i), s.getElementType); i += 1 }
        new GenericArrayData(out)
      case Schema.Type.MAP =>
        val in = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val ks = new Array[Any](in.size()); val vs = new Array[Any](in.size())
        var i = 0
        val it = in.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          ks(i) = utf8(e.getKey); vs(i) = toCatalyst(e.getValue, s.getValueType); i += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new GenericArrayData(ks), new GenericArrayData(vs))
      case Schema.Type.RECORD =>
        val rec = v.asInstanceOf[GenericRecord]
        val fields = s.getFields
        val out = new Array[Any](fields.size())
        var i = 0
        while (i < fields.size()) {
          out(i) = toCatalyst(rec.get(i), fields.get(i).schema()); i += 1
        }
        InternalRow.fromSeq(out.toIndexedSeq)
      // INT/LONG/FLOAT/DOUBLE/BOOLEAN arrive as their boxed JVM forms
      case _ => v
    }
  }

  /** Serializable decode kernel: parses schemas lazily where it runs,
    * resolves writer→reader, null on undecodable bytes. Equal schemas make
    * equal kernels, so two decodes over the same schemas are one plan.
    */
  final class AvroRowKernel(val writerJson: String, val readerJson: String)
      extends Serializable {
    override def equals(o: Any): Boolean = o match {
      case k: AvroRowKernel => writerJson == k.writerJson && readerJson == k.readerJson
      case _ => false
    }
    override def hashCode: Int = 31 * writerJson.hashCode + readerJson.hashCode

    @transient private lazy val readerSchema = new Schema.Parser().parse(readerJson)
    @transient private lazy val datumReader = new GenericDatumReader[GenericRecord](
      new Schema.Parser().parse(writerJson), readerSchema)
    def decode(bytes: Array[Byte]): InternalRow =
      try {
        val dec = DecoderFactory.get().binaryDecoder(bytes, null)
        val rec = datumReader.read(null, dec)
        if (!dec.isEnd) throw new java.io.IOException("trailing bytes after record")
        toCatalyst(rec, readerSchema).asInstanceOf[InternalRow]
      } catch { case _: Exception => null }
  }

  /** `from_avro` equivalent: decode `frame` (binary) written with
    * `writerJson`, projected through `readerJson` — an `Invoke` of the
    * kernel's `decode`, with the kernel as an object literal (codegen holds
    * it as a reference object: no per-row registry lookup). Null for a null
    * frame and for undecodable bytes.
    */
  def decodeCall(frame: Expression, writerJson: String, readerJson: String): Expression =
    Invoke(
      Literal(new AvroRowKernel(writerJson, readerJson), ObjectType(classOf[AvroRowKernel])),
      "decode", sparkType(new Schema.Parser().parse(readerJson)), Seq(frame))

  def decode(c: Column, writerJson: String): Column =
    decode(c, writerJson, writerJson)
  def decode(c: Column, writerJson: String, readerJson: String): Column =
    ColumnBridge.column(decodeCall(ColumnBridge.expression(c), writerJson, readerJson))

  // ── encoder: the `to_avro` half ──────────────────────────────────────────

  /** Catalyst value → Avro generic datum, shaped by the schema. Inverse of
    * `toCatalyst`; struct fields bind to record fields POSITIONALLY.
    *
    * `dt` is the value's ACTUAL Spark type, which steers how child slots
    * are read from InternalRow/ArrayData: reading a ShortType slot with
    * getInt returns the raw unsigned lower bytes (an UnsafeRow short -5
    * reads as 65531), so slot reads must use the real type and the numeric
    * branches below box `Number`s to the Avro target width — that also
    * legitimately widens int→long / float→double when an explicit writer
    * schema asks for it.
    */
  private def fromCatalyst(v: Any, s: Schema, dt: DataType): AnyRef = {
    if (v == null) return null
    s.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal =>
        val unscaled = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.setScale(d.getScale).unscaledValue().toByteArray
        return s.getType match {
          case Schema.Type.FIXED =>
            val buf = new Array[Byte](s.getFixedSize)
            // sign-extend into the fixed width (big-endian, right-aligned)
            val sign: Byte = if (unscaled.head < 0) -1 else 0
            java.util.Arrays.fill(buf, sign)
            System.arraycopy(unscaled, 0, buf, buf.length - unscaled.length, unscaled.length)
            new GenericData.Fixed(s, buf)
          case _ => java.nio.ByteBuffer.wrap(unscaled)
        }
      case _: org.apache.avro.LogicalTypes.TimestampMillis =>
        return java.lang.Long.valueOf(v.asInstanceOf[Long] / 1000L) // µs → ms
      case _: org.apache.avro.LogicalTypes.TimestampMicros =>
        return java.lang.Long.valueOf(v.asInstanceOf[Long])
      case _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
        return java.lang.Long.valueOf(v.asInstanceOf[Long] / 1000L) // µs → ms
      case _: org.apache.avro.LogicalTypes.LocalTimestampMicros =>
        return java.lang.Long.valueOf(v.asInstanceOf[Long])
      case _: org.apache.avro.LogicalTypes.Date =>
        return java.lang.Integer.valueOf(v.asInstanceOf[Int])
      case lt if lt != null && lt.getName == "uuid" =>
        return s.getType match {
          case Schema.Type.FIXED => // canonical string → RFC 4122 16 bytes
            val u = java.util.UUID.fromString(v.asInstanceOf[UTF8String].toString)
            val buf = java.nio.ByteBuffer.allocate(16)
            buf.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
            new GenericData.Fixed(s, buf.array())
          case _ => v.asInstanceOf[UTF8String].toString
        }
      case _ => ()
    }
    s.getType match {
      case Schema.Type.UNION =>
        fromCatalyst(v, s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get, dt)
      case Schema.Type.STRING => v.asInstanceOf[UTF8String].toString
      case Schema.Type.ENUM =>
        new GenericData.EnumSymbol(s, v.asInstanceOf[UTF8String].toString)
      case Schema.Type.BYTES => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case Schema.Type.FIXED => new GenericData.Fixed(s, v.asInstanceOf[Array[Byte]])
      case Schema.Type.ARRAY =>
        val in = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val elemT = dt.asInstanceOf[ArrayType].elementType
        val out = new java.util.ArrayList[AnyRef](in.numElements())
        var i = 0
        while (i < in.numElements()) {
          out.add(fromCatalyst(in.get(i, elemT), s.getElementType, elemT)); i += 1
        }
        out
      case Schema.Type.MAP =>
        val in = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val valT = dt.asInstanceOf[MapType].valueType
        val out = new java.util.HashMap[String, AnyRef](in.numElements())
        val ks = in.keyArray(); val vs = in.valueArray()
        var i = 0
        while (i < in.numElements()) {
          out.put(
            ks.get(i, StringType).asInstanceOf[UTF8String].toString,
            fromCatalyst(vs.get(i, valT), s.getValueType, valT))
          i += 1
        }
        out
      case Schema.Type.RECORD =>
        val row = v.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(s)
        val fields = s.getFields
        val sparkFields = dt.asInstanceOf[StructType].fields
        var i = 0
        while (i < fields.size()) {
          val f = fields.get(i)
          val ft = sparkFields(i).dataType
          val datum = fromCatalyst(row.get(i, ft), f.schema(), ft)
          // fail here, naming the field: the root cause of Avro's writer NPE does not
          if (datum == null && !f.schema().isNullable)
            throw new NullPointerException(
              s"null value for non-nullable Avro field ${s.getFullName}.${f.name}")
          rec.put(i, datum)
          i += 1
        }
        rec
      // numeric targets box via Number: preserves negative Short/Byte slots
      // and widens int→long / float→double for explicit writer schemas
      case Schema.Type.INT =>
        java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue())
      case Schema.Type.LONG =>
        java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
      case Schema.Type.FLOAT =>
        java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue())
      case Schema.Type.DOUBLE =>
        java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
      case _ => v.asInstanceOf[AnyRef] // BOOLEAN
    }
  }

  /** InternalRow → Avro record (the `avro-ocf` sink's row converter).
    * `sparkSchema` is the dataframe's real schema — slot reads must honor
    * it, not the Avro-derived approximation (see [[fromCatalyst]]).
    */
  private[graft] def toAvroRecord(
      row: InternalRow, s: Schema, sparkSchema: StructType): GenericRecord =
    fromCatalyst(row, s, sparkSchema).asInstanceOf[GenericRecord]

  /** Spark DataType → Avro Schema, the inverse of [[sparkType]]: nullable
    * fields become `["null", T]` unions with a null default (so readers can
    * evolve against the written schema), DecimalType → bytes+decimal logical
    * type, TimestampType → timestamp-micros, TimestampNTZType →
    * local-timestamp-micros (so an NTZ column survives a write→scan
    * round-trip as NTZ rather than being silently anchored to UTC),
    * DateType → date. Nested record names are derived from the field path
    * (Avro requires unique names).
    */
  def avroSchemaFor(
      dt: StructType,
      name: String = "Record",
      namespace: String = "graft"): Schema =
    avroType(dt, name, namespace, nullable = false)

  private def avroType(dt: DataType, name: String, ns: String, nullable: Boolean): Schema = {
    val base = dt match {
      case StringType => Schema.create(Schema.Type.STRING)
      case LongType => Schema.create(Schema.Type.LONG)
      case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case d: DecimalType =>
        org.apache.avro.LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(Schema.create(Schema.Type.BYTES))
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case TimestampNTZType => // zoneless → local-timestamp (type-preserving)
        org.apache.avro.LogicalTypes.localTimestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case DateType =>
        org.apache.avro.LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
      case ArrayType(et, containsNull) =>
        Schema.createArray(avroType(et, name + "_item", ns, containsNull))
      case MapType(StringType, vt, vcn) =>
        Schema.createMap(avroType(vt, name + "_value", ns, vcn))
      case st: StructType =>
        val fields = st.fields.map { f =>
          val fs = avroType(f.dataType, name + "_" + f.name, ns, f.nullable)
          if (f.nullable)
            new Schema.Field(f.name, fs, null, org.apache.avro.JsonProperties.NULL_VALUE)
          else new Schema.Field(f.name, fs)
        }
        Schema.createRecord(name, null, ns, false, java.util.Arrays.asList(fields: _*))
      case other =>
        throw new IllegalArgumentException(s"avro-ocf: unsupported Spark type $other")
    }
    if (nullable && base.getType != Schema.Type.UNION)
      Schema.createUnion(Schema.create(Schema.Type.NULL), base)
    else base
  }

  /** Serializable encode kernel (`to_avro` half of [[AvroRowKernel]]). */
  final class AvroWriteKernel(val schemaJson: String, val structType: StructType)
      extends Serializable {
    @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
    @transient private lazy val datumWriter = new GenericDatumWriter[GenericRecord](schema)
    def encode(row: InternalRow): Array[Byte] = {
      val rec = fromCatalyst(row, schema, structType).asInstanceOf[GenericRecord]
      val out = new ByteArrayOutputStream(64)
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      datumWriter.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
  }

  /** `to_avro` equivalent: serialize a struct column (shaped like
    * `sparkType(schemaJson)`, fields bound positionally) to Avro binary. A
    * Catalyst class rather than an `Invoke` like [[decodeCall]]: the kernel
    * needs the child's resolved struct type, which is unknown when the
    * Column is built.
    */
  case class AvroEncodeExpr(child: Expression, schemaJson: String)
      extends UnaryExpression {
    // the child's REAL struct type steers InternalRow slot reads (a
    // ShortType slot read as int returns garbage for negatives)
    @transient private lazy val kernel =
      new AvroWriteKernel(schemaJson, child.dataType.asInstanceOf[StructType])
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = child.nullable
    override def nullSafeEval(input: Any): Any =
      kernel.encode(input.asInstanceOf[InternalRow])
    override protected def doGenCode(
        ctx: codegen.CodegenContext,
        ev: codegen.ExprCode): codegen.ExprCode = {
      val kRef = ctx.addReferenceObj(
        "avroWriteKernel", kernel, classOf[AvroWriteKernel].getName)
      nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $kRef.encode($in);")
    }
    override protected def withNewChildInternal(newChild: Expression): AvroEncodeExpr =
      copy(child = newChild)
  }

  def encode(c: Column, schemaJson: String): Column =
    ColumnBridge.column(AvroEncodeExpr(ColumnBridge.expression(c), schemaJson))
}
