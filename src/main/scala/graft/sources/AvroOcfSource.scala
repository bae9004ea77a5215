package graft.sources

import java.util

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.functions.Avro

/** `avro-ocf` — a DataSource V2 for Avro Object Container Files, the
  * on-disk form Avro data lands in (exports, replays, archive dumps):
  * batch read, micro-batch streaming tail, and batch write. The environment
  * ships Avro core but not the `spark-avro` module, so
  * `spark.read.format("avro")` does not exist; this source provides that
  * surface on `org.apache.avro.file.DataFileReader` — including the
  * container format's self-describing schema (inferred from the first
  * file's header), block compression codecs, and reader-schema resolution
  * via the `readerSchema` option (same evolution semantics as
  * [[graft.functions.Avro.decodeCall]]).
  *
  * Storage: all IO goes through the Hadoop FileSystem API ([[GraftFs]]) —
  * the reference's container dumps live on S3 (`s3_writer.py:216-230`), so
  * `load("s3a://bucket/exports")` must work, not just local paths; the
  * reader factory and write factory each carry a broadcast
  * [[SerializableConfiguration]] ([[GraftFs.broadcastConf]]) so executors
  * resolve the FileSystem themselves. Note the write commit protocol's
  * rename step is atomic on `file:`/`hdfs:` but a copy on S3A — a reader listing mid-commit may see
  * a file appear non-atomically there; the `.tmp` prefix still keeps
  * half-written containers out of every scan (listing filters by suffix).
  *
  * Filter pushdown is DELIBERATELY not implemented
  * (`SupportsPushDownRequiredColumns` only): OCF blocks carry no min/max
  * statistics, so a pushed predicate could never skip a block's IO or
  * decode — every row must be decoded and tested regardless, which is
  * exactly what the post-scan Catalyst `Filter` already does, inside
  * whole-stage codegen. The pruning that DOES pay — skipping unprojected
  * COLUMNS inside each record — is implemented below by handing the Avro
  * resolving decoder a subset reader schema (byte-skip, not decode).
  *
  * Scale shape: per-file parallelism PLUS intra-file sync-point splits — a
  * single giant export file is chopped into `splitBytes` byte ranges (option,
  * default 128 MiB) and each task `sync`s to the first block boundary at or
  * past its range start, reading until the first boundary past its range end
  * (`pastSync`) — the standard splittable-container contract: every record
  * is read by exactly one task regardless of where block boundaries fall.
  * Zero shuffle either way.
  */
object AvroOcfSource {
  val FileSuffix = ".avro"

  /** Zero-length files can't be valid containers (no header); skip them so
    * an empty writer-side artifact doesn't fail the whole scan.
    */
  private[sources] def listFiles(
      dir: String,
      conf: Configuration = GraftFs.conf()): Array[FileStatus] =
    GraftFs.listBySuffix(dir, FileSuffix, conf, keepEmpty = false)

  /** Avro's random-access input contract over a Hadoop stream —
    * `FSDataInputStream` is seekable on every FS implementation, which is
    * all `DataFileReader` needs for header reads and sync-point seeks.
    * Length is pinned at open (Avro asks it to bound `pastSync`).
    */
  private[sources] final class HadoopSeekableInput(f: FileSystem, path: Path)
      extends SeekableInput {
    private val len = f.getFileStatus(path).getLen
    private val in = f.open(path)
    override def read(b: Array[Byte], off: Int, n: Int): Int = in.read(b, off, n)
    override def seek(p: Long): Unit = in.seek(p)
    override def tell(): Long = in.getPos
    override def length(): Long = len
    override def close(): Unit = in.close()
  }

  private[sources] def openReader(
      f: FileSystem, path: Path, datumReader: GenericDatumReader[GenericRecord])
      : DataFileReader[GenericRecord] = {
    val in = new HadoopSeekableInput(f, path)
    try new DataFileReader[GenericRecord](in, datumReader)
    catch { case e: Throwable => try in.close() catch { case _: Throwable => () }; throw e }
  }

  /** The writer schema embedded in the container header. */
  def writerSchema(file: java.io.File): Schema = {
    val p = new Path(file.toURI)
    writerSchema(GraftFs.fs(p, GraftFs.conf()), p)
  }

  private[sources] def writerSchema(f: FileSystem, path: Path): Schema = {
    val r = openReader(f, path, new GenericDatumReader[GenericRecord]())
    try r.getSchema finally r.close()
  }

  /** Subset record schema keeping only `names`, in that order, with each
    * field's type/default copied verbatim. The record's full name is
    * preserved — Avro resolves reader↔writer records BY NAME, so a renamed
    * subset would not resolve. Used for column-pruned scans: Avro's
    * resolving decoder byte-skips every writer field absent from the reader
    * schema, so pruning happens at decode time, not post-hoc.
    */
  private[sources] def subsetSchema(full: Schema, names: Seq[String]): Schema = {
    val fields = names.map { n =>
      val f = Option(full.getField(n)).getOrElse(
        throw new IllegalArgumentException(
          s"avro-ocf: pruned column '$n' not in schema ${full.getFullName}"))
      new Schema.Field(f, f.schema())
    }
    Schema.createRecord(
      full.getName, full.getDoc, full.getNamespace, false,
      java.util.Arrays.asList(fields: _*))
  }

  /** Fixture/export-side writer: one container file, deflate-compressed
    * blocks, `syncEvery` records per block (small values force multi-block
    * files so block boundaries are actually exercised).
    */
  def writeOcf(
      file: java.io.File,
      schema: Schema,
      records: Seq[GenericRecord],
      syncEvery: Int = 512): Unit = {
    val p = new Path(file.toURI)
    val f = GraftFs.fs(p, GraftFs.conf())
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.create(schema, f.create(p, true))
    try {
      records.zipWithIndex.foreach { case (r, i) =>
        w.append(r)
        if ((i + 1) % syncEvery == 0) w.sync()
      }
    } finally w.close()
  }
}

class AvroOcfProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "avro-ocf"

  // Writes hand the dataframe's schema straight to getTable (a write target
  // may be an empty directory, where header-based inference is impossible).
  override def supportsExternalMetadata(): Boolean = true

  private def readerJson(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("readerSchema"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val reader = readerJson(options).map(new Schema.Parser().parse(_)).getOrElse {
      val path = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException("avro-ocf requires a path (load(dir))"))
      val conf = GraftFs.conf()
      val files = AvroOcfSource.listFiles(path, conf)
      require(files.nonEmpty, s"avro-ocf: no ${AvroOcfSource.FileSuffix} files under $path")
      val head = files.head.getPath
      AvroOcfSource.writerSchema(GraftFs.fs(head, conf), head)
    }
    Avro.sparkType(reader).asInstanceOf[StructType]
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Resolve options EXACTLY as inferSchema does (case-insensitively): a
    // user-typed 'readerschema' must not yield a table whose declared schema
    // is the reader layout while the scan decodes with the writer layout.
    val options = new CaseInsensitiveStringMap(properties)
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("avro-ocf requires a path (load(dir))"))
    require(partitioning.isEmpty,
      "avro-ocf does not support partitionBy; write each partition directory " +
        "explicitly (or use the parquet bronze writer for hive-style layout)")
    new AvroOcfTable(path, readerJson(options), schema)
  }
}

class AvroOcfTable(path: String, readerJson: Option[String], tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"avro-ocf:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** The one reader schema every file resolves against — computed LAZILY so
    * pure writes (which never build a scan) don't pay a directory listing +
    * header parse per append job. Without an explicit readerSchema option
    * it pins the first file's writer schema (the one the table schema was
    * inferred from): a directory of heterogeneous export batches then
    * schema-RESOLVES per file instead of decoding each file in its own
    * layout while the table declares another (silently swapped columns).
    */
  private lazy val pinnedReaderJson: Option[String] = readerJson.orElse {
    val conf = GraftFs.conf()
    AvroOcfSource.listFiles(path, conf).headOption
      .map(st => AvroOcfSource.writerSchema(
        GraftFs.fs(st.getPath, conf), st.getPath).toString)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // A user-supplied read schema (spark.read.schema(...)) cannot steer the
    // Avro decoder — rows would be declared in one layout and decoded in
    // another. Reject it up-front; evolution goes through `readerSchema`.
    pinnedReaderJson.foreach { j =>
      val decoded = Avro.sparkType(new Schema.Parser().parse(j))
      require(decoded == tableSchema,
        "avro-ocf: a user-specified read schema is not supported (the scan " +
          "decodes the container's schema); pass the 'readerSchema' option " +
          s"for evolution instead. declared=$tableSchema decoded=$decoded")
    }
    val splitBytes = Option(options.get("splitBytes")).map(_.toLong)
      .getOrElse(128L << 20)
    val maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // Top-level column pruning pushed into the Avro decoder: the scan
      // hands the tasks a SUBSET reader schema, and Avro's resolving
      // decoder byte-skips the dropped writer fields instead of decoding
      // them. A 2-of-40-column projection over archived containers then
      // costs 2 fields of object building per record, not 40.
      private var pruned: Option[Seq[String]] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = Some(requiredSchema.fieldNames.toSeq)
      override def build(): Scan = {
        val outSchema = pruned match {
          case Some(names) => StructType(names.map(n => tableSchema(n)))
          case None => tableSchema
        }
        new AvroOcfScan(
          path, pinnedReaderJson, outSchema, splitBytes, pruned, maxFilesPerTrigger)
      }
    }
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroOcfWriteBuilder(path, info)
}

/** Write side: `df.write.format("avro-ocf").mode("append"|"overwrite")`.
  *
  * Options: `codec` = deflate (default) | uncompressed | snappy | zstd;
  * `deflateLevel` (1-9, default 6); `syncEvery` = records per block sync
  * (default 512 — block boundaries are the read-side split points, so this
  * also bounds split granularity); `avroSchema` = explicit writer schema
  * JSON (default: derived from the dataframe schema via
  * [[Avro.avroSchemaFor]]).
  *
  * Commit protocol (task-per-partition files, speculative-attempt safe):
  * each task streams into a hidden `.part-<job>-<partition>-<task>.avro.tmp`;
  * only the driver-side commit renames tmp files to visible
  * `part-<job>-<partition>-<task>.avro` names (and first clears prior files
  * when truncating for overwrite mode), so readers never observe
  * half-written containers and a failed/aborted attempt leaves only a tmp
  * file that abort() deletes. Empty partitions produce no file. The rename
  * is atomic on `file:`/`hdfs:`; on S3A it's a server-side copy — readers
  * never see partial content (the copy is all-or-nothing per object) but
  * commit latency grows with file size there.
  */
class AvroOcfWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val opts = info.options()
      val schemaJson = Option(opts.get("avroSchema")).getOrElse(
        Avro.avroSchemaFor(info.schema(), "Record", "graft").toString)
      val codec = Option(opts.get("codec")).getOrElse("deflate")
      val deflateLevel = Option(opts.get("deflateLevel")).map(_.toInt).getOrElse(6)
      val syncEvery = Option(opts.get("syncEvery")).map(_.toInt).getOrElse(512)
      require(syncEvery > 0, s"syncEvery must be positive, got $syncEvery")
      new AvroOcfBatchWrite(
        path, schemaJson, info.schema(), codec, deflateLevel, syncEvery, doTruncate)
    }
  }
}

case class AvroOcfCommit(tmpPath: String, finalName: String) extends WriterCommitMessage

class AvroOcfBatchWrite(
    path: String,
    schemaJson: String,
    sparkSchema: StructType,
    codec: String,
    deflateLevel: Int,
    syncEvery: Int,
    doTruncate: Boolean) extends BatchWrite {

  private val conf = GraftFs.conf()

  // Distinguishes this write job's files from any earlier job's (task ids
  // restart across applications, so they alone can't keep append-mode file
  // names unique). Millis-prefixed so append-order ≈ lexical name order:
  // the streaming tail's offsets count SORTED names, so a later job's files
  // must sort after an earlier job's (the random suffix only breaks
  // same-millisecond collisions between concurrent jobs).
  private val writeId = f"${System.currentTimeMillis()}%013d-" +
    java.util.UUID.randomUUID().toString.take(4)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    GraftFs.fs(dir, conf).mkdirs(dir)
    AvroOcfWriterFactory(
      path, schemaJson, sparkSchema, codec, deflateLevel, syncEvery, writeId,
      GraftFs.broadcastConf(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val f = GraftFs.fs(dir, conf)
    if (doTruncate) AvroOcfSource.listFiles(path, conf).foreach { st =>
      if (!f.delete(st.getPath, false))
        throw new java.io.IOException(s"avro-ocf: cannot truncate ${st.getPath}")
    }
    messages.collect { case m: AvroOcfCommit if m.tmpPath.nonEmpty => m }.foreach { m =>
      val tmp = new Path(m.tmpPath)
      val dst = new Path(dir, m.finalName)
      if (!f.rename(tmp, dst))
        throw new java.io.IOException(s"avro-ocf: commit rename failed: $tmp -> $dst")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: AvroOcfCommit if m.tmpPath.nonEmpty => m }.foreach { m =>
      val tmp = new Path(m.tmpPath)
      try GraftFs.fs(tmp, conf).delete(tmp, false)
      catch { case _: Throwable => () }
    }
}

case class AvroOcfWriterFactory(
    path: String,
    schemaJson: String,
    sparkSchema: StructType,
    codec: String,
    deflateLevel: Int,
    syncEvery: Int,
    writeId: String,
    conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroOcfDataWriter(
      path, schemaJson, sparkSchema, codec, deflateLevel, syncEvery,
      partitionId, taskId, writeId, conf.value.value)
}

class AvroOcfDataWriter(
    path: String,
    schemaJson: String,
    sparkSchema: StructType,
    codec: String,
    deflateLevel: Int,
    syncEvery: Int,
    partitionId: Int,
    taskId: Long,
    writeId: String,
    conf: Configuration) extends DataWriter[InternalRow] {

  private val schema = new Schema.Parser().parse(schemaJson)
  // writeId leads: files sort job-major (append order), then by partition.
  private val finalName =
    f"part-$writeId-$partitionId%05d-$taskId${AvroOcfSource.FileSuffix}"
  private val tmpPath = new Path(new Path(path), s".$finalName.tmp")
  private var writer: DataFileWriter[GenericRecord] = _ // opened on first row
  private var sinceSync = 0

  private def open(): Unit = {
    writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    writer.setCodec(codec.toLowerCase match {
      case "deflate" => CodecFactory.deflateCodec(deflateLevel)
      case "uncompressed" | "null" => CodecFactory.nullCodec()
      case "snappy" => CodecFactory.snappyCodec()
      case "zstd" | "zstandard" => CodecFactory.zstandardCodec(3)
      case other => throw new IllegalArgumentException(s"avro-ocf: unknown codec '$other'")
    })
    writer.create(schema, GraftFs.fs(tmpPath, conf).create(tmpPath, true))
  }

  override def write(record: InternalRow): Unit = {
    if (writer == null) open()
    writer.append(Avro.toAvroRecord(record, schema, sparkSchema))
    sinceSync += 1
    if (sinceSync >= syncEvery) { writer.sync(); sinceSync = 0 }
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) return AvroOcfCommit("", "") // empty partition: no file
    writer.close(); writer = null
    AvroOcfCommit(tmpPath.toString, finalName)
  }

  override def abort(): Unit = {
    if (writer != null) { try writer.close() catch { case _: Throwable => () }; writer = null }
    try GraftFs.fs(tmpPath, conf).delete(tmpPath, false)
    catch { case _: Throwable => () }
  }

  override def close(): Unit =
    if (writer != null) { try writer.close() catch { case _: Throwable => () }; writer = null }
}

class AvroOcfScan(
    path: String,
    readerJson: Option[String],
    outSchema: StructType,
    splitBytes: Long,
    prunedNames: Option[Seq[String]],
    maxFilesPerTrigger: Option[Int] = None) extends Scan {
  private val conf = GraftFs.conf()
  // once per scan: its batch, or its stream for the stream's lifetime
  private lazy val confBc = GraftFs.broadcastConf(conf)
  override def readSchema(): StructType = outSchema

  private def partitionsOf(files: Seq[FileStatus]): Array[InputPartition] =
    files.toArray.flatMap { st =>
      val len = st.getLen
      val ranges = 0L until math.max(1L, (len + splitBytes - 1) / splitBytes)
      ranges.map { i =>
        AvroOcfPartition(
          st.getPath.toString, readerJson, prunedNames,
          start = i * splitBytes,
          end = math.min((i + 1) * splitBytes, len)): InputPartition
      }
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      partitionsOf(AvroOcfSource.listFiles(path, conf).toSeq)
    override def createReaderFactory(): PartitionReaderFactory =
      AvroOcfReaderFactory(confBc)
  }

  /** Streaming tail of a growing shard directory — the training-side
    * consumer of the [[AvroOcfBatchWrite]] exporter. The offset is the NAME
    * of the last consumed file: container files are immutable once visible
    * (the sink's tmp→rename commit) and the sink's millis-prefixed job ids
    * make later jobs' names sort after earlier ones, so `name > offset`
    * selects exactly the unconsumed files. Name-anchored (not index-
    * counted) offsets stay correct even if a straggling concurrent job
    * commits files that sort BELOW the consumed boundary — those are
    * deterministically skipped (they violate the append-order contract)
    * rather than silently shifting an index slice into skips AND
    * duplicates. The directory contract is append-only atomic-visibility,
    * one writer job at a time for gap-free consumption.
    * `maxFilesPerTrigger` bounds each micro-batch.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream with SupportsAdmissionControl {
      private def namesAfter(boundary: String): Seq[String] =
        AvroOcfSource.listFiles(path, conf)
          .map(_.getPath.getName).filter(_ > boundary).toSeq
      private def offsetAt(boundary: String, take: Option[Int]): AvroOcfStreamOffset = {
        val fresh = namesAfter(boundary)
        val admitted = take.map(fresh.take).getOrElse(fresh)
        AvroOcfStreamOffset(if (admitted.isEmpty) boundary else admitted.last)
      }
      override def initialOffset(): Offset = AvroOcfStreamOffset("")
      override def latestOffset(): Offset = offsetAt("", None)
      override def getDefaultReadLimit: ReadLimit =
        maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val from = start.asInstanceOf[AvroOcfStreamOffset].lastName
        limit match {
          case m: ReadMaxFiles => offsetAt(from, Some(m.maxFiles()))
          case _ => offsetAt(from, None)
        }
      }
      override def deserializeOffset(json: String): Offset = AvroOcfStreamOffset(json)
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[AvroOcfStreamOffset].lastName
        val e = end.asInstanceOf[AvroOcfStreamOffset].lastName
        partitionsOf(
          AvroOcfSource.listFiles(path, conf)
            .filter(st => st.getPath.getName > s && st.getPath.getName <= e).toSeq)
      }
      override def createReaderFactory(): PartitionReaderFactory =
        AvroOcfReaderFactory(confBc)
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
}

/** Name of the last fully-consumed container file ("" = nothing consumed);
  * files are admitted in sorted-name order.
  */
case class AvroOcfStreamOffset(lastName: String) extends Offset {
  override def json(): String = lastName
}

/** Byte range [start, end): the task syncs to the first block boundary at or
  * past `start` and stops at the first boundary past `end`. `prunedNames`
  * (if set) restricts decoding to those top-level fields, in order.
  */
case class AvroOcfPartition(
    file: String,
    readerJson: Option[String],
    prunedNames: Option[Seq[String]],
    start: Long,
    end: Long)
    extends InputPartition

case class AvroOcfReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AvroOcfPartition]
    new PartitionReader[InternalRow] {
      // expected (reader) schema set up-front; DataFileReader supplies the
      // writer schema from the container header, so resolution is automatic
      private val datumReader = p.readerJson match {
        case Some(j) =>
          new GenericDatumReader[GenericRecord](null, new Schema.Parser().parse(j))
        case None => new GenericDatumReader[GenericRecord]()
      }
      private val fileReader = {
        val path = new Path(p.file)
        AvroOcfSource.openReader(GraftFs.fs(path, conf.value.value), path, datumReader)
      }
      // Position at the first block boundary at or past the range start
      // (sync(0) lands just past the header — the header ends with the sync
      // marker), then stop at the first boundary past the range end: every
      // record is read by exactly one split. If positioning or reader-schema
      // parsing throws, close the already-open container reader — the task
      // will be retried/failed, but the handle must not leak.
      //
      // Column pruning: the EXPECTED (reader) schema handed to the datum
      // reader is the pruned subset of the full reader schema — Avro's
      // resolving decoder then byte-skips dropped fields. setExpected before
      // the first read is safe: the resolver is built lazily per read.
      private val resolved: Schema =
        try {
          fileReader.sync(p.start)
          val full = p.readerJson.map(new Schema.Parser().parse(_))
            .getOrElse(fileReader.getSchema)
          p.prunedNames match {
            case Some(names) =>
              val subset = AvroOcfSource.subsetSchema(full, names)
              datumReader.setExpected(subset)
              subset
            case None => full
          }
        } catch {
          case e: Throwable =>
            try fileReader.close() catch { case _: Throwable => () }
            throw e
        }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (fileReader.hasNext && !fileReader.pastSync(p.end)) {
          current = Avro.toCatalyst(fileReader.next(), resolved).asInstanceOf[InternalRow]
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = fileReader.close()
    }
  }
}
