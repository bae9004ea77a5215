package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `sbe-frames` — a real DataSource V2 source for the reference's SBE feed
  * (SURVEY §2.1 S1, `binance_sbe.py:140-191`), replacing the round-1/2
  * file-stream *analog* with actual connector plumbing.
  *
  * The reference's WebSocket client yields raw SBE frames and survives
  * disconnects by resubscribing (`binance_sbe.py:370-382`); the durable
  * equivalent of that contract in Spark's model is a REPLAYABLE source:
  * a capture process appends frames to rolling files (`<name>.sbef`:
  * `[u32 big-endian length][frame bytes]*`), and this source exposes them
  * to both `spark.read` (backfill) and `spark.readStream` (tailing) with
  * deterministic, checkpointable offsets — restart/reconnect becomes offset
  * replay instead of bespoke backoff loops.
  *
  * Offsets are (file, tailBytes): every file named before `file` is fully
  * consumed, plus `tailBytes` of `file` itself. The lexicographically LAST
  * file is the live capture target and may grow; every earlier file is
  * frozen (the capture rolls with increasing names — the reference's
  * reconnect boundaries do exactly this). `latestOffset` walks the active
  * file's length prefixes to the last COMPLETE frame boundary, so an
  * in-flight append is never half-consumed: tail latency is one trigger,
  * not one file roll.
  *
  * Storage: all paths go through the Hadoop FileSystem API ([[GraftFs]]) —
  * a capture directory can live on `file:`, `hdfs:`, or `s3a:`; executors
  * resolve the FileSystem from a broadcast [[SerializableConfiguration]]
  * carried by the reader factory ([[GraftFs.broadcastConf]]). The journal
  * directory contract is the same on every scheme: files appear/grow under
  * increasing names (on object stores without append, the capture uploads
  * closed rolls — each file is then frozen on arrival and only the
  * tail-walk optimization is moot).
  *
  * Scale shape: one InputPartition per frame file (plus one bounded tail
  * range), so a 1000-executor cluster tails a wide capture directory with
  * per-file parallelism and no shuffle; decode stays columnar via the
  * codegen `sbe_decode_*` expressions downstream ([[graft.functions.Sbe]]).
  */
object SbeFrameSource {
  val Schema: StructType = StructType(Seq(
    StructField("frame", BinaryType, nullable = false),
    StructField("source_file", StringType, nullable = false),
    // the frame's starting byte offset within its file — the stable,
    // replayable per-frame identifier (survives partial-file reads, unlike
    // an ordinal that would restart per byte-range partition)
    StructField("frame_offset", LongType, nullable = false)))

  val FileSuffix = ".sbef"

  /** Bound on a length prefix: a capture refuses a frame above it loudly,
    * and a reader takes a prefix outside [0, MaxFrameBytes] for a corrupt or
    * torn one and stops at the last good boundary instead of mis-seeking or
    * allocating garbage.
    */
  val MaxFrameBytes: Int = 16 << 20

  private[sources] final val NoFrame = -1
  private[sources] final val CorruptLength = -2

  /** The next `[u32 big-endian length]` prefix of `in`: the frame length,
    * [[NoFrame]] when fewer than 4 bytes remain, or [[CorruptLength]] when
    * it is outside [0, MaxFrameBytes]. Allocates nothing: it runs per frame.
    */
  private[sources] def readLength(in: java.io.InputStream): Int = {
    val b0 = in.read(); val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
    if ((b0 | b1 | b2 | b3) < 0) NoFrame
    else {
      val len = (b0 << 24) | (b1 << 16) | (b2 << 8) | b3
      if (len < 0 || len > MaxFrameBytes) CorruptLength else len
    }
  }

  /** Appends one length-prefixed frame; returns the bytes written. A frame
    * above [[MaxFrameBytes]] is refused: a reader would take its prefix for
    * a corrupt one and silently drop the rest of the file.
    */
  private[sources] def writeFrame(out: java.io.DataOutputStream, frame: Array[Byte]): Int = {
    require(frame.length <= MaxFrameBytes,
      s"frame of ${frame.length} bytes above MaxFrameBytes ($MaxFrameBytes)")
    out.writeInt(frame.length)
    out.write(frame)
    4 + frame.length
  }

  private val CaptureName = """capture_(\d+)\.sbef""".r

  /** A capture's `idx`-th journal file; five-digit names sort in roll order. */
  def captureFileName(idx: Int): String = f"capture_$idx%05d$FileSuffix"

  /** The index a capture starting on `dir` journals to first: one past the
    * highest existing capture file, so a restart after a retention delete
    * never reuses the name of a file that is still there.
    */
  private[sources] def nextCaptureIndex(dir: String, conf: Configuration): Int =
    listFrameFiles(dir, conf).map(_.getPath.getName).collect {
      case CaptureName(i) => i.toInt + 1
    }.maxOption.getOrElse(0)

  private[sources] def listFrameFiles(
      dir: String,
      conf: Configuration = GraftFs.conf()): Array[FileStatus] =
    GraftFs.listBySuffix(dir, FileSuffix, conf)

  /** Byte offset just past the last COMPLETE frame in `file` — the safe
    * consumption boundary for a file that may still be appended to. Walks
    * length prefixes with skips (no payload reads) starting from `from`,
    * which MUST be a known frame boundary (0, or a previously returned
    * boundary — the admission-control path resumes from the checkpointed
    * tail so each trigger walks only the new suffix, not the whole file).
    * The walk is bounded by the file length OBSERVED AT LIST TIME
    * (`st.getLen`), not the stream's moving EOF, so a concurrent append
    * cannot push the boundary past what the planner saw. A corrupt prefix
    * (negative or > [[MaxFrameBytes]]) ends the walk at the last good
    * boundary — never a mis-seek or an EOF throw.
    */
  private[graft] def completeFrameBoundary(
      f: FileSystem, st: FileStatus, from: Long = 0L): Long = {
    val len = st.getLen
    val raw = f.open(st.getPath)
    val in = try { raw.seek(from); new java.io.BufferedInputStream(raw) }
    catch { case e: Throwable => raw.close(); throw e }
    try {
      var boundary = from
      var done = false
      while (!done) {
        val frameLen = if (boundary + 4 > len) NoFrame else readLength(in)
        if (frameLen < 0 || boundary + 4 + frameLen > len) done = true
        else {
          in.skipNBytes(frameLen)
          boundary += 4 + frameLen
        }
      }
      boundary
    } finally in.close()
  }

  /** Capture-side writer (ingest/test fixture, not the query hot path):
    * one length-prefixed frame file.
    */
  def writeFrameFile(file: java.io.File, frames: Seq[Array[Byte]]): Unit =
    writeFrames(new Path(file.toURI), frames, append = false, GraftFs.conf())

  /** Capture-side APPEND to the active file (live-feed fixture). */
  def appendFrameFile(file: java.io.File, frames: Seq[Array[Byte]]): Unit =
    writeFrames(new Path(file.toURI), frames, append = true, GraftFs.conf())

  private[sources] def writeFrames(
      path: Path, frames: Seq[Array[Byte]], append: Boolean, conf: Configuration): Unit = {
    val f = GraftFs.fs(path, conf)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      if (append && f.exists(path)) f.append(path) else f.create(path, true)))
    try frames.foreach(writeFrame(out, _))
    finally out.close()
  }
}

class SbeFrameSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sbe-frames"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SbeFrameSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("sbe-frames requires a path (load(dir))"))
    new SbeFrameTable(path)
  }
}

class SbeFrameTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"sbe-frames:$path"
  override def schema(): StructType = SbeFrameSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    new ScanBuilder {
      override def build(): Scan = new SbeFrameScan(path, maxFiles)
    }
  }
}

class SbeFrameScan(path: String, maxFilesPerTrigger: Option[Int]) extends Scan {
  // Captured ONCE on the driver while the session is on this thread; tasks
  // get it via the reader factory's broadcast, made once per scan.
  private val conf = GraftFs.conf()
  private lazy val confBc = GraftFs.broadcastConf(conf)
  override def readSchema(): StructType = SbeFrameSource.Schema
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      SbeFrameSource.listFrameFiles(path, conf)
        .map(st => SbeFramePartition(st.getPath.toString, 0L, -1L): InputPartition)
    override def createReaderFactory(): PartitionReaderFactory = SbeFrameReaderFactory(confBc)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SbeFrameMicroBatchStream(path, maxFilesPerTrigger, conf)
}

/** Every file named lexicographically BEFORE `file` is fully consumed,
  * plus `tailBytes` of `file` itself ("" = nothing consumed). NAME-anchored,
  * not index-counted, so deleting already-consumed capture files
  * (retention) cannot shift the mapping and corrupt replay.
  */
case class SbeFrameOffset(file: String, tailBytes: Long) extends Offset {
  override def json(): String = s"""{"file":"$file","tailBytes":$tailBytes}"""
}

/** Admission control (`maxFilesPerTrigger`) bounds each micro-batch like
  * the reference's fixed-size poll loop (`kinesis_consumer.py:113-143`
  * polls bounded record batches per shard iteration) — a catch-up after
  * downtime becomes N bounded batches instead of one giant one.
  */
class SbeFrameMicroBatchStream(
    path: String,
    maxFilesPerTrigger: Option[Int],
    conf: Configuration = GraftFs.conf())
    extends MicroBatchStream with SupportsAdmissionControl {

  // one broadcast for the stream's lifetime, not one per micro-batch
  private lazy val confBc = GraftFs.broadcastConf(conf)

  override def initialOffset(): Offset = SbeFrameOffset("", 0L)

  /** `resume`: when the start offset already tails the ACTIVE file, the
    * boundary walk continues from its checkpointed tail instead of byte 0 —
    * per-trigger cost is O(new frames), not O(file).
    */
  private def available(resume: Option[SbeFrameOffset]): SbeFrameOffset = {
    val files = SbeFrameSource.listFrameFiles(path, conf)
    if (files.isEmpty) SbeFrameOffset("", 0L)
    else {
      val active = files.last
      val from = resume
        .filter(_.file == active.getPath.getName).map(_.tailBytes).getOrElse(0L)
      val f = GraftFs.fs(active.getPath, conf)
      SbeFrameOffset(
        active.getPath.getName,
        SbeFrameSource.completeFrameBoundary(f, active, from))
    }
  }

  override def latestOffset(): Offset = available(None)
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SbeFrameOffset]
    val avail = available(Some(from))
    limit match {
      case m: ReadMaxFiles =>
        // a capped batch always ends on a complete-file boundary (tail 0 of
        // the file AFTER the admitted ones); the active file's tail is
        // consumed by a later trigger once all complete files are behind
        // the offset. `pending` counts from the partially-consumed start
        // file itself, matching the index-based semantics this replaces.
        val names = SbeFrameSource.listFrameFiles(path, conf).map(_.getPath.getName)
        val pending =
          if (from.file.isEmpty) names.toSeq else names.filter(_ >= from.file).toSeq
        if (m.maxFiles() < pending.length) SbeFrameOffset(pending(m.maxFiles()), 0L)
        else avail
      case _ => avail
    }
  }
  /** `{"file":name,"tailBytes":M}`. Anything else — the index-counted
    * `{"files":N,"tailBytes":M}` of early checkpoints included — fails the
    * restart loudly instead of decoding to the empty offset and replanning
    * every consumed file (duplicate ingestion downstream); an index is only
    * meaningful against the listing it was recorded under, which a
    * retention delete shifts.
    */
  override def deserializeOffset(json: String): Offset = {
    val fileRe = """\"file\":\"([^\"]*)\"""".r
    val tailRe = """\"tailBytes\":(-?\d+)""".r
    val tail = tailRe.findFirstMatchIn(json).map(_.group(1).toLong)
    fileRe.findFirstMatchIn(json).map(m => SbeFrameOffset(m.group(1), tail.getOrElse(0L)))
      .getOrElse(throw new IllegalArgumentException(
        s"sbe-frames: unrecognized offset JSON: $json"))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SbeFrameOffset]
    val e = end.asInstanceOf[SbeFrameOffset]
    val files = SbeFrameSource.listFrameFiles(path, conf)
    def pathOf(name: String): Option[String] =
      files.find(_.getPath.getName == name).map(_.getPath.toString)
    val parts = Seq.newBuilder[InputPartition]
    if (s.file == e.file) {
      if (e.tailBytes > s.tailBytes)
        pathOf(s.file).foreach(p => parts += SbeFramePartition(p, s.tailBytes, e.tailBytes))
    } else {
      // the rest of the file the start offset was tailing (now frozen)
      pathOf(s.file).foreach(p => parts += SbeFramePartition(p, s.tailBytes, -1L))
      // fully-consumed files in between (by NAME, immune to deletions)
      files.filter(st => st.getPath.getName > s.file && st.getPath.getName < e.file)
        .foreach(st => parts += SbeFramePartition(st.getPath.toString, 0L, -1L))
      // the new active file's complete prefix
      if (e.tailBytes > 0)
        pathOf(e.file).foreach(p => parts += SbeFramePartition(p, 0L, e.tailBytes))
    }
    parts.result().toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = SbeFrameReaderFactory(confBc)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Byte range [fromByte, untilByte) of one frame file; untilByte = -1 reads
  * to EOF. Range ends always fall on frame boundaries (planInputPartitions
  * only cuts at boundaries computed by completeFrameBoundary).
  */
case class SbeFramePartition(file: String, fromByte: Long, untilByte: Long)
    extends InputPartition

case class SbeFrameReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SbeFramePartition]
    new PartitionReader[InternalRow] {
      private val path = new Path(p.file)
      private val in = {
        val raw = GraftFs.fs(path, conf.value.value).open(path)
        try raw.seek(p.fromByte)
        catch { case e: Throwable => raw.close(); throw e }
        new java.io.BufferedInputStream(raw)
      }
      private val fileName = UTF8String.fromString(path.getName)
      private var pos = p.fromByte
      private var row: InternalRow = _

      /** False at the end of the range, a corrupt prefix (torn-tail
        * posture) or a truncated tail frame: that is what a live capture's
        * in-flight write looks like, and the frame is re-read complete once
        * the boundary advances (the reference's skip-bad-lines posture, S7).
        */
      override def next(): Boolean = {
        row = null
        if (p.untilByte < 0 || pos < p.untilByte) {
          val len = SbeFrameSource.readLength(in)
          if (len >= 0) {
            val frame = new Array[Byte](len)
            if (in.readNBytes(frame, 0, len) == len) {
              row = InternalRow(frame, fileName, pos)
              pos += 4 + len
            }
          }
        }
        row != null
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}
