package graft.sources

import java.io.DataOutputStream
import java.net.Socket
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path

/** One upstream feed: its next complete frame, or None at a clean end (a
  * cut mid-frame included: a partial frame is never journaled).
  */
trait FrameTransport extends AutoCloseable {
  def nextFrame(): Option[Array[Byte]]
}

/** Live feed → rolling capture journal: the receiver half of the
  * reference's WS/Kinesis consumers (`services/sbe_ingestor`,
  * `services/kinesis_*` — connect, frame, persist), re-expressed as the
  * standard log-consumer shape: an UNREPLAYABLE network stream is durably
  * journaled into rolling length-prefixed `.sbef` files, and the
  * checkpointable [[SbeFrameSource]] stream tails that journal with
  * (file, offset) replay. Receive → append to log → consume by offset is
  * exactly the Kafka/Kinesis pattern; the journal is the topic, file names
  * are the partition's increasing offsets, and reconnect = replay from the
  * checkpointed boundary. A receiver starts one past the highest existing
  * capture file and never overwrites one.
  *
  * Durability invariant: only COMPLETE frames are journaled, so a
  * connection cut mid-frame can never leave a torn record for the tailing
  * source — the source's own complete-frame boundary walk then makes the
  * pipeline end-to-end at-least-once with no partial reads.
  *
  * Scale shape: one receiver per upstream connection (shard/socket), each
  * journaling its own directory; Spark tails the directories with per-file
  * parallelism. The receiver itself is ingest infra (driver/edge side), not
  * a query-path operator.
  */
abstract class FrameReceiver(
    dir: String,
    rollBytes: Long,
    flushEveryFrames: Int,
    threadName: String,
    transport: FrameTransport) extends AutoCloseable {

  private val framesJournaled = new AtomicLong(0)
  @volatile private var failure: Option[Throwable] = None
  @volatile private var failureObserved = false
  @volatile private var closing = false
  // Captured on the constructing thread (where a Spark session, if any,
  // is registered); the receiver thread must not re-resolve it.
  private val hadoopConf = GraftFs.conf()

  private val thread = new Thread(() => run(), threadName)
  thread.setDaemon(true)
  thread.start()

  private def run(): Unit = {
    var fileIdx = SbeFrameSource.nextCaptureIndex(dir, hadoopConf)
    var out: DataOutputStream = null
    var written = 0L
    var sinceFlush = 0
    def roll(): Unit = {
      if (out != null) out.close()
      // Journal files are written via the Hadoop FS API (file:/hdfs:; an
      // object store without flush-visibility would journal closed rolls
      // only — set rollBytes small there). The per-frame flush pushes
      // complete frames toward the tailing source's boundary walk.
      val p = new Path(dir, SbeFrameSource.captureFileName(fileIdx))
      val f = GraftFs.fs(p, hadoopConf)
      f.mkdirs(p.getParent)
      out = new DataOutputStream(new java.io.BufferedOutputStream(f.create(p, false)))
      fileIdx += 1
      written = 0L
    }
    try {
      roll()
      var frame = transport.nextFrame()
      while (frame.isDefined) {
        written += SbeFrameSource.writeFrame(out, frame.get)
        framesJournaled.incrementAndGet()
        sinceFlush += 1
        if (sinceFlush >= flushEveryFrames) { out.flush(); sinceFlush = 0 }
        if (written >= rollBytes) roll()
        frame = transport.nextFrame()
      }
    } catch {
      case _: java.net.SocketException if closing => ()
      case e: Throwable => failure = Some(e)
    } finally {
      if (out != null) out.close()
      transport.close()
    }
  }

  /** Frames fully received AND journaled so far. */
  def journaledCount: Long = framesJournaled.get()

  /** Re-throws an unexpected receiver failure (nothing after a clean end). */
  def checkFailure(): Unit = failure.foreach { e => failureObserved = true; throw e }

  /** Blocks until the feed ends and the journal is fully flushed. */
  def awaitCompletion(timeoutMs: Long = 30000): Unit = {
    thread.join(timeoutMs)
    require(!thread.isAlive, s"capture still draining after ${timeoutMs}ms")
    checkFailure()
  }

  /** Closes the connection and joins the receiver thread. A failure the
    * caller never saw (via [[checkFailure]]/[[awaitCompletion]]) is rethrown
    * here, once; a `SocketException` after this call is a clean stop. A
    * thread still alive after the join only warns: close() usually runs in
    * a `finally`, where throwing for slowness would mask the primary error.
    * Hold a capture with `scala.util.Using.resource`, which attaches a
    * close() failure to a primary exception as suppressed instead of
    * replacing it.
    */
  override def close(): Unit = {
    closing = true
    transport.close()
    thread.join(5000)
    if (thread.isAlive)
      System.err.println(s"[FrameReceiver] WARNING: capture thread ${thread.getName} " +
        "still running 5s after close; journal tail may be unflushed")
    if (!failureObserved) checkFailure()
  }
}

/** A live TCP feed in the journal's own frame layout. The wire length prefix
  * is untrusted: one outside [0, MaxFrameBytes] is a framing error, never an
  * allocation crash inside the receiver.
  */
final class SocketCapture(
    host: String,
    port: Int,
    dir: String,
    rollBytes: Long = 64L << 20,
    flushEveryFrames: Int = 1)
  extends FrameReceiver(
    dir, rollBytes, flushEveryFrames, s"socket-capture-$host:$port",
    SocketCapture.transport(host, port))

object SocketCapture {
  private def transport(host: String, port: Int): FrameTransport = new FrameTransport {
    private val socket = new Socket(host, port)
    private val in = new java.io.BufferedInputStream(socket.getInputStream)

    override def nextFrame(): Option[Array[Byte]] = SbeFrameSource.readLength(in) match {
      case SbeFrameSource.NoFrame => None
      case SbeFrameSource.CorruptLength =>
        throw new java.io.StreamCorruptedException(
          s"framing error: length prefix outside [0, ${SbeFrameSource.MaxFrameBytes}]")
      case len =>
        val frame = new Array[Byte](len)
        if (in.readNBytes(frame, 0, len) == len) Some(frame) else None
    }

    override def close(): Unit = socket.close()
  }
}
