package graft

import java.io.DataOutputStream
import java.net.ServerSocket

import org.apache.spark.sql.functions._

import graft.functions.Sbe
import graft.sources.{SbeFrameSource, SocketCapture}

/** [[graft.sources.SocketCapture]]: live socket → rolling journal →
  * checkpointable `sbe-frames` source — the S5 consumer pattern end-to-end
  * over a REAL network stream, not a pre-written file analog.
  */
class SocketCaptureSpec extends SparkSpec {
  import spark.implicits._

  /** Serve `frames` length-prefixed on an ephemeral port; returns (port,
    * server thread). `truncateTail` cuts the connection mid-frame after the
    * complete frames to simulate a dropped connection.
    */
  private def serve(frames: Seq[Array[Byte]], truncateTail: Boolean = false): (Int, Thread) = {
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val sock = server.accept()
      val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      if (truncateTail) {
        out.writeInt(100) // promises 100 bytes...
        out.write(Array[Byte](1, 2, 3)) // ...delivers 3, then the line drops
      }
      out.flush()
      sock.close()
      server.close()
    }, "frame-server")
    t.setDaemon(true)
    t.start()
    (server.getLocalPort, t)
  }

  private def tradeFrames(n: Int): Seq[Array[Byte]] =
    Tables.trades(spark, sf).filter(col("trade_id") < n)
      .select(Sbe.encodeTrade(
        col("ts_ms") * 1000L, col("trade_id"),
        round(col("price") * 100).cast("long"), lit(-2),
        col("qty") > 50, upper(col("symbol"))).as("frame"))
      .orderBy("trade_id").collect().map(_.getAs[Array[Byte]]("frame")).toSeq

  test("socket feed journals to rolling files and reads back through the source") {
    val frames = tradeFrames(300)
    val dir = java.nio.file.Files.createTempDirectory("graft_sockcap_").toFile
    val (port, _) = serve(frames)
    val cap = new SocketCapture("localhost", port, dir.toString, rollBytes = 4096)
    cap.awaitCompletion()
    assert(cap.journaledCount === frames.size)
    // the journal rolled: many small files, not one blob
    assert(dir.listFiles(
      (_, n) => n.endsWith(SbeFrameSource.FileSuffix)).length > 1)
    // read back through the DSv2 source + codegen decode: ids are exactly 0..299
    val ids = spark.read.format("sbe-frames").load(dir.toString)
      .select(Sbe.decodeTrade(col("frame")).getField("trade_id").as("id"))
      .as[Long].collect().sorted
    assert(ids.toSeq === (0L until 300L))
  }

  test("connection cut mid-frame journals only complete frames") {
    val frames = tradeFrames(50)
    val dir = java.nio.file.Files.createTempDirectory("graft_sockcap_cut_").toFile
    val (port, _) = serve(frames, truncateTail = true)
    val cap = new SocketCapture("localhost", port, dir.toString)
    cap.awaitCompletion()
    assert(cap.journaledCount === frames.size) // the torn 51st never lands
    val n = spark.read.format("sbe-frames").load(dir.toString)
      .filter(Sbe.decodeTrade(col("frame")).isNotNull).count()
    assert(n === frames.size)
  }

  /** Serves one ~2 GB length claim and closes; returns the port. */
  private def serveCorruptPrefix(): Int = {
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val sock = server.accept()
      val out = new DataOutputStream(sock.getOutputStream)
      out.writeInt(0x7FFFFFF0) // ~2 GB claim: must be rejected before allocation
      out.flush(); sock.close(); server.close()
    }, "corrupt-server")
    t.setDaemon(true); t.start()
    server.getLocalPort
  }

  test("corrupt length prefix is a framing error, not an allocation crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sockcap_corrupt_").toFile
    val cap = new SocketCapture("localhost", serveCorruptPrefix(), dir.toString)
    val e = intercept[java.io.StreamCorruptedException](cap.awaitCompletion())
    assert(e.getMessage.contains("framing error"))
    assert(cap.journaledCount === 0)
    cap.close() // the failure was seen once; close does not rethrow it
  }

  test("close() rethrows a receiver failure the caller never saw") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sockcap_close_").toFile
    val port = serveCorruptPrefix()
    val cap = new SocketCapture("localhost", port, dir.toString)
    // wait for the receiver thread to die on the prefix without asking the
    // capture (awaitCompletion/checkFailure would observe the failure)
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == s"socket-capture-localhost:$port").foreach(_.join(30000))
    intercept[java.io.StreamCorruptedException](cap.close())
  }

  test("a restart after a retention delete resumes past the highest file") {
    // capture_00000 is gone (retention), 00001 and 00002 remain: a capture
    // numbering by file COUNT would reopen capture_00002 and truncate it
    val dir = java.nio.file.Files.createTempDirectory("graft_sockcap_retention_").toFile
    val frames = tradeFrames(60)
    SbeFrameSource.writeFrameFile(
      new java.io.File(dir, SbeFrameSource.captureFileName(1)), frames.take(20))
    SbeFrameSource.writeFrameFile(
      new java.io.File(dir, SbeFrameSource.captureFileName(2)), frames.slice(20, 40))
    val (port, _) = serve(frames.drop(40))
    val cap = new SocketCapture("localhost", port, dir.toString)
    cap.awaitCompletion()
    assert(cap.journaledCount === 20)
    val ids = spark.read.format("sbe-frames").load(dir.toString)
      .select(Sbe.decodeTrade(col("frame")).getField("trade_id").as("id"))
      .as[Long].collect().sorted
    assert(ids.toSeq === (0L until 60L))
    assert(new java.io.File(dir, SbeFrameSource.captureFileName(3)).exists())
  }

  test("a second capture resumes file numbering instead of clobbering") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sockcap_resume_").toFile
    val first = tradeFrames(40).take(20)
    val second = tradeFrames(40).drop(20)
    for (batch <- Seq(first, second)) {
      val (port, _) = serve(batch)
      val cap = new SocketCapture("localhost", port, dir.toString, rollBytes = 2048)
      cap.awaitCompletion()
    }
    val ids = spark.read.format("sbe-frames").load(dir.toString)
      .select(Sbe.decodeTrade(col("frame")).getField("trade_id").as("id"))
      .as[Long].collect().sorted
    assert(ids.toSeq === (0L until 40L))
  }
}
