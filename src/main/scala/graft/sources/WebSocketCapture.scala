package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** RFC 6455 WebSocket client — the transport under the reference's Binance
  * SBE ingest (`services/sbe_ingestor/src/binance_sbe.py:140-191` opens a
  * WSS stream and consumes binary SBE frames). This implements the
  * PROTOCOL half from the spec with zero dependencies: opening handshake
  * (Sec-WebSocket-Key/-Accept with the RFC's GUID), frame parsing (7/16/
  * 64-bit payload lengths, FIN/opcode, continuation reassembly), control
  * frames (ping answered with pong, close echoed), and client-side masking
  * as the RFC REQUIRES for client→server frames. The TLS layer under `wss:`
  * is deliberately out of scope (vendor PKI infra, same boundary as the
  * boto3/Kinesis row) — the protocol state machine is identical over `ws:`,
  * which is what the local fixture exercises.
  *
  * Strictness notes (each a real-feed failure mode, failed loudly):
  *   - a non-101 response or a wrong `Sec-WebSocket-Accept` aborts — a
  *     proxy speaking plain HTTP must not be mistaken for a feed;
  *   - a MASKED server frame aborts (RFC 6455 §5.1: servers must not mask);
  *   - a control frame over 125 bytes or a fragmented control frame aborts;
  *   - payloads above `maxMessageBytes` abort before allocation (untrusted
  *     wire length, same guard as [[SocketCapture]]; the default is the
  *     journal's own bound, [[SbeFrameSource.MaxFrameBytes]]).
  *
  * `wss:` = the same state machine over a TLS socket: pass
  * `SSLContext.getDefault.getSocketFactory` (or a pinned-trust context) as
  * `socketFactory` — JSSE handshakes before the first HTTP byte, nothing
  * else changes. Spec-proven against a live TLS fixture with a
  * test-generated certificate.
  */
final class WsClient(
    host: String,
    port: Int,
    path: String = "/",
    maxMessageBytes: Int = SbeFrameSource.MaxFrameBytes,
    socketFactory: javax.net.SocketFactory = javax.net.SocketFactory.getDefault)
  extends AutoCloseable {

  private val socket: Socket = socketFactory.createSocket(host, port)
  private val in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
  private val rnd = new java.security.SecureRandom()
  @volatile private var closeSent = false

  // a refused handshake throws out of the CONSTRUCTOR — the caller never
  // receives a reference to close(), so the connected socket must not
  // outlive the failure (a reconnect loop against a misconfigured endpoint
  // would otherwise leak one fd per attempt)
  try handshake()
  catch { case e: Throwable => socket.close(); throw e }

  private def handshake(): Unit = {
    val keyBytes = new Array[Byte](16)
    rnd.nextBytes(keyBytes)
    val key = java.util.Base64.getEncoder.encodeToString(keyBytes)
    val req =
      s"GET $path HTTP/1.1\r\n" +
        s"Host: $host:$port\r\n" +
        "Upgrade: websocket\r\n" +
        "Connection: Upgrade\r\n" +
        s"Sec-WebSocket-Key: $key\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n"
    out.write(req.getBytes(StandardCharsets.ISO_8859_1))
    out.flush()
    val (status, headers) = readHttpResponse()
    if (!status.startsWith("HTTP/1.1 101"))
      throw new java.io.IOException(s"websocket handshake refused: $status")
    val expected = WsClient.acceptKeyFor(key)
    val got = headers.getOrElse("sec-websocket-accept", "")
    if (got != expected)
      throw new java.io.IOException(
        s"Sec-WebSocket-Accept mismatch: got '$got', expected '$expected' — " +
          "peer is not a compliant websocket endpoint")
  }

  private def readHttpResponse(): (String, Map[String, String]) = {
    def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
      if (c == -1 && sb.isEmpty) throw new EOFException("connection closed during handshake")
      sb.toString
    }
    val status = readLine()
    val headers = Iterator.continually(readLine()).takeWhile(_.nonEmpty).map { l =>
      val i = l.indexOf(':')
      if (i < 0) l.toLowerCase(java.util.Locale.ROOT) -> ""
      else l.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT) -> l.substring(i + 1).trim
    }.toMap
    (status, headers)
  }

  private def readExact(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); in.readFully(b); b
  }

  /** One wire frame: (fin, opcode, payload). */
  private def readFrame(): (Boolean, Int, Array[Byte]) = {
    val b0 = in.readUnsignedByte()
    val b1 = in.readUnsignedByte()
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0f
    val masked = (b1 & 0x80) != 0
    if (masked)
      throw new java.io.StreamCorruptedException(
        "masked server frame (RFC 6455 §5.1 forbids server masking)")
    val len7 = b1 & 0x7f
    val len: Long =
      if (len7 <= 125) len7
      else if (len7 == 126) ((in.readUnsignedByte() << 8) | in.readUnsignedByte()).toLong
      else in.readLong()
    if (opcode >= 8 && (len > 125 || !fin))
      throw new java.io.StreamCorruptedException(
        s"invalid control frame: opcode=$opcode len=$len fin=$fin")
    if (len < 0 || len > maxMessageBytes)
      throw new java.io.StreamCorruptedException(
        s"frame length $len outside [0, $maxMessageBytes]")
    (fin, opcode, readExact(len.toInt))
  }

  private def writeFrame(opcode: Int, payload: Array[Byte]): Unit = synchronized {
    val mask = new Array[Byte](4)
    rnd.nextBytes(mask)
    out.write(0x80 | opcode) // FIN always set: no outbound fragmentation
    val n = payload.length
    if (n <= 125) out.write(0x80 | n)
    else if (n <= 0xffff) { out.write(0x80 | 126); out.writeShort(n) }
    else { out.write(0x80 | 127); out.writeLong(n.toLong) }
    out.write(mask)
    val m = payload.clone()
    var i = 0
    while (i < m.length) { m(i) = (m(i) ^ mask(i & 3)).toByte; i += 1 }
    out.write(m)
    out.flush()
  }

  /** Send one BINARY message (masked, unfragmented). */
  def sendBinary(payload: Array[Byte]): Unit = writeFrame(2, payload)

  /** Next DATA message (opcode, full reassembled payload), answering pings
    * and echoing the close handshake transparently; None after close/EOF.
    * `maxMessageBytes` bounds the REASSEMBLED total, not just each frame:
    * an endless stream of non-FIN continuations must not grow `acc` past
    * the same ceiling a single oversized frame would hit.
    */
  def readMessage(): Option[(Int, Array[Byte])] = {
    var msgOpcode = -1
    val acc = new java.io.ByteArrayOutputStream()
    def accumulate(payload: Array[Byte]): Unit = {
      if (acc.size().toLong + payload.length > maxMessageBytes)
        throw new java.io.StreamCorruptedException(
          s"reassembled message exceeds $maxMessageBytes bytes across continuation frames")
      acc.write(payload)
    }
    try {
      while (true) {
        val (fin, opcode, payload) = readFrame()
        opcode match {
          case 9 => writeFrame(10, payload) // ping → pong, same payload
          case 10 => () // unsolicited pong: ignore
          case 8 => // close: echo once, then report end-of-stream
            if (!closeSent) { writeFrame(8, payload); closeSent = true }
            return None
          case 0 =>
            if (msgOpcode < 0)
              throw new java.io.StreamCorruptedException("continuation without a message")
            accumulate(payload)
            if (fin) return Some((msgOpcode, acc.toByteArray))
          case 1 | 2 =>
            if (msgOpcode >= 0)
              throw new java.io.StreamCorruptedException("new data frame inside a fragmented message")
            if (fin) return Some((opcode, payload))
            msgOpcode = opcode
            accumulate(payload)
          case other =>
            throw new java.io.StreamCorruptedException(s"unknown opcode $other")
        }
      }
      None // unreachable
    } catch {
      case _: EOFException => None
    }
  }

  override def close(): Unit = {
    try { if (!closeSent) { writeFrame(8, Array.emptyByteArray); closeSent = true } }
    catch { case _: java.io.IOException => () }
    socket.close()
  }
}

object WsClient {
  /** RFC 6455 §4.2.2: accept = base64(sha1(key + GUID)). */
  def acceptKeyFor(secWebSocketKey: String): String = {
    val magic = secWebSocketKey + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
      .digest(magic.getBytes(StandardCharsets.ISO_8859_1))
    java.util.Base64.getEncoder.encodeToString(sha1)
  }
}

/** A live WebSocket feed journaled by a [[FrameReceiver]]: the same
  * invariants as [[SocketCapture]] over the real WS transport instead of a
  * raw TCP length stream — binary messages ARE the frames, exactly how the
  * reference's ingestor consumes Binance SBE (`binance_sbe.py:140-191`: one
  * binary WS message = one SBE frame). Control traffic (ping/pong, close)
  * is handled inside [[WsClient]] and never reaches the journal; text
  * messages (feed metadata on real feeds) are skipped.
  */
final class WebSocketCapture(
    host: String,
    port: Int,
    path: String,
    dir: String,
    rollBytes: Long = 64L << 20,
    flushEveryFrames: Int = 1,
    socketFactory: javax.net.SocketFactory = javax.net.SocketFactory.getDefault)
  extends FrameReceiver(
    dir, rollBytes, flushEveryFrames, s"ws-capture-$host:$port$path",
    WebSocketCapture.transport(new WsClient(host, port, path, socketFactory = socketFactory)))

object WebSocketCapture {
  private def transport(client: WsClient): FrameTransport = new FrameTransport {
    override def nextFrame(): Option[Array[Byte]] = {
      var msg = client.readMessage()
      while (msg.exists(_._1 != 2)) msg = client.readMessage()
      msg.map(_._2)
    }

    override def close(): Unit = client.close()
  }
}
