package graft.sources

import java.io.{ByteArrayOutputStream, EOFException, IOException}
import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Live network poll functions for [[PollingSource]] — the `java.net`
  * half of the reference's TCP/UDP device sources. The reference drives
  * devices with an asyncio request/reply conversation per tick
  * (`TCPSource.read`, cerebro/sources/source.py:208-229; thermistors UDP,
  * lvm.py:383-426); here each device conversation is a plain blocking
  * `() => Seq[String]` closure run on the driver-side poller thread —
  * single-connection devices serialize at the socket anyway, so blocking
  * I/O on one daemon thread per source is the honest shape.
  *
  * Failure contract: any I/O error closes the connection and rethrows;
  * the [[Supervised]] loop applies [[Backoff]] and the next poll
  * reconnects lazily — the Spark form of the reference's
  * `AsyncSocketHandler` retry loop (cerebro/protocols.py).
  */
object NetPoll {

  /** Persistent-connection TCP request/reply poll: connect lazily, write
    * `request`, scan the reply byte-by-byte until `terminator` (read
    * timeout `timeoutMs`, 5 s like the reference's
    * `asyncio.wait_for(..., timeout=5)`, lvm.py:66-67 / 147-148).
    *
    * The byte-at-a-time scan is deliberate: replies are tens of bytes and
    * the connection persists across polls, so nothing may be buffered past
    * the terminator or the next tick's reply gets eaten.
    *
    * A newline terminator is stripped from the returned reply (parsers see
    * `"?"`, not `"?\n"` — govee, lvm.py:66-72); any other terminator (the
    * sens4 `'\'`, lvm.py:146-148) is kept because the parse regex anchors
    * on it. Call `close()` to drop the connection when stopping the source.
    */
  final class TcpPollFn(
      host: String,
      port: Int,
      request: Array[Byte],
      terminator: Byte,
      timeoutMs: Int,
      connectTimeoutMs: Int) extends (() => Seq[String]) with AutoCloseable {

    private var socket: Socket = null

    private def connected(): Socket = {
      if (socket == null || socket.isClosed) {
        val s = new Socket()
        s.connect(new InetSocketAddress(host, port), connectTimeoutMs)
        s.setSoTimeout(timeoutMs)
        socket = s
      }
      socket
    }

    def apply(): Seq[String] = {
      val s = connected()
      try {
        val out = s.getOutputStream
        out.write(request)
        out.flush()
        val in = s.getInputStream
        val buf = new ByteArrayOutputStream(64)
        var b = in.read()
        while (b != -1 && b.toByte != terminator) {
          buf.write(b)
          b = in.read()
        }
        if (b == -1) {
          // Peer closed: a partial frame is not a reply. Reconnect next tick.
          close()
          throw new EOFException(s"$host:$port closed before terminator")
        }
        if (terminator != '\n'.toByte) buf.write(terminator.toInt)
        Seq(new String(buf.toByteArray, UTF_8).replaceAll("[\r\n]+$", ""))
      } catch {
        case e: IOException => close(); throw e
      }
    }

    def close(): Unit = {
      if (socket != null) {
        try socket.close() catch { case _: IOException => () }
        socket = null
      }
    }
  }

  /** Generic TCP poll fn; see [[TcpPollFn]]. */
  def tcpPoll(host: String, port: Int, request: String,
      terminator: Byte = '\n', timeoutMs: Int = 5000,
      connectTimeoutMs: Int = 5000): TcpPollFn =
    new TcpPollFn(host, port, request.getBytes(UTF_8), terminator,
      timeoutMs, connectTimeoutMs)

  /** S3 — govee conversation (lvm.py:56-67): `"status <ADDR>\n"` →
    * one newline-terminated line. Compose with [[Parsers.govee]]. */
  def goveePoll(host: String, port: Int, address: String,
      timeoutMs: Int = 5000): TcpPollFn =
    tcpPoll(host, port, s"status ${address.toUpperCase}\n", '\n', timeoutMs)

  /** S4 — sens4 conversation (lvm.py:144-148): `"@{id}Q?\"` → reply
    * terminated by `'\'`. Compose with [[Parsers.sens4]]. */
  def sens4Poll(host: String, port: Int, deviceId: Int,
      timeoutMs: Int = 5000): TcpPollFn =
    tcpPoll(host, port, s"@${deviceId}Q?\\", '\\', timeoutMs)

  /** S5 — LN2 scale conversation (lvm.py:212-224): `"~*P*~\n"` → one
    * line carrying `"... <weight> lb ..."`. Compose with
    * [[Parsers.ln2Scale]]. */
  def ln2ScalePoll(host: String, port: Int, timeoutMs: Int = 5000): TcpPollFn =
    tcpPoll(host, port, "~*P*~\n", '\n', timeoutMs)

  /** One-shot UDP request/reply poll: fresh socket per tick (the
    * reference recreates the asyncudp socket every iteration,
    * lvm.py:383-389), send `request`, one datagram back within
    * `timeoutMs` (10 s per lvm.py:382-390). */
  def udpPoll(host: String, port: Int, request: Array[Byte],
      timeoutMs: Int = 10000, maxPacket: Int = 2048): () => Seq[String] = () => {
    val socket = new DatagramSocket()
    try {
      socket.setSoTimeout(timeoutMs)
      val addr = InetAddress.getByName(host)
      socket.send(new DatagramPacket(request, request.length, addr, port))
      val buf = new Array[Byte](maxPacket)
      val packet = new DatagramPacket(buf, buf.length)
      socket.receive(packet)
      // Strip the CR/LF tail: a raw `\r` would split the spool line (both
      // the text source and the spool regex treat CR as a line break), and
      // the parser regex accepts the bare mask (`\r?$`).
      Seq(new String(packet.getData, packet.getOffset, packet.getLength, UTF_8)
        .replaceAll("[\r\n]+$", ""))
    } finally socket.close()
  }

  /** S7 — ADAM-6251 thermistor conversation (lvm.py:383-400):
    * `"$016\r\n"` → `!01<HEX>\r` datagram. Compose with
    * [[Parsers.thermistors]]. */
  def thermistorPoll(host: String, port: Int = 1025,
      timeoutMs: Int = 10000): () => Seq[String] =
    udpPoll(host, port, "$016\r\n".getBytes(UTF_8), timeoutMs)
}
