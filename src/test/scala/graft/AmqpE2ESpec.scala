package graft

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import graft.control.EngineConfig.SourceConf
import graft.sources.{AmqpPushSource, AmqpWire, Parsers}

/** In-process AMQP 0-9-1 broker: serves the server side of the exact
  * conversation [[AmqpWire.AmqpConnection]] speaks — protocol header,
  * start/start-ok (PLAIN response VERIFIED against the configured
  * credentials), tune/tune-ok, connection+channel open, topic exchange
  * declare, server-named queue declare/bind, no-ack consume — then
  * delivers test messages (multi-frame bodies supported) and records
  * client publishes. Framing is hand-rolled here, independent of the
  * client codec, so an encode bug cannot mirror itself green. */
final class LoopbackAmqpBroker(user: String, password: String) {
  val published = new ConcurrentLinkedQueue[(String, String)]
  val bindings = new ConcurrentLinkedQueue[(String, String)]
  @volatile private var server = new ServerSocket(0)
  private val consumers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataOutputStream]()
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  def port: Int = server.getLocalPort
  def hasConsumer: Boolean = !consumers.isEmpty

  // ---- server-side framing (independent of AmqpWire's codec) ----------
  private def sstr(s: String): Array[Byte] =
    s.getBytes(UTF_8).length.toByte +: s.getBytes(UTF_8)
  private def lstr(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    java.nio.ByteBuffer.allocate(4).putInt(b.length).array() ++ b
  }
  private def frame(out: DataOutputStream, t: Int, ch: Int, payload: Array[Byte]): Unit =
    out.synchronized {
      out.writeByte(t); out.writeShort(ch); out.writeInt(payload.length)
      out.write(payload); out.writeByte(0xce); out.flush()
    }
  private def meth(cls: Int, m: Int, args: Array[Byte]*): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    val d = new DataOutputStream(b)
    d.writeShort(cls); d.writeShort(m); args.foreach(d.write)
    b.toByteArray
  }
  private final class R(p: Array[Byte]) {
    var pos = 0
    def u8(): Int = { val v = p(pos) & 0xff; pos += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = (0 until 4).foldLeft(0L)((a, _) => (a << 8) | u8())
    def u64(): Long = (0 until 8).foldLeft(0L)((a, _) => (a << 8) | u8())
    def ss(): String = { val n = u8(); val s = new String(p, pos, n, UTF_8); pos += n; s }
    def ls(): String = { val n = u32().toInt; val s = new String(p, pos, n, UTF_8); pos += n; s }
    def table(): Unit = { val n = u32().toInt; pos += n }
  }
  private def readFrame(in: DataInputStream): (Int, Int, Array[Byte]) = {
    val t = in.readUnsignedByte(); val ch = in.readUnsignedShort()
    val n = in.readInt(); val p = new Array[Byte](n); in.readFully(p)
    if (in.readUnsignedByte() != 0xce) throw new IOException("bad frame end")
    (t, ch, p)
  }

  private def handle(conn: Socket): Unit = {
    val in = new DataInputStream(conn.getInputStream)
    val out = new DataOutputStream(conn.getOutputStream)
    try {
      val hdr = new Array[Byte](8); in.readFully(hdr)
      assert(new String(hdr.take(4), UTF_8) == "AMQP" && hdr(6) == 9 && hdr(7) == 1,
        "protocol header")
      frame(out, 1, 0, meth(10, 10, Array[Byte](0, 9),
        Array[Byte](0, 0, 0, 0), lstr("PLAIN"), lstr("en_US")))
      locally { // start-ok: verify PLAIN credentials byte-exactly
        val (_, _, p) = readFrame(in)
        val r = new R(p)
        assert(r.u16() == 10 && r.u16() == 11, "start-ok expected")
        r.table()
        assert(r.ss() == "PLAIN")
        val nul = 0.toChar
        assert(r.ls() == s"$nul$user$nul$password", "PLAIN response mismatch")
      }
      frame(out, 1, 0, meth(10, 30, Array[Byte](0x07, -1.toByte),
        java.nio.ByteBuffer.allocate(4).putInt(131072).array(), Array[Byte](0, 0)))
      locally { val (_, _, p) = readFrame(in); val r = new R(p)
        assert(r.u16() == 10 && r.u16() == 31, "tune-ok expected") }
      locally { val (_, _, p) = readFrame(in); val r = new R(p)
        assert(r.u16() == 10 && r.u16() == 40, "connection.open expected")
        assert(r.ss() == "/", "vhost") }
      frame(out, 1, 0, meth(10, 41, sstr("")))
      var open = true
      while (open) {
        val (t, ch, p) = readFrame(in)
        if (t == 1) {
          val r = new R(p)
          (r.u16(), r.u16()) match {
            case (20, 10) => frame(out, 1, ch, meth(20, 11, lstr("")))
            case (40, 10) =>
              r.u16(); val ex = r.ss(); val typ = r.ss()
              assert(typ == "topic", s"exchange type $typ")
              frame(out, 1, ch, meth(40, 11))
            case (50, 10) =>
              frame(out, 1, ch, meth(50, 11, sstr("q-loopback"),
                Array[Byte](0, 0, 0, 0), Array[Byte](0, 0, 0, 0)))
            case (50, 20) =>
              r.u16(); val q = r.ss(); val ex = r.ss(); val keyB = r.ss()
              bindings.add((ex, keyB))
              frame(out, 1, ch, meth(50, 21))
            case (60, 20) =>
              frame(out, 1, ch, meth(60, 21, sstr("ctag-1")))
              consumers.add(out)
            case (60, 40) =>
              r.u16(); val ex = r.ss(); val keyP = r.ss()
              val (ht, _, hp) = readFrame(in)
              assert(ht == 2, "content header after publish")
              val hr = new R(hp); hr.u16(); hr.u16()
              val size = hr.u64()
              val body = new ByteArrayOutputStream()
              while (body.size() < size) {
                val (bt, _, bp) = readFrame(in)
                assert(bt == 3, "body frame")
                body.write(bp)
              }
              published.add((keyP, new String(body.toByteArray, UTF_8)))
            case (c, m) => throw new IOException(s"unexpected method $c.$m")
          }
        } // heartbeats ignored
      }
    } catch { case _: IOException | _: EOFException => () } finally {
      consumers.remove(out); conns.remove(conn); conn.close()
    }
  }

  /** Push one message to every live consumer; bodies longer than
    * `frameSplit` are split across multiple body frames. */
  def deliver(routingKey: String, body: String, frameSplit: Int = Int.MaxValue): Unit = {
    val b = body.getBytes(UTF_8)
    consumers.forEach { out =>
      frame(out, 1, 1, meth(60, 60, sstr("ctag-1"),
        Array[Byte](0, 0, 0, 0, 0, 0, 0, 1), Array[Byte](0),
        sstr("amq.topic"), sstr(routingKey)))
      val h = new ByteArrayOutputStream(); val hd = new DataOutputStream(h)
      hd.writeShort(60); hd.writeShort(0); hd.writeLong(b.length.toLong); hd.writeShort(0)
      frame(out, 2, 1, h.toByteArray)
      b.grouped(math.max(1, math.min(frameSplit, b.length).max(1)))
        .foreach(chunk => frame(out, 3, 1, chunk))
    }
  }

  private def serve(s: ServerSocket): Unit =
    try {
      while (!s.isClosed) {
        val c = s.accept(); conns.add(c)
        val t = new Thread(() => handle(c)); t.setDaemon(true); t.start()
      }
    } catch { case _: SocketException => () }

  def start(): Unit = { val t = new Thread(() => serve(server)); t.setDaemon(true); t.start() }
  def stop(): Unit = {
    server.close()
    conns.forEach(c => try c.close() catch { case _: IOException => () })
    conns.clear(); consumers.clear()
  }
  def restart(): Unit = {
    val p = port
    server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new java.net.InetSocketAddress("127.0.0.1", p))
    start()
  }
}

/** S11 live wire: AMQP consume/publish against the loopback broker, the
  * reply parser, and the full config-driven chain with outage + rebind. */
class AmqpE2ESpec extends SparkSpec {
  import spark.implicits._

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  test("client: handshake with verified PLAIN auth, consume, split-frame bodies, publish") {
    val broker = new LoopbackAmqpBroker("guest", "secret"); broker.start()
    val c = new AmqpWire.AmqpConnection("127.0.0.1", broker.port,
      "guest", "secret", "/", timeoutMs = 5000, connectTimeoutMs = 5000)
    try {
      c.connect()
      val q = c.consumeTopic("actor_exchange", "reply.#")
      assert(q == "q-loopback")
      waitFor("consumer registered")(broker.hasConsumer)
      assert(broker.bindings.peek() == ("actor_exchange", "reply.#"))
      broker.deliver("reply.archon", """{"status":{"mod1":{"volts":12.5}}}""")
      assert(c.nextDelivery().contains(AmqpWire.Delivery(
        "reply.archon", """{"status":{"mod1":{"volts":12.5}}}""")))
      // a body split across three body frames reassembles byte-exactly
      val long = """{"k":"""" + "x" * 100 + """"}"""
      broker.deliver("reply.archon", long, frameSplit = 40)
      assert(c.nextDelivery().contains(AmqpWire.Delivery("reply.archon", long)))
      // the command half: basic.publish lands verbatim at the broker
      c.publish("actor_exchange", "command.archon", "status")
      waitFor("publish recorded")(!broker.published.isEmpty)
      assert(broker.published.peek() == ("command.archon", "status"))
    } finally { c.close(); broker.stop() }
  }

  test("randomized round-trip: arbitrary bodies and frame splits survive delivery") {
    // seeded fuzz of the framing pair: multi-byte UTF-8, embedded
    // newlines/tabs, bodies from 0 bytes to several frames — broker
    // packs with its own framing, client reassembles to the byte
    val broker = new LoopbackAmqpBroker("guest", "guest"); broker.start()
    val c = new AmqpWire.AmqpConnection("127.0.0.1", broker.port,
      "guest", "guest", "/", timeoutMs = 5000, connectTimeoutMs = 5000)
    try {
      c.connect(); c.consumeTopic("x", "#")
      waitFor("consumer registered")(broker.hasConsumer)
      val rnd = new scala.util.Random(7)
      // BMP-only: char-level sampling of a surrogate pair would split it
      val alphabet = "ab\t\n{}:\",é漢 0123456789"
      (1 to 40).foreach { i =>
        val body = Seq.fill(rnd.nextInt(200))(
          alphabet(rnd.nextInt(alphabet.length))).mkString
        val split = 1 + rnd.nextInt(64)
        broker.deliver(s"reply.fuzz$i", body, frameSplit = split)
        assert(c.nextDelivery().contains(AmqpWire.Delivery(s"reply.fuzz$i", body)),
          s"case $i (len ${body.length}, split $split)")
      }
    } finally { c.close(); broker.stop() }
  }

  test("amqpReplies: keywords to fields/fields_str, groupers to tags, measurement from key") {
    val body = """{"status":{"temperature":23.5,"power":{"mod1":true}},
                   "controller":"sp1","text":"ok"}"""
    val raw = Seq(
      (s"reply.archon\t${b64(body)}", new java.sql.Timestamp(1700000000000L)))
      .toDF("raw", "recv_time")
    val pts = Parsers.amqpReplies(raw,
      keywords = Seq("status.temperature", "status.power.mod1", "text"),
      groupers = Seq("controller")).collect()
    assert(pts.length == 1)
    val r = pts.head
    assert(r.getString(0) == "archon", "measurement = actor segment after reply.")
    assert(r.getAs[Map[String, String]]("tags") == Map("controller" -> "sp1"))
    assert(r.getAs[Map[String, Double]]("fields") == Map("status.temperature" -> 23.5))
    assert(r.getAs[Map[String, String]]("fields_str") ==
      Map("status.power.mod1" -> "true", "text" -> "ok"))
    assert(r.getAs[String]("bucket") == "actors")
  }

  test("live chain: source -> spool -> points, periodic commands, broker outage + rebind") {
    val broker = new LoopbackAmqpBroker("guest", "guest"); broker.start()
    val spool = java.nio.file.Files.createTempDirectory("graft-amqp-spool-").toString
    val src = AmqpPushSource(SourceConf("lvm_amqp", "amqp", Map(
      "host" -> "127.0.0.1", "port" -> broker.port, "path" -> spool,
      "exchange" -> "actor_exchange", "binding_key" -> "reply.#",
      "keywords" -> Seq("status.temperature"),
      "groupers" -> Seq("controller"),
      "commands" -> Map("archon status" -> 0.2)), Some("actors"), Map.empty))
    val stream = src.stream(spark)
    try {
      waitFor("consumer connects")(broker.hasConsumer)
      // periodic commands flow while consuming (send-then-sleep: the
      // first lands immediately, the next after the interval)
      waitFor("two command ticks")(broker.published.size >= 2)
      assert(broker.published.peek() == ("command.archon", "status"))
      broker.deliver("reply.archon", """{"status":{"temperature":21.0},"controller":"sp1"}""")
      def spooled = Option(new java.io.File(spool).listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".txt"))
      waitFor("delivery spooled")(spooled >= 1)
      // outage: connection dies, the daemon backs off and reconnects to
      // the SAME port once the broker rebinds
      broker.stop()
      Thread.sleep(300)
      broker.restart()
      waitFor("reconnected after rebind", 30000)(broker.hasConsumer)
      broker.deliver("reply.archon", """{"status":{"temperature":22.0},"controller":"sp2"}""")
      waitFor("post-rebind delivery spooled")(spooled >= 2)
      src.stopWriter()
      val q = stream.writeStream.format("memory").queryName("amqp_pts")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("amqp_pts").collect()
      assert(rows.length >= 2)
      assert(rows.map(_.getString(0)).toSet == Set("archon"))
      val byTag = rows.map(r => r.getAs[Map[String, String]]("tags")("controller") ->
        r.getAs[Map[String, Double]]("fields")("status.temperature")).toMap
      assert(byTag == Map("sp1" -> 21.0, "sp2" -> 22.0))
    } finally { src.stopWriter(); broker.stop() }
  }

  private def waitFor(what: String, timeoutMs: Long = 15000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(25)
    assert(cond, s"timed out waiting for: $what")
  }
}
