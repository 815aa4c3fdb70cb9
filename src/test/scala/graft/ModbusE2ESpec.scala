package graft

import java.io.{EOFException, IOException, InputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.control.EngineConfig.SourceConf
import graft.sources.{ModbusPoll, Parsers, PollingSource, SpoolFanIn, SpoolSource}
import graft.sources.ModbusPoll.{DriftDevice, ModbusTcp}

/** In-process Modbus TCP device: serves FC 0x01 (coils) and 0x03/0x04
  * (holding/input registers) from mutable banks, echoes transaction and
  * unit ids, answers unknown functions with exception 0x01 and
  * out-of-range addresses with 0x02 — enough of the public spec to
  * stand in for the reference's Modbus ethernet module
  * (drift.py:25-166 / sdss-drift) on a loopback. */
final class LoopbackModbusDevice(
    registers: Array[Int], coils: Array[Boolean]) {
  val requests = new AtomicInteger(0)
  @volatile private var server = new ServerSocket(0)
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  def port: Int = server.getLocalPort

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r == -1) throw new EOFException()
      off += r
    }
    buf
  }

  private def handle(conn: Socket): Unit =
    try {
      val in = conn.getInputStream
      val out = conn.getOutputStream
      while (true) {
        val mbap = readFully(in, 7)
        val len = ((mbap(4) & 0xff) << 8) | (mbap(5) & 0xff)
        val pdu = readFully(in, len - 1)
        requests.incrementAndGet()
        val fc = pdu(0) & 0xff
        val addr = ((pdu(1) & 0xff) << 8) | (pdu(2) & 0xff)
        val count = ((pdu(3) & 0xff) << 8) | (pdu(4) & 0xff)
        val body: Array[Byte] = fc match {
          case 3 | 4 =>
            if (addr + count > registers.length) Array((fc | 0x80).toByte, 2.toByte)
            else {
              val data = (addr until addr + count).flatMap(i =>
                Seq((registers(i) >> 8).toByte, registers(i).toByte))
              (Seq(fc.toByte, (2 * count).toByte) ++ data).toArray
            }
          case 1 =>
            if (addr + count > coils.length) Array((fc | 0x80).toByte, 2.toByte)
            else {
              val nBytes = (count + 7) / 8
              val bytes = Array.fill[Byte](nBytes)(0)
              (0 until count).foreach { i =>
                if (coils(addr + i))
                  bytes(i / 8) = (bytes(i / 8) | (1 << (i % 8))).toByte
              }
              (Seq(fc.toByte, nBytes.toByte) ++ bytes).toArray
            }
          case _ => Array((fc | 0x80).toByte, 1.toByte)
        }
        val resp = Array[Byte](mbap(0), mbap(1), 0, 0,
          ((body.length + 1) >> 8).toByte, (body.length + 1).toByte, mbap(6)) ++ body
        out.write(resp); out.flush()
      }
    } catch { case _: IOException => () } finally {
      conns.remove(conn); conn.close()
    }

  private def serve(s: ServerSocket): Unit =
    try {
      while (!s.isClosed) {
        val conn = s.accept()
        conns.add(conn)
        val t = new Thread(() => handle(conn)); t.setDaemon(true); t.start()
      }
    } catch { case _: SocketException => () }

  def start(): Unit = {
    val t = new Thread(() => serve(server)); t.setDaemon(true); t.start()
  }

  def stop(): Unit = {
    server.close()
    conns.forEach(c => try c.close() catch { case _: IOException => () })
    conns.clear()
  }

  def restart(): Unit = {
    val p = port
    server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new java.net.InetSocketAddress("127.0.0.1", p))
    start()
  }
}

/** S12/S13 live wire: Modbus TCP client → drift poll → spool lines →
  * `driftWire`/`driftDevices` points, with the outage/rebind discipline
  * the other live sources get in PollingE2ESpec/PushE2ESpec. */
class ModbusE2ESpec extends SparkSpec {
  import spark.implicits._

  private def device() = {
    // register bank: [0]=2981 (temp raw), [1]=472, [8]=55000 (>32767:
    // registers are UNSIGNED 16-bit per the spec)
    val regs = Array.fill(16)(0)
    regs(0) = 2981; regs(1) = 472; regs(8) = 55000
    val coils = Array.fill(12)(false)
    coils(0) = true; coils(3) = true; coils(9) = true
    val d = new LoopbackModbusDevice(regs, coils)
    d.start(); d
  }

  test("client: register/coil decode, multi-register reads, exception frames") {
    val dev = device()
    val c = new ModbusTcp("127.0.0.1", dev.port, unitId = 1,
      timeoutMs = 5000, connectTimeoutMs = 5000)
    try {
      assert(c.readHoldingRegisters(0, 3) == Seq(2981, 472, 0))
      assert(c.readInputRegisters(8, 1) == Seq(55000), "unsigned 16-bit decode")
      // coils bit-packed LSB-first across byte boundaries
      assert(c.readCoils(0, 12) == Seq(true, false, false, true,
        false, false, false, false, false, true, false, false))
      // out-of-range address → modbus exception → IOException with code
      val ex = intercept[IOException](c.readHoldingRegisters(14, 5))
      assert(ex.getMessage.contains("code=2"))
      // the connection recovers after an exception (reconnect is lazy)
      assert(c.readHoldingRegisters(1, 1) == Seq(472))
    } finally { c.close(); dev.stop() }
  }

  test("randomized round-trip: arbitrary register/coil banks survive arbitrary slice reads") {
    // seeded (deterministic) fuzz of the codec pair: the server packs
    // from its banks with its own framing, the client decodes — any
    // asymmetry in 16-bit packing or LSB-first coil bit order fails on
    // some slice
    val rnd = new scala.util.Random(42)
    val regs = Array.fill(64)(rnd.nextInt(65536))
    val coils = Array.fill(64)(rnd.nextBoolean())
    val dev = new LoopbackModbusDevice(regs, coils); dev.start()
    val c = new ModbusTcp("127.0.0.1", dev.port, 1, 5000, 5000)
    try {
      (1 to 50).foreach { _ =>
        val addr = rnd.nextInt(60)
        val count = 1 + rnd.nextInt(64 - addr)
        assert(c.readHoldingRegisters(addr, count) ==
          (addr until addr + count).map(regs), s"regs [$addr,+$count)")
        assert(c.readCoils(addr, count) ==
          (addr until addr + count).map(coils), s"coils [$addr,+$count)")
      }
    } finally { c.close(); dev.stop() }
  }

  test("drift poll: adaptor math and relay mapping through the spool-line format") {
    val dev = device()
    val devices = Seq(
      DriftDevice("rly_a", "coil", 0, units = "relay"),
      DriftDevice("rly_b", "coil", 1, units = "relay"),
      DriftDevice("rtd1", "input_register", 0, units = "degC",
        offset = 0, slope = 0.1, intercept = -273.15),
      DriftDevice("volts", "holding_register", 1, units = "V",
        offset = 1, slope = 0.01))
    val fn = ModbusPoll.driftPoll("127.0.0.1", dev.port, 1, devices)
    try {
      val lines = fn()
      assert(lines == Seq(
        "rly_a\tclosed\trelay\t0",
        "rly_b\topen\trelay\t0",
        s"rtd1\t${2981 * 0.1 + -273.15}\tdegC\t0",
        s"volts\t${472 * 0.01 + 0.0}\tV\t1"))
      // lifted into points: relay closed→1.0/open→0.0, units/offset tags
      val raw = lines.map(l => (l, new java.sql.Timestamp(1700000000000L)))
        .toDF("raw", "recv_time")
      val pts = Parsers.driftWire(raw).collect()
        .map(r => (r.getAs[Map[String, Double]]("fields").head,
          r.getAs[Map[String, String]]("tags"))).toMap
      assert(pts(("rly_a", 1.0)) == Map("offset" -> "0"), "relay drops the units tag")
      assert(pts(("rly_b", 0.0)) == Map("offset" -> "0"))
      assert(pts((("rtd1"), 2981 * 0.1 + -273.15)) == Map("units" -> "degC", "offset" -> "0"))
      assert(pts((("volts"), 472 * 0.01)) == Map("units" -> "V", "offset" -> "1"))
    } finally { fn.close(); dev.stop() }
  }

  test("devicesConf: YAML map → ordered devices") {
    val parsed = ModbusPoll.devicesConf(Map("devices" -> Map(
      "z_last" -> Map("mode" -> "coil", "address" -> 2, "units" -> "relay"),
      "a_first" -> Map("address" -> 7, "units" -> "degC",
        "slope" -> 0.1, "intercept" -> -273.15, "offset" -> 7))))
    assert(parsed == Seq(
      DriftDevice("a_first", "holding_register", 7, "degC", 7, 0.1, -273.15),
      DriftDevice("z_last", "coil", 2, "relay", 0, 1.0, 0.0)))
  }

  test("live chain: poller -> spool -> driftWire points, outage + rebind") {
    val dev = device()
    val spool = Files.createTempDirectory("graft-modbus-spool-").toString
    val devices = Seq(
      DriftDevice("rly_a", "coil", 0, units = "relay"),
      DriftDevice("rtd1", "input_register", 0, units = "degC",
        slope = 0.1, intercept = -273.15))
    val fn = ModbusPoll.driftPoll("127.0.0.1", dev.port, 1, devices)
    val src = new PollingSource("ieb", spool, fn, delayMs = 25,
      backoff = graft.sources.Backoff(initialDelayMs = 25, maxDelayMs = 100))
    src.start()
    try {
      def spooled = Option(new java.io.File(spool).listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".txt"))
      waitFor("first polls spool")(spooled >= 3)
      // outage: every tick fails (wire error rethrown → backoff), the
      // poller thread survives
      dev.stop()
      Thread.sleep(300)
      val frozen = dev.requests.get()
      // rebind on the same port: the lazy reconnect resumes the reads
      dev.restart()
      waitFor("polls resume after rebind")(dev.requests.get() >= frozen + 4)
      val before = spooled
      waitFor("resumed polls spool")(spooled >= before + 2)
      src.stop()
      val pts = SpoolFanIn.stream(spark, Seq(SpoolSource(SourceConf("ieb", "spool",
        Map("path" -> spool, "parser" -> "drift"), Some("actors"), Map.empty))))
      val q = pts.writeStream.format("memory").queryName("modbus_pts")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("modbus_pts").collect()
      assert(rows.length >= 2 * 5, "several full device sweeps landed")
      val byDev = rows.map(_.getAs[Map[String, Double]]("fields").head).toMap
      assert(byDev("rly_a") == 1.0)
      assert(byDev("rtd1") == 2981 * 0.1 + -273.15)
      assert(rows.map(_.getAs[String]("measurement")).toSet == Set("devices"))
    } finally { src.stop(); fn.close(); dev.stop() }
  }

  private def waitFor(what: String, timeoutMs: Long = 15000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(25)
    assert(cond, s"timed out waiting for: $what")
  }
}
