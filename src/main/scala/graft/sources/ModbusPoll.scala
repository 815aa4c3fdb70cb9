package graft.sources

import java.io.{EOFException, IOException, InputStream}
import java.net.{InetSocketAddress, Socket}

/** S12/S13 live wire — a minimal Modbus TCP client for the reference's
  * drift sources (`cerebro/sources/drift.py:25-166`, which delegates the
  * wire to the public sdss-drift library: a Modbus ethernet module read
  * per device per tick). Protocol per the public Modbus Application
  * Protocol spec v1.1b3 (modbus.org): MBAP header (transaction id,
  * protocol id 0, length, unit id) + PDU; function codes 0x01 read
  * coils, 0x03 read holding registers, 0x04 read input registers;
  * exception responses echo `fc | 0x80` with a one-byte code.
  *
  * Shape matches [[NetPoll.TcpPollFn]]: a lazily-connected persistent
  * socket on the driver-side poller thread, any I/O error closes the
  * connection and rethrows so the [[Supervised]] loop backs off and the next
  * tick reconnects — the reference's per-source retry isolation
  * (drift.py:109-128 `_measure` catch-all + delay).
  */
object ModbusPoll {

  /** One monitored device, the YAML-expressible subset of a sdss-drift
    * config entry (module devices with `mode`, `address`, `units`,
    * per-module `offset`, and an adaptor): `mode` ∈ coil |
    * holding_register | input_register; `value = slope·raw + intercept`
    * (the linear form covers drift's voltage/temperature adaptors);
    * `units == "relay"` marks a relay — its raw nonzero/zero reads as
    * closed/open, decoded to 1.0/0.0 downstream by
    * [[Parsers.driftDevices]] (drift.py:149-151). */
  final case class DriftDevice(
      name: String,
      mode: String,
      address: Int,
      units: String = "",
      offset: Int = 0,
      slope: Double = 1.0,
      intercept: Double = 0.0)

  /** Parse the `devices:` YAML map of a drift source entry:
    * {{{
    * devices:
    *   rly_nps1: {mode: coil, address: 0, units: relay}
    *   temp_rtd1: {mode: input_register, address: 8, units: degC,
    *               slope: 0.1, intercept: -273.15, offset: 8}
    * }}}
    * Devices poll in name order (deterministic spool lines). */
  def devicesConf(options: Map[String, Any]): Seq[DriftDevice] =
    options.get("devices").map(_.asInstanceOf[Map[String, Any]].toSeq
      .sortBy(_._1)
      .map { case (name, v) =>
        val m = v.asInstanceOf[Map[String, Any]]
        def d(k: String, dflt: Double): Double =
          m.get(k).map(_.toString.toDouble).getOrElse(dflt)
        DriftDevice(name,
          m.getOrElse("mode", "holding_register").toString,
          m("address").toString.toInt,
          m.get("units").map(_.toString).getOrElse(""),
          m.get("offset").map(_.toString.toInt).getOrElse(0),
          d("slope", 1.0), d("intercept", 0.0))
      }).getOrElse(Seq.empty)

  /** Blocking Modbus TCP conversation on a persistent connection. */
  final class ModbusTcp(host: String, port: Int, unitId: Int,
      timeoutMs: Int, connectTimeoutMs: Int) extends AutoCloseable {

    private var socket: Socket = null
    private var txn = 0

    private def connected(): Socket = {
      if (socket == null || socket.isClosed) {
        val s = new Socket()
        s.connect(new InetSocketAddress(host, port), connectTimeoutMs)
        s.setSoTimeout(timeoutMs)
        socket = s
      }
      socket
    }

    private def readFully(in: InputStream, n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r == -1) {
          close()
          throw new EOFException(s"$host:$port closed mid-frame ($off/$n bytes)")
        }
        off += r
      }
      buf
    }

    /** One request/reply: returns the PDU data bytes after the byte
      * count. Validates transaction id, protocol id, unit id and
      * function code echoes; a Modbus exception frame throws with its
      * code (the poller's backoff handles it like any wire error). */
    private def exchange(fc: Int, addr: Int, count: Int): Array[Byte] = {
      val s = connected()
      try {
        txn = (txn + 1) & 0xffff
        val frame = Array[Byte](
          (txn >> 8).toByte, txn.toByte, // transaction id
          0, 0,                          // protocol id (Modbus)
          0, 6,                          // remaining length: unit + fc + 4
          unitId.toByte, fc.toByte,
          (addr >> 8).toByte, addr.toByte,
          (count >> 8).toByte, count.toByte)
        val out = s.getOutputStream
        out.write(frame); out.flush()
        val in = s.getInputStream
        val mbap = readFully(in, 7)
        val rTxn = ((mbap(0) & 0xff) << 8) | (mbap(1) & 0xff)
        val rProto = ((mbap(2) & 0xff) << 8) | (mbap(3) & 0xff)
        val rLen = ((mbap(4) & 0xff) << 8) | (mbap(5) & 0xff)
        if (rTxn != txn || rProto != 0 || (mbap(6) & 0xff) != (unitId & 0xff))
          throw new IOException(
            s"$host:$port MBAP mismatch: txn $rTxn/$txn proto $rProto unit ${mbap(6)}")
        val pdu = readFully(in, rLen - 1) // length counts the unit id byte
        val rFc = pdu(0) & 0xff
        if (rFc == (fc | 0x80))
          throw new IOException(
            s"$host:$port modbus exception fc=$fc code=${pdu(1) & 0xff}")
        if (rFc != fc)
          throw new IOException(s"$host:$port function echo mismatch: $rFc/$fc")
        pdu.drop(2) // fc + byte count
      } catch {
        case e: IOException => close(); throw e
      }
    }

    /** FC 0x03 — `count` 16-bit big-endian unsigned registers. */
    def readHoldingRegisters(addr: Int, count: Int): Seq[Int] =
      registers(0x03, addr, count)

    /** FC 0x04 — input registers, same layout as holding. */
    def readInputRegisters(addr: Int, count: Int): Seq[Int] =
      registers(0x04, addr, count)

    private def registers(fc: Int, addr: Int, count: Int): Seq[Int] = {
      val data = exchange(fc, addr, count)
      if (data.length < 2 * count)
        throw new IOException(s"$host:$port short register frame: ${data.length}B for $count regs")
      (0 until count).map(i => ((data(2 * i) & 0xff) << 8) | (data(2 * i + 1) & 0xff))
    }

    /** FC 0x01 — `count` coils, bit-packed LSB-first per the spec. */
    def readCoils(addr: Int, count: Int): Seq[Boolean] = {
      val data = exchange(0x01, addr, count)
      if (data.length < (count + 7) / 8)
        throw new IOException(s"$host:$port short coil frame: ${data.length}B for $count coils")
      (0 until count).map(i => ((data(i / 8) >> (i % 8)) & 1) == 1)
    }

    def close(): Unit = {
      if (socket != null) {
        try socket.close() catch { case _: IOException => () }
        socket = null
      }
    }
  }

  /** Per-tick poll: read every device, adapt, one spool line per device
    * (`name\tvalue\tunits\toffset`, lifted by [[Parsers.driftWire]]).
    * Relays spool the raw closed/open token so the tested
    * [[Parsers.driftDevices]] decode stays the single source of that
    * rule. Any wire error aborts the tick (no partial spool write — the
    * [[Supervised]] loop treats the tick as failed and backs off). */
  final class DriftPollFn(host: String, port: Int, unitId: Int,
      devices: Seq[DriftDevice], timeoutMs: Int, connectTimeoutMs: Int)
      extends (() => Seq[String]) with AutoCloseable {
    require(devices.nonEmpty, "drift source needs at least one device")

    private val client = new ModbusTcp(host, port, unitId, timeoutMs, connectTimeoutMs)

    def apply(): Seq[String] = devices.map { d =>
      val raw: Double = d.mode match {
        case "coil" =>
          if (client.readCoils(d.address, 1).head) 1.0 else 0.0
        case "holding_register" =>
          client.readHoldingRegisters(d.address, 1).head.toDouble
        case "input_register" =>
          client.readInputRegisters(d.address, 1).head.toDouble
        case other => throw new IllegalArgumentException(
          s"device ${d.name}: unsupported mode '$other' (coil|holding_register|input_register)")
      }
      val value =
        if (d.units.equalsIgnoreCase("relay")) { if (raw != 0.0) "closed" else "open" }
        else String.valueOf(d.slope * raw + d.intercept)
      s"${d.name}\t$value\t${d.units}\t${d.offset}"
    }

    def close(): Unit = client.close()
  }

  def driftPoll(host: String, port: Int, unitId: Int,
      devices: Seq[DriftDevice], timeoutMs: Int = 5000,
      connectTimeoutMs: Int = 5000): DriftPollFn =
    new DriftPollFn(host, port, unitId, devices, timeoutMs, connectTimeoutMs)
}
