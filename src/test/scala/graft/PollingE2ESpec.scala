package graft

import java.io.ByteArrayOutputStream
import java.net.{DatagramPacket, DatagramSocket, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.control.{Engine, EngineConfig}
import graft.control.EngineConfig.SourceConf
import graft.sources.{Backoff, NetPoll, PollingSource, SpoolFanIn, SpoolSource}
import graft.sinks.TelemetrySink
import graft.streaming.StreamOps

/** In-process request/reply TCP device: accepts connections, reads each
  * request up to `reqTerminator`, replies with `reply(request)`. Stands in
  * for the reference's devices (govee bridge, sens4 transducer) so the
  * live-socket poll path is tested end-to-end on a loopback. */
final class LoopbackTcpDevice(reqTerminator: Byte, reply: String => String) {
  val requests = new AtomicInteger(0)
  @volatile private var server = new ServerSocket(0)
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  def port: Int = server.getLocalPort

  private def serve(s: ServerSocket): Unit =
    try {
      while (!s.isClosed) {
        val conn = s.accept()
        conns.add(conn)
        val t = new Thread(() => handle(conn))
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: SocketException => () } // closed — normal shutdown

  private def handle(conn: Socket): Unit =
    try {
      val in = conn.getInputStream
      val out = conn.getOutputStream
      var open = true
      while (open) {
        val buf = new ByteArrayOutputStream(64)
        var b = in.read()
        while (b != -1 && b.toByte != reqTerminator) { buf.write(b); b = in.read() }
        if (b == -1) open = false
        else {
          requests.incrementAndGet()
          out.write(reply(new String(buf.toByteArray, UTF_8)).getBytes(UTF_8))
          out.flush()
        }
      }
    } catch { case _: java.io.IOException => () } finally {
      conns.remove(conn)
      conn.close()
    }

  def start(): Unit = {
    val t = new Thread(() => serve(server))
    t.setDaemon(true)
    t.start()
  }

  /** Full outage: kill the listener AND every established connection, so a
    * persistent-connection poller sees its next read fail. */
  def stop(): Unit = {
    server.close()
    conns.forEach(c => try c.close() catch { case _: java.io.IOException => () })
    conns.clear()
  }

  /** Rebind on the SAME port — the device coming back after an outage. */
  def restart(): Unit = {
    val p = port
    server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new java.net.InetSocketAddress("127.0.0.1", p))
    start()
  }
}

/** End-to-end ingest path: driver-side poller → file spool → streaming
  * parse (sens4 protocol) → normalize → idempotent parquet sink — the full
  * SURVEY.md §3.1 daemon shape with a fake device instead of a socket. */
/** Loopback LCO environment API (lco.py:116-122 shape): `GET
  * ?start_ts=<ISO seconds>` returns the rows with `ts >= start_ts` —
  * INCLUSIVE, like an API that re-sends the boundary second the
  * reference's truncated resume point re-requests — followed by the
  * `malformed` entries verbatim. Records every request's query string. */
final class LoopbackEnvApi {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  val malformed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var server = bind(0)
  val port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port/env/seeing"

  private def bind(port: Int): com.sun.net.httpserver.HttpServer = {
    val s = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/env/seeing", (ex: com.sun.net.httpserver.HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      requests.add(q)
      val startTs = q.split("&").collectFirst {
        case kv if kv.startsWith("start_ts=") =>
          java.time.LocalDateTime.parse(kv.stripPrefix("start_ts="))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }.getOrElse(0L)
      val good = rows.toArray(Array.empty[(Long, Double)]).filter(_._1 >= startTs).sortBy(_._1)
        .map { case (ts, v) =>
          val iso = java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochMilli(ts), java.time.ZoneOffset.UTC)
          s"""{"ts":"$iso","measurement":"seeing","value":$v}"""
        }
      val body = (good ++ malformed.toArray(Array.empty[String]))
        .mkString("[", ",", "]").getBytes(UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    s
  }

  def stop(): Unit = server.stop(0)
  /** Rebind on the SAME port — the service coming back after an outage. */
  def restart(): Unit = server = bind(port)
}

class PollingE2ESpec extends SparkSpec {

  test("poller -> spool -> parser -> normalize -> sink, with failure isolation") {
    val spool = Files.createTempDirectory("graft-spool-").toString
    val out = Files.createTempDirectory("graft-out-").toString
    val n = new AtomicInteger(0)
    // fake sens4 device: fails on the 2nd poll (must not kill the poller)
    val poll = () => {
      val i = n.incrementAndGet()
      if (i == 2) throw new RuntimeException("device hiccup")
      Seq(f"@253ACKQ${1.0 + i}%.2fE-04,2.00E-02,3.00E-03,25.40,x\\")
    }
    val src = new PollingSource("sens4-b1", spool, poll, delayMs = 50)
    src.start()
    try {
      // wait until a few successful polls are DURABLE in the spool (poll
      // count alone races src.stop() — see `spooled`)
      val deadline = System.currentTimeMillis() + 15000
      while ((n.get() < 5 || spooled(spool) < 4) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(n.get() >= 5, "poller should keep polling after a failure")
      assert(spooled(spool) >= 4, "4 successful polls must be durable")
      src.stop() // freeze the spool so processAllAvailable can drain

      val points = StreamOps.normalize(Map("observatory" -> "LCO"))(
        spoolStream("sens4-b1", spool, "sens4", Map("ccd" -> "b1")))
      val q = TelemetrySink.start(points, s"$out/data", s"$out/ckpt",
        defaultBucket = "sensors", queryName = "e2e-sink")
      try q.processAllAvailable() finally q.stop()

      val result = spark.read.parquet(s"$out/data")
      assert(result.count() >= 4) // >=5 polls, 1 failed, all distinct values
      assert(result.select("measurement").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("pressure"))
      val row = result.orderBy("time").collect().head
      assert(row.getAs[Map[String, String]]("tags") ==
        Map("ccd" -> "b1", "observatory" -> "LCO"))
      val f = row.getAs[Map[String, Double]]("fields")
      assert(f("pir") == 2.0e-2 && f("temp") == 25.40)
      assert(row.getAs[String]("bucket") == "sensors")
    } finally src.stop()
  }

  test("a restarted poller on the same spool never collides with its predecessor's files") {
    // pre-fix: the second incarnation restarted seq at 0 and its atomic
    // publish (Files.move without REPLACE) collided with the first's
    // files — every poll failed into backoff and the spool froze
    val spool = Files.createTempDirectory("graft-restart-spool-").toString
    def txtCount = new java.io.File(spool).listFiles().count(_.getName.endsWith(".txt"))
    val a = new PollingSource("dev", spool, () => Seq("x"), delayMs = 10)
    a.start()
    waitFor("first incarnation spools")(txtCount >= 2)
    a.stop()
    val frozen = txtCount
    val b = new PollingSource("dev", spool, () => Seq("y"), delayMs = 10)
    b.start()
    try waitFor("second incarnation spools past the first")(txtCount >= frozen + 2)
    finally b.stop()
  }

  /** A spool read the way an engine reads it: a fan-in of one source. */
  private def spoolStream(name: String, spool: String, parser: String,
      options: Map[String, Any] = Map.empty,
      readOptions: Map[String, String] = Map.empty): DataFrame =
    SpoolFanIn.stream(spark, Seq(SpoolSource(SourceConf(name, "spool",
      options + ("path" -> spool) + ("parser" -> parser), None, Map.empty), readOptions)))

  private def waitFor(what: String, timeoutMs: Long = 15000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(25)
    assert(cond, s"timed out waiting for: $what")
  }

  /** Published spool files. The live tests wait on THIS, not on the
    * device's request counter: a poll the device has answered is not
    * yet durable until the spool publish lands, and `src.stop()`'s
    * interrupt can fall in that gap — counting requests then stopping
    * lost the final poll once per few full-suite runs (374/375). */
  private def spooled(spool: String): Int =
    Option(new java.io.File(spool).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".txt"))

  test("spool retention: a long-running poller's spool stays bounded and the live stream misses nothing") {
    val spool = Files.createTempDirectory("graft-ret-spool-").toString
    val out = Files.createTempDirectory("graft-ret-out-").toString
    val n = new AtomicInteger(0)
    // 1 Hz-style device at 25 ms: without retention this spool grows one
    // file per poll forever (the VERDICT r10 defect); with it, files
    // older than the window are swept ON PUBLISH while a concurrently
    // RUNNING stream loses nothing. Window 4 s, run 10 s (VERDICT r14
    // #4 deflake): the old 2.5 s window required the streaming reader's
    // lag to stay under 2.5 s for the whole run, which a full-suite GC
    // pause or leftover state-store maintenance stall could exceed —
    // green isolated, red once per few full runs. 4 s tolerates a
    // doubled stall while still sweeping ~2.5 windows in-run.
    val retention = 4000
    val src = new PollingSource("ret-dev", spool, () => Seq(s"""{"n":${n.incrementAndGet()}}"""),
      delayMs = 25, retentionMs = retention)
    src.start()
    // a reader lagging past the retention window can have a listed file
    // swept before the read opens it; ignoreMissingFiles keeps that from
    // killing the query (FAILED_READ_FILE, see SpoolRetention)
    val q = spoolStream("ret-dev", spool, "tpm",
        readOptions = Map("ignoreMissingFiles" -> "true"))
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append").start()
    try {
      // run for ~2.5 retention windows of continuous polling + streaming
      val until = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < until) Thread.sleep(100)
      def files = Option(new java.io.File(spool).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".txt"))
      val midRun = n.get()
      assert(midRun >= 60, s"expected a busy poller, got $midRun polls")
      // bounded: ~window/delay files survive, not one per poll (under
      // contention polls AND the sweep slow together, so the bound is
      // proportional, with headroom for a stalled tail)
      val surviving = files.length
      assert(surviving < midRun * 2 / 3,
        s"retention never deleted: $surviving files for $midRun polls")
      // the sweep only removes files older than the window (slack for a
      // publish stall between sweeps)
      val mtimes = files.map(_.lastModified()).filter(_ > 0)
      assert(mtimes.nonEmpty && System.currentTimeMillis() - mtimes.min < retention + 4000,
        "old files must be gone")
      src.stop() // joins the poll thread, so the spool is frozen here
      val polled = n.get()
      q.processAllAvailable() // drain whatever is still spooled
      // nothing lost: the sink holds a dup-free prefix v1..vM of the
      // polled values. M may trail `polled` by exactly one — stop()'s
      // interrupt can land between the final n.incrementAndGet() and its
      // spool write (the NIO write throws ClosedByInterruptException and
      // that value never publishes) — but a retention sweep deleting an
      // uncommitted file would lose values from the MIDDLE, which the
      // prefix check catches.
      val vals = spark.read.parquet(s"$out/data")
        .select("fields").collect().map(_.getAs[Map[String, Double]](0)("n").toInt).toSeq
      assert(vals.size == vals.distinct.size,
        s"duped ${vals.size - vals.distinct.size}")
      assert(vals.size >= polled - 1,
        s"lost ${polled - vals.size} of $polled polls")
      val expected = 1 to vals.size
      assert(vals.sorted == expected.sorted,
        s"not a prefix: missing ${(expected.toSet -- vals.toSet).take(3)}")
    } finally { src.stop(); q.stop() }
  }

  test("S2 live TCP govee: socket poll -> spool -> parser, surviving a device outage") {
    val spool = Files.createTempDirectory("graft-net-spool-").toString
    val out = Files.createTempDirectory("graft-net-out-").toString
    // reference conversation (lvm.py:56-67): "status <ADDR>\n" ->
    // "<ADDR> <temp> <hum> <x> <isoTime>\n"
    val tick = new AtomicInteger(0)
    val device = new LoopbackTcpDevice('\n'.toByte, req => {
      val addr = req.trim.stripPrefix("status").trim
      val now = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).withNano(0)
      f"$addr ${21.0 + tick.incrementAndGet() * 0.25}%.2f 45.00 x $now\n"
    })
    device.start()
    val poll = NetPoll.goveePoll("127.0.0.1", device.port, "a4:c1:38:aa:bb:cc")
    val src = new PollingSource("govee-live", spool, poll, delayMs = 30,
      backoff = Backoff(initialDelayMs = 20, maxDelayMs = 200))
    src.start()
    try {
      waitFor("3 live polls")(device.requests.get() >= 3)
      // Outage: listener AND established connections die mid-run. The poll fn
      // must throw (not hang), PollingSource's backoff must absorb it, and the
      // next successful poll must be a fresh reconnect.
      device.stop()
      Thread.sleep(250)
      device.restart()
      val before = device.requests.get()
      waitFor("reconnect after outage")(device.requests.get() >= before + 2)
      waitFor("5 polls durable in the spool")(spooled(spool) >= 5)
      src.stop()
      poll.close()

      val points = StreamOps.normalize(Map("observatory" -> "LCO"))(
        spoolStream("govee-live", spool, "govee", Map("address" -> "A4:C1:38:AA:BB:CC",
          "device" -> "govee1", "delay" -> 60)))
      val q = TelemetrySink.start(points, s"$out/data", s"$out/ckpt",
        defaultBucket = "sensors", queryName = "govee-live-sink")
      try q.processAllAvailable() finally q.stop()

      val result = spark.read.parquet(s"$out/data")
      assert(result.select("measurement").distinct().collect()
        .map(_.getString(0)).toSet == Set("temperature", "humidity"))
      // every successful poll carried a distinct temperature — all survive
      val temps = result.filter(col("measurement") === "temperature").collect()
      assert(temps.length >= 4)
      assert(temps.map(_.getAs[Map[String, Double]]("fields")("value")).distinct.length
        == temps.length)
      assert(temps.head.getAs[Map[String, String]]("tags")("address")
        == "A4:C1:38:AA:BB:CC")
      assert(temps.head.getAs[Map[String, String]]("tags")("device") == "govee1")
    } finally { src.stop(); poll.close(); device.stop() }
  }

  test("S2/S4 live TCP sens4: backslash-terminated conversation end-to-end") {
    val spool = Files.createTempDirectory("graft-net-spool-").toString
    val out = Files.createTempDirectory("graft-net-out-").toString
    // reference conversation (lvm.py:144-148): "@253Q?\" -> "@253ACKQ...\"
    val device = new LoopbackTcpDevice('\\'.toByte, req => {
      assert(req.startsWith("@253Q?"), s"unexpected sens4 request: $req")
      "@253ACKQ1.10E-04,2.00E-02,3.00E-03,25.40,x\\"
    })
    device.start()
    val poll = NetPoll.sens4Poll("127.0.0.1", device.port, deviceId = 253)
    val src = new PollingSource("sens4-live", spool, poll, delayMs = 30,
      backoff = Backoff(initialDelayMs = 20, maxDelayMs = 200))
    src.start()
    try {
      waitFor("3 sens4 polls durable in the spool")(spooled(spool) >= 3)
      src.stop()
      poll.close()

      val points = StreamOps.normalize(Map.empty)(
        spoolStream("sens4-live", spool, "sens4", Map("ccd" -> "r1")))
      val q = TelemetrySink.start(points, s"$out/data", s"$out/ckpt",
        defaultBucket = "sensors", queryName = "sens4-live-sink")
      try q.processAllAvailable() finally q.stop()

      val result = spark.read.parquet(s"$out/data")
      assert(result.count() >= 3)
      val f = result.collect().head.getAs[Map[String, Double]]("fields")
      assert(f("pz") == 1.1e-4 && f("pir") == 2.0e-2 && f("temp") == 25.40)
    } finally { src.stop(); poll.close(); device.stop() }
  }

  test("S7 live UDP thermistors: $016 datagram conversation end-to-end") {
    val spool = Files.createTempDirectory("graft-net-spool-").toString
    val out = Files.createTempDirectory("graft-net-out-").toString
    // reference conversation (lvm.py:383-400): "$016\r\n" -> "!01<HEX>\r"
    val server = new DatagramSocket(0)
    val serverThread = new Thread(() => {
      try {
        val buf = new Array[Byte](64)
        while (!server.isClosed) {
          val p = new DatagramPacket(buf, buf.length)
          server.receive(p)
          val req = new String(p.getData, p.getOffset, p.getLength, UTF_8)
          if (req == "$016\r\n") {
            val reply = "!01ABCD\r".getBytes(UTF_8)
            server.send(new DatagramPacket(reply, reply.length, p.getAddress, p.getPort))
          }
        }
      } catch { case _: SocketException => () }
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val poll = NetPoll.thermistorPoll("127.0.0.1", server.getLocalPort)
    val src = new PollingSource("therm-live", spool, poll, delayMs = 30)
    src.start()
    try {
      waitFor("2 spool files")(new java.io.File(spool).listFiles().count(_.getName.endsWith(".txt")) >= 2)
      src.stop()

      val points = StreamOps.normalize(Map.empty)(
        spoolStream("therm-live", spool, "lvm_thermistors",
          Map("mapping" -> Map("channel0" -> "ln2_r1"))))
      val q = TelemetrySink.start(points, s"$out/data", s"$out/ckpt",
        defaultBucket = "sensors", queryName = "therm-live-sink")
      try q.processAllAvailable() finally q.stop()

      val result = spark.read.parquet(s"$out/data")
      assert(result.count() >= 32) // >=2 polls x 16 channels
      // 0xABCD = 1010101111001101b: channel0 set, channel1 clear, channel15 set
      val byChan = result.collect()
        .map(r => r.getAs[Map[String, Double]]("fields").head)
        .toMap
      assert(byChan("channel0") == 1.0 && byChan("channel1") == 0.0)
      assert(byChan("channel4") == 0.0 && byChan("channel15") == 1.0)
      val named = result.filter(element_at(col("tags"), "channel_name") === "ln2_r1")
      assert(named.count() >= 2)
    } finally { src.stop(); server.close() }
  }

  /** An engine with one `type: http` source `dimm` and one parquet
    * observer `lco`, on `work` (store and checkpoint) and `spool`. */
  private def httpEngine(api: LoopbackEnvApi, work: String, spool: String): Engine = {
    val engine = new Engine(spark)
    engine.start(EngineConfig.parse(
      s"""
         |sources:
         |  dimm: {type: http, url: "${api.url}", delay: 0.05, path: '$spool'}
         |observers:
         |  lco: {type: parquet}
         |""".stripMargin), work)
    engine
  }

  /** `ts` of every row in the source's published spool files, sorted. */
  private def spooledTs(spool: String): Seq[Long] =
    Option(new java.io.File(spool).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".txt")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
      .map(l => "\"ts\":([0-9]+)".r.findFirstMatchIn(l).get.group(1).toLong).sorted

  /** `(event time ms, value)` of every stored point, duplicates kept. */
  private def stored(work: String): Seq[(Long, Double)] = {
    spark.streams.active.filter(_.name == "lco").foreach(_.processAllAvailable())
    TelemetrySink.readStore(spark, s"$work/data/lco", dedup = false).collect().toSeq
      .map(r => (r.getAs[java.sql.Timestamp]("time").getTime,
        r.getAs[Map[String, Double]]("fields")("value")))
      .sorted
  }

  // 1700000002000 ms is 2023-11-14T22:13:22Z
  private val seeing = Seq((1700000001500L, 0.8), (1700000002000L, 0.9),
    (1700000003000L, 1.1), (1700000004000L, 1.3))

  test("S15/S16 http source from YAML: second-truncated resume, boundary row once, outage and rebind") {
    val api = new LoopbackEnvApi
    seeing.take(2).foreach(api.rows.add)
    val work = Files.createTempDirectory("graft-http-work-").toString
    val spool = Files.createTempDirectory("graft-http-spool-").toString
    val engine = httpEngine(api, work, spool)
    try {
      waitFor("first fetch spooled")(spooledTs(spool).size == 2)
      assert(stored(work) == seeing.take(2), "event time must be the row's ts")

      // the next request carries the last row's ts truncated to seconds,
      // and the inclusive server re-sends that row
      waitFor("a resumed request")(
        api.requests.toArray.exists(_.toString == "start_ts=2023-11-14T22:13:22"))
      api.rows.add(seeing(2))
      waitFor("incremental fetch")(spooledTs(spool).size == 3)
      assert(stored(work) == seeing.take(3))

      // outage: the poller backs off from the SAME watermark
      api.stop()
      api.rows.add(seeing(3))
      Thread.sleep(300)
      api.restart()
      waitFor("post-outage fetch")(spooledTs(spool).size == 4)
      Thread.sleep(200) // a few more polls re-send the boundary row
      assert(spooledTs(spool) == seeing.map(_._1))
      assert(stored(work) == seeing)
    } finally { engine.stopAll(); api.stop() }
  }

  test("S15/S16 http source restarted on its spool and checkpoint fetches only newer rows") {
    val api = new LoopbackEnvApi
    seeing.take(2).foreach(api.rows.add)
    val work = Files.createTempDirectory("graft-http-restart-work-").toString
    val spool = Files.createTempDirectory("graft-http-restart-spool-").toString
    val first = httpEngine(api, work, spool)
    try {
      waitFor("first fetch spooled")(spooledTs(spool).size == 2)
      assert(stored(work) == seeing.take(2))
    } finally first.stopAll()

    api.rows.add(seeing(2))
    val before = api.requests.size()
    val second = httpEngine(api, work, spool)
    try {
      waitFor("fetch after restart")(spooledTs(spool).size == 3)
      // the new poller's watermark is the spool's last ts, not 0
      val after = api.requests.toArray.drop(before).map(_.toString).toSeq
      assert(after.headOption.contains("start_ts=2023-11-14T22:13:22"), after)
      assert(spooledTs(spool) == seeing.take(3).map(_._1))
      assert(stored(work) == seeing.take(3))
    } finally { second.stopAll(); api.stop() }
  }

  test("S15/S16 http source skips a malformed row without stopping the poller") {
    val api = new LoopbackEnvApi
    api.rows.add(seeing.head)
    api.malformed.add("""{"ts":"not a time","measurement":"seeing","value":1.0}""")
    api.malformed.add("""{"ts":"2023-11-14T22:13:30","measurement":"seeing"}""")
    val work = Files.createTempDirectory("graft-http-bad-work-").toString
    val spool = Files.createTempDirectory("graft-http-bad-spool-").toString
    val engine = httpEngine(api, work, spool)
    try {
      waitFor("first fetch spooled")(spooledTs(spool).size == 1)
      api.rows.add(seeing(1))
      waitFor("the poller keeps fetching")(spooledTs(spool).size == 2)
      assert(stored(work) == seeing.take(2))
    } finally { engine.stopAll(); api.stop() }
  }
}
