package graft

import java.nio.file.{Files, Paths}
import graft.control.{Engine, EngineConfig}
import graft.sources.Backoff

class EngineSpec extends SparkSpec {

  private val yaml =
    """
      |tags:
      |  observatory: ${GRAFT_TEST_OBS}
      |sources:
      |  s_replay:
      |    type: replay
      |    path: /tmp/replay
      |    bucket: sensors
      |    tags: {spectrograph: sp1}
      |  s_other:
      |    type: replay
      |    path: /tmp/other
      |observers:
      |  o_parquet:
      |    type: parquet
      |    path: /tmp/out
      |profiles:
      |  lvm:
      |    sources: [s_replay]
      |""".stripMargin

  test("config: env interpolation, sections, profile selection") {
    val cfg = EngineConfig.parse(yaml, env = Map("GRAFT_TEST_OBS" -> "LCO"))
    assert(cfg.tags == Map("observatory" -> "LCO"))
    assert(cfg.sources.map(_.name) == Seq("s_other", "s_replay"))
    assert(cfg.sources.find(_.name == "s_replay").get.bucket.contains("sensors"))
    assert(cfg.sources.find(_.name == "s_replay").get.tags == Map("spectrograph" -> "sp1"))
    assert(cfg.observers.map(_.typ) == Seq("parquet"))

    val lvm = EngineConfig.parse(yaml, profile = Some("lvm"))
    assert(lvm.sources.map(_.name) == Seq("s_replay"))
    assert(lvm.tags == Map("observatory" -> "")) // unset env var -> empty
    intercept[IllegalArgumentException] {
      EngineConfig.parse(yaml, profile = Some("nope"))
    }
  }

  test("--sources selection: named subset without a profile; unknown name errors") {
    // reference CLI parity (cerebro/__main__.py:34-42,77-88)
    val cfg = EngineConfig.parse(yaml, env = Map("GRAFT_TEST_OBS" -> "LCO"))
    assert(EngineConfig.selectSources(cfg, None) eq cfg)
    val subset = EngineConfig.selectSources(cfg, Some("s_replay"))
    assert(subset.sources.map(_.name) == Seq("s_replay"))
    assert(subset.observers == cfg.observers) // observers untouched
    assert(EngineConfig.selectSources(cfg, Some(" s_replay , s_other "))
      .sources.map(_.name) == Seq("s_other", "s_replay"))
    intercept[IllegalArgumentException] {
      EngineConfig.selectSources(cfg, Some("s_replay,nope"))
    }
    // Main arg plumbing: the positional scanner must not mistake a --flag
    // value for the name (ADVICE r5: `restart --socket /tmp/g.sock pqr`)
    assert(graft.control.Main.positional(
      Array("restart", "--socket", "/tmp/g.sock", "pqr")) == Some("pqr"))
    assert(graft.control.Main.positional(
      Array("restart", "pqr", "--socket", "/tmp/g.sock")) == Some("pqr"))
    assert(graft.control.Main.positional(Array("restart")).isEmpty)
  }

  test("engine: config -> replay source -> memory observer, end to end") {
    import spark.implicits._
    import graft.model.TelemetryPoint
    val dir = Files.createTempDirectory("graft-replay-").toString
    val work = Files.createTempDirectory("graft-work-").toString
    Seq(TelemetryPoint("temperature", Map("a" -> "1"), Map("value" -> 20.0),
        null, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), None, None))
      .toDF().write.parquet(s"$dir/batch0")
    val cfg = EngineConfig.parse(
      s"""
         |tags: {site: APO}
         |sources:
         |  replay1: {type: replay, path: $dir/batch0, bucket: b1, tags: {src: replay1}}
         |observers:
         |  mem1: {type: memory}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      spark.streams.active.foreach(_.processAllAvailable())
      val out = spark.sql("SELECT * FROM mem1")
      assert(out.count() == 1)
      val row = out.head()
      val tags = row.getAs[Map[String, String]]("tags")
      assert(tags == Map("a" -> "1", "src" -> "replay1", "site" -> "APO"))
      assert(row.getAs[String]("bucket") == "b1")
      assert(engine.status == Map("mem1" -> true))

      // restart of a MEMORY observer: the memory sink can't recover a
      // non-empty checkpoint (append mode), so restart allocates a fresh
      // one and rebuilds the table from the source — it must succeed,
      // not silently return false (ADVICE r5).
      assert(engine.restart("mem1"), "memory observer restart must succeed")
      spark.streams.active.foreach(_.processAllAvailable())
      assert(spark.sql("SELECT * FROM mem1").count() == 1)
      assert(engine.status == Map("mem1" -> true))
    } finally engine.stopAll()
  }

  test("config-driven actor_replies source: YAML dictionary -> typed points") {
    val dir = Files.createTempDirectory("graft-actor-spool-").toString
    val work = Files.createTempDirectory("graft-actor-work-").toString
    // spool lines are raw\tepochMillis (what PollingSource writes); one
    // good reply + one broadcast (commandId=0, dropped by default)
    Files.write(Paths.get(dir, "boss-0.txt"), Seq(
      "12 1 i ccdTemp=-103.2\t1700000000000",
      "0 1 i ccdTemp=999.9\t1700000000000").mkString("\n").getBytes("UTF-8"))
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  boss_client:
         |    type: spool
         |    parser: actor_replies
         |    actor: boss
         |    path: $dir
         |    dictionary:
         |      ccdTemp:
         |        - {type: float, units: degC}
         |observers:
         |  mema: {type: memory}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      spark.streams.active.filter(_.name == "mema").foreach(_.processAllAvailable())
      val rows = spark.sql("SELECT * FROM mema").collect()
      assert(rows.length == 1, s"broadcast must be dropped: ${rows.toSeq}")
      val r = rows(0)
      assert(r.getAs[String]("measurement") == "boss")
      assert(r.getAs[Map[String, Double]]("fields") == Map("ccdTemp" -> -103.2))
      assert(r.getAs[Map[String, String]]("tags") == Map("units" -> "degC"))
      assert(r.getAs[java.sql.Timestamp]("time").getTime == 1700000000000L)
    } finally engine.stopAll()
  }

  test("config-driven LIVE actor source: yaml type actor -> push socket -> typed points") {
    val spool = Files.createTempDirectory("graft-live-actor-spool-").toString
    val work = Files.createTempDirectory("graft-live-actor-work-").toString
    val server = new LoopbackPushServer(_ => Seq(
      Seq("7 1 i ccdTemp=-10", "1.5\n"))) // split across TCP packets
    server.start()
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  boss_live:
         |    type: actor
         |    actor: boss
         |    host: 127.0.0.1
         |    port: ${server.port}
         |    path: $spool
         |    dictionary:
         |      ccdTemp:
         |        - {type: float, units: degC}
         |observers:
         |  memb: {type: memory}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      val deadline = System.currentTimeMillis() + 20000
      def count(): Long =
        try spark.sql("SELECT count(*) FROM memb").head().getLong(0)
        catch { case _: Throwable => 0L }
      while (count() < 1 && System.currentTimeMillis() < deadline) {
        spark.streams.active.filter(_.name == "memb").foreach(_.processAllAvailable())
        Thread.sleep(100)
      }
      val rows = spark.sql("SELECT * FROM memb").collect()
      assert(rows.length == 1, s"expected the reassembled push point, got ${rows.toSeq}")
      assert(rows(0).getAs[String]("measurement") == "boss")
      assert(rows(0).getAs[Map[String, Double]]("fields") == Map("ccdTemp" -> -101.5))
      assert(rows(0).getAs[Map[String, String]]("tags") == Map("units" -> "degC"))
    } finally { engine.stopAll(); server.stop() }
  }

  test("config-driven LIVE tcp source: yaml host/port -> socket poll -> typed points") {
    // the reference's production shape from YAML: a sens4 device behind a
    // TCP socket, polled live, parsed, landed in a memory observer
    val work = Files.createTempDirectory("graft-live-work-").toString
    val spool = Files.createTempDirectory("graft-live-spool-").toString
    val device = new LoopbackTcpDevice('\\'.toByte, _ =>
      "@253ACKQ1.10E-04,2.00E-02,3.00E-03,25.40,x\\")
    device.start()
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  r1_sens:
         |    type: tcp
         |    host: 127.0.0.1
         |    port: ${device.port}
         |    parser: sens4
         |    device_id: 253
         |    ccd: r1
         |    delay: 0.05
         |    path: $spool
         |observers:
         |  meml: {type: memory}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (device.requests.get() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      assert(device.requests.get() >= 3, "live poller should be conversing")
      // freeze the spool first: processAllAvailable never settles while
      // the poller keeps appending files
      engine.stopPolling()
      spark.streams.active.filter(_.name == "meml").foreach(_.processAllAvailable())
      val rows = spark.sql("SELECT * FROM meml").collect()
      assert(rows.nonEmpty, "live polls must land as points")
      val r = rows(0)
      assert(r.getAs[String]("measurement") == "pressure")
      val f = r.getAs[Map[String, Double]]("fields")
      assert(f("pz") == 1.1e-4 && f("temp") == 25.40)
      assert(r.getAs[Map[String, String]]("tags")("ccd") == "r1")
    } finally {
      engine.stopAll() // also stops the live poll thread
      device.stop()
    }
  }

  test("LiveSource with no parser fails fast, BEFORE starting the poll thread") {
    import graft.control.EngineConfig.SourceConf
    import graft.sources.LiveSource
    // parser-less configs can't turn replies into points; the failure
    // must land before any socket conversation (an orphaned poller would
    // keep polling a live device after the failed engine start)
    val src = LiveSource(SourceConf("bad", "udp",
      Map("host" -> "127.0.0.1", "port" -> "1"), None, Map.empty))
    val before = Thread.getAllStackTraces.keySet.toArray.map(_.asInstanceOf[Thread])
      .count(_.getName.startsWith("graft-poller-"))
    val e = intercept[IllegalArgumentException](src.stream(spark))
    assert(e.getMessage.contains("parser"))
    val after = Thread.getAllStackTraces.keySet.toArray.map(_.asInstanceOf[Thread])
      .count(_.getName.startsWith("graft-poller-"))
    assert(after == before, "no poll thread may be left running")
  }

  test("engine.restart resumes the named query from the SAME checkpoint") {
    import spark.implicits._
    import graft.model.TelemetryPoint
    val dir = Files.createTempDirectory("graft-restart-").toString
    val work = Files.createTempDirectory("graft-restart-work-").toString
    val out = s"$work/data/pqr"
    def point(ts: String, v: Double) = TelemetryPoint("temperature", Map.empty,
      Map("value" -> v), null, java.sql.Timestamp.valueOf(ts), None, None)
    Seq(point("2024-01-01 00:00:00", 1.0)).toDF().write.mode("append").parquet(dir)
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  replay1: {type: replay, path: $dir}
         |observers:
         |  pqr: {type: parquet, path: $out}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      spark.streams.active.filter(_.name == "pqr").foreach(_.processAllAvailable())
      assert(spark.read.parquet(out).count() == 1)

      engine.stop("pqr")
      assert(engine.status == Map("pqr" -> false))
      assert(engine.restart("pqr"), "restart of a known query must succeed")
      assert(engine.status == Map("pqr" -> true))

      // data written AFTER the restart lands in a NEW micro-batch: batch
      // ids continue from the committed checkpoint (a from-scratch start
      // would restart numbering at 0 and re-read the first file into the
      // same __batch leaf)
      Seq(point("2024-01-01 00:00:01", 2.0)).toDF().write.mode("append").parquet(dir)
      spark.streams.active.filter(_.name == "pqr").foreach(_.processAllAvailable())
      val rows = spark.read.parquet(out)
        .select(org.apache.spark.sql.functions.expr("fields['value']"),
          org.apache.spark.sql.functions.col("__batch"))
        .collect().map(r => (r.getDouble(0), r.get(1).toString)).toSet
      assert(rows.map(_._1) == Set(1.0, 2.0), s"no data lost or duplicated: $rows")
      assert(rows.map(_._2).size == 2,
        s"post-restart batch must continue checkpointed numbering, got $rows")

      assert(!engine.restart("no_such_query"), "unknown name must return false")
    } finally engine.stopAll()
  }

  test("status server: second-process status and restart over the unix socket") {
    import spark.implicits._
    import graft.model.TelemetryPoint
    val dir = Files.createTempDirectory("graft-sock-src-").toString
    val work = Files.createTempDirectory("graft-sock-work-").toString
    val sock = Files.createTempDirectory("graft-sock-").resolve("graft.sock")
    Seq(TelemetryPoint("t", Map.empty, Map("value" -> 1.0), null,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), None, None))
      .toDF().write.mode("append").parquet(dir)
    // the second observer's name carries a comma, colons and a quote —
    // config keys are user-authored, and the status reply must survive
    // them as real JSON (VERDICT r9: split(",") rendering broke here)
    val weird = """we,ird:"name"""
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  replay1: {type: replay, path: $dir}
         |observers:
         |  pqs: {type: parquet, path: $work/data/pqs}
         |  "we,ird:\\"name": {type: parquet, path: $work/data/weird}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    val server = new graft.control.StatusServer(engine, sock)
    server.start()
    try {
      spark.streams.active.filter(_.name == "pqs").foreach(_.processAllAvailable())
      // the client half IS the second process's path: connect over the
      // socket, not through the Engine object
      val reply = graft.control.StatusServer.request(sock, "status")
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(reply)
      assert(root.size() == 2, s"both observers in the reply: $reply")
      assert(root.get("pqs").asBoolean())
      // the weird-named query may already have failed (Hadoop paths
      // reject ':' in components — isolation keeps pqs running); what
      // the fix guarantees is that the NAME round-trips as real JSON
      assert(root.has(weird),
        s"special-char observer name must round-trip through the JSON reply: $reply")
      assert(graft.control.StatusServer.request(sock, "restart pqs") == "true")
      assert(graft.control.StatusServer.request(sock, "restart nope") == "false")
      val again = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.control.StatusServer.request(sock, "status"))
      assert(again.get("pqs").asBoolean() && again.has(weird))
    } finally {
      server.stop()
      engine.stopAll()
    }
  }

  test("stopAll stops every live source type's thread") {
    // one source of each live type, all aimed at a closed port: each
    // thread runs (failing into backoff) until stopped
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val work = Files.createTempDirectory("graft-stopall-work-").toString
    val spools = Seq("lv", "ac", "aq", "ht").map(n => n -> Files.createTempDirectory(s"graft-stopall-$n-")).toMap
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  lv: {type: tcp, host: 127.0.0.1, port: $port, parser: sens4, path: '${spools("lv")}'}
         |  ac: {type: actor, host: 127.0.0.1, port: $port, actor: boss, path: '${spools("ac")}'}
         |  aq: {type: amqp, host: 127.0.0.1, port: $port, exchange: actor_exchange,
         |       keywords: [status.temperature], path: '${spools("aq")}'}
         |  ht: {type: http, url: "http://127.0.0.1:$port/env", path: '${spools("ht")}'}
         |observers:
         |  stopall: {type: memory}
         |""".stripMargin)
    val threads = Set("graft-poller-lv", "graft-push-ac", "graft-amqp-aq", "graft-http-ht")
    def alive(): Set[String] = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread]).filter(_.isAlive).map(_.getName).toSet.intersect(threads)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try assert(alive() == threads)
    finally engine.stopAll()
    assert(alive().isEmpty, "every live source must be stopped")
  }

  test("backoff: grows by e, caps, resets") {
    val b = Backoff(initialDelayMs = 1000, jitter = 0.0)
    val d1 = b.nextDelayMs(); val d2 = b.nextDelayMs(); val d3 = b.nextDelayMs()
    assert(d1 == 1000)
    assert(math.abs(d2 - math.E * 1000) < 1)
    assert(math.abs(d3 - math.E * math.E * 1000) < 10)
    (1 to 20).foreach(_ => b.nextDelayMs())
    assert(b.nextDelayMs() <= 3600000)
    b.reset()
    assert(b.nextDelayMs() == 1000)
  }
}
