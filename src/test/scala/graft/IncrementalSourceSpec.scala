package graft

import java.nio.file.{Files, Paths}

class IncrementalSourceSpec extends SparkSpec {

  private def writeJsonl(dir: String, name: String, rows: Seq[(Long, String, Double)]): Unit =
    Files.write(Paths.get(dir, name),
      rows.map { case (ts, m, v) => s"""{"ts":$ts,"measurement":"$m","value":$v}""" }
        .mkString("\n").getBytes("UTF-8"))

  test("row-level incremental offsets: growing file yields only new rows, no duplicates") {
    val dir = Files.createTempDirectory("graft-inc-").toString
    val ckpt = Files.createTempDirectory("graft-inc-ckpt-").toString
    writeJsonl(dir, "a.jsonl", Seq((1000L, "temp", 1.0), (2000L, "temp", 2.0)))

    val stream = spark.readStream.format("graft.sources.IncrementalSource")
      .option("path", dir).load()
    val q = stream.writeStream.queryName("inc_mem").format("memory")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM inc_mem").head().getLong(0) == 2)

      // the SAME file grows (file-tracking sources would re-read or miss;
      // ts offsets pick up exactly the new rows)
      writeJsonl(dir, "a.jsonl", Seq(
        (1000L, "temp", 1.0), (2000L, "temp", 2.0),
        (3000L, "temp", 3.0), (4000L, "hum", 4.0)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT measurement, value FROM inc_mem ORDER BY value")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(rows == Seq(("temp", 1.0), ("temp", 2.0), ("temp", 3.0), ("hum", 4.0)))

      // a second file appears -> only its rows beyond the offset arrive
      writeJsonl(dir, "b.jsonl", Seq((3500L, "old", 9.0), (5000L, "temp", 5.0)))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM inc_mem").head().getLong(0)
      // 3500 <= current offset 4000 -> that row is (correctly, per the
      // reference's semantics) skipped; 5000 arrives
      assert(n == 5)
      assert(spark.sql("SELECT count(*) FROM inc_mem WHERE measurement='old'")
        .head().getLong(0) == 0)
    } finally q.stop()
  }

  test("latestOffset caches per-file maxTs: unchanged files perform zero line reads") {
    val dir = Files.createTempDirectory("graft-inc3-").toString
    writeJsonl(dir, "a.jsonl", Seq((1000L, "temp", 1.0), (2000L, "temp", 2.0)))
    writeJsonl(dir, "b.jsonl", Seq((1500L, "hum", 3.0)))

    var linesRead = 0
    val counting: java.io.File => Iterator[String] = f => {
      val it = scala.io.Source.fromFile(f).getLines().toIndexedSeq.iterator
      it.map { l => linesRead += 1; l }
    }
    val tracker = new graft.sources.SpoolTracker(dir, counting)

    assert(tracker.maxTs() == 2000L)
    assert(linesRead == 3) // first trigger reads everything once

    // second trigger, nothing changed -> file-metadata only, ZERO line reads
    assert(tracker.maxTs() == 2000L)
    assert(linesRead == 3)

    // b.jsonl grows -> only b is re-read (its 2 lines), a is untouched
    writeJsonl(dir, "b.jsonl", Seq((1500L, "hum", 3.0), (5000L, "hum", 4.0)))
    assert(tracker.maxTs() == 5000L)
    assert(linesRead == 5)

    // deleted file is evicted and a new one is scanned fresh
    Files.delete(Paths.get(dir, "a.jsonl"))
    writeJsonl(dir, "c.jsonl", Seq((6000L, "temp", 6.0)))
    assert(tracker.maxTs() == 6000L)
    assert(linesRead == 6)
  }

  test("filesNewerThan prunes files whose cached maxTs is at or below the offset") {
    val dir = Files.createTempDirectory("graft-inc4-").toString
    writeJsonl(dir, "a.jsonl", Seq((1000L, "temp", 1.0), (2000L, "temp", 2.0)))
    writeJsonl(dir, "b.jsonl", Seq((1500L, "hum", 3.0)))
    val tracker = new graft.sources.SpoolTracker(dir)

    // cache not yet populated -> conservative: everything included
    assert(tracker.filesNewerThan(10000L).map(_.getName) == Seq("a.jsonl", "b.jsonl"))

    tracker.maxTs() // populate cache: a -> 2000, b -> 1500
    // steady state at offset 2000: no file can contribute -> empty plan
    assert(tracker.filesNewerThan(2000L).isEmpty)
    // offset 1500: only a has rows beyond it
    assert(tracker.filesNewerThan(1500L).map(_.getName) == Seq("a.jsonl"))

    // b grows but maxTs() hasn't run yet -> length mismatch, included
    // conservatively even though its cached ts is stale
    writeJsonl(dir, "b.jsonl", Seq((1500L, "hum", 3.0), (9000L, "hum", 4.0)))
    assert(tracker.filesNewerThan(2000L).map(_.getName) == Seq("b.jsonl"))

    // new file never seen -> included
    writeJsonl(dir, "c.jsonl", Seq((500L, "temp", 0.5)))
    assert(tracker.filesNewerThan(2000L).map(_.getName).toSet == Set("b.jsonl", "c.jsonl"))
  }

  test("S15/S16 live HTTP poll: watermark-resumed GETs feed row-level offsets over a real socket") {
    // loopback "LCO environment service" (lco.py:116-122 shape): GET
    // ?start_ts=<ISO seconds> returns the in-memory rows with ts >=
    // start_ts — INCLUSIVE, like an API that re-sends the boundary
    // second the reference's truncated resume point re-requests; the
    // poller must dedup client-side.
    val store = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/env/seeing", (ex: com.sun.net.httpserver.HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      requests.add(q)
      val startTs = q.split("&").collectFirst {
        case kv if kv.startsWith("start_ts=") =>
          java.time.LocalDateTime.parse(kv.stripPrefix("start_ts="))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }.getOrElse(0L)
      val rows = store.toArray(Array.empty[(Long, String, Double)])
        .filter(_._1 >= startTs).sortBy(_._1)
        .map { case (ts, m, v) =>
          val iso = java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochMilli(ts), java.time.ZoneOffset.UTC).toString
          s"""{"ts":"$iso","measurement":"$m","value":$v}"""
        }
      val body = rows.mkString("[", ",", "]").getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    val dir = Files.createTempDirectory("graft-http-inc-").toString
    val ckpt = Files.createTempDirectory("graft-http-inc-ckpt-").toString
    store.add((1700000001500L, "seeing", 0.8)) // .5s fraction: exercises second-truncation
    store.add((1700000002000L, "seeing", 0.9))
    val poller = new graft.sources.HttpIncrementalPoller("dimm", dir,
      s"http://127.0.0.1:$port/env/seeing", intervalMs = 50,
      backoff = graft.sources.Backoff(initialDelayMs = 20, maxDelayMs = 200))
    poller.start()
    def waitFor(what: String, timeoutMs: Long = 20000)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(cond, s"timed out waiting for: $what")
    }
    val outDir = Files.createTempDirectory("graft-http-inc-out-").toString
    def sunk(): Seq[Double] =
      try spark.read.parquet(outDir).orderBy("value")
        .collect().map(_.getAs[Double]("value")).toSeq
      catch { case _: Throwable => Seq.empty }
    val q = spark.readStream.format("graft.sources.IncrementalSource")
      .option("path", dir).load()
      .writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      waitFor("first fetch")(poller.lastTsMs == 1700000002000L)
      q.processAllAvailable()
      assert(sunk().size == 2)

      // watermark resume on the wire: the NEXT request must carry the
      // last row's ts truncated to seconds (lco.py's isoformat resume)
      waitFor("a resumed request")(
        requests.toArray(Array.empty[String]).exists(_.contains("start_ts=2023-11-14T22:13:22")))

      // new data on the server: fetched incrementally, boundary second
      // re-sent by the server but deduped client-side
      store.add((1700000003000L, "seeing", 1.1))
      waitFor("incremental fetch")(poller.lastTsMs == 1700000003000L)
      q.processAllAvailable()
      val vals = sunk()
      assert(vals == Seq(0.8, 0.9, 1.1), s"got $vals")

      // outage: server dies, poller backs off from the SAME watermark;
      // on rebind nothing is lost and nothing duplicates
      server.stop(0)
      store.add((1700000004000L, "seeing", 1.3))
      Thread.sleep(300)
      val server2 = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", port), 0)
      server2.createContext("/env/seeing", (ex: com.sun.net.httpserver.HttpExchange) => {
        val q2 = Option(ex.getRequestURI.getQuery).getOrElse("")
        val startTs = q2.split("&").collectFirst {
          case kv if kv.startsWith("start_ts=") =>
            java.time.LocalDateTime.parse(kv.stripPrefix("start_ts="))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }.getOrElse(0L)
        val rows = store.toArray(Array.empty[(Long, String, Double)])
          .filter(_._1 >= startTs).sortBy(_._1)
          .map { case (ts, m, v) =>
            val iso = java.time.LocalDateTime.ofInstant(
              java.time.Instant.ofEpochMilli(ts), java.time.ZoneOffset.UTC).toString
            s"""{"ts":"$iso","measurement":"$m","value":$v}"""
          }
        val body = rows.mkString("[", ",", "]").getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server2.start()
      try {
        waitFor("post-outage fetch")(poller.lastTsMs == 1700000004000L)
        q.processAllAvailable()
        val after = sunk()
        assert(after == Seq(0.8, 0.9, 1.1, 1.3), s"got $after")
      } finally server2.stop(0)

      // stream restart from the checkpoint: offsets resume, no replays
      q.stop()
      store.add((1700000005000L, "seeing", 1.5))
      // server2 already stopped; poller can't fetch this one — write it
      // through the spool path the poller would take, proving the STREAM
      // side resumes purely from its checkpointed ts offset
      Files.write(Paths.get(dir, "dimm.jsonl"),
        "{\"ts\":1700000005000,\"measurement\":\"seeing\",\"value\":1.5}\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      val q2 = spark.readStream.format("graft.sources.IncrementalSource")
        .option("path", dir).load()
        .writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        q2.processAllAvailable()
        val resumed = sunk()
        assert(resumed == Seq(0.8, 0.9, 1.1, 1.3, 1.5),
          s"restart must deliver ONLY the new row on top of the sunk set, got $resumed")
      } finally q2.stop()
    } finally { poller.stop(); q.stop() }
  }

  /** Loopback environment API: `GET ?start_ts=<ISO seconds>` returns the
    * rows of `store` with ts >= start_ts, inclusive like the reference's. */
  private def envServer(store: Seq[(Long, String, Double)],
      requests: java.util.concurrent.atomic.AtomicInteger): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/env", (ex: com.sun.net.httpserver.HttpExchange) => {
      requests.incrementAndGet()
      val startTs = Option(ex.getRequestURI.getQuery).getOrElse("").split("&").collectFirst {
        case kv if kv.startsWith("start_ts=") =>
          java.time.LocalDateTime.parse(kv.stripPrefix("start_ts="))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }.getOrElse(0L)
      val body = store.filter(_._1 >= startTs).map { case (ts, m, v) =>
        val iso = java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(ts), java.time.ZoneOffset.UTC).toString
        s"""{"ts":"$iso","measurement":"$m","value":$v}"""
      }.mkString("[", ",", "]").getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    server
  }

  private def pollSpool(dir: String, store: Seq[(Long, String, Double)])(
      until: graft.sources.HttpIncrementalPoller => Boolean): Unit = {
    val requests = new java.util.concurrent.atomic.AtomicInteger()
    val server = envServer(store, requests)
    val poller = new graft.sources.HttpIncrementalPoller("dimm", dir,
      s"http://127.0.0.1:${server.getAddress.getPort}/env", intervalMs = 20)
    poller.start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (!(requests.get() >= 3 && until(poller)) && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      assert(requests.get() >= 3 && until(poller), "poller never caught up")
    } finally { poller.stop(); server.stop(0) }
  }

  private val seeing = Seq((1700000001000L, "seeing", 0.8), (1700000002000L, "seeing", 0.9),
    (1700000003000L, "seeing", 1.1))

  test("a poller restarted on a non-empty spool re-appends nothing") {
    val dir = Files.createTempDirectory("graft-http-resume-").toString
    writeJsonl(dir, "dimm.jsonl", seeing.take(2)) // whole rows, last one unterminated
    pollSpool(dir, seeing)(_.lastTsMs == 1700000003000L)
    val ts = Files.readAllLines(Paths.get(dir, "dimm.jsonl")).toArray.toSeq
      .map(l => new com.fasterxml.jackson.databind.ObjectMapper().readTree(l.toString).get("ts").asLong)
    assert(ts == seeing.map(_._1), s"spool rows: $ts")
  }

  test("a poller started on a torn-tail spool leaves a file the stream reads, each row once") {
    val dir = Files.createTempDirectory("graft-http-torn-").toString
    writeJsonl(dir, "dimm.jsonl", seeing.take(2))
    Files.write(Paths.get(dir, "dimm.jsonl"), "\n{\"ts\":17000000030".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND) // a poller died mid-write
    pollSpool(dir, seeing)(_.lastTsMs == 1700000003000L)
    val ckpt = Files.createTempDirectory("graft-http-torn-ckpt-").toString
    val q = spark.readStream.format("graft.sources.IncrementalSource")
      .option("path", dir).load()
      .writeStream.queryName("inc_torn").format("memory")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val vals = spark.sql("SELECT value FROM inc_torn").collect().map(_.getDouble(0)).sorted.toSeq
    assert(vals == seeing.map(_._3), s"stream rows: $vals")
  }

  test("timestamps arrive as proper TimestampType") {
    val dir = Files.createTempDirectory("graft-inc2-").toString
    val ckpt = Files.createTempDirectory("graft-inc2-ckpt-").toString
    writeJsonl(dir, "a.jsonl", Seq((1700000000000L, "temp", 1.0)))
    val q = spark.readStream.format("graft.sources.IncrementalSource")
      .option("path", dir).load()
      .writeStream.queryName("inc_mem2").format("memory")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val ts = spark.sql("SELECT ts FROM inc_mem2").head().getTimestamp(0)
      assert(ts.getTime == 1700000000000L)
    } finally q.stop()
  }
}
