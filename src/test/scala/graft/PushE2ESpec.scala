package graft

import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.control.EngineConfig.SourceConf
import graft.sources.{ActorPushSource, Backoff, PushSource}
import graft.streaming.StatefulOps

/** In-process PUSH server — stands in for Tron / a CLU actor
  * (tron.py:102-454): accepts connections, records every command LINE
  * the client writes, and pushes a scripted sequence of unsolicited
  * reply lines, including one deliberately split across two TCP writes
  * with a flush+pause between (so the client's reads see the halves as
  * separate chunks). Killable and rebindable on the same port. */
final class LoopbackPushServer(script: Int => Seq[Seq[String]], paceMs: Long = 0) {
  val commandLines = new ConcurrentLinkedQueue[String]()
  val connections = new AtomicInteger(0)
  /** Scripts fully written+flushed — the test's pre-outage barrier. */
  val completedScripts = new AtomicInteger(0)
  @volatile private var server = new ServerSocket(0)
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  def port: Int = server.getLocalPort

  private def serve(s: ServerSocket): Unit =
    try {
      while (!s.isClosed) {
        val conn = s.accept()
        conn.setTcpNoDelay(true) // each write must leave as its own packet
        conns.add(conn)
        val connIdx = connections.getAndIncrement()
        val reader = new Thread(() => {
          try {
            val in = new java.io.BufferedReader(
              new java.io.InputStreamReader(conn.getInputStream, UTF_8))
            var line = in.readLine()
            while (line != null) { commandLines.add(line); line = in.readLine() }
          } catch { case _: java.io.IOException => () }
        })
        reader.setDaemon(true)
        reader.start()
        val writer = new Thread(() => {
          try {
            val out = conn.getOutputStream
            script(connIdx).foreach { fragments =>
              // each inner Seq is one flush boundary; a >1-fragment line
              // is the split-across-packets case
              fragments.foreach { frag =>
                out.write(frag.getBytes(UTF_8))
                out.flush()
                if (fragments.length > 1) Thread.sleep(300)
              }
              if (paceMs > 0) Thread.sleep(paceMs)
            }
            completedScripts.incrementAndGet()
          } catch { case _: java.io.IOException => () }
        })
        writer.setDaemon(true)
        writer.start()
      }
    } catch { case _: SocketException => () }

  def start(): Unit = {
    val t = new Thread(() => serve(server))
    t.setDaemon(true)
    t.start()
  }

  /** Full outage: listener and every established connection die. */
  def stop(): Unit = {
    server.close()
    conns.forEach(c => try c.close() catch { case _: java.io.IOException => () })
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

/** S9/S10 push-mode live transport end-to-end: a loopback actor server
  * pushes unsolicited multi-line replies (one split mid-line across TCP
  * packets), the server dies and rebinds mid-run, and the full chain —
  * PushSource chunk spool → reassembleTsLines → ActorReplies.parse →
  * KeywordProcessor — lands oracle-known points. */
class PushE2ESpec extends SparkSpec {
  import spark.implicits._

  private def waitFor(what: String, timeoutMs: Long = 20000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(25)
    assert(cond, s"timed out waiting for: $what")
  }

  test("push transport: unsolicited lines, split line, periodic commands, outage + rebind") {
    val spool = Files.createTempDirectory("graft-push-spool-").toString
    // connection 0: two complete reply lines, then one line split across
    // two packets with a 300 ms gap, then a malformed line (dropped by
    // the grammar) and a quoted value exercising the splitter.
    // connection 1 (after the outage): one more keyword plus a broadcast
    // (commandId 0 — kept: store_broadcasts defaults true on the push arm).
    val server = new LoopbackPushServer({
      case 0 => Seq(
        Seq("1 2 i val=1.5,10\n"),
        Seq("2 2 i status=ok\n"),
        Seq("3 2 i val=2.5,20; sta", "tus=\"bad; worse\"\n"), // split + quoted
        Seq("!! not a reply\n"))
      case _ => Seq(
        Seq("4 1 i val=3.5,30\n"),
        Seq("0 0 i status=bcast\n"))
    }, paceMs = 100)
    server.start()
    val src = new PushSource("actor-live", spool, "127.0.0.1", server.port,
      commands = Seq("status"), commandIntervalMs = 60000,
      backoff = Backoff(initialDelayMs = 20, maxDelayMs = 200))
    src.start()
    try {
      def spoolFiles = {
        val fs = new java.io.File(spool).listFiles()
        if (fs == null) 0 else fs.count(_.getName.endsWith(".json"))
      }
      // barrier: conn 0's script fully flushed AND its bytes spooled —
      // the outage must not truncate the split line
      waitFor("first connection's script flushed + spooled")(
        server.completedScripts.get() >= 1 && spoolFiles >= 3)
      Thread.sleep(400) // let the last flushed chunk land in the spool
      // the command burst fired immediately on connect
      assert(server.commandLines.contains("status"),
        s"server never received the periodic command: ${server.commandLines}")
      // Outage mid-run: EOF on the reader, backoff, reconnect to the
      // SAME port after rebind — a fresh connection id, seq from 0.
      server.stop()
      Thread.sleep(250)
      server.restart()
      waitFor("reconnect + second connection's script flushed")(
        server.completedScripts.get() >= 2)
      Thread.sleep(400)
      src.stop()

      // chain: chunks -> reassembled ts lines -> grammar -> typed points
      val dict = graft.sources.ActorReplies.KeysDictionary("probe", Map(
        "val" -> graft.sources.ActorReplies.KeyDef(Seq(
          graft.sources.ActorReplies.FloatType("x"),
          graft.sources.ActorReplies.FloatType("y"))),
        "status" -> graft.sources.ActorReplies.KeyDef(Seq(
          graft.sources.ActorReplies.StringType("state")))))
      val lines = StatefulOps.reassembleTsLines(src.chunkStream(spark))
        .map(lo => graft.sources.ActorReplies.ReplyLine(lo.line, lo.recv_time))
      val points = graft.transforms.KeywordProcessor.process(
        graft.sources.ActorReplies.parse(lines, dict, storeBroadcasts = true).toDF())
      val out = Files.createTempDirectory("graft-push-out-").toString
      val q = points.writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()

      val result = spark.read.parquet(s"$out/data")
      // numeric keywords: val crossed both connections AND the outage;
      // the split line's 2.5/20 must be present exactly once
      val xs = result.select(explode(col("fields")))
        .filter(col("key") === "val_x")
        .select("value").as[Double].collect().sorted.toSeq
      assert(xs == Seq(1.5, 2.5, 3.5),
        s"expected val_x {1.5, 2.5, 3.5} exactly once each, got $xs")
      val ys = result.select(explode(col("fields")))
        .filter(col("key") === "val_y")
        .select("value").as[Double].collect().sorted.toSeq
      assert(ys == Seq(10.0, 20.0, 30.0))
      // string keyword: the quoted split tail reassembled verbatim, and
      // the broadcast (commandId 0) kept under store_broadcasts=true
      val states = result.select(explode(col("fields_str")))
        .filter(col("key") === "status_state")
        .select("value").as[String].collect().toSet
      assert(states == Set("ok", "bad; worse", "bcast"), s"got $states")
      // one point per typed VALUE: three 2-slot vals + three 1-slot
      // statuses = 9; the malformed line contributed nothing
      assert(result.count() == 9, s"expected 9 points, got ${result.count()}")
    } finally { src.stop(); server.stop() }
  }

  test("ActorPushSource: the YAML-expressible arm composes the same chain") {
    val spool = Files.createTempDirectory("graft-actorpush-spool-").toString
    val server = new LoopbackPushServer(_ => Seq(
      Seq("1 2 i temp=21.5\n"),
      Seq("2 2 i te", "mp=22.5\n"))) // split line through the config arm too
    server.start()
    val conf = SourceConf("boss_live", "actor", Map(
      "host" -> "127.0.0.1", "port" -> server.port.toString,
      "actor" -> "boss",
      "commands" -> List("status"), "interval" -> "60",
      "path" -> spool,
      "dictionary" -> Map(
        "temp" -> List(Map("name" -> "t", "type" -> "float", "units" -> "C")))),
      Some("sensors"), Map("site" -> "lab"))
    val src = ActorPushSource(conf)
    val points = src.stream(spark) // starts the pusher
    try {
      waitFor("pushes spooled") {
        val fs = new java.io.File(spool).listFiles()
        server.completedScripts.get() >= 1 &&
          fs != null && fs.count(_.getName.endsWith(".json")) >= 2
      }
      Thread.sleep(400) // last flushed chunk lands
      src.stopWriter()
      val out = Files.createTempDirectory("graft-actorpush-out-").toString
      val q = points.writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val result = spark.read.parquet(s"$out/data")
      val temps = result.select(explode(col("fields")))
        .filter(col("key") === "temp_t")
        .select("value").as[Double].collect().sorted.toSeq
      assert(temps == Seq(21.5, 22.5), s"got $temps")
      assert(result.select("measurement").distinct().as[String].collect().toSeq
        == Seq("boss"))
      val tags = result.select("tags").collect().head.getAs[Map[String, String]](0)
      assert(tags("site") == "lab")
      assert(result.select("bucket").distinct().as[String].collect().toSeq
        == Seq("sensors"))
    } finally { src.stopWriter(); server.stop() }
  }

  test("push spool retention keeps the directory bounded without losing unread-but-recent data") {
    val spool = Files.createTempDirectory("graft-push-ret-").toString
    // a chatty server: one line every ~30 ms, far longer than the test
    val server = new LoopbackPushServer(_ =>
      (1 to 10000).map(i => Seq(s"1 1 i n=$i\n")), paceMs = 30)
    server.start()
    val src = new PushSource("ret-live", spool, "127.0.0.1", server.port,
      retentionMs = 700, soTimeoutMs = 50)
    src.start()
    try {
      def files = {
        val fs = new java.io.File(spool).listFiles()
        if (fs == null) Array.empty[java.io.File]
        else fs.filter(_.getName.endsWith(".json"))
      }
      waitFor("spool active")(files.length >= 3)
      Thread.sleep(2500) // ~3.5 retention windows of continuous pushing
      // snapshot mtimes and drop 0s (a file deleted by the sweep between
      // listFiles and lastModified reads as 0 — not a real mtime)
      val mtimes = files.map(_.lastModified()).filter(_ > 0)
      assert(mtimes.nonEmpty, "recent files must survive the sweep")
      // the sweep runs on every publish, so nothing older than the
      // retention window (+ generous slack) can remain — without the
      // sweep the oldest file would be ~3 s old here
      val oldestAgeMs = System.currentTimeMillis() - mtimes.min
      assert(oldestAgeMs < 2000,
        s"retention never deleted: oldest surviving file is $oldestAgeMs ms old")
      // and the directory is bounded near window/pace, not total-chunks
      assert(mtimes.length < 60,
        s"expected a bounded spool (~23 files at 700 ms / 30 ms), got ${mtimes.length}")
    } finally { src.stop(); server.stop() }
  }
}
