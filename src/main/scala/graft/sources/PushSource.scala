package graft.sources

import java.io.{InputStreamReader, Reader}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StatefulOps
import graft.transforms.KeywordProcessor

/** Push-mode live transport — the persistent server-push connection the
  * reference's production sources hold open (`TronConnection` subscribe,
  * cerebro/sources/tron.py:102-244; `ActorClientSource`'s hand-rolled
  * receive buffering, tron.py:247-454): connect once, optionally write
  * periodic commands, and receive UNSOLICITED lines for as long as the
  * connection lives. The complement of [[PollingSource]]'s request/reply
  * ticks.
  *
  * A [[Supervised]] driver daemon thread owns the socket: it connects
  * (with [[Backoff]] between failures, reset on success), writes every
  * configured command `"\n"`-terminated each `commandIntervalMs`
  * (immediately on connect first — reference `schedule_command` writes
  * then sleeps, tron.py:196-204/369-384), and spools whatever the
  * socket delivers as RAW CHUNKS — one JSON line
  * `{"conn","seq","data","ts"}` per read, published whole by a
  * [[SpoolPublisher]] (`.json`). Framing is deliberately NOT done here:
  * the spool is a faithful transport log (chunks split mid-line exactly
  * where TCP split them), and line reassembly is the streaming state
  * operator [[StatefulOps.reassembleTsLines]] — the same chain the q52
  * oracle pins, now fed by a live socket. Chunks are read through an
  * `InputStreamReader` so a multi-byte UTF-8 character split across TCP
  * packets is buffered inside the decoder, never torn across spool
  * records.
  *
  * ==Reconnect identity==
  * Every successful connect gets a FRESH connection id (`name-inc-k`)
  * with chunk seq restarting at 0: a dead connection's trailing partial
  * line must not be spliced onto the next connection's first bytes (the
  * reference abandons its receive buffer on close, tron.py:355-358).
  * The dead id's carried partial simply never completes — bounded state,
  * evictable via the reassembly op's `idleTimeoutMs`.
  *
  * ==Scale shape==
  * One daemon thread and one socket per source — the transport
  * serializes at the device exactly like the reference's asyncio
  * protocol; everything downstream of the spool (reassembly state op,
  * reply grammar, dictionary typing) is partitioned by connection id
  * across the cluster.
  */
final class PushSource(
    val name: String,
    spoolDir: String,
    host: String,
    port: Int,
    commands: Seq[String] = Nil,
    commandIntervalMs: Long = 60000L,
    backoff: Backoff = Backoff(),
    connectTimeoutMs: Int = 5000,
    soTimeoutMs: Int = 250,
    readChunkChars: Int = 8192,
    retentionMs: Long = 0L,
    val bucket: Option[String] = None,
    val tags: Map[String, String] = Map.empty) extends TelemetrySource {

  private val publisher = new SpoolPublisher(spoolDir, name, "json", retentionMs)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val buf = new Array[Char](readChunkChars)
  // connection state, owned by the loop thread; `socket` is also closed by stop()
  @volatile private var socket: Socket = null
  private var reader: Reader = null
  private var connId: String = null
  private var connCount = 0L
  private var chunkSeq = 0L
  private var lastCmdAt = 0L

  private val loop = new Supervised(s"graft-push-$name", backoff, () => {
    val s = socket
    socket = null
    if (s != null) s.close()
  })(() => {
    if (socket == null) connect()
    val now = System.currentTimeMillis()
    if (commands.nonEmpty && now - lastCmdAt >= commandIntervalMs) {
      val out = socket.getOutputStream
      commands.foreach(c => out.write((c + "\n").getBytes(UTF_8)))
      out.flush()
      lastCmdAt = now
    }
    try {
      val n = reader.read(buf)
      if (n == -1) throw new java.io.EOFException(s"$host:$port closed")
      if (n > 0) {
        publishChunk(new String(buf, 0, n))
        chunkSeq += 1
      }
    } catch {
      case _: SocketTimeoutException => () // idle tick: re-check commands/running
    }
    0L
  })

  /** A fresh connection id with chunk seq 0, and the first command burst
    * due at once. */
  private def connect(): Unit = {
    val s = new Socket()
    socket = s // a failed or stopped connect is closed by the close hook
    s.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    s.setSoTimeout(soTimeoutMs)
    reader = new InputStreamReader(s.getInputStream, UTF_8)
    connId = s"$name-${publisher.incarnation}-$connCount"
    connCount += 1
    chunkSeq = 0L
    lastCmdAt = 0L
  }

  def start(): Unit = loop.start()
  def stop(): Unit = loop.stop()

  private def publishChunk(data: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("conn", connId)
    node.put("seq", chunkSeq)
    node.put("data", data)
    node.put("ts", System.currentTimeMillis())
    publisher.publish(mapper.writeValueAsString(node).getBytes(UTF_8))
  }

  /** Executor-side half: the raw chunk stream (pair with
    * [[StatefulOps.reassembleTsLines]]). JSON decodes `ts` from epoch
    * millis via the schema's TimestampType + explicit format. */
  def chunkStream(spark: SparkSession): Dataset[StatefulOps.TsChunk] = {
    import spark.implicits._
    spark.readStream
      .schema(StructType(Seq(
        StructField("conn", StringType), StructField("seq", LongType),
        StructField("data", StringType), StructField("ts", LongType))))
      // a reader lagging past an active retention window must degrade to
      // the sweep's documented loss contract, not die on a swept file
      // (see SpoolRetention)
      .options(if (retentionMs > 0) Map("ignoreMissingFiles" -> "true")
               else Map.empty[String, String])
      .json(spoolDir)
      .select(col("conn"), col("seq"), col("data"),
        timestamp_millis(col("ts")).as("ts"))
      .as[StatefulOps.TsChunk]
  }

  /** Default stream: reassembled lines with receive timestamps, as a
    * DataFrame `(conn, line, recv_time)`. Callers compose a parser. */
  def stream(spark: SparkSession): DataFrame =
    StatefulOps.reassembleTsLines(chunkStream(spark),
      idleTimeoutMs = 0L).toDF()
}

/** Config-driven LIVE actor source — the YAML-expressible form of the
  * reference's `TronSource`/`ActorClientSource` entries (S9/S10,
  * cerebro/sources/tron.py:102-454): a [[PushSource]] holds the
  * persistent connection (periodic command writes + unsolicited push
  * lines into a chunk spool), and the streaming side runs the full S10
  * chain — [[StatefulOps.reassembleTsLines]] → [[ActorReplies.parse]]
  * (reply grammar + dictionary typing + broadcast drop) →
  * [[graft.transforms.KeywordProcessor.process]] — to uniform points.
  *
  * {{{
  * sources:
  *   boss_actor: {type: actor, host: 10.0.0.9, port: 6093, actor: boss,
  *                commands: ["status"], interval: 60,
  *                dictionary: {...}, keyword_tags: {...},
  *                store_broadcasts: true}
  * }}}
  *
  * `store_broadcasts` defaults TRUE here (unlike the replay arm): a
  * push feed's point is the unsolicited traffic (TronSource records
  * everything it hears); set it false for the reference's
  * ActorClientSource behavior of keeping only command replies. */
final case class ActorPushSource(conf: graft.control.EngineConfig.SourceConf)
    extends TelemetrySource {
  def name: String = conf.name
  def bucket: Option[String] = conf.bucket
  def tags: Map[String, String] = conf.tags

  import conf.{opt, req}

  @volatile private var pusher: PushSource = _

  private[sources] lazy val spoolDir: String = opt("path").getOrElse(
    new java.io.File(sys.props("java.io.tmpdir"), s"graft-live-$name").toString)

  def stream(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // validate the whole chain before the connection side effect
    val dict = ActorReplies.KeysDictionary(req("actor"),
      SpoolSource.dictionaryConf(conf.options))
    val host = req("host")
    val port = req("port").toInt
    val src = synchronized {
      if (pusher == null) {
        val commands = conf.options.get("commands")
          .map(_.asInstanceOf[List[Any]].map(_.toString)).getOrElse(Nil)
        pusher = new PushSource(name, spoolDir, host, port,
          commands = commands,
          commandIntervalMs = opt("interval").map(s => (s.toDouble * 1000).toLong)
            .getOrElse(60000L),
          retentionMs = opt("retention_ms").map(_.toLong).getOrElse(0L),
          bucket = bucket, tags = tags)
      }
      pusher
    }
    // idempotent across engine restarts, which re-call stream()
    src.start()
    val lines = StatefulOps.reassembleTsLines(src.chunkStream(spark),
      idleTimeoutMs = opt("idle_timeout_ms").map(_.toLong).getOrElse(0L))
      .map(lo => ActorReplies.ReplyLine(lo.line, lo.recv_time))
    KeywordProcessor.process(
      ActorReplies.parse(lines, dict,
        storeBroadcasts = opt("store_broadcasts").forall(_.toBoolean)).toDF(),
      tags = tags,
      keywordTags = SpoolSource.keywordTagsConf(conf.options),
      casts = SpoolSource.castsConf(conf.options),
      bucket = bucket.getOrElse("sensors"))
  }

  override def stopWriter(): Unit = if (pusher != null) pusher.stop()
}
