package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicBoolean
import graft.control.EngineConfig.SourceConf

/** S11 from YAML — the live RabbitMQ source (`AMQP.py:85-216`): an
  * [[AmqpWire.AmqpConnection]] consuming actor reply messages from a
  * topic exchange on a driver daemon thread, spooling one line per
  * delivery (`routingKey\tbody-json`), parsed downstream by
  * [[Parsers.amqpReplies]] into points. Periodic commands
  * (AMQP.py:182-190 `schedule_command`) publish on the same thread
  * between deliveries: the consume wait doubles as the command clock
  * (socket timeout = the finest command interval or 1 s).
  *
  * {{{
  * sources:
  *   lvm_amqp: {type: amqp, host: 10.0.0.9, port: 5672,
  *              user: guest, password: guess, exchange: actor_exchange,
  *              binding_key: "reply.#",
  *              keywords: [status.temperature, status.power.mod1],
  *              groupers: [controller],
  *              commands: {"archon status": 5}}
  * }}}
  *
  * Reconnect identity: a wire error closes the connection; the loop
  * backs off ×e and reconnects from the full handshake (the reference's
  * client-retry isolation). Deliveries are no-ack, so a redelivered
  * message after reconnect is possible — the sink's idempotent dedup
  * absorbs it, same contract as every push source here.
  */
final case class AmqpPushSource(conf: SourceConf) extends SpoolBacked {
  def name: String = conf.name
  def bucket: Option[String] = conf.bucket
  def tags: Map[String, String] = conf.tags

  private def opt(key: String): Option[String] = conf.options.get(key).map(_.toString)
  private def req(key: String): String =
    opt(key).getOrElse(throw new IllegalArgumentException(s"$name: missing option '$key'"))

  private[sources] lazy val spoolDir: String = opt("path").getOrElse(
    new java.io.File(sys.props("java.io.tmpdir"), s"graft-amqp-$name").toString)

  private def commandsConf: Seq[(String, Long)] =
    conf.options.get("commands").map(_.asInstanceOf[Map[String, Any]].toSeq
      .sortBy(_._1)
      .map { case (cmd, iv) => cmd -> (iv.toString.toDouble * 1000).toLong })
      .getOrElse(Seq.empty)

  private val started = new AtomicBoolean(false)
  private val running = new AtomicBoolean(false)
  @volatile private var thread: Thread = _
  @volatile private var conn: AmqpWire.AmqpConnection = _

  private def spoolLine(line: String): Unit = {
    val dir = Paths.get(spoolDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".amqp-${System.nanoTime()}.tmp")
    val dst = dir.resolve(s"amqp-${System.nanoTime()}.txt")
    // PollingSource's publish contract: one record line (`payload \t
    // epoch-millis`), atomic move so the stream never reads a torn file
    Files.writeString(tmp, s"$line\t${System.currentTimeMillis()}\n")
    Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def runLoop(): Unit = {
    val backoff = Backoff()
    val commands = commandsConf
    val idleMs = math.max(200L,
      (commands.map(_._2) :+ 1000L).min / 2)
    val exchange = req("exchange")
    val lastSent = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    while (running.get()) {
      try {
        if (conn == null || !conn.isConnected) {
          conn = new AmqpWire.AmqpConnection(req("host"),
            opt("port").map(_.toInt).getOrElse(5672),
            opt("user").getOrElse("guest"), opt("password").getOrElse("guest"),
            opt("vhost").getOrElse("/"),
            timeoutMs = idleMs.toInt,
            connectTimeoutMs = opt("timeout_ms").map(_.toInt).getOrElse(5000))
          conn.connect()
          conn.consumeTopic(exchange, opt("binding_key").getOrElse("reply.#"))
          lastSent.clear() // a fresh connection re-sends commands immediately
        }
        // due commands first (reference: send, then sleep — so the first
        // tick after connect sends immediately)
        val now = System.currentTimeMillis()
        commands.foreach { case (cmd, iv) =>
          if (now - lastSent(cmd) >= iv) {
            val actor = cmd.split(" ").head
            conn.publish(exchange, s"command.$actor",
              cmd.split(" ").drop(1).mkString(" "))
            lastSent(cmd) = now
          }
        }
        // body base64'd: a pretty-printed (multi-line) JSON body must
        // survive the line-oriented spool byte-exactly
        conn.nextDelivery().foreach { d =>
          val b64 = java.util.Base64.getEncoder
            .encodeToString(d.body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          spoolLine(s"${d.routingKey}\t$b64")
        }
        backoff.reset()
      } catch {
        case _: InterruptedException => running.set(false)
        case _: Throwable =>
          if (conn != null) conn.close()
          val sleep = backoff.nextDelayMs()
          try Thread.sleep(sleep)
          catch { case _: InterruptedException => running.set(false) }
      }
    }
    if (conn != null) conn.close()
  }

  def spool(): SpoolSource = {
    val keywords = conf.options.get("keywords")
      .map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Seq.empty)
    require(keywords.nonEmpty,
      s"$name: 'keywords' is required (dotted body paths — the engine's " +
        "static form of the reference's dynamic flatten, like T3's whitelist)")
    req("exchange") // validate before the daemon starts
    // the streaming text read rejects a missing path — create it before
    // the first delivery does
    Files.createDirectories(Paths.get(spoolDir))
    if (started.compareAndSet(false, true)) {
      running.set(true)
      thread = new Thread(() => runLoop(), s"graft-amqp-$name")
      thread.setDaemon(true)
      thread.start()
    }
    SpoolSource(conf.copy(options =
      conf.options + ("path" -> spoolDir) + ("parser" -> "amqp")))
  }

  /** Stop the consumer and wait for its thread, so "stopped" means the
    * spool is frozen (spool and stream remain readable). */
  def stopConsuming(): Unit = {
    running.set(false)
    val t = thread
    if (t != null) {
      t.interrupt()
      // unblocks a consume wait mid-read
      val c = conn
      if (c != null) c.close()
      if (t != Thread.currentThread())
        try t.join(5000) catch { case _: InterruptedException => () }
    }
    started.set(false)
  }
}
