package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import graft.control.EngineConfig.SourceConf

/** S11 from YAML — the live RabbitMQ source (`AMQP.py:85-216`): an
  * [[AmqpWire.AmqpConnection]] consuming actor reply messages from a
  * topic exchange on a [[Supervised]] driver daemon thread, publishing
  * one spool file per delivery (`routingKey\tbody-base64`,
  * [[SpoolPublisher]], `.txt`), parsed downstream by
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

  import conf.{opt, req}

  private[sources] lazy val spoolDir: String = opt("path").getOrElse(
    new java.io.File(sys.props("java.io.tmpdir"), s"graft-amqp-$name").toString)

  @volatile private var conn: AmqpWire.AmqpConnection = _
  @volatile private var consumer: Supervised = _

  private def newConsumer(): Supervised = {
    val publisher = new SpoolPublisher(spoolDir, name, "txt", retentionMs = 0L)
    val commands = conf.options.get("commands").map(_.asInstanceOf[Map[String, Any]].toSeq
      .sortBy(_._1).map { case (cmd, iv) => cmd -> (iv.toString.toDouble * 1000).toLong })
      .getOrElse(Seq.empty)
    val idleMs = math.max(200L, (commands.map(_._2) :+ 1000L).min / 2)
    val exchange = req("exchange")
    val lastSent = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    new Supervised(s"graft-amqp-$name", Backoff(), () => Option(conn).foreach(_.close()))(() => {
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
      // one record line per delivery (`routingKey \t body \t
      // epoch-millis`), the body base64'd so a pretty-printed (multi-line)
      // JSON body survives the line-oriented spool byte-exactly
      conn.nextDelivery().foreach { d =>
        val b64 = java.util.Base64.getEncoder.encodeToString(d.body.getBytes(UTF_8))
        publisher.publish(
          s"${d.routingKey}\t$b64\t${System.currentTimeMillis()}\n".getBytes(UTF_8))
      }
      0L
    })
  }

  def spool(): SpoolSource = {
    val keywords = conf.options.get("keywords")
      .map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Seq.empty)
    require(keywords.nonEmpty,
      s"$name: 'keywords' is required (dotted body paths — the engine's " +
        "static form of the reference's dynamic flatten, like T3's whitelist)")
    req("exchange") // validate before the daemon starts
    // the consumer's publisher creates the spool dir, which the streaming
    // text read requires, before the first delivery
    val c = synchronized {
      if (consumer == null) consumer = newConsumer()
      consumer
    }
    c.start()
    SpoolSource(conf.copy(options =
      conf.options + ("path" -> spoolDir) + ("parser" -> "amqp")))
  }

  override def stopWriter(): Unit = if (consumer != null) consumer.stop()
}
