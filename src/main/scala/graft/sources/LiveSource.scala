package graft.sources

import java.util.concurrent.atomic.AtomicBoolean
import graft.control.EngineConfig.SourceConf

/** Config-driven LIVE device source — the YAML-expressible form of the
  * reference's production entries (`TCPSource(host, port, delay)` + a
  * parser subclass, cerebro/etc/cerebro.yaml): a [[NetPoll]] request/
  * reply conversation polled on a driver daemon thread into a managed
  * spool, parsed by the same named wire parsers as [[SpoolSource]].
  *
  * {{{
  * sources:
  *   govee1:  {type: tcp, host: 10.0.0.5, port: 1111, parser: govee,
  *             address: "A4:C1:38:AA:BB:CC", device: govee-clu}
  *   r1_sens: {type: tcp, host: 10.0.0.6, port: 1112, parser: sens4,
  *             device_id: 253, ccd: r1}
  *   therm:   {type: udp, host: 10.0.0.7, port: 1025,
  *             parser: lvm_thermistors, mapping: {channel0: ln2_r1}}
  * }}}
  *
  * The conversation (request bytes + reply framing) is derived from the
  * parser when it names a known device protocol, or given explicitly via
  * `request` / `terminator` options for a generic line device. `delay`
  * is seconds between polls (reference `TCPSource.delay`, default 1 s).
  * The poller starts on the first `spool()` call (engine start) and is
  * a daemon thread; failures back off ×e and never kill it
  * ([[PollingSource]]'s isolation contract).
  */
final case class LiveSource(conf: SourceConf) extends SpoolBacked {
  def name: String = conf.name
  def bucket: Option[String] = conf.bucket
  def tags: Map[String, String] = conf.tags

  private def opt(key: String): Option[String] = conf.options.get(key).map(_.toString)
  private def req(key: String): String =
    opt(key).getOrElse(throw new IllegalArgumentException(s"$name: missing option '$key'"))

  /** `type: drift` implies `parser: drift` — one YAML key, not two. */
  private def parser: String = opt("parser")
    .orElse(Some(conf.typ).filter(_ == "drift"))
    .getOrElse(throw new IllegalArgumentException(s"$name: missing option 'parser'"))

  private val started = new AtomicBoolean(false)
  @volatile private var poller: PollingSource = _

  /** Spool the poller writes and the streaming read tails; overridable
    * (`path`) so restarts/replays can pin a stable directory. */
  private[sources] lazy val spoolDir: String = opt("path").getOrElse(
    new java.io.File(sys.props("java.io.tmpdir"), s"graft-live-$name").toString)

  private def pollFn(): () => Seq[String] = {
    val host = req("host")
    conf.typ match {
      case "udp" => opt("request") match {
        // an explicit request always wins, whatever parses the reply
        case Some(r) =>
          NetPoll.udpPoll(host, req("port").toInt,
            r.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            opt("timeout_ms").map(_.toInt).getOrElse(10000))
        case None => opt("parser") match {
          // stream() fail-fasts on a missing 'parser' before calling
          // here, so None is unreachable — match only reachable states
          case Some("lvm_thermistors") =>
            NetPoll.thermistorPoll(host, opt("port").map(_.toInt).getOrElse(1025),
              opt("timeout_ms").map(_.toInt).getOrElse(10000))
          case p => throw new IllegalArgumentException(
            s"$name: udp parser '${p.getOrElse("")}' has no built-in conversation; set 'request'")
        }
      }
      case _ =>
        val port = req("port").toInt
        val timeout = opt("timeout_ms").map(_.toInt).getOrElse(5000)
        (opt("request"), Some(parser)) match {
          case (Some(r), _) => // explicit conversation wins
            NetPoll.tcpPoll(host, port, r,
              opt("terminator").map(_.head.toByte).getOrElse('\n'.toByte), timeout)
          case (None, Some("govee")) =>
            NetPoll.goveePoll(host, port, req("address"), timeout)
          case (None, Some("sens4")) =>
            NetPoll.sens4Poll(host, port,
              opt("device_id").map(_.toInt).getOrElse(253), timeout)
          case (None, Some("ln2_scale")) =>
            NetPoll.ln2ScalePoll(host, port, timeout)
          case (None, Some("drift")) => // S12/S13 live Modbus TCP
            ModbusPoll.driftPoll(host, port,
              opt("unit_id").map(_.toInt).getOrElse(1),
              ModbusPoll.devicesConf(conf.options), timeout)
          case (None, p) => throw new IllegalArgumentException(
            s"$name: parser '${p.getOrElse("")}' has no built-in conversation; " +
              "set 'request' (and 'terminator') explicitly")
        }
    }
  }

  def spool(): SpoolSource = {
    // Validate the WHOLE chain before any side effect: a config the
    // downstream SpoolSource will reject (no 'parser' — nothing could
    // turn replies into points) must fail here, NOT after the poll
    // thread has started conversing with a live device it would then
    // orphan (stopPolling is never reached on a failed start).
    val p = parser
    val fn = pollFn()
    // idempotent across engine restarts: restart() re-calls spool(),
    // which must not spawn a second poller onto the same spool
    val retentionMs = opt("retention_ms").map(_.toLong).getOrElse(0L)
    if (started.compareAndSet(false, true)) {
      val delayMs = opt("delay").map(s => (s.toDouble * 1000).toLong).getOrElse(1000L)
      poller = new PollingSource(name, spoolDir, fn, delayMs,
        bucket = bucket, tags = tags,
        // retention_ms bounds a long-running daemon's spool (the sweep
        // contract is on SpoolRetention)
        retentionMs = retentionMs)
      poller.start()
    }
    // A reader lagging past the window can have a file listed by the
    // source log and swept before the read opens it; without
    // ignoreMissingFiles that kills the query (FAILED_READ_FILE) — see
    // PollingSource.rawStream
    SpoolSource(conf.copy(options = conf.options + ("path" -> spoolDir) + ("parser" -> p)),
      readOptions = if (retentionMs > 0) Map("ignoreMissingFiles" -> "true") else Map.empty)
  }

  /** Stop the poll thread (spool and stream remain readable). */
  def stopPolling(): Unit = {
    if (poller != null) poller.stop()
    started.set(false)
  }
}
