package graft.sources

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.{Duration, Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import graft.control.EngineConfig.SourceConf

/** S15/S16 from YAML — the LCO environment-API poller
  * (cerebro/sources/lco.py:25-228 + tools.py `get_from_lco_api`): a
  * [[Supervised]] driver daemon thread GETs `url?start_ts=<ISO seconds>`
  * every `delay` seconds (default 60, lco.py's `interval`) and publishes
  * the new rows as one spool file ([[SpoolPublisher]], `.txt`) of
  * `{"ts": <epochMillis>, "measurement": ..., "value": ...}\t<recvMillis>`
  * lines, parsed downstream by [[Parsers.lcoRows]].
  *
  * {{{
  * sources:
  *   dimm: {type: http, url: "http://env.lco.example/dimm", delay: 60}
  * }}}
  *
  * ==Resume semantics (lco.py:116-122)==
  * The poller owns the watermark, the newest `ts` it has published. The
  * next request's `start_ts` is that `ts` truncated to WHOLE SECONDS (the
  * reference sends `replace(microsecond=0).isoformat()`), so the boundary
  * second is re-fetched and a server with inclusive `>=` semantics
  * re-sends the last row; rows with `ts <= watermark` are dropped before
  * the publish, and the rest are sorted by `ts`. The watermark advances
  * only after `publish` returns: a failed write re-fetches, it never skips.
  * A new instance (daemon start, config reload) starts its watermark at
  * the newest `ts` of this source's published files, which are always
  * whole, so nothing already spooled is fetched again.
  *
  * Wire shape: `[{"ts": "2024-01-01T00:00:05.123", "measurement":
  * "seeing", "value": 0.82}, ...]` (ISO timestamps, UTC — the reference
  * API's row shape). A `value`-less or malformed row is skipped with a
  * stderr note; a failed request (HTTP != 200, connect refused, timeout)
  * backs off ×e and retries from the same watermark — an outage delays,
  * it loses nothing. */
final case class HttpSource(conf: SourceConf) extends SpoolBacked {
  def name: String = conf.name
  def bucket: Option[String] = conf.bucket
  def tags: Map[String, String] = conf.tags

  import conf.{opt, req}

  private lazy val spoolDir: String = opt("path").getOrElse(
    new File(sys.props("java.io.tmpdir"), s"graft-http-$name").toString)

  @volatile private var poller: Supervised = _
  private val mapper = new ObjectMapper()
  /** The reference's `%Y-%m-%dT%H:%M:%S` request format (tools.py
    * format_time): UTC, whole seconds, no zone suffix. */
  private val isoSeconds =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** The newest row `ts` in this source's published spool files, or 0. */
  private def spooledMaxTs(): Long =
    Option(new File(spoolDir).listFiles()).getOrElse(Array.empty[File]).iterator
      .filter(f => f.getName.startsWith(s"$name-") && f.getName.endsWith(".txt"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .map(l => mapper.readTree(l.substring(0, l.lastIndexOf('\t'))).get("ts").asLong())
      .foldLeft(0L)(math.max)

  /** `(ts, measurement, value)` of each well-formed row of a reply. */
  private def rows(body: String): Seq[(Long, String, Double)] = {
    val root = mapper.readTree(body)
    if (!root.isArray) throw new java.io.IOException(s"$name: expected a JSON array")
    root.elements().asScala.flatMap { node =>
      try Some((LocalDateTime.parse(node.get("ts").asText()).toInstant(ZoneOffset.UTC).toEpochMilli,
        node.get("measurement").asText(), node.get("value").asDouble()))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[graft-http-$name] skipping malformed row: $e")
          None
      }
    }.toSeq
  }

  private def newPoller(): Supervised = {
    val url = req("url")
    val intervalMs = opt("delay").map(s => (s.toDouble * 1000).toLong).getOrElse(60000L)
    val timeoutMs = opt("timeout_ms").map(_.toLong).getOrElse(30000L)
    val publisher = new SpoolPublisher(spoolDir, name, "txt", retentionMs = 0L)
    val client = HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs)).build()
    val sep = if (url.contains("?")) "&" else "?"
    var watermark = spooledMaxTs()
    new Supervised(s"graft-http-$name", Backoff())(() => {
      val uri = URI.create(
        s"$url${sep}start_ts=${isoSeconds.format(Instant.ofEpochMilli(watermark))}")
      val resp = client.send(HttpRequest.newBuilder(uri).timeout(Duration.ofMillis(timeoutMs))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new java.io.IOException(s"$name: HTTP ${resp.statusCode()} from $uri")
      val fresh = rows(resp.body()).filter(_._1 > watermark).sortBy(_._1)
      if (fresh.nonEmpty) {
        val recv = System.currentTimeMillis()
        publisher.publish(fresh.map { case (ts, m, v) =>
          val n = mapper.createObjectNode()
          n.put("ts", ts); n.put("measurement", m); n.put("value", v)
          s"${mapper.writeValueAsString(n)}\t$recv"
        }.mkString("\n").getBytes(UTF_8))
        watermark = fresh.last._1
      }
      intervalMs
    })
  }

  def spool(): SpoolSource = {
    // the poller's publisher creates the spool dir, which the streaming
    // text read requires, before the first fetch
    val p = synchronized {
      if (poller == null) poller = newPoller()
      poller
    }
    p.start()
    SpoolSource(conf.copy(options = conf.options + ("path" -> spoolDir) + ("parser" -> "http")))
  }

  override def stopWriter(): Unit = if (poller != null) poller.stop()
}
