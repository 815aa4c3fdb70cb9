package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.{Duration, Instant, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/** Live HTTP poller for the incremental sources (S15/S16) — the
  * `java.net.http` half of the reference's LCO environment-API pattern
  * (cerebro/sources/lco.py:25-228 + tools.py `get_from_lco_api`): GET
  * `url?start_ts=<ISO seconds>` on an interval, parse the JSON-array
  * reply, and append the NEW rows to a single growing JSON-lines spool
  * file that [[IncrementalSource]] streams with row-level event-time
  * offsets.
  *
  * ==Resume semantics (lco.py:116-122 replicated)==
  * The next poll's `start_ts` is the last row's timestamp truncated to
  * WHOLE SECONDS (the reference sends `replace(microsecond=0).
  * isoformat()`), so the boundary second is re-fetched every time and
  * servers with inclusive `>=` semantics re-send the last row. The
  * poller filters `ts > lastTsMs` (millisecond-exact) before appending
  * — duplicates never reach the spool, preserving IncrementalSource's
  * monotonic-append contract. Rows inside a poll are sorted by ts
  * before the append for the same reason.
  *
  * Wire shape: `[{"ts": "2024-01-01T00:00:05.123", "measurement":
  * "seeing", "value": 0.82}, ...]` (ISO timestamps, UTC — the
  * reference API's row shape); spool shape: `{"ts": <epochMillis>,
  * "measurement": ..., "value": ...}` ([[IncrementalSource]]'s
  * contract). A `value`-less or malformed row is skipped with a stderr
  * note, never a poller death; failures (HTTP != 200, connect refused,
  * timeout) back off ×e under the same [[Supervised]] loop as every other
  * live source and the poller retries from the SAME watermark — an outage
  * loses nothing, it only delays.
  *
  * The spool file grows in place, one `write` per poll; a reader can meet
  * its last line half-written. [[SpoolTracker]] and [[JsonlRangeReader]]
  * treat an unterminated, unparseable last line as not yet written. A
  * poller started on an existing spool cuts such a tail (a poller died
  * mid-write) and resumes its watermark from the last whole row.
  *
  * Scale shape: one daemon thread, O(new rows) work per tick; the spool
  * file grows but [[SpoolTracker]] re-reads only on length change, so
  * driver cost per trigger stays metadata-only between polls. */
final class HttpIncrementalPoller(
    val name: String,
    spoolDir: String,
    url: String,
    startParam: String = "start_ts",
    intervalMs: Long = 60000L,
    backoff: Backoff = Backoff(),
    initialStartTs: Long = 0L,
    requestTimeoutMs: Long = 30000L) {

  @volatile private var _lastTsMs: Long = initialStartTs
  /** The poller's resume watermark (exposed for tests/monitoring). */
  def lastTsMs: Long = _lastTsMs
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(requestTimeoutMs)).build()

  private def spoolFile = Paths.get(spoolDir, s"$name.jsonl")

  /** ISO-8601 seconds (UTC, no zone suffix) — the reference's
    * `%Y-%m-%dT%H:%M:%S` request format (tools.py format_time). */
  private def isoSeconds(ms: Long): String =
    LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC)
      .withNano(0).toString.takeWhile(_ != '.') match {
        case s if s.count(_ == ':') == 1 => s + ":00" // LocalDateTime drops :00 seconds
        case s => s
      }

  /** One poll: GET, parse, filter ts > watermark, append, advance. */
  private[sources] def pollOnce(): Int = {
    val sep = if (url.contains("?")) "&" else "?"
    val uri = URI.create(s"$url$sep$startParam=${isoSeconds(_lastTsMs)}")
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofMillis(requestTimeoutMs)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"$name: HTTP ${resp.statusCode()} from $uri")
    val root = mapper.readTree(resp.body())
    if (!root.isArray)
      throw new java.io.IOException(s"$name: expected JSON array from $uri")
    val rows = root.elements().asScala.flatMap { node =>
      try {
        val ts = LocalDateTime.parse(node.get("ts").asText())
          .toInstant(ZoneOffset.UTC).toEpochMilli
        val m = node.get("measurement").asText()
        val v = node.get("value").asDouble()
        Some((ts, m, v))
      } catch {
        case e: Exception =>
          System.err.println(s"[graft-http-$name] skipping malformed row: $e")
          None
      }
    }.filter(_._1 > _lastTsMs).toSeq.sortBy(_._1)
    if (rows.nonEmpty) {
      val lines = rows.map { case (ts, m, v) =>
        val n = mapper.createObjectNode()
        n.put("ts", ts); n.put("measurement", m); n.put("value", v)
        mapper.writeValueAsString(n)
      }
      Files.write(spoolFile, (lines.mkString("\n") + "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      _lastTsMs = rows.last._1
    }
    rows.size
  }

  private val loop = new Supervised(s"graft-http-$name", backoff)(() => {
    pollOnce()
    intervalMs
  })

  private var started = false

  def start(): Unit = synchronized {
    Files.createDirectories(Paths.get(spoolDir))
    if (!started) resume()
    started = true
    loop.start()
  }

  def stop(): Unit = synchronized { loop.stop(); started = false }

  /** Resume on an existing spool: start the watermark at its last whole
    * row, so nothing is fetched twice, and end the file on a line break
    * before the first append. A torn tail (a poller died mid-write; no
    * reader counted it) is cut; a whole but unterminated last row is
    * terminated. */
  private def resume(): Unit = if (Files.exists(spoolFile)) {
    val lines = new JsonlLines(spoolFile.toFile)
    try _lastTsMs = lines.filter(_.trim.nonEmpty)
      .map(l => mapper.readTree(l).get("ts").asLong()).foldLeft(initialStartTs)(math.max)
    finally lines.close()
    val raf = new java.io.RandomAccessFile(spoolFile.toFile, "rw")
    def endsLine(end: Long): Boolean = end == 0 || { raf.seek(end - 1); raf.read() == '\n' }
    try {
      if (lines.torn) {
        var end = raf.length()
        while (!endsLine(end)) end -= 1
        raf.setLength(end)
      } else if (!endsLine(raf.length())) raf.write('\n')
    } finally raf.close()
  }
}
