package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Point

/** A telemetry source produces a streaming DataFrame in the uniform point
  * schema ([[Point.schema]]) — the Spark form of the reference's `Source`
  * (cerebro/sources/source.py:53-131). Name/bucket/tags are carried so the
  * control plane can merge instance tags centrally (T11). */
trait TelemetrySource {
  def name: String
  def bucket: Option[String]
  def tags: Map[String, String]
  /** Build the streaming DataFrame. Must conform to [[Point.schema]]. */
  def stream(spark: SparkSession): DataFrame
  /** Stop the source's writer thread, if it has one, and wait for it, so
    * "stopped" means its spool is frozen (spool and stream stay readable). */
  def stopWriter(): Unit = ()
}

/** Replay source: streams point-schema parquet from a directory via
  * Spark's file micro-batch source (exactly-once, offset = file position).
  * This is the test/backfill source — fixtures in, stream out. */
final case class ReplaySource(
    name: String,
    path: String,
    bucket: Option[String] = None,
    tags: Map[String, String] = Map.empty,
    maxFilesPerTrigger: Option[Int] = None) extends TelemetrySource {
  def stream(spark: SparkSession): DataFrame = {
    val r = spark.readStream.schema(Point.schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(path)
  }
}

/** Exponential-backoff reconnect policy — parity with the reference's
  * `ReconnectingTCPClientProtocol` (cerebro/protocols.py:24-63): delay
  * grows by factor e per failure up to `maxDelay`, with multiplicative
  * jitter, and resets on success. Each instance draws its jitter from its
  * own unseeded generator, so sources failing in one outage do not all
  * reconnect at the same instants. */
final case class Backoff(
    initialDelayMs: Long = 1000,
    factor: Double = math.E,
    maxDelayMs: Long = 3600000,
    jitter: Double = 0.1196) {
  private val rnd = new scala.util.Random()
  private var delay: Double = initialDelayMs.toDouble
  def nextDelayMs(): Long = {
    val d = delay
    delay = math.min(delay * factor, maxDelayMs.toDouble)
    val j = 1.0 + jitter * (2 * rnd.nextDouble() - 1)
    math.max((d * j).toLong, 1L)
  }
  def reset(): Unit = delay = initialDelayMs.toDouble
}

/** Driver-side poller feeding a file spool (SURVEY.md §7.1 step 5: the v1
  * poller framework). Every `delayMs` the [[Supervised]] loop calls
  * `poll()`; each reply batch is published into `spoolDir` as one
  * newline-delimited `raw\tepochMillis` text file ([[SpoolPublisher]],
  * `.txt`), which [[SpoolFanIn]] reads as a [[SpoolSource]]. A failing
  * poll backs off ([[Backoff]]) and is retried; a poll fn that is
  * `AutoCloseable` (a held connection) is closed on failure and on stop.
  *
  * Single-connection devices fundamentally serialize at the poller (one
  * TCP/UDP conversation), so the driver-side loop is not the bottleneck;
  * the parse/normalize/write pipeline downstream is fully distributed.
  */
final class PollingSource(
    name: String,
    spoolDir: String,
    poll: () => Seq[String],
    delayMs: Long = 1000,
    backoff: Backoff = Backoff(),
    retentionMs: Long = 0L) {

  private val publisher = new SpoolPublisher(spoolDir, name, "txt", retentionMs)
  private val loop = new Supervised(s"graft-poller-$name", backoff,
    () => poll match { case c: AutoCloseable => c.close(); case _ => () })(() => {
      val replies = poll()
      if (replies.nonEmpty) {
        val ts = System.currentTimeMillis()
        publisher.publish(replies.map(r => s"${r.replace("\n", "\\n")}\t$ts")
          .mkString("\n").getBytes(UTF_8))
      }
      delayMs
    })

  def start(): Unit = loop.start()
  def stop(): Unit = loop.stop()
}
