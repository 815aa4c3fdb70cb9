package graft.control

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.yaml.snakeyaml.Yaml
import graft.model.Point
import graft.sources.{ActorPushSource, AmqpPushSource, LiveSource, ReplaySource, SpoolBacked, SpoolFanIn, SpoolSource, TelemetrySource}
import graft.sinks.TelemetrySink
import graft.streaming.StreamOps

/** Config-driven control plane — parity with the reference's `Cerebellum`
  * metaclass config parser + `SourceList` supervisor
  * (cerebro/cerebro.py:34-235):
  *
  *   - YAML with `sources:` / `observers:` maps keyed by name, each with a
  *     `type` discriminator (cerebro.py:222-235)
  *   - `profiles:` selecting source/observer subsets (cerebro.py:167-205)
  *   - `${ENV_VAR}` interpolation anywhere in the file (the reference uses
  *     it for hosts/tokens, etc/cerebro.yaml:40,47,119)
  *   - a runtime registry of named running streams with status/stop/restart
  *     (SourceList / the status Unix-socket verbs, cerebro.py:369-460)
  */
object EngineConfig {

  final case class SourceConf(name: String, typ: String,
      options: Map[String, Any], bucket: Option[String], tags: Map[String, String]) {
    def opt(key: String): Option[String] = options.get(key).map(_.toString)
    def req(key: String): String =
      opt(key).getOrElse(throw new IllegalArgumentException(s"$name: missing option '$key'"))
  }
  final case class ObserverConf(name: String, typ: String, options: Map[String, Any])
  final case class Config(
      tags: Map[String, String],
      sources: Seq[SourceConf],
      observers: Seq[ObserverConf])

  /** `${VAR}` → env value (empty string when unset), reference-style. */
  private[control] def interpolate(s: String, env: Map[String, String]): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
      .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        env.getOrElse(m.group(1), "")))

  private def asScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> asScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(asScala).toList
    case other => other
  }

  def parse(yamlText: String,
      profile: Option[String] = None,
      env: Map[String, String] = sys.env): Config = {
    val rootAny = asScala(new Yaml().load[Any](interpolate(yamlText, env)))
    val root = rootAny.asInstanceOf[Map[String, Any]]
    def section(key: String): Map[String, Map[String, Any]] =
      root.getOrElse(key, Map.empty).asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[Map[String, Any]] }

    val allSources = section("sources")
    val allObservers = section("observers")

    // profile selection (cerebro.py:167-205): a profile lists source and
    // observer names; absent profile = everything.
    val (srcNames, obsNames) = profile match {
      case None => (allSources.keys.toSeq.sorted, allObservers.keys.toSeq.sorted)
      case Some(p) =>
        val profiles = section("profiles")
        val prof = profiles.getOrElse(p,
          throw new IllegalArgumentException(s"profile not found: $p"))
        def names(k: String, fallback: Seq[String]): Seq[String] =
          prof.get(k).map(_.asInstanceOf[List[Any]].map(_.toString)).getOrElse(fallback)
        (names("sources", allSources.keys.toSeq.sorted),
          names("observers", allObservers.keys.toSeq.sorted))
    }

    def strMap(m: Any): Map[String, String] =
      m.asInstanceOf[Map[String, Any]].map { case (k, v) =>
        k -> Option(v).map(_.toString).getOrElse("") // empty YAML scalar -> null
      }

    Config(
      tags = root.get("tags").map(strMap).getOrElse(Map.empty),
      sources = srcNames.map { n =>
        val c = allSources.getOrElse(n,
          throw new IllegalArgumentException(s"source not found: $n"))
        SourceConf(n,
          c.getOrElse("type", throw new IllegalArgumentException(s"$n: missing type")).toString,
          c - "type" - "bucket" - "tags",
          c.get("bucket").map(_.toString),
          c.get("tags").map(strMap).getOrElse(Map.empty))
      },
      observers = obsNames.map { n =>
        val c = allObservers.getOrElse(n,
          throw new IllegalArgumentException(s"observer not found: $n"))
        ObserverConf(n,
          c.getOrElse("type", throw new IllegalArgumentException(s"$n: missing type")).toString,
          c - "type")
      })
  }

  /** `--sources a,b` CLI selection (cerebro/__main__.py:34-42,77-88): keep
    * only the named sources, without requiring a profile. Unknown names are
    * an error, like the reference's argparse `choices` check. `None` (flag
    * absent) is the identity. */
  def selectSources(cfg: Config, sources: Option[String]): Config =
    sources match {
      case None => cfg
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty)
        val known = cfg.sources.map(_.name).toSet
        val missing = want.filterNot(known)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"unknown source(s): ${missing.mkString(",")} " +
              s"(known: ${known.toSeq.sorted.mkString(",")})")
        val wantSet = want.toSet
        cfg.copy(sources = cfg.sources.filter(s => wantSet.contains(s.name)))
    }
}

/** Runtime engine: builds sources from config by their `type`, unions
  * them through the normalize stage, runs one sink query per observer, and
  * supervises (status/stop/restart — the reference CLI's verbs,
  * cerebro/__main__.py:101-143). */
final class Engine(spark: SparkSession) {
  import EngineConfig._

  private val queries = scala.collection.mutable.Map[String, StreamingQuery]()
  // Restart generation per memory observer: Spark's memory sink cannot
  // recover a non-empty checkpoint in append mode
  // (recoverFromCheckpointLocation=false), so each restart gets a FRESH
  // checkpoint dir and the in-memory table is rebuilt from the source.
  // Parquet observers keep one checkpoint and resume exactly-once.
  private val memoryGen =
    scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private var conf: Config = _

  /** One source per config entry, by its `type` — the Spark form of
    * `get_source_subclass` (source.py:232-244):
    *   - `replay`: point-schema parquet replay (`path`)
    *   - `spool`: raw-reply spool directory + a wire parser
    *     (`path`, `parser` ∈ govee|sens4|ln2_scale|lvm_thermistors,
    *     plus per-parser options) — the config-driven form of the full
    *     poll → parse pipeline (etc/cerebro.yaml source entries)
    *   - `tcp` / `udp`: LIVE device conversation ([[graft.sources.NetPoll]]
    *     socket poll on a driver thread → spool → the same parsers) —
    *     the reference's production source shape (`TCPSource(host, port,
    *     delay)`, source.py:134-229) from YAML
    *   - `drift`: S12/S13 live Modbus TCP (drift.py) — the tcp arm with
    *     the drift conversation; `devices:` map + optional `unit_id`
    *   - `amqp`: S11 live RabbitMQ (AMQP.py) — topic-exchange reply
    *     consumer + periodic command publishes; `exchange`, `keywords:`
    *     (required), `groupers:`, `commands:`
    *   - `actor`: live actor-reply push connection */
  def buildSources(config: Config): Seq[TelemetrySource] =
    config.sources.map { c =>
      c.typ match {
        case "replay" => ReplaySource(c.name, c.options("path").toString, c.bucket, c.tags)
        case "spool" => SpoolSource(c)
        case "tcp" | "udp" | "drift" => LiveSource(c)
        case "amqp" => AmqpPushSource(c)
        case "actor" => ActorPushSource(c)
        case other => throw new IllegalArgumentException(s"unknown source type: $other")
      }
    }

  // Sources are built ONCE per engine config and shared across observers
  // and restarts: stateful sources (a LiveSource owns a poll thread and a
  // spool) must not be duplicated by each observer's unifiedStream call —
  // two pollers on one spool collide on file names and double-poll the
  // device.
  private var built: Seq[TelemetrySource] = Nil
  private def sharedSources(config: Config): Seq[TelemetrySource] = {
    if (built.isEmpty) built = buildSources(config)
    built
  }

  /** Every spool-backed source through one file stream ([[SpoolFanIn]],
    * which merges their configured `tags` and `bucket`), every other
    * source as its own stream with its `tags` merged over its points' and
    * its `bucket` filling theirs (source.py:98-99); then the global
    * normalize (T11). */
  def unifiedStream(config: Config): DataFrame = {
    import org.apache.spark.sql.functions._
    val sources = sharedSources(config)
    val spools = sources.collect { case s: SpoolBacked => s.spool() }
    val others = sources.filterNot(_.isInstanceOf[SpoolBacked]).map { s =>
      val base = s.stream(spark)
      val withSrcTags =
        if (s.tags.isEmpty) base
        else base.withColumn(Point.Tags, map_concat(
          coalesce(col(Point.Tags), map()),
          map(s.tags.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)))
      s.bucket.map(b => withSrcTags.withColumn(Point.Bucket,
        coalesce(col(Point.Bucket), lit(b)))).getOrElse(withSrcTags)
    }
    val fanIn = if (spools.isEmpty) Nil else Seq(SpoolFanIn.stream(spark, spools))
    StreamOps.normalize(config.tags)((fanIn ++ others).reduce(_ unionByName _))
  }

  private var workDir: String = _

  def start(config: Config, workDir: String): Unit = {
    conf = config
    this.workDir = workDir
    built = Nil // new config -> new source instances
    // a source rejected after another's poller started must not leave
    // that poller conversing with its device
    var started = false
    try { config.observers.foreach(startObserver); started = true }
    finally if (!started) stopPolling()
  }

  private def startObserver(o: ObserverConf): Unit = {
    val stream = unifiedStream(conf)
    val q = o.typ match {
      case "parquet" => TelemetrySink.start(stream,
        o.options.getOrElse("path", s"$workDir/data/${o.name}").toString,
        s"$workDir/checkpoints/${o.name}",
        o.options.getOrElse("default_bucket", "default").toString,
        queryName = o.name)
      case "memory" =>
        val gen = memoryGen(o.name)
        val suffix = if (gen == 0) "" else s"-g$gen"
        stream.writeStream.queryName(o.name)
          .format("memory").outputMode("append")
          .option("checkpointLocation",
            s"$workDir/checkpoints/${o.name}$suffix").start()
      case other => throw new IllegalArgumentException(s"unknown observer type: $other")
    }
    queries(o.name) = q
  }

  /** `cerebro status` parity (the status-socket `status` verb,
    * cerebro.py:443-446). */
  def status: Map[String, Boolean] = queries.view.mapValues(_.isActive).toMap

  /** `restart <source>` parity (cerebro.py:448-456): stop the named
    * query if running, then start it again against the SAME checkpoint
    * location — Structured Streaming resumes from the committed offsets,
    * so no data is re-read or lost. Exception: `memory` observers get a
    * fresh checkpoint (the memory sink can't recover one — see
    * [[memoryGen]]) and rebuild their table from the source. Returns
    * false (like the socket protocol's `false` reply) for unknown names
    * or start failures. */
  def restart(name: String): Boolean =
    Option(conf).flatMap(_.observers.find(_.name == name)) match {
      case Some(o) =>
        try {
          queries.get(name).filter(_.isActive).foreach(_.stop())
          if (o.typ == "memory") memoryGen(o.name) += 1
          startObserver(o)
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      case None => false
    }

  def stop(name: String): Unit = queries.get(name).foreach(_.stop())

  /** Stop live sources' poll and consumer threads (spools stay
    * readable) — call before draining with `processAllAvailable`, which
    * can never settle while a poller keeps appending spool files. */
  def stopPolling(): Unit = built.foreach {
    case l: LiveSource => l.stopPolling()
    case a: ActorPushSource => a.stopPush()
    case a: AmqpPushSource => a.stopConsuming()
    case _ => ()
  }

  def stopAll(): Unit = {
    stopPolling()
    queries.values.foreach(_.stop())
  }
  def awaitAnyTermination(timeoutMs: Long): Boolean =
    spark.streams.awaitAnyTermination(timeoutMs)
}
