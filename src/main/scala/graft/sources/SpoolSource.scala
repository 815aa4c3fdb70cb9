package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.control.EngineConfig.SourceConf
import graft.transforms.KeywordProcessor

/** A source whose replies land in a spool directory of `raw\tepochMillis`
  * text files. Every spool-backed source of an engine is read through one
  * file stream ([[SpoolFanIn]]); reading one alone is the fan-in of one. */
trait SpoolBacked extends TelemetrySource {
  /** Validate the config, start the writer side if there is one (once:
    * later calls return the same spool), and describe what to read. */
  def spool(): SpoolSource
  def stream(spark: SparkSession): DataFrame = SpoolFanIn.stream(spark, Seq(spool()))
}

/** Config-driven streaming source: a raw-reply spool directory (what a
  * [[PollingSource]] writes, or any external process appending
  * `raw\tepochMillis` text files) parsed by a named wire parser — the
  * YAML-expressible form of the reference's per-device source entries
  * (cerebro/etc/cerebro.yaml sources). `readOptions` pass through to the
  * file stream reader. */
final case class SpoolSource(conf: SourceConf,
    readOptions: Map[String, String] = Map.empty) extends SpoolBacked {
  def name: String = conf.name
  def bucket: Option[String] = conf.bucket
  def tags: Map[String, String] = conf.tags
  def spool(): SpoolSource = this

  private[sources] def opt(key: String): Option[String] = conf.options.get(key).map(_.toString)
  private[sources] def req(key: String): String =
    opt(key).getOrElse(throw new IllegalArgumentException(s"$name: missing option '$key'"))
  private[sources] def path: String = req("path")
  private[sources] def parser: String = req("parser")
}

object SpoolSource {
  /** YAML keys dictionary → [[ActorReplies.KeysDictionary]] key defs
    * (shared by the spool-replay and live-push actor arms):
    * {{{
    * dictionary:
    *   exposureState:
    *     - {name: state, type: string}
    *     - {name: remaining, type: float, units: s}
    *   motion:
    *     - {name: pos, type: pvt, units: deg}
    * }}} */
  private[sources] def dictionaryConf(options: Map[String, Any]): Map[String, ActorReplies.KeyDef] =
    options.get("dictionary").map(_.asInstanceOf[Map[String, Any]].map {
      case (kw, slots) => kw -> ActorReplies.KeyDef(
        slots.asInstanceOf[List[Any]].map { s =>
          val m = s.asInstanceOf[Map[String, Any]]
          val nm = m.get("name").map(_.toString).getOrElse("")
          val un = m.get("units").map(_.toString).getOrElse("")
          m.get("type").map(_.toString).getOrElse("string") match {
            case "float" => ActorReplies.FloatType(nm, un)
            case "int" => ActorReplies.IntType(nm, un)
            case "bool" => ActorReplies.BoolType(nm, un)
            case "pvt" => ActorReplies.PvtType(nm, un)
            case _ => ActorReplies.StringType(nm, un)
          }
        })
    }).getOrElse(Map.empty)

  /** `keyword_tags: {actor.keyword: {index: N, name: tag}}` (reference
    * kwarg shape, tron.py:274-280). */
  private[sources] def keywordTagsConf(options: Map[String, Any]): Map[String, KeywordProcessor.KeywordTagConf] =
    options.get("keyword_tags").map(_.asInstanceOf[Map[String, Any]].map {
      case (k, v) =>
        val m = v.asInstanceOf[Map[String, Any]]
        k -> KeywordProcessor.KeywordTagConf(
          m("index").toString.toInt, m("name").toString)
    }).getOrElse(Map.empty)

  private[sources] def castsConf(options: Map[String, Any]): Map[String, String] =
    options.get("casts")
      .map(_.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString })
      .getOrElse(Map.empty)
}
