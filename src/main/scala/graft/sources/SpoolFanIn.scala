package graft.sources

import scala.reflect.runtime.universe.TypeTag
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedConf
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.model.Point
import graft.transforms.KeywordProcessor

/** Every spool-backed source of an engine read through ONE file stream.
  *
  * A trigger's fixed cost — listing, the source log, planning and
  * scheduling a scan — is paid per file stream, not per row, so one stream
  * per spool multiplies it by the number of sources (the Structured
  * Streaming paper's per-micro-batch overhead). Here:
  *
  *   - one `readStream.text` over a Hadoop brace glob rooted at the spool
  *     directories' common ancestor (`/a/{x/s1,y/deep/s1}`; a lone
  *     directory is read as itself);
  *   - a row's source is the full parent directory of its
  *     `_metadata.file_path`, so same-named leaves under different parents
  *     stay apart;
  *   - one parse branch per parser kind over that stream; per-source
  *     options, `tags` and `bucket` are literal-map lookups keyed by source
  *     name. Options that shape the plan (amqp `keywords`/`groupers`, the
  *     actor chain) split branches; differing read options or file systems
  *     split streams;
  *   - one `observe` ([[Observation]]) counts each trigger's points per
  *     source, the per-source view one stream per spool used to give in
  *     `lastProgress.sources`.
  *
  * Spool paths may not contain a glob character (`{}[]*?\,`): Hadoop's
  * brace expansion drops escapes, so no quoting can make one literal.
  */
object SpoolFanIn {
  /** Name of the per-trigger observation: one `LONG` column per source
    * name, the points that source produced in the trigger. */
  val Observation = "spool_sources"

  private val Source = "_source"
  private val GlobChars = "{}[]*?\\,"
  private val ValueSchema = StructType(Seq(StructField("value", StringType)))

  /** A trigger lists the files it took a second time, to plan the scan;
    * past the parallel-discovery threshold (32 paths) that listing is a
    * Spark job with one task per file — 2.5 s for a 480-file catch-up
    * batch against 44 ms listed on the driver. Spool files are local to
    * the driver that writes them, so the fan-in's streams list there.
    * The scan packs files up to `maxPartitionBytes` without first spreading
    * them over the session's cores (`minPartitionNum` 1): a live trigger's
    * 15–20 small files scan as one task per parse branch, while a large
    * catch-up batch still splits by bytes. */
  private val ScanConf = Map(
    SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key -> "10000",
    SQLConf.FILES_MIN_PARTITION_NUM.key -> "1")

  def stream(spark: SparkSession, sources: Seq[SpoolSource]): DataFrame = {
    require(sources.nonEmpty, "no spool sources")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dirs = sources.map { s =>
      val p = new Path(s.path)
      s.name -> p.getFileSystem(hadoopConf).makeQualified(p)
    }.toMap
    checkDirs(sources, dirs, hadoopConf)
    ScopedConf.frame(spark, ScanConf) { scoped =>
      val points = distinctBy(sources)(s => (s.readOptions, root(dirs(s.name))))
        .flatMap { group =>
          val raw = rawStream(scoped, group, dirs)
          distinctBy(group)(planKey).map(parse(raw, _))
        }
        .reduce(_ unionByName _)
      val counts = sources.map(s => count_if(col(Source) === s.name).as(s.name))
      withSourceTags(points, sources)
        .observe(Observation, counts.head, counts.tail: _*)
        .drop(Source)
    }
  }

  /** `xs` grouped by `key`, groups and members in first-seen order: the
    * checkpoint numbers a query's streams by their order in the plan. */
  private def distinctBy[A, K](xs: Seq[A])(key: A => K): Seq[Seq[A]] = {
    val groups = xs.groupBy(key)
    xs.map(key).distinct.map(groups)
  }

  private def root(dir: Path): (String, String) =
    (dir.toUri.getScheme, dir.toUri.getAuthority)

  private def segments(dir: Path): Seq[String] =
    dir.toUri.getPath.split("/").toSeq.filter(_.nonEmpty)

  private def checkDirs(sources: Seq[SpoolSource], dirs: Map[String, Path],
      hadoopConf: Configuration): Unit = {
    sources.foreach { s =>
      val dir = dirs(s.name)
      if (dir.toString.exists(GlobChars.contains(_)))
        throw new IllegalArgumentException(s"${s.name}: spool path '${s.path}' contains a " +
          s"glob character ($GlobChars); Hadoop globs cannot escape them, so rename the directory")
      val fs = dir.getFileSystem(hadoopConf)
      if (!Try(fs.getFileStatus(dir).isDirectory).getOrElse(false))
        throw new IllegalArgumentException(s"${s.name}: spool directory '${s.path}' does not exist")
    }
    for (a <- sources; b <- sources if a.name < b.name) {
      val (da, db) = (dirs(a.name), dirs(b.name))
      val (sa, sb) = (segments(da), segments(db))
      if (root(da) == root(db) && (sa.startsWith(sb) || sb.startsWith(sa)))
        throw new IllegalArgumentException(s"${a.name}, ${b.name}: spool directories " +
          s"'${a.path}' and '${b.path}' overlap; each source needs its own directory")
    }
  }

  /** `(raw, recv_time, _source)` over the group's directories. */
  private def rawStream(spark: SparkSession, group: Seq[SpoolSource],
      dirs: Map[String, Path]): DataFrame = {
    val paths = group.map(s => dirs(s.name))
    val glob =
      if (paths.size == 1) paths.head.toString
      else {
        val segs = paths.map(segments)
        val common = segs.reduce((a, b) => a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1))
        val ancestor = new Path(paths.head.toUri.getScheme, paths.head.toUri.getAuthority,
          common.mkString("/", "/", ""))
        ancestor.toString.stripSuffix("/") +
          segs.map(_.drop(common.size).mkString("/")).mkString("/{", ",", "}")
      }
    // by URL-encoded path: `file_path` spells an empty authority as
    // `file:/a`, a qualified Path as `file:///a`; the group shares one root
    val byDir = typedLit(group.map(s => dirs(s.name).toUri.getRawPath -> s.name).toMap)
    val parentPath = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?(?://[^/]*)?(/.*)/[^/]*$"
    val line = "^(.*)\\t([0-9]+)$"
    spark.readStream.schema(ValueSchema).options(group.head.readOptions).text(glob)
      .select(
        regexp_extract(col("value"), line, 1).as("raw"),
        timestamp_millis(regexp_extract(col("value"), line, 2).cast(LongType)).as("recv_time"),
        element_at(byDir, regexp_extract(col("_metadata.file_path"), parentPath, 1))
          .as(Source))
  }

  /** Sources whose parses can share one plan. */
  private def planKey(s: SpoolSource): Any = s.parser match {
    case "amqp" => ("amqp", s.conf.options.get("keywords"), s.conf.options.get("groupers"))
    // the actor chain's typed steps drop carried columns, so each actor
    // source is its own branch (an actor dictionary is per source anyway)
    case "actor_replies" => ("actor_replies", s.name)
    case p => p
  }

  /** One branch: the group's rows of `raw`, parsed, still carrying the
    * source column. Missing required options fail here, at start. */
  private def parse(raw: DataFrame, group: Seq[SpoolSource]): DataFrame = {
    def lookup[T: TypeTag](f: SpoolSource => T): Column =
      element_at(typedLit(group.map(s => s.name -> f(s)).toMap), col(Source))
    def str(key: String, default: String): Column = lookup(_.conf.opt(key).getOrElse(default))
    def list(s: SpoolSource, key: String): Seq[String] =
      s.conf.options.get(key).map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Seq.empty)
    val bucket = lookup(_.bucket.getOrElse("sensors"))
    val mine = raw.filter(col(Source).isin(group.map(_.name): _*))
    val head = group.head
    head.parser match {
      case "govee" => Parsers.govee(mine, lookup(_.conf.req("address")), str("device", ""),
        lookup(_.conf.opt("delay").map(_.toLong).getOrElse(10L)), bucket)
      case "sens4" => Parsers.sens4(mine, str("ccd", "NA"), bucket)
      case "ln2_scale" => Parsers.ln2Scale(mine, bucket)
      case "lvm_thermistors" => Parsers.thermistors(mine,
        lookup(_.conf.options.get("mapping").map(_.asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty[String, String])),
        lookup(_.conf.opt("channels").map(_.toInt).getOrElse(16)), bucket)
      case "check_file_exists" => Parsers.fileExists(mine, lookup(_.conf.req("file")), bucket)
      case "drift" => Parsers.driftWire(mine, str("measurement", "devices"), bucket)
      case "amqp" => Parsers.amqpReplies(mine, list(head, "keywords"), list(head, "groupers"),
        str("measurement_prefix", "reply."), bucket)
      case "tpm" => Parsers.tpmSnapshot(mine, bucket)
      case "http" => Parsers.lcoRows(mine, bucket)
      case "actor_replies" => actorReplies(mine, head).withColumn(Source, lit(head.name))
      case other => throw new IllegalArgumentException(s"${head.name}: unknown parser '$other'")
    }
  }

  /** S10 from YAML: each spool line is one complete actor reply
    * (PollingSource escapes embedded newlines, so no reassembly step is
    * needed here); the full reply → typed keywords → points chain runs
    * inside the stream (KeywordProcessor is window-free). Reference
    * shape: ActorClientSource(actor, casts, keyword_tags,
    * store_broadcasts) + the keys dictionary (tron.py:289-321). */
  private def actorReplies(raw: DataFrame, s: SpoolSource): DataFrame = {
    val dict = ActorReplies.KeysDictionary(s.conf.req("actor"),
      SpoolSource.dictionaryConf(s.conf.options))
    val replies = raw
      .select(col("raw").as("line"), col("recv_time"))
      .as[ActorReplies.ReplyLine](Encoders.product[ActorReplies.ReplyLine])
    KeywordProcessor.process(
      ActorReplies.parse(replies, dict,
        storeBroadcasts = s.conf.opt("store_broadcasts").exists(_.toBoolean)).toDF(),
      keywordTags = SpoolSource.keywordTagsConf(s.conf.options),
      casts = SpoolSource.castsConf(s.conf.options),
      bucket = s.bucket.getOrElse("sensors"))
  }

  /** Each source's configured `tags` merged over its points' own
    * (source.py:98-99); points of untagged sources are left as parsed. */
  private def withSourceTags(points: DataFrame, sources: Seq[SpoolSource]): DataFrame = {
    val tagged = sources.filter(_.tags.nonEmpty)
    if (tagged.isEmpty) points
    else {
      val tags = element_at(typedLit(tagged.map(s => s.name -> s.tags).toMap), col(Source))
      points.withColumn(Point.Tags, when(tags.isNull, col(Point.Tags))
        .otherwise(map_concat(coalesce(col(Point.Tags), map()), tags)))
    }
  }
}
