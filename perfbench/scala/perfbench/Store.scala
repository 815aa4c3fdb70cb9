package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.batch.{Backfill, Rolling}
import graft.model.Point
import graft.query.TelemetryQuery
import graft.sinks.TelemetrySink

/** The telemetry store half of the `batch` workload.
  *
  *  - Archive: a seeded point archive, one parquet file per day, in the
  *    flat row shape an archive API returns. About 1% of its rows are
  *    delivered twice, as an at-least-once archive does.
  *  - Backfill: `Backfill.read` in one-day chunks with an hour of overlap,
  *    normalized into points and written with `TelemetrySink.writeBatch`.
  *  - Queries: a fixed cycle of dashboard reads (range → measurement →
  *    tag → pivot with declared fields), downsampling, rolling windows,
  *    linear resampling and a line-protocol export; the seed picks each
  *    query's sensor and time range.
  *
  * Answers are checked by [[Check]] against the archive; the store itself
  * is checked against the archive by `run.py`. */
object Store {
  val Sensors = 12
  val CadenceS = 20
  val Days = 2
  val Fields: Seq[String] = Seq("cmb", "pir", "pz", "temp")
  val Base: Timestamp = Timestamp.valueOf("2024-03-01 00:00:00")
  val OverlapS = 3600L

  def baseMs: Long = Base.getTime
  def endMs: Long = baseMs + Days * 86400000L

  /** Seeded archive: one row per sensor per tick, values from hashes of
    * (seed, row id), so the data do not depend on partitioning. */
  def writeArchive(spark: SparkSession, seed: Long, dir: String): Unit = {
    val perDay = Sensors * 86400 / CadenceS
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    def unit(k: Int) = pmod(h(k), lit(1000000L)).cast(DoubleType) / 1e6
    val rows = spark.range(0L, perDay.toLong * Days, 1L, Days)
      .select(
        col("id"),
        format_string("s%02d", (col("id") % Sensors).cast(IntegerType)).as("sensor"),
        timestamp_millis(lit(baseMs) + (col("id") / Sensors).cast(LongType) * (CadenceS * 1000L)
          + pmod(h(0), lit(1000L))).as("time"),
        (lit(1e-6) + unit(1) * 1e-3).as("pz"),
        (lit(1e-5) + unit(2) * 1e-2).as("pir"),
        (lit(100.0) + unit(3) * 900).as("cmb"),
        round(lit(15.0) + unit(4) * 15, 2).as("temp"))
    val redelivered = rows.filter(pmod(h(9), lit(100L)) === 0)
    rows.unionByName(redelivered).drop("id")
      .withColumn("day", to_date(col("time")))
      .repartition(col("day"))
      .write.partitionBy("day").parquet(dir)
  }

  private def archiveChunk(spark: SparkSession, dir: String)(c: Backfill.Chunk): DataFrame =
    spark.read.parquet(dir)
      .filter(col("day").between(to_date(lit(c.start)), to_date(lit(c.end))))
      .filter(col("time") >= lit(c.start) && col("time") < lit(c.end))
      .drop("day")

  def backfillRows(spark: SparkSession, archive: String): DataFrame =
    Backfill.read(spark, Base, new Timestamp(endMs), 86400L, OverlapS,
      "time", Seq("sensor", "time"))(archiveChunk(spark, archive))

  /** Rows fetched by the chunked reads before de-duplication. */
  def fetchedRows(spark: SparkSession, archive: String): Long =
    Backfill.chunks(Base, new Timestamp(endMs), 86400L, OverlapS)
      .map(archiveChunk(spark, archive)).map(_.count()).sum

  def toPoints(rows: DataFrame): DataFrame =
    graft.transforms.Transforms.normalize()(rows.select(
      lit("pressure").as(Point.Measurement),
      map(lit("sensor"), col("sensor")).as(Point.Tags),
      map(Fields.flatMap(f => Seq(lit(f), col(f))): _*).as(Point.Fields),
      lit(null).cast(MapType(StringType, StringType)).as(Point.FieldsStr),
      col("time").as(Point.Time),
      lit(null).cast(LongType).as(Point.TimeNs),
      lit("archive").as(Point.Bucket)))

  final case class Q(id: Int, kind: String, sensor: String, from: Timestamp, to: Timestamp)

  /** The query kinds in the order one client cycles through them: mostly
    * dashboard reads. The mix is fixed so that seeds differ only in data
    * and ranges. It also keeps the run's percentiles away from the edges
    * between kinds, where they would jump from one kind's latency to
    * another's: the faster kinds (export, downsample) hold the lowest
    * 2/11 of the latencies, the dashboard reads the middle 6/11 with the
    * median, rolling the next 1/11, and the slowest kind, resample, the top
    * 2/11 with the p90. */
  val Cycle: Seq[String] = Seq("dashboard", "resample", "dashboard", "downsample", "dashboard",
    "rolling", "dashboard", "resample", "dashboard", "export", "dashboard")

  def queryStream(seed: Long, firstId: Int = 0): Iterator[Q] = {
    val rnd = new scala.util.Random(seed)
    Iterator.from(firstId).map { i =>
      val kind = Cycle((i - firstId) % Cycle.size)
      val hours = 2 + rnd.nextInt(11)
      val start = baseMs + rnd.nextInt(Days * 24 - hours) * 3600000L + rnd.nextInt(3600) * 1000L
      Q(i, kind, f"s${rnd.nextInt(Sensors)}%02d", new Timestamp(start), new Timestamp(start + hours * 3600000L))
    }
  }

  private def slice(spark: SparkSession, store: String, q: Q): TelemetryQuery =
    TelemetryQuery.from(spark, store).range(q.from, q.to).measurement("pressure")
      .tag("sensor", q.sensor)

  private def wide(spark: SparkSession, store: String, q: Q): DataFrame =
    slice(spark, store, q).fields(Fields: _*).withPivotValues(Fields).pivot()
      .withColumn("sensor", element_at(col(Point.Tags), "sensor"))

  val RollWindows: Seq[(String, Long)] = Seq("5m" -> 300L, "30m" -> 1800L)
  val ResampleStepS = 90L
  val DownsampleEvery = "10 minutes"

  /** Run one query; its answer, in a shape the checks compare. */
  def execute(spark: SparkSession, store: String, q: Q): Seq[Row] = q.kind match {
    case "dashboard" => Trace.span("query.dashboard")(
      wide(spark, store, q).select("time", Fields: _*).collect().toSeq)
    case "downsample" => Trace.span("query.downsample")(
      graft.streaming.StreamOps.tumblingFieldStats(slice(spark, store, q).toDF, DownsampleEvery)
        .select(col("window.start").as("w"), col("field"), col("n"), col("mean"), col("min"), col("max"))
        .collect().toSeq)
    case "rolling" => Trace.span("batch.rolling")(
      Rolling.withRollingColumns(wide(spark, store, q), "time", Seq("sensor"), RollWindows,
        Seq("pz" -> "mean", "temp" -> "max"))
        .select("time", "pz_5m", "temp_5m", "pz_30m", "temp_30m").collect().toSeq)
    case "resample" => Trace.span("batch.resample")(
      Rolling.resampleLinear(wide(spark, store, q), "time", "pz", Seq("sensor"), ResampleStepS)
        .select(unix_micros(col("time").cast("timestamp")).as("t"), col("pz")).collect().toSeq)
    case "export" => Trace.span("query.export")(
      TelemetrySink.lineProtocol(slice(spark, store, q).toDF, "archive").select("line").collect().toSeq)
  }
}
