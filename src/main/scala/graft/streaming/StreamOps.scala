package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Point

/** Streaming-side operators: the central normalization stage and the
  * event-time machinery (watermarks, tumbling/session windows) that
  * replace the reference's ad-hoc staleness/ordering handling.
  */
object StreamOps {

  /** The uniform normalize stage (T5/T10/T11) for streams — identical
    * semantics to [[graft.transforms.Transforms.normalize]] plus an
    * event-time watermark so state stores can evict: late points beyond
    * `maxLateness` are dropped by the engine (the principled form of the
    * reference's `2*delay` staleness filter, lvm.py:80-82). */
  def normalize(
      globalTags: Map[String, String] = Map.empty,
      maxLateness: String = "1 minute")(df: DataFrame): DataFrame =
    graft.transforms.Transforms.normalize(globalTags)(df)
      .withWatermark(Point.Time, maxLateness)

  /** Tumbling event-time aggregation over the dynamic field map: emits one
    * row per (window, measurement, field) with count/mean/min/max — the
    * downsampling a telemetry store runs continuously. Works identically
    * on batch frames (window() is not streaming-only). */
  def tumblingFieldStats(df: DataFrame, every: String): DataFrame =
    df.select(col(Point.Time), col(Point.Measurement),
        explode(col(Point.Fields)).as(Seq("field", "value")))
      .groupBy(window(col(Point.Time), every), col(Point.Measurement), col("field"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean"),
        min(col("value")).as("min"), max(col("value")).as("max"))

  /** Session-window aggregation: groups points into activity sessions per
    * measurement separated by `gap` of silence (absent in the reference —
    * SURVEY.md §2.6 parity-plus). */
  def sessionStats(df: DataFrame, gap: String): DataFrame =
    df.select(col(Point.Time), col(Point.Measurement),
        explode(col(Point.Fields)).as(Seq("field", "value")))
      .groupBy(session_window(col(Point.Time), gap), col(Point.Measurement))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean"))

  /** Streaming idempotence (SURVEY.md §4 at-least-once contract): drop
    * points already seen within the watermark horizon, keyed on the sink's
    * idempotence key (measurement, canonical tags, canonical fields, time),
    * so same-series same-time points with different fields are all kept.
    * State is bounded by the watermark — use AFTER [[normalize]] so the
    * watermark exists. */
  def dedupWithinWatermark(df: DataFrame): DataFrame =
    graft.sinks.TelemetrySink.dropKeyRepeats(df, withinWatermark = true)
      .drop("__tags_key", "__fields_key")

  /** Q5 for live streams — `groupBy().pivot()` is batch-only, so the wide
    * table is built with conditional aggregates over the declared field
    * list in one aggregate (at scale you always declare the fields —
    * SURVEY.md Q5 note). Spark compiles a fixed-value `pivot` into two
    * aggregates, one on (keys, field) and a `PivotFirst` on the keys;
    * [[graft.query.TelemetryQuery.pivot]] with declared values is the
    * batch form of this single aggregate. One row per (window,
    * measurement, tags); one column per field. */
  def streamingPivot(df: DataFrame, every: String, fieldNames: Seq[String]): DataFrame = {
    require(fieldNames.nonEmpty, "declare the pivot fields")
    val aggs = fieldNames.map(f =>
      max(when(col("__field") === f, col("__value"))).as(f))
    df.select(col(Point.Time), col(Point.Measurement), col(Point.Tags),
        explode(col(Point.Fields)).as(Seq("__field", "__value")))
      .groupBy(window(col(Point.Time), every), col(Point.Measurement), col(Point.Tags))
      .agg(aggs.head, aggs.tail: _*)
  }
}
