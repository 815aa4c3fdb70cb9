package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Point

/** Streaming-side operators: the central normalization stage and the
  * event-time machinery (watermarks, tumbling windows) that
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
}
