package graft.batch

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ResampleGrid

/** Time-based rolling windows — the Spark form of the reference's
  * `rolling_mean_by` / `rolling_max_by` wind & gust analysis
  * (cerebro/tools.py:248-272, operators R11/R12 in SURVEY.md §2.3).
  *
  * Scale note: the reference computes one global rolling series (a single
  * station's weather, thousands of rows). A global `Window.orderBy` in Spark
  * collapses to ONE partition — wrong at 100 TB. The API therefore requires
  * partition keys; per-entity rolling series (per device, per user, per
  * measurement) is the scalable semantics, and passing no keys is an
  * explicit, documented opt-in for small frames.
  */
object Rolling {

  /** A range-frame window over event-time, partitioned by `keys`.
    * Ordering is on `unix_micros(ts)` so the frame bound is exact
    * microseconds — matching what an oracle computes with `epoch_us`.
    */
  def timeWindow(tsCol: Column, windowSeconds: Long, keys: Column*): WindowSpec = {
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys: _*)
    base.orderBy(unix_micros(tsCol))
      .rangeBetween(-windowSeconds * 1000000L, Window.currentRow)
  }

  /** R11 — rolling time-window mean of `value` over trailing `windowSeconds`. */
  def rollingMean(value: Column, tsCol: Column, windowSeconds: Long, keys: Column*): Column =
    avg(value).over(timeWindow(tsCol, windowSeconds, keys: _*))

  /** R12 — rolling time-window max (wind gusts, tools.py:258-264). */
  def rollingMax(value: Column, tsCol: Column, windowSeconds: Long, keys: Column*): Column =
    max(value).over(timeWindow(tsCol, windowSeconds, keys: _*))

  /** Rolling count in the trailing window (rate estimation). */
  def rollingCount(value: Column, tsCol: Column, windowSeconds: Long, keys: Column*): Column =
    count(value).over(timeWindow(tsCol, windowSeconds, keys: _*))

  /** The reference's full wind pipeline shape: for each (colName -> agg)
    * add columns `<colName>_<label>` for every window in `windows`
    * (tools.py:248-272 builds 5m/10m/30m means and gusts).
    *
    * Every output is computed over the input frame's columns (an output
    * never reads another output, even when its name matches an input
    * column), and all of them are added in one projection; an output
    * named like an existing column replaces it in place. The windows
    * share their partition keys and order, so Catalyst plans one sort and
    * one `Window` for all outputs; the frames differ only in their range. */
  def withRollingColumns(
      df: DataFrame,
      tsCol: String,
      keys: Seq[String],
      windows: Seq[(String, Long)],
      cols: Seq[(String, String)]): DataFrame = {
    val keyCols = keys.map(col)
    val outputs = for ((label, seconds) <- windows; (c, aggName) <- cols) yield {
      val agg = aggName match {
        case "mean" => avg(col(c))
        case "max" => max(col(c))
        case "min" => min(col(c))
        case other => throw new IllegalArgumentException(s"unsupported rolling agg: $other")
      }
      s"${c}_$label" -> agg.over(timeWindow(col(tsCol), seconds, keyCols: _*))
    }
    df.withColumns(ListMap(outputs: _*))
  }

  /** Regular-grid resampling with linear interpolation — the batch form
    * of InfluxDB Flux's `aggregateWindow`/`interpolate.linear` that the
    * reference's dashboards lean on: per key, emit one row at every
    * `stepSeconds` tick between the series' first and last observation,
    * with the value linearly interpolated between the bracketing raw
    * points (`v = v₋ + (v₊ − v₋)·(t − t₋)/(t₊ − t₋)`; an exact tick hit
    * returns the raw value). Duplicate timestamps within a key collapse
    * to their `max` first (NaN largest; a −0.0/+0.0 tie gives +0.0);
    * null values are treated as missing. Ticks are floor/ceil multiples
    * of the step in integer microseconds, before 1970 too; the
    * interpolation is fixed-order IEEE double math, replayable
    * bit-for-bit by any engine (q91's oracle).
    *
    * Scale shape: one keyed aggregate collects each key's `(t, v)`
    * points (one exchange above the input), and one compiled kernel,
    * `resample_grid` ([[org.apache.spark.sql.graft.ResampleStatics]]),
    * sorts, collapses and walks them once to emit the grid — no tick
    * union, no windows. Like every per-entity operator here, one KEY's
    * series must fit one array in one task; keys are required
    * ([[Rolling]] scaladoc — a global resample collapses to one
    * partition and is wrong at scale). */
  def resampleLinear(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], stepSeconds: Long): DataFrame =
    resampleImpl(df, tsCol, valueCol, keys, stepSeconds, interpolate = true)

  /** [[resampleLinear]] with last-observation-carried-forward fill
    * (Flux `fill(usePrevious: true)` — the step-function semantics
    * telemetry dashboards default to for states/setpoints, where
    * interpolating between discrete values would invent readings):
    * every tick carries the most recent raw observation at or before
    * it. Same tick grid, same aggregate and kernel. */
  def resamplePrevious(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], stepSeconds: Long): DataFrame =
    resampleImpl(df, tsCol, valueCol, keys, stepSeconds, interpolate = false)

  private def resampleImpl(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], stepSeconds: Long, interpolate: Boolean): DataFrame = {
    require(keys.nonEmpty, "resample requires partition keys (see Rolling scaladoc)")
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val keyCols = keys.map(col)
    df.select(keyCols :+ unix_micros(col(tsCol).cast("timestamp")).as("t") :+ col(valueCol).cast("double").as("v"): _*)
      .filter(col("v").isNotNull)
      .groupBy(keyCols: _*).agg(collect_list(struct(col("t"), col("v"))).as("points"))
      .select(keyCols :+ inline(ResampleGrid.column(col("points"), stepSeconds * 1000000L, interpolate)): _*)
      .select(keyCols :+ timestamp_micros(col("t")).cast("timestamp_ntz").as(tsCol) :+ col("v").as(valueCol): _*)
  }
}
