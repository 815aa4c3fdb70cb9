package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window formulation `Rolling.resampleLinear`/`resamplePrevious`
  * had before the `resample_grid` kernel, kept verbatim as the reference
  * the kernel is pinned against (ResampleGridSpec): raw points and
  * generated ticks union into one frame, and per-key ordered windows find
  * each tick's bracketing observations. Its grid bounds use SQL `div`,
  * which truncates toward zero, so it is only a reference for series at
  * or after 1970. */
object ResampleWindowReference {

  def resample(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], stepSeconds: Long, interpolate: Boolean): DataFrame = {
    require(keys.nonEmpty, "resample requires partition keys (see Rolling scaladoc)")
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val step = stepSeconds * 1000000L
    val keyCols = keys.map(col)
    val raw = df
      .select(keyCols :+ unix_micros(col(tsCol).cast("timestamp")).as("t") :+ col(valueCol).cast("double").as("v"): _*)
      .groupBy(keyCols :+ col("t"): _*).agg(max("v").as("v"))
      // "null values are treated as missing" for real: an all-null (key,t)
      // group must not act as a bracket — its timestamp would pair with a
      // DIFFERENT observation's value (wrong slope), and a tick landing on
      // it would read as an exact hit emitting the older value. max()
      // already ignores nulls within a group; drop the all-null groups too
      // so every surviving raw row carries both its t and its v.
      .filter(col("v").isNotNull)
    val ticks = raw.groupBy(keyCols: _*)
      .agg(min("t").as("tmin"), max("t").as("tmax"))
      .withColumn("gmin", expr(s"((tmin + $step - 1) div $step) * $step"))
      .withColumn("gmax", expr(s"(tmax div $step) * $step"))
      .filter(col("gmin") <= col("gmax"))
      .select(keyCols :+ explode(sequence(col("gmin"), col("gmax"), lit(step))).as("t"): _*)
    val unioned = raw.withColumn("is_raw", lit(1))
      .unionByName(ticks.withColumn("v", lit(null).cast("double")).withColumn("is_raw", lit(0)))
    val w = Window.partitionBy(keyCols: _*).orderBy(col("t").asc, col("is_raw").desc)
    val before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The forward-looking bracket (first raw observation at or after the
    // tick) is NOT expressed as `first(...) over (current row ..
    // unbounded following)`: Spark's UnboundedFollowingWindowFunctionFrame
    // rebuilds its aggregate buffer from the current row to the partition
    // end for EVERY row — O(n²) per key's series (measured: the frame
    // dominated q91's wall at 667 raw points/key; SPARK's growing-frame
    // processor is incremental, the shrinking one is not). The same value
    // computed over the REVERSED sort is a growing frame: (t desc,
    // is_raw asc) is the exact reverse of (t asc, is_raw desc) — the key
    // is unique per row (raw and tick rows at one t differ in is_raw) —
    // so `last(.., ignoreNulls) over (unbounded preceding .. current)`
    // under the reversed order selects the identical bracket row in O(n).
    // Costs one extra local sort per partition; no extra exchange (same
    // partitioning).
    val wDesc = Window.partitionBy(keyCols: _*).orderBy(col("t").desc, col("is_raw").asc)
    val afterInc = wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rawV = when(col("is_raw") === 1, col("v"))
    val rawT = when(col("is_raw") === 1, col("t"))
    val bracketed =
      if (!interpolate)
        unioned.withColumn("pv", last(rawV, ignoreNulls = true).over(before))
          .filter(col("is_raw") === 0)
          .withColumn(valueCol, col("pv"))
      else
        unioned
          .withColumn("pv", last(rawV, ignoreNulls = true).over(before))
          .withColumn("pt", last(rawT, ignoreNulls = true).over(before))
          .withColumn("nv", last(rawV, ignoreNulls = true).over(afterInc))
          .withColumn("nt", last(rawT, ignoreNulls = true).over(afterInc))
          .filter(col("is_raw") === 0)
          .withColumn(valueCol,
            when(col("pt") === col("t"), col("pv")).otherwise(
              col("pv") + (col("nv") - col("pv")) *
                ((col("t") - col("pt")).cast("double") / (col("nt") - col("pt")).cast("double"))))
    bracketed
      .select(keyCols :+ timestamp_micros(col("t")).cast("timestamp_ntz").as(tsCol) :+ col(valueCol): _*)
  }
}
