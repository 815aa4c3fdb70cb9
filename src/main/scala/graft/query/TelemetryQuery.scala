package graft.query

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.model.Point
import graft.sinks.TelemetrySink

/** Fluent read-side query builder — parity with the reference's Flux
  * builder `CerebroClient._build_query` (cerebro/client.py:57-91,
  * SURVEY.md §2.3 Q1-Q6): from(bucket) |> range |> filter(measurement)
  * |> filter(field) |> pivot.
  *
  * Where the reference string-concatenates Flux and ships it to InfluxDB,
  * here every step is a declarative DataFrame op. Catalyst prunes columns
  * and pushes the range and measurement predicates into the parquet scan
  * (`PushedFilters` in `.explain`). The time bounds prune nothing on the
  * sink's stores, though: `time` is written as INT96, which carries no
  * parquet statistics, and every store file spans the whole archive, so a
  * store query reads every row and filters them after the scan
  * (ROADMAP "Store layout"). The field whitelist is not a scan predicate.
  *
  * A dashboard sends many queries that differ only in their time range,
  * so the read path keeps the fixed per-query cost low: [[from]] reads
  * through the sink's declared [[TelemetrySink.StoreSchema]] (no schema
  * inference job), a [[pivot]] with declared values is one aggregate, and
  * the session's `TimeParams` rule keeps the range bounds out of the
  * generated code, so a new range reuses the compiled classes. A pivot
  * plans no lambda (a lambda is evaluated row by row outside whole-stage
  * codegen), so its scan, filters and partial aggregate compile into one
  * stage; only [[toDF]] after [[fields]] runs a `map_filter`.
  */
final case class TelemetryQuery private (
    df: DataFrame,
    pivotValues: Option[Seq[String]],
    kept: Option[Seq[String]]) {

  /** Q2 — absolute time range, inclusive start / exclusive end like Flux
    * `range(start, stop)`. */
  def range(start: java.sql.Timestamp, end: java.sql.Timestamp): TelemetryQuery =
    copy(df = df.filter(col(Point.Time) >= lit(start) && col(Point.Time) < lit(end)))

  /** Q2 — relative range: `last(15, "minutes")` ≈ Flux `range(start: -15m)`
    * (client.py:111-114), anchored on the current timestamp. `unit` is
    * one of second, minute, hour, day or week, singular or plural; any
    * other unit is an `IllegalArgumentException`. */
  def last(amount: Int, unit: String): TelemetryQuery = {
    val span = java.time.Duration.ofSeconds(amount.toLong * TelemetryQuery.unitSeconds(unit))
    copy(df = df.filter(col(Point.Time) >= current_timestamp() - lit(span)))
  }

  /** Q3 — measurement filter (client.py:80). */
  def measurement(m: String): TelemetryQuery =
    copy(df = df.filter(col(Point.Measurement) === lit(m)))

  /** Q4 — field filter: keep only the named keys of the dynamic field map
    * (client.py:82-83 ORs several `_field ==` filters). A second call
    * keeps the names both calls name. The names are recorded, not applied
    * here: [[pivot]] reads only the kept keys, and [[toDF]] returns the
    * map with the other keys removed. */
  def fields(names: String*): TelemetryQuery =
    copy(kept = Some(kept.fold(names.distinct)(_.filter(names.contains))))

  /** Tag equality filter (Flux `r["tag"] == v` filters). */
  def tag(name: String, value: String): TelemetryQuery =
    copy(df = df.filter(element_at(col(Point.Tags), name) === lit(value)))

  /** Fix the output field columns ahead of time (at least one). Without
    * this, `pivot` must launch an extra distinct-values job; with it,
    * `pivot` is a single aggregate. At 100 TB always declare the expected
    * fields. */
  def withPivotValues(values: Seq[String]): TelemetryQuery = {
    require(values.nonEmpty, "withPivotValues needs at least one field name")
    copy(pivotValues = Some(values))
  }

  /** Q5 — long→wide pivot (client.py:85-89): one row per (time, tags),
    * one column per field key, `max` as the value reducer (deterministic,
    * unlike `first`, and identical to the reference's single-value case).
    *
    * With declared values this is one `groupBy(time, measurement, tags)`
    * of `max(element_at(fields, v))` per value over the rows whose field
    * map holds a kept key: exactly the groups `explode` would yield (a
    * group carrying only undeclared fields is an all-null row), without
    * the exploded rows and without the second `PivotFirst` aggregate that
    * Spark plans for `pivot(column, values)`. A declared value that
    * [[fields]] did not keep is a null column. Without declared values
    * the field map is exploded, the kept keys selected and pivoted on the
    * discovered keys.
    */
  def pivot(): DataFrame = {
    val keys = Seq(col(Point.Time), col(Point.Measurement), col(Point.Tags))
    pivotValues match {
      case Some(vs) =>
        val valueType = df.schema(Point.Fields).dataType.asInstanceOf[MapType].valueType
        val cells = vs.map { v =>
          val cell = if (kept.forall(_.contains(v))) max(element_at(col(Point.Fields), v))
            else lit(null).cast(valueType)
          cell.as(v)
        }
        val anyKept = kept.fold(size(col(Point.Fields)) > 0)(
          _.map(k => map_contains_key(col(Point.Fields), k)).foldLeft(lit(false))(_ || _))
        df.filter(anyKept).groupBy(keys: _*).agg(cells.head, cells.tail: _*)
      case None =>
        val exploded = df.select(keys :+ explode(col(Point.Fields)).as(Seq("__field", "__value")): _*)
        kept.fold(exploded)(ks => exploded.filter(col("__field").isin(ks: _*)))
          .groupBy(keys: _*)
          .pivot("__field").max("__value")
    }
  }

  /** Q6 — terminal: the query IS a DataFrame, its field map holding only
    * the keys [[fields]] kept. */
  def toDF: DataFrame = kept.fold(df) { ks =>
    val keep = ks.map(lit)
    df.withColumn(Point.Fields, map_filter(col(Point.Fields), (k, _) => k.isin(keep: _*)))
  }
}

object TelemetryQuery {
  /** Q1 — scan: `from(bucket: "...")`; a bucket is a store directory
    * written by [[TelemetrySink]], read through its declared
    * [[TelemetrySink.StoreSchema]]. A store with no data file yet reads as
    * no rows. */
  def from(spark: SparkSession, bucketPath: String): TelemetryQuery =
    TelemetryQuery(spark.read.schema(TelemetrySink.StoreSchema).parquet(bucketPath), None, None)

  def fromDF(df: DataFrame): TelemetryQuery = TelemetryQuery(df, None, None)

  private val UnitSeconds: Map[String, Long] =
    Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L, "week" -> 604800L)

  /** Seconds in one `unit` of [[TelemetryQuery.last]]. */
  private def unitSeconds(unit: String): Long = {
    val u = unit.trim.toLowerCase(Locale.ROOT)
    UnitSeconds.getOrElse(u.stripSuffix("s"), throw new IllegalArgumentException(
      s"last: unit '$unit' is not one of ${UnitSeconds.toSeq.sortBy(_._2).map(_._1).mkString(", ")} " +
        "(singular or plural)"))
  }
}
