package graft.model

import org.apache.spark.sql.types._

/** Canonical telemetry data-point model.
  *
  * Mirrors the reference's uniform stream record (sdss/cerebro
  * `DataPoints`, cerebro/sources/source.py:35-37, normalized in
  * `Cerebro.on_next`, cerebro/cerebro.py:385-415): a measurement name,
  * dynamic `fields`, string `tags`, an event time and a target bucket.
  *
  * Design decisions (SURVEY.md §1.4 / §7.4):
  *   - `time` is Spark `TimestampType` (microseconds). The reference stamps
  *     nanoseconds (cerebro.py:407); we additionally carry `time_ns LONG`
  *     for lossless parity when a source provides it.
  *   - dynamic fields are a `MAP<STRING,DOUBLE>` plus a parallel
  *     `MAP<STRING,STRING>` for non-numeric values, so heterogeneous
  *     field dicts (bool/int/float/string) survive without a schema
  *     registry. Sinks pivot to wide typed tables per measurement.
  */
object Point {
  val Measurement = "measurement"
  val Tags = "tags"
  val Fields = "fields"
  val FieldsStr = "fields_str"
  val Time = "time"
  val TimeNs = "time_ns"
  val Bucket = "bucket"

  /** Uniform stream schema every source must emit. */
  val schema: StructType = StructType(Seq(
    StructField(Measurement, StringType, nullable = false),
    StructField(Tags, MapType(StringType, StringType), nullable = true),
    StructField(Fields, MapType(StringType, DoubleType), nullable = true),
    StructField(FieldsStr, MapType(StringType, StringType), nullable = true),
    StructField(Time, TimestampType, nullable = true),
    StructField(TimeNs, LongType, nullable = true),
    StructField(Bucket, StringType, nullable = true)
  ))
}
