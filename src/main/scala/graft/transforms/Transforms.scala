package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Point

/** Pure `DataFrame => DataFrame` ingest transforms — the Spark-first
  * re-expression of the reference's per-point operators (SURVEY.md §2.2).
  * All are narrow (no shuffle) column expressions that stay inside
  * whole-stage codegen, so they cost nothing extra at 100 TB: they fuse
  * into the scan stage.
  */
object Transforms {

  /** T5 + T10 + T11 — central normalization, the Spark form of
    * `Cerebro.on_next` (cerebro/cerebro.py:385-415):
    *   - drop empty points (T10, cerebro.py:404-405)
    *   - stamp missing event time with processing time (T5, cerebro.py:407)
    *   - merge instance-global tags into each point (T11, cerebro.py:412)
    *
    * Global tags win over point tags, matching `dict.update` semantics in
    * the reference.
    */
  def normalize(globalTags: Map[String, String] = Map.empty)(df: DataFrame): DataFrame = {
    val stamped = df
      .filter(col(Point.Fields).isNotNull && size(col(Point.Fields)) > 0 ||
        col(Point.FieldsStr).isNotNull && size(col(Point.FieldsStr)) > 0)
      .withColumn(Point.Time, coalesce(col(Point.Time), current_timestamp()))
    if (globalTags.isEmpty) stamped
    else {
      val gt = map(globalTags.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      stamped.withColumn(
        Point.Tags,
        map_concat(map_filter(coalesce(col(Point.Tags), map()),
          (k, _) => !k.isin(globalTags.keys.toSeq.map(lit): _*)), gt))
    }
  }

  /** T8 — relay decode (cerebro/sources/drift.py:149-151):
    * "closed" => true, "open" => false, anything else null. */
  def relayDecode(c: Column): Column =
    when(lower(c) === "closed", lit(true))
      .when(lower(c) === "open", lit(false))
      .otherwise(lit(null).cast(BooleanType))

  /** T12 — hex bitmask unpack (lvm.py:396-418): one input row carrying a
    * 16-channel hex bitmask becomes 16 rows `(channel, bit)`. Expressed as
    * `explode(sequence)` + bit arithmetic, a narrow op followed by a
    * generator — no shuffle, fully codegen'd.
    */
  def bitUnpack(df: DataFrame, hexCol: String, channels: Int = 16): DataFrame =
    df.withColumn("__mask", conv(col(hexCol), 16, 10).cast(LongType))
      .withColumn("channel", explode(sequence(lit(0), lit(channels - 1))))
      .withColumn("bit", expr("shiftright(__mask, channel) & 1"))
      .drop("__mask")

  /** T12 numeric form: unpack `channels` bits of an integral mask column. */
  def bitUnpackLong(df: DataFrame, maskCol: Column, channels: Int = 16): DataFrame =
    df.withColumn("__mask", maskCol.cast(LongType))
      .withColumn("channel", explode(sequence(lit(0), lit(channels - 1))))
      .withColumn("bit", expr("shiftright(__mask, channel) & 1"))
      .drop("__mask")

  /** T13 — ion-pump volts→Torr calibration (lvm.py:549-560):
    * `10**(m*v + b) * k` with the reference's constants. */
  val IonPumpSlope = 2.04545
  val IonPumpIntercept = -6.86373
  val PaToTorr = 0.00750062
  def voltsToTorr(v: Column): Column =
    pow(lit(10.0), v * IonPumpSlope + IonPumpIntercept) * PaToTorr

  /** R8 — Fahrenheit→Celsius (cerebro/tools.py:236). */
  def fahrenheitToCelsius(f: Column): Column = (f - lit(32.0)) * lit(5.0) / lit(9.0)

  /** R13 — dew-point approximation (tools.py:275-278):
    * `temperature - round((100 - humidity) / 5, 2)`. */
  def dewPoint(temperature: Column, relHumidity: Column): Column =
    temperature - round((lit(100.0) - relHumidity) / 5.0, 2)

  /** R14 — downcast every DoubleType column to FloatType
    * (tools.py:281,340 casts all floats to Float32). */
  def floatsToF32(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == DoubleType) col(f.name).cast(FloatType).as(f.name)
      else col(f.name)
    }.toSeq: _*)

  /** T2 — recursive struct flatten with `.`-separated names
    * (cerebro/sources/AMQP.py:28-58). Unlike the reference, arrays are
    * KEPT (the reference drops list values, AMQP.py:40-41) — SURVEY.md §2.2
    * flags that as a deliberate improvement.
    */
  def flattenStructs(df: DataFrame, sep: String = "."): DataFrame = {
    def fieldPaths(schema: StructType, prefix: Seq[String]): Seq[Seq[String]] =
      schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case s: StructType => fieldPaths(s, prefix :+ f.name)
          case _ => Seq(prefix :+ f.name)
        }
      }
    val cols = fieldPaths(df.schema, Nil).map { path =>
      col(path.map(p => s"`$p`").mkString(".")).as(path.mkString(sep))
    }
    df.select(cols: _*)
  }
}
