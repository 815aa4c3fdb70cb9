package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.{Point, TelemetryPoint}
import graft.sinks.TelemetrySink

/** The sink's idempotence dedup ([[TelemetrySink.dropKeyRepeats]], a hash
  * aggregate keyed on the maps) against the sorted-string key it replaced,
  * kept here as the reference: the same rows on every fixture the two keys
  * agree on, and each intended difference pinned on its own. Every case
  * also runs after `repartition(7)`. */
class SinkDedupSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced key: measurement, sorted `k=v` strings of the tag map
    * and of both field maps (doubles cast to string), time; an arbitrary
    * row of each key survives. */
  private def stringKeyDedup(df: DataFrame): DataFrame = {
    def pairs(m: Column) = concat_ws(",", array_sort(transform(map_entries(coalesce(m, map())),
      e => concat(e.getField("key"), lit("="), e.getField("value")))))
    df.withColumn("__tags_key", pairs(col(Point.Tags)))
      .withColumn("__fields_key",
        concat(pairs(col(Point.Fields)), lit("|"), pairs(col(Point.FieldsStr))))
      .dropDuplicates(Point.Measurement, "__tags_key", "__fields_key", Point.Time)
      .drop("__tags_key", "__fields_key")
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def pt(tags: Map[String, String] = Map("site" -> "APO"),
      fields: Map[String, Double] = Map("v" -> 1.0), fieldsStr: Map[String, String] = null,
      time: Timestamp = t0, timeNs: Option[Long] = None, bucket: String = "sensors",
      measurement: String = "m") =
    TelemetryPoint(measurement, tags, fields, fieldsStr, time, timeNs, Some(bucket))

  /** One row as comparable values: a null map reads as `{}`, maps as
    * key-sorted pairs, doubles by their string form (so NaN equals NaN
    * and −0.0 differs from 0.0). */
  private def canon(r: Row): Seq[Any] = Point.schema.fieldNames.toSeq.map { c =>
    r.get(r.fieldIndex(c)) match {
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, v) => (k.toString, String.valueOf(v)) }.sorted
      case null if Seq(Point.Tags, Point.Fields, Point.FieldsStr).contains(c) => Seq.empty
      case v => v
    }
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.select(Point.schema.fieldNames.map(col).toSeq: _*).collect().toSeq.map(canon)
      .groupBy(identity).view.mapValues(_.size).toMap

  /** `f` on the fixture as built and after `repartition(7)`. */
  private def bothLayouts(points: Seq[TelemetryPoint])(f: DataFrame => Unit): Unit = {
    val df = points.toDF()
    f(df)
    f(df.repartition(7))
  }

  private val agreeing = Seq(
    "thermistor poll: 16 channel points, one tag set and time, all kept" ->
      (0 until 16).map(c => pt(tags = Map("controller" -> "sp1", "ccd" -> "r1"),
        fields = Map(s"channel$c" -> (20.0 + c)))),
    "exact replays collapse" ->
      (Seq.fill(3)(pt()) ++ Seq.fill(2)(pt(fields = Map("v" -> 2.0), fieldsStr = Map("s" -> "ok")))),
    "the same maps with entries in another order collapse" -> Seq(
      pt(tags = Map("a" -> "1", "b" -> "2"), fields = Map("x" -> 1.0, "y" -> 2.0)),
      pt(tags = Map("b" -> "2", "a" -> "1"), fields = Map("y" -> 2.0, "x" -> 1.0))),
    "a null map and {} are one key" -> Seq(
      pt(tags = null, fieldsStr = null), pt(tags = Map.empty, fieldsStr = Map.empty),
      pt(fields = null, fieldsStr = Map("s" -> "x")), pt(fields = Map.empty, fieldsStr = Map("s" -> "x"))),
    "NaN values: repeats collapse, NaN and a number stay apart" -> Seq(
      pt(fields = Map("v" -> Double.NaN)), pt(fields = Map("v" -> Double.NaN)),
      pt(fields = Map("v" -> 0.0 / 0.0)), pt(fields = Map("v" -> 1.0))))

  agreeing.foreach { case (name, points) =>
    test(s"hash-keyed dedup keeps the string key's rows: $name") {
      bothLayouts(points) { df =>
        assert(bag(TelemetrySink.dropKeyRepeats(df)) == bag(stringKeyDedup(df)))
      }
    }
  }

  test("hash-keyed dedup: the intended differences from the string key") {
    def counts(points: Seq[TelemetryPoint]): Seq[(Long, Long)] = {
      val df = points.toDF()
      Seq(df, df.repartition(7)).map(d =>
        (TelemetrySink.dropKeyRepeats(d).count(), stringKeyDedup(d).count()))
    }
    // bucket is part of the key: both kept (one leaf each), not one dropped
    assert(counts(Seq(pt(bucket = "a"), pt(bucket = "b"))).forall(_ == (2L, 1L)))
    // Spark normalises floating-point grouping keys: −0.0 ≡ 0.0
    assert(counts(Seq(pt(fields = Map("v" -> -0.0)), pt(fields = Map("v" -> 0.0))))
      .forall(_ == (1L, 2L)))
    // `=` and `,` inside tags no longer collide
    assert(counts(Seq(pt(tags = Map("a=b" -> "c")), pt(tags = Map("a" -> "b=c"))))
      .forall(_ == (2L, 1L)))
    bothLayouts(Seq(pt(timeNs = Some(5L)), pt(timeNs = Some(9L)), pt(timeNs = None),
        pt(tags = null, fields = Map("v" -> -0.0)))) { df =>
      val kept = TelemetrySink.dropKeyRepeats(df).collect()
      assert(kept.length == 2)
      // repeats keep max(time_ns), not an arbitrary row's
      assert(kept.map(_.getAs[Any](Point.TimeNs)).toSet == Set(9L, null))
      // a null map is stored as {}; the normalised −0.0 as 0.0
      val zero = kept.find(_.isNullAt(kept.head.fieldIndex(Point.TimeNs))).get
      assert(zero.getAs[Map[String, String]](Point.Tags) == Map.empty)
      assert(zero.getAs[Map[String, String]](Point.FieldsStr) == Map.empty)
      assert(java.lang.Double.doubleToRawLongBits(
        zero.getAs[Map[String, Double]](Point.Fields)("v")) == 0L)
    }
  }
}
