package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.{Point, TelemetryPoint}
import graft.query.TelemetryQuery
import graft.sinks.TelemetrySink
import graft.transforms.Transforms

class TelemetryQuerySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def points = Seq(
    TelemetryPoint("weather", Map("site" -> "APO"),
      Map("temp" -> 20.0, "rh" -> 40.0), null, ts("2024-01-01 00:00:00"), None, None),
    TelemetryPoint("weather", Map("site" -> "APO"),
      Map("temp" -> 21.0), null, ts("2024-01-01 00:01:00"), None, None),
    TelemetryPoint("weather", Map("site" -> "LCO"),
      Map("temp" -> 30.0), null, ts("2024-01-01 00:00:00"), None, None),
    TelemetryPoint("seeing", Map("site" -> "APO"),
      Map("fwhm" -> 1.1), null, ts("2024-01-01 00:00:00"), None, None)
  ).toDF()

  /** Rows as a multiset: order-free, map columns compared as maps. */
  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  /** The fixed-value pivot as Spark plans it: explode the field map, then
    * `pivot(__field, values)` (an aggregate on (keys, __field) and a
    * `PivotFirst` aggregate on the keys). */
  private def explodePivot(df: DataFrame, vs: Seq[String]): DataFrame =
    df.select(col(Point.Time), col(Point.Measurement), col(Point.Tags),
        explode(col(Point.Fields)).as(Seq("__field", "__value")))
      .groupBy(col(Point.Time), col(Point.Measurement), col(Point.Tags))
      .pivot("__field", vs).max("__value")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Three pressure sensors every ten minutes for six hours, with the
    * declared fields `pz`, `temp` and an undeclared `cmb`. */
  private def pressureStore(): String = {
    val out = tmp("graft-dash-")
    val pts = for (i <- 0 until 36; s <- 0 until 3) yield TelemetryPoint("pressure",
      Map("sensor" -> f"s$s%02d"), Map("pz" -> (i * 0.5 + s), "temp" -> (15.0 + s), "cmb" -> i.toDouble),
      null, new Timestamp(ts("2024-03-01 00:00:00").getTime + i * 600000L), None, Some("archive"))
    TelemetrySink.writeBatch(pts.toDF(), out)
    out
  }

  test("Q1-Q4: range + measurement + tag + field filters compose") {
    val q = TelemetryQuery.fromDF(points)
      .range(ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:30"))
      .measurement("weather")
      .tag("site", "APO")
      .fields("temp")
    val rows = q.toDF.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Map[String, Double]]("fields") == Map("temp" -> 20.0))
  }

  test("Q5 pivot widens field map to columns") {
    val wide = TelemetryQuery.fromDF(points)
      .measurement("weather")
      .withPivotValues(Seq("temp", "rh"))
      .pivot()
    assert(wide.columns.contains("temp") && wide.columns.contains("rh"))
    val apo0 = wide.filter(element_at(col("tags"), "site") === "APO" &&
        col("time") === ts("2024-01-01 00:00:00")).head()
    assert(apo0.getAs[Double]("temp") == 20.0 && apo0.getAs[Double]("rh") == 40.0)
    val apo1 = wide.filter(element_at(col("tags"), "site") === "APO" &&
        col("time") === ts("2024-01-01 00:01:00")).head()
    assert(apo1.isNullAt(apo1.fieldIndex("rh"))) // missing field -> null
  }

  test("declared pivot equals the explode -> pivot(values) form row for row") {
    val t0 = ts("2024-01-01 00:00:00")
    val t1 = ts("2024-01-01 00:00:10")
    def row(m: String, site: String, fields: Map[String, Any], t: Timestamp) =
      Row(m, Map("site" -> site), fields, null, t, null, null)
    val rows = Seq(
      row("weather", "APO", Map("temp" -> 20.0, "rh" -> 40.0), t0),
      row("weather", "APO", Map("temp" -> 21.0), t0), // same group: max wins
      row("weather", "APO", Map("temp" -> null, "rh" -> 41.0), t1), // null value
      row("weather", "APO", Map("temp" -> 19.0, "wind" -> 5.0), t1), // plus an undeclared field
      row("weather", "LCO", Map.empty, t0), // empty map: no group
      row("weather", "LCO", null, t1), // null map: no group
      row("weather", "DUP", Map("wind" -> 3.0), t0) // only undeclared fields: all-null row
    ) ++ (0 until 16).map(i => // one ADAM poll: 16 channel points, one (time, tags)
      row("thermistors", "adam", Map(s"t$i" -> i.toDouble), t0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Point.schema)
    val vs = Seq("temp", "rh", "pressure") ++ (0 until 16).map(i => s"t$i")

    val got = TelemetryQuery.fromDF(df).withPivotValues(vs).pivot()
    val want = explodePivot(df, vs)
    assert(got.schema == want.schema)
    assert(bag(got) == bag(want))

    val bySite = got.collect().map(r => r.getAs[Map[String, String]]("tags")("site") -> r)
    assert(bySite.map(_._1).sorted.toSeq == Seq("APO", "APO", "DUP", "adam"))
    val dup = bySite.find(_._1 == "DUP").get._2
    assert(vs.forall(v => dup.isNullAt(dup.fieldIndex(v))))
    val adam = bySite.find(_._1 == "adam").get._2
    assert((0 until 16).forall(i => adam.getAs[Double](s"t$i") == i.toDouble))
  }

  /** Field selection as it was before it moved into `pivot` and `toDF`:
    * each `fields` call rewrites the map with a `map_filter`, and the
    * pivots read the rewritten map. The lowered path must match it. */
  private object FilteredMapReference {
    def fields(df: DataFrame, names: String*): DataFrame = {
      val keep = names.map(lit)
      df.withColumn(Point.Fields, map_filter(col(Point.Fields), (k, _) => k.isin(keep: _*)))
    }
    def pivot(df: DataFrame, values: Option[Seq[String]]): DataFrame = {
      val keys = Seq(col(Point.Time), col(Point.Measurement), col(Point.Tags))
      values match {
        case Some(vs) =>
          val cells = vs.map(v => max(element_at(col(Point.Fields), v)).as(v))
          df.filter(size(col(Point.Fields)) > 0).groupBy(keys: _*).agg(cells.head, cells.tail: _*)
        case None =>
          df.select(keys :+ explode(col(Point.Fields)).as(Seq("__field", "__value")): _*)
            .groupBy(keys: _*).pivot("__field").max("__value")
      }
    }
  }

  test("field selection at pivot and toDF equals the map_filter reference") {
    val t0 = ts("2024-01-01 00:00:00")
    val t1 = ts("2024-01-01 00:00:10")
    def row(site: String, fields: Map[String, Any], t: Timestamp) =
      Row("weather", Map("site" -> site), fields, null, t, null, null)
    val rows = Seq(
      row("APO", Map("temp" -> 20.0, "rh" -> 40.0, "wind" -> 2.0), t0),
      row("APO", Map("temp" -> 21.0), t0),
      row("APO", Map("temp" -> null, "rh" -> 41.0), t1), // null value
      row("LCO", Map("rh" -> 50.0, "wind" -> 4.0), t1),
      row("LCO", Map.empty, t0), // empty map
      row("LCO", null, t1), // null map
      row("DUP", Map("gust" -> 3.0, "dir" -> 90.0), t0)) // only undeclared fields
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Point.schema)
    val declared = Seq("temp", "rh", "pressure")
    val selections: Seq[(String, Seq[Seq[String]])] = Seq(
      "kept within declared" -> Seq(Seq("temp")),
      "declared within kept" -> Seq(Seq("temp", "rh", "pressure", "wind", "gust")),
      "two chained calls" -> Seq(Seq("temp", "rh", "wind"), Seq("rh", "wind", "dir")),
      "empty fields()" -> Seq(Nil),
      "no key of the data" -> Seq(Seq("nope")),
      "no fields call" -> Nil)
    for ((name, calls) <- selections) {
      val q = calls.foldLeft(TelemetryQuery.fromDF(df))((q, ns) => q.fields(ns: _*))
      val ref = calls.foldLeft(df)((d, ns) => FilteredMapReference.fields(d, ns: _*))
      def same(got: DataFrame, want: DataFrame, what: String): Unit = {
        assert(got.schema == want.schema, s"$name, $what")
        assert(bag(got) == bag(want), s"$name, $what")
      }
      same(q.toDF, ref, "toDF")
      same(q.withPivotValues(declared).pivot(), FilteredMapReference.pivot(ref, Some(declared)), "declared pivot")
      same(q.pivot(), FilteredMapReference.pivot(ref, None), "undeclared pivot")
    }
    // toDF still hands back the filtered map
    val kept = TelemetryQuery.fromDF(df).fields("temp", "wind").fields("wind", "rh").toDF
      .filter(element_at(col(Point.Tags), "site") === "LCO" && col(Point.Time) === t1 &&
        col(Point.Fields).isNotNull)
    assert(kept.collect().map(_.getAs[Map[String, Double]](Point.Fields)).toSeq == Seq(Map("wind" -> 4.0)))
  }

  test("withPivotValues needs at least one value") {
    intercept[IllegalArgumentException](TelemetryQuery.fromDF(points).withPivotValues(Nil))
  }

  test("from reads the declared store schema: same rows as the inferred read") {
    val out = tmp("graft-schema-")
    def pt(site: String, t: String, v: Double, bucket: Option[String]) =
      TelemetryPoint("weather", Map("site" -> site), Map("temp" -> v), Map("note" -> site),
        ts(t), Some(ts(t).getTime * 1000000L), bucket)
    TelemetrySink.writeBatchIdempotent(Seq(
      pt("APO", "2024-01-01 00:00:00", 20.0, Some("sensors")),
      pt("LCO", "2024-01-01 00:00:00", 30.0, None)).toDF(), out, batchId = 0)
    TelemetrySink.writeBatchIdempotent(Seq(
      pt("APO", "2024-01-01 00:01:00", 21.0, Some("sensors"))).toDF(), out, batchId = 1)
    TelemetrySink.writeBatch(Seq(
      pt("APO", "2023-12-31 00:00:00", 19.0, Some("sensors")),
      pt("APO", "2024-01-01 00:00:00", 20.0, Some("sensors"))).toDF(), out)

    val inferred = spark.read.parquet(out)
    val declared = TelemetryQuery.from(spark, out).toDF
    assert(declared.schema == TelemetrySink.StoreSchema)
    // the same columns and types; parquet keeps the writer's map-value
    // nullability, which the declared schema relaxes
    assert(declared.schema.simpleString == inferred.schema.simpleString)
    assert(bag(declared) == bag(inferred))
    assert(declared.count() == 5)
    assert(declared.filter(col("__batch").startsWith("backfill-")).count() == 2)
    assert(declared.filter(col("__batch").isin("0", "1")).count() == 3)
  }

  test("from on a store with no data file yet answers with no rows") {
    val out = tmp("graft-empty-")
    val q = TelemetryQuery.from(spark, out)
    assert(q.toDF.schema == TelemetrySink.StoreSchema)
    val wide = q.range(ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"))
      .measurement("weather").tag("site", "APO").withPivotValues(Seq("temp")).pivot()
    assert(wide.collect().isEmpty)
  }

  test("last: second/minute/hour/day/week only, and the window is the one asked for") {
    val now = System.currentTimeMillis()
    val pts = Seq(
      TelemetryPoint("weather", Map("site" -> "APO"), Map("temp" -> 1.0), null,
        new Timestamp(now - 5L * 86400000L), None, None),
      TelemetryPoint("weather", Map("site" -> "APO"), Map("temp" -> 2.0), null,
        new Timestamp(now - 3600000L), None, None)).toDF()
    def temps(amount: Int, unit: String): Seq[Double] =
      TelemetryQuery.fromDF(pts).last(amount, unit).toDF
        .select(element_at(col(Point.Fields), "temp")).as[Double].collect().sorted.toSeq
    assert(temps(1, "day") == Seq(2.0))
    assert(temps(1, "days") == Seq(2.0))
    assert(temps(1, "week") == Seq(1.0, 2.0))
    assert(temps(2, "Hours") == Seq(2.0))
    assert(temps(30, "minutes") == Nil)
    assert(temps(7200, "seconds") == Seq(2.0))
    // a unit is a word, never SQL: neither widens the window nor reaches the parser
    for (bad <- Seq("day + INTERVAL 9999 days", "fortnights", "")) {
      val e = intercept[IllegalArgumentException](TelemetryQuery.fromDF(pts).last(1, bad))
      assert(e.getMessage.contains("second, minute, hour, day, week"), e.getMessage)
    }
  }

  test("a new range or a second normalize compiles no new code; answers match the explode -> pivot form") {
    val store = pressureStore()
    val vs = Seq("pz", "temp")
    def slice(from: String, to: String) = TelemetryQuery.from(spark, store)
      .range(ts(from), ts(to)).measurement("pressure").tag("sensor", "s01").fields(vs: _*)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    slice("2024-03-01 00:00:00", "2024-03-01 02:00:00").withPivotValues(vs).pivot().collect()
    val before = compiles
    val got = slice("2024-03-01 01:30:00", "2024-03-01 04:10:00").withPivotValues(vs).pivot()
    val rows = got.collect()
    assert(compiles == before, "a dashboard over a new range compiled new code")
    assert(rows.length == 16)
    assert(bag(got) == bag(explodePivot(slice("2024-03-01 01:30:00", "2024-03-01 04:10:00").toDF, vs)))

    // points without a time get the query's current timestamp, folded to
    // a literal in a projection
    val raw = tmp("graft-norm-")
    Seq(
      TelemetryPoint("weather", Map("site" -> "APO"), Map("temp" -> 20.0), null, null, None, None),
      TelemetryPoint("weather", Map("site" -> "APO"), Map("temp" -> 21.0), null,
        ts("2024-01-01 00:00:00"), None, None)).toDF().write.mode("overwrite").parquet(raw)
    def normalized() = Transforms.normalize()(spark.read.parquet(raw))
      .select(col(Point.Time), element_at(col(Point.Fields), "temp").as("temp"))
      .as[(Timestamp, Double)].collect().sortBy(_._2).toSeq
    normalized()
    val beforeNorm = compiles
    val t0 = System.currentTimeMillis()
    val stamped = normalized()
    val t1 = System.currentTimeMillis()
    assert(compiles == beforeNorm, "a second normalize compiled new code")
    assert(stamped.map(_._2) == Seq(20.0, 21.0))
    assert(stamped(0)._1.getTime >= t0 - 1 && stamped(0)._1.getTime <= t1)
    assert(stamped(1)._1 == ts("2024-01-01 00:00:00"))
  }
}
