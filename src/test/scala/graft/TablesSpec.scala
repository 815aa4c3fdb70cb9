package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The testdata-schema-survival contract: the driver has shipped
  * `events.ts` as parquet timestamp[ns] (read as raw int64 nanos under
  * the legacy flag) and as timestamp[us]; third-party parquet could
  * carry a tz-adjusted timestamp. `Tables.events` must yield identical
  * TIMESTAMP_NTZ microsecond values from all three physical layouts —
  * the r8 regression (18/75 queries silently broken by a regeneration)
  * must be structurally impossible to repeat. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // one row whose instant is exact at µs: 2024-03-01 12:34:56.789012
  private val micros = 1709296496789012L

  private def writeLayout(layout: String): String = {
    val dir = Files.createTempDirectory(s"graft-ev-$layout").toString
    val base = Seq((1L, micros, 7L, "click", 0.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val withTs = layout match {
      case "long_ns" => base.withColumn("ts", col("us") * 1000L)
      case "ntz" => base.withColumn("ts",
        expr("cast(timestamp_micros(us) as timestamp_ntz)"))
      case "tz" => base.withColumn("ts", timestamp_micros(col("us")))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Tables.events normalizes int64-ns, timestamp_ntz and tz-timestamp layouts identically") {
    val results = Seq("long_ns", "ntz", "tz").map { layout =>
      val df = Tables.events(spark, writeLayout(layout))
      assert(df.schema("ts").dataType.typeName == "timestamp_ntz",
        s"$layout: ts must normalize to TIMESTAMP_NTZ")
      layout -> df.select(unix_micros(col("ts").cast("timestamp"))).as[Long].head()
    }
    results.foreach { case (layout, us) =>
      assert(us == micros, s"$layout read $us, expected $micros")
    }
  }

  test("Tables.events refuses an unusable ts dtype loudly, not silently") {
    val dir = Files.createTempDirectory("graft-ev-bad").toString
    Seq((1L, "not-a-time", 7L, "click", 0.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] { Tables.events(spark, dir) }
    assert(e.getMessage.contains("unsupported type"))
  }

  test("testdata holds the replay oracles' assumptions: events tie-free, documents anomaly-free") {
    // q89's oracle attributes running counts ORDER BY ts — only a total
    // order per key keeps that engine-independent; q87's oracle joins
    // corpus totals on (lang, source) equality, which never matches a
    // NULL key. A regenerated testdata that breaks either fails HERE
    // with a name, not as a mystery hash mismatch.
    val ties = Tables.events(spark, sf())
      .groupBy("event_type", "ts").count().filter(col("count") > 1).count()
    assert(ties == 0,
      "events has tied (event_type, ts) pairs — q89-family oracles are order-ambiguous on them")
    val docs = Tables.documents(spark, sf())
    val dupIds = docs.groupBy("doc_id").count().filter(col("count") > 1).count()
    val nullKeys = docs
      .filter(col("lang").isNull || col("source").isNull || col("n_chars").isNull).count()
    assert(dupIds + nullKeys == 0,
      "documents has dup ids or NULL lang/source/n_chars — q87's grouping vs join-equality diverges")
  }
}
