package graft

import org.apache.spark.sql.functions._
import graft.streaming.{GapTimerReplay, ReplayScaffold}

/** q88: event-time timers — every series gets exactly one timer-fired
  * tail, gap rows match the batch lag computation, and some gaps
  * straddle batch cuts (ValueState carry is non-vacuous). */
class GapTimerSpec extends SparkSpec {

  private lazy val out = GapTimerReplay.run(spark, sf()).collect()

  test("exactly one timer-fired tail per series, at max(ts) + T") {
    val ev = Tables.events(spark, sf())
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val lastPerUser = ev.groupBy("user_id").agg(max("ts").as("m")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val tails = out.filter(_.getString(1) == "tail")
    assert(tails.length == lastPerUser.size,
      s"${tails.length} tails for ${lastPerUser.size} series")
    tails.foreach { r =>
      val u = r.getLong(0)
      assert(r.getTimestamp(2) == lastPerUser(u), s"tail start wrong for $u")
      assert(r.getTimestamp(3).getTime - r.getTimestamp(2).getTime ==
        12L * 3600 * 1000, s"tail span != T for $u")
    }
  }

  test("gap rows equal the batch lag computation") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
    val expected = Tables.events(spark, sf())
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .withColumn("pts", lag("ts_us", 1).over(w))
      .filter(col("pts").isNotNull &&
        col("ts_us") - col("pts") > 12L * 3600 * 1000 * 1000)
      .select(col("user_id"), timestamp_micros(col("pts")).as("a"),
        timestamp_micros(col("ts_us")).as("b"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val got = out.filter(_.getString(1) == "gap")
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3)))
      .toSet
    assert(got.size == expected.size && got == expected,
      s"gap sets differ: ${got.size} vs ${expected.size}")
  }

  test("the hash is earned: gaps straddle batch cuts") {
    val cuts = ReplayScaffold.DefaultCuts.map(java.sql.Timestamp.valueOf)
    val straddling = out.filter(_.getString(1) == "gap").count { r =>
      cuts.exists(c => r.getTimestamp(2).before(c) && !r.getTimestamp(3).before(c))
    }
    assert(straddling > 0, "no gap straddles a cut — cross-batch state untested")
  }
}
