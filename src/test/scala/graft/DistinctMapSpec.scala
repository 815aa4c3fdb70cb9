package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{DistinctMapReplay, ReplayScaffold}

/** q89: MapState-backed running distinct — final counts exact, carry
  * across every cut non-vacuous (re-seen users straddle cuts). */
class DistinctMapSpec extends SparkSpec {

  private lazy val out = DistinctMapReplay.run(spark, sf()).collect()

  test("final running count per type equals the batch exact distinct") {
    val expected = Tables.events(spark, sf())
      .groupBy("event_type").agg(countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lastPerType = out.groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.maxBy(_.getTimestamp(1).getTime).getLong(3) }
    assert(lastPerType == expected, s"$lastPerType != $expected")
  }

  test("running counts are monotone non-decreasing in event-time order") {
    out.groupBy(_.getString(0)).foreach { case (t, rows) =>
      val sorted = rows.sortBy(_.getTimestamp(1).getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(3) >= a.getLong(3), s"decrease in $t")
        case _ => ()
      }
    }
  }

  test("the hash is earned: users re-seen across a cut do not re-count") {
    // a (type, user) whose first sighting is before a cut and that
    // appears again after it must exist, and its re-sighting row's
    // count must NOT have incremented for it (count equals the previous
    // row's count in that type)
    val cuts = ReplayScaffold.DefaultCuts.map(java.sql.Timestamp.valueOf)
    val byType = out.groupBy(_.getString(0))
    val reSeen = byType.values.flatMap { rows =>
      val sorted = rows.sortBy(_.getTimestamp(1).getTime)
      val firstSeen = scala.collection.mutable.Map.empty[Long, java.sql.Timestamp]
      sorted.flatMap { r =>
        val u = r.getLong(2); val ts = r.getTimestamp(1)
        val first = firstSeen.getOrElseUpdate(u, ts)
        if (first != ts && cuts.exists(c => first.before(c) && !ts.before(c)))
          Some(r)
        else None
      }
    }
    assert(reSeen.nonEmpty, "no user re-seen across a cut — map carry untested")
  }

  test("whole output ≡ batch running size(collect_set(user_id)) per event_type, row for row") {
    // independent reference: the running distinct as a batch window over
    // event-time order ((event_type, ts) is tie-free, TablesSpec pins it)
    val w = Window.partitionBy("event_type").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = Tables.events(spark, sf())
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"), col("user_id"))
      .withColumn("distinct_users", size(collect_set("user_id").over(w)).cast("long"))
      .collect()
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3))
    assert(out.length == expected.length)
    assert(out.map(keyOf).toSeq.sorted == expected.map(keyOf).toSeq.sorted)
  }
}
