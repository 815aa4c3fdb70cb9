package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.streaming.{SlidingStateReplay, ReplayScaffold}

/** q86: the transformWithState sliding-window op equals the batch
  * RANGE-window aggregate, with windows provably straddling the
  * micro-batch split (so ListState really carried across). */
class SlidingStateSpec extends SparkSpec {

  private lazy val streamed = SlidingStateReplay.run(spark, sf()).collect()

  test("streamed sliding stats equal the batch RANGE window exactly") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-24L * 3600 * 1000 * 1000, 0L)
    val batch = Tables.events(spark, sf())
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("value"))
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("value"),
        count(lit(1)).over(w).as("n_win"),
        sum(col("value").cast(DecimalType(12, 2))).over(w).cast("double").as("sum_win"))
      .orderBy("user_id", "ts")
      .collect()
    assert(streamed.nonEmpty && streamed.length == batch.length,
      s"row counts differ: ${streamed.length} vs ${batch.length}")
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
  }

  test("the hash is earned: windows straddle every time cut") {
    ReplayScaffold.DefaultCuts.foreach { c =>
      val cut = java.sql.Timestamp.valueOf(c)
      val straddling = streamed.count { r =>
        val ts = r.getTimestamp(1)
        !ts.before(cut) &&
          ts.getTime - 24L * 3600 * 1000 < cut.getTime && r.getLong(3) > 1
      }
      assert(straddling > 0,
        s"no multi-row window straddles cut $c — cross-batch state untested")
    }
  }

  test("emits each event exactly once") {
    val keys = streamed.map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(keys.distinct.length == keys.length)
  }
}
