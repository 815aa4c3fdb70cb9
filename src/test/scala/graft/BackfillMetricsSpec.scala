package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.batch.Backfill
import graft.control.Metrics

class BackfillMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("R1 backfill: chunk plan with overlap; read repairs duplicates") {
    val cs = Backfill.chunks(ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00"),
      chunkSeconds = 15 * 86400, overlapSeconds = 8640)
    assert(cs.length == 2)
    assert(cs(0).start == ts("2024-01-01 00:00:00")) // clamped, no pre-start
    assert(cs(1).start == ts("2024-01-15 21:36:00")) // 0.1-day overlap
    assert(cs(1).end == ts("2024-01-31 00:00:00"))   // clamped to range end

    // fake per-chunk fetch over events: ranged filter (rows in the overlap
    // come back twice -> dedup must repair)
    val e = Tables.events(spark, sf()).select(col("event_id"), col("ts").cast("timestamp").as("ts"))
    val total = Backfill.read(spark,
      ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00"),
      chunkSeconds = 15 * 86400, overlapSeconds = 86400,
      tsCol = "ts", keyCols = Seq("event_id")) { c =>
      e.filter(col("ts") >= lit(c.start) && col("ts") < lit(c.end))
    }
    val expected = e.filter(col("ts").between(
      lit(ts("2024-01-01 00:00:00")), lit(ts("2024-01-31 00:00:00")))).count()
    assert(total.count() == expected)
  }

  test("metrics listener aggregates per-query progress") {
    implicit val sqlCtx = spark.sqlContext
    val m = Metrics.attach(spark)
    val in = MemoryStream[Int]
    val q = in.toDF().writeStream.queryName("metrics_mem")
      .format("memory").outputMode("append").start()
    try {
      in.addData(1 to 100: _*)
      q.processAllAvailable()
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      var st = m.snapshot.get("metrics_mem")
      while ((st.isEmpty || st.get.inputRows < 100) && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); st = m.snapshot.get("metrics_mem")
      }
      assert(st.exists(_.inputRows >= 100))
      assert(st.exists(_.batches >= 1))
    } finally {
      q.stop()
      spark.streams.removeListener(m)
    }
  }
}
