package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingDedup

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("exactDedup: cross-batch state suppresses later duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-sdd-").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.exactDedup(
        in.toDF().toDF("id", "text"), Seq("text"))
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // in-batch dup
      q.processAllAvailable()
      in.addData((4L, "alpha"), (5L, "gamma")) // cross-batch dup + new
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() == 3, "one emission per unique key across batches")
      assert(out.select("text").as[String].collect().toSet ==
        Set("alpha", "beta", "gamma"))
      // first arrival survives: alpha's id must be 1, not 3 or 4
      assert(out.filter(col("text") === "alpha").select("id").as[Long].head() == 1L)
    } finally q.stop()
  }

  test("GraftSession builds sessions on the RocksDB state store") {
    val conf = GraftSession.get("local[4]", 4).conf
    assert(conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    assert(conf.get("spark.sql.streaming.stateStore.maintenanceInterval") == "600s")
    assert(conf.get(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows") == "false")
  }

  test("exactDedupTtl: duplicate within TTL dropped, re-admitted after expiry") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-sdt-").toString
    val in = MemoryStream[(String, Timestamp)]
    val q = StreamingDedup.exactDedupTtl(
        in.toDF().toDF("key", "ts"), "ts", "10 seconds", Seq("key"))
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      // times start well above epoch 0: the INITIAL watermark is 0, and
      // a row whose event time does not exceed the watermark is late
      in.addData(("a", ts(1000))); q.processAllAvailable()
      // watermark now 990 s: a@1005 is a live-state duplicate → dropped;
      // w@1100 advances the watermark to 1090 s for the NEXT batch
      in.addData(("a", ts(1005)), ("w", ts(1100))); q.processAllAvailable()
      // watermark 1090 s: a's state (first seen t=1000, TTL 10 s) is
      // evicted, so a@1095 is re-admitted — the bounded-state tradeoff
      in.addData(("a", ts(1095))); q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
      val emitted = out.select("key", "ts").as[(String, Timestamp)].collect()
        .map { case (k, t) => (k, t.getTime / 1000) }.toSet
      assert(emitted == Set(("a", 1000L), ("w", 1100L), ("a", 1095L)),
        s"expected a@1000, w@1100, a@1095 — got $emitted")
    } finally q.stop()
  }
}
