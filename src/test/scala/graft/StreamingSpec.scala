package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.TelemetryPoint
import graft.sinks.TelemetrySink
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def pt(m: String, t: String, v: Double, tags: Map[String, String] = Map.empty) =
    TelemetryPoint(m, tags, Map("value" -> v), null, ts(t), None, None)

  test("stream: MemoryStream -> normalize -> idempotent parquet sink") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-sink-").toString
    val in = MemoryStream[TelemetryPoint]
    val q = TelemetrySink.start(
      StreamOps.normalize(Map("observatory" -> "LCO"))(in.toDF()),
      s"$tmp/data", s"$tmp/ckpt", defaultBucket = "sensors",
      queryName = "spec-sink")
    try {
      in.addData(
        pt("temperature", "2024-01-01 00:00:00", 21.5),
        pt("temperature", "2024-01-01 00:00:00", 21.5), // dup in-batch
        pt("pressure", "2024-01-01 00:00:01", 1e-6),
        TelemetryPoint("empty", Map.empty, Map.empty, null, null, None, None))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/data")
      assert(out.count() == 2) // dup + empty dropped
      assert(out.select("bucket").distinct().as[String].collect().toSet == Set("sensors"))
      val tags = out.filter(col("measurement") === "temperature")
        .select("tags").as[Map[String, String]].head()
      assert(tags("observatory") == "LCO")
      // partition layout: bucket=.../measurement=...
      assert(Files.exists(java.nio.file.Paths.get(
        s"$tmp/data/bucket=sensors/measurement=temperature")))
    } finally q.stop()
  }

  test("tumblingFieldStats downsamples per window+measurement+field") {
    val df = Seq(
      pt("m", "2024-01-01 00:00:10", 1.0),
      pt("m", "2024-01-01 00:00:50", 3.0),
      pt("m", "2024-01-01 00:01:10", 10.0)).toDF()
    val out = StreamOps.tumblingFieldStats(df, "1 minute")
      .orderBy("window.start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("mean") == 2.0 && out(0).getAs[Long]("n") == 2)
    assert(out(1).getAs[Double]("max") == 10.0)
  }
}
