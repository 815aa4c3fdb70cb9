package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.TelemetryPoint
import graft.sinks.TelemetrySink

class SinkLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def pt(m: String, b: String, t: String, f: Map[String, Double]) =
    TelemetryPoint(m, Map("site" -> "APO"), f, null, ts(t), None, Some(b))

  test("sink layout prunes partitions on measurement/bucket predicates") {
    val out = Files.createTempDirectory("graft-layout-").toString
    val batch = Seq(
      pt("temperature", "sensors", "2024-01-01 00:00:00", Map("value" -> 21.0)),
      pt("pressure", "sensors", "2024-01-01 00:00:00", Map("value" -> 1e-6)),
      pt("tron_kw", "actors", "2024-01-01 00:00:00", Map("value" -> 5.0))).toDF()
    TelemetrySink.writeBatch(batch, out)
    val q = spark.read.parquet(out).filter(col("measurement") === "temperature")
    val plan = q.queryExecution.executedPlan.toString
    // measurement is a partition column -> pruned at planning, not scanned
    assert(plan.contains("PartitionFilters: [isnotnull(measurement"))
    assert(q.count() == 1)
    // reading a single bucket dir touches only that branch
    val sensors = spark.read.parquet(out)
      .filter(col("bucket") === "sensors" && col("measurement") === "pressure")
    assert(sensors.count() == 1)
  }

  test("writeBatchIdempotent: replaying a micro-batch leaves no duplicates") {
    val out = Files.createTempDirectory("graft-idem-").toString
    val b0 = Seq(
      pt("temperature", "sensors", "2024-01-01 00:00:00", Map("value" -> 21.0)),
      pt("pressure", "sensors", "2024-01-01 00:00:00", Map("value" -> 1e-6))).toDF()
    val b1 = Seq(
      pt("temperature", "sensors", "2024-01-01 00:00:01", Map("value" -> 21.5))).toDF()
    TelemetrySink.writeBatchIdempotent(b0, out, batchId = 0)
    TelemetrySink.writeBatchIdempotent(b1, out, batchId = 1)
    // failure-before-checkpoint: batch 1 is replayed verbatim
    TelemetrySink.writeBatchIdempotent(b1, out, batchId = 1)
    val all = spark.read.parquet(out)
    assert(all.count() == 3, "replayed batch must overwrite, not append")
    assert(all.select("__batch").distinct().count() == 2)
    // batch 0's files untouched by the batch-1 replay
    assert(all.filter(col("__batch") === 0).count() == 2)
  }

  test("backfill and streaming writes share one layout in one store") {
    val out = Files.createTempDirectory("graft-mixed-").toString
    TelemetrySink.writeBatchIdempotent(Seq(
      pt("temperature", "sensors", "2024-01-01 00:00:00", Map("value" -> 21.0))).toDF(),
      out, batchId = 0)
    TelemetrySink.writeBatch(Seq(
      pt("temperature", "sensors", "2023-12-31 00:00:00", Map("value" -> 19.0))).toDF(), out)
    // the natural single-store usage: K3 backfill + streaming sink on the
    // same outDir — partition discovery must see ONE layout and succeed
    val all = spark.read.parquet(out)
    assert(all.count() == 2)
    assert(all.filter(col("__batch").startsWith("backfill-")).count() == 1)
  }

  test("readStore merges overlapping backfill re-runs (read-side dedup contract)") {
    val out = Files.createTempDirectory("graft-overlap-").toString
    val backfill = Seq(
      pt("temperature", "sensors", "2024-01-01 00:00:00", Map("value" -> 21.0)),
      pt("temperature", "sensors", "2024-01-01 00:00:01", Map("value" -> 21.5))).toDF()
    // the same backfill runs twice (operator retry) -> two __batch leaves
    TelemetrySink.writeBatch(backfill, out)
    TelemetrySink.writeBatch(backfill, out)
    assert(spark.read.parquet(out).count() == 4, "raw store holds both leaves")
    val merged = TelemetrySink.readStore(spark, out)
    assert(merged.count() == 2, "readStore collapses duplicates on the idempotence key")
    assert(!merged.columns.contains("__batch"), "__batch is a commit token, not data")
  }

  test("readStore on a store with no data file yet has no rows") {
    val out = Files.createTempDirectory("graft-empty-store-").toString
    for (dedup <- Seq(true, false)) {
      val read = TelemetrySink.readStore(spark, out, dedup)
      assert(read.collect().isEmpty)
      assert(read.columns.toSeq == TelemetrySink.StoreSchema.fieldNames.toSeq.filterNot(_ == "__batch"))
    }
  }

  test("streaming sink: normalize's trigger timestamp compiles no new code on later triggers") {
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TelemetryPoint]
    val out = Files.createTempDirectory("graft-stream-codegen-").toString
    val ck = Files.createTempDirectory("graft-stream-codegen-ck-").toString
    val q = TelemetrySink.start(graft.transforms.Transforms.normalize()(in.toDF()), out, ck)
    def trigger(v: Double): Unit = {
      in.addData(TelemetryPoint("weather", Map("site" -> "APO"), Map("temp" -> v), null, null, None, None))
      q.processAllAvailable()
    }
    try {
      trigger(1.0)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (2 to 4).foreach(i => trigger(i.toDouble))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
    } finally q.stop()
    val stored = spark.read.parquet(out)
    assert(stored.count() == 4 && stored.filter(col("time").isNull).count() == 0)
  }

  test("lineProtocol: golden lines — escaping, sorted tags/fields, ns time") {
    // golden strings per the public InfluxDB line-protocol spec:
    // measurement escapes ', '/',', tags/field-keys also '=',
    // string field values are quoted with \" and \\ escaped
    val batch = Seq(
      TelemetryPoint("weather station", Map("site" -> "A PO", "k,ey" -> "v=1"),
        Map("temp c" -> 21.5, "rh" -> 40.0), null,
        ts("2024-01-01 00:00:00"), None, Some("sensors")),
      TelemetryPoint("status", Map.empty,
        Map("ok" -> 1.0), Map("note" -> """said "hi" \ bye"""),
        ts("2024-01-01 00:00:00"), Some(1704067200000000123L), None),
      TelemetryPoint("empty", Map("a" -> "b"), Map.empty, null,
        ts("2024-01-01 00:00:00"), None, Some("sensors"))).toDF()
    val got = TelemetrySink.lineProtocol(batch).orderBy("line").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // the all-empty-fields point is dropped; timestamps are ns (session
    // tz is UTC, so 2024-01-01 00:00:00 = 1704067200e9); time_ns wins
    // over time when present
    assert(got == Seq(
      ("default",
        "status note=\"said \\\"hi\\\" \\\\ bye\",ok=1.0 1704067200000000123"),
      ("sensors",
        """weather\ station,k\,ey=v\=1,site=A\ PO rh=40.0,temp\ c=21.5 1704067200000000000""")))
  }

  test("lineProtocolBatches chunks per bucket at batchPoints") {
    val pts = (1 to 7).map(i =>
      TelemetryPoint("m", Map("i" -> f"$i%02d"), Map("v" -> i.toDouble), null,
        ts("2024-01-01 00:00:00"), None, Some(if (i <= 5) "b1" else "b2")))
    val batches = TelemetrySink.lineProtocolBatches(pts.toDF(), batchPoints = 2)
      .orderBy("bucket", "batch_idx").collect()
    assert(batches.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("b1", 0L, 2L), ("b1", 1L, 2L), ("b1", 2L, 1L), ("b2", 0L, 2L)))
    val payload = batches.head.getAs[String]("payload")
    assert(payload == "m,i=01 v=1.0 1704067200000000000\nm,i=02 v=2.0 1704067200000000000")
  }
}
