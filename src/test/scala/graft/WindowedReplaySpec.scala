package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.{ReplayScaffold, WindowedReplay}

/** Pins the measured append-mode watermark semantics q80 replays (see
  * WindowedReplay's scaladoc: effective watermark lags one batch; late
  * rows are judged by their WINDOW, not raw ts). */
class WindowedReplaySpec extends SparkSpec {

  private lazy val out = WindowedReplay.run(spark, sf()).collect()

  test("emits each (window, type) exactly once, never past the final watermark") {
    assert(out.nonEmpty)
    val keys = out.map(r => (r.getTimestamp(0), r.getString(2)))
    assert(keys.distinct.length == keys.length, "append emitted a window twice")
    val ev = Tables.events(spark, sf()).select(col("ts").cast("timestamp"))
    val maxTs = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val wmc = new Timestamp(maxTs.getTime - 3600 * 1000)
    out.foreach { r =>
      assert(!r.getTimestamp(1).after(wmc),
        s"window ending ${r.getTimestamp(1)} emitted past final watermark $wmc")
    }
  }

  test("stragglers into watermark-closed windows are dropped; open windows keep them") {
    // full batch counts per (hour, type) over ALL rows
    val ev = Tables.events(spark, sf())
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
    val full = ev.groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .count().collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // wmA = max(batch-1 ts) - 1h: the watermark active when batch 3
    // (the stragglers) runs
    val wmA = new Timestamp(ev
      .filter(col("ts") < lit("2024-01-16") && col("event_id") % 97 =!= 0)
      .agg(max("ts")).collect()(0).getTimestamp(0).getTime - 3600 * 1000)
    // straggler counts per closed window (what freezing must exclude)
    val closedStragglers = ev
      .filter(col("event_id") % 97 === 0)
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type")).count()
      .filter(unix_micros(col("ws")) + 3600L * 1000000 <= lit(wmA).cast("timestamp").cast("long") * 1000000)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(closedStragglers.nonEmpty, "fixture must have closed-window stragglers")
    var frozenChecked = 0
    out.foreach { r =>
      val key = (r.getTimestamp(0), r.getString(2))
      val end = r.getTimestamp(1)
      closedStragglers.get(key).foreach { s =>
        if (!end.after(wmA)) {
          assert(r.getLong(3) == full(key) - s,
            s"closed window $key must freeze without its $s straggler(s)")
          frozenChecked += 1
        }
      }
      if (end.after(wmA)) assert(r.getLong(3) == full(key),
        s"open window $key must count every row incl. stragglers")
    }
    assert(frozenChecked > 0, "no frozen window was actually checked")
  }

  test("hand-built 3-batch spool: one-batch watermark lag, window-judged late rows, final cutoff") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-wm-").toFile
    val spool = new java.io.File(base, "spool")
    try {
      Seq(Seq("00:10" -> "a", "01:30" -> "a"),
        Seq("03:30" -> "a", "00:20" -> "b"),
        Seq("00:25" -> "c", "02:10" -> "c", "05:30" -> "a")).zipWithIndex.foreach { case (rows, i) =>
        ReplayScaffold.writeManifestBatch(spool, rows.toDF("t", "k").select(
          concat(lit("2024-01-01 "), col("t"), lit(":00")).cast("timestamp").as("ts"), col("k")),
          i, parts = 1)
      }
      val schema = StructType(Seq(StructField("ts", TimestampType), StructField("k", StringType)))
      val agg = ReplayScaffold.manifestStream(spark, spool, schema)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("k")).agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "HH").as("hour"), col("k"), col("n"))
      val got = ReplayScaffold.runToParquet(agg, spool).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
      // batch 2's 00:20 row is older than the naive watermark max(batch 1)
      // − 1 h = 00:30 yet counted: a late row is judged by its window's
      // end (01:00), not its own ts. Batch 3's 00:25 row is counted though
      // hour 00 ended before max(batch 2) − 1 h = 02:30: batch N runs
      // against the watermark of batch N − 2. Hour 05 ends past the last
      // watermark (04:30) and never emits.
      assert(got == Seq(("00", "a", 1L), ("00", "b", 1L), ("00", "c", 1L),
        ("01", "a", 1L), ("02", "c", 1L), ("03", "a", 1L)))
    } finally ReplayScaffold.rmTree(base)
  }
}
