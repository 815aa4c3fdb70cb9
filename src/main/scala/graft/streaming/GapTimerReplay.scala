package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** q88 — EVENT-TIME TIMERS on the Spark 4 arbitrary-state API
  * (`TimeMode.EventTime` + `registerTimer`/`handleExpiredTimer`), the
  * remaining leg after q86 (ListState) and q87 (initial state). The
  * telemetry-native use case: per-series gap detection. Each series
  * emits a `gap` row whenever consecutive events are more than T apart
  * (row-level, from `ValueState` last-seen), and a `tail` row when the
  * stream ENDS without a successor — the case only a timer can see:
  * no row ever arrives to notice the silence, so the processor arms a
  * timer at `last + T` on every batch and the watermark's final
  * advance fires exactly the last armed timer per series.
  *
  * Determinism without watermark algebra in the oracle: the watermark
  * delay (30 days) out-spans the event month, so the watermark stays
  * below every armed expiry until the far-future flush sentinel
  * arrives — no timer can fire MID-stream, timers are re-armed
  * (delete + register) as events arrive, and the drain after the flush
  * fires precisely one tail per real series. The DuckDB oracle is
  * therefore plain SQL: lag-gaps over T, plus `max(ts) + T` per series.
  *
  * Scale shape: one `ValueState[Long]` and at most one armed timer per
  * live series — the timer registry is keyed state in the same store,
  * bounded by series cardinality, not event volume. */
object GapTimerReplay {

  final case class GapEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
  final case class GapRow(user_id: Long, kind: String,
      gap_start_us: Long, gap_end_us: Long)

  final class GapProcessor(gapUs: Long)
      extends StatefulProcessor[Long, GapEvent, GapRow] {
    @transient private var last: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Long]("last",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[GapEvent],
        timers: TimerValues): Iterator[GapRow] = {
      val sorted = rows.toArray.sortBy(_.ts_us)
      val out = Array.newBuilder[GapRow]
      sorted.foreach { r =>
        if (last.exists() && r.ts_us - last.get() > gapUs)
          out += GapRow(key, "gap", last.get(), r.ts_us)
        last.update(r.ts_us)
      }
      // re-arm: exactly one live timer per key, at last-seen + T
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last.get() / 1000 + gapUs / 1000)
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[GapRow] =
      if (last.exists())
        Iterator.single(GapRow(key, "tail", last.get(), last.get() + gapUs))
      else Iterator.empty
  }

  /** The operator: per-key gap + tail detection over a stream with an
    * event-time watermark already applied to `ts`. */
  def gaps(ds: Dataset[GapEvent], gapUs: Long): Dataset[GapRow] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new GapProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  private val Cols = Seq("user_id", "value")

  /** Run the replay; returns `(user_id, kind, gap_start, gap_end)`. */
  def run(spark: SparkSession, dir: String, gapHours: Int = 12): DataFrame = {
    // the spool does NOT depend on gapHours (the gap lives only in the
    // processor), so the stamp must not include it — a gap sweep reuses
    // one spool instead of rebuilding per value
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q88",
      s"cuts=${ReplayScaffold.DefaultCuts.mkString("|")};flush=${ReplayScaffold.FlushTs};manifest",
      Cols, ReplayScaffold.timeSplit, flush = true)

    import spark.implicits._
    val gapUs = gapHours * 3600L * 1000 * 1000
    // manifest-ordered arrival: watermark progression (and therefore
    // timer firing) depends on which batch arrives when
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .withWatermark("ts", "30 days")
      .as[GapEvent]
    val out = gaps(in, gapUs)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("kind"),
        timestamp_micros(col("gap_start_us")).as("gap_start"),
        timestamp_micros(col("gap_end_us")).as("gap_end"))
    ReplayScaffold.runToParquet(out.toDF(), spool)
      .orderBy("user_id", "gap_start", "kind")
  }
}
