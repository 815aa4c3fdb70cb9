package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** q86 — per-key sliding EVENT-TIME window aggregation on Spark 4's
  * arbitrary-state API (`transformWithState` + `ListState`), the
  * successor to `flatMapGroupsWithState` that q81 uses. Each event is
  * emitted with the count and DECIMAL-exact sum of its key's events in
  * the preceding 24 hours of event time — the classic "volume over a
  * trailing day" telemetry query, kept incremental: the state is
  * ONLY the trailing window's rows per key (evicted by event time as
  * the window slides), never the stream's history.
  *
  * Cross-batch proof: the spool is TIME-split into FOUR batches (cuts
  * at Jan 8/16/23), so every window straddling a cut can only be
  * completed from `ListState` carried across the micro-batch boundary —
  * per-batch state would restart every key's window at each cut and
  * shift `(n_win, sum_win)` on every straddling row; the corpus has
  * straddling multi-row windows at every sf dir (74 at sf0.001,
  * SlidingStateSpec pins it). The DuckDB oracle is the batch
  * RANGE-window aggregate (`RANGE BETWEEN INTERVAL 24 HOUR
  * PRECEDING AND CURRENT ROW`) — legal because per-key processing
  * order here is exactly event-time order: batches are time-split and
  * each batch's group iterator is sorted by `(ts, value)`; `(user,ts)`
  * is duplicate-free in the corpus, so RANGE-peer semantics can't
  * diverge.
  *
  * Money parity: values accumulate as exact integer cents
  * (`round(value*100)`); `sum_win = cents / 100.0` equals DuckDB's
  * `CAST(SUM(DECIMAL(12,2)) AS DOUBLE)` bit-for-bit, independent of
  * accumulation order.
  *
  * Scale shape: state per key = the trailing window's rows (bounded by
  * per-key event rate × window, NOT stream length), stored row-wise in
  * RocksDB `ListState`; the only exchange is the hash partition on the
  * key. TTLConfig is deliberately NONE — eviction is event-time-driven
  * in the processor, the documented pattern for event-time windows
  * (TTL state expiry is processing-time). */
object SlidingStateReplay {

  final case class SlidePoint(user_id: Long, ts_us: Long, value: Double)
  final case class SlideStat(user_id: Long, ts_us: Long, value: Double,
      n_win: Long, sum_win: Double)

  /** Trailing-window processor: `ListState` holds `(ts_us, cents)` for
    * rows inside the window, ascending by ts; a running cents total
    * updates on evict/append so each row is O(evictions), not O(window). */
  final class SlidingWindowProcessor(windowUs: Long)
      extends StatefulProcessor[Long, SlidePoint, SlideStat] {
    @transient private var win: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      win = getHandle.getListState[(Long, Long)]("win",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SlidePoint],
        timers: TimerValues): Iterator[SlideStat] = {
      val buf = scala.collection.mutable.ArrayDeque.from(win.get())
      var cents = buf.iterator.map(_._2).sum
      val out = rows.toArray.sortBy(r => (r.ts_us, r.value)).map { r =>
        val cut = r.ts_us - windowUs
        while (buf.nonEmpty && buf.head._1 < cut) cents -= buf.removeHead()._2
        // half-AWAY-FROM-ZERO, matching the oracle's CAST(... AS
        // DECIMAL(12,2)): math.round alone rounds half toward +inf and
        // diverges on negative exact-.5 cents (ADVICE r11 #3)
        val c = (math.signum(r.value) * math.round(math.abs(r.value) * 100)).toLong
        buf.append((r.ts_us, c)); cents += c
        SlideStat(key, r.ts_us, r.value, buf.length, cents / 100.0)
      }
      win.put(buf.toArray)
      out.iterator
    }
  }

  /** The operator, usable on any streaming Dataset[SlidePoint]. */
  def slidingStats(ds: Dataset[SlidePoint], windowUs: Long): Dataset[SlideStat] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new SlidingWindowProcessor(windowUs),
        TimeMode.None(), OutputMode.Append())
  }

  private val Cols = Seq("user_id", "value")

  /** Run the replay; returns `(user_id, ts, value, n_win, sum_win)`. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q86",
      s"cuts=${ReplayScaffold.DefaultCuts.mkString("|")};win=24h;manifest", Cols,
      ReplayScaffold.timeSplit)

    import spark.implicits._
    // manifest-ordered arrival: trailing windows straddle the time cuts,
    // so batch order is part of the operator's semantics under test
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[SlidePoint]
    val out = slidingStats(in, windowUs = 24L * 3600 * 1000 * 1000)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("value"), col("n_win"), col("sum_win"))
    ReplayScaffold.runToParquet(out.toDF(), spool).orderBy("user_id", "ts")
  }
}
