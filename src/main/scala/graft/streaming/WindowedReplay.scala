package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q80 harness — watermarked tumbling-window aggregation driven ACROSS
  * micro-batch boundaries with late data, the append-mode contract
  * proven against a batch oracle.
  *
  * The `events` month replays as THREE micro-batches: (1) history
  * before the split instant MINUS a deterministic straggler subset
  * (`event_id % 97 == 0`); (2) the week after the split; (3) the rest
  * of the month plus the stragglers — late rows scattered over the
  * whole history, arriving two batches after their window's data.
  *
  * The semantics replayed are the MEASURED ones (pinned by the oracle
  * hash and WindowedReplaySpec, Spark 4.1): the effective watermark of
  * batch N is `max event time through batch N−2, minus delay` — one
  * batch later than the naive reading of the docs — and both the
  * late-row filter and the eviction/emission at batch close evaluate
  * the GROUP's window against it, not the raw row timestamp. A probe
  * with a hand-built 3-file spool (this file's spec) shows a late row
  * into a closed-but-not-yet-evicted window still counts; only rows
  * whose window the effective watermark has passed are dropped. Under
  * this model the three straggler legs prove:
  *
  *  - stragglers whose window the batch-3 watermark (max of batch 1,
  *    minus delay — the one-batch lag above) already passed: DROPPED
  *    — those windows were
  *    emitted with batch-1-only counts and must not change (emit-once);
  *  - stragglers in windows still open at batch 3: counted, even where
  *    the raw ts is older than the watermark (the window-rule clause);
  *  - the drain after the last data batch advances the watermark in
  *    steps and flushes exactly the windows the FINAL watermark
  *    (global max − delay) passes; anything later never emits.
  *
  * Scale shape: one stateful aggregation keyed by (window, event_type)
  * — state bounded by `delay` worth of open windows × type cardinality;
  * the parquet sink appends finalized windows exactly once. */
object WindowedReplay {

  private val Cols = Seq("event_type", "value")

  private val Split = "2024-01-16 00:00:00"
  private val Split2 = "2024-01-23 00:00:00"

  /** Run the replay; returns one row per emitted (window, event_type):
    * `(ws, we, event_type, n, vmin, vmax)` ordered for the oracle. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val straggler = col("event_id") % 97 === 0
    val early = col("ts") < expr(s"TIMESTAMP '$Split'")
    val mid = !early && col("ts") < expr(s"TIMESTAMP '$Split2'")
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q80",
      s"split=$Split;split2=$Split2;straggler=97;win=1h;delay=1h;manifest", Cols,
      Seq(early && !straggler, mid && !straggler, !early && !mid || straggler))

    // manifest-ordered arrival: the straggler/emit-once semantics are a
    // pure function of which batch carries which rows — code-owned order
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
    val agg = in.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("vmin"), col("vmax"))
    ReplayScaffold.runToParquet(agg, spool).orderBy("ws", "event_type")
  }
}
