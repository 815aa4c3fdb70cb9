package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q84 harness — NATIVE streaming `session_window` aggregation driven
  * ACROSS micro-batch boundaries, proven equal to batch sessionization.
  *
  * The `events` month replays as two micro-batches split by `event_id`
  * PARITY — every user's timeline interleaves across both, so almost
  * every gap-session contains rows from BOTH batches and the state
  * store must merge partial sessions across the boundary (per-batch
  * sessionization would emit fragmented sessions and the hash would
  * miss). A third batch carries one far-future flush sentinel
  * (`user_id = -1`, 2030-01-01): per the measured append-mode algebra
  * (WindowedReplay scaladoc — the post-data drain flushes exactly the
  * windows the final watermark `global max − delay` passes), the
  * sentinel drives the final watermark past every real session's end,
  * so the sink holds EVERY session exactly once, and the streaming
  * result equals q50's batch `session_window` — the oracle SQL is
  * byte-identical to q50's.
  *
  * Parity-split arrival also exercises the no-late-drop path: batch 2's
  * rows span the whole month while its effective watermark is still
  * unset (one-batch lag), so nothing is dropped and the equality is
  * exact. The flush session itself ends after the final watermark and
  * never emits; output is filtered to real users anyway.
  *
  * Scale shape: one stateful aggregation keyed by (user, session);
  * state is bounded by `delay` worth of OPEN sessions per key — closed
  * sessions are emitted and evicted as the watermark passes them, so a
  * long-running stream holds only the live tail, not history. */
object SessionReplay {

  private val Cols = Seq("user_id", "value")

  /** Run the replay; returns `(user_id, session_start, n_events, total)`
    * per 30-minute-gap session — q50's exact output shape. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q84",
      s"parity=2;gap=30m;delay=1h;flush=${ReplayScaffold.FlushTs};manifest", Cols,
      Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1), flush = true)

    // manifest-ordered arrival: watermark progression across the three
    // staged batches (halves + flush) is the semantics under test
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
    val agg = in.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total"))
    ReplayScaffold.runToParquet(agg, spool)
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
  }
}
