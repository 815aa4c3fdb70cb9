package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q85 harness — watermarked STREAM-STREAM interval join driven across
  * micro-batch boundaries, proven equal to the batch interval join.
  *
  * Two live streams from one `events` month: side A = odd `event_id`s,
  * side B = even. A splits chronologically into two files; B into
  * three — a month-spanning half, then the late remainder, then the
  * EARLY remainder last. With `maxFilesPerTrigger=1` each trigger
  * reads one file per side, so triggers 2–3 deliver B rows whose A
  * partners arrived one or two batches ago — those matches can only
  * come out of the join STATE STORE, which is what the hash proves
  * (plus the symmetric direction: late-half A rows matching batch-1 B
  * rows).
  *
  * Join: same user, |ts_b − ts_a| ≤ 60 min, inner. Inner stream-stream
  * joins emit a match as soon as both rows have arrived — emission does
  * not wait for the watermark — and with a 60-day delay the final
  * watermark (global max − delay) never passes any buffered row, so
  * nothing is evicted before its partners arrive and the append sink
  * holds EXACTLY the batch join. The DuckDB oracle is that batch join
  * verbatim.
  *
  * Scale shape: the state store buffers each side keyed by `user_id`,
  * and the time-range condition gives Spark the eviction bound — in
  * production (delay sized to real lateness, e.g. minutes) state holds
  * only ~2×(delay+range) of stream history per key, independent of
  * stream length; JoinReplaySpec pins that eviction actually happens
  * under a tight watermark. */
object JoinReplay {

  private val Cols = Seq("user_id", "value")

  private val Split = "2024-01-16 00:00:00"

  private def writeSpool(spark: SparkSession, dir: String, spool: File): Unit = {
    val ev = ReplayScaffold.eventRows(spark, dir, Cols)
    val a = ev.filter(col("event_id") % 2 === 1)
    val b = ev.filter(col("event_id") % 2 === 0)
    def writeBatch(df: DataFrame, sub: String, idx: Int): Unit =
      ReplayScaffold.writeManifestBatch(new File(spool, sub), df, idx)
    val early = col("ts") < expr(s"TIMESTAMP '$Split'")
    writeBatch(a.filter(early), "a", 0)
    writeBatch(a.filter(!early), "a", 1)
    // B's third file holds EARLY rows arriving at trigger 3 — two
    // triggers after their A partners. Under the replay's 60-day delay
    // the watermark is still below Jan 1 there (one-batch lag), so they
    // join losslessly out of A's state; under a production-sized delay
    // the trigger-3 watermark has passed them and they are provably
    // dropped (JoinReplaySpec's eviction case needs ≥3 triggers — with
    // two, the lagged watermark is still empty at the last data batch
    // and a tight delay cannot drop anything).
    writeBatch(b.filter(expr("(event_id DIV 2) % 2 = 0")), "b", 0)
    writeBatch(b.filter(expr("(event_id DIV 2) % 2 = 1")).filter(!early), "b", 1)
    writeBatch(b.filter(expr("(event_id DIV 2) % 2 = 1")).filter(early), "b", 2)
  }

  /** Run the replay; returns one row per matched (A, B) pair:
    * `(a_id, b_id, user_id, ts_a, ts_b, vsum)` ordered for the oracle.
    * `delay` is the watermark on both sides — the replay default (60
    * days) out-spans the month so the join is provably lossless; the
    * spec's tight-delay run proves the state actually evicts. */
  def run(spark: SparkSession, dir: String, delay: String = "60 days"): DataFrame = {
    val spool = ReplayScaffold.spoolFor(spark, dir, "q85", "events.parquet",
      s"split=$Split;range=60m;b3-early;delay-independent-spool;manifest",
      writeSpool, expectedFiles = 5)

    // manifest-ordered arrival per SIDE (each sub-spool is its own
    // manifest): B's trigger-3 early rows must arrive two triggers after
    // their A partners for the eviction story to mean anything
    def side(sub: String, suffix: String): DataFrame =
      ReplayScaffold.manifestStream(spark, new File(spool, sub),
          ReplayScaffold.eventsSchema(Cols))
        .select(col("event_id").as(s"${suffix}_id"), col("ts").as(s"ts_$suffix"),
          col("user_id").as(s"user_$suffix"), col("value").as(s"value_$suffix"))
        .withWatermark(s"ts_$suffix", delay)
    val joined = side("a", "a").join(side("b", "b"), expr(
      """user_a = user_b AND
         ts_b >= ts_a - INTERVAL 60 MINUTES AND
         ts_b <= ts_a + INTERVAL 60 MINUTES"""))
      .select(col("a_id"), col("b_id"), col("user_a").as("user_id"),
        col("ts_a"), col("ts_b"),
        (col("value_a").cast(DecimalType(12, 2)) +
          col("value_b").cast(DecimalType(12, 2))).cast("double").as("vsum"))
    ReplayScaffold.runToParquet(joined, spool).orderBy("a_id", "b_id")
  }
}
