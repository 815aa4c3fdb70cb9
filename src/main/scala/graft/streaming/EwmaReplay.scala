package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q81 harness — the numeric-state `flatMapGroupsWithState` op
  * ([[StatefulOps.ewma]]) driven ACROSS a micro-batch boundary and
  * replayed by a batch oracle: events split into two batches by
  * `event_id` parity (each series' timeline interleaves across both),
  * per-series EWMA state carries over the boundary, and every output
  * row exposes the running `(ewma, n, gap_ms)`.
  *
  * What the hash match proves: the recurrence's processing order is
  * exactly (batch, ms-truncated ts, value) per series — batch-local
  * sorting plus cross-batch state — so per-key state really persists
  * (per-batch-only state would restart `n` and re-seed the EWMA in
  * batch 2, shifting every subsequent value), and the arithmetic is the
  * bit-exact `α·x + (1−α)·e` with `1−α` computed, not folded. The
  * DuckDB oracle steps the same recurrence with a recursive CTE in the
  * same order.
  *
  * Scale shape: state is three scalars per live series — bounded by
  * series cardinality, evictable by the op's idle timeout; each batch
  * sorts only its own per-series rows. */
object EwmaReplay {

  private val SpoolSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  private def writeSpool(spark: SparkSession, dir: String, spool: File): Unit = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    ReplayScaffold.writeManifestBatch(spool, ev.filter(col("event_id") % 2 === 0), 0)
    ReplayScaffold.writeManifestBatch(spool, ev.filter(col("event_id") % 2 === 1), 1)
  }

  def run(spark: SparkSession, dir: String, alpha: Double = 0.2): DataFrame = {
    StreamingDedup.configureStateStore(spark)
    val spool = ReplayScaffold.spoolFor(spark, dir, "q81", "events.parquet",
      s"parity=2;alpha=$alpha;manifest", writeSpool, expectedFiles = 2)
    val runDir = ReplayScaffold.freshRunDir(spool)

    import spark.implicits._
    // manifest-ordered arrival: the EWMA's running (n, smoothed) state
    // carries across the parity batches, so order is code-owned
    val in = ReplayScaffold.manifestStream(spark, spool, SpoolSchema)
      .select(col("user_id").cast("string").as("series"), col("ts"),
        col("value"))
      .as[StatefulOps.SeriesPoint]
    val out = StatefulOps.ewma(in, alpha)
      .select(col("series"), col("ts"), col("value"),
        round(col("ewma"), 6).as("ewma"), col("n"), col("gap_ms"))
    val outDir = new File(runDir, "out")
    val q = out.writeStream.format("parquet")
      .option("path", outDir.toString)
      .outputMode("append")
      .option("checkpointLocation", new File(runDir, "ckpt").toString)
      .start()
    ReplayScaffold.drain(q)

    spark.read.parquet(outDir.toString).orderBy("series", "n")
  }
}
