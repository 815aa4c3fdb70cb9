package graft.streaming

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.types._

/** q87 — streaming per-key counters BOOTSTRAPPED from a batch corpus.
  * The production pattern: a corpus-accounting job keeps per-(lang,
  * source) running totals — docs and chars — and a streaming ingest
  * CONTINUES those totals from the settled corpus instead of recounting
  * history. Each admitted document emits the updated running totals, so
  * the sink is an exactly-once audit log of corpus growth.
  *
  * Implementation: the corpus aggregate arrives as staged micro-batch 0
  * of the SAME stream — one seed row per key, flagged by `doc_id < 0`,
  * carrying `(c_docs, c_chars)` — and the processor is a plain
  * `StatefulProcessor` keyed by a `String` (lang and source joined by
  * U+0001) with ONE state handle, a `MapState[Long, Long]` holding the
  * two totals under fixed slots.
  *
  * Seeding semantics: batch 0 contains only seed rows, so every key's
  * totals are installed before its first stream row; stream keys absent
  * from the corpus have no seed row and start cleanly from zero; corpus
  * keys absent from the stream seed state but never emit. Seed rows sort
  * first within a batch regardless (doc_id < 0), so the contract holds
  * even if a custom spool co-stages them with data.
  *
  * The DuckDB oracle replays it as corpus aggregates LEFT-JOINed to a
  * cumulative window over the stream — integer-exact, no float
  * discipline needed. A hash match proves three things at once: the
  * bootstrap landed in state (counts start from corpus totals, not
  * zero), per-key state carries across the micro-batch boundary
  * (cumulative counts don't restart at the second batch), and stream
  * keys absent from the corpus start cleanly from zero.
  *
  * Scale shape: state is two longs per live key — corpus history enters
  * as ALREADY-AGGREGATED seed rows (one batch aggregation of the
  * corpus, shuffled once by key), so bootstrap cost is O(keys), not
  * O(corpus rows), and the stream never rescans history. */
object BootstrapCounters {

  /** Stream row OR corpus seed: seeds have `doc_id < 0`, `n_chars` =
    * corpus char total, `seed_docs` = corpus doc total; data rows have
    * `seed_docs = 0`. */
  final case class SeededDoc(doc_id: Long, lang: String, source: String,
      n_chars: Long, seed_docs: Long)
  final case class RunningStat(doc_id: Long, lang: String, source: String,
      run_docs: Long, run_chars: Long)

  /** Grouping-key separator — U+0001 never occurs in lang/source. */
  private val KeySep = "\u0001"
  /** MapState slots for the two running totals. */
  private val DocsSlot = 0L
  private val CharsSlot = 1L

  /** Continues the seeded per-key totals (object scaladoc). */
  final class SeededCounterProcessor
      extends StatefulProcessor[String, SeededDoc, RunningStat] {
    @transient private var totals: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getMapState[Long, Long]("totals",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[SeededDoc],
        timers: TimerValues): Iterator[RunningStat] = {
      var docs = if (totals.containsKey(DocsSlot)) totals.getValue(DocsSlot) else 0L
      var chars = if (totals.containsKey(CharsSlot)) totals.getValue(CharsSlot) else 0L
      val out = rows.toArray.sortBy(_.doc_id).flatMap { r =>
        if (r.doc_id < 0) { // corpus seed — install, emit nothing
          docs += r.seed_docs; chars += r.n_chars
          None
        } else {
          docs += 1; chars += r.n_chars
          Some(RunningStat(r.doc_id, r.lang, r.source, docs, chars))
        }
      }
      totals.updateValue(DocsSlot, docs)
      totals.updateValue(CharsSlot, chars)
      out.iterator
    }
  }

  /** The operator: continue per-key corpus counters over a stream whose
    * batch 0 carries the corpus seed rows ([[SeededDoc]] contract). */
  def runningCounters(stream: Dataset[SeededDoc]): Dataset[RunningStat] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(d => d.lang + KeySep + d.source)
      .transformWithState(new SeededCounterProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  private val SpoolSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType),
    StructField("seed_docs", LongType)))

  /** Corpus/stream split on an md5-derived hash of the id, NOT `doc_id
    * % 4`: the corpus generator strides doc_ids by source (stride ≡ 0
    * mod 4), so a modulus split would put every (lang, source) key
    * wholly on one side and the bootstrap leg would be vacuous — no
    * key would ever continue corpus totals. The hash split gives every
    * key both corpus history and stream arrivals at every sf dir
    * (BootstrapCountersSpec pins it). */
  def isStream(idCol: Column): Column =
    graft.dedup.Dedup.h60(idCol.cast("string")) % 4 === 0

  private def corpusAgg(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(!isStream(col("doc_id")))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c_docs"), sum(col("n_chars")).as("c_chars"))

  private def streamRows(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(isStream(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** Stream halves split at the median id. Guard the aggregate: an
    * empty stream side (tiny corpus) yields a null max — fall back to
    * cut 0 (two empty staged batches) instead of throwing (ADVICE r11
    * #4). */
  private def streamCut(stream: DataFrame): Long = {
    val cutRow = stream.agg(max("doc_id")).head()
    if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0) / 2
  }

  /** Seeded spool: batch 0 = one seed row per corpus key (doc_id = -1,
    * n_chars = corpus chars, seed_docs = corpus docs), batches 1–2 =
    * the stream halves (seed_docs = 0). */
  private def writeSeededSpool(spark: SparkSession, dir: String, spool: File): Unit = {
    val seeds = corpusAgg(spark, dir)
      .select(lit(-1L).as("doc_id"), col("lang"), col("source"),
        col("c_chars").cast("long").as("n_chars"),
        col("c_docs").cast("long").as("seed_docs"))
    val stream = streamRows(spark, dir).withColumn("seed_docs", lit(0L))
    val cut = streamCut(stream)
    ReplayScaffold.writeManifestBatch(spool, seeds, 0)
    ReplayScaffold.writeManifestBatch(spool, stream.filter(col("doc_id") < cut), 1)
    ReplayScaffold.writeManifestBatch(spool, stream.filter(col("doc_id") >= cut), 2)
  }

  /** Run the replay; returns `(doc_id, lang, source, run_docs, run_chars)`. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    StreamingDedup.configureStateStore(spark)
    val spool = ReplayScaffold.spoolFor(spark, dir, "q87seed", "documents.parquet",
      "h60mod4;seed+halves;manifest", writeSeededSpool, expectedFiles = 3)
    val runDir = ReplayScaffold.freshRunDir(spool)

    import spark.implicits._
    val in = ReplayScaffold.manifestStream(spark, spool, SpoolSchema).as[SeededDoc]
    val out = runningCounters(in)
    ReplayScaffold.runToParquet(out.toDF(), runDir).orderBy("doc_id")
  }
}
