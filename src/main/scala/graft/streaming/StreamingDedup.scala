package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Tables
import graft.text.TextStats

/** Streaming exact deduplication — the INGESTION-TIME member of the
  * dedup family (exact / MinHash / SimHash / Jaccard / embedding-LSH
  * cover the batch corpus; this one suppresses duplicates as documents
  * ARRIVE, before they ever land in the corpus).
  *
  * Two state regimes, chosen by whether the key domain is bounded:
  *
  *  - [[exactDedup]] (`dropDuplicates`): one state-store entry per
  *    unique fingerprint, FOREVER. At 100 TB that is only viable when
  *    the unique-key count is bounded (e.g. a fixed device/keyword set);
  *    for an open-ended document firehose the state grows with corpus
  *    cardinality — RocksDB-backed state makes it disk-bounded, but the
  *    right tool is usually the TTL variant below.
  *  - [[exactDedupTtl]] (`dropDuplicatesWithinWatermark`): state for a
  *    fingerprint is dropped once the event-time watermark passes its
  *    first-seen timestamp + `delay`, so state size is bounded by the
  *    unique-key ARRIVAL RATE × TTL window, independent of total corpus
  *    size. A duplicate arriving after its key's state expired is
  *    re-emitted — acceptable for ingestion dedup (a periodic batch
  *    `Dedup.exactGroups` pass sweeps long-range dups; this op kills the
  *    short-range storm: re-crawls, retry storms, mirror bursts).
  *
  * Both are thin by design — the semantics ARE Spark's stateful dedup
  * operators; the value is the fingerprint contract (identical
  * normalization to the batch dedup family, [[TextStats.fingerprint]],
  * so streaming and batch passes agree on what "identical" means) and
  * the oracle-checked end-to-end replay ([[run]] = q64), which proves
  * the cross-micro-batch state actually carries: the spool is split so
  * every duplicate family straddles the batch boundary — a dedup that
  * reset state per batch would re-emit all of them and hash-mismatch.
  */
object StreamingDedup {

  /** Fingerprint + key-derived projection shared by the streaming query
    * and the oracle: every output column is a function of the normalized
    * text, so WHICH family member survives cannot affect the result. */
  private def keyed(df: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), " +", " "))
    df.withColumn("fingerprint", TextStats.fingerprint(col(textCol)))
      .withColumn("norm_len", length(norm))
  }

  /** Exact streaming dedup on `keyCols`: emits the first arrival of each
    * key, suppresses every later duplicate. Unbounded state — see class
    * doc for when that is acceptable. */
  def exactDedup(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.dropDuplicates(keyCols)

  /** TTL streaming dedup: suppresses duplicates of a key for as long as
    * the watermark has not passed its first arrival's event time +
    * `delay`; afterwards the key's state is evicted and a late duplicate
    * is re-admitted (and re-starts the TTL). State is bounded by
    * rate × TTL. */
  def exactDedupTtl(df: DataFrame, eventTimeCol: String, delay: String,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  // ---------------------------------------------------------------------
  // Streaming NEAR-duplicate suppression (MinHash-LSH state)
  // ---------------------------------------------------------------------

  final case class BandArrival(band: Int, band_key: String, doc_id: Long,
      sig: Array[Long])
  final case class BandLeader(sig: Array[Long])
  final case class BandVerdict(doc_id: Long, band: Int, hit: Boolean)

  /** One row per (document, LSH band) for a stream of documents: the
    * MinHash signature (`numPerm` perms over `n`-shingles — the exact
    * replayable config of the batch family) split into `bands` band
    * keys. Column-pure on purpose: the batch-side
    * [[graft.dedup.Dedup.withMinhashSignature]] aggregate shape needs a
    * groupBy, which append-mode streaming cannot place before a stateful
    * op — here the signature is the [[graft.dedup.Dedup.minhashSignature]]
    * expression and banding is an explode, both stateless. */
  def bandArrivals(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numPerm: Int, bands: Int): DataFrame = {
    val rows = numPerm / bands
    require(bands * rows == numPerm, "bands must divide numPerm")
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.dedup.Dedup.minhashSignature(col(textCol), n, numPerm).as("sig"))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .select(col("band"),
        concat_ws("-", transform(
          slice(col("sig"), col("band") * rows + 1, lit(rows)),
          _.cast("string"))).as("band_key"),
        col("doc_id"), col("sig"))
  }

  /** Per-band LSH verdicts with leader verification, carried across
    * micro-batches: the FIRST arrival on a band key becomes that key's
    * leader and its signature is the key's state; every later arrival
    * (same batch or any later one) verifies its estimated Jaccard
    * (fraction of agreeing minhashes) against the leader and is a `hit`
    * iff est ≥ `threshold` — an LSH band collision alone does not drop
    * a document, the same candidate→verify discipline as the batch
    * `minhashLshPairs`. A document is a near-duplicate iff ANY of its
    * bands hits (roll verdicts up by doc_id at the sink).
    *
    * Determinism: within a batch each band group is processed in
    * doc_id order, so leadership and every verdict are functions of
    * (batch assignment, doc_id) — replayable by a batch oracle.
    *
    * Approximation (the price of bounded state): only the leader's
    * signature is retained per band key, so a document near-duplicate
    * of a non-leader SURVIVOR — but not of any band leader it collides
    * with — is admitted. State is 8·numPerm bytes per distinct band
    * key ever seen: linear in unique content, independent of duplicate
    * volume, in the session's RocksDB state store (`graft.GraftSession`);
    * sweep long-range leakage with the periodic batch pass
    * ([[graft.dedup.Dedup.incrementalDedup]]), exactly as [[exactDedupTtl]]'s
    * doc prescribes for the exact family. */
  def nearDedupVerdicts(arrivals: Dataset[BandArrival], numPerm: Int,
      threshold: Double): Dataset[BandVerdict] = {
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    implicit val stateEnc = Encoders.product[BandLeader]
    implicit val outEnc = Encoders.product[BandVerdict]
    arrivals.groupByKey(a => (a.band, a.band_key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_: (Int, String), rows: Iterator[BandArrival],
            state: GroupState[BandLeader]) =>
          val sorted = rows.toArray.sortBy(_.doc_id)
          var leader: Option[Array[Long]] = state.getOption.map(_.sig)
          // strict (not a lazy iterator): state.update must not be
          // deferred into downstream iterator consumption
          val out = sorted.map { a =>
            leader match {
              case None =>
                leader = Some(a.sig)
                state.update(BandLeader(a.sig))
                BandVerdict(a.doc_id, a.band, hit = false)
              case Some(ls) =>
                val agree = ls.iterator.zip(a.sig.iterator)
                  .count { case (x, y) => x == y }
                BandVerdict(a.doc_id, a.band,
                  hit = agree.toDouble / numPerm >= threshold)
            }
          }
          out.iterator
      }
  }

  private val SpoolSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Spool `documents` as two parquet files so that consecutive members
    * of every duplicate family land in DIFFERENT files: rows are
    * numbered within their fingerprint family and alternate b1/b2, so a
    * family of n ≥ 2 always straddles the micro-batch boundary (and
    * families of n ≥ 3 also test within-batch dedup in b1). The window
    * partitions by fingerprint — no global sort; this is the test
    * harness' data generator, same contract as q52's spool writer. */
  private def writeSpool(spark: SparkSession, dir: String, spool: File): Unit = {
    val docs = keyed(Tables.documents(spark, dir), "text")
    val rn = row_number().over(
      Window.partitionBy(col("fingerprint")).orderBy(col("doc_id")))
    val parts = docs.select(col("doc_id"), col("text"),
      ((rn - 1) % 2).as("part")).persist()
    try {
      ReplayScaffold.writeManifestBatch(spool,
        parts.filter(col("part") === 0).select("doc_id", "text"), 0)
      ReplayScaffold.writeManifestBatch(spool,
        parts.filter(col("part") === 1).select("doc_id", "text"), 1)
    } finally parts.unpersist()
  }

  /** q64 — streaming exact dedup driven end to end: spool `documents`
    * across two micro-batches (every duplicate family split across
    * them), stream through [[exactDedup]] on the fingerprint into a
    * parquet sink, read the sink back. Output is one row per unique
    * fingerprint with key-derived columns only; the DuckDB oracle is a
    * batch `SELECT DISTINCT` over the same normalization — a hash match
    * proves per-key exactly-once emission ACROSS batch boundaries. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val spool = ReplayScaffold.spoolFor(spark, dir, "q64", "documents.parquet",
      "manifest", writeSpool, expectedFiles = 2)
    val docs = ReplayScaffold.manifestStream(spark, spool, SpoolSchema)
    val unique = exactDedup(keyed(docs, "text"), Seq("fingerprint"))
      .select("fingerprint", "norm_len")
    ReplayScaffold.runToParquet(unique, spool).orderBy("fingerprint")
  }

  /** Parity spool for [[runNear]]: even doc_ids are micro-batch 1, odd
    * doc_ids micro-batch 2 — a batch assignment an oracle can replay as
    * `doc_id % 2`. Near-dup leadership DEPENDS on which batch is
    * processed first, so the spool is MANIFEST-staged: arrival order is
    * the filename index the writer chose, never filesystem mtimes. */
  private def writeParitySpool(spark: SparkSession, dir: String,
      spool: File): Unit = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    ReplayScaffold.writeManifestBatch(spool, docs.filter(col("doc_id") % 2 === 0), 0)
    ReplayScaffold.writeManifestBatch(spool, docs.filter(col("doc_id") % 2 === 1), 1)
  }

  /** q73 — streaming NEAR-dup dedup driven end to end: documents arrive
    * in two micro-batches (even doc_ids first), stream through
    * [[bandArrivals]] → [[nearDedupVerdicts]] (16 perms × 4 bands over
    * 3-shingles, est-Jaccard verify at 0.5 — the q33/q70 replayable
    * config) into a parquet sink; verdicts roll up to one row per
    * document: how many of its bands hit a leader, and whether it
    * survives (zero hits). The DuckDB oracle replays signatures,
    * banding, per-band leadership in (batch, doc_id) order, and the
    * leader-verify rule — a hash match proves band leadership carried
    * across the micro-batch boundary (per-batch state would re-elect
    * leaders in batch 2 and flip its duplicates to survivors). */
  def runNear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spool = ReplayScaffold.spoolFor(spark, dir, "q73", "documents.parquet",
      "manifest", writeParitySpool, expectedFiles = 2)
    // manifest-ordered arrival: leadership depends on batch order
    val docs = ReplayScaffold.manifestStream(spark, spool, SpoolSchema)
    val verdicts = nearDedupVerdicts(
      bandArrivals(docs, "doc_id", "text", n = 3, numPerm = 16, bands = 4)
        .as[BandArrival],
      numPerm = 16, threshold = 0.5)
    ReplayScaffold.runToParquet(verdicts.toDF(), spool)
      .groupBy("doc_id")
      .agg(sum(col("hit").cast("long")).as("n_hit_bands"))
      .select(col("doc_id"), col("n_hit_bands"),
        (col("n_hit_bands") === 0).as("survives"))
      .orderBy("doc_id")
  }

  /** q74 — the CLOSED ingestion-dedup loop: [[runNear]]'s streaming pass
    * admits survivors with leader-only leakage (a document near-dup of a
    * non-leader survivor slips through — the class doc's documented
    * approximation), and this op chains the prescribed periodic sweep:
    * [[graft.dedup.Dedup.incrementalDedup]] of the recent epoch's
    * admissions (micro-batch 2 = odd doc_ids) against the settled corpus
    * (micro-batch 1's admissions), at the IDENTICAL minhash config
    * (3-shingles, 16 perms × 4 bands, est-Jaccard 0.5), removing every
    * leaked cross-epoch exact/near duplicate the stream admitted.
    *
    * Output: one row per document — its streaming verdict
    * (`survives_stream`) and its post-sweep fate (`survives_final`).
    * The DuckDB oracle replays the whole loop: q73's leadership replay,
    * then the sweep's exact-fingerprint and banded-near hits of odd
    * survivors against even survivors.
    *
    * Scale shape: the sweep inherits incrementalDedup's contract — the
    * settled corpus NEVER shuffles; the recent epoch (small by
    * definition of an increment) broadcasts against two corpus scans.
    * At 100 TB the loop's steady-state cost is the streaming state plus
    * two narrow corpus scans per sweep period. Intra-epoch leaks are out
    * of the sweep's scope by design (a production epoch is one ingest
    * window; its interior is the NEXT window's settled corpus). */
  def runNearSwept(spark: SparkSession, dir: String): DataFrame = {
    val stream = runNear(spark, dir).select(col("doc_id"), col("survives"))
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val surv = docs.join(stream.filter(col("survives")), Seq("doc_id"))
      .select("doc_id", "text")
    val settled = surv.filter(col("doc_id") % 2 === 0)
    val recent = surv.filter(col("doc_id") % 2 === 1)
    val kept = graft.dedup.Dedup.incrementalDedup(settled, recent,
        "doc_id", "text", n = 3, numPerm = 16, bands = 4, threshold = 0.5)
      .select(col("id").as("doc_id"))
    val finalIds = settled.select("doc_id").unionByName(kept)
      .withColumn("__final", lit(true))
    stream.join(finalIds, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("survives").as("survives_stream"),
        coalesce(col("__final"), lit(false)).as("survives_final"))
      .orderBy("doc_id")
  }
}
