package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Loaders for the synthetic test tables (TESTDATA.md).
  *
  * Timestamp policy: the driver has shipped `events.ts` in two physical
  * layouts across testdata generations — parquet `timestamp[ns]` (which
  * Spark 4 reads as a LongType of nanoseconds under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, set by [[GraftSession]])
  * and plain `timestamp[us]`. Parquet in the wild is written by many
  * engines, so [[events]] adapts to the SCANNED dtype instead of
  * hard-coding one layout: LongType → ns→µs floor division (identical to
  * DuckDB's ns→µs truncation), timestamp/timestamp_ntz → pass-through
  * cast to `TIMESTAMP_NTZ`. Everything stays timezone-naive so parity
  * with the oracle is bit-exact in both layouts.
  */
object Tables {
  /** Make a session the engine can run on regardless of who built it:
    * ns-timestamp reads, UTC, deterministic map merge, the state store
    * ([[GraftSession.StateStoreConf]]) and the custom function registry
    * (a driver-owned session won't have loaded
    * [[graft.functions.GraftExtensions]]). Idempotent and cheap. */
  def harden(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    GraftSession.StateStoreConf.foreach { case (k, v) => spark.conf.set(k, v) }
    if (!spark.catalog.functionExists("cosine_sim"))
      graft.functions.VectorFunctions.register(spark)
    spark
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    harden(spark).read.parquet(s"$dir/$name.parquet")

  private val SpreadMaxBytes: Long = 1L << 30

  /** Spread an under-split SCAN across the session's default parallelism
    * before heavy scan-fused derivation (guide §2.5 "input skew: one
    * huge unsplittable file → repartition immediately after the read").
    * The testdata tables are single-row-group parquet files, which Spark
    * cannot split below one task (`maxPartitionBytes` splits at
    * row-group boundaries) — so a scan-fused kernel (per-shingle md5,
    * per-dim decimal products) runs on ONE core of local[32] until the
    * first exchange; q128's dot-product stage alone measured 4.3 s in a
    * 1-task stage (OPTIMIZATION_r17.md).
    *
    * Scale-adaptive by GUARD, not by constant: fires only when the
    * input is fewer files than `defaultParallelism` AND under 1 GiB in
    * total — the small-unsplittable layout. A cluster-scale table
    * arrives as many splits and passes through untouched (repartitioning
    * a large input here would be a full shuffle of the corpus — the
    * exact anti-pattern the guard exists to prevent). Round-robin
    * repartition keeps retry determinism via Spark's
    * sort-before-repartition default. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= target) df
    else {
      val total =
        try {
          val conf = spark.sessionState.newHadoopConf()
          files.map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(conf).getFileStatus(p).getLen
          }.sum
        } catch { case NonFatal(_) => Long.MaxValue }
      if (total <= SpreadMaxBytes) df.repartition(target) else df
    }
  }

  def region(s: SparkSession, dir: String): DataFrame = read(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = read(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = read(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = read(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** `events` with `ts` normalized to TIMESTAMP_NTZ at µs precision,
    * whatever physical layout the parquet carries (see object scaladoc).
    * The dtype dispatch happens at plan-build time from the scanned
    * schema — zero runtime cost, and a future regeneration in either
    * layout keeps analyzing. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = read(s, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val ts = raw.schema("ts").dataType match {
      case LongType => // legacy timestamp[ns] read as raw nanos
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
      case TimestampNTZType => col("ts")
      case TimestampType => // tz-aware µs; session is pinned UTC, so this
        col("ts").cast("timestamp_ntz") // is a relabel, not a shift
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}

/** Session factory with the engine's standard configuration. */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tag-merge semantics: later maps win, like dict.update in the
      // reference (cerebro.py:412)
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // codegen'd vector/fingerprint functions (cosine_sim, hamming_dist)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // The generated-class cache defaults to 100 entries — a session
      // running this engine's full query surface (60+ plans, several
      // generated classes each) evicts constantly, and every re-run of
      // an evicted plan recompiles from source (measured as 2-10x
      // single-run latency cliffs, SCALE.md "GC→codegen-recompile").
      // Static conf, so it must be set here at session build.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config(StateStoreConf)

  /** Streaming state lives in RocksDB. The dedup, windowed and
    * arbitrary-state operators carry state LINEAR IN UNIQUE CONTENT (one
    * entry per fingerprint / band key / series): Spark's default
    * HDFSBacked provider keeps every version of that map on the executor
    * HEAP, so at 100 TB the state alone evicts the working set; RocksDB
    * spills it to local disk with bounded block-cache memory. The
    * `transformWithState` operators (q86-q89, q105, q110) run only on
    * RocksDB. The store is a property of a query's checkpoint, fixed
    * when the query first starts, so this one configuration is set on
    * every session: at build here ([[builder]]: the replays, the tests
    * and the daemon, `control.Main`, whose actor source reassembles
    * lines in state), and by [[Tables.harden]] on a session the caller
    * built (every replay hardens its session before it starts). */
  val StateStoreConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // each commit uploads a delta, not a full snapshot
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // Short replays (a handful of triggers) never live long enough for
    // background snapshot maintenance to help recovery, but on a
    // slow-IO machine a maintenance pass firing mid-replay competes with
    // the commit path for the same disk (VERDICT r15 #4). Default
    // 60s → 600s: a replay finishes before the first tick. A
    // long-running stream (the daemon) snapshots every 10 min instead of
    // every minute, so recovery replays up to 10 min of changelog.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
    // Row-count tracking makes EVERY state put pay a RocksDB
    // read-before-write (insert-vs-update classification) solely to feed
    // the numTotalStateRows METRIC — query results are byte-identical
    // either way (the oracle sweep covers every streaming query). At
    // 100 TB state volumes that is a doubled point-lookup load on the
    // commit path, so it stays off. The speed effect of this setting is
    // unmeasured: no A/B of it has been run.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  def get(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
