package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ReplayState
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The one harness of the streaming replays (q52, q64, q73, q80-q89,
  * q105, q110): spool reuse, the `events` spool writer
  * ([[eventsSpool]]), and the one sink path ([[runToParquet]]) with its
  * fresh per-run sink/checkpoint dir and state-partition pin. The state
  * store itself is the session's (`graft.GraftSession`).
  *
  * A replay spool is a pure function of (corpus dir, generator config),
  * so rebuilding it on every run only re-measures the harness — a bench
  * rep would pay the generator 5×. [[spoolFor]] builds each spool once
  * per JVM and reuses it while its stamp (the SOURCE parquet's
  * names + sizes + mtimes and the generator's config) is unchanged; a
  * regenerated corpus under the same path or a changed config misses
  * and rebuilds.
  *
  * Spools live in a dir OWNED by the building process
  * (`graft-<kind>-<hash>-p<pid>` under the tmpdir). Two JVMs replaying
  * the same corpus at once — a bench beside a verify or a test run —
  * therefore never read a spool the other is rebuilding; a later build
  * sweeps the dirs of dead processes, so the tmpdir stays bounded.
  *
  * Order-sensitive replays (q86-q89 running counters, q105/q110 running
  * sketches) depend on arrival order, and that order is code: every
  * spool is staged as manifest batches ([[writeManifestBatch]]), and
  * [[ManifestReplaySource]] serves batch i at trigger i by filename
  * index, never by file mtime.
  *
  * Checkpoints and sinks are NEVER reused — [[freshRunDir]] sweeps old
  * run dirs and hands out a new one, so streaming state can never
  * resume stale (a resumed checkpoint would emit nothing; a stale sink
  * would double rows). */
object ReplayScaffold {

  /** Publish `df` into `dir` as staged MANIFEST batch `index` — up to
    * `parts` files named `batch-<index padded>-p<j>.jsonl`, one JSON
    * object per row, timestamps encoded as epoch-micros longs. Arrival
    * order for these spools is the lexicographic order of the batch
    * INDEX in the filename, served by [[ManifestReplaySource]] (all
    * `-p*` parts of one index arrive in one trigger); no mtime is
    * pinned or consulted (VERDICT r12 #1b: the order contract is code,
    * not filesystem metadata). Multiple parts exist so the executor
    * parse of a large staged batch is PARALLEL — one partition per
    * part, rows within a trigger are unordered by definition (the
    * stateful processors sort per key). An empty batch still stages
    * one (empty) file, so the trigger structure is preserved
    * regardless of data.
    *
    * Default 4 parts (VERDICT r15 #4): the replay family's wall on the
    * driver's slow-IO phase is dominated by per-file costs (open +
    * fsync + commit-log entry per staged file); at sf0.1 each batch is
    * small enough that 4 parse partitions still saturate, and halving
    * the file count halves that floor. At a real cluster scale the
    * caller passes parts ≈ executor parallelism. */
  def writeManifestBatch(dir: File, df: DataFrame, index: Int,
      parts: Int = 4): Unit = {
    val enc = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType => d.withColumn(f.name, unix_micros(col(f.name)))
        case _ => d
      }
    }
    dir.mkdirs()
    def partFiles() = Option(dir.listFiles())
      .getOrElse(Array.empty[File]).filter(_.getName.startsWith("part-"))
    val seen = partFiles().map(_.getName).toSet
    enc.toJSON.repartition(parts).write.mode("append").text(dir.toString)
    val fresh = partFiles().filterNot(f => seen(f.getName)).sortBy(_.getName)
    if (fresh.isEmpty) {
      // an all-empty write may commit no files at all — stage one empty
      // part so the trigger slot survives
      Files.createFile(new File(dir, f"batch-$index%05d-p00.jsonl").toPath)
    } else fresh.zipWithIndex.foreach { case (part, j) =>
      val target = new File(dir, f"batch-$index%05d-p$j%02d.jsonl")
      Files.move(part.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
      val crc = new File(dir, s".${part.getName}.crc")
      if (crc.exists()) {
        val crcTarget = new File(dir, s".${target.getName}.crc")
        try Files.move(crc.toPath, crcTarget.toPath, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: Throwable => crc.delete() }
      }
    }
  }

  /** Open `spool` as a manifest-ordered replay stream: one staged batch
    * per trigger, in filename order, via [[ManifestReplaySource]]. */
  def manifestStream(spark: SparkSession, spool: File, schema: StructType): DataFrame =
    spark.readStream.format(classOf[ManifestReplaySource].getName)
      .schema(schema).option("path", spool.toString).load()

  /** The shared time-split instants for the cross-batch state replays
    * (q86/q88/q89/q105/q110) — one source of truth so tuning batch sizes
    * cannot silently desync the spools from their specs' straddle checks. */
  val DefaultCuts: Seq[String] =
    Seq("2024-01-08 00:00:00", "2024-01-16 00:00:00", "2024-01-23 00:00:00")

  /** Event time of the far-future flush sentinel: a batch holding only
    * this row drives the final watermark past every real window, session
    * or timer, so the drain emits all of them. */
  val FlushTs = "2030-01-01 00:00:00"

  /** Spool type of each `events` column an events spool can carry. */
  private val EventCols: Map[String, DataType] = Map(
    "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType)

  private def withKeys(cols: Seq[String]): Seq[String] = "event_id" +: "ts" +: cols

  /** Schema of an events spool carrying `event_id`, `ts` and `cols`. */
  def eventsSchema(cols: Seq[String]): StructType =
    StructType(withKeys(cols).map(c => StructField(c, EventCols(c))))

  /** `events` projected to `event_id`, `ts` (cast to timestamp) and `cols`. */
  def eventRows(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    graft.Tables.events(spark, dir).select(withKeys(cols).map {
      case "ts" => col("ts").cast("timestamp").as("ts")
      case c => col(c)
    }: _*)

  /** Predicates splitting rows on `ts` at [[DefaultCuts]]: batch i =
    * rows in `[cut(i-1), cut(i))`, four batches in time order. */
  def timeSplit: Seq[Column] = {
    val cutCols = DefaultCuts.map(c => expr(s"TIMESTAMP '$c'"))
    (0 to DefaultCuts.length).map { i =>
      val lo = if (i == 0) lit(true) else col("ts") >= cutCols(i - 1)
      val hi = if (i == DefaultCuts.length) lit(true) else col("ts") < cutCols(i)
      lo && hi
    }
  }

  /** Index of the [[timeSplit]] batch a row's `ts` falls in, as an int —
    * the batch label as a pure function of the data, equal to the
    * row's staged batch under one-batch-per-trigger manifest replay. */
  def cutLabel: Column =
    DefaultCuts.zipWithIndex.reverse.foldLeft(lit(DefaultCuts.length)) {
      case (acc, (c, i)) => when(col("ts") < expr(s"TIMESTAMP '$c'"), lit(i)).otherwise(acc)
    }.cast("int")

  /** Build-or-reuse ([[spoolFor]]) the `events` spool of replay `kind`:
    * staged batch i holds the [[eventRows]] that `batches(i)` selects;
    * with `flush`, one more batch holds only the flush sentinel row
    * (`ts` [[FlushTs]], `value` 0, -1 in every other column; callers
    * filter it out of their output). Read it back with `manifestStream(spark, spool,
    * eventsSchema(cols))`. */
  def eventsSpool(spark: SparkSession, dir: String, kind: String,
      extraStamp: String, cols: Seq[String], batches: Seq[Column],
      flush: Boolean = false): File =
    spoolFor(spark, dir, kind, "events.parquet", extraStamp, (s, d, spool) => {
      val ev = eventRows(s, d, cols)
      batches.zipWithIndex.foreach { case (p, i) => writeManifestBatch(spool, ev.filter(p), i) }
      if (flush) writeManifestBatch(spool, s.range(1).select(withKeys(cols).map {
        case "ts" => expr(s"TIMESTAMP '$FlushTs'").as("ts")
        case "value" => lit(0.0).as("value")
        case c => lit(-1L).cast(EventCols(c)).as(c)
      }: _*), batches.length)
    }, expectedFiles = batches.length + (if (flush) 1 else 0))

  /** Refcounted per-session pin of `spark.sql.shuffle.partitions`
    * (VERDICT r13 #4): the old bare set/restore raced when two replays
    * overlapped in one session — whichever restored LAST could leave
    * the session at the pinned value (or at a mid-flight "previous"
    * that was itself a pin). Now the first acquirer records the true
    * previous value and sets the pin; same-value acquirers stack; the
    * last release restores. A concurrent request for a DIFFERENT value
    * blocks until the current pin fully releases — correctness over
    * throughput for a knob whose callers all use the same default. */
  private object ShufflePin {
    private final class Pin(val prev: String, val value: Int, var refs: Int)
    private val pins = scala.collection.mutable.Map.empty[SparkSession, Pin]

    def acquire(spark: SparkSession, value: Int): Unit = synchronized {
      while (pins.get(spark).exists(_.value != value)) wait()
      pins.get(spark) match {
        case Some(p) => p.refs += 1
        case None =>
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.shuffle.partitions", value.toString)
          pins(spark) = new Pin(prev, value, 1)
      }
    }

    def release(spark: SparkSession): Unit = synchronized {
      val p = pins(spark)
      p.refs -= 1
      if (p.refs == 0) {
        spark.conf.set("spark.sql.shuffle.partitions", p.prev)
        pins.remove(spark)
        notifyAll()
      }
    }
  }

  /** Shuffle partitions every replay's state is pinned to (see
    * [[runToParquet]]). */
  private val StatePartitions = 8

  /** The shared sink contract: append `streaming` to a parquet sink in a
    * fresh run dir next to `spool` ([[freshRunDir]]), drain it
    * (`processAllAvailable`), stop, and hand back the materialized result
    * for the caller to filter/order. Every replay runs through here, on
    * a session hardened first ([[graft.Tables.harden]]), so a session
    * the caller built runs on the engine's state store too.
    *
    * State partitioning: every trigger commits ONE state-store instance
    * per shuffle partition, so a 5-trigger replay over 32 partitions
    * pays ~160 RocksDB commits (open, changelog upload, metadata fsync)
    * for kilobytes of state — the scaffold tax VERDICT r11 #6 measured
    * at ~33 s of the suite. The replay pins [[StatePartitions]] (8) for
    * the stream's lifetime instead; per-key processing and output are
    * IDENTICAL (hash partitioning by key either way), only the commit
    * fan-out shrinks. The pin is refcounted per session ([[ShufflePin]])
    * so concurrent replays can overlap without racing the restore. At
    * production scale this knob goes the other way — state partitions
    * should match cluster parallelism, which a fresh checkpoint picks
    * up from the session automatically. */
  def runToParquet(streaming: DataFrame, spool: File): DataFrame = {
    val spark = graft.Tables.harden(streaming.sparkSession)
    val runDir = freshRunDir(spool)
    val outDir = new File(runDir, "out")
    ShufflePin.acquire(spark, StatePartitions)
    try {
      val q = streaming.writeStream.format("parquet")
        .option("path", outDir.toString)
        .outputMode("append")
        .option("checkpointLocation", new File(runDir, "ckpt").toString)
        .start()
      drain(q)
    } finally ShufflePin.release(spark)
    spark.read.parquet(outDir.toString)
  }

  /** Run `q` to the end of its input, stop it, and close the state-store
    * providers it loaded ([[org.apache.spark.sql.graft.ReplayState]]), so
    * a replay leaves no provider or checkpoint thread pool behind. */
  def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable()
    finally try q.stop() finally ReplayState.unload(q.runId)

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** Post-build invariant: expected staged-batch count, when the
    * caller declares one. Manifest batches are name-ordered — mtimes
    * carry no order, so there is nothing else to defend. */
  private def assertSpool(spool: File, expectedFiles: Int): Unit = {
    def dirs(f: File): Seq[File] =
      if (!f.isDirectory) Seq.empty
      else f +: Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(dirs)
    val batchFiles = dirs(spool).flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("batch-")))
    // a staged BATCH is one jsonl part-GROUP (all -pNN shards of one
    // index arrive in one trigger)
    val batchCount = batchFiles.flatMap(f => f.getName match {
        case ManifestReplaySource.BatchFile(idx) => Some((f.getParentFile, idx))
        case _ => None
      }).distinct.length
    if (expectedFiles >= 0)
      require(batchCount == expectedFiles,
        s"spool $spool has $batchCount staged batches, expected $expectedFiles")
  }

  // serializes same-JVM spool builds (sbt runs suites in parallel)
  private val buildLock = new Object

  // (kind, corpus-dir hash) -> stamp of the spool this process has
  // built; a same-stamp request reuses it instead of rebuilding (the
  // q88 gap sweep, a spec calling run() twice, every bench rep)
  private val built = scala.collection.mutable.Map.empty[(String, String), String]

  /** Build-or-reuse the spool for `kind` over `dir`, fingerprinting
    * `dir/sourceFile` and `extraStamp` (generator knobs that change the
    * spool content — e.g. q52's connection count). `expectedFiles`, when
    * ≥0, pins the staged-batch count the writer must produce. The spool
    * is built into this process's own dir (object scaladoc). */
  def spoolFor(spark: SparkSession, dir: String, kind: String,
      sourceFile: String, extraStamp: String,
      write: (SparkSession, String, File) => Unit,
      expectedFiles: Int = -1): File = {
    // names are part of the fingerprint: two part files swapping contents
    // at equal sizes within one mtime tick must still miss the stamp
    def fingerprint(f: File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(fingerprint).sorted.mkString(",")
      else s"${f.getName}=${f.length()}:${f.lastModified()}"
    val stamp = s"${fingerprint(new File(dir, sourceFile))}\n$extraStamp"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString
    val tmp = new File(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val prefix = s"graft-$kind-$key-p"
    val spool = new File(new File(tmp, s"$prefix$pid"), "spool")
    buildLock.synchronized {
      if (!(built.get((kind, key)).contains(stamp) && spool.isDirectory)) {
        // sweep dirs owned by this or dead processes (bounded tmp)
        Option(tmp.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(prefix))
          .filter { f =>
            val p = f.getName.stripPrefix(prefix)
            p.nonEmpty && p.forall(_.isDigit) && {
              val owner = p.toLong
              owner == pid ||
                !ProcessHandle.of(owner).map[Boolean](_.isAlive).orElse(false)
            }
          }.foreach(rmTree)
        spool.mkdirs()
        write(spark, dir, spool)
        built((kind, key)) = stamp
      }
      assertSpool(spool, expectedFiles)
    }
    spool
  }

  /** Fresh per-run sink+checkpoint dir next to the (reused) spool;
    * previous run dirs are swept first so tmp usage stays bounded.
    *
    * Dirs are OWNED by the creating process (`run-<pid>-<nano>`) and the
    * sweep only removes dirs whose owner is this process or is dead —
    * two JVMs replaying the same corpus concurrently (a bench beside a
    * test run) can no longer delete each other's live checkpoint/sink
    * mid-stream. Legacy unowned `run-<nano>` dirs are swept
    * unconditionally (pre-ownership leftovers, by definition not live).
    *
    * Within ONE process, the newest own-pid dir is kept: two SAME-KIND
    * replays overlapping in one JVM (ConcurrentReplaySpec) would
    * otherwise each sweep the other's live checkpoint mid-stream —
    * the second call now spares the first call's (newest) dir and only
    * reclaims everything older, which a sequential caller has already
    * consumed. Three-deep same-kind concurrency would still collide;
    * the replay harnesses are at most pairwise-concurrent by
    * construction (one bench, one verify). */
  private def freshRunDir(spool: File): File = {
    val base = spool.getParentFile
    val pid = ProcessHandle.current().pid()
    def owner(name: String): Option[Long] = name.split("-") match {
      case Array(_, p, _) if p.nonEmpty && p.forall(_.isDigit) => Some(p.toLong)
      case _ => None // legacy unowned dir
    }
    def ownerGone(name: String): Boolean = owner(name) match {
      case Some(o) => o == pid ||
        !ProcessHandle.of(o).map[Boolean](_.isAlive).orElse(false)
      case None => true
    }
    val sweepable = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("run-") && ownerGone(f.getName))
    val newestOwn = sweepable.filter(f => owner(f.getName).contains(pid))
      .sortBy(_.getName.split("-").last.toLong).lastOption
    sweepable.filterNot(f => newestOwn.exists(_.getAbsolutePath == f.getAbsolutePath))
      .foreach(rmTree)
    val d = new File(base, s"run-$pid-${System.nanoTime()}")
    d.mkdirs(); d
  }
}
