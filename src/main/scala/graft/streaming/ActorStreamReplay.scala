package graft.streaming

import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType => SqlString, StructField, StructType}
import graft.Tables
import graft.sources.ActorReplies
import graft.sources.ActorReplies.{FloatType, KeyDef, KeysDictionary, PvtType, ReplyLine}
import graft.transforms.KeywordProcessor
import graft.transforms.KeywordProcessor.KeywordTagConf

/** q52 — the full S10 streaming chain driven END TO END as an
  * oracle-checkable query: deterministic reply lines are synthesized from
  * the `events` table, chunked (the last line of every connection is cut
  * mid-line so its halves land in DIFFERENT micro-batches), spooled as
  * parquet, and streamed through
  * `reassembleLines → ActorReplies.parse → KeywordProcessor.process`
  * (tron.py:336-454) into a parquet sink. The DuckDB oracle replays the
  * EXPECTED output directly from `events` via the chain's specification —
  * so a hash match proves the grammar, dictionary typing, broadcast drop,
  * keyword_tags, PVT explode, and cross-batch reassembly all compose
  * correctly, not just that each piece passes its spec.
  *
  * ==Line synthesis (all arithmetic on `event_id` = `id`)==
  *  - `id % 13 == 3` → a malformed line (dropped by the parser,
  *    tron.py:411-413)
  *  - `id % 10 == 0` → commandId 0, an unsolicited broadcast (dropped,
  *    tron.py:435-436)
  *  - `val=<id>,<value>`: two FloatType slots named id/x (units V on x);
  *    `id % 19 == 0` sends one value (arity failure), `id % 17 == 0`
  *    sends a non-numeric second value (syntax failure) — either way the
  *    keyword is dropped whole (tron.py:428-433)
  *  - `status=<event_type>`, quoted with embedded `;`/`,` when
  *    `id % 9 == 0` (exercises the quote-aware splitter) — a string
  *    value, landing in `fields_str`
  *  - `motion=<v>,<v+1>,<v*2>` when `id % 5 == 0`: one PvtType slot
  *    consuming three raw values → `motion_P/_V/_T` fields (tron.py:58-64)
  *  - `mystery=1` when `id % 11 == 0`: not in the dictionary → dropped
  *  - keyword_tags: `probe.val` index 0 → the id value becomes the `eid`
  *    tag on both val points (tron.py:86-97)
  *
  * All doubles cross the wire as Spark's shortest-repr strings and are
  * re-parsed — an exact roundtrip — so the oracle can compute from
  * `value` directly without any string rendering of its own.
  *
  * The generator windows/collects nothing on the driver; chunk files are
  * written by a batch job as two staged manifest batches, which arrive
  * as two separate micro-batches (reassembly state would handle either
  * order).
  */
object ActorStreamReplay {

  private val Dict = KeysDictionary("probe", Map(
    "val" -> KeyDef(Seq(FloatType("id"), FloatType("x", "V"))),
    "status" -> KeyDef(Seq(ActorReplies.StringType())),
    "motion" -> KeyDef(Seq(PvtType()))))

  /** Connection count of the synthesized spool — see the note inside
    * [[writeSpool]]. Fixed, not derived from the core count, so the
    * spool and its timings are the same on every machine. Part of the
    * spool-reuse stamp because the spool content depends on it. */
  private val Conns = 32

  /** Synthesize reply lines from `events` and spool them as chunk parquet:
    * one file per micro-batch; the second file holds the tail half of each
    * connection's final line. */
  private def writeSpool(spark: SparkSession, dir: String, spool: File): Unit = {
    val e = Tables.events(spark, dir).select(
      col("event_id").as("id"), col("user_id").as("u"),
      col("event_type").as("et"), col("value").as("v"))
    val idStr = col("id").cast("double").cast("string")
    val vStr = col("v").cast("string")
    val cmd = when(col("id") % 10 === 0, lit(0)).otherwise(lit(1) + col("id") % 7)
    val kwVal = when(col("id") % 19 === 0, concat(lit("val="), idStr))
      .when(col("id") % 17 === 0, concat(lit("val="), idStr, lit(",bogus")))
      .otherwise(concat(lit("val="), idStr, lit(","), vStr))
    val kwStatus = when(col("id") % 9 === 0,
        concat(lit("status=\""), col("et"), lit("; x,y\"")))
      .otherwise(concat(lit("status="), col("et")))
    val kwMotion = when(col("id") % 5 === 0, concat(lit("motion="),
      vStr, lit(","), (col("v") + 1).cast("string"), lit(","), (col("v") * 2).cast("string")))
    val kwMystery = when(col("id") % 11 === 0, lit("mystery=1"))
    val line = when(col("id") % 13 === 3, lit("!! not a reply"))
      .otherwise(concat(cmd.cast("string"), lit(" "), (col("u") % 5).cast("string"),
        lit(" i "), concat_ws("; ", kwVal, kwStatus, kwMotion, kwMystery)))

    // Many connections, not a handful: the connection id keys the
    // reassembly state op, and every stage downstream of it (parse,
    // KeywordProcessor) inherits its partitioning — with 4 conns the
    // whole chain ran 4-wide on a 32-core session (measured 6x slower).
    // The query's OUTPUT is connection-count-invariant (conn only
    // partitions reassembly), so the oracle does not depend on it.
    val wRank = Window.partitionBy(col("conn")).orderBy(col("id"))
    val numbered = e
      .select(concat(lit("c"), (col("u") % Conns).cast("string")).as("conn"),
        col("id"), concat(line, lit("\n")).as("data"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("conn"))))
    val dataLen = length(col("data"))
    val half = (dataLen / 2).cast("int")
    val chunks = numbered.select(col("conn"), explode(
      when(col("rn") === col("n"), array(
        struct((col("rn") - 1).cast("long").as("seq"),
          col("data").substr(lit(1), half).as("data"), lit("b2").as("part")),
        struct(col("rn").cast("long").as("seq"),
          col("data").substr(half + 1, dataLen).as("data"), lit("b2").as("part"))))
      .otherwise(array(
        struct((col("rn") - 1).cast("long").as("seq"),
          col("data").as("data"), lit("b1").as("part"))))).as("c"))
      .select(col("conn"), col("c.seq").as("seq"), col("c.data").as("data"),
        col("c.part").as("part"))
    // two staged manifest batches -> two micro-batches, arrival order =
    // filename index. The final line's OWN two chunks are both in batch
    // 1 (same trigger); the cross-batch carry is the connection STATE
    // (nextSeq high-water + empty partial) — the reassembler is also
    // order-TOLERANT (out-of-order chunks wait in `pending`), but the
    // replay pins the realistic order anyway.
    // persist BEFORE the two writes: the writer collapses its
    // post-shuffle stage, so without the cache each write would rerun
    // the window+explode pipeline serially.
    val cached = chunks.persist()
    try {
      ReplayScaffold.writeManifestBatch(spool,
        cached.filter(col("part") === "b1").select("conn", "seq", "data"), 0)
      ReplayScaffold.writeManifestBatch(spool,
        cached.filter(col("part") === "b2").select("conn", "seq", "data"), 1)
    } finally cached.unpersist()
  }

  private val ChunkSchema = StructType(Seq(
    StructField("conn", SqlString), StructField("seq", LongType),
    StructField("data", SqlString)))

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spool reused across runs (content-keyed on events.parquet + conns);
    // checkpoint/sink always land in a fresh swept run dir
    val spool = ReplayScaffold.spoolFor(spark, dir, "q52",
      "events.parquet", s"conns=$Conns;manifest", writeSpool,
      expectedFiles = 2)

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val chunks = ReplayScaffold.manifestStream(spark, spool, ChunkSchema)
      .as[StatefulOps.Chunk]
    val replies = StatefulOps.reassembleLines(chunks)
      .map(lo => ReplyLine(lo.line, t0))
    // Round-robin repartition between the grammar and the keyword
    // processor: everything after the state op inherits its key
    // partitioning — the replay's pinned state partitions
    // (ReplayScaffold.runToParquet), fewer than the cores of a bench
    // host, and unevenly filled by 32 hashed connections. The 16× audit
    // measured the interpreted KeywordProcessor stage as the chain's
    // floor (3.9 s of 8.2 s) when it ran at that degraded width. One
    // narrow exchange of (line, ts) rows buys full-width execution of
    // the per-row HOF stage; output is row-local, so the hash is
    // untouched.
    val parsed = ActorReplies.parse(replies, Dict)
      .repartition(spark.sparkContext.defaultParallelism)
    val points = KeywordProcessor.process(parsed.toDF(),
      tags = Map("site" -> "lab"),
      keywordTags = Map("probe.val" -> KeywordTagConf(0, "eid")))
    // parquet sink, not memory: the memory sink collects every batch to
    // the driver and its table executes as a SINGLE-partition local scan,
    // which made the readback+sort ~46 s at sf0.1; the parquet observer is
    // also the production path (sinks/TelemetrySink).
    val t = ReplayScaffold.runToParquet(points, spool)
    val tagStr = concat_ws(",", array_sort(transform(map_entries(col("tags")),
      e => concat(e.getField("key"), lit("="), e.getField("value")))))
    val num = t.select(tagStr.as("tags"), explode(col("fields")))
      .select(col("key").as("field"), col("value"), lit(null).cast("string").as("sval"), col("tags"))
    val str = t.select(tagStr.as("tags"), explode(col("fields_str")))
      .select(col("key").as("field"), lit(null).cast("double").as("value"),
        col("value").as("sval"), col("tags"))
    num.unionByName(str).orderBy("field", "value", "sval", "tags")
  }
}
