package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.Point

/** The engine's native store: parquet partitioned by (bucket, measurement)
  * — the Spark form of the reference's InfluxDB observer (K2,
  * cerebro/observer.py:67-130), with the idempotence contract SURVEY.md §4
  * requires: at-least-once upstream delivery is forgiven by deduping on
  * the idempotence key (bucket, measurement, tags, fields, fields_str,
  * time) within each batch — fields included so same-series-same-timestamp
  * points with distinct field sets (one device poll fanning out to many
  * channel points) are data, not replays; the STREAMING path
  * ([[start]]) is exactly-once end-to-end because each micro-batch lands
  * in its own `__batch=<id>` partition via dynamic partition OVERWRITE —
  * a replayed batch (failure between the append and the checkpoint
  * commit) rewrites exactly its own partitions instead of appending a
  * second copy. The plain [[writeBatch]] (batch backfill, K3) is a raw
  * append: idempotence there comes from the within-batch dedup plus the
  * overlap-and-dedup read contract (SURVEY §4), i.e. at-least-once.
  *
  * ==The idempotence key==
  * [[dropKeyRepeats]] groups on the maps themselves, one struct of the
  * three (Spark sorts a map grouping key by its keys, so entry order does
  * not matter), and keeps `max(time_ns)` of the repeats. Against the sorted `k=v` string key it
  * replaces:
  *   - `bucket` is part of the key: two points that differ only in bucket
  *     are both kept, each in its own leaf (one was dropped arbitrarily);
  *   - a null map and `{}` are one key, and both are stored as `{}`;
  *   - −0.0 ≡ 0.0, because Spark normalises floating-point grouping keys
  *     (NaNs were one value under the string key too); the stored field
  *     holds the normalised value, 0.0;
  *   - tags or fields containing `=` or `,` no longer collide (the string
  *     key merged `{"a=b":"c"}` with `{"a":"b=c"}`);
  *   - repeats keep `max(time_ns)`, not an arbitrary row's; stored maps
  *     come out sorted by key.
  *
  * Partitioning rationale at scale: bucket/measurement are the universal
  * query predicates (every Flux read starts `from(bucket) |> range |>
  * filter(_measurement)`, client.py:68-80), so they become partition
  * columns and reads prune to exactly the series touched. Time-range
  * predicates reach the parquet scan but prune no row group: `time` is
  * written as INT96, which parquet keeps no statistics for.
  */
object TelemetrySink {

  /** The store's schema, declared so that a read starts no schema
    * inference job (one footer read as a Spark job per query) and an
    * empty store reads as no rows. The [[Point]] data columns, all
    * nullable as parquet reads them, then the `bucket`, `measurement` and
    * `__batch` partition columns as strings: `__batch` carries both
    * `backfill-<uuid>` and numeric micro-batch ids, and a measurement name
    * stays a string even when it looks like a number. */
  val StoreSchema: StructType = {
    val partitions = Seq(Point.Bucket, Point.Measurement, "__batch")
    StructType(
      Point.schema.filterNot(f => partitions.contains(f.name)).map(_.copy(nullable = true)) ++
        partitions.map(StructField(_, StringType, nullable = true)))
  }

  /** Write one batch: default the bucket, dedup on the idempotence key
    * ([[dropKeyRepeats]]), append partitioned files. For batch
    * backfill (K3, `ingest_dataframe_to_influxdb`, tools.py:345-411);
    * the streaming sink goes through [[writeBatchIdempotent]] instead.
    *
    * Uses the SAME `(bucket, measurement, __batch)` leaf layout as the
    * streaming path — backfill and streaming naturally target one store,
    * and parquet partition discovery breaks the whole directory if two
    * layouts mix. Each call gets a unique `__batch=backfill-<uuid>` leaf
    * (append semantics: a re-run backfill is a new leaf; dedup across
    * overlapping backfills is the reader's overlap-and-dedup contract,
    * SURVEY §4 — implemented by [[readStore]]).
    *
    * MIGRATION: stores written before the `__batch` leaf existed (two
    * partition levels, not three) cannot be mixed with new writes in one
    * directory — parquet partition discovery rejects mixed depths. Move
    * legacy data once via
    * `readStore → writeBatch` into a fresh directory (or read legacy
    * dirs separately with an explicit `basePath`). */
  def writeBatch(batch: DataFrame, outDir: String,
      defaultBucket: String = "default"): Unit =
    dedupOnKey(batch, defaultBucket)
      .withColumn("__batch", lit(s"backfill-${java.util.UUID.randomUUID}"))
      .write.mode(SaveMode.Append)
      .partitionBy(Point.Bucket, Point.Measurement, "__batch")
      .parquet(outDir)

  private def dedupOnKey(batch: DataFrame, defaultBucket: String): DataFrame =
    dropKeyRepeats(
      batch.withColumn(Point.Bucket, coalesce(col(Point.Bucket), lit(defaultBucket))))

  private val MapColumns = Seq(Point.Tags, Point.Fields, Point.FieldsStr)

  /** `df` (the [[Point]] columns, in any order) without repeats of the
    * idempotence key (bucket, measurement, tags, fields, fields_str, time):
    * one hash aggregate keyed on the maps, each coalesced to `{}`, keeping
    * `max(time_ns)`. `max` ignores row order, so the optimizer drops a sort
    * below it (a [[graft.batch.Backfill.read]] feeding [[writeBatch]]).
    * The key's semantics are listed in the object doc.
    *
    * The three maps form ONE struct key: Spark projects each map grouping
    * key's sort into a column of a list it builds from a hash map, so with
    * three map keys the projection's column order, and with it the
    * generated code, changes from plan to plan, and every micro-batch and
    * backfill would compile a new class. */
  private[graft] def dropKeyRepeats(df: DataFrame): DataFrame = {
    val maps = struct(MapColumns.map(c => coalesce(col(c), map()).as(c)): _*)
    df.groupBy(col(Point.Bucket), col(Point.Measurement), maps.as("__maps"), col(Point.Time))
      .agg(max(col(Point.TimeNs)).as(Point.TimeNs))
      .select(df.columns.map(c =>
        if (MapColumns.contains(c)) col(s"__maps.$c").as(c) else col(c)): _*)
  }

  /** Exactly-once micro-batch commit: the batch id becomes a leaf
    * partition column and the write is a DYNAMIC partition overwrite, so
    * only the `(bucket, measurement, __batch=<id>)` leaves carried by
    * THIS batch are replaced. A micro-batch replayed after a partial or
    * un-checkpointed append rewrites those same leaves — no duplicate
    * rows survive a retry. Readers see `__batch` as an extra partition
    * column; drop it on read. */
  def writeBatchIdempotent(batch: DataFrame, outDir: String, batchId: Long,
      defaultBucket: String = "default"): Unit =
    dedupOnKey(batch, defaultBucket)
      // string, not long: backfill leaves (`backfill-<uuid>`) share this
      // column, and partition-type inference must see ONE type either way
      .withColumn("__batch", lit(batchId.toString))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(Point.Bucket, Point.Measurement, "__batch")
      .parquet(outDir)

  /** Read-side half of the at-least-once contract (SURVEY §4): scan a
    * store written by [[writeBatch]]/[[writeBatchIdempotent]] and
    * collapse duplicates ACROSS `__batch` leaves on the idempotence key
    * ([[dropKeyRepeats]]) — overlapping backfill re-runs
    * each land in their own leaf, so only the reader can merge them.
    * Streaming leaves are exactly-once already; set `dedup = false` for
    * a pure-streaming store to skip the shuffle. `__batch` is dropped
    * either way (it is a commit token, not data). Reads through
    * [[StoreSchema]], so a store with no data file yet has no rows. */
  def readStore(spark: org.apache.spark.sql.SparkSession, outDir: String,
      dedup: Boolean = true): DataFrame = {
    val raw = spark.read.schema(StoreSchema).parquet(outDir).drop("__batch")
    if (dedup) dropKeyRepeats(raw) else raw
  }

  /** SURVEY §7.4 #2 — per-measurement WIDE typed tables (the InfluxDB
    * analogy): the dynamic field map pivots to real columns, one table
    * per measurement, so downstream SQL sees `SELECT temp, rh FROM
    * weather` instead of map lookups. Readers use `mergeSchema` so new
    * fields appearing later widen the table.
    *
    * ==Cardinality contract==
    * One write job per measurement is inherent to the layout (each
    * measurement has its OWN column set — a single partitioned write
    * cannot carry per-partition schemas), so the driver loop is bounded
    * by the number of DISTINCT MEASUREMENTS in the batch — telemetry
    * vocabularies are tens to hundreds (the reference's InfluxDB model
    * is the same shape). Rows per measurement are unbounded and fully
    * distributed. The field sets for ALL measurements are discovered in
    * ONE job, and the input is cached across the per-measurement writes
    * rather than recomputed M times. */
  def writeWideTables(batch: DataFrame, outDir: String): Unit = {
    val deduped = dropKeyRepeats(batch)
    deduped.persist()
    try {
      val fieldsByMeasurement = deduped
        .select(col(Point.Measurement),
          explode(map_keys(col(Point.Fields))).as("__field"))
        .distinct().collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.map(_.getString(1)).sorted.toSeq).toMap
      fieldsByMeasurement.toSeq.sortBy(_._1).foreach { case (m, fields) =>
        val slice = deduped.filter(col(Point.Measurement) === m)
        // InfluxDB field-set merge: points on the same series+timestamp
        // carrying different fields (e.g. the 16 thermistor channel points
        // of one poll) fold into ONE wide row. A batch has no arrival
        // order, so "last write wins" must be DETERMINISTIC: per field,
        // the carrying row with the greatest canonical field-set key wins
        // (max_by skips rows whose ordering key is null, i.e. rows not
        // carrying the field) — stable under any shuffle/partitioning,
        // where a bare last(..., ignoreNulls) flips between conflicting
        // values across re-runs.
        val order = canonicalFields(col(Point.Fields), col(Point.FieldsStr))
        val values = fields.map { f =>
          val v = element_at(col(Point.Fields), f)
          max_by(v, when(v.isNotNull, order)).as(f)
        }
        val wide = slice.groupBy(col(Point.Time), col(Point.Tags))
          .agg(values.head, values.tail: _*)
        wide.write.mode(SaveMode.Append)
          .option("mergeSchema", "true")
          .parquet(s"$outDir/wide/measurement=${m}")
      }
    } finally deduped.unpersist()
  }

  /** Both field maps as sorted `k=v` strings: [[writeWideTables]]' order
    * key for a deterministic per-field "last write wins". */
  private def canonicalFields(fields: Column, fieldsStr: Column): Column = {
    def pairs(m: Column) = concat_ws(",", array_sort(transform(map_entries(coalesce(m, map())),
      e => concat(e.getField("key"), lit("="), e.getField("value")))))
    concat(pairs(fields), lit("|"), pairs(fieldsStr))
  }

  // -------------------------------------------------------------------
  // InfluxDB line protocol (the reference observer's wire format)
  // -------------------------------------------------------------------

  private def escBackslash(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "\\\\", "\\\\\\\\")
  /** Tag keys/values and field keys escape `,` `=` and space. */
  private def escTag(c: org.apache.spark.sql.Column) =
    regexp_replace(escBackslash(c), "([,= ])", "\\\\$1")
  /** Measurements escape `,` and space (`=` is legal there). */
  private def escMeasurement(c: org.apache.spark.sql.Column) =
    regexp_replace(escBackslash(c), "([, ])", "\\\\$1")
  /** String field values are double-quoted with `"` and `\` escaped. */
  private def escStrField(c: org.apache.spark.sql.Column) =
    regexp_replace(escBackslash(c), "\"", "\\\\\"")

  /** Serialize point rows to InfluxDB line protocol — the public wire
    * format behind the reference's InfluxDB writes
    * (`ingest_dataframe_to_influxdb`, tools.py:345-411, and the K2
    * observer): `measurement[,tag=v...] field=v[,...] <ns>`. One escaped
    * line per point, plus the resolved bucket for transport routing.
    * Entirely codegen'd column work (escape/sort/join per row — no UDF);
    * tag and field sets are key-sorted so output is deterministic.
    * Points with no fields at all are dropped (not a valid line).
    * Timestamps prefer the ns-resolution column when present. */
  def lineProtocol(points: DataFrame, defaultBucket: String = "default"): DataFrame = {
    val tags = coalesce(col(Point.Tags), map())
    val tagPart = concat_ws(",", array_sort(transform(map_entries(tags),
      e => concat(escTag(e.getField("key")), lit("="), escTag(e.getField("value"))))))
    val numFields = transform(map_entries(coalesce(col(Point.Fields), map())),
      e => concat(escTag(e.getField("key")), lit("="),
        e.getField("value").cast("string")))
    val strFields = transform(map_entries(coalesce(col(Point.FieldsStr), map())),
      e => concat(escTag(e.getField("key")), lit("=\""),
        escStrField(e.getField("value")), lit("\"")))
    val fieldPart = concat_ws(",", array_sort(concat(numFields, strFields)))
    val ts = coalesce(col(Point.TimeNs), unix_micros(col(Point.Time)) * 1000)
    points
      .filter(size(map_entries(coalesce(col(Point.Fields), map()))) +
        size(map_entries(coalesce(col(Point.FieldsStr), map()))) > 0)
      .select(
        coalesce(col(Point.Bucket), lit(defaultBucket)).as("bucket"),
        concat(
          escMeasurement(col(Point.Measurement)),
          when(size(map_entries(tags)) > 0, concat(lit(","), tagPart))
            .otherwise(lit("")),
          lit(" "), fieldPart, lit(" "), ts.cast("string")).as("line"))
  }

  /** Group serialized lines into POST-ready payloads of ≤ `batchPoints`
    * lines per bucket — the reference's 1000-point write batching
    * (tools.py:393-403). Deterministic: lines order within their bucket,
    * batches chunk that order. One shuffle keyed by bucket; a transport
    * that doesn't need deterministic batch ids should instead batch
    * per-partition inside `foreachPartition` (zero shuffle) — this shape
    * exists for replayable/testable output. */
  def lineProtocolBatches(points: DataFrame, batchPoints: Int = 1000,
      defaultBucket: String = "default"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bucket").orderBy("line")
    lineProtocol(points, defaultBucket)
      .withColumn("__rn", row_number().over(w) - 1)
      .withColumn("batch_idx", (col("__rn") / batchPoints).cast("long"))
      .groupBy("bucket", "batch_idx")
      .agg(count(lit(1)).as("n_points"),
        concat_ws("\n", array_sort(collect_list(col("line")))).as("payload"))
  }

  /** Continuous sink: foreachBatch → [[writeBatchIdempotent]], checkpointed. The
    * reference's 1000-point write batching (R18, tools.py:354) maps to the
    * micro-batch itself — trigger interval controls batch size. */
  def start(points: DataFrame, outDir: String, checkpointDir: String,
      defaultBucket: String = "default",
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      queryName: String = "telemetry-sink"): StreamingQuery =
    points.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, outDir, batchId, defaultBucket)
      }
      .start()
}
