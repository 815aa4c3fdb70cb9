package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Point

/** Wire-protocol parsers for the reference's sensor sources, re-expressed
  * as pure `DataFrame => DataFrame` transforms over a frame of raw replies
  * (`raw STRING, recv_time TIMESTAMP`, plus any per-source columns). Each
  * returns rows in the uniform point schema ([[graft.model.Point]]), with
  * the input's other columns carried through after it.
  *
  * Per-source options are `Column`s, so one parse serves many sources
  * when each option is a lookup keyed by a carried source column
  * ([[SpoolFanIn]]); an option column may reference carried columns
  * only. Each parser has one body; its `String` form wraps the options
  * in literals.
  *
  * Splitting protocol *parsing* from socket *polling* is the executor/driver
  * boundary of SURVEY.md §3.1: a driver-side poller only appends raw reply
  * lines; all parsing is distributed, codegen'd column work.
  */
object Parsers {

  /** The input's columns other than the `consumed` ones, carried through. */
  private def carried(df: DataFrame, consumed: String*): Seq[Column] =
    df.columns.toSeq.filterNot(consumed.contains).map(col)

  private def rawCarried(raw: DataFrame): Seq[Column] = carried(raw, "raw", "recv_time")

  private def pointCols(measurement: Column, tags: Column, fields: Column,
      time: Column, bucket: Column): Seq[Column] = Seq(
    measurement.as(Point.Measurement),
    tags.cast(MapType(StringType, StringType)).as(Point.Tags),
    fields.cast(MapType(StringType, DoubleType)).as(Point.Fields),
    lit(null).cast(MapType(StringType, StringType)).as(Point.FieldsStr),
    time.cast(TimestampType).as(Point.Time),
    lit(null).cast(LongType).as(Point.TimeNs),
    bucket.cast(StringType).as(Point.Bucket))

  /** S3 — Govee BT bridge reply (`cerebro/sources/lvm.py:57-109`):
    * `"<ADDR> <temp> <hum> <x> <isoTime>"`; emits `temperature` and
    * `humidity` points. Applies the reference's guards: `?` not-found
    * replies dropped, address mismatch dropped (lvm.py:88-93), stale
    * points (older than `2*delay` vs `recv_time`) dropped (lvm.py:80-82).
    */
  def govee(raw: DataFrame, expectedAddress: String, device: String,
      delaySeconds: Long = 10, bucket: String = "sensors"): DataFrame =
    govee(raw, lit(expectedAddress), lit(device), lit(delaySeconds), lit(bucket))

  def govee(raw: DataFrame, expectedAddress: Column, device: Column,
      delaySeconds: Column, bucket: Column): DataFrame = {
    val parts = split(col("raw"), "\\s+")
    val address = upper(parts.getItem(0))
    val deviceTime = to_timestamp(parts.getItem(4))
    val parsed = raw
      .filter(col("raw") =!= "?" && size(parts) >= 5)
      .filter(address === upper(expectedAddress)) // T7 guard
      .filter( // T6 staleness
        unix_timestamp(col("recv_time")) - unix_timestamp(deviceTime) <= delaySeconds * 2)
    val tags = map(lit("address"), address, lit("device"), device)
    def point(measurement: String, value: Column): DataFrame =
      parsed.select(pointCols(lit(measurement), tags, map(lit("value"), value),
        deviceTime, bucket) ++ rawCarried(raw): _*)
    point("temperature", parts.getItem(1).cast(DoubleType))
      .unionByName(point("humidity", parts.getItem(2).cast(DoubleType)))
  }

  private val sens4Num = "([0-9]+?\\.[0-9]+E[+-][0-9]+)"
  private val sens4Re =
    s"^@[0-9]{1,3}ACKQ?$sens4Num,$sens4Num,$sens4Num,([0-9]+\\.[0-9]+),.+\\\\$$"

  /** S4 — Sens4 transducer reply (`lvm.py:140-174`):
    * `@{id}ACKQ<pz>,<pir>,<cmb>,<temp>,...\` → one `pressure` point with
    * fields pz/pir/cmb/temp and the ccd tag. Unparseable replies dropped. */
  def sens4(raw: DataFrame, ccd: String = "NA", bucket: String = "sensors"): DataFrame =
    sens4(raw, lit(ccd), lit(bucket))

  def sens4(raw: DataFrame, ccd: Column, bucket: Column): DataFrame = {
    val g = (i: Int) => regexp_extract(col("raw"), sens4Re, i).cast(DoubleType)
    raw.filter(regexp_extract(col("raw"), sens4Re, 1) =!= "")
      .select(pointCols(lit("pressure"), map(lit("ccd"), ccd),
        map(lit("pz"), g(1), lit("pir"), g(2), lit("cmb"), g(3), lit("temp"), g(4)),
        col("recv_time"), bucket) ++ rawCarried(raw): _*)
  }

  /** S5 — LN2 scale reply (`lvm.py:217-240`): `... <weight> lb ...` →
    * `ln2_weigth` point (sic — the reference's measurement name, kept for
    * storage parity) with the `spectrograph: sp1` tag. */
  def ln2Scale(raw: DataFrame, bucket: String = "sensors"): DataFrame =
    ln2Scale(raw, lit(bucket))

  def ln2Scale(raw: DataFrame, bucket: Column): DataFrame = {
    val w = regexp_extract(col("raw"), "\\s([\\-0-9.]+)\\slb", 1)
    raw.filter(w =!= "")
      .select(pointCols(lit("ln2_weigth"), map(lit("spectrograph"), lit("sp1")),
        map(lit("value"), w.cast(DoubleType)), col("recv_time"), bucket) ++ rawCarried(raw): _*)
  }

  /** S7 — ADAM-6251 thermistor reply (`lvm.py:383-418`): `!01<HEX>\r` →
    * 16 points, one per channel, field key `channel{n}`, bit extracted from
    * the hex mask, `channel_name` tag from `mapping`. The explode is a
    * generator (no shuffle); the mapping lookup is a map lookup, the
    * Spark form of the reference's dict.get. `mapping` is a
    * `MAP<STRING,STRING>` column. */
  def thermistors(raw: DataFrame, mapping: Map[String, String],
      channels: Int = 16, bucket: String = "sensors"): DataFrame =
    thermistors(raw, typedLit(mapping), lit(channels), lit(bucket))

  def thermistors(raw: DataFrame, mapping: Column, channels: Column,
      bucket: Column): DataFrame = {
    val hexMask = regexp_extract(col("raw"), "^!01([0-9A-F]+)\\r?$", 1)
    val channel = concat(lit("channel"), col("__channel"))
    raw.filter(hexMask =!= "")
      .select(Seq(col("recv_time"),
        conv(hexMask, 16, 10).cast(LongType).as("__mask"),
        explode(sequence(lit(0), channels - 1)).as("__channel")) ++ rawCarried(raw): _*)
      .select(pointCols(lit("thermistors"),
        map(lit("channel_name"),
          coalesce(element_at(mapping, channel), lit(""))),
        map(channel,
          when(expr("shiftright(__mask, __channel) & 1") > 0, 1.0).otherwise(0.0)),
        col("recv_time"), bucket) ++ rawCarried(raw): _*)
  }

  /** S6 — the driver-side poll fn for [[fileExists]]
    * (`CheckFileExistsSource.check_file`, lvm.py:287-309): each tick
    * emits one line, `"1"` if the file exists, `"0"` otherwise. Compose
    * with [[PollingSource]] (`delay` default 60 s, lvm.py:247). */
  def checkFileExistsPoll(file: String): () => Seq[String] =
    () => Seq(
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(file))) "1" else "0")

  /** S6 — existence-probe lines → `file_exists` points
    * (lvm.py:287-307): field key is the file's basename, value 1.0/0.0;
    * the full path is carried as the `full_path` tag. */
  def fileExists(raw: DataFrame, file: String,
      bucket: String = "sensors"): DataFrame =
    fileExists(raw, lit(file), lit(bucket))

  def fileExists(raw: DataFrame, file: Column, bucket: Column): DataFrame = {
    val basename = regexp_extract(file, "([^/]*)/*$", 1)
    raw.filter(col("raw").isin("0", "1"))
      .select(pointCols(lit("file_exists"),
        map(lit("full_path"), file),
        map(basename, col("raw").cast(DoubleType)),
        col("recv_time"), bucket) ++ rawCarried(raw): _*)
  }

  /** S14 — TPM snapshot lines → one `tpm` point per tick
    * (`TPMSource.read`, tpm.py:75-93): the multicast client keeps a dict
    * snapshot of the whole PLC state; each poll emits it verbatim as the
    * point's fields (`{"measurement": "tpm", "fields": data}`,
    * tpm.py:84-87). The spool line is that dict as one JSON object;
    * empty snapshots are dropped (tpm.py:82), and non-numeric entries
    * are filtered out of the MapType fields (the reference ships the
    * heterogeneous dict to InfluxDB; our typed `fields` map is
    * DOUBLE-valued — SURVEY §7.4 #2). */
  def tpmSnapshot(raw: DataFrame, bucket: String = "sensors"): DataFrame =
    tpmSnapshot(raw, lit(bucket))

  def tpmSnapshot(raw: DataFrame, bucket: Column): DataFrame = {
    // Parse to MAP<STRING,STRING> first: from_json straight to a DOUBLE-valued
    // map nulls the ENTIRE map when any one entry is a string (PERMISSIVE mode
    // fails the whole conversion), which would drop a heterogeneous PLC tick
    // like {"temp":1.5,"status":"OK"} including its numeric readings. Per-entry
    // numeric filtering (same regex as KeywordProcessor's try_cast) keeps them.
    val numericRe = "^[+-]?([0-9]*\\.)?[0-9]+([eE][+-]?[0-9]+)?$"
    val parsed = from_json(col("raw"), MapType(StringType, StringType))
    raw.select(Seq(parsed.as("snapshot"), col("recv_time")) ++ rawCarried(raw): _*)
      .filter(col("snapshot").isNotNull && size(map_keys(col("snapshot"))) > 0)
      .withColumn("snapshot", transform_values(
        map_filter(col("snapshot"), (_, v) => v.isNotNull && v.rlike(numericRe)),
        (_, v) => v.cast(DoubleType)))
      .filter(size(map_keys(col("snapshot"))) > 0)
      .select(pointCols(lit("tpm"), map(),
        col("snapshot"), col("recv_time"), bucket) ++ rawCarried(raw): _*)
  }

  /** S11 — AMQP actor replies ([[AmqpPushSource]] spool lines
    * `routingKey\tbase64(body-json)`; reply processing per
    * `AMQP.py:192-216`): measurement = the actor segment after the
    * reply prefix in the routing key (else the whole key); fields = the
    * configured dotted keyword paths extracted from the JSON body —
    * numeric values into `fields`, non-numeric into `fields_str`
    * (booleans/strings, the reference stores them verbatim); `groupers`
    * paths found in the body become tags named by their last segment
    * (AMQP.py:28-58 `flatten_dict` groupings). The static `keywords`
    * list is the engine's declared-intent form of the reference's
    * dynamic dict flatten — same stance as T3's keyword whitelist; the
    * two lists shape the plan, so they stay literal. */
  def amqpReplies(raw: DataFrame, keywords: Seq[String], groupers: Seq[String],
      measurementPrefix: String = "reply.", bucket: String = "actors"): DataFrame =
    amqpReplies(raw, keywords, groupers, lit(measurementPrefix), lit(bucket))

  def amqpReplies(raw: DataFrame, keywords: Seq[String], groupers: Seq[String],
      measurementPrefix: Column, bucket: Column): DataFrame = {
    val key = regexp_extract(col("raw"), "^([^\\t]+)\\t", 1)
    val body = unbase64(regexp_replace(col("raw"), "^[^\\t]+\\t", "")).cast(StringType)
    // the actor segment: the run of non-dots right after the prefix
    val actor = when(key.startsWith(measurementPrefix), regexp_extract(
      key.substr(length(measurementPrefix) + 1, length(key)), "^([^.]+)", 1))
    val measurement = when(actor.isNotNull && actor =!= "", actor).otherwise(key)
    def pathValue(k: String): Column = get_json_object(body, "$." + k)
    def filtered(pairs: Seq[Column]): Column =
      if (pairs.isEmpty) lit(null).cast(MapType(StringType, StringType))
      else map_filter(map(pairs: _*), (_, v) => v.isNotNull)
    // try_cast: non-numeric keyword values are DATA here (they route to
    // fields_str), not malformed input — ANSI cast would throw
    val fields = filtered(keywords.flatMap(k =>
      Seq(lit(k), pathValue(k).try_cast(DoubleType).cast(StringType))))
    val fieldsStr = filtered(keywords.flatMap { k =>
      val s = pathValue(k)
      Seq(lit(k), when(s.isNotNull && s.try_cast(DoubleType).isNull, s))
    })
    val tags = filtered(groupers.flatMap(k =>
      Seq(lit(k.split("\\.").last), pathValue(k))))
    raw.filter(key =!= "").select(Seq(
      measurement.as(Point.Measurement),
      tags.as(Point.Tags),
      fields.cast(MapType(StringType, DoubleType)).as(Point.Fields),
      fieldsStr.as(Point.FieldsStr),
      col("recv_time").cast(TimestampType).as(Point.Time),
      lit(null).cast(LongType).as(Point.TimeNs),
      bucket.cast(StringType).as(Point.Bucket)) ++ rawCarried(raw): _*)
  }

  /** S12/S13 wire lines ([[ModbusPoll.DriftPollFn]] spool format
    * `name\tvalue\tunits\toffset`, one device read per line) lifted into
    * the [[driftDevices]] readings frame — the live-Modbus half of the
    * drift chain; empty units become null so non-unit devices carry no
    * units tag. */
  def driftWire(raw: DataFrame, measurement: String = "devices",
      bucket: String = "actors"): DataFrame =
    driftWire(raw, lit(measurement), lit(bucket))

  def driftWire(raw: DataFrame, measurement: Column, bucket: Column): DataFrame = {
    val p = split(col("raw"), "\t")
    driftDevices(raw
      .filter(size(p) >= 4)
      .select(Seq(
        p.getItem(0).as("device"),
        p.getItem(1).as("raw_value"),
        when(p.getItem(2) === "", lit(null)).otherwise(p.getItem(2)).as("units"),
        p.getItem(3).cast(IntegerType).as("offset"),
        col("recv_time")) ++ rawCarried(raw): _*),
      measurement, bucket)
  }

  /** T8/S12 — Modbus device reading (`drift.py:128-162`): one row per
    * `(device, value, units, offset)` read; relays (`units == "relay"`)
    * decode closed→1.0/open→0.0 into the measurement's field, others pass
    * through with units/offset tags. */
  def driftDevices(readings: DataFrame, measurement: String = "devices",
      bucket: String = "actors"): DataFrame =
    driftDevices(readings, lit(measurement), lit(bucket))

  def driftDevices(readings: DataFrame, measurement: Column, bucket: Column): DataFrame = {
    val isRelay = lower(col("units")) === "relay"
    val value = when(isRelay,
        when(lower(col("raw_value")) === "closed", 1.0)
          .when(lower(col("raw_value")) === "open", 0.0))
      .otherwise(col("raw_value").cast(DoubleType))
    readings.select(pointCols(measurement,
      map_filter(map(
        lit("units"), when(isRelay, lit(null)).otherwise(col("units")),
        lit("offset"), col("offset").cast(StringType)), (_, v) => v.isNotNull),
      map(col("device"), value),
      col("recv_time"), bucket) ++
      carried(readings, "device", "raw_value", "units", "offset", "recv_time"): _*)
  }
}
