package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Point

/** T1 — the Tron/actor keyword processor (`process_keyword`,
  * cerebro/sources/tron.py:30-99) as a declarative flatMap.
  *
  * Input schema (one row per keyword update):
  * {{{
  * actor STRING, keyword STRING, recv_time TIMESTAMP,
  * values ARRAY<STRUCT<name STRING, units STRING, value STRING, pvt ARRAY<DOUBLE>>>
  * }}}
  *
  * Reproduced semantics, each with its reference line:
  *   - per-value field naming: `kw_name` when the key is named, bare `kw`
  *     for single-value keywords, positional `kw_i` otherwise (tron.py:45-51)
  *   - `units` promoted to a tag on that value's point (tron.py:54-55)
  *   - PVT triples exploded to `_P/_V/_T` fields (tron.py:58-64); other
  *     array values dropped with no point (tron.py:66-70)
  *   - configurable casts keyed `actor.keyword[_key]` (tron.py:75-84):
  *     "int" truncates, "float" passes through, "bool" maps falsy strings
  *     ("", "0", "false", "f") to 0
  *   - `keyword_tags`: the value at a configured index becomes a tag on
  *     every sibling point of the same keyword instance (tron.py:86-97)
  *
  * Numeric results land in `fields`; non-numeric, uncast values land in
  * `fields_str` (the dual-map model of SURVEY.md §7.4 #2 — the reference
  * ships heterogeneous dicts to InfluxDB, we keep both typed views).
  *
  * ==Execution shape==
  * One input row carries the WHOLE keyword, so every derived quantity —
  * the positional counter over parseable values, the keyword-tag lookup —
  * is row-scoped. It is therefore computed in the ARRAY domain
  * (`transform`/`filter` over `values` BEFORE the explode), not with
  * `Window.partitionBy(actor, keyword, recv_time)` over exploded rows:
  * the window form forced a shuffle for row-local semantics and made the
  * transform illegal on streaming DataFrames. This form is shuffle-FREE
  * and streaming-safe, so the full S10 chain
  * (`reassembleLines → ActorReplies.parse → process → sink`) runs as one
  * continuous streaming pipeline (asserted by ActorRepliesSpec). The
  * interpreted-HOF cost is bounded by values-per-keyword (≤ tens), not
  * corpus size — this is the ingest path, not the analytics hot path.
  */
object KeywordProcessor {

  final case class KeywordTagConf(index: Int, name: String)

  def process(
      df: DataFrame,
      tags: Map[String, String] = Map.empty,
      keywordTags: Map[String, KeywordTagConf] = Map.empty,
      casts: Map[String, String] = Map.empty,
      bucket: String = "actors"): DataFrame = {

    def litMap(m: Map[String, String]): Column =
      if (m.isEmpty) map().cast(MapType(StringType, StringType))
      else map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

    val castsCol = litMap(casts)
    val ktIndex = litMap(keywordTags.map { case (k, v) => k -> v.index.toString })
    val ktName = litMap(keywordTags.map { case (k, v) => k -> v.name })
    val baseTags = litMap(tags)

    val nValues = size(col("values"))
    def parseableOf(kv: Column): Column =
      kv.getField("pvt").isNull || size(kv.getField("pvt")) === 3

    // Per-element derivation, entirely in the array domain. `ii` is the
    // positional counter over PARSEABLE predecessors (tron.py:70-72
    // increments only for appended points): count of parseable elements
    // in the prefix values[0..i-1].
    val derived = transform(col("values"), (kv, i) => {
      val ii = size(filter(slice(col("values"), lit(1), i), e => parseableOf(e)))
      val keyName = when(kv.getField("name").isNotNull && kv.getField("name") =!= "",
          concat(lit("_"), kv.getField("name")))
        .when(nValues === 1, lit(""))
        .otherwise(concat(lit("_"), ii))
      val fieldBase = concat(col("keyword"), keyName)
      val rawVal = kv.getField("value")
      // try_cast semantics: malformed numerics become null (routed to
      // fields_str) instead of failing the job under ANSI mode
      val numericVal = when(
        rawVal.rlike("^[+-]?([0-9]*\\.)?[0-9]+([eE][+-]?[0-9]+)?$"),
        rawVal.cast(DoubleType))
      // this transform is INTERPRETED (higher-order function), so dead
      // per-element work is paid per row at ingest volume: with no
      // casts configured the lookup + three when-branches are pruned at
      // PLAN BUILD time, not evaluated to null a billion times
      val castVal = if (casts.isEmpty) numericVal else {
        val castKey = concat(col("actor"), lit("."), fieldBase)
        val cast = element_at(castsCol, castKey)
        when(cast === "int", numericVal.cast(IntegerType).cast(DoubleType))
          .when(cast === "float", numericVal)
          .when(cast === "bool",
            when(lower(rawVal).isin("", "0", "false", "f"), 0.0).otherwise(1.0))
          .otherwise(numericVal)
      }
      struct(
        i.as("idx"),
        parseableOf(kv).as("parseable"),
        fieldBase.as("field_base"),
        rawVal.as("raw"),
        kv.getField("units").as("units"),
        kv.getField("pvt").as("pvt"),
        castVal.as("cast_val"),
        coalesce(castVal.cast(StringType), rawVal).as("ktv"))
    })

    // keyword_tags: the parseable element at the configured index; `get`
    // (0-based, null on out-of-bounds) keeps the lookup ANSI-safe when no
    // element matches.
    val ktKey = concat(col("actor"), lit("."), col("keyword"))
    val ktMatch = get(filter(col("derived"), d =>
      d.getField("parseable") &&
        d.getField("idx").cast(StringType) === element_at(ktIndex, ktKey)), lit(0))

    val exploded = df
      .withColumn("derived", derived)
      // same build-time pruning as casts: no keyword_tags configured =>
      // the per-row filter/get lambda never exists in the plan
      .withColumn("kt_value",
        if (keywordTags.isEmpty) lit(null).cast(StringType) else ktMatch.getField("ktv"))
      .withColumn("kt_name",
        if (keywordTags.isEmpty) lit(null).cast(StringType) else element_at(ktName, ktKey))
      .select(col("actor"), col("keyword"), col("recv_time"),
        col("kt_value"), col("kt_name"),
        explode(filter(col("derived"), _.getField("parseable"))).as("d"))

    val d = col("d")
    val isPvt = d.getField("pvt").isNotNull && size(d.getField("pvt")) === 3
    val fields = when(isPvt, map(
        concat(d.getField("field_base"), lit("_P")), d.getField("pvt").getItem(0),
        concat(d.getField("field_base"), lit("_V")), d.getField("pvt").getItem(1),
        concat(d.getField("field_base"), lit("_T")), d.getField("pvt").getItem(2)))
      .when(d.getField("cast_val").isNotNull, map(d.getField("field_base"), d.getField("cast_val")))
      .otherwise(map().cast(MapType(StringType, DoubleType)))
    val fieldsStr = when(!isPvt && d.getField("cast_val").isNull && d.getField("raw").isNotNull,
        map(d.getField("field_base"), d.getField("raw")))
      .otherwise(map().cast(MapType(StringType, StringType)))

    val unitTags = when(d.getField("units").isNotNull && d.getField("units") =!= "",
        map(lit("units"), d.getField("units")))
      .otherwise(map().cast(MapType(StringType, StringType)))
    val ktTags = when(col("kt_value").isNotNull && col("kt_name").isNotNull,
        map(col("kt_name"), col("kt_value")))
      .otherwise(map().cast(MapType(StringType, StringType)))

    exploded.select(
      col("actor").as(Point.Measurement),
      map_concat(baseTags, unitTags, ktTags).as(Point.Tags),
      fields.as(Point.Fields),
      fieldsStr.as(Point.FieldsStr),
      col("recv_time").cast(TimestampType).as(Point.Time),
      lit(null).cast(LongType).as(Point.TimeNs),
      lit(bucket).as(Point.Bucket))
  }
}
