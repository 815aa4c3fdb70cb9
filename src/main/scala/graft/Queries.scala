package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.batch.Rolling
import graft.dedup.Dedup
import graft.operators.AsOfJoin
import graft.similarity.Similarity
import graft.sketch.Sketches
import graft.text.TextStats

/** The engine's query inventory: one entry per operator class from
  * SURVEY.md §2 plus the training-data-pipeline extensions. Each query has
  * a Spark implementation and (where SQL-expressible) a DuckDB oracle that
  * reproduces it bit-for-bit.
  *
  * Float-parity discipline (SURVEY.md §7.4 #6): aggregates over money-like
  * 2-decimal doubles are summed as DECIMAL (exact, associative — immune to
  * partial-aggregation order) and only cast to DOUBLE at the end; ratios
  * divide exact integers/decimals in one IEEE op. This makes Spark and the
  * oracle produce identical doubles regardless of row order or parallelism.
  */
object Queries {

  /** One registered query: Spark impl + optional DuckDB oracle SQL. */
  final case class Q(name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  private def d(c: Column): Column = c.cast("double")
  private val one = lit(1).cast(DecimalType(12, 2))
  private def ntz(s: String): Column = expr(s"TIMESTAMP_NTZ '$s'")
  /** µs since epoch of a naive timestamp (oracle: `epoch_us(ts)`). */
  private def us(c: Column): Column = unix_micros(c.cast("timestamp"))

  import Tables._

  // ---------------------------------------------------------------------
  // Relational core: scans, aggregations, joins (SURVEY §2.3, §2.6 parity)
  // ---------------------------------------------------------------------

  val q01_pricing_summary = Q("q01_pricing_summary",
    (s, dir) => lineitem(s, dir)
      .filter(col("l_shipdate") <= ntz("2000-12-01 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        d(sum(dec2(col("l_quantity")))).as("sum_qty"),
        d(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        d(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))).as("sum_disc_price"),
        d(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))
          * (one + dec2(col("l_tax"))))).as("sum_charge"),
        (d(sum(dec2(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
        (d(sum(dec2(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  val q02_top_customers = Q("q02_top_customers",
    (s, dir) => {
      val byCust = orders(s, dir).groupBy("o_custkey")
        .agg(d(sum(dec2(col("o_totalprice")))).as("total_spend"),
          count(lit(1)).as("n_orders"))
      byCust.join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spend"), col("n_orders"))
        .orderBy(col("total_spend").desc, col("c_custkey"))
        .limit(10)
    },
    Some("""
      SELECT c_custkey, c_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend,
        COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY total_spend DESC, c_custkey
      LIMIT 10"""))

  val q03_shipping_priority = Q("q03_shipping_priority",
    (s, dir) => {
      val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, dir).filter(col("o_orderdate") < ntz("1998-07-01 00:00:00"))
      val l = lineitem(s, dir).filter(col("l_shipdate") > ntz("1998-07-01 00:00:00"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(d(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  val q04_order_priority = Q("q04_order_priority",
    (s, dir) => {
      val o = orders(s, dir)
      val l = lineitem(s, dir)
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  val q05_region_revenue = Q("q05_region_revenue",
    (s, dir) => {
      val dims = customer(s, dir)
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
      val o = orders(s, dir)
        .filter(col("o_orderdate") >= ntz("1996-01-01 00:00:00") &&
          col("o_orderdate") < ntz("1998-01-01 00:00:00"))
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(d(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("r_name"), col("n_name"))
    },
    Some("""
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY r_name, n_name
      ORDER BY revenue DESC, r_name, n_name"""))

  val q06_revenue_forecast = Q("q06_revenue_forecast",
    (s, dir) => lineitem(s, dir)
      .filter(col("l_shipdate") >= ntz("1997-01-01 00:00:00") &&
        col("l_shipdate") < ntz("1998-01-01 00:00:00") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 25)
      .agg(d(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items")),
    Some("""
      SELECT
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 25"""))

  // ---------------------------------------------------------------------
  // Telemetry read path: range scan, filter, pivot (SURVEY §2.3 Q1-Q6)
  // ---------------------------------------------------------------------

  val q07_events_range = Q("q07_events_range",
    (s, dir) => events(s, dir)
      .filter(col("ts") >= ntz("2024-01-10 00:00:00") && col("ts") < ntz("2024-01-20 00:00:00"))
      .select(col("event_id"), col("ts"), col("event_type").as("etype"), col("value"))
      .orderBy("event_id"),
    Some("""
      SELECT event_id, ts, event_type AS etype, value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      ORDER BY event_id"""))

  val q08_events_pivot = Q("q08_events_pivot",
    (s, dir) => events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(d(sum(dec2(col("value")))))
      .orderBy("user_id"),
    Some("""
      SELECT user_id,
        CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS click,
        CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS error,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase,
        CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS signup,
        CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS view
      FROM events GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------------
  // Rolling time windows (SURVEY §2.3 R11/R12) + ranking/lag windows
  // ---------------------------------------------------------------------

  // The window columns are one projection, so the three share one sort
  // and one Window (a withColumn each would plan three of both).
  val q09_rolling_window = Q("q09_rolling_window",
    (s, dir) => {
      val w = Rolling.timeWindow(col("ts").cast("timestamp"), 300, col("user_id"))
      events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          (d(sum(dec2(col("value"))).over(w)) / count(col("value")).over(w)).as("roll_avg_5m"),
          max(col("value")).over(w).as("roll_max_5m"),
          count(col("value")).over(w).as("roll_n_5m"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, ts, user_id, value,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / (COUNT(value) OVER w) AS roll_avg_5m,
        MAX(value) OVER w AS roll_max_5m,
        COUNT(value) OVER w AS roll_n_5m
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  val q10_asof_join = Q("q10_asof_join",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)
      val o = orders(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      AsOfJoin.asofJoin(events(s, dir), o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"), tiebreaker = "o_orderkey")
        .select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                       ORDER BY o_orderkey DESC) AS rn
          FROM orders) WHERE rn = 1)
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
      FROM events e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      ORDER BY e.event_id"""))

  val q11_window_rank = Q("q11_window_rank",
    (s, dir) => {
      val wRn = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wRk = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
      orders(s, dir)
        .withColumn("rn", row_number().over(wRn))
        .withColumn("rk", rank().over(wRk))
        .withColumn("drk", dense_rank().over(wRk))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rk", "drk")
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
          dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drk
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""))

  val q12_lag_delta = Q("q12_lag_delta",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .withColumn("running_n", count(lit(1)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select("event_id", "user_id", "ts", "value", "prev_value", "next_value", "delta", "running_n")
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, ts, value,
        lag(value, 1)  OVER w AS prev_value,
        lead(value, 1) OVER w AS next_value,
        value - lag(value, 1) OVER w AS delta,
        count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Union / dedup (SURVEY §2.3 R2-R4), ingest transforms (SURVEY §2.2)
  // ---------------------------------------------------------------------

  val q13_union_dedup = Q("q13_union_dedup",
    (s, dir) => {
      val e = events(s, dir)
      e.unionByName(e).dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), d(sum(dec2(col("value")))).as("total"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM (SELECT DISTINCT * FROM (SELECT * FROM events UNION ALL SELECT * FROM events))
      GROUP BY event_type ORDER BY event_type"""))

  val q14_bit_unpack = Q("q14_bit_unpack",
    (s, dir) => {
      val e = events(s, dir).filter(col("event_type") === "click")
        .withColumn("mask", round(col("value") * 100, 0).cast("long"))
      graft.transforms.Transforms.bitUnpackLong(e, col("mask"), 16)
        .select("event_id", "channel", "bit")
        .orderBy("event_id", "channel")
    },
    Some("""
      SELECT event_id, channel, (CAST(round(value * 100, 0) AS BIGINT) >> channel) & 1 AS bit
      FROM events, (SELECT unnest(generate_series(0, 15)) AS channel)
      WHERE event_type = 'click'
      ORDER BY event_id, channel"""))

  val q15_flatten_json = Q("q15_flatten_json",
    (s, dir) => events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id"),
    Some("""
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events ORDER BY event_id"""))

  val q16_calibration = Q("q16_calibration",
    (s, dir) => events(s, dir)
      .select(col("event_id"),
        round(graft.transforms.Transforms.voltsToTorr(col("value") / 100.0), 12).as("torr"))
      .orderBy("event_id"),
    Some("""
      SELECT event_id,
        round(pow(10.0, (value / 100.0) * 2.04545 + -6.86373) * 0.00750062, 12) AS torr
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Grouping sets / rollup / cube, semi/anti/outer joins (SURVEY §2.6)
  // ---------------------------------------------------------------------

  val q17_rollup = Q("q17_rollup",
    (s, dir) => orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), d(sum(dec2(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  val q18_cube = Q("q18_cube",
    (s, dir) => events(s, dir)
      .cube("event_type", "user_id")
      .agg(count(lit(1)).as("n"), d(sum(dec2(col("value")))).as("total"))
      .orderBy(col("event_type").asc_nulls_first, col("user_id").asc_nulls_first),
    Some("""
      SELECT event_type, user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events GROUP BY CUBE (event_type, user_id)
      ORDER BY event_type NULLS FIRST, user_id NULLS FIRST"""))

  val q19_grouping_sets = Q("q19_grouping_sets",
    (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_events_gs")
      s.sql("""
        SELECT event_type, user_id, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM graft_events_gs
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        ORDER BY event_type NULLS FIRST, user_id NULLS FIRST""")
    },
    Some("""
      SELECT event_type, user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events
      GROUP BY GROUPING SETS ((event_type), (user_id), ())
      ORDER BY event_type NULLS FIRST, user_id NULLS FIRST"""))

  val q20_semi_anti = Q("q20_semi_anti",
    (s, dir) => {
      val c = customer(s, dir)
      val o = orders(s, dir)
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .withColumn("label", lit("has_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .withColumn("label", lit("no_orders"))
      semi.unionByName(anti).select("label", "c_nationkey", "n")
        .orderBy("label", "c_nationkey")
    },
    Some("""
      SELECT 'has_orders' AS label, c_nationkey, COUNT(*) AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey
      UNION ALL
      SELECT 'no_orders' AS label, c_nationkey, COUNT(*) AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey
      ORDER BY label, c_nationkey"""))

  val q21_outer_join = Q("q21_outer_join",
    (s, dir) => nation(s, dir)
      .join(supplier(s, dir), col("n_nationkey") === col("s_nationkey"), "left_outer")
      .groupBy("n_name")
      .agg(count(col("s_suppkey")).as("n_suppliers"),
        coalesce(d(sum(dec2(col("s_acctbal")))), lit(0.0)).as("total_acctbal"))
      .orderBy("n_name"),
    Some("""
      SELECT n_name, COUNT(s_suppkey) AS n_suppliers,
        COALESCE(CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_acctbal
      FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  // ---------------------------------------------------------------------
  // Text analysis (north star): stats, language ID, fingerprints
  // ---------------------------------------------------------------------

  private val Stopwords = Seq("the", "a", "of", "and", "is")

  val q22_text_stats = Q("q22_text_stats",
    (s, dir) => {
      // tokenize ONCE in its own projection; every stat reads the array
      val t = col("w")
      documents(s, dir)
        .select(col("doc_id"), col("text"), TextStats.tokens(col("text")).as("w"))
        .select(
          col("doc_id"),
          size(t).as("n_tokens"),
          round(TextStats.lexicalDiversityW(t), 6).as("lexical_diversity"),
          round(TextStats.meanTokenLengthW(t), 6).as("mean_token_len"),
          round(TextStats.stopwordRatioW(t, Stopwords), 6).as("stopword_ratio"),
          TextStats.fingerprint(col("text")).as("fingerprint"),
          TextStats.qualityScoreW(col("text"), t, Stopwords).as("quality"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
      SELECT doc_id,
        len(words) AS n_tokens,
        round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6) AS lexical_diversity,
        round(CAST(list_aggregate(list_transform(words, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE) / len(words), 6) AS mean_token_len,
        round(CAST(len(list_filter(words, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(words), 6) AS stopword_ratio,
        md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
        round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
            + least(CAST(len(list_filter(words, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(words) * 5.0, 1.0) * 0.3
            + CAST(len(list_distinct(words)) AS DOUBLE) / len(words) * 0.4, 6) AS quality
      FROM w ORDER BY doc_id"""))

  val q23_langid = Q("q23_langid",
    (s, dir) => {
      val t = col("text")
      val scored = documents(s, dir).select(
        (col("doc_id") +: TextStats.LangMarkers.map { case (l, ws) =>
          TextStats.langScore(t, ws).as(s"s_$l")
        }) :+ TextStats.languageId(t).as("lang_pred"): _*)
      scored.orderBy("doc_id")
    },
    Some("""
      WITH s AS (
        SELECT doc_id,
          len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','is'))) AS s_en,
          len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','es'))) AS s_es,
          len(list_filter(string_split(text,' '), x -> x IN ('le','la','de','et','est'))) AS s_fr,
          len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS s_de,
          len(list_filter(string_split(text,' '), x -> x IN ('de5','shi4','le5','zai4','he2'))) AS s_zh
        FROM documents)
      SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh,
        CASE WHEN greatest(s_en,s_es,s_fr,s_de,s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
             WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
             WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
             WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'de'
             ELSE 'zh' END AS lang_pred
      FROM s ORDER BY doc_id"""))

  val q24_token_histogram = Q("q24_token_histogram",
    (s, dir) => documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20),
    Some("""
      SELECT word, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word ORDER BY n DESC, word LIMIT 20"""))

  // ---------------------------------------------------------------------
  // Deduplication (north star): exact, jaccard, minhash, simhash
  // ---------------------------------------------------------------------

  val q25_exact_dedup = Q("q25_exact_dedup",
    (s, dir) => Dedup.exactGroups(documents(s, dir), "doc_id", "text")
      .orderBy("fingerprint"),
    Some("""
      SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
        COUNT(*) AS n_dups, MIN(doc_id) AS survivor_id
      FROM documents GROUP BY 1 ORDER BY fingerprint"""))

  // maxShingleFreq=100: drop shingles appearing in >100 docs before the
  // inverted-index self-join — the posting-list join is quadratic per
  // shingle, and stop-shingles are what make it blow up at scale. The
  // oracle applies the identical guard.
  val q26_jaccard_pairs = Q("q26_jaccard_pairs",
    (s, dir) => Dedup.jaccardPairs(documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.0, maxShingleFreq = 100)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20),
    Some("""
      WITH sh AS (
        SELECT doc_id AS id,
          list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                         FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]) AS s
        FROM documents),
      post AS (SELECT id, len(s) AS n, unnest(s) AS shingle FROM sh),
      keep AS (SELECT shingle FROM post GROUP BY shingle HAVING COUNT(*) <= 100),
      postk AS (SELECT post.* FROM post JOIN keep USING (shingle)),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS inter
        FROM postk a JOIN postk b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM pairs ORDER BY jaccard DESC, id_a, id_b LIMIT 20"""))

  val q27_minhash_sig = Q("q27_minhash_sig",
    (s, dir) => Dedup.withMinhashSignature(documents(s, dir), "doc_id", "text", 3, 4)
      .select((col("id").as("doc_id") +: (0 until 4).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i"))): _*)
      .orderBy("doc_id"),
    Some("""
      WITH sh AS (
        SELECT doc_id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents)
      SELECT doc_id,
        list_min(list_transform(hs, h -> (1 * h + 1) % 4294967311)) AS mh0,
        list_min(list_transform(hs, h -> (3 * h + 7920) % 4294967311)) AS mh1,
        list_min(list_transform(hs, h -> (5 * h + 15839) % 4294967311)) AS mh2,
        list_min(list_transform(hs, h -> (7 * h + 23758) % 4294967311)) AS mh3
      FROM sh ORDER BY doc_id"""))

  val q28_simhash = Q("q28_simhash",
    (s, dir) => Dedup.withSimhash(documents(s, dir), "doc_id", "text", 16)
      .select(col("id").as("doc_id"), col("sh").as("simhash"))
      .orderBy("doc_id"),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS hv FROM tok),
      votes AS (
        SELECT doc_id, j, SUM(((hv >> j) & 1) * 2 - 1) AS vote
        FROM h, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc_id, j)
      SELECT doc_id,
        CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Similarity search (north star): exact brute-force + ANN variants
  // ---------------------------------------------------------------------

  private def embQueries(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), Similarity.asDouble(col("embedding")).as("query_vec"))

  private def embCandidates(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id").as("cand_id"), Similarity.asDouble(col("embedding")).as("cand_vec"))

  val q29_ann_cosine = Q("q29_ann_cosine",
    (s, dir) => Similarity.bruteForceTopK(embQueries(s, dir), embCandidates(s, dir), 5)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rank"),
    Some("""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      scored AS (
        SELECT query_id, cand_id,
          list_inner_product(qv, cv) /
            (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos
        FROM q, c WHERE query_id <> cand_id),
      ranked AS (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored)
      SELECT query_id, cand_id, rank, round(cos, 6) AS cos
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** The seed-42 hyperplanes are deterministic driver-side values
    * (scala.util.Random gaussians), so the oracle embeds them as literal
    * DOUBLE[] arrays — shortest-roundtrip `Double.toString` parses back to
    * the identical IEEE value in DuckDB. Bucket membership compares only
    * the SIGN of v·plane (magnitudes are O(1), never within float noise of
    * zero), so summation-order differences between engines can't flip it. */
  private lazy val lshPlaneValuesSql: String =
    Similarity.hyperplanes(numPlanes = 4, dim = 64, seed = 42L).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
      .mkString(",\n          ")

  private val duckCos =
    "list_inner_product(qv, cv) / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))"

  val q30_ann_lsh = Q("q30_ann_lsh",
    (s, dir) => Similarity.lshTopK(embQueries(s, dir), embCandidates(s, dir), 5,
        numPlanes = 4, dim = 64)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rank"),
    Some(s"""
      WITH planes(i, p) AS (VALUES
          $lshPlaneValuesSql),
      q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      qb AS (
        SELECT query_id,
          SUM(CASE WHEN list_inner_product(qv, p) > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS bucket
        FROM q, planes GROUP BY query_id),
      cb AS (
        SELECT cand_id,
          SUM(CASE WHEN list_inner_product(cv, p) > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS bucket
        FROM c, planes GROUP BY cand_id),
      scored AS (
        SELECT q.query_id, c.cand_id, $duckCos AS cos
        FROM q JOIN qb USING (query_id)
             JOIN cb ON qb.bucket = cb.bucket
             JOIN c USING (cand_id)
        WHERE q.query_id <> c.cand_id),
      ranked AS (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored)
      SELECT query_id, cand_id, rank, round(cos, 6) AS cos
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  val q31_ann_ivf = Q("q31_ann_ivf",
    (s, dir) => {
      val (centroids, assigned) = Similarity.ivfIndex(embCandidates(s, dir), nlist = 16)
      Similarity.ivfTopK(embQueries(s, dir), centroids, assigned, k = 5, nprobe = 4)
        .select(col("query_id"), col("cand_id"), col("rank"), round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    },
    // Deterministic "training" (centroids = first nlist by cand_id) makes
    // the whole IVF pipeline SQL-expressible: replay assignment (nearest
    // centroid by cosine, ties to the lower id), probe selection (top
    // nprobe centroids per query), and the in-list scoring pass.
    Some(s"""
      WITH c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 10),
      cent AS (SELECT cand_id AS centroid_id, cv AS centv FROM c ORDER BY cand_id LIMIT 16),
      assigned AS (
        SELECT cand_id, cv, centroid_id AS centroid FROM (
          SELECT c.cand_id, c.cv, cent.centroid_id,
            row_number() OVER (PARTITION BY c.cand_id ORDER BY
              list_inner_product(c.cv, cent.centv) /
                (sqrt(list_inner_product(c.cv, c.cv)) * sqrt(list_inner_product(cent.centv, cent.centv))) DESC,
              cent.centroid_id) AS r
          FROM c, cent) WHERE r = 1),
      probes AS (
        SELECT query_id, qv, centroid_id AS centroid FROM (
          SELECT q.query_id, q.qv, cent.centroid_id,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_inner_product(q.qv, cent.centv) /
                (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(cent.centv, cent.centv))) DESC,
              cent.centroid_id) AS r
          FROM q, cent) WHERE r <= 4),
      scored AS (
        SELECT p.query_id, a.cand_id,
          list_inner_product(p.qv, a.cv) /
            (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(a.cv, a.cv))) AS cos
        FROM assigned a JOIN probes p USING (centroid)
        WHERE p.query_id <> a.cand_id),
      ranked AS (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored)
      SELECT query_id, cand_id, rank, round(cos, 6) AS cos
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  // 60-bit simhash (Google's production dedup used 64): a 32-bit
  // fingerprint over short docs collides so often that ~12% of all pairs
  // land within hamming 3 — noise, and a flood of candidates through the
  // blocking join. 60 bits gives 15-bit pigeonhole blocks (32k values),
  // so candidates ≈ true pairs. Oracle replays the signature math and
  // brute-forces the pair join (fine at sf0.01; the blocking IS the
  // Spark-side scale path).
  val q32_simhash_pairs = Q("q32_simhash_pairs",
    (s, dir) => Dedup.simhashPairs(documents(s, dir), "doc_id", "text",
        bits = 60, maxHamming = 3)
      .orderBy("id_a", "id_b"),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv FROM tok),
      votes AS (
        SELECT doc_id, j, SUM(((hv >> j) & 1) * 2 - 1) AS vote
        FROM h, (SELECT unnest(generate_series(0, 59)) AS j)
        GROUP BY doc_id, j),
      sigs AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sh
        FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY id_a, id_b"""))

  // Width-scalable simhash (the 256×-measured cure for the 15-bit-block
  // candidate ceiling): 96-bit two-word fingerprint => 24-bit pigeonhole
  // blocks, candidates ∝ N²/2²⁴. Word 0 is bit-identical to the 60-bit
  // family (md5 hex 1-15); word 1 draws its 36 live bits from md5 hex
  // 16-30 — both replayable in DuckDB from the same md5. The oracle
  // brute-forces the pair join like q32; Spark-side the blocking join IS
  // the scale path under test.
  val q82_simhash_wide = Q("q82_simhash_wide",
    (s, dir) => Dedup.simhashPairs(documents(s, dir), "doc_id", "text",
        bits = 96, maxHamming = 3)
      .orderBy("id_a", "id_b"),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      h AS (SELECT doc_id,
        CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv0,
        CAST(('0x' || substr(md5(w), 16, 15)) AS BIGINT) AS hv1
        FROM tok),
      votes0 AS (
        SELECT doc_id, j, SUM(((hv0 >> j) & 1) * 2 - 1) AS vote
        FROM h, (SELECT unnest(generate_series(0, 59)) AS j)
        GROUP BY doc_id, j),
      votes1 AS (
        SELECT doc_id, j, SUM(((hv1 >> j) & 1) * 2 - 1) AS vote
        FROM h, (SELECT unnest(generate_series(0, 35)) AS j)
        GROUP BY doc_id, j),
      sigs AS (
        SELECT v0.doc_id, v0.w0, v1.w1 FROM
          (SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS w0
           FROM votes0 GROUP BY doc_id) v0
          JOIN
          (SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS w1
           FROM votes1 GROUP BY doc_id) v1
          USING (doc_id))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 3
      ORDER BY id_a, id_b"""))

  val q33_minhash_pairs = Q("q33_minhash_pairs",
    (s, dir) => Dedup.minhashLshPairs(documents(s, dir), "doc_id", "text",
        n = 3, numPerm = 16, bands = 4, threshold = 0.0)
      .orderBy("id_a", "id_b"),
    Some("""
      WITH sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, sig, b,
          array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b ON a.b = b.b AND a.band_key = b.band_key AND a.id < b.id)
      SELECT id_a, id_b,
        CAST(len(list_filter([sa[i] = sb[i] FOR i IN generate_series(1, 16)], x -> x)) AS DOUBLE) / 16 AS est_jaccard
      FROM cand ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------------
  // Statistical aggregates, percentiles, time bucketing, conditional aggs
  // ---------------------------------------------------------------------

  val q34_stats_agg = Q("q34_stats_agg",
    (s, dir) => events(s, dir)
      .groupBy("event_type")
      .agg(
        round(stddev_samp(col("value")), 6).as("sd"),
        round(var_samp(col("value")), 6).as("vr"),
        round(corr(col("value"), col("user_id").cast("double")), 6).as("cr"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 6).as("cv"))
      .orderBy("event_type"),
    Some("""
      SELECT event_type,
        round(stddev_samp(value), 6) AS sd,
        round(var_samp(value), 6) AS vr,
        round(corr(value, CAST(user_id AS DOUBLE)), 6) AS cr,
        round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cv
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val q35_percentiles = Q("q35_percentiles",
    (s, dir) => events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        round(min(col("value")), 6).as("vmin"),
        round(max(col("value")), 6).as("vmax"))
      .orderBy("event_type"),
    Some("""
      SELECT event_type,
        round(quantile_cont(value, 0.5), 6) AS p50,
        round(quantile_cont(value, 0.9), 6) AS p90,
        round(quantile_cont(value, 0.99), 6) AS p99,
        round(min(value), 6) AS vmin,
        round(max(value), 6) AS vmax
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val q36_time_bucket = Q("q36_time_bucket",
    (s, dir) => events(s, dir)
      .groupBy(window(col("ts"), "1 day").getField("start").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), d(sum(dec2(col("value")))).as("total"))
      .orderBy("day", "event_type"),
    Some("""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  val q37_conditional_agg = Q("q37_conditional_agg",
    (s, dir) => lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(when(col("l_discount") > 0.05, 1)).as("n_highdisc"),
        d(sum(when(col("l_quantity") > 25, dec2(col("l_extendedprice")))
          .otherwise(lit(null)))).as("bulk_price"),
        count_distinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
        COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_highdisc,
        CAST(SUM(CASE WHEN l_quantity > 25 THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS bulk_price,
        COUNT(DISTINCT l_suppkey) AS n_suppliers
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  val q38_string_ops = Q("q38_string_ops",
    (s, dir) => part(s, dir)
      .select(
        upper(split(col("p_name"), " ").getItem(0)).as("first_word"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_prefix"))
      .groupBy("first_word", "type_prefix")
      .agg(count(lit(1)).as("n"), max(col("name_len")).as("max_len"))
      .orderBy("first_word", "type_prefix"),
    Some("""
      SELECT upper(string_split(p_name, ' ')[1]) AS first_word,
        regexp_extract(p_type, '^([A-Z]+)', 1) AS type_prefix,
        COUNT(*) AS n, MAX(length(p_name)) AS max_len
      FROM part GROUP BY 1, 2 ORDER BY first_word, type_prefix"""))

  val q39_array_agg = Q("q39_array_agg",
    (s, dir) => orders(s, dir)
      .filter(col("o_custkey") < 50)
      .groupBy("o_custkey")
      .agg(sort_array(collect_list(col("o_orderstatus"))).as("statuses"),
        count(lit(1)).as("n"))
      .select(col("o_custkey"), concat_ws(",", col("statuses")).as("statuses"), col("n"))
      .orderBy("o_custkey"),
    Some("""
      SELECT o_custkey,
        array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
        COUNT(*) AS n
      FROM orders WHERE o_custkey < 50
      GROUP BY o_custkey ORDER BY o_custkey"""))

  val q40_dedup_survivors = Q("q40_dedup_survivors",
    (s, dir) => {
      val docs = documents(s, dir)
      val survivors = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("survivor_id").as("doc_id"))
      docs.join(survivors, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE doc_id IN (
        SELECT MIN(doc_id) FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))))
      ORDER BY doc_id"""))

  // Multimodal plumbing over real data: documents text bytes as the opaque
  // payload. The stub decoder seeds from md5(content) precisely so this
  // oracle can replay it in DuckDB (md5 over the same UTF-8 bytes); f0 is
  // a 12-bit hash slice over 4096 — exact in float AND double, so no
  // rounding is applied on either side.
  val q41_multimodal_features = Q("q41_multimodal_features",
    (s, dir) => {
      val media = documents(s, dir).select(
        col("doc_id").as("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("content"),
        map(lit("src"), lit("documents")).as("meta"))
      // codec pinned to the stub: this query's oracle replays the md5
      // stub, and a future document that happens to parse as netpbm/WAV
      // must not flip it to a real decode (q41b owns the real path)
      graft.multimodal.Multimodal.extractFeatures(media, dim = 4,
          codec = graft.multimodal.Multimodal.decodeStub)
        .select(col("media_id"), col("n_bytes"), col("width"), col("height"),
          element_at(col("features"), 1).cast("double").as("f0"))
        .orderBy("media_id")
    },
    Some("""
      WITH h AS (
        SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
          CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv
        FROM documents)
      SELECT media_id, n_bytes,
        CAST((hv & 255) + 1 AS INTEGER) AS width,
        CAST(((hv >> 8) & 255) + 1 AS INTEGER) AS height,
        CAST((hv & 4095) AS DOUBLE) / 4096.0 AS f0
      FROM h ORDER BY media_id"""))

  // The REAL decode path (no stub anywhere): each document's text bytes
  // become a binary-netpbm P5 grayscale raster — header "P5\n{w} {h}\n255\n"
  // + w·h payload bytes (text repeated/truncated), dimensions derived from
  // the text length — and Multimodal.decodePgm genuinely parses the header
  // and histograms the raster. The oracle replays the construction, the
  // header-size arithmetic, and the 4-bin intensity histogram in SQL, so a
  // hash match proves the decoder read actual pixels, not metadata.
  val q41b_multimodal_decode = Q("q41b_multimodal_decode",
    (s, dir) => {
      // BYTE-safe construction: the decoder parses raw UTF-8 bytes while
      // SQL length()/ord() count CHARACTERS, so the raster is built from
      // an ASCII projection of the text (printable range only, 'x' if
      // that leaves nothing) — chars == bytes by construction, and both
      // engines replay the projection identically on any future corpus.
      val media = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
        .withColumn("l", length(col("a")))
        .withColumn("w", (col("l") % 29 + 4).cast("int"))
        .withColumn("h", (col("l") % 13 + 3).cast("int"))
        .withColumn("npix", col("w") * col("h"))
        .withColumn("payload",
          expr("substring(repeat(a, int(ceil(double(npix)/double(l)))), 1, npix)"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          concat(
            concat(lit("P5\n"), col("w").cast("string"), lit(" "),
              col("h").cast("string"), lit("\n255\n")).cast("binary"),
            col("payload").cast("binary")).as("content"),
          map(lit("src"), lit("documents")).as("meta"))
      graft.multimodal.Multimodal.extractFeatures(media, dim = 4)
        .select(col("media_id"), col("width"), col("height"), col("n_bytes"),
          element_at(col("features"), 1).cast("long").as("h0"),
          element_at(col("features"), 2).cast("long").as("h1"),
          element_at(col("features"), 3).cast("long").as("h2"),
          element_at(col("features"), 4).cast("long").as("h3"))
        .orderBy("media_id")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id AS media_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      d AS (
        SELECT media_id, a, length(a) AS l,
          ((length(a) % 29) + 4) AS w, ((length(a) % 13) + 3) AS h
        FROM d0),
      p AS (
        SELECT media_id, w, h,
          substr(repeat(a, CAST(ceil(CAST(w*h AS DOUBLE)/l) AS INTEGER)), 1, w*h) AS payload
        FROM d),
      b AS (
        SELECT media_id, w, h,
          [ord(substr(payload, i, 1)) FOR i IN generate_series(1, CAST(w*h AS INTEGER))] AS bs
        FROM p)
      SELECT media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(strlen('P5' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10)) + w*h AS BIGINT) AS n_bytes,
        CAST(len(list_filter(bs, x -> x // 64 = 0)) AS BIGINT) AS h0,
        CAST(len(list_filter(bs, x -> x // 64 = 1)) AS BIGINT) AS h1,
        CAST(len(list_filter(bs, x -> x // 64 = 2)) AS BIGINT) AS h2,
        CAST(len(list_filter(bs, x -> x // 64 = 3)) AS BIGINT) AS h3
      FROM b ORDER BY media_id"""))

  // The javax.imageio decode path, oracle-hard because PNG is LOSSLESS:
  // the same raster q41b constructs is round-tripped through a REAL PNG
  // encode (Multimodal.encodeGrayPng) and decoded back by ImageIO
  // (Multimodal.decodeImageIO inside the default decodeMedia dispatch), so
  // the recovered intensity histogram must equal the histogram DuckDB
  // computes directly on the constructed raster — a hash match proves
  // ImageIO recovered the exact pixels through the PNG container. (A JPEG
  // variant can't be oracle-checked this way — lossy — so JPEG decode is
  // covered by MultimodalSpec instead.) n_bytes is deliberately absent
  // from the output: the PNG byte length is encoder detail, not data.
  // The encode UDF builds the test payload; the operator under test is
  // the distributed extractFeatures decode that follows it.
  val q41c_multimodal_imageio = Q("q41c_multimodal_imageio",
    (s, dir) => {
      val enc = udf((w: Int, h: Int, payload: Array[Byte]) =>
        graft.multimodal.Multimodal.encodeGrayPng(w, h, payload))
      val media = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
        .withColumn("l", length(col("a")))
        .withColumn("w", (col("l") % 29 + 4).cast("int"))
        .withColumn("h", (col("l") % 13 + 3).cast("int"))
        .withColumn("npix", col("w") * col("h"))
        .withColumn("payload",
          expr("substring(repeat(a, int(ceil(double(npix)/double(l)))), 1, npix)"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          enc(col("w"), col("h"), col("payload").cast("binary")).as("content"),
          map(lit("src"), lit("documents")).as("meta"))
      graft.multimodal.Multimodal.extractFeatures(media, dim = 4)
        .select(col("media_id"), col("width"), col("height"),
          element_at(col("features"), 1).cast("long").as("h0"),
          element_at(col("features"), 2).cast("long").as("h1"),
          element_at(col("features"), 3).cast("long").as("h2"),
          element_at(col("features"), 4).cast("long").as("h3"))
        .orderBy("media_id")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id AS media_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      d AS (
        SELECT media_id, a, length(a) AS l,
          ((length(a) % 29) + 4) AS w, ((length(a) % 13) + 3) AS h
        FROM d0),
      p AS (
        SELECT media_id, w, h,
          substr(repeat(a, CAST(ceil(CAST(w*h AS DOUBLE)/l) AS INTEGER)), 1, w*h) AS payload
        FROM d),
      b AS (
        SELECT media_id, w, h,
          [ord(substr(payload, i, 1)) FOR i IN generate_series(1, CAST(w*h AS INTEGER))] AS bs
        FROM p)
      SELECT media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(len(list_filter(bs, x -> x // 64 = 0)) AS BIGINT) AS h0,
        CAST(len(list_filter(bs, x -> x // 64 = 1)) AS BIGINT) AS h1,
        CAST(len(list_filter(bs, x -> x // 64 = 2)) AS BIGINT) AS h2,
        CAST(len(list_filter(bs, x -> x // 64 = 3)) AS BIGINT) AS h3
      FROM b ORDER BY media_id"""))

  // The REAL audio decode path, q41b's pattern for RIFF/WAVE: each
  // document's ASCII projection becomes the 8-bit unsigned mono PCM
  // sample stream of a genuine WAV file (Multimodal.encodePcmWav), and
  // Multimodal.decodeWav walks the chunk list, reads fmt/data, and
  // recovers duration (frames/rate) and the per-quarter peak |amplitude|
  // envelope FROM THE FRAMES. The oracle recomputes both directly from
  // the sample derivation — a hash match proves the decoder read actual
  // PCM frames through the container, not metadata.
  val q41d_multimodal_wav = Q("q41d_multimodal_wav",
    (s, dir) => {
      val enc = udf((payload: Array[Byte]) =>
        graft.multimodal.Multimodal.encodePcmWav(8000, payload))
      val media = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          enc(col("a").cast("binary")).as("content"),
          map(lit("src"), lit("documents")).as("meta"))
      graft.multimodal.Multimodal.extractFeatures(media, dim = 4)
        .select(col("media_id"), col("duration_s"),
          element_at(col("features"), 1).cast("long").as("p0"),
          element_at(col("features"), 2).cast("long").as("p1"),
          element_at(col("features"), 3).cast("long").as("p2"),
          element_at(col("features"), 4).cast("long").as("p3"))
        .orderBy("media_id")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id AS media_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      b AS (
        SELECT media_id, length(a) AS l,
          [abs(ord(substr(a, i, 1)) - 128) FOR i IN generate_series(1, CAST(length(a) AS INTEGER))] AS amps
        FROM d0)
      SELECT media_id,
        CAST(l AS DOUBLE) / 8000.0 AS duration_s,
        CAST(coalesce(list_max([amps[i] FOR i IN generate_series(1, CAST(l AS INTEGER)) IF ((i-1)*4)//l = 0]), 0) AS BIGINT) AS p0,
        CAST(coalesce(list_max([amps[i] FOR i IN generate_series(1, CAST(l AS INTEGER)) IF ((i-1)*4)//l = 1]), 0) AS BIGINT) AS p1,
        CAST(coalesce(list_max([amps[i] FOR i IN generate_series(1, CAST(l AS INTEGER)) IF ((i-1)*4)//l = 2]), 0) AS BIGINT) AS p2,
        CAST(coalesce(list_max([amps[i] FOR i IN generate_series(1, CAST(l AS INTEGER)) IF ((i-1)*4)//l = 3]), 0) AS BIGINT) AS p3
      FROM b ORDER BY media_id"""))

  val q42_set_ops = Q("q42_set_ops",
    (s, dir) => {
      val active = orders(s, dir).filter(col("o_orderdate") >= ntz("1997-01-01 00:00:00"))
        .select("o_custkey").distinct()
      val early = orders(s, dir).filter(col("o_orderdate") < ntz("1997-01-01 00:00:00"))
        .select("o_custkey").distinct()
      val both = active.intersect(early).withColumn("cohort", lit("both"))
      val onlyNew = active.except(early).withColumn("cohort", lit("new_only"))
      both.unionByName(onlyNew)
        .groupBy("cohort").agg(count(lit(1)).as("n"))
        .orderBy("cohort")
    },
    Some("""
      WITH active AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
      early AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
      u AS (
        SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM active INTERSECT SELECT o_custkey FROM early)
        UNION ALL
        SELECT 'new_only' AS cohort, o_custkey FROM (SELECT o_custkey FROM active EXCEPT SELECT o_custkey FROM early))
      SELECT cohort, COUNT(*) AS n FROM u GROUP BY cohort ORDER BY cohort"""))

  // Same task and oracle as q29, executed through the custom bounded-heap
  // aggregate instead of a window sort (see TopKByScore scaladoc).
  val q43_ann_topk_agg = Q("q43_ann_topk_agg",
    (s, dir) => Similarity.bruteForceTopKAgg(embQueries(s, dir), embCandidates(s, dir), 5)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rank"),
    q29_ann_cosine.oracle)

  // Full corpus-dedup pipeline: LSH candidates (est_jaccard >= 0.5) →
  // connected components → survivor per cluster. Oracle replays the exact
  // minhash math, then closes the pair graph with a recursive CTE.
  val q44_dedup_clusters = Q("q44_dedup_clusters",
    (s, dir) => Dedup.dedupByMinhash(documents(s, dir), "doc_id", "text",
        n = 3, numPerm = 16, bands = 4, threshold = 0.5)
      .select(col("id").as("doc_id"), col("cluster"),
        col("is_survivor").cast("int").as("is_survivor"))
      .orderBy("doc_id"),
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, sig, b, array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b ON a.b = b.b AND a.band_key = b.band_key AND a.id < b.id),
      pairs AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(len(list_filter([sa[i] = sb[i] FOR i IN generate_series(1, 16)], x -> x)) AS DOUBLE) / 16 >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
      SELECT a AS doc_id, MIN(b) AS cluster,
        CAST(a = MIN(b) AS INTEGER) AS is_survivor
      FROM reach GROUP BY a ORDER BY doc_id"""))

  // Same pipeline and oracle as q44 with the driver union-find fast path
  // DISABLED (driverMaxEdges = 0), so the distributed label-propagation
  // loop — the path that actually runs at 100 TB edge volumes — is the
  // one hash-checked against the recursive-CTE closure.
  val q44b_dedup_clusters_iterative = Q("q44b_dedup_clusters_iterative",
    (s, dir) => Dedup.dedupByMinhash(documents(s, dir), "doc_id", "text",
        n = 3, numPerm = 16, bands = 4, threshold = 0.5, driverMaxEdges = 0)
      .select(col("id").as("doc_id"), col("cluster"),
        col("is_survivor").cast("int").as("is_survivor"))
      .orderBy("doc_id"),
    q44_dedup_clusters.oracle)

  // Embedding centroid: per-dimension mean in the posexplode + groupBy
  // shape (map-side combinable — the scalable way to aggregate vectors;
  // decimal-summed for bit-stable parity).
  val q45_embedding_centroid = Q("q45_embedding_centroid",
    (s, dir) => embeddings(s, dir)
      .select(posexplode(Similarity.asDouble(col("embedding"))).as(Seq("dim", "v")))
      .select((col("dim") + 1).as("dim"), col("v"))
      .groupBy("dim")
      .agg((d(sum(col("v").cast(DecimalType(27, 12)))) / count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy("dim"),
    Some("""
      SELECT i AS dim,
        CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS centroid,
        COUNT(*) AS n
      FROM embeddings, generate_series(1, 64) AS t(i)
      GROUP BY i ORDER BY dim"""))

  val q46_text_subwords = Q("q46_text_subwords",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextStats.subwordCount(col("text")).as("n_subwords"),
        round(TextStats.punctRatio(lower(col("text"))), 6).as("punct_ratio"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_subwords,
        round(CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
          / length(lower(text)), 6) AS punct_ratio
      FROM documents ORDER BY doc_id"""))

  // Capstone corpus-cleaning pipeline (the C4-style filter chain): keep
  // docs that are (a) exact-dedup survivors, (b) confidently English,
  // (c) above a quality floor, (d) not dominated by one repeated token.
  // One declarative plan: the dedup aggregate is the only shuffle; all
  // filters fuse into the scan side.
  val q47_corpus_filter = Q("q47_corpus_filter",
    (s, dir) => {
      val docs = documents(s, dir)
      val survivors = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("survivor_id").as("doc_id"))
      val toks = docs
        .select(col("doc_id"), col("text"), TextStats.tokens(col("text")).as("w"))
      val rep = docs
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg((max(col("c")).cast("double") / sum(col("c"))).as("rep_ratio"))
      toks
        .join(survivors, Seq("doc_id"), "left_semi")
        .join(rep, Seq("doc_id"))
        .filter(TextStats.languageId(col("text")) === "en")
        .filter(TextStats.qualityScoreW(col("text"), col("w"), Stopwords) >= 0.5)
        .filter(col("rep_ratio") <= 0.2)
        .select(col("doc_id"), size(col("w")).as("n_tokens"),
          round(col("rep_ratio"), 6).as("rep_ratio"))
        .orderBy("doc_id")
    },
    Some("""
      WITH surv AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))),
      tok AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
      rep AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS rep_ratio
        FROM wc GROUP BY doc_id),
      scored AS (
        SELECT t.doc_id, len(t.w) AS n_tokens, r.rep_ratio,
          len(list_filter(t.w, x -> x IN ('the','a','of','and','is'))) AS s_en,
          len(list_filter(t.w, x -> x IN ('el','la','de','que','es'))) AS s_es,
          len(list_filter(t.w, x -> x IN ('le','la','de','et','est'))) AS s_fr,
          len(list_filter(t.w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
          len(list_filter(t.w, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS s_zh,
          round(least(CAST(length(t.text) AS DOUBLE) / 500.0, 1.0) * 0.3
            + least(CAST(len(list_filter(t.w, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(t.w) * 5.0, 1.0) * 0.3
            + CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w) * 0.4, 6) AS quality
        FROM tok t
        JOIN surv USING (doc_id)
        JOIN rep r USING (doc_id))
      SELECT doc_id, n_tokens, round(rep_ratio, 6) AS rep_ratio
      FROM scored
      WHERE s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de, s_zh)
        AND quality >= 0.5 AND rep_ratio <= 0.2
      ORDER BY doc_id"""))

  // Range (interval containment) join via grid bucketing: events matched
  // to each customer's 3-day post-order window with an equi-shuffle on
  // (cell, key) — no nested-loop theta join (see RangeJoin scaladoc).
  val q48_range_join = Q("q48_range_join",
    (s, dir) => {
      val e = events(s, dir)
      val incidents = e.filter(col("event_type") === "error")
        .select(col("user_id").as("i_user"), col("ts").as("i_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("i_end"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.RangeJoin.join(
          purchases, incidents, "ts", "i_start", "i_end",
          cellWidthSeconds = 3600, equiKeys = Seq("user_id" -> "i_user"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_in_window"), d(sum(dec2(col("value")))).as("total"))
        .orderBy("user_id")
    },
    Some("""
      SELECT e.user_id, COUNT(*) AS n_in_window,
        CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events e JOIN events i
        ON e.user_id = i.user_id
       AND i.event_type = 'error' AND e.event_type = 'purchase'
       AND e.ts >= i.ts AND e.ts < i.ts + INTERVAL 1 HOUR
      GROUP BY e.user_id ORDER BY e.user_id"""))

  // The reference's full wind/gust pipeline shape (SURVEY §7.2 minimum
  // slice; tools.py:248-272): 3 trailing windows × (mean, max) per user
  // series + a derived column. The window columns are one projection, so
  // all six frames share one sort and one Window.
  val q49_wind_pipeline = Q("q49_wind_pipeline",
    (s, dir) => {
      val rolled = Seq(300L, 600L, 1800L).flatMap { secs =>
        val w = Rolling.timeWindow(col("ts").cast("timestamp"), secs, col("user_id"))
        val label = s"${secs / 60}m"
        Seq((d(sum(dec2(col("value"))).over(w)) / count(col("value")).over(w)).as(s"avg_$label"),
          max(col("value")).over(w).as(s"max_$label"))
      }
      val out = events(s, dir)
        .select(Seq(col("event_id"), col("user_id"), col("ts"), col("value")) ++ rolled: _*)
      // no rounding anywhere: the decimal-sum/count divisions are IEEE-
      // identical across engines, while round() tie-breaking is NOT
      // (Spark = decimal HALF_UP, DuckDB = binary) — see q09
      out
        .withColumn("derived", col("value") - (lit(100.0) - col("avg_5m")) / 5.0)
        .orderBy("event_id")
    },
    Some("""
      WITH r AS (
        SELECT event_id, user_id, ts, value,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w5 AS DOUBLE) / COUNT(value) OVER w5 AS avg_5m,
          MAX(value) OVER w5 AS max_5m,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w10 AS DOUBLE) / COUNT(value) OVER w10 AS avg_10m,
          MAX(value) OVER w10 AS max_10m,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w30 AS DOUBLE) / COUNT(value) OVER w30 AS avg_30m,
          MAX(value) OVER w30 AS max_30m
        FROM events
        WINDOW
          w5 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW),
          w10 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW),
          w30 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ts, value,
        avg_5m, max_5m, avg_10m, max_10m, avg_30m, max_30m,
        value - (100.0 - avg_5m) / 5.0 AS derived
      FROM r ORDER BY event_id"""))

  // Batch sessionization: session_window (30 min inactivity gap) per user
  // — oracle via the classic gaps-and-islands lag + cumulative sum.
  val q50_sessionize = Q("q50_sessionize",
    (s, dir) => events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), d(sum(dec2(col("value")))).as("total"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total"))
      .orderBy("user_id", "session_start"),
    Some("""
      WITH marked AS (
        -- > (strictly): Spark's session_window MERGES touching windows —
        -- an event landing exactly at a session's end (gap == duration)
        -- extends the session; only a gap strictly EXCEEDING the
        -- duration starts a new one. Measured directly on this Spark
        -- build (round 14): [10:10, 10:40] with a 30-min gap is ONE
        -- session ending 11:10; 10:40:01 splits. The r12-suggested >=
        -- was the opposite convention and sat latent only because the
        -- testdata has no exactly-on-boundary gap (FunnelsSpec pins the
        -- engine behavior on a planted fixture now).
        SELECT user_id, ts, value,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 30 MINUTE OR
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, ts, value,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  /** Banded LSH planes for q51 as literal SQL rows `(band, bit, plane)`:
    * 32 seed-42 hyperplanes split into 8 bands × 4 bits, replayed in the
    * oracle via the same literal-array technique as q30 (shortest-roundtrip
    * doubles; bucket bits compare only the sign of v·plane). */
  private lazy val nearDupPlaneValuesSql: String =
    Similarity.hyperplanes(numPlanes = 32, dim = 64, seed = 42L).zipWithIndex
      .map { case (p, idx) => s"(${idx / 4}, ${idx % 4}, [${p.mkString(", ")}])" }
      .mkString(",\n          ")

  // threshold 0.4: the synthetic embeddings are near-orthogonal gaussians
  // (max pairwise cos ~0.6), so "near-dup" here means the top of that
  // distribution; on a real corpus the same operator runs at 0.9+ where
  // banded LSH is sharply selective.
  //
  // Banding is the ADAPTIVE library default (no explicit planes/bands):
  // at every oracle-checked corpus (500–2000 vectors, all <= the
  // 2000-vector base point) it derives exactly the 8-band × 4-plane
  // base config the plane literals below replay — SimilaritySpec pins
  // that equality, so a derivation change breaks a test rather than
  // silently desyncing the oracle. At bench scale (16×: 32 k vectors,
  // no oracle) the same call derives 8 planes × 55 bands engine-side —
  // the scale-safe config, vs. the fixed 8×4 that disk-exhausted the
  // 16× probe (SCALE.md "pair-operator scaling").
  val q51_embedding_neardup = Q("q51_embedding_neardup",
    (s, dir) => Similarity.nearDupPairs(
        embeddings(s, dir).select(col("vec_id").as("id"),
          Similarity.asDouble(col("embedding")).as("vec")),
        threshold = 0.4, dim = 64)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b"),
    Some(s"""
      WITH planes(band, i, p) AS (VALUES
          $nearDupPlaneValuesSql),
      e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bb AS (
        SELECT id, band,
          SUM(CASE WHEN list_inner_product(v, p) > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS bucket
        FROM e, planes GROUP BY id, band),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
      scored AS (
        SELECT id_a, id_b,
          list_inner_product(ea.v, eb.v) /
            (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) AS cos
        FROM cand
        JOIN e ea ON ea.id = cand.id_a
        JOIN e eb ON eb.id = cand.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cos FROM scored
      WHERE cos >= 0.4 ORDER BY id_a, id_b"""))

  // The S10 streaming chain end-to-end (spool → reassembleLines →
  // ActorReplies.parse → KeywordProcessor → sink), oracle-replayed from
  // the chain's SPECIFICATION — see ActorStreamReplay's scaladoc for the
  // synthesis rules each WHERE clause below mirrors.
  val q52_actor_stream = Q("q52_actor_stream",
    (s, dir) => graft.streaming.ActorStreamReplay.run(s, dir),
    Some("""
      WITH e AS (
        SELECT event_id AS id, user_id AS u, event_type AS et, value AS v
        FROM events),
      -- parser drops malformed lines; broadcast (commandId=0) replies dropped
      good AS (SELECT * FROM e WHERE id % 13 != 3 AND id % 10 != 0),
      -- val consume fails on arity (%19) or non-numeric slot (%17)
      val_rows AS (SELECT id, v FROM good WHERE id % 19 != 0 AND id % 17 != 0),
      rows_out AS (
        SELECT 'val_id' AS field, CAST(id AS DOUBLE) AS value, NULL AS sval,
          'eid=' || CAST(CAST(id AS DOUBLE) AS VARCHAR) || ',site=lab' AS tags
        FROM val_rows
        UNION ALL
        SELECT 'val_x', v, NULL,
          'eid=' || CAST(CAST(id AS DOUBLE) AS VARCHAR) || ',site=lab,units=V'
        FROM val_rows
        UNION ALL
        SELECT 'motion_P', v,     NULL, 'site=lab' FROM good WHERE id % 5 = 0
        UNION ALL
        SELECT 'motion_V', v + 1, NULL, 'site=lab' FROM good WHERE id % 5 = 0
        UNION ALL
        SELECT 'motion_T', v * 2, NULL, 'site=lab' FROM good WHERE id % 5 = 0
        UNION ALL
        SELECT 'status', NULL,
          CASE WHEN id % 9 = 0 THEN et || '; x,y' ELSE et END, 'site=lab'
        FROM good)
      SELECT field, value, sval, tags FROM rows_out
      ORDER BY field, value, sval, tags"""))

  /** Registry: every query, in order. */
  // ---------------------------------------------------------------------
  // Corpus-quality pipeline (training-data ops beyond the reference):
  // normalization, repetition filters, decontamination, PII, sampling,
  // keywords, quantization — graft.text.Quality / QuantizeMse.
  // ---------------------------------------------------------------------

  // Unicode NFC normalization (codegen'd NfcNormalize expression) + the
  // standard fingerprint pipeline on top; DuckDB's nfc_normalize is the
  // same canonical composition, so fingerprints match bit-for-bit.
  val q53_normalize_text = Q("q53_normalize_text",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        trim(regexp_replace(lower(
          graft.functions.VectorFunctions.nfcNormalize(col("text"))), " +", " "))
          .as("norm"))
      .select(col("doc_id"), length(col("norm")).as("norm_len"),
        md5(col("norm")).as("norm_fp"))
      .orderBy("doc_id"),
    Some("""
      WITH n AS (
        SELECT doc_id,
          trim(regexp_replace(lower(nfc_normalize(text)), ' +', ' ', 'g')) AS norm
        FROM documents)
      SELECT doc_id, length(norm) AS norm_len, md5(norm) AS norm_fp
      FROM n ORDER BY doc_id"""))

  val q54_repetition_filter = Q("q54_repetition_filter",
    (s, dir) => graft.text.Quality.repetitionStats(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"),
        round(col("top_2gram_frac"), 6).as("top_2gram_frac"),
        round(col("dup_3gram_frac"), 6).as("dup_3gram_frac"),
        col("passes"))
      .orderBy("doc_id"),
    Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
               FOR i IN generate_series(1, greatest(len(w)-1, 1))]) AS s FROM tok),
      c2 AS (SELECT doc_id, s, COUNT(*) AS c FROM g2 GROUP BY doc_id, s),
      a2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top2 FROM c2 GROUP BY doc_id),
      g3 AS (SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(w)-2, 1))]) AS s FROM tok),
      c3 AS (SELECT doc_id, s, COUNT(*) AS c FROM g3 GROUP BY doc_id, s),
      a3 AS (SELECT doc_id,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup3
             FROM c3 GROUP BY doc_id)
      SELECT doc_id, round(top2, 6) AS top_2gram_frac, round(dup3, 6) AS dup_3gram_frac,
        top2 <= 0.2 AND dup3 <= 0.6 AS passes
      FROM a2 JOIN a3 USING (doc_id) ORDER BY doc_id"""))

  // Benchmark decontamination: docs with doc_id % 19 == 0 play the eval
  // suite; every other doc reports what fraction of its distinct word
  // 3-grams leak from it. (Real pipelines use 8-13-grams; 3 keeps the
  // synthetic fixture's hit rate non-degenerate.)
  val q55_contamination = Q("q55_contamination",
    (s, dir) => {
      val docs = documents(s, dir)
      graft.text.Quality.contaminationStats(
          docs.filter(col("doc_id") % 19 =!= 0),
          docs.filter(col("doc_id") % 19 === 0),
          "doc_id", "text", n = 3, maxFrac = 0.05)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("contamination_frac"), 6).as("contamination_frac"),
          col("flagged"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(w)-2, 1))])) AS s FROM tok),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 19 = 0),
      corpus AS (SELECT * FROM sh WHERE doc_id % 19 <> 0),
      m AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM corpus
            WHERE s IN (SELECT s FROM bench) GROUP BY doc_id),
      t AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id)
      SELECT t.doc_id, t.n_shingles, COALESCE(m.n_contaminated, 0) AS n_contaminated,
        round(CAST(COALESCE(m.n_contaminated, 0) AS DOUBLE) / t.n_shingles, 6)
          AS contamination_frac,
        CAST(COALESCE(m.n_contaminated, 0) AS DOUBLE) / t.n_shingles > 0.05 AS flagged
      FROM t LEFT JOIN m ON t.doc_id = m.doc_id ORDER BY t.doc_id"""))

  // PII scan + redaction rollup. The synthetic corpus is PII-free, so
  // the per-language counts are honest zeros here — QualitySpec drives
  // the patterns and the redaction on adversarial synthetic strings.
  val q56_pii_scan = Q("q56_pii_scan",
    (s, dir) => graft.text.Quality.piiScan(documents(s, dir), "text")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_ipv4")).as("n_ipv4"),
        sum(col("n_long_digits")).as("n_long_digits"),
        sum(length(col("pii_redacted"))).as("redacted_chars"))
      .orderBy("lang"),
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
        CAST(SUM(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))) AS BIGINT) AS n_ipv4,
        CAST(SUM(len(regexp_extract_all(text, '[0-9]{9,}'))) AS BIGINT) AS n_long_digits,
        CAST(SUM(length(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
          '[0-9]{9,}', '<NUM>', 'g'))) AS BIGINT) AS redacted_chars
      FROM documents GROUP BY lang ORDER BY lang"""))

  // Deterministic stratified sampling: the md5-mod-1000 keep rule means
  // the same rows survive on any engine, any partitioning, any run —
  // df.sample() guarantees none of those.
  val q57_stratified_sample = Q("q57_stratified_sample",
    (s, dir) => graft.text.Quality.stratifiedSample(
        documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.25))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id, lang FROM documents
      WHERE CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
        < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 WHEN 'fr' THEN 250
                    WHEN 'es' THEN 250 WHEN 'zh' THEN 250 ELSE 0 END
      ORDER BY doc_id"""))

  // TF-IDF keywords, top-3 per doc. IDF is the raw ratio N/df — integer
  // inputs, one IEEE division — so scores are bit-identical across
  // engines without any epsilon.
  val q58_tfidf_keywords = Q("q58_tfidf_keywords",
    (s, dir) => graft.text.Quality.tfidfKeywords(documents(s, dir), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("rank"), col("token"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank"),
    Some("""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM words GROUP BY doc_id, token),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, token,
          CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df) AS score
        FROM tf JOIN dfreq USING (token), n),
      r AS (SELECT doc_id, token, score,
              row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
            FROM scored)
      SELECT doc_id, rank, token, round(score, 6) AS score
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""))

  // Per-vector int8 scalar-quantization reconstruction error via the
  // codegen'd QuantizeMse expression (one fused pass). The oracle
  // replays the pinned floor(x+0.5) math; round(…,12) absorbs the
  // last-ulp summation-order difference between the engines' list sums
  // (mse is ~1e-5-scale, ulp noise is ~1e-21).
  val q59_embedding_quantize = Q("q59_embedding_quantize",
    (s, dir) => embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions.quantizeMse(
          Similarity.asDouble(col("embedding")), lit(255)), 12).as("mse"))
      .orderBy("vec_id"),
    Some("""
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      s AS (SELECT vec_id, label, x,
              list_aggregate(x, 'min') AS mn, list_aggregate(x, 'max') AS mx
            FROM v),
      e AS (SELECT vec_id, label,
              CASE WHEN mx = mn THEN 0.0 ELSE
                list_sum(list_transform(
                  list_transform(x, xe -> xe - (mn +
                    least(greatest(floor((xe - mn) / ((mx - mn) / 255) + 0.5), 0), 255)
                      * ((mx - mn) / 255))),
                  d -> d * d)) / len(x)
              END AS mse
            FROM s)
      SELECT vec_id, label, round(mse, 12) AS mse FROM e ORDER BY vec_id"""))

  // Capstone training-data pipeline: exact-dedup survivors -> Gopher
  // repetition filter -> language-ID confidence gate (drop docs the
  // n-gram classifier can't place at all) -> quality floor ->
  // deterministic 50% sample, rolled up per tagged language.
  // Every stage is declarative; the dedup and repetition aggregates are
  // the only shuffles, and the sample fuses into the scan.
  val q60_pipeline_sample = Q("q60_pipeline_sample",
    (s, dir) => {
      val docs = documents(s, dir)
      val surv = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("survivor_id").as("doc_id"))
      val repPass = graft.text.Quality.repetitionStats(docs, "doc_id", "text")
        .filter(col("passes")).select("doc_id")
      val base = docs
        .join(surv, Seq("doc_id"), "left_semi")
        .join(repPass, Seq("doc_id"), "left_semi")
        .filter(TextStats.languageId(col("text")) =!= "und")
        .filter(TextStats.qualityScore(col("text"), Stopwords) >= 0.4)
      graft.text.Quality.stratifiedSample(base, "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.5))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextStats.tokens(col("text")))).as("n_tokens"))
        .orderBy("lang")
    },
    Some("""
      WITH surv AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))),
      tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
      g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
               FOR i IN generate_series(1, greatest(len(w)-1, 1))]) AS s FROM tok),
      c2 AS (SELECT doc_id, s, COUNT(*) AS c FROM g2 GROUP BY doc_id, s),
      a2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top2 FROM c2 GROUP BY doc_id),
      g3 AS (SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(w)-2, 1))]) AS s FROM tok),
      c3 AS (SELECT doc_id, s, COUNT(*) AS c FROM g3 GROUP BY doc_id, s),
      a3 AS (SELECT doc_id,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup3
             FROM c3 GROUP BY doc_id),
      rep AS (SELECT doc_id FROM a2 JOIN a3 USING (doc_id)
              WHERE top2 <= 0.2 AND dup3 <= 0.6),
      scored AS (
        SELECT t.doc_id, t.lang, len(t.w) AS n_tokens,
          len(list_filter(t.w, x -> x IN ('the','a','of','and','is'))) AS s_en,
          len(list_filter(t.w, x -> x IN ('el','la','de','que','es'))) AS s_es,
          len(list_filter(t.w, x -> x IN ('le','la','de','et','est'))) AS s_fr,
          len(list_filter(t.w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
          len(list_filter(t.w, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS s_zh,
          round(least(CAST(length(t.text) AS DOUBLE) / 500.0, 1.0) * 0.3
            + least(CAST(len(list_filter(t.w, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(t.w) * 5.0, 1.0) * 0.3
            + CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w) * 0.4, 6) AS quality
        FROM tok t
        JOIN surv USING (doc_id)
        JOIN rep USING (doc_id)),
      pred AS (SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM scored),
      keep AS (
        SELECT doc_id, lang, n_tokens FROM pred
        WHERE quality >= 0.4
          AND CASE WHEN s_en = best AND best > 0 THEN 'en'
                   WHEN s_es = best AND best > 0 THEN 'es'
                   WHEN s_fr = best AND best > 0 THEN 'fr'
                   WHEN s_de = best AND best > 0 THEN 'de'
                   WHEN s_zh = best AND best > 0 THEN 'zh'
                   ELSE 'und' END <> 'und'
          AND CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 500)
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM keep GROUP BY lang ORDER BY lang"""))

  // Training-shard packing: per-(lang, source) stratum, documents pack
  // sequentially into ~2000-token shards; output is the shard manifest
  // (one row per shard with its doc span and token total) — the thing a
  // training job's data loader enumerates.
  val q61_shard_packing = Q("q61_shard_packing",
    (s, dir) => graft.text.Quality.packShards(
        documents(s, dir), Seq("lang", "source"), "doc_id",
        size(TextStats.tokens(col("text"))).cast("long"), budgetTokens = 2000L)
      .groupBy("lang", "source", "shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "source", "shard_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      p AS (
        SELECT *, COALESCE(SUM(n_tokens) OVER (
            PARTITION BY lang, source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        FROM t)
      SELECT lang, source, CAST(floor(before / 2000) AS BIGINT) AS shard_id,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM p GROUP BY lang, source, CAST(floor(before / 2000) AS BIGINT)
      ORDER BY lang, source, shard_id"""))

  // Strict never-exceed variant of q61 (packShardsStrict): greedy
  // sequential fill, oracle-replayed as a DuckDB recursive CTE walking
  // each (lang, source) stratum in doc_id order — the exact recurrence
  // the mapPartitions pass runs.
  val q61b_shard_packing_strict = Q("q61b_shard_packing_strict",
    (s, dir) => graft.text.Quality.packShardsStrict(
        documents(s, dir), Seq("lang", "source"), "doc_id",
        size(TextStats.tokens(col("text"))).cast("long"), budgetTokens = 2000L)
      .groupBy("lang", "source", "shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "source", "shard_id"),
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id, lang, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        FROM documents),
      walk AS (
        SELECT lang, source, doc_id, n_tokens, rn,
          CAST(0 AS BIGINT) AS shard_id, n_tokens AS used
        FROM t WHERE rn = 1
        UNION ALL
        SELECT b.lang, b.source, b.doc_id, b.n_tokens, b.rn,
          CASE WHEN w.used + b.n_tokens > 2000 THEN w.shard_id + 1 ELSE w.shard_id END,
          CASE WHEN w.used + b.n_tokens > 2000 THEN b.n_tokens ELSE w.used + b.n_tokens END
        FROM walk w JOIN t b
          ON b.lang = w.lang AND b.source = w.source AND b.rn = w.rn + 1)
      SELECT lang, source, shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM walk GROUP BY lang, source, shard_id
      ORDER BY lang, source, shard_id"""))

  // Survivorship policy: within each minhash duplicate cluster keep the
  // BEST-QUALITY member (ties broken to the lowest id), not the lowest
  // id — what a real pipeline ships. The per-cluster argmax runs as a
  // partial-aggregable max_by (k=1 bounded heap), never a window sort
  // over the corpus.
  val q62_dedup_keep_best = Q("q62_dedup_keep_best",
    (s, dir) => {
      val docs = documents(s, dir)
      val clustered = Dedup.dedupByMinhash(docs, "doc_id", "text",
          n = 3, numPerm = 16, bands = 4, threshold = 0.5)
        .select(col("id").as("doc_id"), col("cluster"))
      val scored = docs.select(col("doc_id"),
        TextStats.qualityScore(col("text"), Stopwords).as("quality"))
      clustered.join(scored, Seq("doc_id"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("quality"), (-col("doc_id")).as("nid"))).as("survivor_id"),
          max(col("quality")).as("best_quality"))
        .orderBy("cluster")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, sig, b, array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b ON a.b = b.b AND a.band_key = b.band_key AND a.id < b.id),
      pairs AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(len(list_filter([sa[i] = sb[i] FOR i IN generate_series(1, 16)], x -> x)) AS DOUBLE) / 16 >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      member AS (SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a),
      q AS (
        SELECT doc_id,
          round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
            + least(CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
              / len(string_split(text, ' ')) * 5.0, 1.0) * 0.3
            + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) * 0.4, 6) AS quality
        FROM documents),
      ranked AS (
        SELECT m.cluster, m.doc_id, q.quality,
          COUNT(*) OVER (PARTITION BY m.cluster) AS n_members,
          row_number() OVER (PARTITION BY m.cluster
            ORDER BY q.quality DESC, m.doc_id) AS rn
        FROM member m JOIN q USING (doc_id))
      SELECT cluster, n_members, doc_id AS survivor_id, quality AS best_quality
      FROM ranked WHERE rn = 1 ORDER BY cluster"""))

  // Unigram LM quality score: mean -ln p(token) per doc under the
  // corpus's own unigram distribution. ln() may differ by one ulp
  // between engines; each per-token value is cast to DECIMAL(27,12),
  // scaled by the EXACT decimal term count and (exactly) summed; the
  // mean is rounded to 6 — a 1e-12 input wobble cannot flip a
  // 6-decimal rounding. The oracle mirrors the engine's pre-aggregated
  // shape ((doc, token, c) joined on token — never occurrence rows on
  // the Zipf-skewed bare token key; see Quality.unigramCrossEntropy).
  val q63_unigram_entropy = Q("q63_unigram_entropy",
    (s, dir) => graft.text.Quality.unigramCrossEntropy(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), round(col("nats_per_token"), 6).as("nats_per_token"),
        col("n_tokens"))
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      perdoc AS (
        SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token),
      tf AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ctf FROM perdoc GROUP BY token),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM perdoc),
      nll AS (
        SELECT doc_id, c,
          CAST(-ln(CAST(ctf AS DOUBLE) / n_total) AS DECIMAL(27,12))
            * CAST(c AS DECIMAL(10,0)) AS nllc
        FROM perdoc JOIN tf USING (token), tot)
      SELECT doc_id,
        round(CAST(SUM(nllc) AS DOUBLE) / SUM(c), 6) AS nats_per_token,
        CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM nll GROUP BY doc_id ORDER BY doc_id"""))

  // Streaming exact dedup end to end (see StreamingDedup.run): documents
  // spooled across two micro-batches with every duplicate family SPLIT
  // across the boundary, deduped on the normalized-text fingerprint by
  // the streaming state op, parquet-sunk. The oracle is the batch
  // equivalent — one row per distinct fingerprint with key-derived
  // columns — so a hash match proves per-key exactly-once emission
  // across batches (per-batch-only state would re-emit every family).
  val q64_streaming_dedup = Q("q64_streaming_dedup",
    (s, dir) => graft.streaming.StreamingDedup.run(s, dir),
    Some("""
      SELECT DISTINCT
        md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
        length(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_len
      FROM documents ORDER BY fingerprint"""))

  // Context-window chunking (Quality.chunkDocuments): 40-token chunks,
  // 8-token overlap (stride 32). Chunk text is md5'd in BOTH engines so
  // the hash compare checks exact string equality of every chunk without
  // dragging full text through the result.
  val q65_doc_chunking = Q("q65_doc_chunking",
    (s, dir) => graft.text.Quality.chunkDocuments(documents(s, dir), "doc_id", "text",
        maxTokens = 40, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk_text")).as("chunk_md5"),
        col("n_tokens"))
      .orderBy("doc_id", "chunk_idx"),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n
        FROM documents),
      c AS (
        SELECT doc_id,
          unnest([{'i': i,
                   'txt': array_to_string(ws[i*32+1 : i*32+40], ' '),
                   'nt': least(40, n - i*32)}
                  FOR i IN generate_series(0,
                    CAST(CASE WHEN n <= 40 THEN 0
                         ELSE ceil((n-40)/32.0) END AS BIGINT))]) AS u
        FROM w)
      SELECT doc_id, u.i AS chunk_idx, md5(u.txt) AS chunk_md5, u.nt AS n_tokens
      FROM c ORDER BY doc_id, chunk_idx"""))

  // Content-defined segmentation (Quality.cdcSegments): token starts a
  // segment iff h32(token) % 8 == 0 — boundaries depend on content only,
  // so the oracle re-derives every breakpoint in DuckDB with the same
  // md5-prefix hash and slices the same spans. Segment text md5'd in
  // both engines (exact string equality without dragging text through
  // the compare).
  val q66_cdc_segments = Q("q66_cdc_segments",
    (s, dir) => graft.text.Quality.cdcSegments(documents(s, dir), "doc_id", "text",
        avgSegTokens = 8)
      .select(col("doc_id"), col("seg_idx"), md5(col("seg_text")).as("seg_md5"),
        col("n_tokens"), col("start_pos"))
      .orderBy("doc_id", "seg_idx"),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n
        FROM documents),
      s AS (
        SELECT doc_id, ws, n,
          [i FOR i IN generate_series(1, n)
             IF i = 1 OR CAST(('0x' || substr(md5(ws[i]), 1, 8)) AS BIGINT) % 8 = 0] AS starts
        FROM w),
      s2 AS (SELECT doc_id, ws, starts, list_append(starts[2:], n + 1) AS ends FROM s),
      seg AS (
        SELECT doc_id, u.i - 1 AS seg_idx, u.m AS seg_md5, u.nt AS n_tokens,
          u.sp AS start_pos
        FROM (SELECT doc_id,
                unnest([{'i': i,
                         'm': md5(array_to_string(ws[starts[i] : ends[i]-1], ' ')),
                         'nt': ends[i] - starts[i],
                         'sp': starts[i] - 1}
                        FOR i IN generate_series(1, len(starts))]) AS u
              FROM s2))
      SELECT doc_id, seg_idx, seg_md5, n_tokens, start_pos
      FROM seg ORDER BY doc_id, seg_idx"""))

  // Verbatim cross-document overlap (Quality.verbatimOverlapPairs): doc
  // pairs colliding on >=1 CDC segment of >=4 tokens, boilerplate-capped
  // at df <= 50. The oracle replays segmentation, intra-doc distinct,
  // the df gate, and the pair count.
  val q67_verbatim_overlap = Q("q67_verbatim_overlap",
    (s, dir) => graft.text.Quality.verbatimOverlapPairs(documents(s, dir),
        "doc_id", "text", avgSegTokens = 8, minSegTokens = 4, maxDf = 50)
      .orderBy("id_a", "id_b"),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n
        FROM documents),
      s AS (
        SELECT doc_id, ws, n,
          [i FOR i IN generate_series(1, n)
             IF i = 1 OR CAST(('0x' || substr(md5(ws[i]), 1, 8)) AS BIGINT) % 8 = 0] AS starts
        FROM w),
      s2 AS (SELECT doc_id, ws, starts, list_append(starts[2:], n + 1) AS ends FROM s),
      seg AS (
        SELECT DISTINCT doc_id,
          u.m AS seg_md5
        FROM (SELECT doc_id,
                unnest([{'m': md5(array_to_string(ws[starts[i] : ends[i]-1], ' ')),
                         'nt': ends[i] - starts[i]}
                        FOR i IN generate_series(1, len(starts))]) AS u
              FROM s2)
        WHERE u.nt >= 4),
      eligible AS (
        SELECT seg_md5 FROM seg GROUP BY seg_md5
        HAVING count(*) BETWEEN 2 AND 50),
      posting AS (SELECT s.doc_id, s.seg_md5 FROM seg s JOIN eligible e USING (seg_md5))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM posting a JOIN posting b
        ON a.seg_md5 = b.seg_md5 AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY id_a, id_b"""))

  /** DuckDB replay of [[Similarity.kmeansFit]]'s Lloyd iterations,
    * macro-expanded per iteration (the oracle-side twin of the engine's
    * driver loop). Exactness is what makes this checkable at all: the
    * per-dimension mean runs over DECIMAL(27,12) in BOTH engines —
    * order-independent arithmetic — so centroids are bit-identical at
    * every iteration and cosine assignments can never diverge. */
  private def kmeansOracleCtes(k: Int, iters: Int, dim: Int = 64): String = {
    def assign(cents: String, out: String): String =
      s"""$out AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
            row_number() OVER (PARTITION BY e.id ORDER BY
              list_inner_product(e.v, c.cv) /
                (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) DESC,
              c.cid) AS rn
          FROM e, $cents c) WHERE rn = 1)"""
    def update(from: String, out: String): String =
      s"""$out AS (
        SELECT cid, list(m ORDER BY dim) AS cv FROM (
          SELECT cid, dim,
            CAST(SUM(CAST(v[dim] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
          FROM $from, generate_series(1, $dim) AS t(dim) GROUP BY cid, dim)
        GROUP BY cid)"""
    val steps = (0 until iters)
      .map(i => assign(s"c$i", s"a$i") + ",\n" + update(s"a$i", s"c${i + 1}"))
      .mkString(",\n")
    s"""
      WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
        FROM (SELECT id, v FROM e ORDER BY id LIMIT $k)),
      $steps,
      ${assign(s"c$iters", "afin")}"""
  }

  private def kmeansOracleSql(k: Int, iters: Int, dim: Int = 64): String =
    s"""${kmeansOracleCtes(k, iters, dim)},
      nn AS (SELECT cid, count(*) AS n FROM afin GROUP BY cid)
      SELECT c.cid, nn.n, t.dim, c.cv[t.dim] AS c
      FROM c$iters c JOIN nn USING (cid), generate_series(1, $dim) AS t(dim)
      ORDER BY cid, dim"""

  // Spherical k-means (Similarity.kmeansFit, k=8, 2 Lloyd iterations)
  // over the embeddings corpus: final centroids exploded per dimension
  // plus the final-assignment cluster sizes. No rounding anywhere — the
  // DECIMAL(27,12) means keep both engines bit-identical.
  val q68_kmeans = Q("q68_kmeans",
    (s, dir) => {
      val v = embeddings(s, dir).select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vec"))
      val cents = Similarity.kmeansFit(v, k = 8, iters = 2)
      val counts = Similarity
        .kmeansAssign(v, cents.select(col("cid"), col("centroid").as("cvec")))
        .groupBy("cid").agg(count(lit(1)).as("n"))
      cents.join(counts, Seq("cid"))
        .select(col("cid"), col("n"), posexplode(col("centroid")).as(Seq("dim", "c")))
        .select(col("cid"), col("n"), (col("dim") + 1).as("dim"), col("c"))
        .orderBy("cid", "dim")
    },
    Some(kmeansOracleSql(k = 8, iters = 2)))

  // SemDeDup (Similarity.semanticDedup): k-means clusters (k=8, 2 Lloyd
  // iterations — the q68 fit, bit-identical in DuckDB), then
  // within-cluster cosine pairs at 0.35 mark the higher id dropped;
  // output is the survivor set. The oracle replays clustering, pairing,
  // and the greedy survivor rule.
  val q69_semantic_dedup = Q("q69_semantic_dedup",
    (s, dir) => Similarity.semanticDedup(
        embeddings(s, dir).select(col("vec_id").as("id"),
          Similarity.asDouble(col("embedding")).as("vec")),
        k = 8, iters = 2, threshold = 0.35)
      .orderBy("id"),
    Some {
      s"""${kmeansOracleCtes(k = 8, iters = 2)},
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM afin a JOIN afin b ON a.cid = b.cid AND a.id < b.id
        WHERE list_inner_product(a.v, b.v) /
          (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.35),
      dropped AS (SELECT DISTINCT id_b AS id FROM pairs)
      SELECT f.id, f.cid FROM afin f
      WHERE f.id NOT IN (SELECT id FROM dropped)
      ORDER BY f.id"""
    })

  // Incremental dedup (Dedup.incrementalDedup): docs with doc_id % 10 == 0
  // play the NEW batch, the rest the existing corpus; survivors are batch
  // docs that are neither exact- nor minhash-near-duplicates (>= 0.5 est.
  // Jaccard, 16 perms x 4 bands — the q33 oracle's replayable config) of
  // the corpus. The oracle replays fingerprints, signatures, banding,
  // and both anti-joins.
  val q70_incremental_dedup = Q("q70_incremental_dedup",
    (s, dir) => {
      val docs = documents(s, dir)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, numPerm = 16, bands = 4, threshold = 0.5)
        .orderBy("id")
    },
    Some("""
      WITH fp AS (
        SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
               doc_id % 10 = 0 AS is_batch
        FROM documents),
      exact_hit AS (
        SELECT DISTINCT b.doc_id AS id
        FROM fp b JOIN fp c ON b.fp = c.fp AND b.is_batch AND NOT c.is_batch),
      sh AS (
        SELECT doc_id AS id, doc_id % 10 = 0 AS is_batch,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id, is_batch,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, is_batch, sig, b,
          array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      near_hit AS (
        SELECT DISTINCT a.id
        FROM banded a JOIN banded b ON a.b = b.b AND a.band_key = b.band_key
        WHERE a.is_batch AND NOT b.is_batch
          AND CAST(len(list_filter([a.sig[i] = b.sig[i] FOR i IN generate_series(1, 16)], x -> x)) AS DOUBLE) / 16 >= 0.5)
      SELECT doc_id AS id FROM fp
      WHERE is_batch
        AND doc_id NOT IN (SELECT id FROM exact_hit)
        AND doc_id NOT IN (SELECT id FROM near_hit)
      ORDER BY id"""))

  // Line-level boilerplate removal (Quality.removeBoilerplate): the
  // corpus has no newlines, so "lines" are synthesized as non-overlapping
  // 8-token windows (the q65 chunk convention) joined by \n; any line in
  // >= 3 distinct docs is boilerplate and dropped, docs reassembled in
  // order. The oracle replays the lining, the document-frequency rollup,
  // the anti-join, and the ordered reassembly in DuckDB; clean text is
  // md5'd in both engines.
  val q71_boilerplate = Q("q71_boilerplate",
    (s, dir) => {
      val ws = split(col("text"), " ")
      val nLines = ceil(size(ws).cast("double") / 8).cast("int")
      val lined = documents(s, dir).select(col("doc_id"),
        concat_ws("\n", transform(sequence(lit(0), nLines - 1),
          i => concat_ws(" ", slice(ws, i * 8 + 1, lit(8))))).as("text"))
      graft.text.Quality.removeBoilerplate(lined, "doc_id", "text",
          sep = "\n", minDocs = 3)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("lines_kept"), col("lines_removed"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n
        FROM documents),
      lined AS (
        SELECT doc_id,
          [array_to_string(ws[i*8+1 : i*8+8], ' ')
           FOR i IN generate_series(0, CAST(ceil(n/8.0) AS BIGINT) - 1)] AS ls
        FROM w),
      ln AS (
        SELECT doc_id, u.pos, u.line
        FROM (SELECT doc_id,
                unnest([{'pos': i, 'line': ls[i]}
                        FOR i IN generate_series(1, len(ls))]) AS u
              FROM lined)),
      bp AS (
        SELECT line FROM (
          SELECT line, count(DISTINCT doc_id) AS df FROM ln GROUP BY line)
        WHERE df >= 3),
      re AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
          count(*) AS lines_kept
        FROM ln ANTI JOIN bp USING (line)
        GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY doc_id)
      SELECT t.doc_id, md5(coalesce(re.clean_text, '')) AS clean_md5,
        coalesce(re.lines_kept, 0) AS lines_kept,
        t.n_lines - coalesce(re.lines_kept, 0) AS lines_removed
      FROM tot t LEFT JOIN re USING (doc_id)
      ORDER BY doc_id"""))

  // CCNet perplexity bucketing (Quality.perplexityBuckets): the q63
  // unigram-LM score split into head/middle/tail at the exact 1/3 and
  // 2/3 quantiles. Spark's exact `percentile` and DuckDB's
  // `quantile_cont` interpolate identically (the q35 parity rule), and
  // bucket edges only compare interpolated cutoffs against the raw
  // neighbor scores, so the boundary is engine-stable. Scores are
  // rounded for display only — bucketing uses the raw double.
  val q72_ppl_buckets = Q("q72_ppl_buckets",
    (s, dir) => graft.text.Quality.perplexityBuckets(
        documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), round(col("nats_per_token"), 6).as("nats_per_token"),
        col("n_tokens"), col("ppl_bucket"))
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      perdoc AS (
        SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token),
      tf AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ctf FROM perdoc GROUP BY token),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM perdoc),
      nll AS (
        SELECT doc_id, c,
          CAST(-ln(CAST(ctf AS DOUBLE) / n_total) AS DECIMAL(27,12))
            * CAST(c AS DECIMAL(10,0)) AS nllc
        FROM perdoc JOIN tf USING (token), tot),
      sc AS (
        SELECT doc_id,
          CAST(SUM(nllc) AS DOUBLE) / SUM(c) AS nats,
          CAST(SUM(c) AS BIGINT) AS n_tokens
        FROM nll GROUP BY doc_id),
      cut AS (
        SELECT quantile_cont(nats, 1.0/3) AS c1, quantile_cont(nats, 2.0/3) AS c2
        FROM sc)
      SELECT s.doc_id, round(s.nats, 6) AS nats_per_token, s.n_tokens,
        CASE WHEN s.nats <= c.c1 THEN 'head'
             WHEN s.nats <= c.c2 THEN 'middle'
             ELSE 'tail' END AS ppl_bucket
      FROM sc s, cut c ORDER BY s.doc_id"""))

  // Streaming near-dup dedup end to end (StreamingDedup.runNear): docs
  // arrive in two micro-batches (doc_id parity), per-band minhash-LSH
  // leaders carry across the boundary in flatMapGroupsWithState state,
  // later arrivals verify est-Jaccard >= 0.5 against their band leader.
  // The oracle replays signatures, banding, (batch, doc_id)-ordered
  // leadership, and the leader-verify rule in DuckDB.
  val q73_streaming_near_dedup = Q("q73_streaming_near_dedup",
    (s, dir) => graft.streaming.StreamingDedup.runNear(s, dir),
    Some("""
      WITH sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, id % 2 AS bt, b, sig,
          array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      ranked AS (
        SELECT id, bt, b, band_key, sig,
          row_number() OVER (PARTITION BY b, band_key ORDER BY bt, id) AS rnk
        FROM banded),
      leaders AS (
        SELECT b, band_key, sig AS lsig FROM ranked WHERE rnk = 1),
      verdicts AS (
        SELECT r.id,
          CASE WHEN r.rnk = 1 THEN FALSE
               ELSE CAST(len(list_filter(
                      [r.sig[i] = l.lsig[i] FOR i IN generate_series(1, 16)],
                      x -> x)) AS DOUBLE) / 16 >= 0.5
          END AS hit
        FROM ranked r JOIN leaders l USING (b, band_key))
      SELECT id AS doc_id,
        CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_bands,
        SUM(CASE WHEN hit THEN 1 ELSE 0 END) = 0 AS survives
      FROM verdicts GROUP BY id ORDER BY id"""))

  // The closed streaming+sweep loop (StreamingDedup.runNearSwept): q73's
  // streaming pass, then the prescribed incrementalDedup sweep of the
  // odd-epoch admissions against the settled even-epoch corpus at the
  // identical config. The oracle replays BOTH halves — leadership across
  // the micro-batch boundary, then the sweep's exact-fingerprint and
  // banded-near removals — so a hash match proves the composition, not
  // just the parts.
  val q74_streaming_swept_dedup = Q("q74_streaming_swept_dedup",
    (s, dir) => graft.streaming.StreamingDedup.runNearSwept(s, dir),
    Some("""
      WITH sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, id % 2 AS bt, b, sig,
          array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      ranked AS (
        SELECT id, bt, b, band_key, sig,
          row_number() OVER (PARTITION BY b, band_key ORDER BY bt, id) AS rnk
        FROM banded),
      leaders AS (
        SELECT b, band_key, sig AS lsig FROM ranked WHERE rnk = 1),
      verdicts AS (
        SELECT r.id,
          CASE WHEN r.rnk = 1 THEN FALSE
               ELSE CAST(len(list_filter(
                      [r.sig[i] = l.lsig[i] FOR i IN generate_series(1, 16)],
                      x -> x)) AS DOUBLE) / 16 >= 0.5
          END AS hit
        FROM ranked r JOIN leaders l USING (b, band_key)),
      stream AS (
        SELECT id AS doc_id,
          SUM(CASE WHEN hit THEN 1 ELSE 0 END) = 0 AS survives
        FROM verdicts GROUP BY id),
      surv AS (
        SELECT s.doc_id, s.doc_id % 2 AS epoch,
          md5(trim(regexp_replace(lower(d.text), ' +', ' ', 'g'))) AS fp
        FROM stream s JOIN documents d ON d.doc_id = s.doc_id
        WHERE s.survives),
      exact_rm AS (
        SELECT DISTINCT o.doc_id
        FROM surv o JOIN surv e ON e.epoch = 0 AND o.fp = e.fp
        WHERE o.epoch = 1),
      near_rm AS (
        SELECT DISTINCT ob.id AS doc_id
        FROM banded ob
        JOIN surv os ON os.doc_id = ob.id AND os.epoch = 1
        JOIN banded eb ON eb.b = ob.b AND eb.band_key = ob.band_key
        JOIN surv es ON es.doc_id = eb.id AND es.epoch = 0
        WHERE CAST(len(list_filter(
                [ob.sig[i] = eb.sig[i] FOR i IN generate_series(1, 16)],
                x -> x)) AS DOUBLE) / 16 >= 0.5),
      final AS (
        SELECT doc_id FROM surv WHERE epoch = 0
        UNION
        SELECT doc_id FROM surv WHERE epoch = 1
          AND doc_id NOT IN (SELECT doc_id FROM exact_rm)
          AND doc_id NOT IN (SELECT doc_id FROM near_rm))
      SELECT s.doc_id, s.survives AS survives_stream,
        (f.doc_id IS NOT NULL) AS survives_final
      FROM stream s LEFT JOIN final f ON f.doc_id = s.doc_id
      ORDER BY s.doc_id"""))

  // DSIR importance weights toward the English slice (Selection
  // .dsirWeights, Xie et al. 2023): add-one-smoothed unigram LMs over
  // the target (lang = 'en') and the full corpus, per-doc summed
  // log-likelihood ratio with the decimal-exact discipline, top-100
  // selection flagged through the bounded-heap threshold.
  val q75_dsir_weights = Q("q75_dsir_weights",
    (s, dir) => graft.text.Selection.dsirWeights(documents(s, dir),
        "doc_id", "text", col("lang") === "en", selectK = 100)
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents),
      perdoc AS (
        SELECT doc_id, token, COUNT(*) AS c,
          MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt
        FROM toks GROUP BY doc_id, token),
      tf AS (
        SELECT token, CAST(SUM(c) AS BIGINT) AS cr,
          CAST(SUM(CASE WHEN tgt = 1 THEN c ELSE 0 END) AS BIGINT) AS ct
        FROM perdoc GROUP BY token),
      sc AS (
        SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt,
          COUNT(*) AS v FROM tf),
      delta AS (
        SELECT token,
          CAST(ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v))
            AS DECIMAL(27,12)) AS dl
        FROM tf, sc),
      w AS (
        SELECT doc_id,
          CAST(SUM(dl * CAST(c AS DECIMAL(10,0))) AS DOUBLE) AS lw,
          CAST(SUM(c) AS BIGINT) AS n_tokens
        FROM perdoc JOIN delta USING (token) GROUP BY doc_id)
      SELECT doc_id, round(lw, 6) AS log_weight, n_tokens, rn <= 100 AS selected
      FROM (SELECT *, row_number() OVER (ORDER BY lw DESC, doc_id) AS rn FROM w)
      ORDER BY doc_id"""))

  // Subword vocabulary induction + greedy longest-match encoding
  // (Selection.subwordVocab/subwordStats): vocab = top-40 char n-grams
  // (2..4, occurrence-weighted) + all corpus chars; per-doc piece counts
  // through the scan-fused codegen subword_piece_count expression. The
  // oracle replays the greedy recursion per distinct word with a
  // recursive CTE and joins back through the token stream.
  val q76_subword_encode = Q("q76_subword_encode",
    (s, dir) => {
      val docs = documents(s, dir)
      val vocab = graft.text.Selection.subwordVocab(docs, "text",
        topNGrams = 40, minN = 2, maxN = 4)
      graft.text.Selection.subwordStats(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
      ng AS (
        SELECT g.gram, CAST(SUM(wc.c) AS BIGINT) AS f
        FROM wc, (SELECT 2 AS n UNION ALL SELECT 3 UNION ALL SELECT 4) AS ns,
        LATERAL (SELECT unnest([substr(wc.word, i, ns.n)
                                FOR i IN generate_series(1, len(wc.word) - ns.n + 1)]) AS gram) g
        GROUP BY g.gram),
      topg AS (SELECT gram AS piece FROM ng ORDER BY f DESC, gram LIMIT 40),
      chars AS (
        SELECT DISTINCT unnest([substr(word, i, 1)
                                FOR i IN generate_series(1, len(word))]) AS piece
        FROM (SELECT DISTINCT word FROM toks)),
      vocab AS (SELECT DISTINCT piece
        FROM (SELECT piece FROM topg UNION ALL SELECT piece FROM chars)),
      dw AS (SELECT DISTINCT word FROM toks),
      st(word, pos, np) AS (
        SELECT word, 1, 0 FROM dw
        UNION ALL
        SELECT word,
          pos + (SELECT max(len(v.piece)) FROM vocab v
                 WHERE substr(st.word, st.pos, len(v.piece)) = v.piece),
          np + 1
        FROM st WHERE pos <= len(word)),
      wp AS (SELECT word, np FROM st WHERE pos = len(word) + 1),
      per AS (
        SELECT t.doc_id, COUNT(*) AS n_tokens, CAST(SUM(wp.np) AS BIGINT) AS n_pieces
        FROM toks t JOIN wp USING (word) GROUP BY t.doc_id)
      SELECT doc_id, n_tokens, n_pieces,
        round(CAST(n_pieces AS DOUBLE) / n_tokens, 6) AS pieces_per_token
      FROM per ORDER BY doc_id"""))

  // Cross-document duplicated-span removal (Selection.duplicatedSpans,
  // Lee et al. 2022): word 6-grams shared by >= 2 distinct docs mark
  // their covered tokens; stats + cleaned text per document. Span keys
  // travel as md5-derived 60-bit hashes, replayed by the oracle.
  val q77_span_dedup = Q("q77_span_dedup",
    (s, dir) => graft.text.Selection.duplicatedSpans(documents(s, dir),
        "doc_id", "text", k = 6, minDocs = 2)
      .orderBy("doc_id"),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n FROM documents),
      g AS (
        SELECT doc_id, u.s AS start, u.g AS gh
        FROM (SELECT doc_id,
                unnest([{'s': i,
                         'g': CAST(('0x' || substr(md5(array_to_string(ws[i+1 : i+6], ' ')), 1, 15)) AS BIGINT)}
                        FOR i IN generate_series(0, n - 6)]) AS u
              FROM w WHERE n >= 6)),
      dupg AS (
        SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (
        SELECT DISTINCT g.doc_id, g.start + t.j AS pos
        FROM g JOIN dupg USING (gh), generate_series(0, 5) AS t(j)),
      pp AS (
        SELECT doc_id, list(pos) AS poss, COUNT(*) AS n_dup
        FROM cov GROUP BY doc_id)
      SELECT w.doc_id, w.n AS n_tokens,
        COALESCE(pp.n_dup, 0) AS n_dup_tokens,
        round(CAST(COALESCE(pp.n_dup, 0) AS DOUBLE) / w.n, 6) AS dup_ratio,
        COALESCE(array_to_string([w.ws[i] FOR i IN generate_series(1, w.n)
                         IF NOT list_contains(COALESCE(pp.poss, []), i - 1)], ' '), '') AS clean_text
      FROM w LEFT JOIN pp USING (doc_id)
      ORDER BY doc_id"""))

  /** DuckDB replay of the full product-quantization pipeline
    * ([[graft.similarity.ProductQuantizer]]): per-subspace k-means
    * (macro-expanded Lloyd iterations, DECIMAL(27,12) means — the q68
    * machinery per vector slice), nearest-centroid codes, and the ADC
    * score as the LEFT-ASSOCIATIVE per-subspace dot chain
    * `t0 + t1 + ... + t_{m-1}` — the same accumulation order as the
    * codegen `pq_adc` loop, so scores are bit-identical and the top-k
    * ranking (score desc, cand_id) can never diverge. */
  private def pqOracleSql(m: Int, ksub: Int, iters: Int, dim: Int, k: Int): String = {
    val sub = dim / m
    def assign(cents: String, out: String, src: String): String =
      s"""$out AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
            row_number() OVER (PARTITION BY e.id ORDER BY
              list_inner_product(e.v, c.cv) /
                (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) DESC,
              c.cid) AS rn
          FROM $src e, $cents c) WHERE rn = 1)"""
    def update(from: String, out: String): String =
      s"""$out AS (
        SELECT cid, list(mn ORDER BY dim) AS cv FROM (
          SELECT cid, dim,
            CAST(SUM(CAST(v[dim] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mn
          FROM $from, generate_series(1, $sub) AS t(dim) GROUP BY cid, dim)
        GROUP BY cid)"""
    val perSub = (0 until m).map { s =>
      val (a, b) = (s * sub + 1, (s + 1) * sub)
      val steps = (0 until iters)
        .map(it => assign(s"c${s}_$it", s"a${s}_$it", s"e$s") + ",\n" +
          update(s"a${s}_$it", s"c${s}_${it + 1}"))
        .mkString(",\n")
      s"""e$s AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[])[$a:$b] AS v FROM embeddings),
      c${s}_0 AS (
        SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
        FROM (SELECT id, v FROM e$s ORDER BY id LIMIT $ksub)),
      $steps,
      ${assign(s"c${s}_$iters", s"code$s", s"e$s")},
      t$s AS (
        SELECT q.id AS query_id, x.id AS cand_id,
          list_inner_product(q.v, c.cv) AS d
        FROM (SELECT * FROM e$s WHERE id < 10) q, code$s x
        JOIN c${s}_$iters c ON c.cid = x.cid)"""
    }.mkString(",\n")
    val scoreChain = (0 until m).map(s => s"t$s.d").mkString(" + ")
    val joins = (1 until m).map(s => s"JOIN t$s USING (query_id, cand_id)").mkString("\n  ")
    s"""
      WITH $perSub,
      scored AS (
        SELECT t0.query_id, t0.cand_id, $scoreChain AS score
        FROM t0
        $joins
        WHERE t0.query_id <> t0.cand_id),
      ranked AS (
        SELECT query_id, cand_id, score,
          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
        FROM scored)
      SELECT query_id, cand_id, rank, round(score, 6) AS score
      FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // Product-quantized ANN (ProductQuantizer: m=4 subspaces, ksub=8,
  // 1 Lloyd iteration per subspace codebook, ADC inner-product top-5).
  // The corpus is scored from 4-byte code words against a broadcast
  // per-query LUT through the codegen pq_adc loop — no vector payloads
  // move at scan time.
  val q78_ann_pq = Q("q78_ann_pq",
    (s, dir) => {
      import graft.similarity.ProductQuantizer
      val vecs = embeddings(s, dir).select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vec"))
      val books = ProductQuantizer.pqTrain(vecs, dim = 64, m = 4, ksub = 8, iters = 1)
      val codes = ProductQuantizer.pqEncode(vecs, books, dim = 64, m = 4)
      val queries = vecs.filter(col("id") < 10)
        .select(col("id").as("query_id"), col("vec").as("query_vec"))
      ProductQuantizer.pqTopK(queries, books, codes, dim = 64, m = 4, ksub = 8, k = 5)
        .select(col("query_id"), col("cand_id"), col("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    },
    Some(pqOracleSql(m = 4, ksub = 8, iters = 1, dim = 64, k = 5)))

  // The partition-pruned IVF serving path end to end: materialize the
  // inverted-file layout (centroid-partitioned parquet), then probe it
  // with literal partition filters. Output is pinned identical to q31's
  // in-memory path (SimilaritySpec), so it shares q31's oracle — the
  // hash match proves the pruned scan loses nothing.
  val q79_ann_ivf_pruned = Q("q79_ann_ivf_pruned",
    (s, dir) => {
      val (centroids, assigned) = Similarity.ivfIndex(embCandidates(s, dir), nlist = 16)
      val layout = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-ivf-layout-${Integer.toHexString(dir.hashCode)}").toString
      Similarity.writeIvfLayout(assigned, layout)
      Similarity.ivfTopKPruned(s, layout, centroids, embQueries(s, dir),
          k = 5, nprobe = 4)
        .select(col("query_id"), col("cand_id"), col("rank"), round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    },
    q31_ann_ivf.oracle)

  // Watermarked tumbling-window aggregation ACROSS micro-batches with
  // late data (streaming/WindowedReplay): events replay as history +
  // (newer half ∪ one-batch-late stragglers). The oracle replays the
  // watermark algebra batch-by-batch: wm1 closes (and freezes) every
  // window ending before it with batch-1-only counts; batch-2 rows
  // whose window wm1 already closed are dropped (emit-once); rows in
  // still-open windows count even when their raw ts < wm1 (the late
  // filter evaluates the GROUP's window, not the row — the raw-ts
  // reading hashes differently and fails); the final watermark flushes
  // what it closes and windows past it never emit (append mode).
  val q80_streaming_window = Q("q80_streaming_window",
    (s, dir) => graft.streaming.WindowedReplay.run(s, dir),
    Some("""
      WITH ev AS (
        SELECT event_id, ts, event_type, value FROM events),
      wm AS (
        SELECT (SELECT max(ts) FROM ev
                WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
                  AND event_id % 97 <> 0) - INTERVAL 1 HOUR AS wma,
               (SELECT max(ts) FROM ev) - INTERVAL 1 HOUR AS wmc),
      -- batches 1-2 (history + middle week, stragglers held back) merge
      -- while the effective watermark is still unset; batch 3 (the rest
      -- plus all stragglers) runs against wma = max(batch-1) - delay:
      -- rows whose WINDOW wma has passed are dropped (those windows
      -- freeze at their batch-1 counts), rows in still-open windows
      -- count even when ts < wma (the window-rule clause)
      kept AS (
        SELECT ts, event_type, value FROM ev
        WHERE event_id % 97 <> 0 AND ts < TIMESTAMP '2024-01-23 00:00:00'
        UNION ALL
        SELECT ev.ts, ev.event_type, ev.value FROM ev, wm
        WHERE (event_id % 97 = 0 OR ts >= TIMESTAMP '2024-01-23 00:00:00')
          AND date_trunc('hour', ts) + INTERVAL 1 HOUR > wma),
      g AS (
        SELECT date_trunc('hour', ts) AS ws, event_type,
          COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
        FROM kept GROUP BY 1, 2)
      SELECT ws, ws + INTERVAL 1 HOUR AS we, event_type, n, vmin, vmax
      FROM g, wm WHERE ws + INTERVAL 1 HOUR <= wmc
      ORDER BY ws, event_type"""))

  // Numeric-state flatMapGroupsWithState across a batch boundary
  // (streaming/EwmaReplay): per-series EWMA + arrival-gap over events
  // replayed in two parity batches. The oracle steps the identical
  // recurrence (alpha*x + (1-alpha)*e, 1-alpha COMPUTED so both engines
  // round it the same way) with a recursive CTE in the engine's exact
  // processing order: (batch, ms-truncated ts, value) per series —
  // a hash match proves per-key state survives the boundary.
  val q81_streaming_ewma = Q("q81_streaming_ewma",
    (s, dir) => graft.streaming.EwmaReplay.run(s, dir, alpha = 0.2),
    Some("""
      WITH RECURSIVE rows0 AS (
        SELECT CAST(user_id AS VARCHAR) AS series, ts, value,
          epoch_ms(ts) AS tms, event_id % 2 AS b
        FROM events),
      ordered AS (
        SELECT series, ts, value, tms,
          row_number() OVER (PARTITION BY series ORDER BY b, tms, value) AS rn,
          tms - lag(tms) OVER (PARTITION BY series ORDER BY b, tms, value) AS gap
        FROM rows0),
      rec(series, rn, ewma) AS (
        SELECT series, CAST(1 AS BIGINT), value FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.series, o.rn, 0.2 * o.value + (1 - 0.2) * r.ewma
        FROM rec r JOIN ordered o ON o.series = r.series AND o.rn = r.rn + 1)
      SELECT o.series, o.ts, o.value, round(r.ewma, 6) AS ewma,
        o.rn AS n, COALESCE(o.gap, 0) AS gap_ms
      FROM ordered o JOIN rec r ON r.series = o.series AND r.rn = o.rn
      ORDER BY o.series, o.rn"""))

  // The typed (JVM-compiled) keyword processor driven through the IDENTICAL
  // q52 replay chain against q52's byte-identical oracle SQL: a hash match
  // here proves processTyped == process on the full production chain
  // (grammar, dictionary typing, broadcast drop, keyword_tags, PVT
  // explode, cross-batch reassembly), not just on spec fixtures. This is
  // the cure for the q52 16× floor (interpreted HOF evaluation —
  // SCALE.md "q52 audit").
  val q83_actor_stream_typed: Q = Q("q83_actor_stream_typed",
    (s, dir) => graft.streaming.ActorStreamReplay.run(s, dir, typed = true),
    q52_actor_stream.oracle)

  // Native streaming session_window across parity-split micro-batches,
  // flush-sentinel-drained so EVERY session emits: the streaming result
  // must equal batch sessionization exactly, so the oracle is q50's SQL
  // byte-for-byte — a hash match proves partial sessions MERGED across
  // the batch boundary in the session state store.
  val q84_streaming_sessions: Q = Q("q84_streaming_sessions",
    (s, dir) => graft.streaming.SessionReplay.run(s, dir),
    q50_sessionize.oracle)

  // Watermarked stream-stream interval join (same user, |Δts| ≤ 60 min)
  // with each side's arrival split so half of every trigger's matches
  // can only be satisfied from the OTHER side's buffered state; with
  // the replay's out-spanning watermark the append sink must hold the
  // batch join exactly.
  val q85_stream_join: Q = Q("q85_stream_join",
    (s, dir) => graft.streaming.JoinReplay.run(s, dir),
    Some("""
      SELECT a.event_id AS a_id, b.event_id AS b_id,
        a.user_id AS user_id, a.ts AS ts_a, b.ts AS ts_b,
        CAST(CAST(a.value AS DECIMAL(12,2)) + CAST(b.value AS DECIMAL(12,2)) AS DOUBLE) AS vsum
      FROM events a JOIN events b ON a.user_id = b.user_id
        AND a.event_id % 2 = 1 AND b.event_id % 2 = 0
        AND b.ts >= a.ts - INTERVAL 60 MINUTE
        AND b.ts <= a.ts + INTERVAL 60 MINUTE
      ORDER BY a_id, b_id"""))

  // Spark 4 arbitrary-state API (transformWithState + ListState): per-key
  // trailing-24h event-time window, state = only the window's rows,
  // evicted as it slides. Four time-split batches mean straddling windows
  // can only be completed from cross-batch ListState; oracle is the batch
  // RANGE-window aggregate.
  val q86_sliding_state: Q = Q("q86_sliding_state",
    (s, dir) => graft.streaming.SlidingStateReplay.run(s, dir),
    Some("""
      SELECT user_id, ts, value,
        COUNT(*) OVER w AS n_win,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_win
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts"""))

  // Initial-state leg of the Spark 4 state API: per-(lang, source)
  // corpus counters bootstrapped from a batch aggregate, continued
  // exactly by the stream. Integer arithmetic — hash match needs no
  // float discipline; it proves bootstrap + cross-batch carry + clean
  // zero-start for corpus-absent keys in one query.
  val q87_bootstrap_counters: Q = Q("q87_bootstrap_counters",
    (s, dir) => graft.streaming.BootstrapCounters.run(s, dir),
    Some("""
      WITH tagged AS (
        SELECT doc_id, lang, source, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0 AS is_stream
        FROM documents),
      corpus AS (
        SELECT lang, source, COUNT(*) AS c_docs, SUM(n_chars) AS c_chars
        FROM tagged WHERE NOT is_stream GROUP BY 1, 2),
      stream AS (
        SELECT doc_id, lang, source, n_chars
        FROM tagged WHERE is_stream)
      SELECT s.doc_id, s.lang, s.source,
        COALESCE(c.c_docs, 0) + ROW_NUMBER() OVER w AS run_docs,
        CAST(COALESCE(c.c_chars, 0) + SUM(s.n_chars) OVER w AS BIGINT) AS run_chars
      FROM stream s LEFT JOIN corpus c ON s.lang = c.lang AND s.source = c.source
      WINDOW w AS (PARTITION BY s.lang, s.source ORDER BY s.doc_id)
      ORDER BY s.doc_id"""))

  // Event-time timers (TimeMode.EventTime + handleExpiredTimer): per-series
  // gap rows from ValueState last-seen, plus the timer-only case — a tail
  // row when the stream ends with no successor event. The 30-day watermark
  // delay out-spans the month so no timer fires mid-stream; the flush
  // sentinel's drain fires exactly the last armed timer per series.
  val q88_gap_timers: Q = Q("q88_gap_timers",
    (s, dir) => graft.streaming.GapTimerReplay.run(s, dir),
    Some("""
      WITH o AS (
        SELECT user_id, ts,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        FROM events),
      gaps AS (
        SELECT user_id, 'gap' AS kind, pts AS gap_start, ts AS gap_end
        FROM o WHERE pts IS NOT NULL AND ts - pts > INTERVAL 12 HOUR),
      tails AS (
        SELECT user_id, 'tail' AS kind, max(ts) AS gap_start,
          max(ts) + INTERVAL 12 HOUR AS gap_end
        FROM events GROUP BY user_id)
      SELECT * FROM gaps UNION ALL SELECT * FROM tails
      ORDER BY user_id, gap_start, kind"""))

  // MapState leg: running exact distinct-user count per event type —
  // one state-store entry per (type, user), point lookups per row.
  // Oracle: first-seen flag cumulative-summed in event-time order.
  val q89_distinct_map: Q = Q("q89_distinct_map",
    (s, dir) => graft.streaming.DistinctMapReplay.run(s, dir),
    Some("""
      WITH flagged AS (
        SELECT event_type, ts, user_id,
          CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
                 ORDER BY ts) = 1 THEN 1 ELSE 0 END AS first_seen
        FROM events)
      SELECT event_type, ts, user_id,
        CAST(SUM(first_seen) OVER (PARTITION BY event_type ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_users
      FROM flagged
      ORDER BY event_type, ts"""))

  // Temperature-flattened domain mixing (UniMax, Xue et al. 2021): keep
  // thresholds ∝ n_d^(1/τ)/n_d at τ=2, materialized per-mille and applied
  // with the md5-mod hash-keep rule. Integer-exact end to end: the weight
  // is floor(sqrt(n_d·10⁶)) — IEEE sqrt is correctly rounded, so the
  // floor is engine-independent — and everything after is DECIMAL(38,0)/
  // HUGEINT integer arithmetic, so thresholds AND membership replay
  // bit-for-bit. The output keeps keep_permille so the mixing math
  // itself is under the hash, not just the sampled ids.
  val q90_temperature_mix: Q = Q("q90_temperature_mix",
    (s, dir) => graft.text.Selection.temperatureSample(
        documents(s, dir), "lang", "doc_id", budgetPermille = 300)
      .select(col("doc_id"), col("lang"), col("keep_permille"))
      .orderBy("doc_id"),
    Some("""
      WITH d AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      w AS (
        SELECT lang, n_docs,
          CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS HUGEINT) AS w
        FROM d),
      t AS (
        SELECT lang, n_docs, w,
          SUM(w) OVER () AS s,
          CAST(SUM(n_docs) OVER () AS HUGEINT) AS n_total
        FROM w),
      r AS (
        SELECT lang,
          CAST(LEAST(1000, (n_total * 300 * w) // (s * CAST(n_docs AS HUGEINT))) AS BIGINT)
            AS keep_permille
        FROM t)
      SELECT doc_id, lang, keep_permille
      FROM documents JOIN r USING (lang)
      WHERE CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
        < keep_permille
      ORDER BY doc_id"""))

  // Regular-grid resampling with linear interpolation (Flux
  // aggregateWindow + interpolate.linear, the dashboard-series shape):
  // per-user 6-hour ticks across each series' observed range, value
  // interpolated between bracketing raw points. The bracketing window,
  // tick arithmetic (integer µs), and the fixed-order IEEE interpolation
  // replay identically in DuckDB, so the hash match covers tick
  // placement, exact-hit semantics, and the float math itself.
  val q91_resample_interpolate: Q = Q("q91_resample_interpolate",
    (s, dir) => Rolling.resampleLinear(events(s, dir), "ts", "value",
        Seq("user_id"), stepSeconds = 21600)
      .withColumn("value", round(col("value"), 6))
      .orderBy("user_id", "ts"),
    Some("""
      WITH raw AS (
        SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        FROM events GROUP BY 1, 2
        HAVING max(value) IS NOT NULL),
      b AS (
        SELECT user_id,
          ((min(t) + 21600000000 - 1) // 21600000000) * 21600000000 AS gmin,
          (max(t) // 21600000000) * 21600000000 AS gmax
        FROM raw GROUP BY 1),
      g AS (
        SELECT user_id, unnest(generate_series(gmin, gmax, 21600000000)) AS t
        FROM b WHERE gmin <= gmax),
      u AS (
        SELECT user_id, t, v, 1 AS is_raw FROM raw
        UNION ALL
        SELECT user_id, t, NULL, 0 FROM g),
      w AS (
        SELECT user_id, t, is_raw,
          last_value(CASE WHEN is_raw = 1 THEN v END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_raw DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          last_value(CASE WHEN is_raw = 1 THEN t END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_raw DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
          first_value(CASE WHEN is_raw = 1 THEN v END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_raw DESC
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          first_value(CASE WHEN is_raw = 1 THEN t END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_raw DESC
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM u)
      SELECT user_id, make_timestamp(t) AS ts,
        round(CASE WHEN pt = t THEN pv
              ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END,
          6) AS value
      FROM w WHERE is_raw = 0
      ORDER BY user_id, ts"""))

  // Image near-duplicate pairs through the REAL decode path: each doc's
  // ASCII projection becomes a fixed 22×12 P5 raster (q41b's fixture
  // discipline), Multimodal.dHash60 genuinely parses the header and
  // NN-samples actual pixels onto the 11×6 gradient grid (integer index
  // map 2x/2y at this size), and the pairs come from the SAME pigeonhole
  // Hamming blocking as text simhash (Dedup.hammingPairs). The oracle
  // recomputes every pixel read, every gradient bit, and brute-forces
  // the pair join — a hash match proves decode, NN sampling, fingerprint
  // and blocking recall end to end.
  val q92_image_dhash_pairs: Q = Q("q92_image_dhash_pairs",
    (s, dir) => {
      val media = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
        .withColumn("payload",
          expr("substring(repeat(a, int(ceil(264.0d / double(length(a))))), 1, 264)"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          concat(lit("P5\n22 12\n255\n").cast("binary"),
            col("payload").cast("binary")).as("content"))
      // bits = 60 pinned: this is the oracle configuration (the adaptive
      // default would pick the width from the corpus size)
      graft.multimodal.Multimodal.dHashPairs(media, maxHamming = 6, bits = 60)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      p AS (
        SELECT doc_id,
          substr(repeat(a, CAST(ceil(264.0 / length(a)) AS INTEGER)), 1, 264) AS payload
        FROM d0),
      b AS (
        SELECT doc_id,
          [ord(substr(payload, i, 1)) FOR i IN generate_series(1, 264)] AS bs
        FROM p),
      sigs AS (
        SELECT doc_id,
          CAST(list_sum([CASE WHEN bs[((j // 10) * 12 // 6) * 22 + (((j % 10) + 1) * 22 // 11) + 1]
                              > bs[((j // 10) * 12 // 6) * 22 + ((j % 10) * 22 // 11) + 1]
                         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                         FOR j IN generate_series(0, 59)]) AS BIGINT) AS sh
        FROM b)
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        CAST(bit_count(xor(a.sh, b2.sh)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b2 ON a.doc_id < b2.doc_id
      WHERE bit_count(xor(a.sh, b2.sh)) <= 6
      ORDER BY id_a, id_b"""))

  // Audio near-duplicate pairs through the REAL RIFF/WAVE decode. The
  // fixture is the honest audio-dedup case: every doc's ASCII projection
  // becomes 8-bit mono PCM (q41d's construction), and every 8th doc also
  // circulates as a RE-ENCODED copy at half gain (s' = 128 + (s-128)/2 —
  // the encode udfs build payloads; the operator under test is the
  // distributed decode→energy-envelope→fingerprint→blocked join).
  // audioHash60 chunk-walks the container, sums channel-0 |amplitude|
  // into 60 segments, and sets mean-crossing bits (60·e_j > Σe), which
  // are exactly gain-invariant — planted copies land at hamming ≤ 2
  // while unrelated docs stay far. Pairs ride the same pigeonhole
  // blocking as q92. The oracle recomputes amplitudes, the halved-gain
  // copies, segment energies, mean-crossing bits, and brute-forces the
  // pair join from the raw samples.
  val q93_audio_hash_pairs: Q = Q("q93_audio_hash_pairs",
    (s, dir) => {
      val enc = udf((payload: Array[Byte]) =>
        graft.multimodal.Multimodal.encodePcmWav(8000, payload))
      val encHalf = udf((payload: Array[Byte]) =>
        graft.multimodal.Multimodal.encodePcmWav(8000,
          payload.map(b => (128 + ((b & 0xff) - 128) / 2).toByte)))
      val base = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
      val originals = base.select(col("doc_id").as("media_id"),
        lit("audio").as("kind"), enc(col("a").cast("binary")).as("content"))
      val copies = base.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 100000000L).as("media_id"),
          lit("audio").as("kind"), encHalf(col("a").cast("binary")).as("content"))
      graft.multimodal.Multimodal.audioHashPairs(
          originals.unionByName(copies), maxHamming = 6)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      b0 AS (
        SELECT doc_id, length(a) AS l,
          [abs(ord(substr(a, i, 1)) - 128) FOR i IN generate_series(1, CAST(length(a) AS INTEGER))] AS amps
        FROM d0),
      b AS (
        SELECT doc_id AS media_id, l, amps FROM b0
        UNION ALL
        SELECT doc_id + 100000000, l, [x // 2 FOR x IN amps] FROM b0
        WHERE doc_id % 8 = 0),
      env AS (
        SELECT media_id,
          [coalesce(list_sum([amps[i] FOR i IN generate_series(1, CAST(l AS INTEGER))
                              IF ((i - 1) * 60) // l = k]), 0)
           FOR k IN generate_series(0, 59)] AS e
        FROM b),
      sigs AS (
        SELECT media_id,
          CAST(list_sum([CASE WHEN 60 * e[j + 1] > list_sum(e)
                         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                         FOR j IN generate_series(0, 59)]) AS BIGINT) AS sh
        FROM env)
      SELECT a.media_id AS id_a, b2.media_id AS id_b,
        CAST(bit_count(xor(a.sh, b2.sh)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b2 ON a.media_id < b2.media_id
      WHERE bit_count(xor(a.sh, b2.sh)) <= 6
      ORDER BY id_a, id_b"""))

  // LOCF fill on the same resampling machinery (Flux fill(usePrevious) —
  // step-function semantics for states/setpoints): every 12-hour tick
  // carries the most recent observation at or before it. Only the
  // backward bracket exists here, so the oracle is the same window
  // replay minus interpolation.
  val q94_resample_locf: Q = Q("q94_resample_locf",
    (s, dir) => Rolling.resamplePrevious(events(s, dir), "ts", "value",
        Seq("user_id"), stepSeconds = 43200)
      .withColumn("value", round(col("value"), 6))
      .orderBy("user_id", "ts"),
    Some("""
      WITH raw AS (
        SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        FROM events GROUP BY 1, 2
        HAVING max(value) IS NOT NULL),
      b AS (
        SELECT user_id,
          ((min(t) + 43200000000 - 1) // 43200000000) * 43200000000 AS gmin,
          (max(t) // 43200000000) * 43200000000 AS gmax
        FROM raw GROUP BY 1),
      g AS (
        SELECT user_id, unnest(generate_series(gmin, gmax, 43200000000)) AS t
        FROM b WHERE gmin <= gmax),
      u AS (
        SELECT user_id, t, v, 1 AS is_raw FROM raw
        UNION ALL
        SELECT user_id, t, NULL, 0 FROM g),
      w AS (
        SELECT user_id, t, is_raw,
          last_value(CASE WHEN is_raw = 1 THEN v END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_raw DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
        FROM u)
      SELECT user_id, make_timestamp(t) AS ts, round(pv, 6) AS value
      FROM w WHERE is_raw = 0
      ORDER BY user_id, ts"""))

  // HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
  // constant-wire-cost cardinality primitive: per-flag register tables
  // (≤ 1024 rows each after map-side partial max), merged to a corpus
  // row by pointwise register max WITHOUT re-reading the data, with
  // exact distincts joined in so the output grades its own error.
  // l_orderkey (~11k/flag) exercises the raw-estimator branch;
  // l_suppkey (100) the linear-counting branch. The oracle replays
  // the h60 register math integer-exactly (bin() bit lengths, the
  // DECIMAL(38,0) harmonic sum at fixed-point 2^61, α·m²·2^61 as one
  // losslessly-rendered double literal) — see Sketches scaladoc.
  val q95_hll_distinct: Q = {
    def sketch(li: DataFrame, metric: String, prefix: String, vc: Column): DataFrame = {
      val regs = Sketches.hllRegisters(li, concat(lit(prefix), vc), Seq("l_returnflag"), p = 10)
      val per = Sketches.hllEstimate(regs, Seq("l_returnflag"), p = 10)
      val merged = Sketches.hllEstimate(
        Sketches.hllMerge(regs, Nil).withColumn("l_returnflag", lit("*")),
        Seq("l_returnflag"), p = 10)
      val exact = li.groupBy("l_returnflag").agg(countDistinct(vc).as("exact"))
        .unionByName(li.agg(countDistinct(vc).as("exact"))
          .withColumn("l_returnflag", lit("*")))
      per.unionByName(merged).join(exact, Seq("l_returnflag"))
        .select(lit(metric).as("metric"), col("l_returnflag"),
          col("n_reg"), col("n_zero"), round(col("est"), 6).as("est"), col("exact"),
          round((col("est") - col("exact")) / col("exact") * 100, 4).as("err_pct"))
    }
    Q("q95_hll_distinct",
      (s, dir) => {
        val li = lineitem(s, dir)
        sketch(li, "orderkey", "ok:", col("l_orderkey"))
          .unionByName(sketch(li, "suppkey", "sk:", col("l_suppkey")))
          .orderBy("metric", "l_returnflag")
      },
      Some(s"""
      WITH vals AS (
        SELECT 'orderkey' AS metric, l_returnflag AS f,
          'ok:' || CAST(l_orderkey AS VARCHAR) AS v, CAST(l_orderkey AS VARCHAR) AS ev
        FROM lineitem
        UNION ALL
        SELECT 'suppkey', l_returnflag, 'sk:' || CAST(l_suppkey AS VARCHAR),
          CAST(l_suppkey AS VARCHAR)
        FROM lineitem),
      h AS (
        SELECT metric, f, CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h, ev
        FROM vals),
      regs AS (
        SELECT metric, f, h & 1023 AS reg_idx,
          MAX(CASE WHEN (h >> 10) = 0 THEN 51
                   ELSE 51 - length(bin(h >> 10)) END) AS max_rho
        FROM h GROUP BY 1, 2, 3),
      regs_all AS (
        SELECT metric, f, reg_idx, max_rho FROM regs
        UNION ALL
        SELECT metric, '*', reg_idx, MAX(max_rho) FROM regs GROUP BY 1, 2, 3),
      agg AS (
        SELECT metric, f, COUNT(*) AS n_reg, 1024 - COUNT(*) AS n_zero,
          CAST((1024 - COUNT(*)) AS DECIMAL(10,0)) * CAST(2305843009213693952 AS DECIMAL(19,0))
            + SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0))) AS z_int
        FROM regs_all GROUP BY 1, 2),
      fin AS (
        SELECT metric, f, n_reg, n_zero,
          CASE WHEN ${Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) <= 2560.0
                    AND n_zero > 0
               THEN CAST(CAST(1024 AS DECIMAL(10,0)) *
                 CAST(ln(CAST(1024 AS DOUBLE) / CAST(n_zero AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE)
               ELSE ${Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) END AS est
        FROM agg),
      ex AS (
        SELECT metric, f, COUNT(DISTINCT ev) AS exact FROM h GROUP BY 1, 2
        UNION ALL
        SELECT metric, '*', COUNT(DISTINCT ev) FROM h GROUP BY 1, 2),
      j AS (SELECT fin.metric, fin.f, n_reg, n_zero, est, exact
            FROM fin JOIN ex ON fin.metric = ex.metric AND fin.f = ex.f)
      SELECT metric, f AS l_returnflag, n_reg, n_zero, round(est, 6) AS est, exact,
        round((est - exact) / exact * 100, 4) AS err_pct
      FROM j ORDER BY metric, l_returnflag"""))
  }

  // Bloom-pruned semi join as a first-class query (the built-in sketch
  // family's oracle-backed harness; q55's contamination fallback already
  // exercises the same core). The filter builds on the SMALL key set and
  // the codegen'd `bloom_might_contain` probe prunes the big-side scan
  // BEFORE any shuffle; false positives are removed by the exact semi
  // join after, so the result is exactly the semi join — the sketch
  // changes IO, never answers — which is what lets an approximate
  // structure carry a DuckDB hash oracle. `expectedItems` is a static
  // over-estimate (a fatter filter, zero correctness cost) so the build
  // side runs ONE job instead of count-then-build.
  val q96_bloom_semi_join: Q = Q("q96_bloom_semi_join",
    (s, dir) => {
      val small = part(s, dir).filter(col("p_size") === 1)
        .select(col("p_partkey").as("l_partkey"))
      Sketches.bloomSemiJoin(lineitem(s, dir), small, "l_partkey",
          expectedItems = 4096)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_items"),
          d(sum(dec2(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_partkey")
    },
    Some("""
      SELECT l_partkey, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
      GROUP BY l_partkey
      ORDER BY l_partkey"""))

  // Trim-tolerant audio near-dup pairs (q93's time-warp gap, VERDICT r11
  // #7): every 8th doc circulates as a SILENCE-PADDED copy (37 frames of
  // PCM midpoint 0x80 prepended, 23 appended — the encoder-priming /
  // sloppy-trim case). The position-aligned q93 fingerprint shifts every
  // segment and misses these; audioHashAligned60 trims to the active
  // region (frames above 1/20 of peak, integer math) before segmenting,
  // so planted copies land at hamming 0 through the same pigeonhole
  // blocking. The oracle replays amplitude extraction, the silence pads,
  // onset/offset detection, the active-slice envelope, and the pair
  // join — all from the raw samples.
  val q97_audio_trim_pairs: Q = Q("q97_audio_trim_pairs",
    (s, dir) => {
      val enc = udf((payload: Array[Byte]) =>
        graft.multimodal.Multimodal.encodePcmWav(8000, payload))
      val encPadded = udf((payload: Array[Byte]) =>
        graft.multimodal.Multimodal.encodePcmWav(8000,
          Array.fill[Byte](37)(0x80.toByte) ++ payload ++
            Array.fill[Byte](23)(0x80.toByte)))
      val base = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
      val originals = base.select(col("doc_id").as("media_id"),
        lit("audio").as("kind"), enc(col("a").cast("binary")).as("content"))
      val copies = base.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 100000000L).as("media_id"),
          lit("audio").as("kind"), encPadded(col("a").cast("binary")).as("content"))
      graft.multimodal.Multimodal.audioAlignedPairs(
          originals.unionByName(copies), maxHamming = 6)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      b0 AS (
        SELECT doc_id,
          [abs(ord(substr(a, i, 1)) - 128) FOR i IN generate_series(1, CAST(length(a) AS INTEGER))] AS amps
        FROM d0),
      b AS (
        SELECT doc_id AS media_id, amps FROM b0
        UNION ALL
        SELECT doc_id + 100000000,
          [0 FOR i IN generate_series(1, 37)] || amps || [0 FOR i IN generate_series(1, 23)]
        FROM b0 WHERE doc_id % 8 = 0),
      pk AS (
        SELECT media_id, amps, list_max(amps) AS peak,
          CAST(len(amps) AS INTEGER) AS l
        FROM b),
      oo AS (
        SELECT media_id, amps,
          list_min([i FOR i IN generate_series(1, l) IF 20 * amps[i] > peak]) AS onset,
          list_max([i FOR i IN generate_series(1, l) IF 20 * amps[i] > peak]) AS offs
        FROM pk),
      act AS (
        SELECT media_id,
          CASE WHEN onset IS NULL THEN [] ELSE amps[onset:offs] END AS act,
          CASE WHEN onset IS NULL THEN 0 ELSE offs - onset + 1 END AS la
        FROM oo),
      env AS (
        SELECT media_id, la,
          [coalesce(list_sum([act[i] FOR i IN generate_series(1, CAST(la AS INTEGER))
                              IF ((i - 1) * 60) // la = k]), 0)
           FOR k IN generate_series(0, 59)] AS e
        FROM act),
      sigs AS (
        SELECT media_id,
          CASE WHEN la = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(list_sum([CASE WHEN 60 * e[j + 1] > list_sum(e)
                              THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                              FOR j IN generate_series(0, 59)]) AS BIGINT) END AS sh
        FROM env)
      SELECT a.media_id AS id_a, b2.media_id AS id_b,
        CAST(bit_count(xor(a.sh, b2.sh)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b2 ON a.media_id < b2.media_id
      WHERE bit_count(xor(a.sh, b2.sh)) <= 6
      ORDER BY id_a, id_b"""))

  // Wide (120-bit) image dHash pairs — the >10^6-media scale path the
  // q92 SCALE note names: horizontal + vertical gradient words from ONE
  // decode, blocked by hammingPairsWide's ~17-bit pigeonhole keys (vs
  // ~8.6-bit for the 60-bit family — 2^8.5x fewer blocking collisions at
  // the same perfect-recall guarantee). Same q92 fixture; the oracle
  // replays BOTH gradient planes from the raw pixel bytes and
  // brute-forces the pair join on the summed per-word hamming.
  val q98_image_dhash_wide: Q = Q("q98_image_dhash_wide",
    (s, dir) => {
      val media = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
        .withColumn("payload",
          expr("substring(repeat(a, int(ceil(264.0d / double(length(a))))), 1, 264)"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          concat(lit("P5\n22 12\n255\n").cast("binary"),
            col("payload").cast("binary")).as("content"))
      graft.multimodal.Multimodal.dHashWidePairs(media, maxHamming = 6)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      p AS (
        SELECT doc_id,
          substr(repeat(a, CAST(ceil(264.0 / length(a)) AS INTEGER)), 1, 264) AS payload
        FROM d0),
      b AS (
        SELECT doc_id,
          [ord(substr(payload, i, 1)) FOR i IN generate_series(1, 264)] AS bs
        FROM p),
      sigs AS (
        SELECT doc_id,
          CAST(list_sum([CASE WHEN bs[((j // 10) * 12 // 6) * 22 + (((j % 10) + 1) * 22 // 11) + 1]
                              > bs[((j // 10) * 12 // 6) * 22 + ((j % 10) * 22 // 11) + 1]
                         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                         FOR j IN generate_series(0, 59)]) AS BIGINT) AS sh0,
          CAST(list_sum([CASE WHEN bs[(((j // 10) + 1) * 12 // 7) * 22 + ((j % 10) * 22 // 10) + 1]
                              > bs[((j // 10) * 12 // 7) * 22 + ((j % 10) * 22 // 10) + 1]
                         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                         FOR j IN generate_series(0, 59)]) AS BIGINT) AS sh1
        FROM b)
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        CAST(bit_count(xor(a.sh0, b2.sh0)) + bit_count(xor(a.sh1, b2.sh1)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b2 ON a.doc_id < b2.doc_id
      WHERE bit_count(xor(a.sh0, b2.sh0)) + bit_count(xor(a.sh1, b2.sh1)) <= 6
      ORDER BY id_a, id_b"""))

  // Exact φ-heavy-hitters with count-min pruning (Sketches.cmHeavyHitters):
  // tokens holding ≥ 1/2000 of all occurrences. Pass 1 builds the 3×1024
  // counter grid in ONE fixed-cardinality aggregation (map-side partial
  // sums bound the exchange at depth×width rows per partition — the
  // corpus never shuffles by token); pass 2's scan keeps only occurrences
  // whose broadcast-literal CM estimate clears the threshold. est ≥ cnt
  // ALWAYS (one-sided error), so the prune is lossless and the exact
  // HAVING removes false positives — sketch changes IO, never answers.
  // The oracle replays the md5-h60 bucket hashes, the full counter grid,
  // AND the min-over-rows estimate integer-exactly, so the hash match
  // pins the estimator itself, not just the surviving token set.
  val q99_cm_heavy_hitters = Q("q99_cm_heavy_hitters",
    // spread BEFORE the token explode: both CM passes (counter build +
    // estimate filter) are scan-fused over the token stream, which ran
    // as two 1-task stages on the single-row-group input (guide §2.5);
    // spreading the 5000 doc rows costs ~1.5 MB of shuffle once
    (s, dir) => Sketches.cmHeavyHitters(
        Tables.spread(documents(s, dir)).select(explode(split(col("text"), " ")).as("token")),
        col("token"), phiDen = 2000L, depth = 3, width = 1024)
      .orderBy(col("cnt").desc, col("token")),
    Some("""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM tf),
      b AS (
        SELECT token, cnt, j,
          CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT) % 1024 AS bucket
        FROM tf CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
      counters AS (SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS c FROM b GROUP BY j, bucket),
      est AS (SELECT token, MIN(c) AS est FROM b JOIN counters USING (j, bucket) GROUP BY token)
      SELECT tf.token, tf.cnt, est.est
      FROM tf JOIN est USING (token), tot
      WHERE tf.cnt * 2000 >= tot.n
      ORDER BY cnt DESC, token"""))

  // Rank-exact quantiles from a mergeable equi-width histogram
  // (Sketches.histogram/histogramQuantiles): per-source n_chars
  // histograms at binWidth 32 built by one O(sources × bins) exchange,
  // PLUS a corpus row merged by summing counts — never re-reading the
  // documents (counters are linear, the same merge property as q95's
  // HLL registers). Quantile = smallest bin whose cumulative count
  // reaches ceil(p·n), decided by `cum·den ≥ n·num` in pure integer
  // arithmetic — so unlike GK/t-digest the estimates carry an exact
  // DuckDB replay: value error ≤ binWidth, rank error ZERO.
  val q100_hist_quantiles = Q("q100_hist_quantiles",
    (s, dir) => {
      val perSource = Sketches.histogram(
        documents(s, dir), col("n_chars"), Seq("source"), binWidth = 32L)
      val merged = perSource.groupBy("bin").agg(sum("cnt").as("cnt"))
        .select(lit("*").as("source"), col("bin"), col("cnt"))
      Sketches.histogramQuantiles(perSource.unionByName(merged),
          Seq("source"), Seq((1, 2), (9, 10), (99, 100)), binWidth = 32L)
        .orderBy("source", "p_num", "p_den")
    },
    Some("""
      WITH h AS (
        SELECT source, CAST(n_chars // 32 AS BIGINT) AS bin, COUNT(*) AS cnt
        FROM documents GROUP BY 1, 2),
      hall AS (
        SELECT source, bin, cnt FROM h
        UNION ALL
        SELECT '*', bin, CAST(SUM(cnt) AS BIGINT) FROM h GROUP BY bin),
      c AS (
        SELECT source, bin, cnt,
          CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_rows
        FROM hall),
      p AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) AS t(p_num, p_den)),
      q AS (
        SELECT source, p_num, p_den, MAX(n_rows) AS n_rows, MIN(bin) AS bin
        FROM c CROSS JOIN p
        WHERE cum * p_den >= n_rows * p_num
        GROUP BY 1, 2, 3)
      SELECT source, p_num, p_den, n_rows, bin, bin * 32 AS lo, (bin + 1) * 32 AS hi
      FROM q ORDER BY source, p_num, p_den"""))

  // HLL set-operation cardinalities (the q95 registers' merge algebra put
  // to work): |A ∩ B| for every priority pair, estimated by
  // inclusion-exclusion est(A) + est(B) − est(A ∪ B), where the UNION
  // sketch is built by pointwise register max over the ALREADY-BUILT
  // per-priority register tables — the orders data is scanned once for
  // the sketches and never again for any of the 10 pair estimates
  // (sketch-sized joins only: 10 pairs × 1024 registers). The exact
  // intersection joins in so the output grades its own error, and the
  // oracle replays the register algebra + both estimator branches for
  // all 5 + 10 keyed sketches integer-exactly.
  val q101_hll_set_ops = Q("q101_hll_set_ops",
    (s, dir) => {
      val o = orders(s, dir).select(col("o_orderpriority").as("p"), col("o_custkey"))
      val regs = Sketches.hllRegisters(o, col("o_custkey").cast("string"), Seq("p"), p = 10)
      val per = Sketches.hllEstimate(regs, Seq("p"), p = 10).select(col("p"), col("est"))
      val prios = regs.select("p").distinct()
      val pairs = prios.as("a").join(prios.as("b"), col("a.p") < col("b.p"))
        .select(col("a.p").as("pa"), col("b.p").as("pb"))
      val unionRegs = pairs.join(regs, col("p") === col("pa") || col("p") === col("pb"))
        .groupBy("pa", "pb", "reg_idx").agg(max("max_rho").as("max_rho"))
      val estU = Sketches.hllEstimate(unionRegs, Seq("pa", "pb"), p = 10)
        .select(col("pa"), col("pb"), col("est").as("est_union"))
      val dist = o.distinct()
      val exact = dist.as("x").join(dist.as("y"),
          col("x.o_custkey") === col("y.o_custkey") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
        .agg(count(lit(1)).as("exact_inter"))
      estU
        .join(per.select(col("p").as("pa"), col("est").as("ea")), Seq("pa"))
        .join(per.select(col("p").as("pb"), col("est").as("eb")), Seq("pb"))
        .join(exact, Seq("pa", "pb"))
        .select(col("pa"), col("pb"),
          round(col("ea"), 6).as("est_a"), round(col("eb"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("ea") + col("eb") - col("est_union"), 6).as("est_inter"),
          col("exact_inter"))
        .orderBy("pa", "pb")
    },
    Some(s"""
      WITH d AS (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders),
      h AS (SELECT p, CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15)) AS BIGINT) AS h, c FROM d),
      regs AS (
        SELECT p, h & 1023 AS reg_idx,
          MAX(CASE WHEN (h >> 10) = 0 THEN 51
                   ELSE 51 - length(bin(h >> 10)) END) AS max_rho
        FROM h GROUP BY 1, 2),
      prios AS (SELECT DISTINCT p FROM regs),
      pairs AS (SELECT a.p AS pa, b.p AS pb FROM prios a JOIN prios b ON a.p < b.p),
      allregs AS (
        SELECT p AS k1, '' AS k2, reg_idx, max_rho FROM regs
        UNION ALL
        SELECT pa, pb, reg_idx, MAX(max_rho)
        FROM pairs JOIN regs ON p = pa OR p = pb GROUP BY 1, 2, 3),
      agg AS (
        SELECT k1, k2, COUNT(*) AS n_reg,
          CAST((1024 - COUNT(*)) AS DECIMAL(10,0)) * CAST(2305843009213693952 AS DECIMAL(19,0))
            + SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0))) AS z_int
        FROM allregs GROUP BY 1, 2),
      fin AS (
        SELECT k1, k2,
          CASE WHEN ${Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) <= 2560.0
                    AND (1024 - n_reg) > 0
               THEN CAST(CAST(1024 AS DECIMAL(10,0)) *
                 CAST(ln(CAST(1024 AS DOUBLE) / CAST(1024 - n_reg AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE)
               ELSE ${Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) END AS est
        FROM agg),
      exact AS (
        SELECT x.p AS pa, y.p AS pb, COUNT(*) AS exact_inter
        FROM d x JOIN d y ON x.c = y.c AND x.p < y.p GROUP BY 1, 2)
      SELECT pa, pb, round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
        round(eu.est, 6) AS est_union,
        round(ea.est + eb.est - eu.est, 6) AS est_inter, exact_inter
      FROM exact
      JOIN fin eu ON eu.k1 = pa AND eu.k2 = pb
      JOIN fin ea ON ea.k1 = pa AND ea.k2 = ''
      JOIN fin eb ON eb.k1 = pb AND eb.k2 = ''
      ORDER BY pa, pb"""))

  // Weighted sampling without replacement (Selection.weightedSample,
  // Efraimidis-Spirakis A-ES): 100 documents sampled ∝ n_chars with the
  // deterministic h60 in place of the RNG — the quality-weighted corpus
  // subsetting step, reproducible across runs/partitionings/engines.
  // Plans as TakeOrderedAndProject (bounded per-partition heaps, no
  // global sort shuffle). The oracle replays the hash draw, the
  // DECIMAL(27,12) log, the one IEEE division and the full ordering.
  val q102_weighted_sample = Q("q102_weighted_sample",
    (s, dir) => graft.text.Selection.weightedSample(
        documents(s, dir).select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), k = 100)
      .select(col("doc_id"), col("n_chars"), round(col("es_key") * 1000, 6).as("key_x1000"))
      .orderBy("doc_id"),
    Some("""
      WITH kdf AS (
        SELECT doc_id, n_chars,
          CAST(-ln((CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                   / 1152921504606846976.0) AS DECIMAL(27,12)) AS nl
        FROM documents),
      sel AS (
        SELECT doc_id, n_chars, CAST(nl AS DOUBLE) / CAST(n_chars AS DOUBLE) AS es_key
        FROM kdf ORDER BY es_key, doc_id LIMIT 100)
      SELECT doc_id, n_chars, round(es_key * 1000, 6) AS key_x1000
      FROM sel ORDER BY doc_id"""))

  // Per-epoch novelty accounting via cumulative sketch merges (the
  // monitoring loop a continuously-ingesting corpus needs: "how many
  // NEW users/documents did this shard add?"). One register build keyed
  // by order year, then every cumulative estimate comes from pointwise
  // register max over years ≤ y — the data is scanned once; all 7
  // cumulative sketches + novelty deltas are sketch-sized algebra
  // (years × 1024 rows). est_new = est_cum − lag(est_cum) on the
  // unrounded doubles; exact first-seen counts join in so the output
  // grades its own error. The tiny single-partition windows run on the
  // SKETCH (7 rows), never the data.
  val q103_hll_novelty = Q("q103_hll_novelty",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
      val regs = Sketches.hllRegisters(o, col("o_custkey").cast("string"), Seq("yr"), p = 10)
      val yrs = regs.select("yr").distinct()
      val cumRegs = yrs.as("y").join(regs.as("r"), col("r.yr") <= col("y.yr"))
        .groupBy(col("y.yr").as("yr"), col("reg_idx")).agg(max("max_rho").as("max_rho"))
      val est = Sketches.hllEstimate(cumRegs, Seq("yr"), p = 10).select(col("yr"), col("est"))
      val firstSeen = o.groupBy("o_custkey").agg(min("yr").as("yr"))
        .groupBy("yr").agg(count(lit(1)).as("new_exact"))
      val wOrd = Window.orderBy("yr")
      est.join(firstSeen, Seq("yr"), "left")
        .na.fill(0L, Seq("new_exact"))
        .withColumn("exact_cum", sum("new_exact")
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("est_new", col("est") - coalesce(lag("est", 1).over(wOrd), lit(0.0)))
        .select(col("yr"), round(col("est"), 6).as("est_cum"), col("exact_cum"),
          round(col("est_new"), 6).as("est_new"), col("new_exact").as("exact_new"))
        .orderBy("yr")
    },
    Some(s"""
      WITH o AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_custkey AS c FROM orders),
      h AS (SELECT yr, CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15)) AS BIGINT) AS h, c FROM o),
      regs AS (
        SELECT yr, h & 1023 AS reg_idx,
          MAX(CASE WHEN (h >> 10) = 0 THEN 51
                   ELSE 51 - length(bin(h >> 10)) END) AS max_rho
        FROM h GROUP BY 1, 2),
      yrs AS (SELECT DISTINCT yr FROM regs),
      cumregs AS (
        SELECT y.yr, r.reg_idx, MAX(r.max_rho) AS max_rho
        FROM yrs y JOIN regs r ON r.yr <= y.yr GROUP BY 1, 2),
      agg AS (
        SELECT yr, COUNT(*) AS n_reg,
          CAST((1024 - COUNT(*)) AS DECIMAL(10,0)) * CAST(2305843009213693952 AS DECIMAL(19,0))
            + SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0))) AS z_int
        FROM cumregs GROUP BY 1),
      fin AS (
        SELECT yr,
          CASE WHEN ${Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) <= 2560.0
                    AND (1024 - n_reg) > 0
               THEN CAST(CAST(1024 AS DECIMAL(10,0)) *
                 CAST(ln(CAST(1024 AS DOUBLE) / CAST(1024 - n_reg AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE)
               ELSE ${Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) END AS est
        FROM agg),
      fs AS (SELECT c, MIN(yr) AS fy FROM o GROUP BY 1),
      nw AS (SELECT fy AS yr, COUNT(*) AS new_exact FROM fs GROUP BY 1),
      j AS (SELECT fin.yr, est, COALESCE(new_exact, 0) AS new_exact
            FROM fin LEFT JOIN nw ON fin.yr = nw.yr)
      SELECT yr, round(est, 6) AS est_cum,
        CAST(SUM(new_exact) OVER (ORDER BY yr) AS BIGINT) AS exact_cum,
        round(est - COALESCE(lag(est) OVER (ORDER BY yr), 0.0), 6) AS est_new,
        new_exact AS exact_new
      FROM j ORDER BY yr"""))

  // PMI collocation mining (Collocations.pmiCollocations): the top-100
  // above-chance adjacent word pairs with count >= 5 — the
  // phrase-discovery pass before tokenizer training. The bigram explode
  // is scan-fused (zip_with, no self-join); both count aggs are
  // vocabulary-bounded; minCount prunes before the unigram joins; the
  // top-k is TakeOrderedAndProject. The probability ratio is
  // explicitly-parenthesized IEEE double math (BIGINT products would
  // overflow at corpus scale) and the ln rounds through DECIMAL(27,12),
  // so the oracle replays every score bit-for-bit.
  val q104_pmi_collocations = Q("q104_pmi_collocations",
    (s, dir) => graft.text.Collocations.pmiCollocations(
      documents(s, dir), "text", minCount = 5L, k = 100),
    Some("""
      WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
      uni AS (SELECT unnest(a) AS w FROM toks),
      u AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM u),
      bg AS (SELECT unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2 FROM toks),
      bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      btot AS (SELECT CAST(SUM(c12) AS BIGINT) AS b FROM bc),
      j AS (
        SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2
        FROM bc JOIN u u1 ON bc.w1 = u1.w JOIN u u2 ON bc.w2 = u2.w
        WHERE bc.c12 >= 5)
      SELECT w1, w2, c12,
        CAST(CAST(ln(((CAST(c12 AS DOUBLE) * CAST(t AS DOUBLE)) * CAST(t AS DOUBLE)) /
            ((CAST(b AS DOUBLE) * CAST(c1 AS DOUBLE)) * CAST(c2 AS DOUBLE))) AS DECIMAL(27,12)) AS DOUBLE) AS pmi
      FROM j, tot, btot
      ORDER BY pmi DESC, w1, w2 LIMIT 100"""))

  // Streaming approximate cardinality (HllStreamReplay): per-event-type
  // HLL registers in MapState, one audience estimate per key per
  // micro-batch — the designed SUBLINEAR twin of q89's exact MapState
  // distinct (state <= 1024 register entries per key vs one entry per
  // distinct user). Register max is commutative+idempotent, so the
  // operator is arrival-order- and duplicate-robust within a batch; the
  // oracle rebuilds every batch-prefix register table from raw events
  // and replays the integer-exact estimator (same algebra as q95/q101).
  val q105_streaming_hll = Q("q105_streaming_hll",
    (s, dir) => graft.streaming.HllStreamReplay.run(s, dir)
      .select(col("event_type"), col("batch"), col("batch_rows"),
        col("n_reg"), col("n_zero"), round(col("est"), 6).as("est")),
    Some(s"""
      WITH e AS (
        SELECT event_type, user_id,
          CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 0
               WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1
               WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 2
               ELSE 3 END AS batch
        FROM events),
      batches AS (SELECT event_type, batch, COUNT(*) AS batch_rows FROM e GROUP BY 1, 2),
      h AS (SELECT event_type, batch,
              CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM e),
      regs AS (
        SELECT b.event_type, b.batch, h.h & 1023 AS reg_idx,
          MAX(CASE WHEN (h.h >> 10) = 0 THEN 51
                   ELSE 51 - length(bin(h.h >> 10)) END) AS max_rho
        FROM batches b JOIN h ON h.event_type = b.event_type AND h.batch <= b.batch
        GROUP BY 1, 2, 3),
      agg AS (
        SELECT event_type, batch, COUNT(*) AS n_reg,
          CAST((1024 - COUNT(*)) AS DECIMAL(10,0)) * CAST(2305843009213693952 AS DECIMAL(19,0))
            + SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0))) AS z_int
        FROM regs GROUP BY 1, 2),
      fin AS (
        SELECT event_type, batch, n_reg, 1024 - n_reg AS n_zero,
          CASE WHEN ${graft.sketch.Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) <= 2560.0
                    AND (1024 - n_reg) > 0
               THEN CAST(CAST(1024 AS DECIMAL(10,0)) *
                 CAST(ln(CAST(1024 AS DOUBLE) / CAST(1024 - n_reg AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE)
               ELSE ${graft.sketch.Sketches.alphaNumeratorLiteral(10)}::DOUBLE / CAST(z_int AS DOUBLE) END AS est
        FROM agg)
      SELECT f.event_type, f.batch, b.batch_rows, f.n_reg, f.n_zero, round(f.est, 6) AS est
      FROM fin f JOIN batches b ON b.event_type = f.event_type AND b.batch = f.batch
      ORDER BY f.event_type, f.batch"""))

  /** The q106 probe queries — literal here so the Spark call and the
    * oracle's VALUES list can never drift. */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join merge", 2 -> "window agg group",
    3 -> "spark stream batch", 4 -> "vector scan filter",
    5 -> "customer query sort")

  // BM25 top-10 retrieval (Retrieval.bm25TopK): Lucene-form Okapi BM25
  // for five probe queries over the corpus. One id-keyed exchange
  // serves tf, dl, its join and the (query, doc) score sum; the query
  // table and the candidate-derived df both broadcast; the per-query
  // top-k is the bounded-heap TopKByScore partial aggregate. idf's ln
  // goes through DECIMAL(27,12) and each per-term score rounds through
  // DECIMAL(27,12) before the sum, so the oracle replays every ranked
  // score bit-for-bit regardless of either engine's summation order.
  val q106_bm25_topk = Q("q106_bm25_topk",
    (s, dir) => graft.text.Retrieval.bm25TopK(
        documents(s, dir), "doc_id", "text", Bm25Queries, k1 = 1.2, b = 0.75, k = 10)
      .orderBy("query_id", "rank"),
    Some {
      val values = Bm25Queries.map { case (i, q) => s"($i, '$q')" }.mkString(", ")
      s"""
      WITH q(query_id, qtext) AS (VALUES $values),
      qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS token FROM q),
      words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      sdl AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      cand AS (SELECT qt.query_id, tf.doc_id, qt.token, tf.tf
               FROM tf JOIN qt USING (token)),
      dfreq AS (SELECT token, COUNT(*) AS df
                FROM (SELECT DISTINCT token, doc_id FROM cand) GROUP BY token),
      scored AS (
        SELECT query_id, doc_id,
          CAST(SUM(CAST(
            CAST(CAST(ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5) /
                (CAST(df AS DOUBLE) + 0.5) + 1.0) AS DECIMAL(27,12)) AS DOUBLE)
            * ((CAST(tf AS DOUBLE) * 2.2) /
               (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                 (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
          AS DECIMAL(27,12))) AS DOUBLE) AS score
        FROM cand JOIN dfreq USING (token) JOIN dl USING (doc_id), n, sdl
        GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, score,
              row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
            FROM scored)
      SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
      FROM r WHERE rank <= 10 ORDER BY query_id, rank"""
    })

  // TextRank keyword centrality (TextRank.textRank): 10 weighted
  // PageRank power iterations over the adjacency co-occurrence graph.
  // The edge table is distinct-bigram-bounded and never reshuffles —
  // each iteration broadcasts the vocabulary-sized rank vector; the
  // oracle unrolls all 10 iterations as chained CTEs, with each
  // neighbor contribution rounded through DECIMAL(27,12) so the
  // decimal-exact per-node sums replay bit-for-bit in DuckDB.
  val q107_textrank = Q("q107_textrank",
    (s, dir) => graft.text.TextRank.textRank(
        documents(s, dir), "text", iterations = 10, damping = 0.85,
        minCount = 2L, k = 50)
      .select(col("word"), round(col("score"), 9).as("score")),
    Some {
      val iters = (1 to 10).map { i =>
        s"""r$i AS (
        SELECT e.v AS word,
          (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) *
            CAST(SUM(CAST(e.frac * r${i - 1}.s AS DECIMAL(27,12))) AS DOUBLE) AS s
        FROM e JOIN r${i - 1} ON e.u = r${i - 1}.word GROUP BY e.v)"""
      }.mkString(",\n")
      s"""
      WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
      bg AS (SELECT unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2 FROM toks),
      bgf AS (SELECT w1, w2 FROM bg WHERE w1 <> w2),
      sym AS (SELECT w1 AS u, w2 AS v FROM bgf
              UNION ALL SELECT w2 AS u, w1 AS v FROM bgf),
      e0 AS (SELECT u, v, COUNT(*) AS w FROM sym GROUP BY 1, 2
             HAVING COUNT(*) >= 2),
      wt AS (SELECT u, CAST(SUM(w) AS BIGINT) AS tot FROM e0 GROUP BY u),
      e AS (SELECT e0.u, e0.v,
              CAST(e0.w AS DOUBLE) / CAST(wt.tot AS DOUBLE) AS frac
            FROM e0 JOIN wt USING (u)),
      r0 AS (SELECT DISTINCT u AS word, CAST(1.0 AS DOUBLE) AS s FROM e),
      $iters
      SELECT word, round(s, 9) AS score FROM r10
      ORDER BY s DESC, word LIMIT 50"""
    })

  // Johnson-Lindenstrauss sign random projection 64 -> 16
  // (RandomProjection.project): the embedding-compression pass before
  // pairwise stages. The ±1 matrix derives from the md5-h60 discipline
  // so the oracle reconstructs it from the salt alone; each product is
  // pinned to floor(x*1e12 + 0.5) as BIGINT (exact in both engines —
  // a double->DECIMAL cast is NOT: Spark rounds the shortest string
  // form, DuckDB the exact binary value), summed exactly, and
  // 1/sqrt(16) = 0.25 is binary-exact — every coordinate replays
  // bit-for-bit. The Spark side is scan-fused codegen: no shuffle, no
  // join, no per-row hashing (the sign matrix is plan literals).
  val q108_random_projection = Q("q108_random_projection",
    (s, dir) => graft.similarity.RandomProjection.project(
        embeddings(s, dir), "vec_id", "embedding", inDims = 64, outDims = 16)
      .orderBy("vec_id", "dim"),
    Some("""
      WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      u AS (SELECT vec_id, unnest(e) AS xi, unnest(range(len(e))) AS i FROM x),
      s AS (SELECT i.range AS i, j.range AS j,
              CASE WHEN (CAST(('0x' || substr(md5('rp:' || i.range || ':' || j.range), 1, 15)) AS BIGINT) & 1) = 0
                   THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
            FROM range(64) i, range(16) j),
      p AS (SELECT u.vec_id, s.j,
              CAST(floor((u.xi * s.sgn) * 1000000000000.0 + 0.5) AS BIGINT) AS c
            FROM u JOIN s ON u.i = s.i)
      SELECT vec_id, CAST(j AS INT) AS dim,
        0.25 * (CAST(SUM(c) AS DOUBLE) / 1000000000000.0) AS value
      FROM p GROUP BY vec_id, j ORDER BY vec_id, dim"""))

  // Exact positional phrase search (PhraseIndex.phraseSearch): start
  // offsets of "table scan" via pruned posting-list intersection — the
  // token filter lands before the posting aggregation so only the
  // phrase terms' occurrences reach the exchange; the persisted
  // bucket-partitioned twin (phraseSearchPruned) is spec-pinned
  // identical. Integers only — the oracle replays offsets verbatim.
  val q109_phrase_search = Q("q109_phrase_search",
    (s, dir) => graft.text.PhraseIndex.phraseSearch(
        documents(s, dir), "doc_id", "text", "table scan")
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      pos AS (SELECT doc_id, a, unnest(range(len(a) - 1)) AS p
              FROM toks WHERE len(a) >= 2),
      hits AS (SELECT doc_id, p FROM pos
               WHERE a[p + 1] = 'table' AND a[p + 2] = 'scan')
      SELECT doc_id, CAST(COUNT(*) AS INT) AS n_occ,
        CAST(MIN(p) AS INT) AS first_pos
      FROM hits GROUP BY doc_id ORDER BY doc_id"""))

  // Streaming approximate frequency (CmStreamReplay): per-event-type
  // count-min counters in MapState (<= 3x1024 entries per key, constant
  // in stream length), probed per micro-batch for a fixed user set —
  // the bounded-state twin of an exact per-user counter map (q89's
  // linear shape). Increments are commutative, so the operator is
  // arrival-order-robust within a batch; the oracle rebuilds every
  // batch-prefix counter table from raw events, all exact integers.
  val q110_streaming_cm = Q("q110_streaming_cm",
    (s, dir) => graft.streaming.CmStreamReplay.run(s, dir),
    Some("""
      WITH e AS (
        SELECT event_type, user_id,
          CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 0
               WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1
               WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 2
               ELSE 3 END AS batch
        FROM events),
      batches AS (SELECT DISTINCT event_type, batch FROM e),
      js AS (SELECT unnest([0, 1, 2]) AS j),
      h AS (SELECT e.event_type, e.batch AS ebatch, js.j,
              CAST(('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS bucket
            FROM e CROSS JOIN js),
      counters AS (
        SELECT b.event_type, b.batch, h.j, h.bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM batches b JOIN h ON h.event_type = b.event_type AND h.ebatch <= b.batch
        GROUP BY 1, 2, 3, 4),
      probes AS (
        SELECT CAST(p.u AS BIGINT) AS user_id, js.j,
          CAST(('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || CAST(p.u AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS bucket
        FROM (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS u) p CROSS JOIN js)
      SELECT b.event_type, b.batch, pr.user_id,
        MIN(COALESCE(c.c, 0)) AS est
      FROM batches b CROSS JOIN probes pr
      LEFT JOIN counters c ON c.event_type = b.event_type AND c.batch = b.batch
        AND c.j = pr.j AND c.bucket = pr.bucket
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  // Earliest-completion step funnel view -> click -> purchase with a
  // 1h per-step window (Funnels.funnel): every step is a filtered min
  // aggregate joined user-keyed onto a monotonically-shrinking
  // frontier. Timestamps are exact microseconds in both engines.
  val q111_funnel = Q("q111_funnel",
    (s, dir) => graft.events.Funnels.funnel(
        events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSeconds = 3600L)
      .orderBy("user_id"),
    Some("""
      WITH ev AS (SELECT user_id, event_type AS et, ts FROM events),
      s1 AS (SELECT user_id, MIN(ts) AS ts1 FROM ev WHERE et = 'view' GROUP BY user_id),
      s2 AS (SELECT ev.user_id, MIN(ev.ts) AS ts2
             FROM ev JOIN s1 USING (user_id)
             WHERE et = 'click' AND ev.ts >= s1.ts1
               AND ev.ts <= s1.ts1 + INTERVAL 3600 SECOND
             GROUP BY ev.user_id),
      s3 AS (SELECT ev.user_id, MIN(ev.ts) AS ts3
             FROM ev JOIN s2 USING (user_id)
             WHERE et = 'purchase' AND ev.ts >= s2.ts2
               AND ev.ts <= s2.ts2 + INTERVAL 3600 SECOND
             GROUP BY ev.user_id)
      SELECT s1.user_id, s1.ts1, s2.ts2, s3.ts3,
        CAST(1 + CAST(s2.ts2 IS NOT NULL AS INT)
               + CAST(s3.ts3 IS NOT NULL AS INT) AS INT) AS depth
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      ORDER BY user_id"""))

  // Weekly cohort retention (Funnels.retentionCohorts): cohort = the
  // user's first active epoch-week; retention(k) = share active in
  // cohort+k. Week ids via truncated-second integer arithmetic, so the
  // grid replays exactly; the ratio is one exact double division.
  val q112_retention = Q("q112_retention",
    (s, dir) => graft.events.Funnels.retentionCohorts(
        events(s, dir), "user_id", "ts", "2024-01-01 00:00:00")
      .orderBy("cohort_week", "week_offset"),
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id,
          ((epoch_us(ts) // 1000000) -
           (epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000)) // 604800 AS week
        FROM events),
      c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
      sz AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM c GROUP BY cohort_week),
      act AS (SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
                COUNT(*) AS active_users
              FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
      SELECT act.cohort_week, act.week_offset, act.active_users, sz.cohort_size,
        CAST(act.active_users AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
      FROM act JOIN sz USING (cohort_week) ORDER BY 1, 2"""))

  // Daily burst detection (Funnels.burstDays): a day is a burst when
  // its count exceeds the trailing-7-day mean by > 2.5 sigma, decided
  // ENTIRELY in integer arithmetic (the squared form — no mean, no
  // sqrt, no doubles), so the oracle replays every flag verbatim.
  val q113_burst_days = Q("q113_burst_days",
    (s, dir) => graft.events.Funnels.burstDays(
        events(s, dir), "event_type", "ts", "2024-01-01 00:00:00",
        window = 7, kNum = 5, kDen = 2)
      .orderBy("event_type", "day"),
    Some("""
      WITH daily AS (
        SELECT event_type,
          ((epoch_us(ts) // 1000000) -
           (epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000)) // 86400 AS day,
          COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, day, cnt,
          COUNT(*) OVER w AS n,
          COALESCE(SUM(cnt) OVER w, 0) AS tsum,
          COALESCE(SUM(cnt * cnt) OVER w, 0) AS tsumsq
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT event_type, day, cnt, n,
        CAST(tsum AS BIGINT) AS tsum, CAST(tsumsq AS BIGINT) AS tsumsq,
        (n = 7 AND cnt * n - tsum > 0 AND
         4 * (cnt * n - tsum) * (cnt * n - tsum) >
         25 * (n * tsumsq - tsum * tsum)) AS is_burst
      FROM stats ORDER BY event_type, day"""))

  // Session journey mining (Funnels.sessionJourneys): top-20 in-session
  // event-type trigrams — q104's zip-explode n-gram shape applied to
  // behavioral sequences over q50's session convention. In-session
  // order is the exact (ts, event_id) sort; counts are integers.
  val q114_session_journeys = Q("q114_session_journeys",
    (s, dir) => graft.events.Funnels.sessionJourneys(
        events(s, dir), "user_id", "event_type", "ts", "event_id", k = 20),
    Some("""
      WITH marked AS (
        -- > (strictly): Spark's session_window MERGES touching windows —
        -- an exactly-30:00 gap extends the session, only a strictly
        -- larger gap splits (measured on this Spark build, round 14;
        -- same convention as q50, FunnelsSpec pins it on a planted
        -- boundary fixture)
        SELECT user_id, ts, event_id, event_type,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL 30 MINUTE OR
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, ts, event_id, event_type,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked),
      seqs AS (
        SELECT list(event_type ORDER BY ts, event_id) AS s
        FROM sessions GROUP BY user_id, sid),
      tri AS (
        SELECT unnest(s[1:len(s)-2]) AS t1, unnest(s[2:len(s)-1]) AS t2,
               unnest(s[3:len(s)]) AS t3
        FROM seqs WHERE len(s) >= 3)
      SELECT t1, t2, t3, COUNT(*) AS cnt
      FROM tri GROUP BY 1, 2, 3
      ORDER BY cnt DESC, t1, t2, t3 LIMIT 20"""))

  // Directional containment pairs (Dedup.containmentPairs): the
  // asymmetric twin of q26's Jaccard — cont_a = |A∩B|/|A| catches a
  // short document quoted wholesale inside a long one (Jaccard ≈ 0
  // there). Same posting machinery and df-capped blocked equi-join;
  // both directions are exact integer ratios in one double division.
  val q115_containment_pairs = Q("q115_containment_pairs",
    (s, dir) => Dedup.containmentPairs(documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.4, maxShingleFreq = 100)
      .orderBy(greatest(col("cont_a"), col("cont_b")).desc,
        col("id_a"), col("id_b"))
      .limit(30),
    Some("""
      WITH sh AS (
        SELECT doc_id AS id,
          list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                         FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]) AS s
        FROM documents),
      post AS (SELECT id, len(s) AS n, unnest(s) AS shingle FROM sh),
      keep AS (SELECT shingle FROM post GROUP BY shingle HAVING COUNT(*) <= 100),
      postk AS (SELECT post.* FROM post JOIN keep USING (shingle)),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS inter
        FROM postk a JOIN postk b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b,
        CAST(inter AS DOUBLE) / na AS cont_a,
        CAST(inter AS DOUBLE) / nb AS cont_b
      FROM pairs
      WHERE greatest(CAST(inter AS DOUBLE) / na, CAST(inter AS DOUBLE) / nb) >= 0.4
      ORDER BY greatest(cont_a, cont_b) DESC, id_a, id_b LIMIT 30"""))

  // Leakage-safe split (Selection.leakageSafeSplit): train/val/test
  // assignment whose unit is the NEAR-DUP CLUSTER (q44's minhash-LSH →
  // connected components pipeline), so a near-duplicate of a test doc
  // can never land in train — the eval-contamination guard. The oracle
  // replays the full q44 closure, then the md5 bucket arithmetic
  // (h60(salt:cluster) % 1000 against cumulative permille ranges).
  val q116_leakage_safe_split = Q("q116_leakage_safe_split",
    (s, dir) => graft.text.Selection.leakageSafeSplit(
        documents(s, dir), "doc_id", "text",
        Seq(("train", 800), ("val", 100), ("test", 100)))
      .orderBy("id"),
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, sig, b, array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b ON a.b = b.b AND a.band_key = b.band_key AND a.id < b.id),
      pairs AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(len(list_filter([sa[i] = sb[i] FOR i IN generate_series(1, 16)], x -> x)) AS DOUBLE) / 16 >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      clusters AS (
        SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
      bucketed AS (
        SELECT id, cluster,
          CAST(('0x' || substr(md5('graft:' || CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS bucket
        FROM clusters)
      SELECT id, cluster,
        CASE WHEN bucket < 800 THEN 'train'
             WHEN bucket < 900 THEN 'val'
             ELSE 'test' END AS split
      FROM bucketed ORDER BY id"""))

  // Hard-negative mining over the labeled embeddings: top-5 most-similar
  // WRONG-label candidates per query vector — the contrastive-training
  // counterpart of q29 (same query set, label-mismatch fused before the
  // bounded heap). Oracle = q29's window form plus the label predicate.
  val q126_hard_negatives = Q("q126_hard_negatives",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          Similarity.asDouble(col("embedding")).as("query_vec"),
          col("label").as("query_label"))
      val cs = emb.select(col("vec_id").as("cand_id"),
        Similarity.asDouble(col("embedding")).as("cand_vec"),
        col("label").as("cand_label"))
      Similarity.hardNegatives(qs, cs, 5)
        .select(col("query_id"), col("query_label"),
          col("cand_id"), col("rank"), round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                   label AS query_label
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv,
              label AS cand_label FROM embeddings),
      scored AS (
        SELECT query_id, query_label, cand_id,
          list_inner_product(qv, cv) /
            (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos
        FROM q, c WHERE query_id <> cand_id AND query_label <> cand_label),
      ranked AS (
        SELECT query_id, query_label, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored)
      SELECT query_id, query_label, cand_id, rank, round(cos, 6) AS cos
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  // Bigram LM cross-entropy (add-one smoothing, corpus-trained) — the
  // conditional-probability upgrade of q63; one row per document with
  // at least one interior bigram. Same DECIMAL(27,12) parity discipline.
  val q127_bigram_entropy = Q("q127_bigram_entropy",
    (s, dir) => graft.text.Quality.bigramCrossEntropy(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), round(col("nats_per_bigram"), 6).as("nats_per_bigram"),
        col("n_bigrams"))
      .orderBy("doc_id"),
    Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      vocab AS (
        SELECT COUNT(DISTINCT token) AS v
        FROM (SELECT unnest(w) AS token FROM tok)),
      bg AS (
        SELECT doc_id,
          unnest([w[i] FOR i IN generate_series(1, len(w)-1)]) AS w1,
          unnest([w[i+1] FOR i IN generate_series(1, len(w)-1)]) AS w2
        FROM tok WHERE len(w) >= 2),
      perdoc AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY doc_id, w1, w2),
      cbg AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cbg FROM perdoc GROUP BY w1, w2),
      cu AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cu FROM perdoc GROUP BY w1),
      nll AS (
        SELECT doc_id, c,
          CAST(-ln(CAST(cbg + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE)) AS DECIMAL(27,12))
            * CAST(c AS DECIMAL(10,0)) AS nllc
        FROM perdoc JOIN cbg USING (w1, w2) JOIN cu USING (w1), vocab)
      SELECT doc_id,
        round(CAST(SUM(nllc) AS DOUBLE) / SUM(c), 6) AS nats_per_bigram,
        CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM nll GROUP BY doc_id ORDER BY doc_id"""))

  // Centroid-margin mislabel scoring: cosine to the own-label centroid
  // minus the best cosine to any other label's centroid (prototype-
  // distance pruning + confusion margin). Negative margin ⇒ the vector
  // sits closer to another class's prototype.
  val q128_centroid_margins = Q("q128_centroid_margins",
    (s, dir) => Similarity.centroidMargins(embeddings(s, dir), "vec_id", "embedding", "label")
      .select(col("vec_id"), col("label"),
        round(col("cos_own"), 6).as("cos_own"),
        round(col("cos_other"), 6).as("cos_other"),
        round(col("margin"), 6).as("margin"))
      .orderBy("vec_id"),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ex AS (SELECT vec_id, label, i AS dim, v[i] AS val
             FROM e, generate_series(1, 64) AS t(i)),
      cent AS (
        SELECT label AS clabel, dim,
          CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS c
        FROM ex GROUP BY label, dim),
      cnorm AS (
        SELECT clabel, CAST(SUM(CAST(c*c AS DECIMAL(27,12))) AS DOUBLE) AS cn2
        FROM cent GROUP BY clabel),
      vnorm AS (
        SELECT vec_id, CAST(SUM(CAST(val*val AS DECIMAL(27,12))) AS DOUBLE) AS vn2
        FROM ex GROUP BY vec_id),
      dots AS (
        SELECT vec_id, label, clabel,
          CAST(SUM(CAST(val*c AS DECIMAL(27,12))) AS DOUBLE) AS dp
        FROM ex JOIN cent USING (dim) GROUP BY vec_id, label, clabel),
      cosines AS (
        SELECT vec_id, label, clabel, dp / (sqrt(vn2) * sqrt(cn2)) AS cos
        FROM dots JOIN vnorm USING (vec_id) JOIN cnorm USING (clabel)),
      own AS (SELECT vec_id, label, cos AS cos_own FROM cosines WHERE clabel = label),
      oth AS (SELECT vec_id, MAX(cos) AS cos_other FROM cosines WHERE clabel <> label GROUP BY vec_id)
      SELECT vec_id, label, round(cos_own, 6) AS cos_own,
        round(cos_other, 6) AS cos_other,
        round(cos_own - cos_other, 6) AS margin
      FROM own JOIN oth USING (vec_id) ORDER BY vec_id"""))

  // Corpus snapshot diff (CDC between two corpus versions): old = docs
  // with doc_id % 7 != 0, texts of doc_id % 5 == 0 carrying a ' legacy'
  // suffix; new = docs with doc_id % 3 != 0. Emits added / removed /
  // changed rows only, keyed on the normalized-text fingerprint.
  val q129_snapshot_diff = Q("q129_snapshot_diff",
    (s, dir) => {
      val docs = documents(s, dir)
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" legacy"))).otherwise(col("text")))
      val newSnap = docs.filter(col("doc_id") % 3 =!= 0)
      graft.text.Quality.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH oldv AS (
        SELECT doc_id,
          md5(trim(regexp_replace(lower(
            CASE WHEN doc_id % 5 = 0 THEN text || ' legacy' ELSE text END),
            ' +', ' ', 'g'))) AS old_fp
        FROM documents WHERE doc_id % 7 <> 0),
      newv AS (
        SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS new_fp
        FROM documents WHERE doc_id % 3 <> 0),
      j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_fp, new_fp,
          CASE WHEN old_fp IS NULL THEN 'added'
               WHEN new_fp IS NULL THEN 'removed'
               WHEN old_fp <> new_fp THEN 'changed'
               ELSE 'unchanged' END AS change
        FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
      SELECT doc_id, change, old_fp, new_fp
      FROM j WHERE change <> 'unchanged' ORDER BY doc_id"""))

  // Near-dup pairs verified by TRUE edit distance — the rerank stage
  // after LSH recall: MinHash estimates shingle-set overlap, Levenshtein
  // scores the exact character edit chain. The oracle replays the full
  // LSH candidate generation WITHOUT the implementation's length
  // prefilter, so a recall-lossy filter would show as a row mismatch.
  // Band geometry is PLANNER-CHOSEN (VERDICT r15 #6): bands is omitted
  // so editVerifiedPairs resolves it via lshPlanChoose(16, 0.8) — (2
  // bands x 8 rows) — and the oracle's banding replay is GENERATED from
  // the same resolver, so the two sides can never diverge on geometry.
  val q130_edit_verified = Q("q130_edit_verified",
    (s, dir) => Dedup.editVerifiedPairs(documents(s, dir), "doc_id", "text",
        n = 3, numPerm = 16, threshold = 0.8)
      .select(col("id_a"), col("id_b"), col("lev"),
        round(col("edit_sim"), 6).as("edit_sim"))
      .orderBy("id_a", "id_b"),
    Some {
      val (b, r) = Dedup.lshPlanChoose(16, 0.8)
      s"""
      WITH sh AS (
        SELECT doc_id AS id,
          list_transform(
            list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                           FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]),
            s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM documents),
      sig AS (
        SELECT id,
          [list_min(list_transform(hs, h -> ((2*i+1) * h + (7919*i+1)) % 4294967311))
           FOR i IN generate_series(0, 15)] AS sig
        FROM sh),
      banded AS (
        SELECT id, b, array_to_string(sig[b*$r+1:b*$r+$r], '-') AS band_key
        FROM sig, (SELECT unnest(generate_series(0, ${b - 1})) AS b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b ON a.b = b.b AND a.band_key = b.band_key AND a.id < b.id),
      v AS (
        SELECT id_a, id_b,
          CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
          greatest(len(da.text), len(db.text)) AS mx
        FROM cand
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b)
      SELECT id_a, id_b, lev,
        round(CASE WHEN mx = 0 THEN 1.0
                   ELSE 1.0 - CAST(lev AS DOUBLE) / mx END, 6) AS edit_sim
      FROM v
      WHERE (CASE WHEN mx = 0 THEN 1.0 ELSE 1.0 - CAST(lev AS DOUBLE) / mx END) >= 0.8
      ORDER BY id_a, id_b"""
    })

  // Heaps'-law vocabulary growth: new token types and cumulative
  // vocabulary per ingest bucket — the corpus-health curve that flattens
  // under near-copy crawl loops and spikes under domain shift.
  val q131_vocab_growth = Q("q131_vocab_growth",
    (s, dir) => graft.text.TextStats.vocabGrowth(documents(s, dir), "doc_id", "text",
        bucketDocs = 50)
      .orderBy("bucket"),
    Some("""
      WITH d AS (
        SELECT doc_id // 50 AS bucket, string_split(text, ' ') AS ws FROM documents),
      pb AS (
        SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(len(ws)) AS BIGINT) AS n_tokens
        FROM d GROUP BY bucket),
      fs AS (
        SELECT tok, MIN(bucket) AS bucket
        FROM (SELECT bucket, unnest(ws) AS tok FROM d) GROUP BY tok),
      nt AS (SELECT bucket, COUNT(*) AS new_types FROM fs GROUP BY bucket)
      SELECT bucket, n_docs, n_tokens,
        COALESCE(new_types, 0) AS new_types,
        CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      FROM pb LEFT JOIN nt USING (bucket)
      ORDER BY bucket"""))

  // BPE trainer inner loop: 6 merge rounds over the word-count table —
  // corpus scanned once, every round vocabulary-bounded (Bpe scaladoc).
  val q132_bpe_merges = Q("q132_bpe_merges",
    (s, dir) => graft.text.Bpe.merges(documents(s, dir), "text", rounds = 6)
      .orderBy("round"),
    Some(graft.text.Bpe.oracleSql(6)))

  // Corpus-level overlap between SOURCES: one MinHash signature per
  // source over the union of its documents' shingles, with the exact
  // shingle-set Jaccard alongside as the sketch's own error report.
  private val srcSimSigCols = (0 until 16).map(i =>
    s"MIN((${2 * i + 1}*h + ${7919 * i + 1}) % 4294967311) AS s$i").mkString(",\n          ")
  private val srcSimMatches = (0 until 16).map(i =>
    s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END").mkString(" + ")
  val q133_source_similarity = Q("q133_source_similarity",
    (s, dir) => Dedup.sourceMinhashSimilarity(documents(s, dir), "source", "text",
        n = 3, numPerm = 16)
      .select(col("g_a").as("src_a"), col("g_b").as("src_b"),
        col("est_jaccard"), round(col("exact_jaccard"), 6).as("exact_jaccard"),
        col("inter"), col("n_a"), col("n_b"))
      .orderBy("src_a", "src_b"),
    Some(s"""
      WITH sh AS (
        SELECT source AS g,
          unnest([array_to_string((string_split(text,' '))[i:i+2], ' ')
                  FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))]) AS s
        FROM documents),
      hs AS (
        SELECT g, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh),
      sig AS (
        SELECT g,
          $srcSimSigCols
        FROM hs GROUP BY g),
      sets AS (SELECT DISTINCT g, s FROM sh),
      sizes AS (SELECT g, COUNT(*) AS n FROM sets GROUP BY g),
      inter AS (
        SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS inter
        FROM sets a JOIN sets b ON a.s = b.s AND a.g < b.g
        GROUP BY a.g, b.g),
      pairs AS (
        SELECT a.g AS g_a, b.g AS g_b,
          CAST($srcSimMatches AS DOUBLE) / 16 AS est_jaccard
        FROM sig a JOIN sig b ON a.g < b.g)
      SELECT g_a AS src_a, g_b AS src_b, est_jaccard,
        round(CAST(COALESCE(inter, 0) AS DOUBLE)
          / (na.n + nb.n - COALESCE(inter, 0)), 6) AS exact_jaccard,
        CAST(COALESCE(inter, 0) AS BIGINT) AS inter,
        na.n AS n_a, nb.n AS n_b
      FROM pairs
      LEFT JOIN inter USING (g_a, g_b)
      JOIN sizes na ON na.g = g_a
      JOIN sizes nb ON nb.g = g_b
      ORDER BY src_a, src_b"""))

  // Winnowing fingerprints (MOSS): density-bounded k-gram selection —
  // any shared token run of length >= w+k-1 shares a selected print.
  val q134_winnowing = Q("q134_winnowing",
    (s, dir) => graft.text.Winnowing.fingerprints(documents(s, dir), "doc_id", "text",
        k = 4, w = 5)
      .select(col("id").as("doc_id"), col("pos"), col("fp"))
      .orderBy("doc_id", "pos", "fp"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      hs AS (
        SELECT doc_id,
          [CAST(('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 15)) AS BIGINT)
           FOR i IN generate_series(0, greatest(len(ws) - 4, 0))] AS hs
        FROM t),
      sel AS (
        SELECT doc_id,
          unnest([struct_pack(
              pos := j + len(hs[j+1:j+5])
                - list_position(list_reverse(hs[j+1:j+5]), list_min(hs[j+1:j+5])),
              fp := list_min(hs[j+1:j+5]))
            FOR j IN generate_series(0, greatest(len(hs) - 5, 0))]) AS s
        FROM hs)
      SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos, s.fp AS fp
      FROM sel ORDER BY doc_id, pos, fp"""))

  // Zipf rank-frequency slope per source: natural text ~ -1, templated
  // sources flatten. ln through DECIMAL(27,12), quantized to integers,
  // slope = one IEEE division of exact integer sums.
  val q135_zipf_slope = Q("q135_zipf_slope",
    (s, dir) => graft.text.CorpusStats.zipfSlope(documents(s, dir), "source", "text")
      .select(col("g").as("source"), col("n_types"), col("n_tokens"), col("zipf_slope"))
      .orderBy("source"),
    Some("""
      WITH tf AS (
        SELECT source AS g, token, COUNT(*) AS c FROM (
          SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY source, token),
      rk AS (
        SELECT g, c,
          row_number() OVER (PARTITION BY g ORDER BY c DESC, token) AS rank
        FROM tf),
      q AS (
        SELECT g, c,
          CAST(floor(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,12)) * 100000) AS BIGINT) AS x,
          CAST(floor(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(27,12)) * 100000) AS BIGINT) AS y
        FROM rk),
      agg AS (
        SELECT g, COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
          CAST(SUM(x * y) AS HUGEINT) AS sxy, CAST(SUM(x * x) AS HUGEINT) AS sxx
        FROM q GROUP BY g)
      SELECT g AS source, n_types, n_tokens,
        round(CAST(n_types * sxy - sx * sy AS DOUBLE)
          / CAST(n_types * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
      FROM agg WHERE n_types >= 2 ORDER BY source"""))

  // Smoothed unigram KL(P_source || P_corpus) per source WITHOUT the
  // vocab x sources cross frame: with D_s = n_s + V, D = N + V,
  //   KL_s = T_s/D_s + ln D - ln D_s,
  //   T_s  = SUM_present[(c+1)ln(c+1) - c*ln(cw+1)] - G,  G = SUM_vocab ln(cw+1)
  // (absent-token mass folds into the present-term correction + G).
  val q136_kl_drift = Q("q136_kl_drift",
    (s, dir) => graft.text.CorpusStats.klDrift(documents(s, dir), "source", "text")
      .select(col("g").as("source"), col("n_tokens"), col("n_types"), col("kl_nats"))
      .orderBy("source"),
    Some("""
      WITH st AS (
        SELECT source AS g, token, COUNT(*) AS c FROM (
          SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY source, token),
      cw AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cw FROM st GROUP BY token),
      gl AS (
        SELECT COUNT(*) AS v, CAST(SUM(cw) AS BIGINT) AS n_total,
          SUM(CAST(ln(CAST(cw + 1 AS DOUBLE)) AS DECIMAL(27,12))) AS g_sum
        FROM cw),
      ps AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
          SUM(CAST(c + 1 AS DECIMAL(10,0)) * CAST(ln(CAST(c + 1 AS DOUBLE)) AS DECIMAL(27,12))
            - CAST(c AS DECIMAL(10,0)) * CAST(ln(CAST(cw + 1 AS DOUBLE)) AS DECIMAL(27,12))) AS s_present
        FROM st JOIN cw USING (token) GROUP BY g)
      SELECT g AS source, n_tokens, n_types,
        round(CAST(s_present - g_sum AS DOUBLE) / CAST(n_tokens + v AS DOUBLE)
          + CAST(CAST(ln(CAST(n_total + v AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE)
          - CAST(CAST(ln(CAST(n_tokens + v AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE), 6) AS kl_nats
      FROM ps, gl ORDER BY source"""))

  // Gopher rule-based quality flags: per-rule audit trail + keep, all
  // integer arithmetic (ratios cleared of division).
  val q137_gopher_rules = Q("q137_gopher_rules",
    (s, dir) => graft.text.Quality.gopherRules(documents(s, dir), "doc_id", "text",
        minWords = 50, maxWords = 100000)
      .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_word_chars,
          CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
          CAST(len(list_filter(['the','a','of','and','is','to','in','that','it','for'],
            sw -> list_contains(ws, sw))) AS BIGINT) AS n_stopwords,
          CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
        FROM t)
      SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stopwords, n_distinct,
        (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
        (sum_word_chars >= 3 * n_words AND sum_word_chars <= 10 * n_words) AS rule_mean_word_len,
        (5 * n_alpha_words >= 4 * n_words) AS rule_alpha_words,
        (n_stopwords >= 2) AS rule_stopwords,
        (5 * n_distinct >= n_words) AS rule_diversity,
        ((n_words >= 50 AND n_words <= 100000)
          AND (sum_word_chars >= 3 * n_words AND sum_word_chars <= 10 * n_words)
          AND (5 * n_alpha_words >= 4 * n_words)
          AND (n_stopwords >= 2)
          AND (5 * n_distinct >= n_words)) AS keep
      FROM m ORDER BY doc_id"""))

  // Matryoshka truncation fidelity: top-1 agreement + prefix energy per
  // truncation width, over the probe set. Widths unrolled in the oracle.
  private def matryoshkaTopCte(w: Int): String = s"""
      top_$w AS (
        SELECT $w AS width, query_id, cand_id AS top1 FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY
              list_inner_product(qv[1:$w], cv[1:$w]) /
              (sqrt(list_inner_product(qv[1:$w], qv[1:$w])) *
               sqrt(list_inner_product(cv[1:$w], cv[1:$w]))) DESC,
              cand_id) AS rnk
          FROM q, c WHERE query_id <> cand_id) WHERE rnk = 1)"""
  val q138_matryoshka = Q("q138_matryoshka",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          Similarity.asDouble(col("embedding")).as("query_vec"))
      val cs = emb.select(col("vec_id").as("cand_id"),
        Similarity.asDouble(col("embedding")).as("cand_vec"))
      Similarity.matryoshkaFidelity(qs, cs, Seq(8, 16, 32, 64))
        .orderBy("width", "query_id")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      ${Seq(8, 16, 32, 64).map(matryoshkaTopCte).mkString(",")},
      all_w AS (SELECT * FROM top_8 UNION ALL SELECT * FROM top_16
                UNION ALL SELECT * FROM top_32 UNION ALL SELECT * FROM top_64),
      fullw AS (SELECT query_id, top1 AS top1_full FROM top_64)
      SELECT a.width, a.query_id, a.top1, f.top1_full,
        CAST(a.top1 = f.top1_full AS INTEGER) AS agree,
        round(list_inner_product(q.qv[1:a.width], q.qv[1:a.width])
          / list_inner_product(q.qv, q.qv), 6) AS energy
      FROM all_w a JOIN fullw f USING (query_id) JOIN q USING (query_id)
      ORDER BY width, query_id"""))

  // CUSUM drift over daily event volumes — the sequential complement of
  // q113's single-day z-test, via the prefix-sum identity
  // S_d = P_d - min(0, min_j P_j): two windows, zero recursion.
  val q139_cusum_drift = Q("q139_cusum_drift",
    (s, dir) => graft.events.Funnels.cusumDrift(
        events(s, dir), "event_type", "ts", "2024-01-01 00:00:00",
        allowancePermille = 100, hMult = 3)
      .orderBy("event_type", "day"),
    Some("""
      WITH daily AS (
        SELECT event_type,
          ((epoch_us(ts) // 1000000) -
           (epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000)) // 86400 AS day,
          COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      ref AS (
        SELECT event_type, day, cnt,
          (SUM(cnt) OVER (PARTITION BY event_type)
            + COUNT(*) OVER (PARTITION BY event_type) - 1)
            // COUNT(*) OVER (PARTITION BY event_type) AS ceil_mean
        FROM daily),
      kr AS (
        SELECT event_type, day, cnt,
          CAST(ceil_mean + (ceil_mean * 100) // 1000 AS BIGINT) AS k_ref
        FROM ref),
      ps AS (
        SELECT event_type, day, cnt, k_ref,
          SUM(cnt - k_ref) OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM kr),
      sv AS (
        SELECT event_type, day, cnt, k_ref,
          p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        FROM ps)
      SELECT event_type, CAST(day AS BIGINT) AS day, cnt, k_ref,
        CAST(s AS BIGINT) AS s, (s > k_ref * 3) AS is_drift
      FROM sv ORDER BY event_type, day"""))

  // Video frame-sampling + shot-boundary detection through the REAL
  // multi-frame decode: each doc becomes an 8-frame P5 container (22x12
  // rasters built from the doc's ASCII projection; frames 4-7 rotate the
  // projection by half its length — a planted mid-video scene change),
  // the operator samples every 2nd frame, dHashes only the kept frames,
  // and flags sampled frames > 8 bits from their predecessor. The oracle
  // rebuilds every sampled frame's payload and replays the q92 dHash
  // bit formula, the lag, and the cut rule.
  val q140_video_shots = Q("q140_video_shots",
    (s, dir) => {
      val d0 = documents(s, dir)
        .withColumn("a", regexp_replace(col("text"), "[^ -~]", ""))
        .withColumn("a", when(length(col("a")) === 0, lit("x")).otherwise(col("a")))
        .withColumn("la", length(col("a")))
      val withFrames = (0 until 8).foldLeft(d0) { (df, f) =>
        val shot = f / 4
        df.withColumn(s"fr$f", expr(
          s"""cast(concat('P5
22 12
255
', substring(repeat(
              case when (($shot * (la div 2)) % la) = 0 then a
                   else concat(substring(a, (($shot * (la div 2)) % la) + 1),
                               substring(a, 1, (($shot * (la div 2)) % la))) end,
              int(ceil(264.0d / double(la)))), 1, 264)) as binary)"""))
      }
      val media = withFrames.select(col("doc_id").as("media_id"),
        concat((0 until 8).map(f => col(s"fr$f")): _*).as("content"))
      graft.multimodal.Multimodal.shotBoundaries(media, everyN = 2, cutHamming = 8)
        .orderBy("media_id", "frame_idx")
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id,
          CASE WHEN length(regexp_replace(text, '[^ -~]', '', 'g')) = 0 THEN 'x'
               ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS a
        FROM documents),
      fr AS (
        SELECT doc_id, f,
          substr(repeat(CASE WHEN off = 0 THEN a
                             ELSE substr(a, off + 1) || substr(a, 1, off) END,
            CAST(ceil(264.0 / length(a)) AS INTEGER)), 1, 264) AS payload
        FROM (SELECT doc_id, a, f, ((f // 4) * (length(a) // 2)) % length(a) AS off
              FROM d0, (VALUES (0), (2), (4), (6)) v(f))),
      b AS (
        SELECT doc_id, f,
          [ord(substr(payload, i, 1)) FOR i IN generate_series(1, 264)] AS bs
        FROM fr),
      sigs AS (
        SELECT doc_id, f,
          CAST(list_sum([CASE WHEN bs[((j // 10) * 12 // 6) * 22 + (((j % 10) + 1) * 22 // 11) + 1]
                              > bs[((j // 10) * 12 // 6) * 22 + ((j % 10) * 22 // 11) + 1]
                         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                         FOR j IN generate_series(0, 59)]) AS BIGINT) AS sh
        FROM b),
      lagd AS (
        SELECT doc_id, f, sh,
          lag(sh) OVER (PARTITION BY doc_id ORDER BY f) AS prev
        FROM sigs)
      SELECT doc_id AS media_id, f AS frame_idx, sh AS dhash,
        CAST(bit_count(xor(sh, prev)) AS INTEGER) AS hamming_prev,
        (bit_count(xor(sh, prev)) > 8) AS is_cut
      FROM lagd ORDER BY media_id, frame_idx"""))

  // Incremental IVF layout maintenance: old corpus (id%7!=0) indexed and
  // laid out; ids%7==0 arrive, ids%11==0 leave; ivfMaintain rewrites only
  // the affected centroid partitions. The oracle is the FULL REBUILD of
  // the new corpus (id%11!=0) against the pinned old-corpus centroids —
  // a hash match proves incremental == rebuild.
  val q141_ivf_maintain = Q("q141_ivf_maintain",
    (s, dir) => {
      val all = embCandidates(s, dir)
      val oldC = all.filter(col("cand_id") % 7 =!= 0)
      val (centroids, assignedOld) = Similarity.ivfIndex(oldC, nlist = 16)
      val layout = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-ivf-maintain-${Integer.toHexString(dir.hashCode)}").toString
      Similarity.writeIvfLayout(assignedOld, layout)
      val added = all.filter(col("cand_id") % 7 === 0 && col("cand_id") % 11 =!= 0)
      val removed = all.filter(col("cand_id") % 11 === 0).select("cand_id")
      Similarity.ivfMaintain(s, layout, centroids, added, removed)
      s.read.parquet(layout)
        .select(col("cand_id"), col("centroid").cast("long").as("centroid"))
        .orderBy("cand_id")
    },
    Some("""
      WITH c0 AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id % 7 <> 0),
      cent AS (SELECT cand_id AS centroid_id, cv AS centv FROM c0 ORDER BY cand_id LIMIT 16),
      newc AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id % 11 <> 0)
      SELECT cand_id, centroid FROM (
        SELECT newc.cand_id, cent.centroid_id AS centroid,
          row_number() OVER (PARTITION BY newc.cand_id ORDER BY
            list_inner_product(newc.cv, cent.centv) /
              (sqrt(list_inner_product(newc.cv, newc.cv)) *
               sqrt(list_inner_product(cent.centv, cent.centv))) DESC,
            cent.centroid_id) AS r
        FROM newc, cent) WHERE r = 1 ORDER BY cand_id"""))

  // Per-source percent-rank calibration of the q22 quality score — CDF
  // computed on the (source, score) VALUE table (scores are rounded →
  // bounded distinct values), never a corpus-sized window sort.
  val q142_quality_calibration = Q("q142_quality_calibration",
    (s, dir) => {
      val scored = documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TextStats.tokens(col("text")).as("w"))
        .select(col("doc_id"), col("source"),
          TextStats.qualityScoreW(col("text"), col("w"), Stopwords).as("quality"))
      graft.text.Selection.calibratePercentRank(scored, "source", "quality")
        .select(col("doc_id"), col("source"), col("quality"),
          col("n_below"), col("n_group"), col("pct"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, source, text, string_split(text, ' ') AS words FROM documents),
      q AS (
        SELECT doc_id, source,
          round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
              + least(CAST(len(list_filter(words, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(words) * 5.0, 1.0) * 0.3
              + CAST(len(list_distinct(words)) AS DOUBLE) / len(words) * 0.4, 6) AS quality
        FROM w),
      vals AS (SELECT source, quality, COUNT(*) AS cnt FROM q GROUP BY source, quality),
      cdf AS (
        SELECT source, quality,
          SUM(cnt) OVER (PARTITION BY source ORDER BY quality
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS n_below,
          SUM(cnt) OVER (PARTITION BY source) AS n_group
        FROM vals)
      SELECT doc_id, source, quality,
        CAST(n_below AS BIGINT) AS n_below, CAST(n_group AS BIGINT) AS n_group,
        CASE WHEN n_group = 1 THEN 0.0
             ELSE round(CAST(n_below AS DOUBLE) / (n_group - 1), 6) END AS pct
      FROM q JOIN cdf USING (source, quality) ORDER BY doc_id"""))

  // Robust per-group outliers: rank-exact median + MAD in integer cents
  // via value-table CDFs, flags beyond 3*MAD — survives heavy tails.
  val q143_robust_outliers = Q("q143_robust_outliers",
    (s, dir) => graft.sketch.Sketches.robustOutliers(
        lineitem(s, dir), Seq("l_returnflag"), col("l_extendedprice"))
      .orderBy("l_returnflag"),
    Some("""
      WITH r AS (
        SELECT l_returnflag AS g,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM lineitem),
      v1 AS (SELECT g, cents AS v, COUNT(*) AS cnt FROM r GROUP BY g, cents),
      c1 AS (
        SELECT g, v,
          SUM(cnt) OVER (PARTITION BY g ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY g) AS n
        FROM v1),
      m1 AS (SELECT g, MIN(v) AS med, CAST(MAX(n) AS BIGINT) AS n
             FROM c1 WHERE cum * 2 >= n GROUP BY g),
      d AS (SELECT r.g, abs(cents - med) AS adev FROM r JOIN m1 USING (g)),
      v2 AS (SELECT g, adev AS v, COUNT(*) AS cnt FROM d GROUP BY g, adev),
      c2 AS (
        SELECT g, v,
          SUM(cnt) OVER (PARTITION BY g ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY g) AS n
        FROM v2),
      m2 AS (SELECT g, MIN(v) AS mad FROM c2 WHERE cum * 2 >= n GROUP BY g)
      SELECT g AS l_returnflag, m1.n AS n, m1.med AS median_cents,
        m2.mad AS mad_cents,
        CAST(SUM(CASE WHEN abs(cents - med) > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM r JOIN m1 USING (g) JOIN m2 USING (g)
      GROUP BY g, m1.n, m1.med, m2.mad ORDER BY l_returnflag"""))

  // Per-user Shannon entropy over event types — bots collapse to ~0,
  // engaged users spread; exact integer counts + DECIMAL(27,12) lns.
  val q144_user_entropy = Q("q144_user_entropy",
    (s, dir) => graft.events.Funnels.behavioralEntropy(
        events(s, dir), "user_id", "event_type")
      .orderBy("user_id"),
    Some("""
      WITH ct AS (
        SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
      ag AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events, COUNT(*) AS n_types,
          SUM(CAST(c AS DECIMAL(10,0))
            * CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(27,12))) AS s
        FROM ct GROUP BY user_id)
      SELECT user_id, n_events, n_types,
        round(CAST(CAST(ln(CAST(n_events AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE)
          - CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE), 6) AS entropy_nats
      FROM ag ORDER BY user_id"""))

  // LSH band-geometry planner (the q130 knob, computed not hand-tuned):
  // per (bands, rows) factorization of a 16-permutation budget at
  // threshold 0.8, the S-curve's sub-threshold candidate mass and
  // above-threshold recall loss — DECIMAL-exact repeated-multiply
  // powers, integer outputs, recursive-CTE oracle (Dedup.lshPlan doc).
  val q152_lsh_plan = Q("q152_lsh_plan",
    (s, dir) => Dedup.lshPlan(numPerm = 16, threshold = 0.8),
    Some(Dedup.lshPlanOracle(16, 0.8)))

  // The planner's a-posteriori companion: banded-collision candidate
  // volume per band, measured from signatures without materializing a
  // pair — bucket count, max bucket (verify-stage straggler), exact
  // sum C(bucket,2) per band (Dedup.bandCandidateVolume doc).
  val q153_lsh_volume = Q("q153_lsh_volume",
    (s, dir) => Dedup.bandCandidateVolume(documents(s, dir), "doc_id", "text",
      n = 3, numPerm = 16, bands = 4),
    Some(Dedup.bandCandidateVolumeOracle(16, 4)))

  // q141's delta through the VERSIONED commit protocol (VERDICT r15
  // #7): the maintain publishes an immutable v2 holding only affected
  // lists plus a manifest, then atomically swaps CURRENT — a concurrent
  // reader never sees a half-overwritten partition. The oracle is the
  // SAME full rebuild as q141's: a hash match proves versioned
  // maintain == in-place maintain == rebuild.
  val q154_ivf_versioned = Q("q154_ivf_versioned",
    (s, dir) => {
      val all = embCandidates(s, dir)
      val oldC = all.filter(col("cand_id") % 7 =!= 0)
      val (centroids, assignedOld) = Similarity.ivfIndex(oldC, nlist = 16)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-ivf-versioned-${Integer.toHexString(dir.hashCode)}").toString
      Similarity.writeIvfLayoutVersioned(assignedOld, root)
      val added = all.filter(col("cand_id") % 7 === 0 && col("cand_id") % 11 =!= 0)
      val removed = all.filter(col("cand_id") % 11 === 0).select("cand_id")
      Similarity.ivfMaintainVersioned(s, root, centroids, added, removed)
      Similarity.readIvfLayoutVersioned(s, root)
        .select(col("cand_id"), col("centroid"))
        .orderBy("cand_id")
    },
    q141_ivf_maintain.oracle)

  val all: Seq[Q] = Seq(
    q01_pricing_summary, q02_top_customers, q03_shipping_priority,
    q04_order_priority, q05_region_revenue, q06_revenue_forecast,
    q07_events_range, q08_events_pivot, q09_rolling_window, q10_asof_join,
    q11_window_rank, q12_lag_delta, q13_union_dedup, q14_bit_unpack,
    q15_flatten_json, q16_calibration, q17_rollup, q18_cube,
    q19_grouping_sets, q20_semi_anti, q21_outer_join, q22_text_stats,
    q23_langid, q24_token_histogram, q25_exact_dedup, q26_jaccard_pairs,
    q27_minhash_sig, q28_simhash, q29_ann_cosine, q30_ann_lsh, q31_ann_ivf,
    q32_simhash_pairs, q33_minhash_pairs, q34_stats_agg, q35_percentiles,
    q36_time_bucket, q37_conditional_agg, q38_string_ops, q39_array_agg,
    q40_dedup_survivors, q41_multimodal_features, q41b_multimodal_decode,
    q41c_multimodal_imageio, q41d_multimodal_wav, q42_set_ops,
    q43_ann_topk_agg, q44_dedup_clusters, q44b_dedup_clusters_iterative,
    q45_embedding_centroid,
    q46_text_subwords, q47_corpus_filter, q48_range_join,
    q49_wind_pipeline, q50_sessionize, q51_embedding_neardup,
    q52_actor_stream, q53_normalize_text, q54_repetition_filter,
    q55_contamination, q56_pii_scan, q57_stratified_sample,
    q58_tfidf_keywords, q59_embedding_quantize, q60_pipeline_sample,
    q61_shard_packing, q61b_shard_packing_strict, q62_dedup_keep_best,
    q63_unigram_entropy, q64_streaming_dedup, q65_doc_chunking,
    q66_cdc_segments, q67_verbatim_overlap, q68_kmeans, q69_semantic_dedup,
    q70_incremental_dedup, q71_boilerplate, q72_ppl_buckets,
    q73_streaming_near_dedup, q74_streaming_swept_dedup,
    q75_dsir_weights, q76_subword_encode, q77_span_dedup, q78_ann_pq,
    q79_ann_ivf_pruned, q80_streaming_window, q81_streaming_ewma,
    q82_simhash_wide, q83_actor_stream_typed, q84_streaming_sessions,
    q85_stream_join, q86_sliding_state, q87_bootstrap_counters,
    q88_gap_timers, q89_distinct_map, q90_temperature_mix,
    q91_resample_interpolate, q92_image_dhash_pairs, q93_audio_hash_pairs, q94_resample_locf,
    q95_hll_distinct, q96_bloom_semi_join, q97_audio_trim_pairs,
    q98_image_dhash_wide, q99_cm_heavy_hitters, q100_hist_quantiles,
    q101_hll_set_ops, q102_weighted_sample, q103_hll_novelty,
    q104_pmi_collocations, q105_streaming_hll, q106_bm25_topk,
    q107_textrank, q108_random_projection, q109_phrase_search,
    q110_streaming_cm, q111_funnel, q112_retention, q113_burst_days,
    q114_session_journeys, q115_containment_pairs, q116_leakage_safe_split,
    q126_hard_negatives, q127_bigram_entropy, q128_centroid_margins,
    q129_snapshot_diff, q130_edit_verified,
    q131_vocab_growth, q132_bpe_merges, q133_source_similarity,
    q134_winnowing, q135_zipf_slope, q136_kl_drift, q137_gopher_rules,
    q138_matryoshka, q139_cusum_drift, q140_video_shots,
    q141_ivf_maintain, q142_quality_calibration, q143_robust_outliers,
    q144_user_entropy, q152_lsh_plan, q153_lsh_volume, q154_ivf_versioned)
}
