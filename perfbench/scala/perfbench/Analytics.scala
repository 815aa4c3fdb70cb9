package perfbench

import org.apache.spark.sql.SparkSession

/** The analytics half of the `batch` workload: a fixed slice of the
  * oracle-checked query suite, one query per analytics module, over seeded
  * tables that `run.py` writes. Each slice query is checked against its
  * DuckDB oracle after the JVM exits. */
object Analytics {

  /** (layer, query): the layer is the module the query exercises. */
  val slice: Seq[(String, String)] = Seq(
    "streaming" -> "q64_streaming_dedup",
    "dedup" -> "q26_jaccard_pairs",
    "similarity" -> "q69_semantic_dedup",
    "text" -> "q77_span_dedup",
    "sketch" -> "q95_hll_distinct",
    "events" -> "q111_funnel")

  /** Per-layer metric prefix of a query: `<layer>.<short name>`. */
  def metricName(layer: String, query: String): String =
    s"$layer.${query.takeWhile(_ != '_')}"

  /** Dump every slice query's result for the oracle check, with the
    * oracle SQL beside it (the layout `tools/check_oracle.py` reads). A
    * query that throws leaves an error sentinel, which fails the check. */
  def dumpForOracle(spark: SparkSession, tables: String, out: String): Unit = {
    val qs = queries
    graft.Verify.dumpQueries(spark, tables, out, qs.map { case (_, q) => q.name -> q.run }.toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      qs.flatMap { case (_, q) => q.oracle.map(sql => q.name -> sql) }.toMap
        .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    spark.catalog.clearCache()
  }

  def queries: Seq[(String, graft.Queries.Q)] = {
    val byName = graft.Queries.all.map(q => q.name -> q).toMap
    slice.map { case (layer, name) => (layer, byName(name)) }
  }

  /** Run one slice query to completion under a job group named after it,
    * so its stages can be attributed. Returns false when it threw. */
  def execute(spark: SparkSession, tables: String, layer: String, q: graft.Queries.Q, group: String): Boolean = {
    val name = metricName(layer, q.name)
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    try Trace.span(name) {
      q.run(spark, tables).write.format("noop").mode("overwrite").save()
      true
    } catch { case e: Throwable => System.err.println(s"[analytics] ${q.name}: $e"); false }
    finally {
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
    }
  }
}
