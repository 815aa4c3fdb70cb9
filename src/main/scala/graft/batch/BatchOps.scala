package graft.batch

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's LCO batch pipeline operators (SURVEY.md §2.3 R1-R17)
  * as composable library functions. Each is a thin, named wrapper over the
  * equivalent declarative Spark op so Catalyst sees plain Filter/Project/
  * Aggregate nodes and can push, prune and reorder them.
  */
object BatchOps {

  /** R2 — UNION ALL of range-chunked scans (tools.py:166). */
  def concat(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** R3 + R4 — sort by ts and drop duplicate timestamps, the reference's
    * chunk-overlap repair (tools.py:169). `dropDuplicates` shuffles by the
    * key; at scale prefer keys that include the entity id so the shuffle is
    * well-distributed rather than hot on time alone. */
  def dedupSort(df: DataFrame, keys: Seq[String], sortCols: Seq[String]): DataFrame =
    df.dropDuplicates(keys).orderBy(sortCols.map(col): _*)

  /** R6 — inclusive time-range filter (tools.py:180-183). Kept as a simple
    * `between` predicate so it pushes down to the parquet scan. */
  def timeRange(df: DataFrame, tsCol: String, start: Timestamp, end: Timestamp): DataFrame =
    df.filter(col(tsCol).between(lit(start), lit(end)))

  /** R17 — last-value watermark: max event time per series, the incremental
    * poll offset (lco.py:116-122). A partial-aggregate `max`, so each
    * executor contributes one row before the final reduce. */
  def watermarks(df: DataFrame, tsCol: String, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) df.agg(max(col(tsCol)).as("watermark"))
    else df.groupBy(keys.map(col): _*).agg(max(col(tsCol)).as("watermark"))

  /** Deterministic top-k: ORDER BY sort cols then unique tiebreaker, LIMIT k.
    * Spark executes this as TakeOrderedAndProject — each partition keeps only
    * k rows, then the driver merges; no global sort materializes. */
  def topK(df: DataFrame, k: Int, sortCols: Column*): DataFrame =
    df.orderBy(sortCols: _*).limit(k)
}
