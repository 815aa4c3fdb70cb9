/* Lives under org.apache.spark.sql because `SparkSession.cloneSession`
 * and `Dataset.ofRows` are private[sql]. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic

/** SQL conf scoped to the sources of one frame.
  *
  * A file stream source keeps the session its frame was analyzed in and
  * reads that session's conf on every trigger (listing thresholds, for
  * one). `build` runs on a clone of `spark` carrying `conf`; the analyzed
  * frame is then re-bound to `spark`. Queries started from the result
  * register with `spark.streams`, their sources read the clone's conf,
  * and `spark`'s own conf is left unchanged. */
object ScopedConf {
  def frame(spark: SparkSession, conf: Map[String, String])(
      build: SparkSession => DataFrame): DataFrame = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val scoped = caller.cloneSession()
    conf.foreach { case (k, v) => scoped.conf.set(k, v) }
    val built = build(scoped).asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(caller, built.queryExecution.analyzed)
  }
}
