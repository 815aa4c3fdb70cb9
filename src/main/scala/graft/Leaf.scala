package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Eager plan-LEAF materialization for iterative operators (TextRank
  * power iterations, connected-components label propagation): truncates
  * lineage so AQE's per-stage re-optimization of the remaining plan
  * stays O(1) in iteration depth instead of quadratic
  * (OPTIMIZATION_r17.md: 2.8 s of q107's 4.7 s wall was driver-side
  * planning).
  *
  * Fault-tolerance gate (`spark.graft.checkpoint.dir`): by default the
  * leaf is `localCheckpoint(true)` — executor-local blocks, fast, but a
  * lost executor makes the job UNRECOVERABLE ("checkpoint block not
  * found") instead of recomputable. On a real cluster set
  * `spark.graft.checkpoint.dir` to a durable (HDFS/object-store) path
  * and every leaf becomes a reliable `checkpoint()` there: executor
  * loss recomputes from the checkpoint files. The cost is one extra
  * computation of the frame (Spark writes reliable checkpoints in a
  * second job) — acceptable because every frame routed through here is
  * vocabulary-/subgraph-bounded, never corpus-sized. Local bench runs
  * leave the conf unset and keep the fast path, so the knob is
  * scale-parameterised, not local-tuned.
  */
object Leaf {

  /** Session conf naming a durable checkpoint directory; empty/unset
    * selects executor-local checkpoints. */
  val DirConf = "spark.graft.checkpoint.dir"

  /** Point `sc`'s reliable checkpoints under `dir`. `setCheckpointDir`
    * mints a fresh `<dir>/<uuid>` per call, so it runs only when the
    * current checkpoint dir's parent is not already `dir` — compared as
    * qualified Hadoop paths, so `/x/ck` never matches `/x/ck2/<uuid>`. */
  private[graft] def useCheckpointDir(sc: SparkContext, dir: String): Unit = {
    val want = new Path(dir)
    val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
    if (!sc.getCheckpointDir.exists(cur => new Path(cur).getParent == qualified))
      sc.setCheckpointDir(dir)
  }

  /** Materialize `df` as an eager plan leaf (see object scaladoc for
    * the localCheckpoint vs reliable-checkpoint routing). */
  def leaf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        useCheckpointDir(spark.sparkContext, dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** Drop the storage behind a checkpointed frame — executor blocks for
    * `localCheckpoint(true)` (the checkpoint persists its internal RDD
    * directly as a LogicalRDD leaf, invisible to the CacheManager that
    * `Dataset.unpersist` talks to), checkpoint FILES for reliable
    * `checkpoint` (deleted via the frame's Hadoop FileSystem). Only for
    * frames that will never be read again (the lineage is truncated;
    * recompute after this is impossible). Without an eager free,
    * superseded iterates sit in executor storage / on disk until the
    * ContextCleaner's GC gets to them. */
  def free(ds: DataFrame): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new Path(f)
          try p.getFileSystem(
            ds.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: java.io.IOException => () }
        }
      case _ => ()
    }
}
