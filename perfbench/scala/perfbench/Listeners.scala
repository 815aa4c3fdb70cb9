package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-trigger progress of every streaming query: the phase durations
  * Structured Streaming reports for each micro-batch. */
final class TriggerListener extends StreamingQueryListener {
  import TriggerListener.Trigger
  private val seen = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    seen.add(Trigger(p.runId.toString, p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli, phases))
  }

  def triggers: Seq[Trigger] = seen.asScala.toSeq
  def reset(): Unit = seen.clear()
}

object TriggerListener {
  /** One micro-batch: its query run, id, input rows, start (epoch ms) and
    * phase durations (ms) as Structured Streaming reports them. */
  final case class Trigger(runId: String, batchId: Long, rows: Long,
      startMs: Long, phases: Map[String, Long])
}

/** Stage metrics of the jobs run under one job group, summed per group:
  * executor CPU time and shuffle bytes written. */
final class StageListener extends SparkListener {
  private val cpuNs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val shuffle = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private def add(m: java.util.concurrent.ConcurrentHashMap[String, AtomicLong], k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  private val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val group = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    js.stageIds.foreach(id => groupOfStage.put(id, group))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val group = Option(groupOfStage.get(si.stageId)).getOrElse("")
    val tm = si.taskMetrics
    if (tm != null) {
      add(cpuNs, group, tm.executorCpuTime)
      add(shuffle, group, tm.shuffleWriteMetrics.bytesWritten)
    }
  }

  def cpuSeconds(group: String): Double = Option(cpuNs.get(group)).map(_.get / 1e9).getOrElse(0.0)
  def shuffleBytes(group: String): Long = Option(shuffle.get(group)).map(_.get).getOrElse(0L)
}

/** Files read by the file scans of each successful batch query. */
final class ScanListener extends QueryExecutionListener {
  private val files = new ConcurrentLinkedQueue[Long]()

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other => other +: other.children.flatMap(leaves)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = leaves(qe.executedPlan).collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    files.add(n)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): Seq[Long] = {
    val out = files.asScala.toSeq
    files.clear()
    out
  }
}

object Listeners {
  final case class Attached(triggers: TriggerListener, stages: StageListener, scans: ScanListener)

  def attach(spark: SparkSession): Attached = {
    val s = Attached(new TriggerListener, new StageListener, new ScanListener)
    spark.streams.addListener(s.triggers)
    spark.sparkContext.addSparkListener(s.stages)
    spark.listenerManager.register(s.scans)
    s
  }

  /** Listener events are delivered asynchronously; wait for the bus. */
  def flush(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.flush(spark.sparkContext)
}
