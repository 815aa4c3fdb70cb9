package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run measured, handed back to `run.py` as JSON.
  * `e2e` and `layers` hold values computed in the JVM; `e2eMedians` and
  * `layerMedians` hold repeated measurements of which `run.py` reports the
  * median; `samples` holds raw series that the Python side finishes
  * (percentiles, latency join, CPU window). Every order statistic is
  * taken in `harness/stats.py`. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val e2eMedians = mutable.LinkedHashMap[String, Seq[Double]]()
  val layerMedians = mutable.LinkedHashMap[String, Seq[Double]]()
  val samples = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Count `n` attempted operations of which `bad` failed. */
  def outcome(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) failures += s"$what: $bad of $n failed"
  }

  def toJson: String = Json.obj(Seq(
    "e2e" -> e2e, "layers" -> layers, "e2e_medians" -> e2eMedians,
    "layer_medians" -> layerMedians, "samples" -> samples,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures))
}

/** Runs one workload inside one JVM. Invoked by `run.py`:
  * `perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --cpus <n> --setup-reps <k>`; `setup_s` is the median
  * of the k set-up repetitions.
  * Inputs that must exist before the JVM starts (spool backlogs, analytics
  * tables) are written by `run.py` under `--work`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val conf = RunConf(
      seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble,
      trace = opt("trace") == "1",
      work = work,
      cpus = cpus,
      setupReps = opt("setup-reps").toInt)
    Trace.enabled = conf.trace
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listeners = Listeners.attach(spark)
    val report = new Report
    val spanCostNs = if (conf.trace) Trace.perSpanCostNs() else 0.0
    val t0 = System.nanoTime()
    log(s"session up; running ${opt("workload")}")
    opt("workload") match {
      case "ingest" => Ingest.run(spark, conf, listeners, report)
      case "batch" => Batch.run(spark, conf, listeners, report)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val wallNs = System.nanoTime() - t0
    if (conf.trace) {
      val spans = Trace.spans
      Trace.layerSelfMs(spans).foreach { case (l, ms) => report.layers(s"$l.self_ms") = ms }
      report.layers("trace.spans") = spans.size.toDouble
      report.layers("trace.overhead_pct") = 100.0 * spans.size * spanCostNs / wallNs
      Files.writeString(Paths.get(work, "spans.json"), Trace.toJson(spans))
    }
    log("done")
    report.layers("jvm.peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(work, "result.json"), report.toJson)
    spark.stop()
  }

  /** High-water resident set size of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap the program holds on to: heap used right after a full
    * collection, in MiB. With the heap's size fixed, the resident size
    * moves only with native memory; this follows what the program keeps. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time this process has used, in seconds. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private val started = System.nanoTime()

  /** Progress line on standard error, with the seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

final case class RunConf(seed: Long, seconds: Double, trace: Boolean,
    work: String, cpus: Int, setupReps: Int)
