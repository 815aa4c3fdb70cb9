package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import graft.sinks.TelemetrySink

/** `batch` workload, closed loop with one client: the read side of the
  * system.
  *
  *  - Set-up: write the seeded archive ([[Store]]), `setupReps` times.
  *  - Untimed: backfill the whole archive into the store the queries
  *    read, then one store query of each kind. Both warm the JVM.
  *  - Timed: store queries one after another until the run's window is
  *    spent. Every query is one operation.
  *  - Timed: the same backfill into fresh stores, [[BackfillReps]] times,
  *    now that the JVM is warm.
  *  - Traced runs only, after the window: every analytics slice query
  *    once, dumped for its oracle check, then one timed pass of the slice
  *    for the per-layer metrics. Untraced runs leave the slice out: its
  *    two passes would take about half of a run.
  *
  * Store answers are checked by [[Check]] after the window; `run.py`
  * checks the store against the archive and the slice against its
  * oracles, and takes the medians and percentiles. */
object Batch {
  val BackfillReps = 3

  def run(spark: SparkSession, conf: RunConf, l: Listeners.Attached, report: Report): Unit = {
    val root = s"${conf.work}/store"
    val archive = s"$root/archive"
    val store = s"$root/store"
    val tables = s"${conf.work}/tables"

    report.e2eMedians("setup_s") = (1 to conf.setupReps).map { r =>
      val dir = if (r == conf.setupReps) archive else s"$root/archive-rep$r"
      val s = Main.timedMs(Store.writeArchive(spark, conf.seed, dir))._2 / 1000
      if (r < conf.setupReps) Main.deleteTree(java.nio.file.Paths.get(dir))
      s
    }
    Main.log("set-up done")

    def backfill(dir: String): Double = Main.timedMs(Trace.span("batch.backfill")(
      TelemetrySink.writeBatch(Store.toPoints(Store.backfillRows(spark, archive)), dir, "archive")))._2
    // The store the queries read; untimed, as the JVM is still cold.
    backfill(store)
    val points = spark.read.parquet(store).count()
    report.samples("store_points") = points
    Main.log("store backfilled")

    val answered = ArrayBuffer.empty[(Store.Q, Double, Option[Seq[Row]])]
    def storeQuery(q: Store.Q): Double = {
      val (ans, ms) = Main.timedMs {
        try Some(Store.execute(spark, store, q))
        catch { case e: Throwable => System.err.println(s"[store] query ${q.id} ${q.kind}: $e"); None }
      }
      answered += ((q, ms, ans))
      ms
    }
    // Untimed: one store query of each kind.
    Store.queryStream(conf.seed + 1, firstId = 1000000).take(Store.Cycle.size).toSeq
      .groupBy(_.kind).values.map(_.head).foreach(storeQuery)
    Main.log("untimed pass done")
    report.e2e("live_heap_mb") = Main.liveHeapMb()
    Listeners.flush(spark)
    l.scans.drain()

    val cpu0 = Main.processCpuS()
    val timedStore = ArrayBuffer.empty[(Store.Q, Double)]
    val storeQueries = Store.queryStream(conf.seed)
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    while (timedStore.isEmpty || System.nanoTime() < deadline) {
      val q = storeQueries.next()
      timedStore += ((q, storeQuery(q)))
    }
    val cpu = Main.processCpuS() - cpu0
    Main.log(s"store window done: ${timedStore.size} queries")
    Listeners.flush(spark)
    val scanned = l.scans.drain()

    val backfillMs = (1 to BackfillReps).map { r =>
      val dir = s"$root/store-rep$r"
      val ms = backfill(dir)
      Main.deleteTree(java.nio.file.Paths.get(dir))
      ms
    }
    report.e2eMedians("throughput_per_s") = backfillMs.map(ms => points / (ms / 1000))
    Main.log("timed backfills done")
    report.samples("store_ms") = timedStore.map(_._2).toSeq
    report.e2e("cpu_s_per_kop") = cpu / (timedStore.size / 1000.0)

    val wrong = Check.answers(spark, archive, answered.toSeq)
    Main.log("answers checked")
    report.outcome(answered.size, wrong.size, "store queries that threw or answered wrongly")
    wrong.take(5).foreach(w => System.err.println(s"[store] wrong answer: $w"))

    if (conf.trace) {
      // Untimed: every slice query once, dumped for its oracle check;
      // this also warms the JVM for the timed pass.
      Analytics.dumpForOracle(spark, tables, s"${conf.work}/oracle_out")
      Main.log("slice dumped")
      val sliceMs = Analytics.queries.map { case (layer, q) =>
        val name = Analytics.metricName(layer, q.name)
        val (ok, ms) = Main.timedMs(Analytics.execute(spark, tables, layer, q, name))
        report.outcome(1, if (ok) 0 else 1, s"slice query ${q.name} threw")
        name -> ms
      }
      Main.log("slice pass done")
      report.e2e("analytics_total_s") = sliceMs.map(_._2).sum / 1000
      sliceMs.foreach { case (name, ms) =>
        report.layers(s"${name}_s") = ms / 1000
        report.layers(s"${name}_shuffle_bytes") = l.stages.shuffleBytes(name).toDouble
        report.layers(s"${name}_executor_cpu_s") = l.stages.cpuSeconds(name)
      }
      def kindMs(kind: String): Seq[Double] = timedStore.filter(_._1.kind == kind).map(_._2).toSeq
      report.layerMedians("query.dashboard_ms") = kindMs("dashboard")
      report.layerMedians("query.downsample_ms") = kindMs("downsample")
      report.layerMedians("query.export_ms") = kindMs("export")
      report.layerMedians("batch.rolling_ms") = kindMs("rolling")
      report.layerMedians("batch.resample_ms") = kindMs("resample")
      report.layerMedians("query.files_scanned") = scanned.map(_.toDouble)

      // Read and write split apart: the backfill result is cached, so the
      // write is timed on its own.
      val rows = Store.backfillRows(spark, archive).persist()
      val (distinct, readMs) = Main.timedMs(Trace.span("batch.backfill_read")(rows.count()))
      val (_, writeMs) = Main.timedMs(Trace.span("sinks.write_batch")(
        TelemetrySink.writeBatch(Store.toPoints(rows), s"$root/store-split", "archive")))
      rows.unpersist()
      val fetched = Store.fetchedRows(spark, archive)
      report.layers("batch.backfill_read_ms") = readMs
      report.layers("sinks.write_batch_ms") = writeMs
      report.layers("batch.overlap_dup_ratio") = (fetched - distinct).toDouble / fetched
    }
  }
}
