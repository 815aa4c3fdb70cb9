package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.control.{Engine, EngineConfig}

/** `ingest` workload: the deployed fan-in. Spool sources (Sens4 pressure
  * replies and ADAM thermistor replies, written by the generator process
  * that `run.py` starts) run through `Engine.start` into one parquet
  * observer.
  *
  *  - Set-up: `setupReps` fresh engines each start on a spool that holds
  *    one file per source and run until that first batch commits. The
  *    last one stays up as the live engine.
  *  - Live phase (open loop): the generator publishes at a fixed rate;
  *    this side samples its own CPU time and records every trigger's
  *    progress. `run.py` joins the generator's stamps to trigger commits.
  *  - Catch-up phase: the observer stops, a pre-staged outage backlog is
  *    moved into the spools, and the observer restarts on its checkpoint
  *    and drains it.
  *
  * Directory protocol with `run.py` (all under `<work>/ingest`):
  * `sources.tsv` (name, parser), `rep<i>/spool`, `live/spool`,
  * `backlog/spool`; markers `ready` (written here) and `gen_done`
  * (written by `run.py` when the generator has exited). */
object Ingest {
  val Observer = "store"

  def sources(root: String): Seq[(String, String)] =
    Files.readAllLines(Paths.get(root, "sources.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l => val a = l.split("\t"); (a(0), a(1)) }

  /** Engine config: one spool source per generator source, each carrying
    * its own `src` tag, and one parquet observer. */
  def config(dir: String, srcs: Seq[(String, String)]): EngineConfig.Config = {
    val entries = srcs.map { case (name, parser) =>
      val extra = if (parser == "sens4") s"\n    ccd: $name" else ""
      s"""  $name:
         |    type: spool
         |    path: '$dir/spool/$name'
         |    parser: $parser$extra
         |    tags: {src: $name}""".stripMargin
    }
    EngineConfig.parse(
      s"""sources:
         |${entries.mkString("\n")}
         |observers:
         |  $Observer:
         |    type: parquet
         |    path: '$dir/store'
         |    default_bucket: sensors
         |""".stripMargin)
  }

  private def activeObserver(spark: SparkSession): StreamingQuery =
    spark.streams.active.find(_.name == Observer)
      .getOrElse(throw new IllegalStateException("observer query is not running"))

  /** Start an engine on `dir` and run until everything already spooled is
    * committed. Returns the engine, the `Engine.start` call time and the
    * time to the commit of everything spooled (ms). */
  private def startAndDrain(spark: SparkSession, dir: String,
      srcs: Seq[(String, String)]): (Engine, Double, Double) = {
    val engine = new Engine(spark)
    val t0 = System.nanoTime()
    val (_, startMs) = Main.timedMs(Trace.span("control.engine_start")(engine.start(config(dir, srcs), dir)))
    Trace.span("streaming.drain")(activeObserver(spark).processAllAvailable())
    (engine, startMs, (System.nanoTime() - t0) / 1e6)
  }

  def run(spark: SparkSession, conf: RunConf, l: Listeners.Attached, report: Report): Unit = {
    val root = s"${conf.work}/ingest"
    val srcs = sources(root)
    val startMs = scala.collection.mutable.ArrayBuffer.empty[Double]

    // Set-up repetitions; the last engine stays up for the live phase.
    val reps = (1 to conf.setupReps).map { r =>
      val dir = if (r == conf.setupReps) s"$root/live" else s"$root/rep$r"
      val (engine, sMs, totalMs) = startAndDrain(spark, dir, srcs)
      startMs += sMs
      Main.log(f"set-up $r: ${totalMs / 1000}%.2f s")
      if (r < conf.setupReps) engine.stopAll()
      (engine, totalMs)
    }
    val engine = reps.last._1
    report.e2eMedians("setup_s") = reps.map(_._2 / 1000)
    Main.log("set-up done")
    val live = activeObserver(spark)

    // Live phase: sample CPU until the generator is done, then drain.
    val cpu = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    def sample(): Unit = cpu += Seq(System.currentTimeMillis().toDouble, Main.processCpuS())
    Files.writeString(Paths.get(root, "ready"), System.currentTimeMillis().toString)
    val limit = System.nanoTime() + ((conf.seconds + 120) * 1e9).toLong
    while (!Files.exists(Paths.get(root, "gen_done"))) {
      if (System.nanoTime() > limit) throw new IllegalStateException("generator never finished")
      sample()
      Thread.sleep(100)
    }
    sample()
    Trace.span("streaming.drain")(live.processAllAvailable())
    report.e2e("live_heap_mb") = Main.liveHeapMb()
    engine.stop(Observer)
    Listeners.flush(spark)
    report.samples("cpu") = cpu.toSeq
    report.samples("live_triggers") = l.triggers.triggers.filter(_.runId == live.runId.toString)
      .map(triggerJson)
    Main.log("live phase done")

    // Catch-up phase: while the observer is down an outage's worth of
    // replies lands in the spools; it restarts on its checkpoint and drains.
    moveAll(s"$root/backlog/spool", s"$root/live/spool")
    l.triggers.reset()
    val t0 = System.nanoTime()
    val (restarted, restartMs) = Main.timedMs(Trace.span("control.restart")(engine.restart(Observer)))
    if (!restarted) throw new IllegalStateException("observer restart failed")
    startMs += restartMs
    Trace.span("streaming.drain")(activeObserver(spark).processAllAvailable())
    report.samples("catchup_ms") = (System.nanoTime() - t0) / 1e6
    engine.stopAll()
    Listeners.flush(spark)
    report.samples("catchup_triggers") = l.triggers.triggers.map(triggerJson)
    Main.log("catch-up done")

    if (conf.trace) {
      report.layerMedians("control.engine_start_ms") = startMs.toSeq
      prefixTiming(spark, s"$root/live", srcs, report)
    }
  }

  /** Move every spool file of every source from one spool root to another. */
  private def moveAll(from: String, to: String): Unit =
    Files.list(Paths.get(from)).iterator().asScala.foreach { dir =>
      Files.list(dir).iterator().asScala.toSeq.foreach { f =>
        Files.move(f, Paths.get(to, dir.getFileName.toString, f.getFileName.toString),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }

  private def triggerJson(t: TriggerListener.Trigger): Map[String, Any] =
    Map("batch" -> t.batchId, "rows" -> t.rows, "start_ms" -> t.startMs, "phases" -> t.phases)

  /** The spool as a batch frame: the same raw-line split a spool source
    * makes, read once. */
  private def rawFrame(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StructType(Seq(StructField("value", StringType)))).text(path)
      .select(
        regexp_extract(col("value"), "^(.*)\\t([0-9]+)$", 1).as("raw"),
        timestamp_millis(regexp_extract(col("value"), "^(.*)\\t([0-9]+)$", 2).cast(LongType))
          .as("recv_time"))

  /** Prefix timing over the catch-up spool as batch frames: read, then
    * `Parsers.*`, then `Transforms.normalize`, then
    * `TelemetrySink.writeBatchIdempotent`. Each prefix runs three times;
    * `run.py` takes a layer's cost as the difference of the medians of two
    * prefixes. */
  private def prefixTiming(spark: SparkSession, dir: String, srcs: Seq[(String, String)],
      report: Report): Unit = {
    val raws = srcs.map { case (name, parser) => (name, parser, rawFrame(spark, s"$dir/spool/$name")) }
    val read = raws.map(_._3).reduce(_ unionByName _)
    val parsed = raws.map { case (name, parser, raw) =>
      if (parser == "sens4") graft.sources.Parsers.sens4(raw, name)
      else graft.sources.Parsers.thermistors(raw, Map.empty)
    }.reduce(_ unionByName _)
    val normalized = graft.transforms.Transforms.normalize()(parsed)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def reps(body: => Unit): Seq[Double] = (1 to 3).map(_ => Main.timedMs(body)._2)
    report.samples("prefix") = Map(
      "lines" -> read.count(),
      "points" -> normalized.count(),
      "read_ms" -> reps(noop(read)),
      "parse_ms" -> reps(noop(parsed)),
      "normalize_ms" -> reps(noop(normalized)),
      "write_ms" -> reps(graft.sinks.TelemetrySink.writeBatchIdempotent(
        normalized, s"$dir/prefix_store", 0L, "sensors")))
  }
}
