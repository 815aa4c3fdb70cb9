package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.control.{Engine, EngineConfig}
import graft.control.EngineConfig.SourceConf
import graft.model.Point
import graft.sources.{LiveSource, Parsers, SpoolFanIn}

/** Every spool-backed source of an engine reads through one file stream
  * ([[SpoolFanIn]]): per-source options, tags and buckets still apply per
  * source, and the query has one source in its progress and checkpoint. */
class SpoolFanInSpec extends SparkSpec {

  private val t0 = 1704067205000L // 2024-01-01T00:00:05Z
  private val sens4Reply = "@253ACKQ1.10E-04,2.00E-02,3.00E-03,25.40,x\\"
  private def goveeReply(addr: String, temp: Double) =
    s"$addr $temp 40.2 x 2024-01-01T00:00:00"

  private def spoolFile(dir: Path, name: String, replies: Seq[String], ms: Long): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), replies.map(r => s"$r\t$ms").mkString("\n"))
  }

  private def active(name: String): StreamingQuery =
    spark.streams.active.find(_.name == name).get

  /** The spool read as a batch frame, with the split a spool source makes. */
  private def rawBatch(dir: Path): DataFrame = {
    val line = "^(.*)\\t([0-9]+)$"
    spark.read.text(dir.toString).select(
      regexp_extract(col("value"), line, 1).as("raw"),
      timestamp_millis(regexp_extract(col("value"), line, 2).cast(LongType)).as("recv_time"))
  }

  private def withTags(df: DataFrame, tags: Map[String, String]): DataFrame =
    df.withColumn(Point.Tags, map_concat(coalesce(col(Point.Tags), map()),
      map(tags.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)))

  private def bag(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  test("mixed parsers and per-source options store the rows per-source parsing gives") {
    val root = Files.createTempDirectory("graft-fanin-")
    val work = Files.createTempDirectory("graft-fanin-work-").toString
    // same leaf name under different parents; a space in one path
    val east = root.resolve("east/s1")
    val west = root.resolve("west/deep/s1")
    val th1 = root.resolve("therm/one")
    val th2 = root.resolve("therm/two words")
    val gv1 = root.resolve("govee/a")
    val gv2 = root.resolve("govee/b")
    val fx = root.resolve("files/agcam")
    spoolFile(east, "e-0.txt", Seq(sens4Reply, "garbage"), t0)
    spoolFile(east, "e-1.txt", Seq(sens4Reply), t0 + 1000)
    spoolFile(west, "e-0.txt", Seq(sens4Reply), t0 + 2000) // same file name as east's
    spoolFile(th1, "t-0.txt", Seq("!01000A"), t0)
    spoolFile(th2, "t-0.txt", Seq("!0100F1", "!01000A"), t0 + 500)
    // each govee spool holds both devices' replies; the address guard is per source
    for ((dir, i) <- Seq(gv1, gv2).zipWithIndex)
      spoolFile(dir, "g-0.txt", Seq(goveeReply("A4:C1:38:00:00:01", 20.0 + i),
        goveeReply("A4:C1:38:00:00:02", 30.0 + i)), t0)
    spoolFile(fx, "f-0.txt", Seq("1", "0", "x"), t0)

    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |  east: {type: spool, path: '$east', parser: sens4, ccd: r1,
         |         bucket: b1, tags: {src: east, site: a}}
         |  west: {type: spool, path: '$west', parser: sens4, ccd: r2, tags: {src: west}}
         |  th1: {type: spool, path: '$th1', parser: lvm_thermistors, channels: 4,
         |        mapping: {channel1: ln2_r1}}
         |  th2: {type: spool, path: '$th2', parser: lvm_thermistors, channels: 8,
         |        mapping: {channel0: ln2_b2, channel4: ccd_b2}, tags: {src: th2}}
         |  gv1: {type: spool, path: '$gv1', parser: govee, address: 'a4:c1:38:00:00:01',
         |        device: clu1}
         |  gv2: {type: spool, path: '$gv2', parser: govee, address: 'A4:C1:38:00:00:02',
         |        device: clu2, delay: 60, bucket: b2}
         |  fx: {type: spool, path: '$fx', parser: check_file_exists,
         |       file: /data/agcam/last_image.fits}
         |observers:
         |  fanin_mixed: {type: memory}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      val q = active("fanin_mixed")
      q.processAllAvailable()

      val perSource: Seq[(String, DataFrame)] = Seq(
        "east" -> withTags(Parsers.sens4(rawBatch(east), "r1", "b1"),
          Map("src" -> "east", "site" -> "a")),
        "west" -> withTags(Parsers.sens4(rawBatch(west), "r2"), Map("src" -> "west")),
        "th1" -> Parsers.thermistors(rawBatch(th1), Map("channel1" -> "ln2_r1"), 4),
        "th2" -> withTags(Parsers.thermistors(rawBatch(th2),
          Map("channel0" -> "ln2_b2", "channel4" -> "ccd_b2"), 8), Map("src" -> "th2")),
        "gv1" -> Parsers.govee(rawBatch(gv1), "a4:c1:38:00:00:01", "clu1"),
        "gv2" -> Parsers.govee(rawBatch(gv2), "A4:C1:38:00:00:02", "clu2", 60, "b2"),
        "fx" -> Parsers.fileExists(rawBatch(fx), "/data/agcam/last_image.fits"))
      val expected = perSource.map(_._2).reduce(_ unionByName _)
        .transform(graft.transforms.Transforms.normalize())
      val cols = Point.schema.fieldNames.map(col).toSeq
      val got = spark.table("fanin_mixed").select(cols: _*).collect().toSeq
      val want = expected.select(cols: _*).collect().toSeq
      assert(got.size == 2 + 1 + 4 + 16 + 2 + 2 + 2, got.mkString("\n"))
      assert(bag(got) == bag(want))

      // one file stream, and per-source counts in the observed metrics
      assert(q.recentProgress.forall(_.sources.length == 1))
      val observed = q.recentProgress.flatMap(p => Option(p.observedMetrics.get(SpoolFanIn.Observation)))
      assert(observed.nonEmpty)
      perSource.foreach { case (name, df) =>
        assert(observed.map(_.getAs[Long](name)).sum == df.count(), name)
      }
    } finally engine.stopAll()
  }

  test("a restart on the checkpoint stores every reply exactly once") {
    val root = Files.createTempDirectory("graft-fanin-restart-")
    val work = Files.createTempDirectory("graft-fanin-restart-work-").toString
    val dirs = Seq("a/spool", "b/spool", "c/deeper/spool").map(root.resolve)
    dirs.zipWithIndex.foreach { case (d, i) => spoolFile(d, "r-0.txt", Seq(sens4Reply), t0 + i) }
    val store = s"$work/store"
    val cfg = EngineConfig.parse(
      s"""
         |sources:
         |${dirs.zipWithIndex.map { case (d, i) =>
              s"  s$i: {type: spool, path: '$d', parser: sens4, tags: {src: s$i}}" }.mkString("\n")}
         |observers:
         |  fanin_store: {type: parquet, path: '$store'}
         |""".stripMargin)
    val engine = new Engine(spark)
    engine.start(cfg, work)
    try {
      active("fanin_store").processAllAvailable()
      engine.stop("fanin_store")
      for ((d, i) <- dirs.zipWithIndex; k <- 1 to 2)
        spoolFile(d, s"r-$k.txt", Seq(sens4Reply), t0 + 1000 * k + i)
      assert(engine.restart("fanin_store"))
      active("fanin_store").processAllAvailable()
      val rows = spark.read.parquet(store)
        .select(element_at(col(Point.Tags), "src").as("src"), col(Point.Time))
        .groupBy("src").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("s0" -> 3L, "s1" -> 3L, "s2" -> 3L))
      val sourceLogs = new java.io.File(s"$work/checkpoints/fanin_store/sources").list()
      assert(sourceLogs.toSeq == Seq("0"), "one file stream source in the checkpoint")
    } finally engine.stopAll()
  }

  test("a glob character in a spool path, or overlapping spools, fail the start") {
    val root = Files.createTempDirectory("graft-fanin-glob-")
    val ok = root.resolve("ok")
    Files.createDirectories(ok)
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    def pollerAlive: Boolean = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread]).exists(t => t.isAlive && t.getName == "graft-poller-live")
    def startFails(bad: Path): String = {
      // the live source's poller has started by the time the spools are
      // checked; a failed start must stop it
      val cfg = EngineConfig.parse(
        s"""
           |sources:
           |  good: {type: spool, path: '$ok', parser: sens4}
           |  bad: {type: spool, path: '$bad', parser: sens4}
           |  live: {type: tcp, host: 127.0.0.1, port: $port, parser: sens4,
           |         path: '${root.resolve("live")}'}
           |observers:
           |  fanin_glob: {type: memory}
           |""".stripMargin)
      val e = intercept[IllegalArgumentException] {
        new Engine(spark).start(cfg, root.resolve("work").toString)
      }
      assert(!spark.streams.active.exists(_.name == "fanin_glob"))
      assert(!pollerAlive, "a failed start must stop the pollers it started")
      e.getMessage
    }
    for (c <- "{}[]*?\\,") {
      val bad = root.resolve(s"bad${c}dir")
      Files.createDirectories(bad)
      val msg = startFails(bad)
      assert(msg.contains(bad.toString) && msg.contains("glob"), s"$c: $msg")
    }
    // one directory cannot tell two sources apart, nor can nested ones
    for (bad <- Seq(ok, ok.resolve("inner"))) {
      Files.createDirectories(bad)
      assert(startFails(bad).contains("overlap"))
    }
  }

  test("a large batch lists on the driver; the caller's session conf is unchanged") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(key)
    val dir = Files.createTempDirectory("graft-fanin-listing-")
    (0 until 40).foreach(i => spoolFile(dir, f"r-$i%03d.txt", Seq(sens4Reply), t0 + i))
    val listingJobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
        if (d.startsWith("Listing leaf files")) listingJobs.incrementAndGet()
        if (d == "fanin-listing-marker") marker.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val engine = new Engine(spark)
    try {
      engine.start(EngineConfig.parse(
        s"""
           |sources:
           |  many: {type: spool, path: '$dir', parser: sens4}
           |observers:
           |  fanin_listing: {type: memory}
           |""".stripMargin), Files.createTempDirectory("graft-fanin-listing-work-").toString)
      active("fanin_listing").processAllAvailable()
      assert(spark.table("fanin_listing").count() == 40)
      // listener events arrive in order: once a later job's is seen, the
      // drain's are counted
      spark.sparkContext.setJobDescription("fanin-listing-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(listingJobs.get() == 0, "the 40-file batch must not be listed by a Spark job")
      assert(spark.conf.getOption(key) == before)
    } finally {
      engine.stopAll()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("LiveSource retention: a spool file swept after it is listed is skipped, not fatal") {
    // the read options a retention-sweeping LiveSource hands the fan-in
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val live = LiveSource(SourceConf("lv", "tcp", Map("host" -> "127.0.0.1",
      "port" -> port.toString, "parser" -> "sens4", "retention_ms" -> "3600000",
      "path" -> Files.createTempDirectory("graft-fanin-live-").toString), None, Map.empty))
    val readOptions = try live.spool().readOptions finally live.stopWriter()
    assert(readOptions == Map("ignoreMissingFiles" -> "true"))

    // a batch plans its files at listing time; SweptFileSystem deletes a
    // `-swept-` file when the read task opens it, as a sweep landing
    // between listing and reading would
    spark.sparkContext.hadoopConfiguration.set("fs.swept.impl", classOf[SweptFileSystem].getName)
    def drain(name: String, readOptions: Map[String, String]): Long = {
      val dir = Files.createTempDirectory("graft-fanin-swept-")
      spoolFile(dir, "lv-swept-0.txt", Seq(sens4Reply), t0)
      spoolFile(dir, "lv-kept-1.txt", Seq(sens4Reply), t0 + 1)
      val src = graft.sources.SpoolSource(SourceConf(name, "spool",
        Map("path" -> s"swept://$dir", "parser" -> "sens4"), None, Map.empty), readOptions)
      val q = src.stream(spark).writeStream.format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).count()
    }
    assert(drain("fanin_swept_ignored", readOptions) == 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("fanin_swept_fatal", Map.empty)
    }
    assert(e.getMessage.contains("FAILED_READ_FILE"), e.getMessage)
  }
}

/** Local file system under the `swept:` scheme whose `open` first deletes
  * a file named `*-swept-*`: the file is listed, then gone when read. */
class SweptFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("swept:///")
  override def getScheme: String = "swept"
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.contains("-swept-")) Files.deleteIfExists(java.nio.file.Paths.get(f.toUri.getPath))
    super.open(f, bufferSize)
  }
}
