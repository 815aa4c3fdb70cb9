package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.SlidingStateReplay
import graft.streaming.SlidingStateReplay.SlidePoint

/** Checkpoint recovery for the arbitrary-state API: a transformWithState
  * query stopped after its first micro-batch and RESTARTED on the same
  * checkpoint must restore per-key RocksDB state exactly — the resumed
  * run's output must equal an uninterrupted run's byte-for-byte. This is
  * the stop/upgrade/crash-at-batch-boundary guarantee a long-running
  * 100 TB stream leans on (changelog checkpointing is on by default in
  * GraftSession's state-store config). */
class RestartRecoverySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType),
    StructField("value", DoubleType)))

  // two keys; key 1's trailing-25µs window SPANS the file boundary, so a
  // restart that loses ListState would report n_win=1 for ts=30 instead
  // of 3 (10 and 20 still inside [5, 30])
  private val file1 = Seq((1L, 0L, 1.0), (1L, 10L, 2.0), (1L, 20L, 3.0),
    (2L, 5L, 9.0))
  private val file2 = Seq((1L, 30L, 4.0), (2L, 100L, 8.0))

  private def writeFile(dir: File, rows: Seq[(Long, Long, Double)], mtime: Long): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val before = Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    rows.toDF("user_id", "ts_us", "value").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && !before(f.getName))
      .foreach(_.setLastModified(mtime))
  }

  private def runStream(spool: File, out: File, ckpt: File): Unit = {
    import spark.implicits._
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(spool.toString)
      .as[SlidePoint]
    val q = SlidingStateReplay.slidingStats(in, windowUs = 25L)
      .toDF().writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  private def results(out: File): Seq[(Long, Long, Long, Double)] =
    spark.read.parquet(out.toString)
      .select("user_id", "ts_us", "n_win", "sum_win")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("a restarted transformWithState query restores state and matches the uninterrupted run") {
    val base = Files.createTempDirectory("graft-restart-").toFile
    val (spoolA, outA, ckptA) = (new File(base, "spoolA"),
      new File(base, "outA"), new File(base, "ckptA"))
    val (spoolB, outB, ckptB) = (new File(base, "spoolB"),
      new File(base, "outB"), new File(base, "ckptB"))
    spoolA.mkdirs(); spoolB.mkdirs()

    // uninterrupted: both files visible from the start (still 2 triggers)
    writeFile(spoolA, file1, 1000000000000L)
    writeFile(spoolA, file2, 1000000100000L)
    runStream(spoolA, outA, ckptA)

    // interrupted: run to completion on file 1 ONLY, stop (checkpoint
    // commits batch 1), then file 2 appears and a NEW query resumes from
    // the same checkpoint — state must come back from RocksDB
    writeFile(spoolB, file1, 1000000000000L)
    runStream(spoolB, outB, ckptB)
    writeFile(spoolB, file2, 1000000100000L)
    runStream(spoolB, outB, ckptB)

    val a = results(outA)
    val b = results(outB)
    assert(a == b, s"restarted run diverged:\n uninterrupted: $a\n restarted:    $b")
    // and the cross-restart window really carried: key 1 at ts=30 sees
    // rows 10, 20 (from the pre-restart batch) and itself
    val k1at30 = b.find(t => t._1 == 1L && t._2 == 30L).get
    assert(k1at30._3 == 3 && k1at30._4 == (2.0 * 100 + 3.0 * 100 + 4.0 * 100).toLong / 100.0,
      s"state lost across restart: $k1at30")
  }
}
