package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import com.fasterxml.jackson.core.JsonProcessingException
import graft.sources.{JsonlRangePartition, JsonlRangeReader, SpoolTracker}

/** The HTTP poller appends to its `.jsonl` spool in place while the
  * driver's [[SpoolTracker]] and the executors' [[JsonlRangeReader]]
  * parse it, so a read can end inside a line the writer has not
  * finished. Such a line is not yet written; any other bad line fails. */
class TornLineSpec extends SparkSpec {

  private def row(ts: Long, v: Double): String =
    s"""{"ts":$ts,"measurement":"temp","value":$v}"""

  test("a torn last line is not yet written, and is delivered once when completed") {
    val dir = Files.createTempDirectory("graft-torn-").toString
    val ckpt = Files.createTempDirectory("graft-torn-ckpt-").toString
    val file = Paths.get(dir, "dimm.jsonl")
    val third = row(3000L, 3.0)
    Files.writeString(file, s"${row(1000L, 1.0)}\n${row(2000L, 2.0)}\n${third.take(12)}")

    val tracker = new SpoolTracker(dir)
    assert(tracker.maxTs() == 2000L)
    val q = spark.readStream.format("graft.sources.IncrementalSource")
      .option("path", dir).load()
      .writeStream.queryName("torn_mem").format("memory")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def values: Seq[Double] =
      spark.sql("SELECT value FROM torn_mem ORDER BY value").collect().map(_.getDouble(0)).toSeq
    try {
      q.processAllAvailable()
      assert(values == Seq(1.0, 2.0))

      Files.writeString(file, third.drop(12) + "\n", StandardOpenOption.APPEND)
      assert(tracker.maxTs() == 3000L)
      q.processAllAvailable()
      assert(values == Seq(1.0, 2.0, 3.0))
    } finally q.stop()
  }

  test("a bad line that ends in a newline, or is not the last line, still fails") {
    val bad = """{"ts":20"""
    Seq(s"${row(1000L, 1.0)}\n$bad\n", s"${row(1000L, 1.0)}\n$bad\n${row(3000L, 3.0)}")
      .foreach { content =>
        val dir = Files.createTempDirectory("graft-bad-line-").toString
        val file = Paths.get(dir, "a.jsonl")
        Files.writeString(file, content)
        intercept[JsonProcessingException](new SpoolTracker(dir).maxTs())
        val reader = new JsonlRangeReader(
          JsonlRangePartition(file.toString, Long.MinValue, Long.MaxValue))
        try intercept[JsonProcessingException](while (reader.next()) ())
        finally reader.close()
      }
  }
}
