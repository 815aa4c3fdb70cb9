package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch source with ROW-LEVEL incremental offsets —
  * the Spark-native form of the reference's LCO API pattern
  * (cerebro/sources/lco.py:116-122): each poll fetches only records with
  * `ts` greater than the last seen timestamp, and that timestamp IS the
  * stream's offset (checkpointed by Spark, so restarts resume exactly).
  *
  * The "API" is modeled as a directory of append-only JSON-lines files
  * (`{"ts": <epochMillis>, "measurement": "...", "value": <double>}`) —
  * the shape an HTTP poller would spool. Unlike Spark's built-in file
  * source (which tracks FILES), offsets here are event-time values, so a
  * file may keep growing and only new rows are consumed: `latestOffset`
  * finds the current max ts on the driver via a per-file
  * `(length -> maxTs)` cache ([[SpoolTracker]]) — only files whose size
  * changed since the last trigger are re-read, so steady-state driver
  * work is file-metadata only, O(new bytes), not O(total spool bytes).
  * Each micro-batch plans one partition per file, with executors parsing
  * and filtering `start < ts <= end`.
  *
  * ==Monotonic-append contract==
  * Because the offset IS an event timestamp, writers MUST append rows
  * with non-decreasing `ts` per table (the reference makes the same
  * assumption: its next poll starts at the last row's ts,
  * lco.py:116-122). A row written with `ts` at or below an
  * already-committed offset — a late writer, or clock skew between
  * spool writers — is permanently skipped: it falls outside every
  * future `(start, end]` window. If writers cannot guarantee this,
  * spool to per-writer directories (one stream each) or switch to a
  * file-tracking source.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.IncrementalSource")
  *   .option("path", dir).load()
  * }}}
  */
class IncrementalSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IncrementalSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new IncrementalTable(properties.get("path"))
}

object IncrementalSource {
  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("measurement", StringType),
    StructField("value", DoubleType)))

  private[sources] def listFiles(path: String): Seq[File] = {
    val d = new File(path)
    if (!d.exists()) Nil
    else d.listFiles().filter(f => f.isFile && f.getName.endsWith(".jsonl")).sortBy(_.getName).toSeq
  }
}

/** Driver-side high-water-mark tracker with a per-file `(length -> maxTs)`
  * cache. `latestOffset` runs every trigger on the driver, so a naive
  * implementation (re-parse every line of every spool file) is O(total
  * spool bytes) per trigger — the tracker instead stats each file and
  * re-reads ONLY files whose length changed. This is exact under the
  * documented monotonic-append contract: an unchanged byte length means
  * unchanged content (files are append-only), hence unchanged maxTs.
  * Entries for deleted files are evicted so the cache is bounded by the
  * live file count.
  *
  * `lineReader` is injectable for tests (a counting reader proves
  * unchanged files perform zero line reads); the default streams the
  * file and closes the handle when drained (a leaked handle here would
  * exhaust driver fds on a long-running stream).
  */
private[graft] final class SpoolTracker(
    path: String,
    lineReader: File => Iterator[String] = SpoolTracker.closingLines) {
  private val mapper = new ObjectMapper()
  private val cache = scala.collection.mutable.HashMap.empty[String, (Long, Long)]

  /** The file's max ts, and whether its lines were all whole (see
    * [[JsonlLines]]). */
  private def scanMax(f: File): (Long, Boolean) = {
    val it = lineReader(f)
    try {
      val m = it.foldLeft(Long.MinValue) { (m, line) =>
        if (line.trim.isEmpty) m
        else math.max(m, mapper.readTree(line).get("ts").asLong())
      }
      (m, it match { case l: JsonlLines => !l.torn; case _ => true })
    } finally it match {
      case c: AutoCloseable => c.close()
      case _ => ()
    }
  }

  /** Spool files that may hold rows with ts > `afterTs`: a file whose
    * cached maxTs is at or below the threshold cannot contribute (maxTs
    * bounds every row), so steady-state micro-batches plan partitions
    * ONLY for files with new data instead of rescanning the whole spool
    * on the executors. Files not in the cache (fresh stream resume, file
    * appeared mid-trigger) are included conservatively — the reader
    * filters by ts anyway, so pruning is an optimization, never a
    * correctness gate. */
  def filesNewerThan(afterTs: Long): Seq[File] =
    IncrementalSource.listFiles(path).filter { f =>
      cache.get(f.getAbsolutePath) match {
        case Some((len, ts)) if len == f.length() => ts > afterTs
        case _ => true
      }
    }

  /** Current max event ts across the spool; file-metadata-only for files
    * whose length is unchanged since the previous call. */
  def maxTs(): Long = {
    val files = IncrementalSource.listFiles(path)
    var acc = Long.MinValue
    files.foreach { f =>
      val key = f.getAbsolutePath
      val len = f.length()
      val ts = cache.get(key) match {
        case Some((cachedLen, cachedTs)) if cachedLen == len => cachedTs
        case _ =>
          // a file with a torn last line is not cached: its length will
          // change when the writer completes the line
          val (t, whole) = scanMax(f)
          if (whole) cache.update(key, (len, t)) else cache.remove(key)
          t
      }
      acc = math.max(acc, ts)
    }
    val live = files.map(_.getAbsolutePath).toSet
    cache.keys.filterNot(live).toSeq.foreach(cache.remove)
    acc
  }
}

private[graft] object SpoolTracker {
  private[graft] def closingLines(f: File): Iterator[String] = new JsonlLines(f)
}

/** The lines of a JSON-lines spool file that a writer may be appending
  * to while it is read (the HTTP poller appends in place), so a read can
  * end inside the writer's last line. An unterminated last line that does
  * not parse is not yet written: it is not returned, and `torn` is set.
  * Any other bad line is returned for its reader to fail on. */
private[graft] final class JsonlLines(f: File) extends Iterator[String] with AutoCloseable {
  private val in = new java.io.BufferedReader(
    new java.io.InputStreamReader(new java.io.FileInputStream(f), UTF_8))
  var torn = false
  private var pending = readLine()

  private def readLine(): String = {
    val line = new java.lang.StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') { line.append(c.toChar); c = in.read() }
    if (c == '\n' || JsonlLines.parses(line.toString)) line.toString
    else { torn = line.length > 0; null }
  }

  override def hasNext: Boolean = pending != null
  override def next(): String = {
    if (pending == null) throw new NoSuchElementException("end of spool file")
    val line = pending
    pending = readLine()
    line
  }
  override def close(): Unit = in.close()
}

private object JsonlLines {
  private val mapper = new ObjectMapper()
  private def parses(line: String): Boolean =
    line.nonEmpty && (try { mapper.readTree(line); true } catch { case NonFatal(_) => false })
}

final class IncrementalTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"incremental($path)"
  override def schema(): StructType = IncrementalSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = IncrementalSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new IncrementalStream(path)
    }
}

/** Offset = the greatest event timestamp already delivered (epoch ms). */
final case class TsOffset(ts: Long) extends Offset {
  override def json(): String = s"""{"ts":$ts}"""
}

final class IncrementalStream(path: String) extends MicroBatchStream {
  // One tracker per stream instance: its per-file cache lives as long as
  // the query does, which is exactly the lifetime over which repeated
  // latestOffset() calls must stay cheap.
  private val tracker = new SpoolTracker(path)
  // MinValue (not 0) so pre-epoch / non-positive event times are delivered.
  override def initialOffset(): Offset = TsOffset(Long.MinValue)
  override def latestOffset(): Offset = TsOffset(tracker.maxTs())
  override def deserializeOffset(json: String): Offset =
    TsOffset(new ObjectMapper().readTree(json).get("ts").asLong())
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TsOffset].ts
    val e = end.asInstanceOf[TsOffset].ts
    if (e <= s) Array.empty
    // prune files whose known maxTs <= start: they cannot hold rows in
    // (start, end], so executors scan only files with new data
    else tracker.filesNewerThan(s)
      .map(f => JsonlRangePartition(f.getAbsolutePath, s, e): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[JsonlRangePartition]
      new JsonlRangeReader(p)
    }
}

final case class JsonlRangePartition(file: String, startExclusive: Long, endInclusive: Long)
  extends InputPartition

/** Executor-side reader: stream the file, keep rows in (start, end]. A
  * torn last line ends the read (see [[JsonlLines]]): the driver's
  * [[SpoolTracker]] did not count its row, so a later batch delivers it. */
final class JsonlRangeReader(p: JsonlRangePartition) extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val lines = new JsonlLines(new File(p.file))
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      if (line.trim.nonEmpty) {
        val node = mapper.readTree(line)
        val ts = node.get("ts").asLong()
        if (ts > p.startExclusive && ts <= p.endInclusive) {
          row = InternalRow(
            ts * 1000L, // epoch ms -> Catalyst micros
            UTF8String.fromString(node.get("measurement").asText()),
            node.get("value").asDouble())
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}
