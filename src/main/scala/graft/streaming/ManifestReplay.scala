package graft.streaming

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch source that replays a staged spool in
  * FILENAME-MANIFEST order: trigger i serves exactly the files named
  * `batch-<i padded>[-pJJ].jsonl` — one staged batch, possibly sharded
  * into parts for parallel executor parse — nothing else, in index
  * order.
  *
  * Why this exists (VERDICT r12 #1): the order-sensitive state replays
  * (q86–q89 running counters, q105/q110 running sketches) previously
  * rode Spark's file stream source, whose batch order is derived from
  * file MODIFICATION TIMES — filesystem metadata. Two rounds of driver
  * hash-mismatches on q87/q89 against nine locally-green runs localized
  * the fault to exactly that contract: mtimes are environment-owned
  * (filesystem granularity, copies, backup restores, overlay mounts all
  * rewrite them), so "pin and verify the mtime" defends the build but
  * can never own the replay. This source removes the dependence instead
  * of defending it: arrival order is the lexicographic order of the
  * staged batch FILENAMES — a pure code contract the spool writer
  * controls — and mtimes are never consulted.
  *
  * Offsets are batch indices (`{"n":k}` = k staged batches delivered),
  * and admission control delivers exactly ONE staged batch per trigger
  * (`latestOffset(start) = min(start+1, total)`), the replay equivalent
  * of `maxFilesPerTrigger=1` without the file source's listing
  * semantics. Checkpointed offsets resume exactly: batch k is the same
  * file under every restart because the manifest is sorted by name.
  *
  * The spool contract: all staged batches are fully written BEFORE the
  * query starts (the [[ReplayScaffold]] build path guarantees it), so
  * the manifest is listed once per stream.
  *
  * Rows are JSON-lines with timestamps encoded as epoch MICROS longs
  * (written by [[ReplayScaffold.writeManifestBatch]]); the reader
  * converts per the user-supplied schema. Supported field types are the
  * replay-spool set: long, int, double, string, boolean, timestamp.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.streaming.ManifestReplaySource")
  *   .schema(spoolSchema).option("path", spool.toString).load()
  * }}}
  */
class ManifestReplaySource extends TableProvider {
  // schema is caller-supplied (.schema(...)); there is nothing to infer
  // from an empty spool and the replays know their shape statically
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "ManifestReplaySource requires an explicit .schema(...)")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ManifestReplayTable(properties.get("path"), schema)
}

object ManifestReplaySource {
  /** Supported spool field types — validated up front so an unsupported
    * schema fails at `load()`, not row-by-row on an executor. */
  private[graft] def validate(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | StringType |
             BooleanType | TimestampType => ()
        case dt => throw new IllegalArgumentException(
          s"ManifestReplaySource: unsupported spool field type $dt for '${f.name}'")
      }
    }

  /** Staged-batch filename shape: `batch-NNNNN[-pJJ].jsonl` — the index
    * is the arrival order, the optional part suffix shards one batch
    * across files for parallel executor parse. */
  private[graft] val BatchFile = "^(batch-\\d+)(?:-p\\d+)?\\.jsonl$".r

  /** The staged batches of `path` as (index key, part files) GROUPS in
    * manifest (lexicographic index) order — the replay's arrival order,
    * independent of any mtime. All parts of one index arrive together
    * in one trigger. */
  private[graft] def manifest(path: String): Seq[(String, Seq[File])] = {
    val d = new File(path)
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile)
      .flatMap(f => f.getName match {
        case BatchFile(idx) => Some((idx, f))
        case _ => None
      })
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => (k, v.map(_._2).sortBy(_.getName).toSeq) }
  }
}

final class ManifestReplayTable(path: String, schema0: StructType)
    extends Table with SupportsRead {
  ManifestReplaySource.validate(schema0)
  override def name(): String = s"manifestReplay($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema0
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ManifestReplayStream(path, schema0)
    }
}

/** Offset = number of staged batches already delivered. */
final case class BatchIndexOffset(n: Long) extends Offset {
  override def json(): String = s"""{"n":$n}"""
}

final class ManifestReplayStream(path: String, schema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl {

  // Listed ONCE per stream: the spool is fully staged before the query
  // starts (ReplayScaffold contract), so the manifest is immutable for
  // the stream's lifetime and every restart lists the same names.
  private lazy val groups: IndexedSeq[(String, Seq[File])] =
    ManifestReplaySource.manifest(path).toIndexedSeq

  override def initialOffset(): Offset = BatchIndexOffset(0)
  override def deserializeOffset(json: String): Offset =
    BatchIndexOffset(new ObjectMapper().readTree(json).get("n").asLong())
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // one staged batch per trigger, regardless of the engine's read limit:
  // the replay's per-trigger grouping IS the semantics under test
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    BatchIndexOffset(math.min(start.asInstanceOf[BatchIndexOffset].n + 1, groups.length.toLong))
  override def reportLatestOffset(): Offset = BatchIndexOffset(groups.length.toLong)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BatchIndexOffset].n.toInt
    val e = end.asInstanceOf[BatchIndexOffset].n.toInt
    groups.slice(s, e).flatMap(_._2)
      .map(f => JsonlBatchPartition(f.getAbsolutePath): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = schema // avoid serializing the stream itself
    (partition: InputPartition) =>
      new JsonlBatchReader(partition.asInstanceOf[JsonlBatchPartition], s)
  }
}

final case class JsonlBatchPartition(file: String) extends InputPartition

/** Executor-side reader: one JSON object per line → InternalRow per the
  * spool schema. Timestamps arrive as epoch-micros longs (the writer's
  * encoding), which IS Catalyst's internal timestamp representation, so
  * no conversion beyond the parse. Missing fields read as null. */
final class JsonlBatchReader(p: JsonlBatchPartition, schema: StructType)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  // UTF-8 pinned (ADVICE r13 #2): the writer (Spark .write.text of
  // toJSON) always emits UTF-8, but Source.fromFile defaults to the
  // PLATFORM charset — on a non-UTF-8 locale non-ASCII document text
  // would decode wrongly, environment-owned nondeterminism this source
  // exists to remove.
  private val source = scala.io.Source.fromFile(p.file)(scala.io.Codec.UTF8)
  private val lines = source.getLines()
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      if (line.trim.nonEmpty) {
        val node = mapper.readTree(line)
        row = InternalRow.fromSeq(schema.fields.toSeq.map { f =>
          val v = node.get(f.name)
          if (v == null || v.isNull) null
          else f.dataType match {
            case LongType | TimestampType => v.asLong()
            case IntegerType => v.asInt()
            case DoubleType => v.asDouble()
            case StringType => UTF8String.fromString(v.asText())
            case BooleanType => v.asBoolean()
            case dt => throw new IllegalStateException(s"unreachable: $dt")
          }
        })
        return true
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = source.close()
}
