package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** q110 — streaming APPROXIMATE frequency: a count-min sketch (Cormode
  * & Muthukrishnan 2005) maintained per event_type in `MapState`, with
  * per-batch point-frequency estimates for a fixed probe set of users.
  * Completes the streaming-sketch family: q105 answers "how many
  * DISTINCT users so far" in constant state; this answers "how OFTEN
  * has user X appeared so far" in constant state (≤ depth×width = 3072
  * counter entries per key, independent of stream length and user
  * count) — the bounded-state twin of keeping an exact per-user counter
  * map, which is q89's linear-state shape.
  *
  * Like q105 (and unlike the running-counter replays q87/q89), counter
  * increments are COMMUTATIVE: output is insensitive to arrival order
  * within a batch and only batch boundaries matter — pinned by the
  * time-split spool.
  *
  * Hashing replays `graft.sketch.Sketches.cmBucket` exactly
  * (h60("j:" + user) % width), and every counter and min() is an exact
  * integer — the DuckDB oracle rebuilds all batch-prefix counters from
  * raw events and matches verbatim. CM guarantees estimate ≥ true
  * count (per key, per prefix), asserted in the spec.
  */
object CmStreamReplay {

  val Depth = 3
  val Width = 1024
  /** Fixed probe users — literal here so the processor, the query and
    * the oracle's VALUES list can never drift. */
  val ProbeUsers: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)

  final case class CmEvent(event_type: String, user_id: Long, cut: Int)
  final case class CmStat(event_type: String, batch: Int, user_id: Long, est: Long)

  /** JVM replica of [[graft.sketch.Sketches.cmBucket]]: h60("j:v") %
    * width (bit-identical to the SQL form; pinned in CmStreamSpec). */
  def bucketOf(j: Int, v: String): Int =
    (HllStreamReplay.h60(s"$j:$v") % Width).toInt

  final class CmProcessor
      extends StatefulProcessor[String, CmEvent, CmStat] {
    @transient private var counters: MapState[Int, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[Int, Long]("cm",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CmEvent],
        timers: TimerValues): Iterator[CmStat] = {
      // Increments commute, so aggregate the WHOLE batch in local maps
      // first and touch the state store once per dirty counter (≤ 3072)
      // instead of Depth times per row — and hash each distinct user
      // once, not once per occurrence. The first 16× run paid 6 RocksDB
      // point-ops + 3 md5s PER ROW and grew 7.8× for 16× data; batched,
      // state traffic is bounded by the sketch size per trigger.
      val local = new java.util.HashMap[Int, Long]()
      val keyMemo = new java.util.HashMap[Long, Array[Int]]()
      var batch = 0
      rows.foreach { r =>
        if (r.cut > batch) batch = r.cut
        var ks = keyMemo.get(r.user_id)
        if (ks == null) {
          ks = Array.tabulate(Depth)(j => j * Width + bucketOf(j, r.user_id.toString))
          keyMemo.put(r.user_id, ks)
        }
        var j = 0
        while (j < Depth) {
          local.merge(ks(j), 1L, (a, b) => a + b)
          j += 1
        }
      }
      BatchedMapState.mergeInto(counters, local, (a: Long, b: Long) => a + b)
      val b = batch
      ProbeUsers.iterator.map { u =>
        val est = (0 until Depth).map { j =>
          val k = j * Width + bucketOf(j, u.toString)
          if (counters.containsKey(k)) counters.getValue(k) else 0L
        }.min
        CmStat(key, b, u, est)
      }
    }
  }

  /** The operator: one `(event_type, batch, user_id, est)` row per
    * probe user per key per micro-batch. */
  def runningFrequency(ds: Dataset[CmEvent]): Dataset[CmStat] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.event_type)
      .transformWithState(new CmProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  private val Cols = Seq("user_id", "event_type")

  /** Run the replay; returns `(event_type, batch, user_id, est)`. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q110",
      s"cuts=${ReplayScaffold.DefaultCuts.mkString("|")};manifest", Cols,
      ReplayScaffold.timeSplit)

    import spark.implicits._
    // manifest-ordered arrival: the per-batch sketch snapshots are a
    // running state, order-sensitive across the time cuts
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
      .select(col("event_type"), col("user_id"), ReplayScaffold.cutLabel.as("cut"))
      .as[CmEvent]
    val out = runningFrequency(in)
    ReplayScaffold.runToParquet(out.toDF(), spool)
      .orderBy("event_type", "batch", "user_id")
  }
}
