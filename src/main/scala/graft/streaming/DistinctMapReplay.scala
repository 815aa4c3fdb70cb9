package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** q89 — `MapState` on the Spark 4 arbitrary-state API, completing the
  * primitive matrix (q86 ListState, q87 corpus-seeded MapState, q88
  * event-time timers). The use case: per-event-type RUNNING DISTINCT
  * USER counts — audience accounting over a stream. A running distinct
  * needs per-key membership, which is exactly what `MapState` models in
  * the state store: one RocksDB entry per (type, user) pair, point
  * `containsKey`/`updateValue` per row — NOT a serialized blob the way
  * a set in `ValueState` would be, which is the difference between
  * O(1) per-row state IO and rewriting an ever-growing set per row at
  * scale.
  *
  * State layout: the running count lives INSIDE the same `MapState`
  * under a sentinel key, so the processor registers exactly ONE state
  * handle and each row costs one `containsKey` plus at most one
  * `updateValue`.
  *
  * The sentinel key is `Long.MinValue`, unreachable by construction:
  * user ids are nonnegative in the events contract, and the processor
  * requires it (a violating row would corrupt the count silently
  * otherwise).
  *
  * Cross-batch proof: four time-split batches; the map must carry
  * membership across every cut or re-seen users re-count and the
  * running totals drift from the oracle. The DuckDB replay marks each
  * row's first-seen flag (`row_number() = 1` per (type, user)) and
  * cumulative-sums it in event-time order — exact because per-key
  * processing order is event-time order ((type, ts) is duplicate-free)
  * and the arithmetic is integer.
  *
  * Scale shape: state = one map entry per distinct (type, user) —
  * linear in the distinct domain, the floor for EXACT distinct; the
  * library's `approxDistinct` (HLL) is the sublinear alternative when
  * exactness can be traded. */
object DistinctMapReplay {

  final case class TypedEvent(event_type: String, user_id: Long, ts_us: Long)
  final case class DistinctStat(event_type: String, ts_us: Long,
      user_id: Long, distinct_users: Long)

  /** Sentinel map key carrying the running count — outside the user-id
    * domain (ids are nonnegative; asserted per row). */
  val CountKey: Long = Long.MinValue

  /** ONE state handle: membership AND the running count share the map.
    * Map values are counts (1 for a member entry, n for the sentinel) so
    * both uses fit one `MapState[Long, Long]`. */
  final class DistinctProcessor
      extends StatefulProcessor[String, TypedEvent, DistinctStat] {
    @transient private var seen: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[Long, Long]("seen",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[TypedEvent],
        timers: TimerValues): Iterator[DistinctStat] = {
      var n = if (seen.containsKey(CountKey)) seen.getValue(CountKey) else 0L
      val out = rows.toArray.sortBy(_.ts_us).map { r =>
        require(r.user_id >= 0, s"user_id ${r.user_id} collides with the count sentinel")
        if (!seen.containsKey(r.user_id)) {
          seen.updateValue(r.user_id, 1L)
          n += 1
        }
        DistinctStat(key, r.ts_us, r.user_id, n)
      }
      seen.updateValue(CountKey, n)
      out.iterator
    }
  }

  /** The operator: running exact distinct-user count per event type. */
  def runningDistinct(ds: Dataset[TypedEvent]): Dataset[DistinctStat] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.event_type)
      .transformWithState(new DistinctProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  private val Cols = Seq("user_id", "event_type")

  /** Run the replay; returns `(event_type, ts, user_id, distinct_users)`. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q89",
      s"cuts=${ReplayScaffold.DefaultCuts.mkString("|")};manifest", Cols,
      ReplayScaffold.timeSplit)

    import spark.implicits._
    // manifest-ordered arrival (batch i = batch-i.jsonl by NAME): the
    // running distinct is order-sensitive across the time cuts
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[TypedEvent]
    val out = runningDistinct(in)
      .select(col("event_type"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("distinct_users"))
    ReplayScaffold.runToParquet(out.toDF(), spool).orderBy("event_type", "ts")
  }
}
