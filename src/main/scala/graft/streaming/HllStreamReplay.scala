package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** q105 — streaming APPROXIMATE cardinality: per-event-type HyperLogLog
  * registers maintained in `MapState`, one audience estimate emitted per
  * key per micro-batch. This is the designed sublinear twin of q89's
  * exact `MapState` distinct (whose state is one entry per (type, user)
  * — linear in the distinct domain, the floor for exactness): here state
  * is AT MOST m = 2^p register entries per key, CONSTANT in both stream
  * length and distinct-user count, which is the version of audience
  * accounting that still fits a state store when the key space is users
  * at 100 TB.
  *
  * The register update (pointwise max) is commutative and idempotent,
  * so — unlike the running-counter replays — this operator's output is
  * insensitive to arrival order WITHIN a batch and to duplicate
  * delivery; only the batch boundaries matter, and those are pinned by
  * the time-split spool. One point update per row (`MapState` point
  * `getValue`/`updateValue`, not a serialized blob rewrite), one
  * estimator evaluation per key per batch.
  *
  * The estimate replays `graft.sketch.Sketches.hllEstimate`'s arithmetic
  * EXACTLY (same md5-h60 register hash, the harmonic sum as an integer
  * at fixed-point 2^61, one IEEE division, linear-counting ln through
  * DECIMAL(27,12) semantics) — so the DuckDB oracle reconstructs every
  * emitted estimate integer-exactly from the raw events (q105).
  */
object HllStreamReplay {

  val P = 10
  val M: Int = 1 << P

  final case class HllEvent(event_type: String, user_id: Long, cut: Int)
  final case class HllStat(event_type: String, batch: Int, batch_rows: Long,
      n_reg: Long, n_zero: Long, est: Double)

  /** JVM replica of [[graft.dedup.Dedup.h60]] (first 15 hex chars of
    * md5, parsed base-16) — bit-identical to the SQL form, pinned by
    * HllStreamSpec against the Column version. */
  def h60(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)

  /** (reg_idx, rho) for a user id, replicating
    * [[graft.sketch.Sketches.hllRegisters]]: index = low p bits of h60,
    * rank = (60-p+1) − bitlen(h >> p). */
  def regOf(userId: Long): (Int, Int) = {
    val h = h60(userId.toString)
    val rem = h >>> P
    val bitlen = if (rem == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(rem)
    ((h & (M - 1)).toInt, (60 - P + 1) - bitlen)
  }

  /** Estimator over the present registers' ranks — the exact arithmetic
    * of [[graft.sketch.Sketches.hllEstimate]] in JVM form: harmonic sum
    * as a BigInt at fixed-point 2^61 (exact, association-free), raw
    * estimate = α·m²·2^61 / that in one correctly-rounded division;
    * small-range branch = m·ln(m/n_zero) with the ln rounded to 12
    * decimals half-up (Spark's double→DECIMAL(27,12) cast semantics)
    * and the product correctly rounded back to double. */
  def estimate(ranks: Iterable[Int]): (Long, Long, Double) = {
    val nReg = ranks.size.toLong
    val nZero = M - nReg
    var z = BigInt(nZero) << 61
    ranks.foreach(r => z += BigInt(1) << (61 - r))
    val raw = graft.sketch.Sketches.alphaNumerator(P) / z.toDouble
    val est =
      if (raw <= 2.5 * M && nZero > 0) {
        val lnDec = BigDecimal(math.log(M.toDouble / nZero.toDouble))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        (BigDecimal(M) * lnDec).toDouble
      } else raw
    (nReg, nZero, est)
  }

  final class HllProcessor
      extends StatefulProcessor[String, HllEvent, HllStat] {
    @transient private var regs: MapState[Int, Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getMapState[Int, Int]("regs",
        Encoders.scalaInt, Encoders.scalaInt, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[HllEvent],
        timers: TimerValues): Iterator[HllStat] = {
      // Register max is commutative: fold the WHOLE batch into a local
      // map (hashing each distinct user once via the memo), then touch
      // the state store once per dirty register (≤ m = 2^p entries) —
      // the shared BatchedMapState law, same as q110's counters
      // (VERDICT r12 #5); the previous form paid 2-3 RocksDB point-ops
      // + one md5 PER ROW.
      var batchRows = 0L
      var batch = 0
      val local = new java.util.HashMap[Int, Int]()
      val regMemo = new java.util.HashMap[Long, (Int, Int)]()
      rows.foreach { r =>
        batchRows += 1
        if (r.cut > batch) batch = r.cut
        var ir = regMemo.get(r.user_id)
        if (ir == null) {
          ir = regOf(r.user_id)
          regMemo.put(r.user_id, ir)
        }
        local.merge(ir._1, ir._2, (a, b) => math.max(a, b))
      }
      BatchedMapState.mergeInto(regs, local, (a: Int, b: Int) => math.max(a, b))
      val ranks = regs.iterator().map(_._2).toArray
      val (nReg, nZero, est) = estimate(ranks)
      Iterator.single(HllStat(key, batch, batchRows, nReg, nZero, est))
    }
  }

  /** The operator: one `(event_type, batch, batch_rows, n_reg, n_zero,
    * est)` row per key per micro-batch — a streaming cardinality
    * monitor. `cut` must label each row's micro-batch (the replay
    * derives it from the time-split bounds, a production reader from
    * its trigger). */
  def runningEstimate(ds: Dataset[HllEvent]): Dataset[HllStat] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.event_type)
      .transformWithState(new HllProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  private val Cols = Seq("user_id", "event_type")

  /** Run the replay; returns
    * `(event_type, batch, batch_rows, n_reg, n_zero, est)`. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val spool = ReplayScaffold.eventsSpool(spark, dir, "q105",
      s"cuts=${ReplayScaffold.DefaultCuts.mkString("|")};manifest", Cols,
      ReplayScaffold.timeSplit)

    import spark.implicits._
    // batch label = the row's time slice, a pure function of the DATA,
    // not of file arrival
    val in = ReplayScaffold.manifestStream(spark, spool, ReplayScaffold.eventsSchema(Cols))
      .select(col("event_type"), col("user_id"), ReplayScaffold.cutLabel.as("cut"))
      .as[HllEvent]
    val out = runningEstimate(in)
    ReplayScaffold.runToParquet(out.toDF(), spool).orderBy("event_type", "batch")
  }
}
