package graft

import org.apache.spark.sql.functions._
import graft.streaming.{HllStreamReplay, ReplayScaffold}
import graft.sketch.Sketches

class HllStreamSpec extends SparkSpec {
  import spark.implicits._

  test("regOf replicates Sketches.hllRegisters bit-for-bit") {
    val ids = (1L to 500L)
    val viaDf = Sketches.hllRegisters(
        ids.toDF("id"), col("id").cast("string"), Seq.empty, p = HllStreamReplay.P)
      .collect().map(r => (r.getLong(0).toInt, r.getInt(1))).toMap
    // DataFrame side groups to max per reg; replay the same fold in JVM form
    val viaJvm = ids.map(HllStreamReplay.regOf)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(viaDf == viaJvm)
  }

  test("estimate replicates Sketches.hllEstimate on both branches") {
    for (n <- Seq(40L, 5000L)) { // linear-counting range and raw range
      val ids = (1L to n)
      val regs = ids.map(HllStreamReplay.regOf)
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val (nReg, nZero, est) = HllStreamReplay.estimate(regs.values)
      val row = Sketches.hllDistinct(ids.toDF("id"), col("id").cast("string"),
        Seq.empty, p = HllStreamReplay.P).collect().head
      assert(row.getLong(0) == nReg && row.getLong(1) == nZero)
      assert(row.getDouble(2) == est, s"n=$n: df ${row.getDouble(2)} != jvm $est")
    }
  }

  test("replay end-to-end: per-batch estimates equal batch-prefix sketches, state bounded") {
    val out = HllStreamReplay.run(spark, sf()).collect()
    assert(out.nonEmpty)
    // per key: batches strictly increasing, n_reg non-decreasing (registers
    // only ever gain), and every (key, batch) estimate equals the BATCH
    // form of the sketch over that key's prefix of the raw events
    val ev = Tables.events(spark, sf())
      .select(col("event_type"), col("user_id"), col("ts").cast("timestamp").as("ts"))
    val cutsTs = ReplayScaffold.DefaultCuts.map(java.sql.Timestamp.valueOf)
    val evRows = ev.collect().map { r =>
      val ts = r.getTimestamp(2)
      val b = cutsTs.indexWhere(c => ts.before(c)) match {
        case -1 => cutsTs.length; case i => i }
      (r.getString(0), r.getLong(1), b)
    }
    out.groupBy(_.getString(0)).foreach { case (key, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).distinct.length == sorted.length)
      val nRegs = sorted.map(_.getLong(3))
      assert(nRegs.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
      sorted.foreach { r =>
        val b = r.getInt(1)
        val prefix = evRows.filter(e => e._1 == key && e._3 <= b)
        assert(r.getLong(2) == evRows.count(e => e._1 == key && e._3 == b),
          "batch_rows mismatch")
        val regs = prefix.map(e => HllStreamReplay.regOf(e._2))
          .groupBy(_._1).view.mapValues(_.map(_._2).max)
        val (nReg, nZero, est) = HllStreamReplay.estimate(regs.values.toSeq)
        assert(r.getLong(3) == nReg && r.getLong(4) == nZero)
        assert(r.getDouble(5) == est, s"$key batch $b: ${r.getDouble(5)} != $est")
      }
      // the state bound: registers can never exceed m
      assert(nRegs.last <= HllStreamReplay.M)
    }
  }
}
