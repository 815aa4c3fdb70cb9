package graft

import org.apache.spark.sql.functions._
import graft.streaming.{CmStreamReplay, ReplayScaffold}
import graft.sketch.Sketches

class CmStreamSpec extends SparkSpec {
  import spark.implicits._

  test("bucketOf replicates Sketches.cmBucket bit-for-bit") {
    val vals = (1L to 300L).map(_.toString)
    for (j <- 0 until CmStreamReplay.Depth) {
      val viaDf = vals.toDF("v")
        .select(col("v"), Sketches.cmBucket(col("v"), j, CmStreamReplay.Width).as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
      vals.foreach { v =>
        assert(viaDf(v) == CmStreamReplay.bucketOf(j, v), s"j=$j v=$v")
      }
    }
  }

  test("replay end-to-end: estimates equal batch-prefix counters and bound true counts") {
    val out = CmStreamReplay.run(spark, sf()).collect()
    assert(out.nonEmpty)
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
      rows.groupBy(_.getInt(1)).foreach { case (b, probeRows) =>
        assert(probeRows.length == CmStreamReplay.ProbeUsers.length)
        val prefix = evRows.filter(e => e._1 == key && e._3 <= b)
        // rebuild the prefix counters
        val counters = scala.collection.mutable.Map.empty[(Int, Int), Long]
        prefix.foreach { e =>
          for (j <- 0 until CmStreamReplay.Depth) {
            val k = (j, CmStreamReplay.bucketOf(j, e._2.toString))
            counters(k) = counters.getOrElse(k, 0L) + 1L
          }
        }
        probeRows.foreach { r =>
          val u = r.getLong(2)
          val want = (0 until CmStreamReplay.Depth).map { j =>
            counters.getOrElse((j, CmStreamReplay.bucketOf(j, u.toString)), 0L)
          }.min
          assert(r.getLong(3) == want, s"$key batch $b user $u: ${r.getLong(3)} != $want")
          // the CM guarantee: estimate never undercounts the true frequency
          val truth = prefix.count(_._2 == u).toLong
          assert(r.getLong(3) >= truth, s"$key batch $b user $u: est ${r.getLong(3)} < true $truth")
        }
      }
      // per key: estimates are non-decreasing in batch per probe user
      // (counters only grow), and the state key space is bounded
      CmStreamReplay.ProbeUsers.foreach { u =>
        val ests = rows.filter(_.getLong(2) == u).sortBy(_.getInt(1)).map(_.getLong(3))
        assert(ests.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
      }
    }
    // state bound is structural: keys live in [0, Depth*Width)
    assert(CmStreamReplay.Depth * CmStreamReplay.Width == 3072)
  }
}
