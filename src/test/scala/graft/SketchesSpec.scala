package graft

import org.apache.spark.sql.functions._
import graft.sketch.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("HLL distinct within rsd of exact") {
    val o = Tables.orders(spark, sf())
    val exact = o.select(count_distinct(col("o_custkey"))).as[Long].head()
    val approx = o.select(Sketches.approxDistinct(col("o_custkey"), 0.05)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.15)
  }

  test("histogram bins stay exact past 2^53 (integral floor division pinned)") {
    // The q100 oracle's `//` is true integer division; the IEEE path
    // (floor(a/b) on doubles) is only exact below 2^53. The testdata's
    // values never reach that magnitude, so the oracle hash cannot
    // distinguish the two — this planted fixture pins the engine-side
    // integral `div` directly so a future regeneration with
    // long-magnitude values cannot silently reopen the divergence
    // (VERDICT r13 #5; the r12 fix was ADVICE r12 #4).
    val vs = Seq(1L << 53, (1L << 53) + 1L, (1L << 62) + 12345L)
    val w = 7L
    assert(vs.exists(v => v / w != math.floor(v.toDouble / w).toLong),
      "fixture must distinguish integral from IEEE division")
    for (width <- Seq(1L, w)) {
      val got = Sketches.histogram(vs.toDF("v"), col("v"), Seq.empty, width)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = vs.map(_ / width).groupBy(identity)
        .map { case (b, g) => b -> g.size.toLong }
      assert(got == expected, s"width $width: $got != $expected")
    }
  }

  test("count-min over-counts only; bloom has no false negatives") {
    val e = Tables.events(spark, sf())
    val cms = Sketches.countMin(e, "user_id", eps = 0.001)
    val truth = e.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    truth.take(10).foreach { case (k, n) =>
      assert(cms.estimateCount(k) >= n) // CMS never undercounts
    }
    val bf = Sketches.bloom(e.select("user_id").distinct(), "user_id", 1000)
    truth.keys.take(20).foreach(k => assert(bf.mightContainLong(k)))
  }

  test("bloomSemiJoin == plain semi join") {
    val li = Tables.lineitem(spark, sf())
    val hot = Tables.orders(spark, sf()).filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey").as("l_orderkey"))
    val expected = li.join(hot, Seq("l_orderkey"), "left_semi").count()
    val got = Sketches.bloomSemiJoin(li, hot, "l_orderkey").count()
    assert(got == expected)
    // expectedItems hint path: same result, no sizing count() job
    val hinted = Sketches.bloomSemiJoin(li, hot, "l_orderkey", expectedItems = 4096)
    assert(hinted.count() == expected)
    // the probe must be Spark's codegen'd expression, not a boxed UDF
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") && !plan.contains("UDF"),
      s"bloom probe should be the native expression:\n$plan")
  }
}
