package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.batch.Rolling

/** The `resample_grid` kernel behind `Rolling.resampleLinear` and
  * `Rolling.resamplePrevious`: pinned to the window formulation it
  * replaced ([[ResampleWindowReference]]) on seeded random series, plus
  * the duplicate-collapse tie rule for NaN and signed zeros. */
class ResampleGridSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000L // post-1970: the reference's grid is only right there

  /** Several keys per seed: a single point on a tick, a single point off
    * it, a sub-step pair, and random series with duplicate timestamps,
    * null values and exact tick hits. */
  private def series(seed: Long, stepSeconds: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def value(): Option[Double] =
      if (rnd.nextInt(7) == 0) None else Some(rnd.nextInt(20000) / 100.0 - 100.0)
    val fixed = Seq(
      ("on_tick", base / stepSeconds * stepSeconds + 4 * stepSeconds, value()),
      ("off_tick", base / stepSeconds * stepSeconds + 4 * stepSeconds + 1, value()),
      ("sub_step", base / stepSeconds * stepSeconds + 1, Some(1.5)),
      ("sub_step", base / stepSeconds * stepSeconds + stepSeconds - 1, Some(2.5)))
    val random = (0 until 6).flatMap { k =>
      val span = stepSeconds * (1 + rnd.nextInt(40))
      val pool = Seq.fill(2 + rnd.nextInt(60))(base + rnd.nextLong(span + 1)) ++
        Seq.fill(rnd.nextInt(4))((base + rnd.nextLong(span + 1)) / stepSeconds * stepSeconds)
      Seq.fill(pool.size + rnd.nextInt(pool.size))(pool(rnd.nextInt(pool.size)))
        .map(t => (s"k$k", t, value()))
    }
    (fixed ++ random).toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
  }

  private def rows(df: DataFrame): Seq[(String, Long, Option[Double])] =
    df.select(col("k"), unix_micros(col("ts").cast("timestamp")), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSeq.sortBy(r => (r._1, r._2))

  test("resample_grid matches the window formulation on seeded random series") {
    for (seed <- 1L to 3L; step <- Seq(30L, 60L); interpolate <- Seq(true, false)) {
      val df = series(seed, step)
      val reference = ResampleWindowReference.resample(df, "ts", "v", Seq("k"), step, interpolate)
      val want = rows(reference)
      def run(d: DataFrame) =
        if (interpolate) Rolling.resampleLinear(d, "ts", "v", Seq("k"), step)
        else Rolling.resamplePrevious(d, "ts", "v", Seq("k"), step)
      val got = run(df)
      assert(got.schema.map(f => f.name -> f.dataType) == reference.schema.map(f => f.name -> f.dataType))
      assert(want.size > 20 && want.exists(_._1 == "on_tick") && !want.exists(_._1 == "sub_step"),
        s"seed $seed step $step: fixture lost its shapes")
      assert(rows(got) == want, s"seed $seed step $step interpolate $interpolate")
      assert(rows(run(df.repartition(13))) == want, s"seed $seed step $step repartitioned")
    }
  }

  test("duplicate timestamps collapse with NaN largest and -0.0/+0.0 to +0.0") {
    def grid(points: Seq[(String, Long, Double)], interpolate: Boolean) = {
      val df = points.toDF("k", "sec", "v")
        .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
      Seq(df, df.repartition(7)).map { d =>
        val out =
          if (interpolate) Rolling.resampleLinear(d, "ts", "v", Seq("k"), 30)
          else Rolling.resamplePrevious(d, "ts", "v", Seq("k"), 30)
        rows(out).map { case (k, t, v) => (k, t / 1000000L) -> v.get }.toMap
      }
    }
    val bits = java.lang.Double.doubleToRawLongBits _
    for (interpolate <- Seq(true, false)) {
      for (out <- grid(Seq(("n", 0L, 1.0), ("n", 0L, Double.NaN), ("n", 60L, 2.0)), interpolate)) {
        assert(out(("n", 0L)).isNaN && out(("n", 30L)).isNaN && out(("n", 60L)) == 2.0, out)
      }
      for (zeros <- Seq(Seq(-0.0, 0.0), Seq(0.0, -0.0));
           out <- grid(zeros.map(z => ("z", 0L, z)) :+ (("z", 60L, -0.0)), interpolate)) {
        assert(bits(out(("z", 0L))) == bits(0.0), s"tie must give +0.0: $out")
        assert(bits(out(("z", 30L))) == bits(0.0), out) // 0.0 + (-0.0 - 0.0) * 0.5, or LOCF
        assert(bits(out(("z", 60L))) == bits(-0.0), out) // an exact hit keeps its sign
      }
    }
  }
}
