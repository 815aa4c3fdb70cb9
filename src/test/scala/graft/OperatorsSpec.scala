package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.batch.{BatchOps, Rolling}
import graft.operators.AsOfJoin
import graft.text.TextStats

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("R11/R12 rolling time-window mean and max") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1.0),
      ("a", ts("2024-01-01 00:02:00"), 3.0),
      ("a", ts("2024-01-01 00:10:00"), 5.0), // outside 5m of first two
      ("b", ts("2024-01-01 00:01:00"), 100.0)
    ).toDF("k", "ts", "v")
    val out = df.select(col("k"), col("ts"),
        Rolling.rollingMean(col("v"), col("ts"), 300, col("k")).as("m"),
        Rolling.rollingMax(col("v"), col("ts"), 300, col("k")).as("x"))
      .orderBy("k", "ts").as[(String, Timestamp, Double, Double)].collect()
    assert(out(0)._3 == 1.0 && out(1)._3 == 2.0) // (1+3)/2 within 5m
    assert(out(2)._3 == 5.0 && out(2)._4 == 5.0) // window slid past
    assert(out(3)._3 == 100.0)
  }

  test("withRollingColumns: every output is a trailing window over the input columns") {
    val rnd = new scala.util.Random(7)
    val in = (0 until 60).map { i =>
      (s"k${i % 3}", new Timestamp(1704067200000L + rnd.nextInt(3600) * 1000L), rnd.nextInt(100).toDouble,
        if (i % 11 == 0) None else Some(rnd.nextDouble()))
    }
    val df = in.toDF("k", "ts", "v", "v_5m").repartition(5)
    val out = Rolling.withRollingColumns(df, "ts", Seq("k"), Seq("5m" -> 300L, "30m" -> 1800L),
      Seq("v" -> "mean", "v_5m" -> "max"))
    // v_5m is replaced in place; v_5m_5m reads the input v_5m, not the new one
    assert(out.columns.toSeq == Seq("k", "ts", "v", "v_5m", "v_5m_5m", "v_30m", "v_5m_30m"))
    def trailing(k: String, t: Timestamp, secs: Long) =
      in.filter(r => r._1 == k && !r._2.after(t) && r._2.getTime >= t.getTime - secs * 1000L)
    val got = out.as[(String, Timestamp, Double, Double, Option[Double], Double, Option[Double])].collect()
    assert(got.length == in.length)
    got.foreach { case (k, t, _, mean5, max5, mean30, max30) =>
      for ((secs, mean, mx) <- Seq((300L, mean5, max5), (1800L, mean30, max30))) {
        val w = trailing(k, t, secs)
        assert(math.abs(mean - w.map(_._3).sum / w.length) < 1e-9, s"$k $t mean over $secs s")
        assert(mx == w.flatMap(_._4).maxOption, s"$k $t max over $secs s")
      }
    }
  }

  test("as-of join attaches latest right row at-or-before left time") {
    val left = Seq(
      (1L, ts("2024-01-01 00:05:00"), "e1"),
      (1L, ts("2024-01-01 00:00:00"), "e0"),
      (2L, ts("2024-01-01 00:05:00"), "e2")
    ).toDF("k", "t", "ev")
    val right = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, 1.0),
      (1L, ts("2024-01-01 00:04:00"), 11L, 2.0),
      (1L, ts("2024-01-01 00:06:00"), 12L, 3.0),
      (3L, ts("2024-01-01 00:00:00"), 13L, 4.0)
    ).toDF("rk", "rt", "oid", "price")
    val out = AsOfJoin.asofJoin(left, right, "k", "rk", "t", "rt",
        payload = Seq("oid", "price"), tiebreaker = "oid")
      .orderBy("ev").collect()
    // e0 at 00:00 matches the 00:00 right row (at-or-before is inclusive)
    assert(out(0).getAs[Long]("oid") == 10L)
    // e1 at 00:05 matches 00:04 row, not 00:06
    assert(out(1).getAs[Long]("oid") == 11L)
    // e2: key 2 has no right rows -> nulls
    assert(out(2).isNullAt(out(2).fieldIndex("oid")))
  }

  test("BatchOps: concat + dedupSort + timeRange + watermarks + topK") {
    val a = Seq((ts("2024-01-01 00:00:00"), 1.0), (ts("2024-01-01 00:01:00"), 2.0)).toDF("ts", "v")
    val b = Seq((ts("2024-01-01 00:01:00"), 2.0), (ts("2024-01-01 00:02:00"), 3.0)).toDF("ts", "v")
    val u = BatchOps.dedupSort(BatchOps.concat(Seq(a, b)), Seq("ts"), Seq("ts"))
    assert(u.count() == 3) // overlap row deduped
    val ranged = BatchOps.timeRange(u, "ts", ts("2024-01-01 00:00:30"), ts("2024-01-01 00:02:00"))
    assert(ranged.count() == 2)
    val wm = BatchOps.watermarks(u, "ts", Nil).as[Timestamp].head()
    assert(wm == ts("2024-01-01 00:02:00"))
    val top = BatchOps.topK(u, 1, col("v").desc).as[(Timestamp, Double)].head()
    assert(top._2 == 3.0)
  }

  test("TextStats: counts, diversity, fingerprint normalization, langid") {
    val r = Seq("The  Quick the quick").toDF("t").select(
      TextStats.tokenCount(col("t")).as("n"),
      TextStats.fingerprint(col("t")).as("fp"),
      TextStats.fingerprint(lit("the quick the quick")).as("fp2")).head()
    // single-space split of "The  Quick the quick" -> 5 tokens (one empty)
    assert(r.getAs[Int]("n") == 5)
    assert(r.getAs[String]("fp") == r.getAs[String]("fp2")) // case+ws-invariant
    val lang = Seq("el perro es de la casa que").toDF("t")
      .select(TextStats.languageId(col("t"))).as[String].head()
    assert(lang == "es")
    val und = Seq("zzz qqq").toDF("t")
      .select(TextStats.languageId(col("t"))).as[String].head()
    assert(und == "und")
  }

  test("subwordCount splits letter runs and punctuation") {
    val n = Seq("hello, world42!").toDF("t")
      .select(TextStats.subwordCount(col("t"))).as[Int].head()
    // hello , [space] world42 ! -> nonempty pieces: hello, ",", "world42", "!"
    assert(n == 4)
  }

  test("subword_count/punct_count byte-walks equal the regex formulations") {
    // edge inventory: empty, all-space, runs at both ends, tabs/newlines
    // (non-space punct), digits, multi-byte codepoints (é, 中, emoji
    // surrogate pair), mixed
    val fixtures = Seq("", " ", "   ", "abc", "a b", ",,a,,", "a1b2", "tab\there",
      "nl\nthere", "café touché", "中文 abc", "x😀y", "é", "!@# $%^")
    val df = fixtures.toDF("t")
    val cmpSub = df.select(
      TextStats.subwordCount(col("t")).as("fast"),
      regexp_count(col("t"), lit(TextStats.SubwordPattern)).as("rx")).collect()
    cmpSub.zip(fixtures).foreach { case (r, s) =>
      assert(r.getInt(0) == r.getInt(1), s"subwords('$s'): ${r.getInt(0)} vs regex ${r.getInt(1)}")
    }
    // punct ratio divides by length — both formulations reject the empty
    // string identically under ANSI, so compare on non-empty inputs
    val cmpP = df.filter(length(col("t")) > 0).select(col("t"),
      TextStats.punctRatio(lower(col("t"))).as("fastp"),
      ((length(lower(col("t"))) -
        length(regexp_replace(lower(col("t")), "[^a-z0-9 ]", ""))).cast("double") /
        length(lower(col("t")))).as("rxp")).collect()
    cmpP.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"punct('${r.getString(0)}'): ${r.getDouble(1)} vs regex ${r.getDouble(2)}")
    }
  }

  test("resampleLinear: tick placement, interpolation, exact hits, dup collapse") {
    val df = Seq(
      // key a: interior ticks only (range 10s..70s, step 30 => ticks 30, 60)
      ("a", 10L, 1.0), ("a", 70L, 7.0),
      // key b: exact hits at both ends plus an interior tick
      ("b", 30L, 5.0), ("b", 90L, 11.0),
      // key c: duplicate timestamp collapses via max before interpolation
      ("c", 0L, 2.0), ("c", 0L, 4.0), ("c", 60L, 8.0)
    ).toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    val out = Rolling.resampleLinear(df, "ts", "v", Seq("k"), stepSeconds = 30)
      .select(col("k"), unix_micros(col("ts").cast("timestamp")).as("t"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 1000000L) -> r.getDouble(2)).toMap
    assert(out == Map(
      ("a", 30L) -> 3.0, ("a", 60L) -> 6.0,           // 1 + 6*(20/60), 1 + 6*(50/60)
      ("b", 30L) -> 5.0, ("b", 60L) -> 8.0, ("b", 90L) -> 11.0,
      ("c", 0L) -> 4.0, ("c", 30L) -> 6.0, ("c", 60L) -> 8.0), s"got $out")
  }

  test("resampleLinear: sub-step series emits nothing; tick-aligned singleton emits itself") {
    val df = Seq(
      ("short", 31L, 1.0), ("short", 49L, 2.0), // range inside one step: no tick
      ("one", 60L, 9.0)                          // single point on a tick
    ).toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    val out = Rolling.resampleLinear(df, "ts", "v", Seq("k"), stepSeconds = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(2))
    assert(out.toSeq == Seq("one" -> 9.0), s"got ${out.toSeq}")
  }

  test("resampleLinear is partitioning-independent") {
    val df = Seq.tabulate(200)(i =>
      ((i % 3).toString, i.toLong * 37 % 997, (i * 13 % 101).toDouble))
      .toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Rolling.resampleLinear(d, "ts", "v", Seq("k"), stepSeconds = 60)
        .collect().map(r => (r.getString(0), r.get(1).toString, r.getDouble(2)))
        .toSet
    assert(run(df) == run(df.repartition(13)))
  }

  test("resampleLinear: a pre-1970 series gets floor/ceil grid ticks") {
    // ticks are multiples of the step on both sides of the epoch: -50 s
    // .. -10 s at a 30 s step holds exactly the tick at -30 s
    val df = Seq(("a", -50L, 1.0), ("a", -10L, 5.0)).toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    val out = Rolling.resampleLinear(df, "ts", "v", Seq("k"), stepSeconds = 30)
      .select(unix_micros(col("ts").cast("timestamp")), col("v")).collect()
      .map(r => (r.getLong(0), r.get(1))).toSeq
    assert(out == Seq((-30000000L, 3.0)), s"got $out")
  }

  test("resamplePrevious: LOCF carries the last observation, exact hits included") {
    val df = Seq(
      ("a", 10L, 1.0), ("a", 45L, 4.0), ("a", 70L, 7.0),
      ("b", 30L, 5.0), ("b", 90L, 11.0)
    ).toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    val out = Rolling.resamplePrevious(df, "ts", "v", Seq("k"), stepSeconds = 30)
      .select(col("k"), unix_micros(col("ts").cast("timestamp")).as("t"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 1000000L) -> r.getDouble(2)).toMap
    assert(out == Map(
      ("a", 30L) -> 1.0, ("a", 60L) -> 4.0,   // steps, not slopes
      ("b", 30L) -> 5.0, ("b", 60L) -> 5.0, ("b", 90L) -> 11.0), s"got $out")
  }
}
