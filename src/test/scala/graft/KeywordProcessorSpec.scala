package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.transforms.KeywordProcessor
import graft.transforms.KeywordProcessor.KeywordTagConf

class KeywordProcessorSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  private val inputSchema = StructType(Seq(
    StructField("actor", StringType),
    StructField("keyword", StringType),
    StructField("recv_time", TimestampType),
    StructField("values", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("units", StringType),
      StructField("value", StringType),
      StructField("pvt", ArrayType(DoubleType))))))))

  private def kwRow(actor: String, kw: String, values: Seq[(String, String, String, Seq[Double])]) =
    Row(actor, kw, t0, values.map { case (n, u, v, p) => Row(n, u, v, p) })

  private def run(rows: Seq[Row],
      tags: Map[String, String] = Map.empty,
      keywordTags: Map[String, KeywordTagConf] = Map.empty,
      casts: Map[String, String] = Map.empty) =
    KeywordProcessor.process(
      spark.createDataFrame(rows.asJava(), inputSchema), tags, keywordTags, casts)

  implicit class SeqOps[A](s: Seq[A]) {
    def asJava(): java.util.List[A] = {
      val l = new java.util.ArrayList[A]()
      s.foreach(l.add); l
    }
  }

  test("single unnamed value -> bare keyword field name") {
    val out = run(Seq(kwRow("tcc", "airmass", Seq((null, null, "1.23", null))))).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Map[String, Double]]("fields") == Map("airmass" -> 1.23))
    assert(out(0).getString(0) == "tcc")
  }

  test("named + positional field naming, units tag") {
    val out = run(Seq(kwRow("mcp", "status", Seq(
        ("temp", "degC", "21.5", null),
        (null, null, "42", null),
        (null, null, "43", null)))))
      .orderBy(map_keys(col("fields")).getItem(0)).collect()
    val allFields = out.flatMap(_.getAs[Map[String, Double]]("fields")).toMap
    assert(allFields == Map("status_temp" -> 21.5, "status_1" -> 42.0, "status_2" -> 43.0))
    val tempTags = out.find(_.getAs[Map[String, Double]]("fields").contains("status_temp")).get
      .getAs[Map[String, String]]("tags")
    assert(tempTags == Map("units" -> "degC"))
  }

  test("PVT explode to _P/_V/_T; non-PVT arrays skipped without consuming position") {
    val out = run(Seq(kwRow("tcc", "objNetPos", Seq(
        (null, null, null, Seq(1.0, 2.0, 3.0)),
        (null, null, "x", null))))).collect()
    val fields = out.flatMap(_.getAs[Map[String, Double]]("fields")).toMap
    assert(fields == Map("objNetPos_0_P" -> 1.0, "objNetPos_0_V" -> 2.0, "objNetPos_0_T" -> 3.0))
    // the scalar "x" is non-numeric -> fields_str, position counter = 1
    val strs = out.flatMap(_.getAs[Map[String, String]]("fields_str")).toMap
    assert(strs == Map("objNetPos_1" -> "x"))
  }

  test("casts: int truncates, bool maps falsy strings") {
    val out = run(
      Seq(kwRow("apo", "counts", Seq((null, null, "12.7", null))),
        kwRow("apo", "enabled", Seq((null, null, "false", null)))),
      casts = Map("apo.counts" -> "int", "apo.enabled" -> "bool")).collect()
    val fields = out.flatMap(_.getAs[Map[String, Double]]("fields")).toMap
    assert(fields == Map("counts" -> 12.0, "enabled" -> 0.0))
  }

  test("keyword_tags promotes indexed value to sibling points") {
    val out = run(
      Seq(kwRow("lvm", "ccd_state", Seq(
        (null, null, "b1", null), (null, null, "4.5", null)))),
      keywordTags = Map("lvm.ccd_state" -> KeywordTagConf(0, "ccd"))).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Map[String, String]]("tags")("ccd") == "b1")
    }
  }

  test("process: expected rows over the edge-case fixtures") {
    import graft.sources.ActorReplies.{KeywordRow, TypedValue}
    // every semantic branch in one fixture set: named + positional slots,
    // single unnamed value (bare field name), PVT triple, a non-PVT array
    // (unparseable, skipped without consuming a position), malformed
    // numeric (routed to fields_str), NULL raw, units tags, int/bool
    // casts (incl. bool-of-null = 1.0, the three-valued-logic quirk),
    // exponent numerics, keyword_tags at index 0 and 1, and an empty
    // `values` (no point).
    val rows = Seq(
      KeywordRow("boss", "val", t0, Seq(
        TypedValue("id", "", "7.0", null),
        TypedValue("x", "V", "1.25", null))),
      KeywordRow("boss", "status", t0, Seq(
        TypedValue("", "", "ok; fine", null))),
      KeywordRow("boss", "motion", t0, Seq(
        TypedValue("", "deg", null, Array(1.0, 2.0, 3.0)),
        TypedValue("", "", "99", Array(4.0, 5.0)), // len-2 pvt: unparseable
        TypedValue("", "", "tail", null))),        // positional _1 (prefix parseable = 1)
      KeywordRow("boss", "flags", t0, Seq(
        TypedValue("a", "", "0", null),
        TypedValue("b", "", "false", null),
        TypedValue("c", "", null, null),           // bool-of-null => 1.0
        TypedValue("d", "", "3.9", null),          // int cast truncates
        TypedValue("e", "", "bogus", null))),      // malformed numeric -> fields_str
      KeywordRow("boss", "empty", t0, Seq.empty),
      KeywordRow("other", "val", t0, Seq(
        TypedValue("id", "", "1e3", null),
        TypedValue("x", "", "-2.5e-2", null))))
    val keywordTags = Map("boss.val" -> KeywordTagConf(0, "eid"),
      "other.val" -> KeywordTagConf(1, "xv"))
    val casts = Map("boss.flags_a" -> "bool", "boss.flags_b" -> "bool",
      "boss.flags_c" -> "bool", "boss.flags_d" -> "int")
    import spark.implicits._
    val out = KeywordProcessor.process(
      rows.toDS().toDF(), Map("site" -> "lab"), keywordTags, casts)
    assert(out.select(col("time"), col("bucket")).distinct().collect().toSeq ==
      Seq(Row(t0, "actors")))
    val got = out.collect().map(r => (
      r.getAs[String]("measurement"),
      r.getAs[Map[String, String]]("tags"),
      r.getAs[Map[String, Double]]("fields"),
      r.getAs[Map[String, String]]("fields_str"))).toSeq
    val lab = Map("site" -> "lab")
    val none = Map.empty[String, Double]
    val noStr = Map.empty[String, String]
    val expected = Seq(
      ("boss", lab + ("eid" -> "7.0"), Map("val_id" -> 7.0), noStr),
      ("boss", lab + ("units" -> "V") + ("eid" -> "7.0"), Map("val_x" -> 1.25), noStr),
      ("boss", lab, none, Map("status" -> "ok; fine")),
      ("boss", lab + ("units" -> "deg"),
        Map("motion_0_P" -> 1.0, "motion_0_V" -> 2.0, "motion_0_T" -> 3.0), noStr),
      ("boss", lab, none, Map("motion_1" -> "tail")),
      ("boss", lab, Map("flags_a" -> 0.0), noStr),
      ("boss", lab, Map("flags_b" -> 0.0), noStr),
      ("boss", lab, Map("flags_c" -> 1.0), noStr),
      ("boss", lab, Map("flags_d" -> 3.0), noStr),
      ("boss", lab, none, Map("flags_e" -> "bogus")),
      ("other", lab + ("xv" -> "-0.025"), Map("val_id" -> 1000.0), noStr),
      ("other", lab + ("xv" -> "-0.025"), Map("val_x" -> -0.025), noStr))
    // multiset compare (Map equality is order-independent)
    def counts[A](xs: Seq[A]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts(got) == counts(expected),
      s"only-got: ${got.diff(expected)}\n only-expected: ${expected.diff(got)}")
  }
}
