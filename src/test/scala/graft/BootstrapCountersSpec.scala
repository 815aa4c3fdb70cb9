package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.BootstrapCounters

/** q87: corpus-seeded counters continued by the stream, with every leg
  * non-vacuous. */
class BootstrapCountersSpec extends SparkSpec {

  private lazy val out = BootstrapCounters.run(spark, sf()).collect()

  private lazy val corpusTotals: Map[(String, String), (Long, Long)] =
    Tables.documents(spark, sf())
      .filter(!BootstrapCounters.isStream(col("doc_id")))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c"), sum("n_chars").as("ch"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("counts start from the corpus totals, not zero (bootstrap landed)") {
    // first emitted row per key must be corpus_docs + 1
    val firstPerKey = out.groupBy(r => (r.getString(1), r.getString(2)))
      .map { case (k, rows) => k -> rows.minBy(_.getLong(0)) }
    val seeded = firstPerKey.filter { case (k, _) => corpusTotals.contains(k) }
    assert(seeded.nonEmpty, "no stream key has corpus history — bootstrap untested")
    seeded.foreach { case (k, r) =>
      assert(r.getLong(3) == corpusTotals(k)._1 + 1,
        s"key $k first run_docs ${r.getLong(3)} != corpus ${corpusTotals(k)._1} + 1")
    }
  }

  test("per-key counts are cumulative across the batch split") {
    val cut = Tables.documents(spark, sf())
      .filter(BootstrapCounters.isStream(col("doc_id")))
      .agg(max("doc_id")).head().getLong(0) / 2
    // some key must have rows in BOTH halves, and its counts must be
    // strictly increasing in doc_id order with no restart at the cut
    val byKey = out.groupBy(r => (r.getString(1), r.getString(2)))
    val spanning = byKey.filter { case (_, rows) =>
      rows.exists(_.getLong(0) < cut) && rows.exists(_.getLong(0) >= cut)
    }
    assert(spanning.nonEmpty, "no key spans both batches — carry untested")
    byKey.foreach { case (k, rows) =>
      val sorted = rows.sortBy(_.getLong(0))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(3) == a.getLong(3) + 1,
            s"key $k run_docs not consecutive at doc ${b.getLong(0)}")
        case _ => ()
      }
    }
  }

  test("one output row per stream document, exactly once") {
    val streamN = Tables.documents(spark, sf())
      .filter(BootstrapCounters.isStream(col("doc_id"))).count()
    assert(out.length.toLong == streamN)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
  }

  test("whole output ≡ batch corpus totals plus running count and sum per (lang, source), row for row") {
    // independent reference: corpus totals LEFT-JOINed to a running
    // window over the stream side in doc_id order
    val docs = Tables.documents(spark, sf())
    val corpus = docs.filter(!BootstrapCounters.isStream(col("doc_id")))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c_docs"), sum("n_chars").cast("long").as("c_chars"))
    val w = Window.partitionBy("lang", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = docs.filter(BootstrapCounters.isStream(col("doc_id")))
      .join(corpus, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("c_docs", "c_chars"))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("c_docs") + count(lit(1)).over(w)).as("run_docs"),
        (col("c_chars") + sum("n_chars").over(w)).cast("long").as("run_chars"))
      .collect()
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
    assert(out.length == expected.length)
    assert(out.map(keyOf).toSeq.sorted == expected.map(keyOf).toSeq.sorted)
  }
}
