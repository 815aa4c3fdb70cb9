package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an N×-scaled copy of an sf dir as parquet, for running the
  * FULL bench suite at a larger factor (`BENCH_16x.json`).
  *
  * Scaling model — scale OUT, not up: each copy gets offset ids (new
  * orders, new customers, new users, new documents), so per-key history
  * (a user's event timeline, an order's lineitems) keeps its 1× size and
  * the corpus grows in breadth — how real data grows. Replicating with
  * UNCHANGED keys would instead grow every window partition and join
  * group N×, measuring a pathological key distribution rather than scale.
  *
  * Dimensions (`region nation supplier part`) stay 1× (fixed cardinality,
  * like TPC-H). `documents`/`embeddings` copies are MUTATED by a
  * deterministic scheme: in copy i, token position p of a document gets
  * the suffix `_m<i>` when `(37p + 11) mod 16 < i` (about i/16 of the
  * positions), and element j of an embedding moves by
  * `0.15 · i · u`, with `u` in [−1, 1) drawn from murmur3 of
  * (vec_id, i, j). So pair operators see realistic bounded near-dup
  * density instead of exact duplicate cliques. Copy 0 is always
  * verbatim, so literal-keyed query sets (`vec_id < 10` ANN queries)
  * are unchanged.
  *
  * Run: `sbt "runMain graft.GenScale [srcDir] [outDir] [factor]"`
  * (defaults: /root/testdata/sf0.1, /tmp/graft-sf16x, 16).
  */
object GenScale {

  private val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf16x")
    val factor = args.lift(2).map(_.toInt).getOrElse(16)
    val spark = GraftSession.get("local[32]", 32)

    def rep(df: DataFrame, keys: Seq[String])(mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * Offset)))
        mutate(shifted, i)
      }.reduce(_ unionByName _)

    def mutateText(c: Column, i: Int): Column =
      if (i == 0) c
      else array_join(transform(split(c, " "), (w, p) =>
        when(pmod(p * 37 + 11, lit(16)) < i, concat(w, lit(s"_m$i"))).otherwise(w)), " ")
    // keyed by vec_id so offsets are independent PER VECTOR — a per-copy
    // constant offset would collapse each copy into one mutual-near-dup
    // cluster (SCALE.md "Pair-operator scaling")
    def mutateVec(c: Column, i: Int): Column =
      if (i == 0) c
      else transform(c, (x, j) =>
        (x + lit(0.15 * i) * (pmod(hash(col("vec_id"), lit(i), j), lit(1000)).cast("double") / 500.0 - 1.0))
          .cast("float"))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dimensions: verbatim
    for (t <- Seq("region", "nation", "supplier", "part"))
      write(t, Tables.read(spark, src, t))
    // facts: scale out with consistent key offsets across join sides
    write("customer", rep(Tables.read(spark, src, "customer"), Seq("c_custkey"))())
    write("orders", rep(Tables.read(spark, src, "orders"), Seq("o_orderkey", "o_custkey"))())
    write("lineitem", rep(Tables.read(spark, src, "lineitem"), Seq("l_orderkey"))())
    // events: raw read keeps ts as the original ns LONG so the scaled dir
    // round-trips through Tables.events identically
    write("events", rep(Tables.read(spark, src, "events"), Seq("event_id", "user_id"))())
    write("documents", rep(Tables.read(spark, src, "documents"), Seq("doc_id")) {
      (d, i) => d.withColumn("text", mutateText(col("text"), i))
    })
    write("embeddings", rep(Tables.read(spark, src, "embeddings"), Seq("vec_id")) {
      (d, i) => d.withColumn("embedding", mutateVec(col("embedding").cast("array<double>"), i))
    })
    spark.stop()
  }
}
