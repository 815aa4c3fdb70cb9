package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.similarity.Similarity

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim: bit-identical to the HOF formulation, null-safe") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(0.1, -0.9, 0.3, 0.7), Seq(-0.5, 0.2, 0.8, 0.05))
    ).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.cosineFast(col("a"), col("b")).as("fast"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // BIT-identical
    val withNull = Seq((Seq(1.0), null: Seq[Double])).toDF("a", "b")
      .select(VectorFunctions.cosineFast(col("a"), col("b"))).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("dot_product: bit-identical to the HOF fold, null-safe") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.9, 0.3, 0.7), Seq(-0.5, 0.2, 0.8, 0.05))
    ).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dotFast(col("a"), col("b")).as("fast"),
      Similarity.dot(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // BIT-identical
    assert(rows(0).getDouble(0) == 32.0)
    val withNull = Seq((Seq(1.0), null: Seq[Double])).toDF("a", "b")
      .select(VectorFunctions.dotFast(col("a"), col("b"))).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("length mismatch throws on BOTH execution paths (codegen and interpreted)") {
    // The generated code must carry the same guard as nullSafeEval:
    // without it, codegen reads past the shorter array and returns silent
    // garbage (wrong LSH bucket bits) where the interpreted path errors.
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    for (expr <- Seq(VectorFunctions.dotFast(col("a"), col("b")),
                     VectorFunctions.cosineFast(col("a"), col("b")))) {
      // codegen path (default)
      val eCg = intercept[Exception] { df.select(expr).collect() }
      assert(exceptionChain(eCg).exists(_.getMessage.contains("length mismatch")),
        s"codegen path: ${eCg}")
      // interpreted path
      withSQLConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val eIn = intercept[Exception] { df.select(expr).collect() }
        assert(exceptionChain(eIn).exists(_.getMessage.contains("length mismatch")),
          s"interpreted path: ${eIn}")
      }
    }
  }

  private def exceptionChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kernel constant arguments: a NULL or a column fails at analysis naming the function and position") {
    val df = Seq(("a b c d", 2)).toDF("text", "n_col")
    val eNull = intercept[AnalysisException] {
      df.select(call_function("shingle_gen", col("text"), lit(null)))
    }
    assert(eNull.getMessage.contains("shingle_gen: argument 2 must be a constant"), eNull.getMessage)
    val eCol = intercept[AnalysisException] {
      df.select(call_function("minhash_sig", col("text"), col("n_col"), lit(16)))
    }
    assert(eCol.getMessage.contains("minhash_sig: argument 2 must be a constant"), eCol.getMessage)
  }

  test("SQL registration via SparkSessionExtensions: cosine_sim / hamming_dist") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
      "hamming_dist(11L, 8L) AS h").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(1) == 2) // 1011 ^ 1000 = 0011
  }

  test("codegen: runs inside whole-stage codegen over real scans, matches HOF on real data") {
    val emb = Tables.embeddings(spark, sf())
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val shifted = emb.select((col("vec_id") + 1).as("vec_id"), col("v").as("w"))
    val joined = emb.join(shifted, "vec_id")
    val rows = joined.select(
      VectorFunctions.cosineFast(col("v"), col("w")).as("fast"),
      Similarity.cosine(col("v"), col("w")).as("hof")).collect()
    assert(rows.length > 100)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    val plan = joined.select(VectorFunctions.cosineFast(col("v"), col("w")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"))
  }
}
