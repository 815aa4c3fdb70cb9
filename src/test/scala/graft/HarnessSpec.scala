package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness/bench harness must surface failures, not swallow them
  * (VERDICT r8 #2: 18 broken queries shipped as a green CORRECTNESS file
  * and as phantom bench speedups). */
class HarnessSpec extends SparkSpec {

  test("Verify writes an err-sentinel parquet for a throwing query, results for the rest") {
    val out = java.nio.file.Files.createTempDirectory("verify-err").toString
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "ok_query" -> ((s, _) => { import s.implicits._; Seq(1, 2).toDF("v") }),
      "boom_query" -> ((s, _) => s.range(1).selectExpr("nonexistent_fn(id)"))
    )
    val failures = Verify.dumpQueries(spark, sf(), out, qs)
    assert(failures.keySet == Set("boom_query"))
    assert(failures("boom_query").nonEmpty)
    // the good query's rows are intact
    assert(spark.read.parquet(s"$out/ok_query").count() == 2)
    // the failed query still has an output dir — a sentinel whose schema is
    // a single `err` string column, so the driver's compare goes red
    // instead of the query vanishing from CORRECTNESS
    val sentinel = spark.read.parquet(s"$out/boom_query")
    assert(sentinel.columns.toSeq == Seq("err"))
    assert(sentinel.count() == 1)
    assert(sentinel.head.getString(0).contains("nonexistent_fn") ||
      sentinel.head.getString(0).nonEmpty)
  }

  test("Verify JSON escaper handles quotes, backslashes and control chars") {
    assert(Verify.q("a\"b\\c\nd\te") == "\"a\\\"b\\\\c\\nd\\te\"")
    assert(Verify.q("\u0001") == "\"\\u0001\"")
  }

  // VERDICT r15 #2a: DuckDB widens integer SUM to HUGEINT, and the
  // driver's pandas fetch coerces HUGEINT to float64 → "8.0" vs "8" →
  // hash red with rows/schema green (the five-round q87/q89 signature).
  // Lint every oracle's RESULT types via DESCRIBE so the class can never
  // be reintroduced: any non-driver-safe output column (HUGEINT,
  // DECIMAL, …) fails here, before a driver round is spent on it.
  test("oracle output types are driver-safe (no HUGEINT/DECIMAL widening)") {
    import scala.sys.process._
    val probe = Process(Seq("python3", "-c", "import duckdb, pandas")).!(ProcessLogger(_ => ()))
    assume(probe == 0, "python3 with duckdb+pandas unavailable — lint skipped")
    val dir = java.nio.file.Files.createTempDirectory("oracle-lint")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }.mkString("{", ",", "}")
    val jsonPath = dir.resolve("oracle_sql.json")
    java.nio.file.Files.writeString(jsonPath, json)
    val out = new StringBuilder
    val rc = Process(Seq("python3", "tools/lint_oracle_types.py", sf(), jsonPath.toString))
      .!(ProcessLogger(l => out.append(l).append('\n')))
    assert(rc == 0, s"oracle type lint failed:\n$out")
  }

  // The live transports run under one supervision rule (sources.Supervised):
  // NonFatal failures are retried, fatal JVM errors end the thread. A
  // `Throwable` catch in any one transport would quietly retry an
  // OutOfMemoryError forever again.
  test("no Throwable catch under src/main/scala/graft/sources") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/sources")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val catchAll = """\bcase\b[^=\n]*:\s*(?:java\.lang\.)?Throwable\b""".r
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if catchAll.findFirstIn(line).nonEmpty => s"$f:${i + 1}: ${line.trim}"
      }
    }.toList finally files.close()
    assert(hits.isEmpty, s"catch NonFatal instead:\n${hits.mkString("\n")}")
  }
}
