package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure policy (VERDICT r8 #2): a query that throws must be LOUD, not
  * omitted. r8's testdata regeneration broke 18 queries and the old
  * catch-print-skip made CORRECTNESS look fully green with the rows just
  * missing. Now a failed query still writes its output dir — a one-row
  * sentinel parquet whose only column is `err` — so every downstream
  * consumer that walks the out dir sees the query and the compare fails
  * red (schema/rows/hash all mismatch) with the message visible. The
  * failures are additionally collected into `outDir/errors.json`.
  */
object Verify {
  /** Runs each query, writing results (or an err sentinel on throw).
    * Returns name→message for the failures. Factored out of main so the
    * failure path is spec-testable (HarnessSpec). */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]): Map[String, String] = {
    val failures = scala.collection.mutable.Map.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed too: $e2")
        }
      }
    }
    failures.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // Same subset knob as Bench: SPARK_GRAFT_ONLY=q01,q65 dumps (and
    // lists oracles for) just those queries — local pre-checks of a new
    // query don't pay for the whole suite. Unset = full driver contract.
    // PREFIX-matched (q65 selects q65_doc_chunking), so the short form
    // in docs and muscle memory actually selects something.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean =
      only.forall(_.exists(p => name.startsWith(p)))
    val selected = SparkEntry.queries.filter(kv => keep(kv._1))
    if (selected.isEmpty)
      System.err.println(s"[verify] SPARK_GRAFT_ONLY=${only.fold("")(_.mkString(","))} matched no queries — nothing will be written")
    val failures = dumpQueries(spark, sfDir, outDir, selected)
    if (failures.nonEmpty) {
      val json = failures.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), json)
      System.err.println(s"[verify] ${failures.size}/${selected.size} queries FAILED: ${failures.keys.toSeq.sorted.mkString(",")}")
    } else {
      // a clean rerun into the same outDir must not leave last run's
      // failure report behind
      Files.deleteIfExists(Paths.get(s"$outDir/errors.json"))
    }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
