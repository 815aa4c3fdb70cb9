package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, exists}

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
  // OutOfMemoryError forever again; one in the daemon's control plane
  // (engine start, status socket) would keep a dying JVM serving.
  Seq("sources", "control").foreach { pkg =>
    test(s"no Throwable catch under src/main/scala/graft/$pkg") {
      val root = java.nio.file.Paths.get(s"src/main/scala/graft/$pkg")
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

  // A driver may call the entry points with a session it built itself,
  // without GraftSession's settings or the extension's functions; the
  // queries must harden it (Tables.harden) and still run. q86's
  // transformWithState runs only on RocksDB; its spool is built first on
  // the shared session, so the bare run reads no table and the replay
  // itself has to set the store.
  test("entry and queries run on a session without the engine's settings") {
    val q86 = SparkEntry.queries("q86_sliding_state")
    val expected = q86(spark, sf()).count()
    val bare = spark.newSession()
    (Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone",
      "spark.sql.mapKeyDedupPolicy") ++ GraftSession.StateStoreConf.keys).foreach(bare.conf.unset)
    assert(!bare.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
    assert(expected > 0 && q86(bare, sf()).count() == expected)
    bare.sql("DROP TEMPORARY FUNCTION IF EXISTS cosine_sim")
    assert(!bare.catalog.functionExists("cosine_sim"))
    assert(SparkEntry.entry(bare).count() > 0)
    assert(SparkEntry.queries("q07_events_range")(bare, sf()).count() > 0)
    assert(SparkEntry.queries("q29_ann_cosine")(bare, sf()).count() > 0)
  }

  // Where a query spends its time is Bench's attribution pass
  // (Bench.attribute), not another one-off profiler main.
  test("src/main defines main only in the allowlisted entry points") {
    val allowed = Set("Bench", "Verify", "GenScale", "control.Main")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mains = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(text).fold("")(_.group(1))
      val objects = "\\bobject (\\w+)".r.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      "\\bdef main\\s*\\(".r.findAllMatchIn(text).map { m =>
        val owner = objects.filter(_._1 < m.start).lastOption.fold("?")(_._2)
        (pkg.stripPrefix("graft").stripPrefix(".").split('.').filter(_.nonEmpty) :+ owner)
          .mkString(".")
      }
    }.toList finally files.close()
    assert(mains.contains("Bench"), s"main scan found only: $mains")
    assert(mains.filterNot(allowed).isEmpty,
      s"mains outside the allowlist: ${mains.filterNot(allowed)}; use Bench.attribute")
  }

  // A knob that only a probe or an A/B run ever set is dead weight in the
  // library. Environment reads belong to the entry points; outside them
  // the one named read below is the only one, so a new one has to be
  // added here on purpose.
  test("sys.env is read only where the allowlist says") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val entryPoints = Set("Bench.scala", "Verify.scala", "GenScale.scala", "control/Main.scala")
    val allowedReads = Set(
      // EngineConfig.parse: ${VAR} interpolation in the daemon's YAML
      "control/Engine.scala" -> "env: Map[String, String] = sys.env): Config = {")
    val envRead = """\bsys\.env\b|\bSystem\.getenv\b""".r
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = root.relativize(f).toString
      if (entryPoints(rel)) Nil
      else java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).nonEmpty &&
            !line.trim.startsWith("//") && !line.trim.startsWith("*") &&
            !allowedReads(rel -> line.trim) => s"$rel:${i + 1}: ${line.trim}"
      }
    }.toList finally files.close()
    assert(hits.isEmpty, s"environment reads outside the allowlist:\n${hits.mkString("\n")}")
  }

  // Members of top-level objects in src/main that nothing in src/main or
  // perfbench calls, each with the reason it stays. The census below
  // fails on a new one, and on an entry here that has gained a caller.
  private val CallerlessAllowed = Map(
    "Bench" -> "entry point: bench.sh and `runMain graft.Bench`",
    "GenScale" -> "entry point: `runMain graft.GenScale` writes the 16x corpus",
    "BatchOps.watermarks" -> "R17 batch form of the last-value watermark (OperatorsSpec)",
    "Bucketing" -> "bucketed-layout library API (BucketingSpec)",
    "Bucketing.writeBucketed" -> "bucketed-layout library API (BucketingSpec)",
    "Bucketing.colocatedJoin" -> "bucketed-layout library API (BucketingSpec)",
    "Bucketing.isShuffleFree" -> "plan check for a colocated join (BucketingSpec)",
    "Dedup.containmentBlockedVolume" -> "dry-run price of the pair gate's postings path (DedupSpec)",
    "Dedup.hashedShingles" -> "Column form of the shingle hashes the kernels compute (DedupSpec)",
    "Dedup.minhashFromHashes" -> "Column form of the minhash signature (DedupSpec)",
    "Multimodal.repartitionForDecode" -> "multimodal library API (MultimodalSpec)",
    "Multimodal.resizeImages" -> "multimodal library API (MultimodalSpec)",
    "Multimodal.sampleFrames" -> "multimodal library API (MultimodalSpec)",
    "Parsers.checkFileExistsPoll" -> "S6 poll fn for a PollingSource (ParsersSpec)",
    "PhraseIndex.phraseSearchPruned" -> "phrase search over a persisted layout (PhraseIndexSpec)",
    "PhraseIndex.writePostingsLayout" -> "writes the layout phraseSearchPruned reads (PhraseIndexSpec)",
    "Quality.boilerplateLines" -> "cross-document boilerplate finder (QualitySpec)",
    "Quality.hashKeep" -> "deterministic hash sample for reproducible splits (QualitySpec)",
    "Rolling.rollingCount" -> "single-window form of withRollingColumns (PropertiesSpec)",
    "Rolling.rollingMax" -> "R12 single-window form of withRollingColumns (OperatorsSpec)",
    "Rolling.rollingMean" -> "R11 single-window form of withRollingColumns (OperatorsSpec)",
    "Selection.hashedDsirWeights" -> "DSIR over hashed features for a web-scale vocabulary (SelectionSpec)",
    "Similarity.lshTopKBanded" -> "ANN variant whose recall RecallSpec measures",
    "Similarity.lshTopKMultiProbe" -> "ANN variant whose recall RecallSpec measures",
    "Sketches.approxDistinct" -> "sketch library API (SketchesSpec)",
    "Sketches.bloom" -> "sketch library API (SketchesSpec)",
    "Sketches.countMin" -> "sketch library API (SketchesSpec)",
    "Sketches.hllDistinct" -> "sketch library API (SketchSpec, HllStreamSpec)",
    "StreamingDedup.exactDedupTtl" -> "bounded-state TTL form of exactDedup (StreamingDedupSpec)",
    "TelemetryQuery.fromDF" -> "query builder over a caller's frame (TelemetryQuerySpec)",
    "TelemetrySink.lineProtocolBatches" -> "InfluxDB line-protocol export of the store (SinkLayoutSpec)",
    "TelemetrySink.readStore" -> "store read for callers outside the query layer (SinkLayoutSpec)",
    "TelemetrySink.writeWideTables" -> "wide per-measurement layout (WideSinkSpoolSpec)",
    "Transforms.bitUnpack" -> "T12 reference operator (TransformsSpec)",
    "Transforms.dewPoint" -> "R13 reference operator (TransformsSpec)",
    "Transforms.fahrenheitToCelsius" -> "R8 reference operator (TransformsSpec)",
    "Transforms.flattenStructs" -> "T2 reference operator (TransformsSpec)",
    "Transforms.floatsToF32" -> "R14 reference operator (TransformsSpec)",
    "Transforms.relayDecode" -> "T8 reference operator (TransformsSpec)")

  // A member of a top-level object is called if its name is used as a word
  // on a code line (not a comment) of src/main or perfbench that does not
  // declare that name. Plain `private`/`protected` members and objects are
  // left out; qualified ones (`private[graft]`) count as public.
  test("every public member of a top-level object in src/main has a caller") {
    import java.nio.file.{Files, Path, Paths}
    def files(root: String, exts: String*): List[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(f => exts.exists(f.toString.endsWith)).toList
      finally walk.close()
    }
    val mainFiles = files("src/main", ".scala", ".java")
    val obj = """^((?:(?:final|case|sealed|private\[\w+\]|private|protected)\s+)*)object\s+(\w+)""".r
    val member = """^  ((?:(?:final|implicit|private\[\w+\]|private|protected)\s+)*)def\s+(\w+)""".r
    val hidden = """\b(?:private|protected)\b(?!\[)""".r
    val declared = mainFiles.flatMap { f =>
      var owner: Option[String] = None
      Files.readAllLines(f).asScala.flatMap { line =>
        obj.findPrefixMatchOf(line) match {
          case Some(m) =>
            owner = Some(m.group(2)).filter(_ => hidden.findFirstIn(m.group(1)).isEmpty)
            owner.map(o => o -> o)
          case None if line.nonEmpty && !line.head.isWhitespace && line.head != '}' =>
            owner = None
            None
          case None => for {
            o <- owner
            m <- member.findPrefixMatchOf(line) if hidden.findFirstIn(m.group(1)).isEmpty
          } yield m.group(2) -> s"$o.${m.group(2)}"
        }
      }
    }
    assert(declared.size > 100, s"census scan found only ${declared.size} declarations")
    val declares = """\b(?:def|object|class|trait|val)\s+(\w+)""".r
    val word = "\\w+".r
    val used = (mainFiles ++ files("perfbench", ".scala", ".py", ".sh")).iterator
      .flatMap(f => Files.readAllLines(f).asScala)
      .filterNot(l => Seq("//", "*", "/*").exists(l.trim.startsWith))
      .flatMap(l => word.findAllIn(l).toSet -- declares.findAllMatchIn(l).map(_.group(1)))
      .toSet
    val callerless = declared.collect { case (name, full) if !used(name) => full }.toSet
    val unexplained = callerless -- CallerlessAllowed.keySet
    val stale = CallerlessAllowed.keySet -- callerless
    assert(unexplained.isEmpty, s"no caller in src/main or perfbench (wire it, move it to " +
      s"src/test, or delete it): ${unexplained.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty, s"allowlisted but now called or gone: ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** `file:line: text` of every line under `root` that `hit` flags. */
  private def grepScala(root: String)(hit: (String, String) => Boolean): List[String] = {
    val base = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(base), s"missing $base")
    val files = java.nio.file.Files.walk(base)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = base.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if hit(rel, line) => s"$rel:${i + 1}: ${line.trim}"
      }
    }.toList finally files.close()
  }

  // The state store is a property of a query's checkpoint, fixed when it
  // first starts: one configuration for every session, set where the
  // session is built, so no query's store depends on what ran before it.
  test("state-store settings live only in GraftSession") {
    val graftSession = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("src/main/scala/graft/Tables.scala")).asScala
      .indexWhere(_.startsWith("object GraftSession"))
    assert(graftSession >= 0, "GraftSession not found in Tables.scala")
    val hits = grepScala("src/main/scala")((_, line) =>
      line.contains("spark.sql.streaming.stateStore."))
    val outside = hits.filterNot { h =>
      val Array(rel, n) = h.split(":", 3).take(2)
      rel == "graft/Tables.scala" && n.toInt > graftSession
    }
    assert(hits.nonEmpty && outside.isEmpty,
      s"state-store settings outside GraftSession:\n${outside.mkString("\n")}")
  }

  // Every replay shares one sink path (ReplayScaffold.runToParquet): its
  // fresh run dir, state-partition pin and provider cleanup.
  test("writeStream under graft/streaming only in ReplayScaffold") {
    val hits = grepScala("src/main/scala/graft/streaming")((rel, line) =>
      line.contains("writeStream") && rel != "ReplayScaffold.scala")
    assert(hits.isEmpty, s"use ReplayScaffold.runToParquet:\n${hits.mkString("\n")}")
  }

  test("attribution pass: stages for a batch query, trigger phases for a streaming one") {
    val out = java.nio.file.Files.createTempDirectory("graft-attribution").toFile
    val names = Set("q01_pricing_summary", "q81_streaming_ewma")
    // a lambda filter is a CodegenFallback: that Filter runs interpreted
    val lambda = Queries.Q("lambda_filter", (s, _) => s.range(100)
      .select(array(col("id"), col("id") + 1).as("xs"))
      .filter(exists(col("xs"), x => x % 7 === 0)), None)
    val recs = Bench.attribute(spark, sf(), Queries.all.filter(q => names(q.name)) :+ lambda, out)
    assert(recs.map(_.query).toSet == names + "lambda_filter")
    recs.foreach { r =>
      assert(r.error.isEmpty, s"${r.query}: ${r.error}")
      assert(r.jobs > 0 && r.stages.exists(_.tasks > 0), s"${r.query}: no stage with tasks")
      assert(r.plan.toMap.contains("scans"))
      assert(new java.io.File(out, s"BENCH_stages/${r.query}.plan.txt").length() > 0)
    }
    val q01 = recs.find(_.query == "q01_pricing_summary").get.plan.toMap
    assert(q01("scans") == 1 && q01("partial_aggs") > 0 && q01("codegen_spans") > 0, q01)
    assert(q01("interpreted_ops") == 0, q01)
    val lambdaPlan = recs.find(_.query == "lambda_filter").get.plan.toMap
    assert(lambdaPlan("interpreted_ops") == 1, lambdaPlan)
    val stream = recs.find(_.query == "q81_streaming_ewma").get
    assert(stream.triggers.exists(t =>
      t.phases.contains("addBatch") && t.phases.contains("walCommit")), stream.triggers)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(out, "BENCH_stages.json"))
    assert(json.get("queries").size() == 3)
    // detached after the pass
    assert(!spark.streams.listListeners().exists(_.getClass.getName.startsWith("graft.Bench")))
  }

  test("stage_diff pairs two attribution artifacts query by query") {
    import scala.sys.process._
    val dir = java.nio.file.Files.createTempDirectory("stage-diff")
    def stage(wallMs: Int, tasks: Int, shuffle: Int, spill: Int) =
      s"""{"name":"s","wall_ms":$wallMs,"run_ms":1,"cpu_ms":1,"shuffle_read_bytes":$shuffle,
         |"shuffle_write_bytes":$shuffle,"spill_mem_bytes":$spill,"spill_disk_bytes":0,
         |"tasks":$tasks}""".stripMargin
    // `interpreted` < 0: an artifact written before the counter existed
    def rec(q: String, wall: String, jobs: Int, interpreted: Int, stages: String*) = {
      val plan = if (interpreted < 0) "{}" else s"""{"interpreted_ops":$interpreted}"""
      s"""{"query":"$q","wall_s":$wall,"jobs":$jobs,"plan":$plan,"stages":[${stages.mkString(",")}],"triggers":[]}"""
    }
    def artifact(name: String, recs: String*) = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, s"""{"sf":"x","queries":[\n${recs.mkString(",\n")}\n]}\n""")
      f.toString
    }
    val a = artifact("a.json",
      rec("q91", "0.600", 5, 3, stage(100, 4, 50, 0), stage(100, 5, 50, 0)),
      rec("q01", "0.200", 1, -1, stage(100, 4, 0, 0)),
      rec("gone", "1.000", 1, 0, stage(100, 1, 0, 0)))
    val b = artifact("b.json",
      rec("q01", "0.250", 1, 0, stage(100, 4, 0, 0)),
      rec("q91", "0.300", 2, 1, stage(100, 4, 25, 8)),
      rec("added", "9.000", 1, 0, stage(100, 1, 0, 0)))
    val out = new StringBuilder
    val rc = Process(Seq("python3", "tools/stage_diff.py", a, b))
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(rc == 0, out)
    val lines = out.toString.linesIterator.toList
    assert(lines.map(_.split(" ").head) == List("query", "q91", "q01"), out)
    val q91 = lines(1)
    Seq("0.600 -> 0.300 (0.50x)", "5 -> 2 (0.40x)", "9 -> 4 (0.44x)", "200 -> 50 (0.25x)",
        "0 -> 8 (new)", "3 -> 1 (0.33x)").foreach(c => assert(q91.contains(c), s"missing '$c' in: $q91"))
    assert(lines.head.contains("interpreted_ops") && lines(2).endsWith("- -> 0"), out)
  }
}
