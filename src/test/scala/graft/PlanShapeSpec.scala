package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, QueryExecution,
  SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.text.Bpe

/** Physical-plan shape assertions — the scale contract, enforced: filters
  * must reach the parquet scan, small dimensions must broadcast, heavy
  * aggregations must partial-aggregate. A regression here (e.g. a filter
  * stuck above a join, a broadcast turned sort-merge) changes nothing at
  * sf0.01 but everything at 100 TB, so it's tested like correctness. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = Queries.all.find(_.name == name).get.run(spark, sf())
    df.queryExecution.executedPlan.toString
  }

  test("q01: shipdate predicate pushed to parquet scan; partial aggregation") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_"))
  }

  test("q02/q03/q05: dimension joins broadcast, never sort-merge") {
    Seq("q02_top_customers", "q03_shipping_priority", "q05_region_revenue").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q must not SMJ")
    }
  }

  test("q05: five-way star join keeps one shuffle-free broadcast chain") {
    assert("BroadcastHashJoin".r.findAllIn(plan("q05_region_revenue")).length == 5)
  }

  test("q07: time-range + column pruning reach the events scan") {
    val p = plan("q07_events_range")
    // projection pruned to the selected columns only; ts dtype follows the
    // testdata's physical layout (bigint ns or timestamp µs — Tables adapts)
    val tsIsTimestamp =
      p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string,value:double>")
    assert(tsIsTimestamp ||
      p.contains("ReadSchema: struct<event_id:bigint,ts:bigint,event_type:string,value:double>"))
    // native-timestamp layout pushes the range predicate itself; the
    // legacy ns layout hides it behind the div-1000 cast, so only
    // IsNotNull reaches parquet there
    if (tsIsTimestamp)
      assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"))
    else
      assert(p.contains("PushedFilters: [IsNotNull(ts)"))
  }

  test("q29/q43: query side broadcasts; scoring side never shuffles whole rows") {
    Seq("q29_ann_cosine", "q43_ann_topk_agg").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q should broadcast the query set")
    }
  }

  test("q43: top-k runs as partial aggregation, not a window sort") {
    val p = plan("q43_ann_topk_agg")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
    assert(p.contains("partial_topkbyscore") ||
      p.toLowerCase.contains("partial_topk"))
    assert(!p.contains("Window"), "q43 must not fall back to a window")
  }

  test("q48: grid range join plans as a hash equi-join, not a nested loop") {
    val p = plan("q48_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join must not degrade to a nested-loop theta join")
    assert(p.contains("Join") || p.contains("HashJoin"))
  }

  test("q27: minhash is scan -> hash-aggregate (no higher-order lambdas in the agg)") {
    val p = plan("q27_minhash_sig")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_min"))
  }

  test("q36: window(ts) bucketing partial-aggregates map-side") {
    assert(plan("q36_time_bucket").contains("partial_"))
  }

  test("jaccard posting build: one id exchange feeds distinct + count window exchange-free") {
    // The scaladoc claims the dropDuplicates(id, s) and the n_shingles
    // window ride shinglePosting's repartition(id) without new shuffles
    // (ClusteredDistribution subset rule). Count the exchanges BELOW the
    // persist boundary: exactly one (the repartition itself).
    import org.apache.spark.sql.functions._
    // earlier suites persist this very plan (jaccardPairs' guard);
    // a cache hit would swap in InMemoryTableScan and the plan dump
    // would count the cached relation's exchanges too
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf())
    val posting = dedup.Dedup.shinglePosting(docs, "doc_id", "text", 3)
      .dropDuplicates("id", "s")
      .withColumn("n_shingles",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val p = posting.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1,
      s"posting build must shuffle once (the repartition), got:\n$p")
    assert(p.contains("Window"), "n_shingles window present")
  }

  test("q51: LSH buckets use the codegen dot_product, no interpreted HOF fold") {
    val p = plan("q51_embedding_neardup")
    assert(p.contains("dot_product"), "bucket bits must use the native expression")
    assert(!p.contains("aggregate(zip_with"), "no interpreted fold in the bucket path")
    // round-7 verify: hoisted per-row norms — dot/(na*nb), never the
    // fused cosine (3x the arithmetic at candidate volume)
    assert(p.contains("dot_product(va"), "verification uses the codegen dot on hoisted norms")
    assert(!p.contains("cosine_sim"), "fused cosine must not run per candidate")
    // vector fetch joins broadcast below the budget: the candidate
    // stream must never sort-merge (the 16x 146s->12s regression test)
    assert(!p.contains("SortMergeJoin"),
      s"candidate fetch must broadcast, not sort-merge:\n$p")
  }

  test("banded LSH top-k: query side broadcast on band join AND scoring join; codegen buckets") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf())
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        similarity.Similarity.asDouble(col("embedding")).as("query_vec"))
    val cands = emb.select(col("vec_id").as("cand_id"),
      similarity.Similarity.asDouble(col("embedding")).as("cand_vec"))
    val p = similarity.Similarity.lshTopKBanded(queries, cands, 10)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"band join and query-side scoring join must both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "no sort-merge on the candidate path")
    assert(p.contains("lsh_band_buckets"),
      "bucket bits must use the fused constant-code-size banding expression")
    assert(p.contains("cosine_sim"), "verification uses the codegen expression")
  }

  test("jaccard PPJoin (threshold>0): prefix join and verify run on hashed keys") {
    // the prefix path called directly: this asserts the PREFIX path's
    // plan shape, and the r16 gate routes this small corpus to postings
    val (posting, dfreq) = dedup.Dedup.cappedPosting(Tables.documents(spark, sf()),
      "doc_id", "text", n = 3, maxShingleFreq = 100)
    val p = dedup.Dedup.jaccardPrefix(posting, dfreq, 0.5)
      .queryExecution.executedPlan.toString
    assert(p.contains("xxhash64"), "prefix/verify keys must be 64-bit hashes, not strings")
    assert(p.contains("array_intersect"), "exact verify on candidate kept-sets")
  }

  test("stratified sample fuses into the scan: zero exchanges, codegen filter") {
    val p = text.Quality.stratifiedSample(
        Tables.documents(spark, sf()), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"sampling is a pure row filter — any shuffle is a regression:\n$p")
    // "*(1)" is the WholeStageCodegen stage marker in the plan string
    assert(p.contains("*(1) Filter"), s"md5-mod filter must stay in codegen:\n$p")
  }

  test("contamination: benchmark shingle set broadcasts; corpus side never re-shuffles for the probe") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf())
    import org.apache.spark.sql.functions._
    val p = text.Quality.contaminationStats(
        docs.filter(col("doc_id") % 19 =!= 0), docs.filter(col("doc_id") % 19 === 0),
        "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"membership probe must be a broadcast semi join:\n$p")
    assert(!p.contains("SortMergeJoin LeftSemi"),
      "the probe must not shuffle the corpus on the shingle")
  }

  test("repetition stats: per-gram and per-doc aggs ride the posting's id partitioning") {
    spark.catalog.clearCache()
    val df = text.Quality.repetitionStats(Tables.documents(spark, sf()), "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    // two shinglePosting repartition(id) SHUFFLE exchanges (2-grams +
    // 3-grams); groupBy(id, gram) -> groupBy(id) -> join(id) all satisfy
    // their distributions from hash(id), so no further shuffles appear.
    // (The tiny-fixture g2-g3 join may add a BroadcastExchange — that's
    // stats-driven and harmless; only shuffles are the scale contract.)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected exactly the two posting repartitions, got:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "gram counts must partial-aggregate map-side")
  }

  test("tfidf: corpus size N broadcasts as a 1-row frame; term counts partial-aggregate") {
    val p = text.Quality.tfidfKeywords(Tables.documents(spark, sf()), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "N joins in as a broadcast single row, never a shuffle")
    assert(p.contains("partial_count"), "tf/df counts must partial-aggregate")
  }

  test("q63: token occurrences never shuffle on the bare token key") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = text.Quality.unigramCrossEntropy(
        Tables.documents(spark, sf()), "doc_id", "text")
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // Token frequency is Zipfian: an exchange keyed on the bare token
    // must carry (id, token, c) aggregates (fan-in bounded by document
    // frequency), never raw explode output (fan-in = total occurrences
    // of "the"). Walking down from such an exchange must reach an
    // aggregate before the explode that creates occurrence rows.
    def aggregatedBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: GenerateExec => false
      case other => other.children.forall(aggregatedBelow)
    }
    val tokenKeyed = root.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning if h.expressions.length == 1 &&
            h.expressions.head.references.map(_.name).toSeq == Seq("token") => Some(e)
        case _ => None
      }
    }.flatten
    assert(tokenKeyed.nonEmpty, "expected the tf-join exchange keyed on token")
    tokenKeyed.foreach { e =>
      assert(aggregatedBelow(e.child),
        s"token-keyed exchange carries occurrence rows (Zipf-skew scale killer):\n$e")
    }
  }

  test("q126: hard negatives broadcast the query set and heap-aggregate, no window") {
    val p = plan("q126_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), "query set must broadcast")
    assert(p.contains("partial_topkbyscore") || p.toLowerCase.contains("partial_topk"),
      "top-k must partial-aggregate (bounded heap), not window-sort")
    assert(!p.contains("Window"), "q126 must not fall back to a window sort")
  }

  test("q127: bigram occurrences never shuffle on bare (w1,w2) or w1 keys") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = text.Quality.bigramCrossEntropy(
        Tables.documents(spark, sf()), "doc_id", "text")
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // same Zipf contract as q63, on both stats keys: any exchange hashed
    // purely on token columns (w1 / (w1,w2)) must carry aggregated rows,
    // never raw exploded bigram occurrences.
    def aggregatedBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: GenerateExec => false
      case other => other.children.forall(aggregatedBelow)
    }
    val tokenKeyed = root.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning if h.expressions.nonEmpty &&
            h.expressions.forall(_.references.map(_.name).forall(Set("w1", "w2"))) =>
          Some(e)
        case _ => None
      }
    }.flatten
    assert(tokenKeyed.nonEmpty, "expected bigram-stats exchanges keyed on w1/(w1,w2)")
    tokenKeyed.foreach { e =>
      assert(aggregatedBelow(e.child),
        s"bigram-keyed exchange carries occurrence rows (Zipf-skew scale killer):\n$e")
    }
  }

  test("q72: bucketing reads the persisted score frame — scoring runs once") {
    val p = plan("q72_ppl_buckets")
    assert(p.contains("InMemoryTableScan"),
      "bucketing must read the cached unigramCrossEntropy output")
    // everything ABOVE the cache scan must be re-explode-free (the cached
    // InMemoryRelation prints its own build plan below, which legitimately
    // contains the one scoring explode)
    assert(!p.split("InMemoryRelation")(0).contains("Generate "),
      "a token re-explode above the cache scan means scoring runs twice")
  }

  test("q53/q59: normalization and quantization run as codegen expressions in the scan stage") {
    val p53 = plan("q53_normalize_text")
    assert(p53.contains("nfc_normalize"), "NFC must be the native expression")
    val p59 = plan("q59_embedding_quantize")
    assert(p59.contains("quantize_mse"), "quantization must be the native expression")
    assert(!p59.contains("aggregate(transform"),
      "no interpreted HOF fold in the quantization path")
  }

  test("q90: mixing thresholds broadcast onto the corpus; documents never shuffle") {
    val p = plan("q90_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), "threshold join must broadcast")
    assert(!p.contains("SortMergeJoin"), "a vocabulary-sized join must never SMJ")
  }

  test("q91/q94: resample is one keyed aggregate, no window or join") {
    Seq("q91_resample_interpolate", "q94_resample_locf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window") && !p.contains("Join") && !p.contains("Union"),
        s"$q: brackets come from the grid kernel, not windows, joins or a tick union")
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
        s"$q: one keyed exchange expected\n$p")
      val scan = p.indexOf("FileScan parquet")
      assert(scan > p.indexOf("Exchange hashpartitioning(user_id"), s"$q: exchange above the events scan")
      assert(p.contains("resample_grid"), s"$q: the grid must be the native kernel")
    }
  }

  test("q92: dHash pair join is a blocked equi-join, never a cross product") {
    val p = plan("q92_image_dhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "pairing must go through the pigeonhole equi-join")
  }

  test("q32/q92/q82/q98/q33: pair families reuse ONE exchange for both self-join sides and leave no cached RDDs") {
    Seq("q32_simhash_pairs", "q92_image_dhash_pairs",
        "q82_simhash_wide", "q98_image_dhash_wide",
        "q33_minhash_pairs").foreach { q =>
      // delta-based: the shared session may carry other queries' caches
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = Queries.all.find(_.name == q).get.run(spark, sf())
      // reuse is an ADAPTIVE-plan fact: execute THIS queryExecution so
      // AQE finalizes and the reused stage is visible in the plan string
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("ReusedExchange"),
        s"$q: signature pipeline must compute once — both join sides should read one exchange")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"$q left NEW cached RDDs behind (the r11 hammingPairs persist leak): $leaked")
    }
  }

  test("q99: CM probe is broadcast-literal arithmetic in the scan stage - no token shuffle before the filter") {
    val p = plan("q99_cm_heavy_hitters")
    assert(p.contains("least("), "estimate must be the least-of-lookups expression")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the probe is literal-array arithmetic, not a join against the grid")
    // the only exchange is the candidate-token aggregation (plus its
    // AQE/global-agg companion) — the corpus itself never shuffles wide
    assert(p.contains("partial_count"), "exact count must partial-aggregate")
  }

  test("q100: quantile extraction cross-joins the literal probs broadcast-side; histogram aggregates partially") {
    val p = plan("q100_hist_quantiles")
    assert(p.contains("partial_count"), "histogram build must partial-aggregate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probs side must broadcast, never shuffle the sketch")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q136: KL drift never materializes the vocab x sources frame") {
    val p = plan("q136_kl_drift")
    // the decomposed form's only non-equi frame is the broadcast 1-row
    // globals cross join; the naive form would show a join keyed ONLY on
    // nothing (vocab x sources cartesian) or an exploded per-source
    // full-vocab frame — neither may appear
    assert(!p.contains("CartesianProduct"), "no cartesian")
    assert(p.contains("partial_"), "present-token aggregates must partial-aggregate")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      "only the 1-row globals frame may nested-loop")
  }

  test("q135: zipf regression sums partial-aggregate; rank window sorts the value table only") {
    val p = plan("q135_zipf_slope")
    assert(p.contains("partial_"), "regression sums must partial-aggregate")
    // the row_number window must sit ABOVE the (g, tok) count aggregate
    // (vocabulary-bounded), never over the exploded token stream: the
    // window's child plan segment must contain the partial count
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0)
    assert(p.indexOf("partial_count", winIdx) > 0 || p.lastIndexOf("partial_count") > winIdx,
      "rank window must consume the aggregated frequency table")
  }

  test("q134: winnowing selection stays in the scan stage — only the guarded spread and the final sort exchange") {
    val p = plan("q134_winnowing")
    // per-doc array math (tokenize, k-gram hashes, rightmost-min) is one
    // compiled winnow_select projection; the only exchanges are the
    // final orderBy's range partitioning and (on under-split inputs)
    // Tables.spread's guarded round-robin below the kernel (guide §2.5 —
    // identity on cluster-scale pre-split inputs)
    val exchanges = "Exchange \\w+".r.findAllIn(p).toList
    assert(exchanges.length <= 2,
      s"winnowing must not shuffle beyond spread + final sort:\n$p")
    assert(exchanges.count(e => !e.contains("RoundRobin")) <= 1,
      s"any exchange besides the final range sort must be the guarded spread round-robin: $exchanges\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the whole selection kernel is ONE compiled expression — the r17
    // interpreted-HOF forest (slice/reverse/array_min lambdas) must not
    // reappear (8.8x at 1x, 17x at 16x — OPTIMIZATION_r17.md)
    assert("winnow_select".r.findAllIn(p).length == 1,
      s"selection must be a single winnow_select kernel:\n$p")
    assert(!p.contains("array_distinct") && !p.contains("lambdafunction"),
      s"no interpreted HOF selection path:\n$p")
  }

  test("q130: bounded-Levenshtein DP fenced to ONE evaluation above the pinned verify fan-out") {
    // r17's 16x q130 41.5 s -> 3.6 s fix (OPTIMIZATION_r17.md): without
    // the opaque fence the optimizer inlines the DP into the text-attach
    // JOIN CONDITION (2-3 evaluations per pair) and AQE byte-coalescing
    // runs the CPU-dense verify in ONE task. Pin both properties so a
    // future optimizer/AQE change can't silently reintroduce the shape.
    val p = plan("q130_edit_verified")
    assert("levenshtein".r.findAllIn(p).length == 1,
      s"the DP must be evaluated exactly once per candidate pair:\n$p")
    assert(p.contains("opaque("),
      s"the DP must stay behind the optimizer fence:\n$p")
    assert(p.contains("RoundRobinPartitioning"),
      s"the verify fan-out must be pinned by an explicit repartition (AQE never coalesces it):\n$p")
    // plans print top-down (downstream first): the DP projection must
    // appear ABOVE (= before) the round-robin exchange it fans out on
    assert(p.indexOf("levenshtein") < p.indexOf("RoundRobinPartitioning"),
      s"the DP must sit above the verify repartition, not below it:\n$p")
  }

  /** The body of every `lambdafunction(...)` in a plan string. */
  private def lambdaBodies(p: String): Seq[String] =
    "lambdafunction\\(".r.findAllMatchIn(p).map { m =>
      var depth = 1
      var i = m.end
      while (i < p.length && depth > 0) {
        if (p(i) == '(') depth += 1 else if (p(i) == ')') depth -= 1
        i += 1
      }
      p.substring(m.end, i)
    }.toSeq

  test("q26/q77: shingles and k-gram hashes run as the compiled kernels, no interpreted lambdas") {
    val q26 = plan("q26_jaccard_pairs")
    assert(q26.contains("shingle_gen"), "q26 must call the compiled shingle_gen")
    assert(!q26.contains("lambdafunction"), "q26 must not evaluate an interpreted lambda")
    // q77 keeps one lambda, the clean_text token filter; none may hash
    // grams (the replaced form was transform(sequence, md5(slice(...))))
    val q77 = plan("q77_span_dedup")
    assert(q77.contains("gram_h60"), "q77 must call the compiled gram_h60")
    assert(!lambdaBodies(q77).exists(b => b.contains("md5(") || b.contains("slice(")),
      s"q77 hashes k-grams in an interpreted lambda:\n$q77")
  }

  test("q132: BPE rounds run bpe_pairs and bpe_merge, not the aggregate/arrays_zip forms") {
    // the q132 outer plan is a LocalTableScan of the merge loop's
    // collected rows, so the per-round plans are captured as
    // Bpe.merges executes them
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    import spark.implicits._
    val docs = Seq("banana bandana", "abab cabab", "nanana ban").toDF("text")
    spark.listenerManager.register(listener)
    try {
      // 2 rounds = 2 argmax collects + 1 merge materialization
      Bpe.merges(docs, "text", 2).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray(Array.empty[String]).toSeq
    assert(all.exists(_.contains("bpe_pairs")), s"no plan called bpe_pairs:\n${all.mkString("\n")}")
    assert(all.exists(_.contains("bpe_merge")), s"no plan called bpe_merge:\n${all.mkString("\n")}")
    assert(!all.exists(p => p.contains("aggregate(") || p.contains("arrays_zip")),
      s"an interpreted BPE form is back:\n${all.mkString("\n")}")
  }

  test("store dashboard: one aggregate with no Generate or pivotfirst; both time bounds reach the scan") {
    import spark.implicits._
    import java.sql.Timestamp
    import graft.model.TelemetryPoint
    import graft.query.TelemetryQuery
    import graft.sinks.TelemetrySink
    val store = java.nio.file.Files.createTempDirectory("graft-dash-plan-").toString
    val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    TelemetrySink.writeBatch((0 until 24).map(i => TelemetryPoint("pressure",
      Map("sensor" -> s"s0${i % 2}"), Map("pz" -> i.toDouble, "temp" -> 15.0), null,
      new Timestamp(t0 + i * 600000L), None, Some("archive"))).toDF(), store)
    val dashboard = TelemetryQuery.from(spark, store)
      .range(new Timestamp(t0 + 3600000L), new Timestamp(t0 + 3 * 3600000L))
      .measurement("pressure").tag("sensor", "s01").fields("pz", "temp")
      .withPivotValues(Seq("pz", "temp")).pivot()
    assert(dashboard.collect().length == 6)
    val p = dashboard.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), p)
    assert(!p.toLowerCase.contains("pivotfirst"), p)
    val initial = dashboard.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val pushed = initial.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }
    assert(pushed.length == 1, p)
    assert(initial.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.length == 1, p)
    assert(pushed.head.contains("GreaterThanOrEqual(time,2024-03-01 01:00:00") &&
      pushed.head.contains("LessThan(time,2024-03-01 03:00:00"), pushed.head)
    // the range bounds are read from references in the generated filter
    assert(p.contains("param(2024-03-01 01:00:00"), p)
    // no lambda anywhere: the field whitelist is key lookups, so the scan,
    // the filter and the partial aggregate compile into one stage
    assert(!p.toLowerCase.contains("lambdafunction"), p)
    val scanStage = AQE.collect(dashboard.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => stageNodes(w.child) }
      .find(_.exists(_.isInstanceOf[ColumnarToRowExec])).getOrElse(fail(s"the scan is not in codegen:\n$p"))
    assert(scanStage.exists(_.isInstanceOf[FilterExec]), p)
    assert(scanStage.exists {
      case a: HashAggregateExec => a.aggregateExpressions.forall(_.mode == Partial)
      case _ => false
    }, p)
  }

  test("rolling columns: 2 windows x 2 columns plan one Window and one Sort") {
    import spark.implicits._
    val df = (0 until 40).map(i => (s"s${i % 2}", new java.sql.Timestamp(i * 60000L), i.toDouble, 40.0 - i))
      .toDF("sensor", "time", "pz", "temp")
    val rolled = graft.batch.Rolling.withRollingColumns(df, "time", Seq("sensor"),
      Seq("5m" -> 300L, "30m" -> 1800L), Seq("pz" -> "mean", "temp" -> "max"))
    assert(rolled.collect().length == 40)
    val p = rolled.queryExecution.executedPlan
    assert(AQE.collect(p) { case w: WindowExec => w }.length == 1, p)
    assert(AQE.collect(p) { case s: SortExec => s }.length == 1, p)
  }

  test("q09/q49: every rolling column of a query shares one Window") {
    Seq("q09_rolling_window", "q49_wind_pipeline").foreach { q =>
      val p = plan(q)
      assert("Window \\[".r.findAllIn(p).length == 1, s"$q: one Window expected\n$p")
    }
  }

  /** The executed plans of the `n` file writes `body` runs. */
  private def writePlans(n: Int)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        AQE.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach(plans.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size < n && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private def storePoints(n: Int): DataFrame = {
    import spark.implicits._
    import graft.model.TelemetryPoint
    (0 until n).map(i => TelemetryPoint("pressure", Map("sensor" -> s"s${i % 3}"),
      Map("pz" -> i.toDouble), null, new java.sql.Timestamp(1709251200000L + i * 60000L),
      None, Some("archive"))).toDF()
  }

  test("sink writes dedup in one hash aggregate pair: no sort on the key, no key-string lambdas") {
    import graft.sinks.TelemetrySink
    val store = java.nio.file.Files.createTempDirectory("graft-sink-plan-").toString
    val plans = writePlans(2) {
      TelemetrySink.writeBatch(storePoints(24), store)
      TelemetrySink.writeBatchIdempotent(storePoints(24), store, batchId = 0)
    }
    assert(plans.length == 2, plans.mkString("\n"))
    plans.foreach { p =>
      val s = p.toString
      assert(AQE.collect(p) { case a: HashAggregateExec => a }.length == 2, s)
      assert(!s.contains("SortAggregate") && !s.contains("ObjectHashAggregate"), s)
      // the planned write sorts on its partition columns; nothing sorts on the key
      AQE.collect(p) { case so: SortExec => so }.foreach { so =>
        assert(so.sortOrder.flatMap(_.references.map(_.name))
          .forall(Set("bucket", "measurement", "__batch")), s)
      }
      assert(!s.contains("concat_ws") && !s.contains("array_sort"), s)
      // the one lambda left is Spark's own float normalisation of the
      // `fields` grouping key (transform_values over normalizenanandzero)
      assert(s.contains("transform_values"), s)
      assert(lambdaBodies(s).nonEmpty && lambdaBodies(s).forall(_.contains("normalizenanandzero")), s)
    }
  }

  test("Backfill.read feeding writeBatch plans no range partitioning; alone it still sorts") {
    import graft.batch.Backfill
    import graft.sinks.TelemetrySink
    import org.apache.spark.sql.functions._
    val rows = storePoints(48).select(col("tags")("sensor").as("sensor"), col("time"),
      col("fields")("pz").as("pz"))
    val t0 = new java.sql.Timestamp(1709251200000L)
    def read() = Backfill.read(spark, t0, new java.sql.Timestamp(t0.getTime + 48 * 60000L),
      chunkSeconds = 900, overlapSeconds = 300, "time", Seq("sensor", "time")) { c =>
      rows.filter(col("time") >= lit(c.start) && col("time") < lit(c.end))
    }
    val times = read().collect().map(_.getAs[java.sql.Timestamp]("time").getTime).toSeq
    assert(times.length == 48 && times == times.sorted)
    val store = java.nio.file.Files.createTempDirectory("graft-backfill-plan-").toString
    val plans = writePlans(1) {
      TelemetrySink.writeBatch(read().select(lit("pressure").as("measurement"),
        map(lit("sensor"), col("sensor")).as("tags"), map(lit("pz"), col("pz")).as("fields"),
        lit(null).cast("map<string,string>").as("fields_str"), col("time"),
        lit(null).cast("long").as("time_ns"), lit("archive").as("bucket")), store)
    }
    assert(plans.length == 1)
    assert(!plans.head.toString.toLowerCase.contains("rangepartitioning"), plans.head.toString)
    assert(TelemetrySink.readStore(spark, store).count() == 48)
  }

  test("spool fan-in: a few small files scan as one partition per branch; 480 files still split") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.Trigger
    import graft.control.EngineConfig.SourceConf
    import graft.sources.{SpoolFanIn, SpoolSource}
    def scanPartitions(filesPerSource: Int): Seq[Int] = {
      val root = Files.createTempDirectory("graft-fanin-pack-")
      val sources = Seq("sens4" -> "@253ACKQ1.10E-04,2.00E-02,3.00E-03,25.40,x\\",
          "lvm_thermistors" -> "!01000A").map { case (parser, reply) =>
        val dir = Files.createDirectories(root.resolve(parser))
        (0 until filesPerSource).foreach(i =>
          Files.writeString(dir.resolve(f"r-$i%04d.txt"), s"$reply\t${1704067205000L + i}"))
        SpoolSource(SourceConf(parser, "spool",
          Map("path" -> dir.toString, "parser" -> parser), None, Map.empty))
      }
      val q = SpoolFanIn.stream(spark, sources).writeStream
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ())
        .start()
      try q.awaitTermination() finally q.stop()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      }
    }
    // one parse branch per parser, each scanning the fan-in's files
    assert(scanPartitions(10) == Seq(1, 1))
    val catchUp = scanPartitions(240)
    assert(catchUp.length == 2 && catchUp.forall(_ > 1), catchUp)
  }

  /** Collects through adaptive plans and their query stages. */
  private object AQE extends AdaptiveSparkPlanHelper

  /** The nodes compiled into one whole-stage codegen span. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stageNodes)
  }
}
