package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.text.Quality

class QualitySpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------------------------
  // Repetition (Gopher-style) filters
  // -------------------------------------------------------------------

  test("repetitionStats: boilerplate scores high, varied prose scores low") {
    val docs = Seq(
      (1L, "a b a b a b a b a b"), // one bigram everywhere
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "x") // single token: one (degenerate) 2-gram and 3-gram
    ).toDF("doc_id", "text")
    val m = Quality.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 9 bigrams, "a b" appears 5 times -> top frac 5/9
    assert(m(1L).getDouble(1) == 5.0 / 9.0)
    assert(!m(1L).getBoolean(3)) // fails the 0.20 threshold
    // doc 2: all bigrams distinct -> top frac 1/9, no repeated trigram
    assert(m(2L).getDouble(1) == 1.0 / 9.0)
    assert(m(2L).getDouble(2) == 0.0)
    assert(m(2L).getBoolean(3))
    // degenerate doc: a single (short) gram, frac 1.0
    assert(m(3L).getDouble(1) == 1.0)
  }

  test("chunkDocuments: windows, overlap, tail, and no shuffle in the plan") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // 10 tokens
      (2L, "a b c"),                          // fits one chunk
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8")         // exactly max+stride boundary
    ).toDF("doc_id", "text")
    // maxTokens=4, overlap=2 -> stride=2
    val out = Quality.chunkDocuments(docs, "doc_id", "text", maxTokens = 4, overlap = 2)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // starts 0,2,4,6 -> 4 chunks; last covers w7..w10 (full window)
    assert(d1.map(_._3).toSeq == Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(d1.map(_._4).toSeq == Seq(4, 4, 4, 4))
    // consecutive chunks overlap by exactly `overlap` words
    d1.sliding(2).foreach { case Array(a, b) =>
      assert(a._3.split(" ").takeRight(2).toSeq == b._3.split(" ").take(2).toSeq)
    }
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b c", 3)))
    // 8 tokens: starts 0,2,4 -> last chunk x5..x8; no empty/no-new-word tail
    val d3 = rows.filter(_._1 == 3L).sortBy(_._2)
    assert(d3.map(_._3).toSeq == Seq("x1 x2 x3 x4", "x3 x4 x5 x6", "x5 x6 x7 x8"))
    // scan-fused: generator + project only, never an exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("cdcSegments: content-defined boundaries are position-independent; segments tile the doc") {
    // Shared span S embedded at DIFFERENT offsets in two docs: every
    // segment strictly inside S must be identical across the two docs —
    // the property fixed-stride windows cannot give.
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "pre1 " + shared + " post1"),
      (2L, "alpha beta gamma delta " + shared)
    ).toDF("doc_id", "text")
    val out = Quality.cdcSegments(docs, "doc_id", "text", avgSegTokens = 4)
    val segs = out.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4)))

    // segments tile each doc exactly: n_tokens sums to doc length,
    // start_pos is the running sum, reassembly gives the original text
    for ((id, txt) <- Seq((1L, "pre1 " + shared + " post1"),
                          (2L, "alpha beta gamma delta " + shared))) {
      val ss = segs.filter(_._1 == id).sortBy(_._2)
      assert(ss.map(_._4).sum == txt.split(" ").length)
      assert(ss.map(_._5).toSeq == ss.map(_._4).toSeq.scanLeft(0)(_ + _).init)
      assert(ss.map(_._3).mkString(" ") == txt)
    }

    // interior segments of the shared span coincide: drop each doc's
    // segments that touch text outside S, compare the rest
    def interior(id: Long, spanStart: Int): Seq[String] = {
      val spanEnd = spanStart + 40
      segs.filter(_._1 == id).sortBy(_._2)
        .filter(s => s._5 >= spanStart && s._5 + s._4 <= spanEnd)
        .map(_._3).toSeq
    }
    val i1 = interior(1L, 1)   // doc 1: S starts after 1 leading token
    val i2 = interior(2L, 4)   // doc 2: S starts after 4 leading tokens
    assert(i1.nonEmpty, "span must contain at least one interior segment")
    // doc 1's interior segments, minus any boundary-straddling first/last,
    // appear as a contiguous run inside doc 2's (and vice versa)
    assert(i2.containsSlice(i1.drop(1).dropRight(1)) ||
           i1.containsSlice(i2.drop(1).dropRight(1)))

    // scan-fused: generator + project only, never an exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"cdcSegments must not shuffle:\n$plan")
  }

  test("verbatimOverlapPairs: finds planted overlap, honors minSegTokens and maxDf") {
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, "pre1 " + shared + " post1"),
      (2L, "alpha beta gamma delta " + shared),
      (3L, "unrelated text entirely different from the rest " + boiler),
      (4L, "more unrelated material here too " + boiler),
      (5L, "yet another boilerplate carrier " + boiler)
    ).toDF("doc_id", "text")
    val pairs = Quality.verbatimOverlapPairs(docs, "doc_id", "text",
        avgSegTokens = 4, minSegTokens = 2, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 2L)), s"planted overlap not found: $pairSet")
    val shared12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(shared12 >= 1)
    // boilerplate trio pairs up at maxDf=50 but vanishes at maxDf=2
    assert(pairSet.contains((3L, 4L)) && pairSet.contains((4L, 5L)))
    val capped = Quality.verbatimOverlapPairs(docs, "doc_id", "text",
        avgSegTokens = 4, minSegTokens = 2, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((3L, 4L)) && !capped.contains((4L, 5L)),
      s"df>maxDf boilerplate must not pair: $capped")
    assert(capped.contains((1L, 2L)), "df=2 planted overlap must survive the cap")
  }

  test("packShardsStrict: never exceeds the budget; resets per stratum; oversized doc isolated") {
    val docs = Seq(
      // stratum a: 900+900 fit one 2000-shard, 800 starts the next
      ("a", 1L, 900L), ("a", 2L, 900L), ("a", 3L, 800L), ("a", 4L, 1300L),
      // stratum b: oversized single doc gets its own shard, then reset
      ("b", 1L, 5000L), ("b", 2L, 100L),
      ("b", 3L, 1900L), ("b", 4L, 200L)
    ).toDF("lang", "doc_id", "toks")
    val out = Quality.packShardsStrict(docs, Seq("lang"), "doc_id",
        col("toks"), budgetTokens = 2000L)
      .select("lang", "doc_id", "shard_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("a", 1L)) == 0L && out(("a", 2L)) == 0L)
    assert(out(("a", 3L)) == 1L && out(("a", 4L)) == 2L) // 800+1300 > 2000
    assert(out(("b", 1L)) == 0L) // oversized, alone
    assert(out(("b", 2L)) == 1L && out(("b", 3L)) == 1L) // 100+1900 == 2000 fits
    assert(out(("b", 4L)) == 2L)
    // the never-exceed contract, asserted wholesale on the fixture:
    // every multi-doc shard sums <= budget
    val sums = Quality.packShardsStrict(docs, Seq("lang"), "doc_id",
        col("toks"), budgetTokens = 2000L)
      .groupBy("lang", "shard_id")
      .agg(sum("n_tokens").as("s"), count(lit(1)).as("c"))
      .collect()
    sums.foreach(r => assert(r.getLong(3) == 1L || r.getLong(2) <= 2000L,
      s"shard over budget: $r"))
  }

  // -------------------------------------------------------------------
  // Benchmark contamination
  // -------------------------------------------------------------------

  test("contaminationStats: counts distinct leaked n-grams per doc") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares 3-grams with bench
      (2L, "zeta eta theta iota kappa") // clean
    ).toDF("doc_id", "text")
    val m = Quality.contaminationStats(docs, bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // doc 1 trigrams: {a b g, b g d, g d e}; bench has {a b g, b g d}
    assert(m(1L) == ((3L, 2L, true)))
    assert(m(2L) == ((3L, 0L, false)))
  }

  test("contaminationStats: bloom fallback matches the broadcast branch, probes in-scan") {
    val docs = Tables.documents(spark, sf())
    val corpus = docs.filter(col("doc_id") % 19 =!= 0)
    val bench = docs.filter(col("doc_id") % 19 === 0)
    def run(limit: Long) =
      Quality.contaminationStats(corpus, bench, "doc_id", "text", n = 3,
        broadcastLimit = limit)
    // broadcastLimit = 0 forces every benchmark past the gate
    val bloom = run(0L)
    // identical output on both branches (both computations are
    // deterministic, so exact Row equality is the right comparison)
    assert(bloom.orderBy("doc_id").collect().toSeq ==
      run(Long.MaxValue).orderBy("doc_id").collect().toSeq)
    // fallback shape: the bloom probe is a codegen filter in the corpus
    // scan stage; only its survivors reach the exact semi join
    val p = bloom.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"fallback must prune with the codegen bloom probe:\n$p")
  }

  test("removeBoilerplate: drops frequent lines, keeps order and intra-doc repeats") {
    // "nav" is in all 4 docs (boilerplate at minDocs=3); "rare" only in 2
    val docs = Seq(
      (1L, "nav\nbody one\nbody one\nrare"),
      (2L, "nav\nbody two"),
      (3L, "rare\nnav"),
      (4L, "nav") // fully boilerplate: survives with empty text
    ).toDF("doc_id", "text")
    val bp = Quality.boilerplateLines(docs, "text", minDocs = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(bp.toSeq == Seq(("nav", 4L)))
    val out = Quality.removeBoilerplate(docs, "doc_id", "text", minDocs = 3)
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // intra-doc repeated (non-boilerplate) line kept twice, order preserved
    assert(m(1L) == (("body one\nbody one\nrare", 3L, 1L)))
    assert(m(2L) == (("body two", 1L, 1L)))
    assert(m(3L) == (("rare", 1L, 1L)))
    assert(m(4L) == (("", 0L, 1L)))
    // the document side never shuffles — the frequent
    // set arrives by broadcast and the only hash-partitioned exchange in
    // the final plan is the line rollup (the SinglePartition exchange is
    // the 1-row collect_list agg)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"doc side must not shuffle:\n$plan")
  }

  test("perplexityBuckets: tertiles split the corpus; no window") {
    val docs = Tables.documents(spark, sf())
    val out = Quality.perplexityBuckets(docs, "doc_id", "text")
    val counts = out.groupBy("ppl_bucket").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    // exact tertile cutoffs: each bucket holds a third (±1 for ties)
    assert(counts.keySet == Set("head", "middle", "tail"))
    counts.values.foreach(c =>
      assert(math.abs(c - n / 3.0) <= 2, s"lopsided buckets: $counts"))
    // head is the LOW-entropy (most predictable) slice
    val means = out.groupBy("ppl_bucket").agg(avg("nats_per_token"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(means("head") < means("middle") && means("middle") < means("tail"))
    // no global sort / single-partition window in the bucketing plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"bucketing must not window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition\n   +- *"), plan)
  }

  test("contaminationStats: flags only above maxFrac") {
    val bench = Seq((100L, "p q r")).toDF("doc_id", "text")
    val docs = Seq((1L, "p q r s t u v w x y z a b c d e f g h i j k l m n o")).toDF("doc_id", "text")
    val r = Quality.contaminationStats(docs, bench, "doc_id", "text", n = 3, maxFrac = 0.10)
      .collect().head
    assert(r.getLong(2) == 1L) // one leaked trigram out of 24
    assert(!r.getBoolean(4))
  }

  // -------------------------------------------------------------------
  // PII scan + redaction
  // -------------------------------------------------------------------

  test("piiScan: detects and redacts emails, IPv4s, long digit runs") {
    val docs = Seq(
      (1L, "contact bob.smith+spam@example.co.uk or 10.0.0.1 ref 123456789"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val m = Quality.piiScan(docs, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getInt(2) == 1) // n_emails
    assert(m(1L).getInt(3) == 1) // n_ipv4
    assert(m(1L).getInt(4) == 1) // n_long_digits
    assert(m(1L).getString(5) == "contact <EMAIL> or <IP> ref <NUM>")
    assert(m(2L).getInt(2) == 0 && m(2L).getInt(3) == 0 && m(2L).getInt(4) == 0)
    assert(m(2L).getString(5) == "no pii here at all")
  }

  // -------------------------------------------------------------------
  // Deterministic stratified sampling
  // -------------------------------------------------------------------

  test("stratifiedSample: deterministic, partitioning-independent, rate-accurate") {
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val once = Quality.stratifiedSample(docs, "lang", "doc_id", rates)
      .select("doc_id").as[Long].collect().sorted
    val again = Quality.stratifiedSample(docs.repartition(13), "lang", "doc_id", rates)
      .select("doc_id").as[Long].collect().sorted
    assert(once.sameElements(again)) // same rows on any partitioning
    val byLang = Quality.stratifiedSample(docs, "lang", "doc_id", rates)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5 is uniform: expect ~500 en (p=.5 of 1000), ~100 de (p=.1 of 1000)
    assert(byLang("en") > 400 && byLang("en") < 600)
    assert(byLang("de") > 60 && byLang("de") < 140)
    // stratum not in the rate map -> dropped entirely (defaultRate 0)
    val other = Seq((1L, "fr")).toDF("doc_id", "lang")
    assert(Quality.stratifiedSample(other, "lang", "doc_id", rates).count() == 0)
  }

  test("hashKeep: same decision as stratifiedSample's inline rule") {
    val df = (0L until 500L).toDF("id")
    val viaHelper = df.filter(Quality.hashKeep(col("id"), 0.3)).as[Long].collect().sorted
    val viaSample = Quality.stratifiedSample(
        df.withColumn("s", lit("x")), "s", "id", Map("x" -> 0.3))
      .select("id").as[Long].collect().sorted
    assert(viaHelper.sameElements(viaSample))
  }

  // -------------------------------------------------------------------
  // Shard packing
  // -------------------------------------------------------------------

  test("packShards: budget-aligned, order-pinned, bounded overshoot") {
    def pack(sizes: Seq[Long], budget: Long): Seq[(Long, Long)] = {
      val docs = sizes.zipWithIndex.map { case (n, i) => (i.toLong, "g", n) }
        .toDF("doc_id", "grp", "n")
      Quality.packShards(docs.repartition(7), Seq("grp"), "doc_id", col("n"), budget)
        .select("doc_id", "shard_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    // exact fit: 5+5 fill shard 0, next starts shard 1
    assert(pack(Seq(5L, 5L, 5L), 10L).map(_._2) == Seq(0L, 0L, 1L))
    // straddling doc stays in the shard where its prefix began
    // (shard 0 holds 12 tokens — overshoot bounded by one document)
    assert(pack(Seq(6L, 6L, 6L), 10L).map(_._2) == Seq(0L, 0L, 1L))
    // an oversized doc consumes several budgets; later docs skip ahead
    assert(pack(Seq(25L, 3L), 10L).map(_._2) == Seq(0L, 2L))
    // strata pack independently
    val two = Seq((1L, "a", 8L), (2L, "a", 8L), (3L, "b", 8L))
      .toDF("doc_id", "grp", "n")
    val m = Quality.packShards(two, Seq("grp"), "doc_id", col("n"), 10L)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 0L && m(2L) == 0L && m(3L) == 0L)
  }

  // -------------------------------------------------------------------
  // TF-IDF keywords
  // -------------------------------------------------------------------

  test("tfidfKeywords: rare tokens outscore common ones; ties break on token") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common other"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val top = Quality.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).orderBy("rank")
      .select("token", "score").collect()
    // rare1: tf=1, df=1 -> 1*(3/1)=3.0 ; common: tf=2, df=3 -> 2*(3/3)=2.0
    assert(top(0).getString(0) == "rare1" && top(0).getDouble(1) == 3.0)
    assert(top(1).getString(0) == "common" && top(1).getDouble(1) == 2.0)
  }

  // -------------------------------------------------------------------
  // Unigram LM scoring
  // -------------------------------------------------------------------

  test("unigramCrossEntropy: common-token prose scores lower than rare-token text") {
    val docs = Seq(
      (1L, "a a a a"), // all tokens are the corpus's most common word
      (2L, "b c d e") // every token unique in the corpus
    ).toDF("doc_id", "text")
    val m = Quality.unigramCrossEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // corpus: 8 tokens; p(a)=4/8, p(b..e)=1/8
    assert(math.abs(m(1L)._1 - (-math.log(0.5))) < 1e-9)
    assert(math.abs(m(2L)._1 - (-math.log(0.125))) < 1e-9)
    assert(m(1L)._1 < m(2L)._1)
    assert(m(1L)._2 == 4L && m(2L)._2 == 4L)
  }

  test("bigramCrossEntropy: hand-computed Laplace probabilities; one-token docs drop") {
    val docs = Seq(
      (1L, "a b a b"), // bigrams: (a,b)x2, (b,a)x1
      (2L, "a c"),     // bigram: (a,c)x1
      (3L, "solo")     // no bigram -> no output row
    ).toDF("doc_id", "text")
    val m = Quality.bigramCrossEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // corpus: cbg(a,b)=2, cbg(b,a)=1, cbg(a,c)=1; cu(a)=3, cu(b)=1;
    // V = |{a,b,c,solo}| = 4 (vocab counts ALL tokens, not just prefixes)
    // P(b|a) = (2+1)/(3+4) = 3/7 ; P(a|b) = (1+1)/(1+4) = 2/5 ; P(c|a) = (1+1)/(3+4) = 2/7
    val d1 = (2 * -math.log(3.0 / 7) + -math.log(2.0 / 5)) / 3
    val d2 = -math.log(2.0 / 7)
    assert(math.abs(m(1L)._1 - d1) < 1e-9)
    assert(math.abs(m(2L)._1 - d2) < 1e-9)
    assert(m(1L)._2 == 3L && m(2L)._2 == 1L)
    assert(!m.contains(3L))
  }

  test("snapshotDiff: added/removed/changed classified; normalization-only edits invisible") {
    val oldSnap = Seq(
      (1L, "kept exactly"),
      (2L, "will change"),
      (3L, "will be removed"),
      (4L, "Spaced   And  CASED") // normalization-only difference in new
    ).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "kept exactly"),
      (2L, "has changed"),
      (4L, "spaced and cased"), // same fingerprint as old #4
      (5L, "brand new doc")
    ).toDF("doc_id", "text")
    val out = Quality.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .select("doc_id", "change").as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 5L -> "added"))
    // unchanged (1) and normalization-only (4) rows are not emitted
    assert(!out.contains(1L) && !out.contains(4L))
  }

  // -------------------------------------------------------------------
  // NFC normalization expression
  // -------------------------------------------------------------------

  test("nfc_normalize: composes decomposed sequences; identity on ASCII; null-safe") {
    val decomposed = "Cafe\u0301" // e + U+0301 combining acute
    val composed = "Caf\u00e9" // precomposed e-acute
    val rows = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"))
      .toDF("id", "t")
      .select(col("id"), VectorFunctions.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == composed) // NFC composes
    assert(rows(2L) == composed) // already-NFC unchanged
    assert(rows(3L) == "plain ascii")
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(VectorFunctions.nfcNormalize(col("t"))).collect()
    assert(n(0).isNullAt(0))
    // dedup consequence: both spellings fingerprint identically after NFC
    val fps = Seq((1L, decomposed), (2L, composed)).toDF("id", "t")
      .select(md5(VectorFunctions.nfcNormalize(col("t")))).distinct().count()
    assert(fps == 1L)
  }

  // -------------------------------------------------------------------
  // Scalar quantization expression
  // -------------------------------------------------------------------

  test("quantize_mse: codegen and interpreted paths bit-identical; bounds sane") {
    val vecs = Seq(
      (1L, Seq(0.0, 0.5, 1.0)), // grid-aligned-ish
      (2L, Seq(-1.0, -0.33, 0.17, 0.99)),
      (3L, Seq(2.5, 2.5, 2.5)), // constant vector -> exact, mse 0
      (4L, Seq.empty[Double])
    ).toDF("id", "v")
    val cg = vecs.select(col("id"),
      VectorFunctions.quantizeMse(col("v"), lit(255)).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = vecs.select(col("id"),
        VectorFunctions.quantizeMse(col("v"), lit(255)).as("m")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      cg.foreach { case (k, v) => assert(interp(k) == v) } // BIT-identical
    }
    assert(cg(3L) == 0.0 && cg(4L) == 0.0)
    // 255-level quantization over range r: per-dim error <= (r/255/2)^2
    assert(cg(1L) > 0.0 && cg(1L) <= math.pow(1.0 / 255 / 2, 2))
    assert(cg(2L) > 0.0 && cg(2L) <= math.pow(1.99 / 255 / 2, 2))
    // more levels -> monotonically no-worse reconstruction
    val coarse = vecs.filter(col("id") === 2L)
      .select(VectorFunctions.quantizeMse(col("v"), lit(15))).head().getDouble(0)
    assert(coarse >= cg(2L))
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
