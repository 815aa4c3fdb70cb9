package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Corpus-quality operators a large-scale training-data pipeline runs
  * between raw crawl and training shards: repetition filtering
  * (Gopher-style), benchmark-contamination detection (n-gram overlap),
  * PII scanning, deterministic stratified sampling, and TF-IDF keyword
  * extraction. All declarative column algebra — every shuffle is keyed
  * by `doc_id` (or a token with bounded per-key cardinality), so each
  * op scales horizontally with the corpus.
  */
object Quality {

  /** Fan-in above which a token's stats rows broadcast instead of
    * shuffling in the token-keyed joins ([[unigramCrossEntropy]],
    * [[tfidfKeywords]] — via [[graft.operators.SaltedJoin.headBroadcast]]).
    * 10⁷ keeps any single reducer's per-key rows to ~10 M narrow tuples
    * (seconds of work) while the Zipf head that crosses it stays a
    * comfortably broadcastable few hundred thousand rows even at 10⁹
    * documents. */
  val HeadTokenFanIn: Long = 10_000_000L

  /** [[perplexityBuckets]]' previously-persisted score frame, released
    * when the next call persists a new one — see its scaladoc. */
  private val lastPplScored =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Gopher-style repetition statistics per document (Rae et al. 2021,
    * "Scaling Language Models", table A1 repetition filters): the
    * fraction of word 2-grams occupied by the single most frequent
    * 2-gram, and the fraction of word 3-grams that occur more than once.
    * Boilerplate and keyboard-mash score high on both; natural prose
    * scores low.
    *
    * Scale shape: `Dedup.shinglePosting` fans (doc_id, n-gram) rows
    * across shuffle partitions with ONE id-keyed exchange; both
    * per-(doc,gram) counts and the per-doc rollup ride that same hash
    * partitioning (no second exchange per agg — asserted for the same
    * shape in PlanShapeSpec's minhash test). Nothing is quadratic in
    * document length and no key exceeds per-doc gram cardinality. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      maxTop2gramFrac: Double = 0.20, maxDup3gramFrac: Double = 0.60): DataFrame = {
    def gramFracs(n: Int) =
      Dedup.shinglePosting(docs, idCol, textCol, n)
        .groupBy("id", "s").agg(count(lit(1)).as("c"))
        .groupBy("id").agg(
          sum(col("c")).as("total"),
          max(col("c")).as("top"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
    val g2 = gramFracs(2).select(col("id"),
      (col("top").cast("double") / col("total")).as("top_2gram_frac"))
    val g3 = gramFracs(3).select(col("id"),
      (col("dup").cast("double") / col("total")).as("dup_3gram_frac"))
    g2.join(g3, Seq("id"))
      .select(col("id").as(idCol), col("top_2gram_frac"), col("dup_3gram_frac"),
        (col("top_2gram_frac") <= maxTop2gramFrac &&
          col("dup_3gram_frac") <= maxDup3gramFrac).as("passes"))
  }

  /** Benchmark-contamination scan (the decontamination step every
    * training pipeline runs before shipping shards): for each corpus
    * document, the fraction of its distinct word `n`-grams that also
    * appear in `benchmark` (an eval set). Docs above `maxFrac` must be
    * dropped or the benchmark is leaked into training.
    *
    * Scale shape: the benchmark side is an eval suite — thousands of
    * documents, not billions — so its distinct-shingle set broadcasts
    * and the corpus side never shuffles for the membership test (a
    * broadcast left-semi join). When the benchmark OUTGROWS the
    * broadcast budget (`broadcastLimit` distinct shingles — a union of
    * many eval suites, or decontaminating against another corpus), the
    * probe switches to [[graft.sketch.Sketches.bloomSemiJoin]] on the
    * 64-bit shingle hash: the bloom probe is a codegen'd filter fused
    * into the corpus scan (fpp of the corpus survives it), and only
    * those survivors — never the corpus — shuffle for the exact semi
    * join. Membership equality in that branch is on `xxhash64(s)`, the
    * same hashed-key discipline as the PPJoin verify (Dedup.scala).
    * Both branches are spec-asserted equivalent (QualitySpec). Pass
    * `benchmarkCount` (distinct benchmark shingles, even roughly) when
    * known to skip the gate's sizing count. The only corpus-side
    * exchange in either branch is the distinct, keyed by (doc_id,
    * gram). */
  def contaminationStats(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5,
      maxFrac: Double = 0.05,
      benchmarkCount: Option[Long] = None,
      broadcastLimit: Long = 4000000L): DataFrame = {
    val corpusShingles = Dedup.shinglePosting(docs, idCol, textCol, n).distinct()
    val benchShingles = Dedup.shinglePosting(benchmark, idCol, textCol, n)
      .select("s").distinct()
    val nBench = benchmarkCount.getOrElse(benchShingles.count())
    val hits =
      if (nBench <= broadcastLimit)
        corpusShingles.join(broadcast(benchShingles), Seq("s"), "left_semi")
      else
        graft.sketch.Sketches.bloomSemiJoin(
          corpusShingles.withColumn("s64", xxhash64(col("s"))),
          benchShingles.select(xxhash64(col("s")).as("s64")),
          "s64", expectedItems = nBench)
    val matched = hits
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    corpusShingles.groupBy("id").agg(count(lit(1)).as("n_shingles"))
      .join(matched, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_frac",
        col("n_contaminated").cast("double") / col("n_shingles"))
      .withColumn("flagged", col("contamination_frac") > maxFrac)
  }

  /** PII detector patterns — RE2-safe (no lookaround/backreferences) so
    * Java regex and external engines agree. Deliberately high-recall
    * simple shapes: emails, IPv4 addresses, and 9+-digit runs (SSN /
    * account / phone-shaped). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val LongDigitPattern = "[0-9]{9,}"

  /** Per-document PII hit counts + the redacted text. Pure regexp
    * column expressions — runs at scan speed; the redaction masks every
    * match with a fixed token so downstream fingerprints are stable. */
  def piiScan(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails", regexp_count(t, lit(EmailPattern)))
      .withColumn("n_ipv4", regexp_count(t, lit(Ipv4Pattern)))
      .withColumn("n_long_digits", regexp_count(t, lit(LongDigitPattern)))
      .withColumn("pii_redacted",
        regexp_replace(regexp_replace(regexp_replace(t,
          EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
          LongDigitPattern, "<NUM>"))
  }

  /** Deterministic hash sample decision: keep a row iff
    * `md5(salt || key) mod 1000 < rate*1000`. Same row set on every
    * run, every engine (the md5 trick [[graft.dedup.Dedup.h32]] uses),
    * and independent of partitioning — unlike `df.sample`, whose output
    * depends on split boundaries. This is how a 100 TB pipeline carves
    * train/val splits and per-stratum quotas reproducibly. */
  def hashKeep(key: Column, rate: Double, salt: String = "graft"): Column =
    Dedup.h32(concat(lit(salt), lit(":"), key.cast("string"))) % 1000 <
      math.round(rate * 1000).toInt

  /** Stratified sampling: per-stratum keep-rates applied with the
    * deterministic hash rule. `rates` is driver-side (strata are a
    * vocabulary — languages, sources — not data-scale), compiled into a
    * literal CASE chain so sampling fuses into the scan: zero shuffles,
    * zero joins, trivially parallel. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "graft"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    // hashKeep inlined with a per-row rate: threshold = round(rate*1000)
    df.filter(
      Dedup.h32(concat(lit(salt), lit(":"), col(keyCol).cast("string"))) % 1000 <
        round(rate * 1000).cast("int"))
  }

  /** Pack documents into training shards of ~`budgetTokens` tokens
    * each (documents never split). This is the step that turns a
    * filtered corpus into the fixed-size shard files a training job
    * actually reads. Shard id is `floor(exclusive-prefix-sum /
    * budget)` — one window pass, no iteration. A document straddling a
    * budget boundary stays in the shard where its prefix began, so a
    * shard may overshoot the budget by less than one document
    * (budget-ALIGNED packing; strict never-exceed packing is a
    * non-associative sequential recurrence — deliberately avoided, the
    * overshoot is bounded and training shards tolerate it).
    *
    * Determinism and scale: packing is inherently order-dependent, so
    * the order is pinned (`idCol` ascending) and packing runs
    * independently WITHIN each `groupCols` stratum — the window sorts
    * one stratum per task, never globally. Strata must therefore be
    * chosen finer than executor memory at real scale (lang × source ×
    * a hash prefix of the id, say); each stratum emits its own shard
    * sequence, which is exactly how shard directories are laid out
    * anyway. */
  def packShards(docs: DataFrame, groupCols: Seq[String], idCol: String,
      nTokensCol: Column, budgetTokens: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .withColumn("__n_tokens", nTokensCol)
      .withColumn("__before", coalesce(sum(col("__n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", floor(col("__before") / budgetTokens).cast("long"))
      .drop("__before")
      .withColumnRenamed("__n_tokens", "n_tokens")
  }

  /** Strict NEVER-EXCEED shard packing — the companion to [[packShards]]
    * for consumers that cannot tolerate its bounded one-document
    * overshoot (fixed-size sequence buffers, hard object-store limits):
    * a document that would push the current shard past `budgetTokens`
    * starts a new shard instead. A single document larger than the
    * whole budget still becomes its own oversized shard — no packing
    * discipline can split what must not be split.
    *
    * The greedy fill is a non-associative sequential recurrence — no
    * window/prefix-sum form exists — so it runs as per-stratum sorted
    * `mapPartitions`: ONE exchange (repartition on the stratum key), an
    * in-task sort by (stratum, id), then a single forward pass with
    * O(1) state that resets at each stratum boundary. A stratum must
    * fit one task — the same contract [[packShards]] documents (choose
    * strata finer than executor memory: lang × source × id-hash-prefix);
    * a partition may carry many strata, the pass handles the
    * boundaries. This is the one place in the corpus pipeline where
    * `mapPartitions` is genuinely required (the recurrence), trading
    * whole-stage codegen for the never-exceed contract; q61's aligned
    * packing remains the default for plain training shards. */
  def packShardsStrict(docs: DataFrame, groupCols: Seq[String], idCol: String,
      nTokensCol: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    val withTok = docs.withColumn("n_tokens", nTokensCol.cast("long"))
    val parted = withTok.repartition(groupCols.map(col): _*)
      .sortWithinPartitions((groupCols :+ idCol).map(col): _*)
    val schema = parted.schema
      .add("shard_id", org.apache.spark.sql.types.LongType, nullable = false)
    val gIdx = groupCols.map(parted.schema.fieldIndex)
    val tIdx = parted.schema.fieldIndex("n_tokens")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    parted.mapPartitions { rows =>
      var curKey: Seq[Any] = null
      var shard = 0L
      var used = 0L
      rows.map { r =>
        val key = gIdx.map(r.get)
        if (key != curKey) { curKey = key; shard = 0L; used = 0L }
        val n = r.getLong(tIdx)
        if (used > 0 && used + n > budgetTokens) { shard += 1; used = 0L }
        used += n
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ shard)
      }
    }
  }

  /** Unigram cross-entropy per document (nats/token) — the CCNet-style
    * language-model quality signal: score each token by its corpus-wide
    * unigram probability and average `-ln p(token)` over the document.
    * Prose built from common words scores low (predictable); keyboard
    * mash, boilerplate codes and wrong-language text score high. With
    * the LM estimated on the corpus itself every token has nonzero
    * probability, so no smoothing term is needed.
    *
    * Scale shape — the critical rule here is that token OCCURRENCES
    * never shuffle on the bare token key. Token frequency is Zipfian:
    * at 100 TB "the" alone is several percent of all occurrence rows,
    * and an occurrence-level `join(tf, "token")` lands them all on ONE
    * shuffle key — the classic skewed-key scale-killer, invisible at
    * small sf. So occurrences are first pre-aggregated to
    * `(id, token, c)` — keyed by (id, token), well-distributed — and
    * only THAT frame joins on token, with per-key row count bounded by
    * document frequency (docs containing the token), not total
    * occurrences; the weighted mean `sum(c·(−ln p))/sum(c)` recovers
    * the exact per-occurrence average. Token counts partial-aggregate
    * on the token (vocabulary-bounded); the corpus token total is a
    * 1-row broadcast; the per-doc mean shuffles on doc_id. Per-token
    * `-ln p` values scale by exact DECIMAL multiplication and sum as
    * DECIMAL (exact, associative) so the mean is bit-stable under any
    * partial-aggregation order — the same float-parity discipline as
    * the money aggregates. PlanShapeSpec asserts every bare-token
    * exchange carries aggregated rows only. */
  def unigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextStats.tokens(col(textCol))).as("token"))
    val perDoc = toks.groupBy("id", "token").agg(count(lit(1)).as("c"))
    val tf = perDoc.groupBy("token").agg(sum(col("c")).as("ctf"))
    val tot = perDoc.agg(sum(col("c")).as("n_total"))
    // DECIMAL(10,0) is the widest multiplicand both engines multiply
    // exactly at scale 12: Spark (27,12)x(10,0) -> (27+10+1=38,12),
    // DuckDB -> (27+10=37,12). The 10^10 bound is STRUCTURALLY
    // unreachable (a Spark string column caps at 2 GB, so one document
    // holds < 2^31 ~ 2.1e9 occurrences of any token) — unlike the
    // previous DECIMAL(6,0), whose 10^6 bound a few-MB spam document
    // could cross and silently null out of the sum under non-ANSI casts.
    // Token-keyed join through the broadcast-head gate: per-key fan-in on
    // the shuffle is df(token) ≤ ctf(token), so gating on ctf is a
    // conservative superset of the true-skew head — a few extra stopwords
    // broadcast, no hot key ever reaches a reducer. Below the threshold
    // (every test corpus) AQE prunes the empty head branch and the plan
    // is the old single join.
    graft.operators.SaltedJoin
      .headBroadcast(perDoc, tf, "token", "ctf", HeadTokenFanIn)
      .crossJoin(broadcast(tot))
      .select(col("id"), col("c"),
        ((-log(col("ctf").cast("double") / col("n_total")))
          .cast(org.apache.spark.sql.types.DecimalType(27, 12)) *
          col("c").cast(org.apache.spark.sql.types.DecimalType(10, 0))).as("nllc"))
      .groupBy("id")
      .agg((sum(col("nllc")).cast("double") / sum(col("c"))).as("nats_per_token"),
        sum(col("c")).as("n_tokens"))
      .select(col("id").as(idCol), col("nats_per_token"), col("n_tokens"))
  }

  /** BIGRAM LM cross-entropy with add-one (Laplace) smoothing, trained on
    * the scored corpus itself — the conditional-probability upgrade of
    * [[unigramCrossEntropy]] (CCNet / Wenzek et al. 2019 score documents
    * with a KenLM n-gram model; the bigram-with-Laplace form keeps every
    * count integral so both engines derive bit-identical probabilities):
    *
    *   P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)
    *
    * with c(w₁w₂) the corpus bigram count, c(w₁·) the corpus count of w₁
    * as a bigram prefix, and V the corpus unigram vocabulary size. Output
    * `(idCol, nats_per_bigram, n_bigrams)` — one row per document with
    * ≥ 2 tokens (a one-token document has no bigram to score).
    *
    * Float parity (the q63 discipline): numerator and denominator are
    * exact BIGINTs, so the double division and `-ln` are deterministic;
    * each bigram's nll is cast to DECIMAL(27,12) and weighted by its
    * DECIMAL(10,0) count so the per-document sum is exact and
    * order-independent under any partial-aggregation schedule.
    *
    * Scale shape: per-document bigram counts are the only token-granular
    * rows; they join corpus bigram stats on the (w₁,w₂) key and prefix
    * stats on w₁ through the [[graft.operators.SaltedJoin.headBroadcast]]
    * gate (fan-in per key ≤ its corpus count, same cure as
    * [[unigramCrossEntropy]] — a Zipf-head prefix like "the" broadcasts
    * instead of stacking one reducer), and V arrives as a broadcast
    * 1-row frame. Nothing shuffles ungrouped token rows. */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec27 = org.apache.spark.sql.types.DecimalType(27, 12)
    val dec10 = org.apache.spark.sql.types.DecimalType(10, 0)
    // NO Tables.spread here (tried in r17, reverted): the serial
    // pre-exchange segment is only the tokenize projection (~0.3 s at
    // sf0.1) — the per-doc bigram COUNT already partial-aggregates into
    // its own exchange, and the added repartition cost more than the
    // parallelism it bought (min-of-reps +0.7 s, OPTIMIZATION_r17.md)
    val toks = docs.select(col(idCol).as("id"), TextStats.tokens(col(textCol)).as("w"))
    // interior bigrams: zip w[0..n-2] with w[1..n-1] (codegen generators —
    // slice/arrays_zip/explode all stay inside whole-stage codegen)
    val bg = toks.filter(size(col("w")) >= 2)
      .select(col("id"), explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("w2"))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val perDoc = bg.groupBy("id", "w1", "w2").agg(count(lit(1)).as("c"))
    val cbg = perDoc.groupBy("w1", "w2").agg(sum(col("c")).cast("long").as("cbg"))
    val cu = perDoc.groupBy("w1").agg(sum(col("c")).cast("long").as("cu"))
    val vocab = docs.select(explode(TextStats.tokens(col(textCol))).as("token"))
      .agg(count_distinct(col("token")).as("v"))
    // (w1,w2)-keyed join: fan-in per bigram key ≤ cbg; w1-keyed join:
    // fan-in ≤ cu. Gate both on their own corpus counts.
    val joined = graft.operators.SaltedJoin
      .headBroadcast(perDoc, cbg, Seq("w1", "w2"), "cbg", HeadTokenFanIn)
    val withCu = graft.operators.SaltedJoin
      .headBroadcast(joined, cu, Seq("w1"), "cu", HeadTokenFanIn)
    withCu.crossJoin(broadcast(vocab))
      .select(col("id"), col("c"),
        ((-log((col("cbg") + lit(1L)).cast("double") /
          (col("cu") + col("v")).cast("double"))).cast(dec27) *
          col("c").cast(dec10)).as("nllc"))
      .groupBy("id")
      .agg((sum(col("nllc")).cast("double") / sum(col("c"))).as("nats_per_bigram"),
        sum(col("c")).cast("long").as("n_bigrams"))
      .select(col("id").as(idCol), col("nats_per_bigram"), col("n_bigrams"))
  }

  /** Corpus snapshot diff — the change-data-capture pass between two
    * versions of a document corpus (nightly crawl refresh, licensing
    * takedown sweep, editorial pass): classifies every document id as
    * `added` (only in the new snapshot), `removed` (only in the old),
    * or `changed` (present in both with different normalized-text
    * fingerprints — [[TextStats.fingerprint]], the same md5-of-
    * normalized-text key the exact-dedup family groups on, so
    * whitespace/case-only edits do NOT count as changes). Unchanged
    * documents are not emitted — at corpus scale the delta is the
    * interesting (and small) part, and downstream incremental passes
    * ([[graft.dedup.Dedup.incrementalDedup]]) consume exactly this
    * delta.
    *
    * Scale shape: each side reduces to `(id, fp)` IN THE SCAN (md5 is
    * map-side, no pre-shuffle), then one full outer join co-partitioned
    * on the id — two narrow exchanges regardless of document size, and
    * column pruning means the text bytes never leave the scan stage.
    * Output: `(idCol, change, old_fp, new_fp)`. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("old_fp"))
    val n = newDf.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("new_fp"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("change",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .select(col("id").as(idCol), col("change"), col("old_fp"), col("new_fp"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3, the
    * step after LM scoring): split the corpus into head / middle /
    * tail at the `cuts` quantiles of the [[unigramCrossEntropy]]
    * score — "head" is the most predictable text, the slice CCNet
    * keeps for LM training; "tail" is mash and wrong-language noise.
    * Output: `(idCol, nats_per_token, n_tokens, ppl_bucket)`.
    *
    * Scale shape: scoring is q63's shape (occurrence rows never
    * shuffle on the bare token key); the cutoffs are ONE aggregate
    * over the per-doc score frame (corpus-count rows, metadata width)
    * broadcast back as a 1-row frame, so bucketing fuses into the
    * scored scan — no global sort and no single-partition window
    * anywhere (an `ntile` over a global ORDER BY — the naive spelling
    * — funnels every row through one task). The cutoffs come from the
    * sort-based exact `percentile` aggregate (DuckDB-replayable as
    * `quantile_cont`, the q35 parity rule), which holds its whole
    * cutoff frame in one aggregation buffer.
    *
    * The score frame is needed twice (cutoffs + bucketing), so it is
    * PERSISTED (memory-and-disk) and the cutoffs are taken EAGERLY —
    * the cutoff job materializes the cache and the returned bucketing
    * plan reads it back (PlanShapeSpec asserts an InMemoryTableScan and
    * no token re-explode), so the scoring shuffles run exactly once.
    * Cache lifetime: each call releases the PREVIOUS call's cached
    * score frame (repeat invocation — e.g. bench reps — holds at most
    * ONE InMemoryRelation instead of accumulating until the
    * ContextCleaner GCs them); the current frame is released by the
    * ContextCleaner once its DataFrame is dereferenced. If a caller
    * somehow still holds the prior result when a new call lands, its
    * next action recomputes — slower, never wrong. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      cuts: (Double, Double) = (1.0 / 3, 2.0 / 3)): DataFrame = {
    require(cuts._1 < cuts._2, s"cuts must be increasing, got $cuts")
    val scored = unigramCrossEntropy(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Skip the release when the plans are the same (repeat run over the
    // SAME corpus): the CacheManager matches entries by logical plan, so
    // the new persist reused the old entry and unpersisting the previous
    // frame would un-cache the one just persisted.
    Option(lastPplScored.getAndSet(scored))
      .filterNot(_.queryExecution.analyzed.sameResult(scored.queryExecution.analyzed))
      .foreach(_.unpersist(false))
    val r = scored.agg(
      expr(s"percentile(nats_per_token, ${cuts._1})"),
      expr(s"percentile(nats_per_token, ${cuts._2})")).head()
    // empty corpus → null percentiles → NaN cutoffs; both whens are
    // false on every (nonexistent) row, so the empty result is exact
    val c1 = if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    val c2 = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    scored.select(col(idCol), col("nats_per_token"), col("n_tokens"),
      when(col("nats_per_token") <= lit(c1), "head")
        .when(col("nats_per_token") <= lit(c2), "middle")
        .otherwise("tail").as("ppl_bucket"))
  }

  /** Top-`k` TF-IDF keywords per document. IDF is the raw ratio
    * `N / df(token)` (no logarithm: integer-exact inputs and a single
    * IEEE division keep scores bit-reproducible across engines; log()
    * last-bit behavior does not). Ties break on the token string.
    *
    * Scale shape: term counts shuffle on (doc_id, token); document
    * frequencies aggregate map-side on token (bounded by vocabulary);
    * the corpus size N is a 1-row broadcast. The per-doc top-k is the
    * BOUNDED-HEAP aggregate ([[graft.operators.TopKByScoreStr]]), not a
    * `row_number` window: the window form shuffled and SORTED every
    * term row, and the 16× audit measured that stage as the whole
    * growth of this query (3.1 s of a 4.4 s plan at 2.4 M term rows —
    * SCALE.md "q58 audit"); the heap partial-aggregates map-side, so
    * only k × docs × tasks rows cross the wire and nothing sorts.
    *
    * Skew note: the `tf ⋈ dfreq` join keys TERM rows (one per distinct
    * (doc, token) — already pre-aggregated, never occurrences) on the
    * token; per-key fan-in is bounded by document frequency. Stopwords
    * still dominate that bound at extreme scale ("the" appears in most
    * documents), so the join goes through the broadcast-head gate
    * ([[graft.operators.SaltedJoin.headBroadcast]] on df >
    * [[HeadTokenFanIn]]) — same cure as [[unigramCrossEntropy]]. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // repartition(id) BEFORE the explode (the withSimhash pattern): one
    // exchange of the small doc rows serves the whole plan — the
    // (id, token) term aggregate is satisfied by HashPartitioning(id)
    // (same-key rows co-located), the broadcast df join preserves it,
    // and the final per-doc top-k aggregate then needs NO exchange of
    // the 16×-grown term rows at all.
    val tf = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .select(col("id"), explode(TextStats.tokens(col("text"))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = graft.operators.SaltedJoin
      .headBroadcast(tf, dfreq, "token", "df", HeadTokenFanIn)
      .crossJoin(broadcast(n))
      .select(col("id").as(idCol), col("token"),
        (col("tf").cast("double") * (col("n_docs").cast("double") / col("df")))
          .as("score"))
    scored.groupBy(col(idCol))
      .agg(graft.operators.TopKByScore.topKStr(k)(col("score"), col("token")).as("__topk"))
      .select(col(idCol), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(idCol), col("__e.key").as("token"),
        col("__e.score").as("score"), (col("__pos") + 1).cast("int").as("rank"))
  }

  /** Split documents into fixed-size overlapping token-window chunks —
    * the step between corpus filtering and [[packShards]]: a training
    * (or embedding/retrieval-index) job consumes context-window-sized
    * pieces, not arbitrary-length documents. Chunk `i` covers words
    * `[i·stride, i·stride + maxTokens)` with
    * `stride = maxTokens − overlap`; the last chunk may be short but a
    * chunk contributing no NEW words past the previous one's overlap is
    * never emitted, and an `n ≤ maxTokens` document yields exactly one
    * chunk (itself). Tokens are whitespace words, same contract as
    * [[TextStats.tokens]].
    *
    * Scale shape: zero shuffles and zero lambdas — the word array is
    * materialized once per row, chunk starts explode from a codegen
    * `sequence` generator, and each chunk is a `concat_ws(slice(...))`,
    * so the whole operator fuses into the scan stage and parallelism is
    * per-document-row regardless of document length skew (a 1M-token
    * document costs its own row's work, never a shuffle partition's). */
  /** Content-defined segmentation (Rabin/CDC applied at token level —
    * the technique rsync/LBFS popularized, here the distributed cure for
    * VERBATIM cross-document overlap detection): a token STARTS a new
    * segment iff `h32(token) % avgSegTokens == 0`, so segment boundaries
    * depend only on CONTENT, never position — two documents sharing a
    * long verbatim span produce bit-identical interior segments no
    * matter where the span sits in each document. Fixed-stride windows
    * can't do that (alignments differ across docs); CDC is what makes
    * exact-substring dedup a hash join instead of a suffix array.
    * Expected segment length is `avgSegTokens`; `start_pos` is the
    * 0-based token offset of the segment in its document.
    *
    * Scale shape: zero shuffles — breakpoints, spans, and segment texts
    * are all array expressions over the per-row token array (the md5
    * breakpoint hash dominates the cost and runs identically either
    * way), and the generator output is one row per segment, so
    * parallelism is per-document regardless of length skew. The
    * breakpoint hash is [[Dedup.h32]] (md5-prefix), replayable in any
    * engine — the q66 oracle re-derives every boundary in DuckDB. */
  def cdcSegments(docs: DataFrame, idCol: String, textCol: String,
      avgSegTokens: Int): DataFrame = {
    require(avgSegTokens >= 2, s"avgSegTokens must be >= 2, got $avgSegTokens")
    val isBreak = (i: Column) =>
      (i === 0) || pmod(Dedup.h32(element_at(col("ws"), i + 1)), lit(avgSegTokens)) === 0
    docs
      .select(col(idCol), split(col(textCol), " ").as("ws"))
      .select(col(idCol), col("ws"),
        filter(sequence(lit(0), size(col("ws")) - 1), isBreak).as("starts"))
      .select(col(idCol), col("ws"), col("starts"),
        concat(slice(col("starts"), lit(2), greatest(size(col("starts")) - 1, lit(0))),
          array(size(col("ws")))).as("ends"))
      .select(col(idCol),
        posexplode(zip_with(col("starts"), col("ends"), (s, e) => struct(
          concat_ws(" ", slice(col("ws"), s + 1, e - s)).as("seg_text"),
          (e - s).as("n_tokens"),
          s.as("start_pos")))))
      .select(col(idCol), col("pos").as("seg_idx"),
        col("col.seg_text").as("seg_text"),
        col("col.n_tokens").as("n_tokens"),
        col("col.start_pos").as("start_pos"))
  }

  /** Document pairs sharing VERBATIM text: docs whose [[cdcSegments]]
    * collide on at least one segment of `>= minSegTokens` tokens, with
    * the collision count (`n_shared`) per pair. This is the
    * "exact substring duplication" pass of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") in
    * hash-join form: CDC alignment means a shared span needs no
    * positional enumeration, just equality on segment hashes.
    *
    * Boilerplate guard: segments appearing in more than `maxDf`
    * documents are EXCLUDED from pairing — a license header shared by
    * 10⁶ docs is boilerplate (detect it with [[repetitionStats]] or a
    * plain df rollup), not pairwise overlap, and pairing it would
    * produce a 10¹²-row join. With the cap, per-segment join fan-out is
    * ≤ maxDf², so worst-case output is bounded by
    * `n_segments · maxDf²` — linear in the corpus.
    *
    * Scale shape: segment generation never shuffles; the df rollup and
    * the posting self-join shuffle on the 60-bit segment hash (uniform
    * by construction); the final per-pair count shuffles on (id_a,id_b).
    * No shuffle carries segment TEXT — only ids and hashes. */
  def verbatimOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      avgSegTokens: Int, minSegTokens: Int, maxDf: Int = 50): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val seg = cdcSegments(docs, idCol, textCol, avgSegTokens)
      .filter(col("n_tokens") >= minSegTokens)
      // distinct BEFORE the df count: a segment repeated inside one doc
      // is intra-doc repetition (repetitionStats territory), and must
      // count once toward df and once toward any pair it witnesses
      .select(col(idCol).as("doc"), Dedup.h60(col("seg_text")).as("seg_h"))
      .distinct()
    val eligible = seg.groupBy("seg_h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("seg_h")
    val posting = seg.join(eligible, Seq("seg_h"))
    posting.select(col("seg_h"), col("doc").as("id_a"))
      .join(posting.select(col("seg_h"), col("doc").as("id_b")), Seq("seg_h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Lines qualifying as corpus-level boilerplate: a line (a literal
    * `sep`-delimited segment of `textCol`) that appears in at least
    * `minDocs` DISTINCT documents. Navigation bars, cookie banners and
    * license headers repeat across pages; body prose does not — that
    * document-frequency asymmetry is the whole signal (the line-level
    * dedup pass of CCNet, Wenzek et al. 2019, and RefinedWeb, Penedo
    * et al. 2023). Output: `(line, doc_freq)`.
    *
    * Scale shape: `array_distinct` INSIDE each document row makes the
    * plain `count` a document frequency, so the one exchange (keyed by
    * the line itself) carries at most one row per (doc, distinct line)
    * and partial-aggregates map-side. The output is the heavy-hitter
    * set — bounded by how much text actually repeats `minDocs`+ times,
    * orders of magnitude smaller than the corpus. */
  def boilerplateLines(docs: DataFrame, textCol: String,
      sep: String = "\n", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    docs
      .select(explode(array_distinct(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
  }

  /** Line-level boilerplate removal — drop every [[boilerplateLines]]
    * line from every document and reassemble the remainder in original
    * order (CCNet/RefinedWeb's cleaning step between raw crawl and
    * document-level dedup). Non-boilerplate lines repeated WITHIN one
    * document are all kept — intra-doc repetition is
    * [[repetitionStats]]'s concern, not this pass's. Output:
    * `(idCol, clean_text, lines_kept, lines_removed)`; a document made
    * entirely of boilerplate survives with empty `clean_text`.
    *
    * Scale shape: the frequent-line set
    * collapses to a single sorted array, broadcast onto the corpus scan
    * as a 1-row frame; membership and reassembly are per-row array
    * expressions, so the DOCUMENT side never shuffles at all — the only
    * exchange in the whole plan is the hashed line-df rollup
    * (QualitySpec pins this). Per-line membership is a codegen BINARY
    * SEARCH of the sorted broadcast array (`sorted_contains`,
    * O(log |set|) per line — a 100k-line boilerplate set costs ~17
    * probes, not 100k). The frequent-line set must fit a broadcast: a
    * low `minDocs` over a web-scale crawl can outgrow it. */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val qsep = java.util.regex.Pattern.quote(sep)
    // Hashed-key discipline (the q44/PPJoin rule): the df rollup and the
    // broadcast array carry the 8-byte xxhash64
    // of the line, never line text — shuffle and broadcast bytes stay
    // flat no matter how long boilerplate lines get. 64-bit collisions
    // (a non-boilerplate line hashing onto a frequent one) are the
    // usual ~n²/2⁶⁵ lottery; [[boilerplateLines]] keeps the string-keyed
    // rollup for reporting.
    val bpH = docs
      .select(explode(array_distinct(split(col(textCol), qsep))).as("line"))
      .groupBy(xxhash64(col("line")).as("__lh"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .select("__lh")
    val bpArr = bpH.agg(sort_array(collect_list(col("__lh"))).as("__bp"))
    docs.crossJoin(broadcast(bpArr))
      .withColumn("__lines", split(col(textCol), qsep))
      .withColumn("__kept",
        filter(col("__lines"), l => !graft.functions.VectorFunctions
          .sortedContains(col("__bp"), xxhash64(l))))
      .select(col(idCol),
        concat_ws(sep, col("__kept")).as("clean_text"),
        size(col("__kept")).cast("long").as("lines_kept"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("lines_removed"))
  }

  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    val n = size(col("ws"))
    // nChunks = 1 + ceil((n - maxTokens)/stride) for n > maxTokens else 1
    val nChunks = when(n <= maxTokens, lit(1L))
      .otherwise(lit(1L) + ceil((n - maxTokens).cast("double") / stride).cast("long"))
    docs
      .select(col(idCol), split(col(textCol), " ").as("ws"))
      .select(col(idCol), col("ws"),
        posexplode(sequence(lit(0L), (nChunks - 1L) * stride, lit(stride.toLong))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        concat_ws(" ", slice(col("ws"), col("col") + 1, lit(maxTokens))).as("chunk_text"),
        least(lit(maxTokens), size(col("ws")) - col("col").cast("int")).as("n_tokens"))
  }
  /** Gopher-style rule-based quality flags (Rae et al. 2021, "Scaling
    * Language Models", Table A1 filter family), adapted to the corpus'
    * single-line space-tokenized contract: per-document PASS/FAIL per
    * rule plus the combined keep decision — the per-rule audit trail is
    * the point (a pipeline needs to know WHICH rule gates how much of
    * each source, not just the survivor count).
    *
    * Every rule is decided in INTEGER arithmetic (ratios cleared of
    * division: mean word length in [3,10] becomes 3n ≤ Σlen ≤ 10n), so
    * the output is bit-stable across engines with no float discipline
    * needed at all. One scan, no shuffle, no UDF — five rules fused into
    * the same projection.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; ≥ 80% of words contain an alphabetic char; ≥ 2 distinct
    * stopwords present (the Gopher "natural language" signal); lexical
    * diversity ≥ 0.2 (distinct/total — the single-line stand-in for
    * Gopher's duplicate-line fraction). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      stopwords: Seq[String] =
        Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")): DataFrame = {
    val ws = graft.text.TextStats.tokens(col(textCol))
    val n = size(ws).cast("long")
    val sumLen = aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(filter(typedlit(stopwords), sw => array_contains(ws, sw))).cast("long")
    val nDistinct = size(array_distinct(ws)).cast("long")
    docs.select(col(idCol), n.as("n_words"),
        sumLen.as("sum_word_chars"), nAlpha.as("n_alpha_words"),
        nStop.as("n_stopwords"), nDistinct.as("n_distinct"))
      .withColumn("rule_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("rule_mean_word_len",
        col("sum_word_chars") >= lit(3L) * col("n_words") &&
          col("sum_word_chars") <= lit(10L) * col("n_words"))
      .withColumn("rule_alpha_words",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("rule_stopwords", col("n_stopwords") >= 2)
      .withColumn("rule_diversity",
        lit(5L) * col("n_distinct") >= col("n_words"))
      .withColumn("keep",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_alpha_words") && col("rule_stopwords") && col("rule_diversity"))
  }
}
