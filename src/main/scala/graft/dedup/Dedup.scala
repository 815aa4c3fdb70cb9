package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextStats

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash and n-gram Jaccard. All hashing is md5-derived so an external
  * oracle (DuckDB) can replay the pipeline bit-for-bit; all heavy lifting
  * is arrays-in-columns until the final candidate join, so the only
  * shuffles are the LSH band join / group-by — the shape that scales to
  * 100 TB (no all-pairs comparison ever materializes).
  */
object Dedup {

  /** [[jaccardPairs]]' previously-persisted posting frame, released when
    * the next call persists a new one (the
    * [[graft.text.Quality.perplexityBuckets]] discipline — the returned
    * frame references the cache, so it cannot unpersist eagerly). */
  private val lastJaccardPosting =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Large prime > 2^32 for 32-bit universal hashing. */
  val Prime: Long = 4294967311L

  /** Deterministic 32-bit hash of a string via md5 (first 8 hex digits).
    * Oracle-replicable: DuckDB `CAST(('0x' || substr(md5(s),1,8)) AS BIGINT)`. */
  def h32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic 60-bit hash (first 15 md5 hex digits) — the widest
    * md5 prefix that stays positive in a signed 64-bit integer in BOTH
    * engines, so the oracle replays it exactly like [[h32]]. Used for
    * wide simhash fingerprints where 32 bits collide too much. */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** Exact dedup — group identical normalized texts; returns one row per
    * duplicate group with its cardinality and the minimum id (the survivor
    * a `dropDuplicates` pass would keep). Plain hash-aggregate: one shuffle
    * on the fingerprint, partial-aggregated map-side. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextStats.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("survivor_id"))

  /** 32-bit hashes of the distinct shingles — materialize this ONCE per row
    * (own projection) before fanning out to permutations: md5 is the
    * expensive part, and higher-order lambdas are interpreted, so
    * recomputing it per permutation dominates. A separate select is kept
    * by Catalyst (CollapseProject refuses to inline non-cheap exprs
    * referenced many times). */
  def hashedShingles(text: Column, n: Int): Column =
    transform(shingles(text, n), s => h32(s))

  /** Exploded (id, shingle-string) posting list, built by the compiled
    * [[org.apache.spark.sql.graft.ShingleGen]] generator: ONE pass over
    * the text bytes per row, each shingle a zero-copy byte-range view —
    * no word array, no per-shingle slice copies or joined-string
    * allocations (the r17 explode(sequence)+concat_ws(slice) form paid
    * all three per shingle; the still-older lambda form was additionally
    * interpreted, 10-50× slower per row).
    *
    * The `repartition(id)` both fans the per-row work across the cluster
    * (shuffle-partition count, AQE-adjustable) and pre-clusters rows for
    * the per-id aggregates every caller does next — hash partitioning on
    * `id` satisfies their distribution, so this is the pipeline's ONLY
    * shuffle, moving raw text (smaller than exploded shingles).
    *
    * NOT deduplicated: duplicate shingles are harmless under the min()
    * aggregates of minhash; set-semantics callers dedup on top (their
    * per-id grouping rides the same partitioning, still shuffle-free). */
  def shinglePosting(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("t"))
      .repartition(col("id"))
      .select(col("id"),
        explode(call_function("shingle_gen", col("t"), lit(n))).as("s"))

  /** MinHash signature from precomputed shingle hashes: `numPerm`
    * permutations under `(a_i * h + b_i) mod P`, `a_i = 2i+1`,
    * `b_i = 7919i+1`. Pure array math per row — no shuffle, no UDF. */
  def minhashFromHashes(hs: Column, numPerm: Int): Column =
    transform(sequence(lit(0), lit(numPerm - 1)), i => {
      val a = i * 2 + 1
      val b = i * lit(7919) + 1
      array_min(transform(hs, h => (a * h + b) % Prime))
    })

  /** MinHash signature straight from text — the codegen'd native
    * expression [[org.apache.spark.sql.graft.MinhashSig]]: one md5 per
    * shingle over byte ranges of the original UTF-8 text, no string
    * materialization, no interpreted lambdas. Bit-identical to
    * [[withMinhashSignature]] and [[minhashFromHashes]] (DedupSpec pins
    * all three). Use this form where the aggregate shape cannot go —
    * e.g. a streaming stateless projection before a stateful op. */
  def minhashSignature(text: Column, n: Int, numPerm: Int): Column =
    call_function("minhash_sig", text, lit(n), lit(numPerm))

  /** (id, sig) frame computed in the aggregate shape: explode shingles,
    * hash each ONCE with codegen'd md5, then `numPerm` `min()` aggregates
    * over the permuted hashes. Entirely whole-stage-codegen (no
    * higher-order lambdas, which are interpreted and re-evaluate their
    * inputs per permutation), with map-side partial aggregation — the
    * shape that holds at 100 TB. Values are bit-identical to
    * [[minhashSignature]]. */
  def withMinhashSignature(df: DataFrame, idCol: String, textCol: String,
      n: Int, numPerm: Int): DataFrame = {
    val posting = shinglePosting(df, idCol, textCol, n)
      .select(col("id"), h32(col("s")).as("h"))
    // groupBy(id) reuses shinglePosting's partitioning — no extra shuffle;
    // duplicate shingles (posting is not deduped) cannot change a min()
    posting.groupBy("id").agg(
      array((0 until numPerm).map { i =>
        min((lit(2 * i + 1).cast("long") * col("h") + lit(7919L * i + 1)) % Prime)
      }: _*).as("sig"))
  }

  /** MinHash + LSH banding: signature is split into `bands` bands of
    * `numPerm / bands` rows; docs sharing any band key become candidate
    * pairs; candidates are verified with the estimated Jaccard (fraction
    * of agreeing minhashes). The band join is the scale trick: each doc
    * explodes to only `bands` rows, and the join key (band index + band
    * hash) is high-cardinality, so the shuffle is well distributed.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.
    *
    * `bands = 0` (the default) resolves the geometry with
    * [[lshPlanChoose]] at this operator's threshold (VERDICT r15 #6) —
    * at the historical defaults (numPerm 32, t 0.5) the planner picks
    * the same (8 bands, 4 rows), so default behavior is unchanged; an
    * explicit `bands` still pins the factorization (every oracle-paired
    * query does, so its SQL replay stays geometry-identical).
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 32,
      bands: Int = 0,
      threshold: Double = 0.5): DataFrame = {
    val bandsChosen =
      if (bands > 0) bands
      else planBandsFor(numPerm, threshold)
    val rows = numPerm / bandsChosen
    require(bandsChosen * rows == numPerm, "bands must divide numPerm")
    // No persist (the [[hammingPairs]] discipline, VERDICT r11 #5): the
    // self-join's two sides canonicalize to the SAME shuffle (hash on
    // (band, band_key) over identical children), so with the merge hint
    // ReuseExchange computes the shingle+md5+minhash pipeline exactly
    // once and both sides read the one set of shuffle files — no cached
    // frame left behind in long-lived sessions, no up-front count() job.
    val sigs = withMinhashSignature(df, idCol, textCol, n, numPerm)
    val banded = sigs.withColumn("band", explode(sequence(lit(0), lit(bandsChosen - 1))))
      .withColumn("band_key", concat_ws("-",
        transform(slice(col("sig"), col("band") * rows + 1, lit(rows)), _.cast("string"))))
    val a = banded.select(col("band"), col("band_key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.hint("merge").join(b.hint("merge"), Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // codegen'd agreement count (ArrayEqCount) — the interpreted
        // zip_with form was the verify stage's whole CPU on hot band
        // keys (bit-identical; DedupSpec pins the pair sets)
        (call_function("array_eq_count", col("sig_a"), col("sig_b"))
          .cast("double") / numPerm).as("est_jaccard"))
      // threshold BEFORE the dedup shuffle: the per-row filter is free and
      // shrinks the distinct() input from every banded candidate to just
      // the passing pairs — the difference between shuffling the candidate
      // set and shuffling the result set at corpus scale.
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** SimHash bit votes from precomputed token hashes (see [[simhash]]). */
  def simhashFromHashes(hs: Column, bits: Int): Column =
    (0 until bits).map { j =>
      val vote = aggregate(hs, lit(0L),
        (a, h) => a + (shiftright(h, j).bitwiseAND(1) * 2 - 1))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** SimHash (Charikar) fingerprint over distinct tokens: bit j of the
    * result is set iff more token hashes have bit j set than clear.
    * `bits` <= 32. Pure per-row array math. */
  def simhash(text: Column, bits: Int = 16): Column =
    simhashFromHashes(transform(array_distinct(split(text, " ")), w => h32(w)), bits)

  /** (id, sh) frame in the aggregate shape: explode distinct tokens, hash
    * each once (codegen'd), then per-bit vote sums in one hash aggregate.
    * Bit-identical to [[simhash]] for `bits <= 32`; wider fingerprints
    * (up to 60) draw from [[h60]]. Scales via map-side partial agg. */
  def withSimhash(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits <= 60, "simhash supports at most 60 bits (md5-prefix hash)")
    val hash: Column => Column = if (bits <= 32) h32 else h60
    // repartition(id) BEFORE the explode: fan the md5 + per-bit partial
    // sums across the cluster (a small file count otherwise pins the
    // whole token stage to a few scan tasks) and pre-cluster for the
    // groupBy(id), which then needs no shuffle of exploded rows.
    val tok = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .select(col("id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .select(col("id"), hash(col("w")).as("h"))
    tok.groupBy("id").agg(
      (0 until bits).map { j =>
        when(sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _).as("sh"))
  }

  /** Multi-word SimHash fingerprint for widths past the single-long
    * ceiling: returns `(id, sh: array<bigint>)` where word `w` carries
    * fingerprint bits `[60w, min(60(w+1), bits))` in its low bits. Token
    * hashes draw 60 independent bits per word from disjoint md5 hex
    * ranges (word 0 = hex chars 1-15 — exactly [[h60]], so word 0 of a
    * wide fingerprint is bit-identical to [[withSimhash]] at the same
    * width ≤ 60), giving up to 120 oracle-replicable bits per token
    * from one md5. Same aggregate shape as [[withSimhash]]: explode
    * distinct tokens, one md5 per token, per-bit vote sums in one
    * map-side-partial hash aggregate — the extra words add buffer
    * slots, not passes or shuffles.
    *
    * This is the cure for the fixed-width scale ceiling measured at
    * 256× (SCALE.md): pigeonhole blocking over `bits` with
    * `maxHamming + 1` blocks yields blocks of `bits/(maxHamming+1)`
    * bits, and expected blocking collisions scale as N²/2^blockBits —
    * so block width should track log₂N. Choose
    * `bits ≈ (maxHamming + 1) · (log₂N + margin)`: 96 bits / 24-bit
    * blocks holds candidate ≈ true-pair parity to N ~ 10⁹ docs where
    * 60 bits / 15-bit blocks saturates near N ~ 10⁵·⁵. */
  def withSimhashWide(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 120,
      s"wide simhash supports 1..120 bits (two 60-bit md5-prefix words), got $bits")
    val nWords = (bits + 59) / 60
    val tok = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .select(col("id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .select(col("id") +: md5(col("w")).as("m") +: Nil: _*)
      .select(col("id") +: (0 until nWords).map(wd =>
        conv(substring(col("m"), 15 * wd + 1, 15), 16, 10).cast("long").as(s"h$wd")): _*)
    val words = (0 until nWords).map { wd =>
      val wBits = math.min(60, bits - 60 * wd)
      (0 until wBits).map { j =>
        when(sum(shiftright(col(s"h$wd"), j).bitwiseAND(1) * 2 - 1) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _).as(s"w$wd")
    }
    tok.groupBy("id").agg(words.head, words.tail: _*)
      .select(col("id"), array((0 until nWords).map(wd => col(s"w$wd")): _*).as("sh"))
  }

  /** Bits `[start, start + len)` of a multi-word fingerprint as one long
    * (`len <= 60`; straddles a 60-bit word boundary with a shift-or). */
  private def extractBits(sh: Column, start: Int, len: Int): Column = {
    val w0 = start / 60
    val off = start % 60
    val take0 = math.min(len, 60 - off)
    val part0 = shiftright(element_at(sh, w0 + 1), off).bitwiseAND(lit((1L << take0) - 1))
    if (take0 == len) part0
    else part0.bitwiseOR(shiftleft(
      element_at(sh, w0 + 2).bitwiseAND(lit((1L << (len - take0)) - 1)), take0))
  }

  /** SimHash near-dup pairs with pigeonhole blocking: the fingerprint is
    * split into `maxHamming + 1` contiguous blocks — any pair within
    * `maxHamming` bit flips must agree on at least one block, so blocking
    * on (block index, block bits) has perfect recall. Candidates are then
    * verified with `bit_count(xor) <= maxHamming`. Each doc explodes to
    * only `maxHamming + 1` rows; the join shuffle is keyed on block bits,
    * well-distributed as long as blocks are >= ~4 bits.
    *
    * `bits > 60` switches to the multi-word fingerprint
    * ([[withSimhashWide]], up to 120 bits) with the same output schema
    * `(id_a, id_b, hamming)`; `bits = AdaptiveBits` (the DEFAULT since
    * round 13 — VERDICT r12 #4) derives the width from the corpus size
    * via [[adaptiveFingerprintBits]], so the no-knobs call is the
    * scale-safe one at any N. Callers that need a bit-pinned fingerprint
    * (the standing 60-bit oracles) pass `bits` explicitly. The adaptive
    * path costs one `count()` job on the input. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = AdaptiveBits,
      maxHamming: Int = 3): DataFrame = {
    val b = if (bits == AdaptiveBits)
      adaptiveFingerprintBits(df.count(), maxHamming) else bits
    if (b > 60) return simhashPairsWide(df, idCol, textCol, b, maxHamming)
    hammingPairs(withSimhash(df, idCol, textCol, b), b, maxHamming)
  }

  /** Sentinel `bits` value: derive the fingerprint width from the corpus
    * size ([[adaptiveFingerprintBits]]). */
  val AdaptiveBits: Int = 0

  /** Corpus-size-adaptive fingerprint width for pigeonhole Hamming
    * blocking — the SCALE.md block-width law productized as the default
    * (VERDICT r12 #4), the exact analog of
    * [[graft.similarity.Similarity.adaptiveBandPlanes]] for LSH bands:
    * blocking splits `bits` into `maxHamming + 1` blocks and expected
    * blocking collisions per block scale as N²/2^blockBits, so holding
    * candidate volume ≈ O(N) needs `blockBits ≈ log₂N` — one more bit
    * per corpus doubling. Measured (SCALE.md "simhash-width"): 60-bit /
    * 15-bit blocks grew 13.8× for 4× data at N = 320 k, while 96-bit /
    * 24-bit blocks grew 1.9× and held through 1.28 M docs.
    *
    * Returns `clamp(blocks · ceil(log₂N), baseBits, maxBits)`: small
    * corpora stay at exactly `baseBits` (the oracle-pinned family), and
    * the cap is [[hammingPairsWide]]'s two-word ceiling — 30-bit blocks
    * at `maxHamming = 3`, enough for N ~ 10⁹ per the law. */
  def adaptiveFingerprintBits(corpusCount: Long, maxHamming: Int,
      baseBits: Int = 60, maxBits: Int = 120): Int = {
    require(corpusCount >= 0, s"corpusCount must be >= 0, got $corpusCount")
    val nBlocks = maxHamming + 1
    val blockBits =
      if (corpusCount <= 2) 1
      else math.ceil(math.log(corpusCount.toDouble) / math.log(2.0)).toInt
    math.max(baseBits, math.min(nBlocks * blockBits, maxBits))
  }

  /** Pigeonhole-blocked Hamming near-dup pairs over PRECOMPUTED
    * single-word signatures `(id, sh)` — the blocking core behind
    * [[simhashPairs]], shared by any fingerprint family that lands in
    * one long: text simhash, image dHash
    * ([[graft.multimodal.Multimodal.dHashPairs]]), or a caller's own
    * bit signature. Same construction and guarantees as
    * [[simhashPairs]]: `maxHamming + 1` contiguous blocks give perfect
    * recall, candidates verify per-row before the distinct shuffle. */
  def hammingPairs(
      sigsIn: DataFrame,
      bits: Int,
      maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, s"hammingPairs supports 1..60 bits, got $bits")
    val nBlocks = math.min(maxHamming + 1, bits)
    // distribute bits as evenly as possible: first (bits % nBlocks) blocks
    // get an extra bit
    val sizes = Array.tabulate(nBlocks)(j => bits / nBlocks + (if (j < bits % nBlocks) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    // No persist: the self-join's two sides canonicalize to the SAME
    // shuffle (hash on block over identical children), so ReuseExchange
    // computes the signature pipeline (e.g. q92's image decode) exactly
    // once and both sides read the one set of shuffle files. The merge
    // hint keeps it that way — a broadcast build would re-run the decode
    // for the streamed side, and at scale the full signature set is not
    // broadcastable anyway. Replaces the r11 persist, which leaked the
    // cached frame into long-lived sessions (VERDICT r11 #5).
    val sigs = sigsIn.select(col("id"), col("sh"))
    val blocked = sigs.withColumn("block", explode(array(
      (0 until nBlocks).map { j =>
        concat_ws(":", lit(j),
          shiftright(col("sh"), offsets(j)).bitwiseAND((1L << sizes(j)) - 1))
      }: _*)))
    val a = blocked.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.hint("merge").join(b.hint("merge"), Seq("block")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      // verify BEFORE the dedup shuffle (same reasoning as
      // [[minhashLshPairs]]): candidates that fail the hamming check are
      // the vast majority; dropping them per-row keeps the distinct()
      // shuffle proportional to true pairs, not candidates.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simhashPairs]] over a multi-word fingerprint (`60 < bits <= 120`):
    * same pigeonhole construction — `maxHamming + 1` contiguous blocks,
    * perfect recall — but blocks are `bits/(maxHamming+1)` wide (96 bits
    * at maxHamming 3 ⇒ 24-bit blocks), so blocking collisions fall by
    * 2^(widthGain) versus the 60-bit family: the candidate stream stays
    * ≈ true pairs to corpus sizes where 15-bit blocks are saturated
    * (candidates ∝ N²/2¹⁵ — the ceiling SCALE.md measured at 256×).
    * Blocks may straddle the 60-bit word boundary ([[extractBits]]);
    * hamming verification is a fixed per-word `bit_count(xor)` sum. */
  def simhashPairsWide(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int,
      maxHamming: Int = 3): DataFrame =
    hammingPairsWide(withSimhashWide(df, idCol, textCol, bits), bits, maxHamming)

  /** [[hammingPairs]] over MULTI-WORD signatures `(id, sh: array<bigint>)`
    * (`60 < bits <= 120`) — the width-scalable blocking core shared by
    * wide text simhash ([[simhashPairsWide]]) and the wide perceptual
    * fingerprints ([[graft.multimodal.Multimodal.dHashWidePairs]]): same
    * pigeonhole construction, but blocks are `bits/(maxHamming+1)` wide
    * (120 bits at maxHamming 6 ⇒ ~17-bit blocks vs ~8.6 for the 60-bit
    * family), so blocking collisions fall by 2^(widthGain) and the
    * candidate stream stays ≈ true pairs to corpus sizes where the
    * narrow blocks are saturated. Blocks may straddle the 60-bit word
    * boundary ([[extractBits]]); verification is a fixed per-word
    * `bit_count(xor)` sum. Like [[hammingPairs]], no persist: both
    * self-join sides canonicalize to one exchange (merge hint keeps the
    * signature pipeline computed once, zero cached RDDs). */
  def hammingPairsWide(
      sigsIn: DataFrame,
      bits: Int,
      maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 120,
      s"hammingPairsWide supports 1..120 bits (two 60-bit words), got $bits")
    val nWords = (bits + 59) / 60
    val nBlocks = math.min(maxHamming + 1, bits)
    val sizes = Array.tabulate(nBlocks)(j => bits / nBlocks + (if (j < bits % nBlocks) 1 else 0))
    require(sizes.forall(_ <= 60), s"block width ${sizes.max} > 60; raise maxHamming")
    val offsets = sizes.scanLeft(0)(_ + _)
    val sigs = sigsIn.select(col("id"), col("sh"))
    val blocked = sigs.withColumn("block", explode(array(
      (0 until nBlocks).map { j =>
        concat_ws(":", lit(j), extractBits(col("sh"), offsets(j), sizes(j)))
      }: _*)))
    val a = blocked.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    val hamming = (0 until nWords).map(wd =>
      bit_count(element_at(col("sh_a"), wd + 1)
        .bitwiseXOR(element_at(col("sh_b"), wd + 1)))).reduce(_ + _)
    a.hint("merge").join(b.hint("merge"), Seq("block")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-duplicate pair graph → duplicate
    * clusters, by iterative minimum-label propagation: every node starts
    * labeled with itself; each round, a node adopts the smallest label in
    * its neighborhood; converges in O(diameter) rounds (duplicate clusters
    * are small and dense, so usually 2-3).
    *
    * This is the step that turns pairwise candidates (minhash/simhash
    * output) into survivor sets for a corpus-scale dedup pipeline. Scale
    * shape: the iteration runs ONLY over the candidate subgraph — nodes
    * that touch at least one edge — which is orders of magnitude smaller
    * than the corpus (most documents are not near-duplicates of
    * anything). Each round is one join + one aggregate keyed by doc id on
    * those subgraph frames; the full node set is joined back exactly once
    * at the end (isolated docs keep their own label = singleton
    * clusters). The loop stops when no label changes (a driver-side
    * count — one long per round).
    *
    * Fast path: an LSH candidate graph is SPARSE — pairs are a tiny
    * fraction of the corpus (if they weren't, the dedup threshold is
    * wrong, not the algorithm). Up to `driverMaxEdges` edges
    * (default 2M ≈ tens of MB) the component labels are computed with
    * union-find on the driver in one bounded collect and joined back as
    * a broadcast — one pass over the corpus, zero iteration. Beyond
    * that the distributed label-propagation loop takes over. The
    * collect is gated by the preceding `count()` — it only runs when
    * the edge count is already known to be ≤ `driverMaxEdges` — so a
    * mis-tuned threshold degrades to the iterative path instead of an
    * OOM.
    *
    * @param pairs (id_a, id_b) undirected candidate edges
    * @param nodes one-column frame of all doc ids
    * @return (id, cluster) where cluster = min doc id reachable
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      maxIterations: Int = 20, driverMaxEdges: Int = 2000000,
      checkpointDir: Option[String] = None): DataFrame = {
    val idCol = nodes.columns.head
    // Plan-truncation mode for the iterative path: executor-local by
    // default (fast, but a lost executor fails the job — acceptable for
    // a deterministic batch pass); pass `checkpointDir` — or set the
    // session conf `spark.graft.checkpoint.dir` ([[graft.Leaf]]) — to
    // switch every per-iteration truncation to RELIABLE `checkpoint` on
    // that directory, the fault-tolerant swap the localCheckpoint note
    // below names. Superseded iterates' checkpoint files are deleted as
    // soon as they're dead, so disk stays one iterate wide, not
    // maxIterations.
    val ckDir = checkpointDir.orElse(
      pairs.sparkSession.conf.getOption(graft.Leaf.DirConf).filter(_.nonEmpty))
    ckDir.foreach(graft.Leaf.useCheckpointDir(pairs.sparkSession.sparkContext, _))
    def truncate(df: DataFrame): DataFrame =
      if (ckDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    // Materialize the edge list ONCE before branching: the candidate
    // pipeline feeding `pairs` (an LSH band join) is expensive, and both
    // the size probe and either path would re-run it otherwise
    // (CollectLimit in particular retries with growing partition counts).
    val edgeList = pairs.select("id_a", "id_b").persist()
    val edgeCount = edgeList.count()
    if (driverMaxEdges > 0 && edgeCount <= driverMaxEdges) {
      val collected = edgeList.collect()
      edgeList.unpersist()
      return unionFindBroadcast(collected, nodes, idCol)
    }
    // undirected edge list, both directions (duplicates are harmless under
    // min() — no distinct shuffle needed)
    val edges = edgeList.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edgeList.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    // iterate over subgraph nodes only (src side covers every endpoint —
    // edges carry both directions)
    // localCheckpoint (not just persist) each iteration: persist caches
    // the DATA but the logical plan still grows by three joins per
    // iteration, so analysis/optimization cost — and the lineage a
    // recomputation would replay — compounds; checkpointing truncates
    // the plan to a leaf. Measured on q44b (sf0.1): 12.2 s -> 2.4 s.
    // Tradeoff: localCheckpoint is executor-local (not fault-tolerant);
    // on a real cluster a lost executor fails the job instead of
    // recomputing — acceptable for a deterministic batch pass; pass
    // `checkpointDir` to swap in reliable `checkpoint` when it isn't.
    var ckpt = truncate(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")))
    var labels = ckpt
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIterations) {
      // neighborhood minimum: own label vs neighbors' labels; the old
      // label rides along so convergence is checked in the same pass
      val neighborMin = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("nbr_min"))
      // inner join: every subgraph node has >= 1 edge, so neighborMin
      // covers all of them
      val next = truncate(labels.join(neighborMin, Seq("id"))
        .select(col("id"),
          least(col("cluster"), col("nbr_min")).as("cluster"),
          col("cluster").as("old")))
      changed = next.filter(col("cluster") =!= col("old")).count()
      // the superseded iterate's blocks are dead the moment `changed`
      // materializes `next`; free them NOW — Dataset.unpersist goes
      // through the CacheManager, which knows nothing of checkpoint
      // RDDs, so without this up to maxIterations subgraph-sized block
      // sets sit in executor storage until the ContextCleaner's GC.
      // (The FINAL iterate must stay: the returned join reads it
      // lazily; its blocks fall to the ContextCleaner with the result.)
      freeLocalCheckpoint(ckpt)
      ckpt = next
      labels = next.select("id", "cluster")
      iter += 1
    }
    edges.unpersist()
    edgeList.unpersist()
    // widen back to the full corpus: isolated docs are their own cluster
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Drop the storage behind a checkpointed frame — shared helper in
    * [[graft.Leaf]] (executor blocks for localCheckpoint, checkpoint
    * FILES for reliable checkpoint). Only for frames that will never be
    * read again. */
  private def freeLocalCheckpoint(ds: DataFrame): Unit = graft.Leaf.free(ds)

  /** Driver-side union-find over a collected edge list, joined back to
    * the corpus as a broadcast map. Arbitrary-root union with path
    * halving, then one grouping pass to assign each component its MIN id
    * (same label contract as the iterative path). */
  private def unionFindBroadcast(edges: Array[org.apache.spark.sql.Row],
      nodes: DataFrame, idCol: String): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    edges.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) parent(rb) = ra
    }
    val members = parent.keySet ++ edges.iterator.flatMap(r => Seq(r.get(0), r.get(1)))
    implicit val anyOrd: Ordering[Any] =
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    val labels: Seq[(Any, Any)] = members.toSeq.groupBy(find).iterator
      .flatMap { case (_, ids) => val m = ids.min; ids.map(_ -> m) }.toSeq
    val spark = nodes.sparkSession
    val idType = nodes.schema(idCol).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster", idType)))
    val labelDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        labels.map { case (i, c) => org.apache.spark.sql.Row(i, c) }, 1),
      schema)
    nodes.select(col(idCol).as("id"))
      .join(broadcast(labelDf), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Full near-dup dedup pipeline: minhash-LSH candidate pairs →
    * connected components → per-cluster survivor (min id), returning
    * (id, cluster, is_survivor). */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 0, // 0 = lshPlanChoose
      threshold: Double = 0.5, driverMaxEdges: Int = 2000000,
      checkpointDir: Option[String] = None): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numPerm, bands, threshold)
    val comp = connectedComponents(pairs, df.select(col(idCol)),
      driverMaxEdges = driverMaxEdges, checkpointDir = checkpointDir)
    comp.withColumn("is_survivor", col("id") === col("cluster"))
  }

  /** Exact n-gram Jaccard similarity pairs via shingle-inverted-index
    * self-join: explode distinct shingles, join on shingle, count the
    * intersection, then `|A∩B| / (|A| + |B| - |A∩B|)`. Intersections
    * count only non-stop shingles; denominators use the FULL distinct
    * shingle counts.
    *
    * Scale notes:
    *   - the inverted-index join is quadratic in the posting-list length
    *     of a shingle, so `maxShingleFreq` drops stop-shingles (df >
    *     threshold) first — the standard guard that keeps the join
    *     linear-ish on real corpora;
    *   - with `threshold > 0` the join runs on PREFIX postings only
    *     (PPJoin-style prefix filtering, Xiao et al.): shingles are
    *     globally ordered rarest-first, and a doc qualifying at
    *     threshold `t` must share a shingle within its first
    *     `k - ceil(t·n) + 1` ordered shingles (any pair with
    *     `J ≥ t` has intersection `≥ t·n` of EACH side, since
    *     `I(1+t) ≥ t(na+nb) ≥ t(na+I)`), so candidate generation
    *     touches a fraction of the postings and exact verification via
    *     `array_intersect` runs only on surviving candidates. At `t = 0`
    *     every co-occurring pair qualifies by definition and prefix
    *     filtering degenerates, so the plain postings join is used.
    *     Both paths produce IDENTICAL output for the same `threshold`
    *     (asserted by DedupSpec). */
  /** Incremental (batch-vs-corpus) dedup — the daily-ingest shape: keep
    * the NEW batch's documents that are neither exact duplicates nor
    * MinHash near-duplicates (est. Jaccard `>= threshold`) of the
    * EXISTING corpus. Returns the surviving batch ids.
    *
    * Scale shape — the corpus NEVER shuffles: the batch (small by
    * definition of an increment) broadcasts twice — its fingerprint set
    * against one corpus scan (exact path) and its banded minhash keys
    * against a second (near path); each scan's hit set is bounded by
    * the BATCH size and broadcasts back as an anti-join. Total cost is
    * two corpus scans and zero corpus-sized exchanges, vs. the naive
    * union-then-self-join which re-pairs the whole corpus against
    * itself on every increment. At 100 TB the corpus-side signatures
    * would be precomputed once and stored (withMinhashSignature output
    * is a table), making each increment one scan of a narrow table. */
  def incrementalDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 32,
      bands: Int = 0, // 0 = lshPlanChoose(numPerm, threshold), same
                      // geometry the batch family defaults to
      threshold: Double = 0.5): DataFrame = {
    val bandsChosen = if (bands > 0) bands else planBandsFor(numPerm, threshold)
    val rows = numPerm / bandsChosen
    require(bandsChosen * rows == numPerm, "bands must divide numPerm")
    val bFp = batch.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("fp"))
    val exactHits = corpus
      .select(TextStats.fingerprint(col(textCol)).as("fp"))
      .join(broadcast(bFp.select("fp").distinct()), Seq("fp"))
      .select("fp").distinct()
    def banded(df: DataFrame): DataFrame =
      withMinhashSignature(df, idCol, textCol, n, numPerm)
        .withColumn("band", explode(sequence(lit(0), lit(bandsChosen - 1))))
        .withColumn("band_key", concat_ws("-",
          transform(slice(col("sig"), col("band") * rows + 1, lit(rows)), _.cast("string"))))
    val nearHits = banded(corpus)
      .select(col("band"), col("band_key"), col("sig").as("sig_c"))
      .join(broadcast(banded(batch)
        .select(col("band"), col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))),
        Seq("band", "band_key"))
      .select(col("id_b"),
        (call_function("array_eq_count", col("sig_b"), col("sig_c"))
          .cast("double") / numPerm).as("est"))
      .filter(col("est") >= threshold)
      .select(col("id_b").as("id")).distinct()
    bFp.join(broadcast(exactHits), Seq("fp"), "left_anti")
      .join(broadcast(nearHits), Seq("id"), "left_anti")
      .select("id")
  }

  /** The distinct-shingle posting with per-doc set sizes, through the
    * one-slot [[graft.operators.PlanCache]]: the persist is
    * load-bearing (three consumers — dfreq and both join sides — of a
    * shingle pipeline too expensive to run thrice and not a bare
    * exchange ReuseExchange could dedup), and the slot keeps repeated
    * calls warm while a new input swaps the previous frame out — at
    * most one resident posting cache in a long-lived session. Shared
    * by [[jaccardPairs]] and [[containmentPairs]] (identical plan →
    * same slot → one cache serves both). */
  private def cachedShinglePosting(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.operators.PlanCache.swapPersist(lastJaccardPosting,
      shinglePosting(df, idCol, textCol, n)
        .dropDuplicates("id", "s") // set semantics; no exchange (id subset)
        .withColumnRenamed("s", "shingle")
        .withColumn("n_shingles",
          count(lit(1)).over(Window.partitionBy("id")))) // sort only, no exchange
  }

  /** The budget of the [[jaccardPairs]]/[[containmentPairs]] gate:
    * blocked-join candidate volumes (Σ C(df,2) over df-capped shingles)
    * at or below this run the postings equi-join; above it, the
    * PPJoin-style prefix filter.
    *
    * ROUND-16 RECALIBRATION — the old gate routed on DOC COUNT (cutover
    * 20k docs) and was measured BACKWARDS on real corpora: it sent the
    * 16x corpus (80k docs) to prefix at 23-30 s where postings ran
    * 6.6-7.4 s, and at 64x (320k docs, 80.1M blocked pairs) prefix
    * reads 306.7 s vs postings 30.1 s — identical pair sets every cell
    * (SCALE.md "Round-16: the containment gate was backwards"). Even
    * at t=0.8, where the short-side prefix is most selective, postings
    * wins 5.4 s vs 10.3 s on the 16x corpus. The postings path's cost
    * is LINEAR in this volume at a measured 0.35-0.38 µs/pair
    * (6.6 s at 19.3M, 30.1 s at 80.1M) because the df cap bounds every
    * join key's fan-out; the prefix path's extra exchanges (rank
    * window + candidate distinct + two kept-set array joins) cost more
    * than the aggregation they avoid at every volume reachable under
    * cap 100.
    *
    * The prefix filter remains the escape hatch for the regime the cap
    * can ADMIT but postings cannot survive: a caller raising
    * maxShingleFreq lets single hot shingles contribute C(df,2) ~ df²/2
    * pairs each (one 10^5-df shingle = 5x10^9 pairs on ONE key — a
    * skew bomb postings must aggregate but rarest-first prefixes
    * drop). The budget marks where postings' projected wall (~0.38
    * µs/pair => ~2.5 min at 400M) stops being obviously right; above
    * it the gate defers to the only path whose cost is not the blocked
    * volume itself. */
  val PostingsVolumeBudget: Long = 400000000L

  /** The pair gate's routing signal, exposed for capacity
    * dry-runs (the q153 discipline: price a path before paying for
    * it): Σ C(df,2) over distinct shingles with df ≤ maxShingleFreq —
    * the exact same-shingle pair count the postings path's blocked
    * equi-join aggregates. One aggregate over the (persisted) posting;
    * never materializes a pair. */
  def containmentBlockedVolume(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxShingleFreq: Long): Long =
    blockedVolume(cappedPosting(df, idCol, textCol, n, maxShingleFreq)._2)

  /** Σ C(df,2) over a `(shingle, df)` frame: one aggregate, one collect. */
  private def blockedVolume(dfreq: DataFrame): Long = {
    val row = dfreq.agg(sum(col("df") * (col("df") - 1))).collect()(0)
    if (row.isNullAt(0)) 0L else row.getLong(0) / 2
  }

  /** The persisted posting `(shingle, id, n_shingles)` and its df-capped
    * `(shingle, df)` table — the two inputs both pair paths of
    * [[jaccardPairs]] and [[containmentPairs]] start from. */
  private[graft] def cappedPosting(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxShingleFreq: Long): (DataFrame, DataFrame) = {
    val posting = cachedShinglePosting(df, idCol, textCol, n)
    (posting, posting.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleFreq))
  }

  /** Directional n-gram CONTAINMENT pairs (Broder 1997's asymmetric
    * resemblance twin): cont_a = |A∩B|/|A|, cont_b = |A∩B|/|B|, pairs
    * kept when either direction reaches `threshold`. Catches what
    * symmetric Jaccard structurally cannot: a short document quoted
    * wholesale inside a long one has cont_short ≈ 1 while its Jaccard
    * ≈ |short|/|long| ≈ 0 — the quote-inclusion / sub-document
    * contamination case. Same posting machinery and df cap as
    * [[jaccardPairs]] (never all-pairs), and for `threshold > 0` the
    * same PPJoin-style prefix filter in its containment form (short
    * side's prefix bounds candidates — see [[containmentPrefix]]); set
    * sizes count ALL distinct shingles (the df cap prunes candidate
    * GENERATION, not the denominator).
    *
    * Path choice: the prefix filter pays two extra exchanges (rank
    * window + candidate distinct) to prune candidate GENERATION — a
    * trade that only wins once the blocked equi-join's candidate set is
    * the bottleneck. The gate MEASURES that bottleneck instead of
    * proxying it by doc count (the round-16 recalibration — see
    * [[PostingsVolumeBudget]]): one aggregate over the already-persisted
    * dfreq yields the blocked candidate volume Σ C(df,2), and volumes at
    * or under the budget route to postings, above it to prefix. Both
    * paths produce the IDENTICAL pair set (DedupSpec pins it across the
    * gate). */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxShingleFreq: Long = 1000): DataFrame = {
    val (posting, dfreq) = cappedPosting(df, idCol, textCol, n, maxShingleFreq)
    if (threshold <= 0 || blockedVolume(dfreq) <= PostingsVolumeBudget)
      containmentPostings(posting, dfreq, threshold)
    else containmentPrefix(posting, dfreq, threshold)
  }

  /** [[containmentPairs]]' postings path: no selectivity to exploit, the
    * plain blocked equi-join, aggregated (never materializing the pair
    * set). */
  private[graft] def containmentPostings(posting: DataFrame, dfreq: DataFrame,
      threshold: Double): DataFrame = {
    val filtered = posting.join(dfreq.select("shingle"), Seq("shingle"))
    val a = filtered.select(col("shingle"), col("id").as("id_a"), col("n_shingles").as("na"))
    val b = filtered.select(col("shingle"), col("id").as("id_b"), col("n_shingles").as("nb"))
    a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_a", col("inter").cast("double") / col("na"))
      .withColumn("cont_b", col("inter").cast("double") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  /** [[containmentPairs]]' prefix-filter path. */
  private[graft] def containmentPrefix(posting: DataFrame, dfreq: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The containment analog of [[jaccardPairs]]' PPJoin prefix
    // filter (VERDICT r12 #2). A pair qualifies iff
    // inter >= t·min(na, nb), i.e. the threshold is set by the pair's
    // SHORT side: by pigeonhole, any qualifying pair must share a
    // shingle inside the short doc's prefix — its kept set minus the
    // last ceil(t·n)−1 entries in rarest-first order (any fixed
    // per-doc order is sound for a one-sided prefix; rarest-first
    // minimizes collisions). Since which side is shorter is unknown
    // at generation time, candidates are PREFIX rows joined against
    // ALL kept rows — every qualifying pair collides on its short
    // side's prefix by construction, so recall is perfect. Candidates
    // then verify exactly on hashed kept-set intersections with FULL
    // denominators (the df cap prunes generation, not n_shingles).
    // Same 64-bit-key discipline as jaccardPairs: join and verify on
    // xxhash64 keys (set semantics identical up to 64-bit collisions).
    val kept = posting.join(dfreq, Seq("shingle"))
      .withColumn("h", xxhash64(col("shingle")))
    val byDoc = Window.partitionBy("id")
    val ranked = kept
      .withColumn("rank", row_number().over(byDoc.orderBy(col("df"), col("h"))))
      .withColumn("ka", count(lit(1)).over(byDoc))
    // Imin = ceil(t·n_shingles) with the FULL denominator; docs whose
    // kept count ka < Imin can never qualify as the short side and
    // emit no prefix rows
    val prefix = ranked.filter(col("rank") <=
      col("ka") - ceil(lit(threshold) * col("n_shingles")) + 1)
    // ONE-SIDED positional filter (PPJoin, Xiao et al. 2008 §3.2,
    // adapted to the one-sided containment prefix): at a collision on
    // token h at rank r_p of the prefix side, the kept-set
    // intersection is bounded by the prefix doc's remaining tail,
    //   inter ≤ 1 + (ka_p − r_p),
    // so a row whose bound is below t·min(na, nb) cannot witness a
    // qualifying pair and is dropped row-local, BEFORE the
    // pair-distinct exchange — the stage whose raw output
    // (Σ_h prefix_df·df rows, duplicate pair multiplicity included)
    // spilled >58 GB and exhausted single-node disk in the 256×
    // probe. Recall stays perfect: a qualifying pair with
    // intersection I shares a globally-rarest token s* whose rank in
    // EACH doc is ≤ ka − I + 1 (the other I−1 shared tokens all rank
    // after it), so the s*-collision row has bound ≥ I ≥ t·min(na,nb),
    // and s* sits inside the short side's prefix by the same
    // pigeonhole that makes the prefix sound; the ε slack only ADMITS
    // borderline rows (verify prunes them exactly), so double rounding
    // at an integral t·min can never cost recall.
    //
    // Deliberately ONE-sided: the symmetric form (also bounding by the
    // kept side's tail) needs rank/ka on every kept row, which drags
    // the whole posting through the id-window's exchange+sort a second
    // time and widens the h-join's shuffle rows — measured 2.5× SLOWER
    // at the 64× cell (82.4 s vs 33.6 s unfiltered) for zero extra
    // pruning there. The kept side contributes only n_shingles, which
    // the posting already carries.
    val kside = kept.select(col("h"), col("id").as("id_k"),
      col("n_shingles").as("nak"))
    val cand = prefix.select(col("h"), col("id").as("id_p"),
        col("rank").as("rp"), col("ka").as("kap"), col("n_shingles").as("nap"))
      .join(kside, Seq("h"))
      .filter(col("id_p") =!= col("id_k"))
      .filter((lit(1) + col("kap") - col("rp")).cast("double") >=
        lit(threshold) * least(col("nap"), col("nak")) - lit(1e-9))
      .select(least(col("id_p"), col("id_k")).as("id_a"),
        greatest(col("id_p"), col("id_k")).as("id_b"))
      .distinct()
    val keptSets = kept.groupBy("id", "n_shingles")
      .agg(collect_list(col("h")).as("kept_set"))
    cand
      .join(keptSets.select(col("id").as("id_a"), col("n_shingles").as("na"),
        col("kept_set").as("sa")), Seq("id_a"))
      .join(keptSets.select(col("id").as("id_b"), col("n_shingles").as("nb"),
        col("kept_set").as("sb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("cont_a", col("inter").cast("double") / col("na"))
      .withColumn("cont_b", col("inter").cast("double") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  /** Path choice (round-16, the containment-gate finding transferred):
    * the gate measures the df-capped blocked candidate volume Σ C(df,2)
    * from dfreq and runs the blocked postings join (threshold applied
    * post-aggregation — exact) at or under
    * [[PostingsVolumeBudget]], the prefix filter above it. Measured on
    * the 16x corpus (identical pair sets, SCALE.md "Round-16: the
    * containment gate was backwards"):
    * postings 4.5 s vs prefix 12.7 s at t=0.5, 3.6 s vs 7.2 s even at
    * t=0.8 — the two-sided prefix is more selective than containment's
    * one-sided form, and still loses under the cap, for the same
    * reason: its rank window + candidate distinct + kept-set joins
    * cost more than the aggregation they avoid while the cap keeps the
    * blocked join linear. */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxShingleFreq: Long = 1000): DataFrame = {
    // Codegen generator shape via [[shinglePosting]], NOT the interpreted
    // `shingles()` array HOF: the HOF ran the whole corpus's shingle
    // derivation as interpreted expressions inside the scan stage (one
    // task at small file counts — 4 s single-threaded at sf0.1, with
    // multi-10 s outliers when its allocation storm forced a full GC that
    // dropped codegen classes). shinglePosting stays inside whole-stage
    // codegen and fans out across shuffle partitions; its id partitioning
    // then feeds the distinct and the n_shingles window exchange-free.
    val (posting, dfreq) = cappedPosting(df, idCol, textCol, n, maxShingleFreq)
    if (threshold <= 0 || blockedVolume(dfreq) <= PostingsVolumeBudget)
      jaccardPostings(posting, dfreq, threshold)
    else jaccardPrefix(posting, dfreq, threshold)
  }

  /** [[jaccardPairs]]' postings path: the blocked equi-join, threshold
    * applied post-aggregation. */
  private[graft] def jaccardPostings(posting: DataFrame, dfreq: DataFrame,
      threshold: Double): DataFrame = {
    val filtered = posting.join(dfreq.select("shingle"), Seq("shingle"))
    val a = filtered.select(col("shingle"), col("id").as("id_a"), col("n_shingles").as("na"))
    val b = filtered.select(col("shingle"), col("id").as("id_b"), col("n_shingles").as("nb"))
    a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** [[jaccardPairs]]' PPJoin prefix-filter path. */
  private[graft] def jaccardPrefix(posting: DataFrame, dfreq: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The prefix join and the verify step run on 64-bit xxhash64 shingle
    // keys, not strings: the verify shuffles each candidate's kept-set
    // array twice and intersects per pair, and long equality there is
    // ~4x cheaper than string hashing + payload (measured in the
    // round-6 probe behind SCALE.md "Pair-operator scaling", which
    // records the pair timings, not this split). Set semantics are
    // identical up to 64-bit collisions; df/stop-shingle stats stay
    // string-exact.
    val kept = posting.join(dfreq, Seq("shingle")) // shingle, id, n_shingles, df
      .withColumn("h", xxhash64(col("shingle")))
    // global rarest-first order; rank within each doc
    val byDoc = Window.partitionBy("id")
    val ranked = kept
      .withColumn("rank", row_number().over(byDoc.orderBy(col("df"), col("h"))))
      .withColumn("ka", count(lit(1)).over(byDoc))
    // Imin = ceil(t·n_shingles); prefix = first ka - Imin + 1 shingles.
    // Docs where Imin > ka can never qualify and emit no prefix rows.
    val prefix = ranked.filter(col("rank") <=
      col("ka") - ceil(lit(threshold) * col("n_shingles")) + 1)
    // Positional filter (PPJoin, Xiao et al. 2008 §3.2): a collision at
    // ranks (r_a, r_b) bounds the kept-set intersection by the shorter
    // remaining tail, inter ≤ 1 + min(ka_a − r_a, ka_b − r_b); a
    // qualifying pair needs inter·(1+t) ≥ t·(na+nb) (the verify
    // predicate solved for inter), so rows below that bound cannot
    // witness a qualifying pair and are dropped before the
    // pair-distinct exchange. Recall stays perfect: the pair's
    // globally-rarest shared token ranks ≤ ka − I + 1 in BOTH docs
    // (the other I−1 shared tokens all rank after it), so its row sits
    // in both prefixes with bound ≥ I; the ε slack only ADMITS
    // borderline rows, so double rounding can never cost recall.
    val cand = prefix.select(col("h"), col("id").as("id_a"),
        col("rank").as("ra"), col("ka").as("kaa"), col("n_shingles").as("naa"))
      .join(prefix.select(col("h"), col("id").as("id_b"),
        col("rank").as("rb"), col("ka").as("kab"), col("n_shingles").as("nab")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .filter((lit(1) + least(col("kaa") - col("ra"), col("kab") - col("rb")))
        .cast("double") * (1.0 + threshold) >=
        lit(threshold) * (col("naa") + col("nab")) - lit(1e-9))
      .select("id_a", "id_b").distinct()
    // exact verification on the kept-shingle sets of candidates only
    val keptSets = kept.groupBy("id", "n_shingles")
      .agg(collect_list(col("h")).as("kept_set"))
    cand
      .join(keptSets.select(col("id").as("id_a"), col("n_shingles").as("na"),
        col("kept_set").as("sa")), Seq("id_a"))
      .join(keptSets.select(col("id").as("id_b"), col("n_shingles").as("nb"),
        col("kept_set").as("sb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-duplicate pairs verified by TRUE edit-distance similarity —
    * the rerank/verify stage a production dedup pipeline runs after LSH
    * recall (MinHash estimates set overlap of shingles; Levenshtein
    * measures the character-level edit chain, so transpositions and
    * small in-place rewrites that shingle sets blur are scored exactly).
    *
    * edit_sim = 1 − lev(a,b) / max(|a|,|b|)  (1.0 when both empty).
    *
    * Scale shape: the O(|a|·|b|) dynamic program runs ONLY on LSH
    * candidate pairs (never all-pairs — candidates are banded-collision
    * bounded), and a free length prefilter drops pairs where
    * |len_a − len_b| alone already forces edit_sim < threshold, before
    * any text is shuffled to the verify join: lev ≥ |len_a − len_b|, so
    * the bound is exact and recall-lossless. The two doc-text joins are
    * id-keyed hash joins whose probe side is the (small) candidate set.
    *
    * BAND GEOMETRY (VERDICT r15 #6): `bands = 0` (the default) resolves
    * the factorization with [[lshPlanChoose]] at `shingleThreshold` —
    * the Jaccard level the LSH recall stage should catch, which is NOT
    * the edit threshold in general. The editband probe measured the
    * mapping (SCALE.md "q130 band-geometry knob"): character-cheap edits
    * (suffix mutations) destroy up to `n` token shingles each, so a
    * corpus whose near-dups sit at edit_sim t can occupy shingle-Jaccard
    * levels well below t — at 16x the mutated families sat near 0.5
    * while t was 0.8, and the tight geometry planned at 0.8 kept only
    * 35% of verified pairs. Defaults: `shingleThreshold = NaN` plans at
    * the edit threshold itself — the precision-first choice (at
    * numPerm 16, t 0.8 the planner picks 2 bands x 8 rows, the geometry
    * the probe measured cutting candidate volume 3.35x) — and a caller
    * whose corpus pairs shingle-score below their edit score passes the
    * measured lower level explicitly (0.5 here recovers the wide
    * recall), or a containment-style bound like
    * (1 − n(1−t)) / (1 + n(1−t)).
    */
  def editVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 16,
      bands: Int = 0,
      threshold: Double = 0.8,
      maxLenHint: Option[Int] = None,
      shingleThreshold: Double = Double.NaN): DataFrame = {
    val planAt = if (shingleThreshold.isNaN) threshold else shingleThreshold
    val bandsChosen =
      if (bands > 0) bands else planBandsFor(numPerm, planAt)
    val cands = minhashLshPairs(df, idCol, textCol, n, numPerm, bandsChosen,
        threshold = 0.0)
      .select("id_a", "id_b")
    // lengths travel with the candidate ids so the length prefilter runs
    // BEFORE the text payload joins — at corpus scale the texts are the
    // wide columns and the filter keeps them off the wire for pairs the
    // bound already kills.
    val lens = df.select(col(idCol).as("id"), length(col(textCol)).as("len"))
    val sized = cands
      .join(lens.select(col("id").as("id_a"), col("len").as("len_a")), Seq("id_a"))
      .join(lens.select(col("id").as("id_b"), col("len").as("len_b")), Seq("id_b"))
      .filter((greatest(col("len_a"), col("len_b")) - least(col("len_a"), col("len_b")))
        .cast("double") <= lit(1.0 - threshold) * greatest(col("len_a"), col("len_b")))
    val texts = df.select(col(idCol).as("id"), col(textCol).as("t"))
    // Bounded dynamic program (lossless): any pair needs
    // lev <= (1-t)*max(len_a, len_b) <= (1-t)*maxLen to reach the sim
    // threshold, so the DP runs banded at cap = floor((1-t)*maxLen) —
    // O(cap*len) instead of O(len^2) cells — and the -1 overflow
    // sentinel marks pairs that provably fail (their sim < t even
    // against their own pair bound). maxLen comes from corpus metadata
    // when the caller has it (maxLenHint); otherwise one max() aggregate
    // over the already-projected lengths frame. The equality fast path
    // skips the DP entirely for exact-duplicate candidates — in a
    // dedup-heavy corpus those dominate the candidate set. NOTE: the
    // fallback is an EAGER driver job at plan-construction time (one
    // max over a projected length column); pass maxLenHint to keep
    // plan building lazy. An empty corpus / all-null text column yields
    // a null max — cap 0, and the (already-empty) candidate set flows
    // through instead of an NPE (ADVICE r15).
    val maxLen = maxLenHint.getOrElse {
      val row = lens.agg(max(col("len"))).collect()(0)
      if (row.isNullAt(0)) 0 else row.getInt(0)
    }
    val cap = math.max(0, math.floor((1.0 - threshold) * maxLen).toInt)
    sized
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b")), Seq("id_b"))
      // The DP below is CPU-DENSE and byte-light: a candidate-pair row
      // is ~2 text payloads but costs O(cap·len) DP cells. AQE's
      // byte-based coalescing judged the post-join exchange "small" and
      // ran the whole verify in ONE task (16×: two 1-task stages of
      // 23 s + 19 s = 42 s of q130's 45 s wall — OPTIMIZATION_r17.md).
      // An explicit round-robin repartition to the session's default
      // parallelism pins the verify fan-out; AQE never coalesces
      // user-specified repartitions. Cost: one exchange of the
      // candidate-pair texts — a frame the LSH gate already bounds.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("lev",
        // `opaque` fences the DP from optimizer substitution: without
        // it the downstream filters inline this expression and push it
        // into the text-attach join CONDITION — 2-3 evaluations per
        // pair inside an AQE-coalesced 1-task stage below the
        // repartition (the 16x q130 12 s serial stage)
        when(col("t_a") === col("t_b"), lit(0L))
          .otherwise(call_function("opaque",
            levenshtein(col("t_a"), col("t_b"), cap)).cast("long")))
      .filter(col("lev") >= 0)
      .withColumn("edit_sim",
        when(greatest(col("len_a"), col("len_b")) === 0, lit(1.0))
          .otherwise(lit(1.0) - col("lev").cast("double") /
            greatest(col("len_a"), col("len_b"))))
      .filter(col("edit_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("lev"), col("edit_sim"))
  }

  /** Corpus-level similarity between GROUPS of documents (sources,
    * snapshots, domains): one MinHash signature per group over the UNION
    * of its documents' shingles, plus the exact shingle-set Jaccard as
    * the sketch's own error report. The "which crawls overlap / which
    * source is a re-host of which" diagnostic — pairwise DOCUMENT dedup
    * answers a different question than pairwise SOURCE overlap.
    *
    * est_jaccard  = matching minhash coordinates / numPerm
    * exact_jaccard = |A∩B| / |A∪B| over distinct shingle strings.
    *
    * Scale shape (round 18): ONE corpus pass — the shingle explode feeds
    * a single distinct-(group, shingle) aggregate, and EVERYTHING
    * downstream reads that vocabulary-bounded set through one reused
    * exchange: sizes, the shingle-keyed intersection self-join, and the
    * MinHash signature itself (min() per permutation is idempotent over
    * duplicate shingles, so the signature of the occurrence STREAM
    * equals the signature of the distinct SET — the r17 shape paid a
    * second full explode+md5 pass for the same mins). Signature
    * agreement runs as a BANDED equi-join (guide §3 blocked join): each
    * signature explodes into numPerm (coordinate, hash) rows joined on
    * that band key, producing only AGREEING coordinates — sketch
    * payloads never enter a nested-loop pair frame. The |groups|² output
    * frame is assembled from group METADATA (sizes, 2 longs/row) with
    * matches and intersections attached by broadcast hash joins. At
    * 100 TB with dozens of sources every stage after the scan is
    * metadata-sized, and the corpus is read — and md5'd — exactly once.
    */
  def sourceMinhashSimilarity(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 32): DataFrame = {
    val posting = Tables.spread(df)
      .select(col(groupCol).as("g"),
        explode(call_function("shingle_gen", col(textCol), lit(n))).as("s"))
    // exact side: distinct shingle STRINGS per group (hash-collision-free
    // ground truth), sizes + pairwise intersections via a shingle-keyed
    // self-join — vocabulary-bounded, the q101 HLL set-ops shape made exact.
    val sets = posting.select(col("g"), col("s")).distinct()
    val sizes = sets.groupBy("g").agg(count(lit(1)).as("n"))
    val inter = sets.select(col("g").as("g_a"), col("s"))
      .join(sets.select(col("g").as("g_b"), col("s")), Seq("s"))
      .filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b").agg(count(lit(1)).as("inter"))
    // signature from the distinct set, not the occurrence stream: min is
    // duplicate-insensitive, so this is bit-identical to hashing every
    // occurrence — and it reuses the distinct exchange the exact side
    // already pays for instead of a second corpus-wide explode+md5 pass
    val sigs = sets.select(col("g"), h32(col("s")).as("h"))
      .groupBy("g").agg(
        array((0 until numPerm).map { i =>
          min((lit(2 * i + 1).cast("long") * col("h") + lit(7919L * i + 1)) % Prime)
        }: _*).as("sig"))
    // banded signature agreement: equi-join on the (coordinate, hash)
    // band key counts exactly the agreeing coordinates per pair; pairs
    // sharing no coordinate simply don't appear (matches -> 0 below)
    val coords = sigs.select(col("g"), posexplode(col("sig")))
      .select(col("g"), col("pos").as("i"), col("col").as("h"))
    val matches = coords.select(col("g").as("g_a"), col("i"), col("h"))
      .join(coords.select(col("g").as("g_b"), col("i"), col("h")), Seq("i", "h"))
      .filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b").agg(count(lit(1)).as("matches"))
    // |groups|² pair frame over group metadata only (2 longs a side)
    val pairs = sizes.select(col("g").as("g_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("g").as("g_b"), col("n").as("n_b"))),
        col("g_a") < col("g_b"))
    pairs
      .join(broadcast(matches), Seq("g_a", "g_b"), "left")
      .join(broadcast(inter), Seq("g_a", "g_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("g_a"), col("g_b"),
        (coalesce(col("matches"), lit(0L))
          .cast("double") / numPerm).as("est_jaccard"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("exact_jaccard"),
        col("inter"), col("n_a"), col("n_b"))
  }

  /** Banded-collision candidate VOLUME, measured from signatures
    * without materializing a single pair — [[lshPlan]]'s a-posteriori
    * companion: the planner integrates the S-curve a priori, this
    * operator reports what a given geometry would actually generate on
    * THIS corpus. Per band: the bucket count, the largest bucket (the
    * skew that decides the verify stage's straggler), and
    * `sum C(bucket, 2)` — the exact number of banded collision pairs
    * the verify join would receive from that band (the distinct-pair
    * candidate set is upper-bounded by the sum over bands).
    *
    * Scale shape: one signature pass + one groupBy per band slice —
    * O(docs x bands) rows, never pairs; at 100 TB this is the cheap
    * dry-run that decides whether [[editVerifiedPairs]]' verify stage
    * is sized by [[lshPlan]]'s chosen geometry or needs tighter rows —
    * the measurement SCALE.md's editband probe takes, as an operator. */
  def bandCandidateVolume(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0, s"bands=$bands must divide numPerm=$numPerm")
    val r = numPerm / bands
    val sigs = withMinhashSignature(df, idCol, textCol, n, numPerm)
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * r + 1, lit(r)))))
      .select(col("pos").cast("int").as("band_idx"), col("col").as("bucket"))
    banded.groupBy("band_idx", "bucket").agg(count(lit(1)).as("sz"))
      .groupBy("band_idx")
      .agg(expr("count(*) AS n_buckets"),
        expr("max(sz) AS max_bucket"),
        expr("CAST(sum(sz * (sz - 1)) DIV 2 AS BIGINT) AS cand_pairs"))
      .orderBy("band_idx")
  }

  /** DuckDB oracle for [[bandCandidateVolume]], generated for fixed
    * (n=3, numPerm, bands). Signatures via the q27/q133-proven
    * group-by-MIN form; band keys as joined strings (injective, so the
    * grouping is identical to Spark's array keys, which never reach the
    * output). */
  def bandCandidateVolumeOracle(numPerm: Int, bands: Int): String = {
    require(numPerm % bands == 0)
    val r = numPerm / bands
    val sigCols = (0 until numPerm).map(i =>
      s"MIN((${2 * i + 1} * h + ${7919 * i + 1}) % 4294967311) AS s$i")
      .mkString(",\n          ")
    val bandSelects = (0 until bands).map { b =>
      val key = (b * r until (b + 1) * r)
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT $b AS band_idx, $key AS bucket FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH sh AS (
        SELECT doc_id,
          unnest(list_distinct([array_to_string((string_split(text,' '))[i:i+2], ' ')
                 FOR i IN generate_series(1, greatest(len(string_split(text,' ')) - 2, 1))])) AS s
        FROM documents),
      hs AS (
        SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh),
      sig AS (
        SELECT doc_id,
          $sigCols
        FROM hs GROUP BY doc_id),
      banded AS (
        $bandSelects),
      b AS (SELECT band_idx, bucket, COUNT(*) AS sz FROM banded GROUP BY 1, 2)
      SELECT band_idx, COUNT(*) AS n_buckets, MAX(sz) AS max_bucket,
        CAST(SUM(sz * (sz - 1)) // 2 AS BIGINT) AS cand_pairs
      FROM b GROUP BY band_idx ORDER BY band_idx"""
  }

  /** LSH band-geometry PLANNER — the knob that governs every banded
    * operator's candidate volume ([[minhashLshPairs]],
    * [[editVerifiedPairs]], the streaming near-dup family), computed
    * instead of hand-tuned. For a signature budget of `numPerm`
    * permutations and a similarity threshold `t`, every factorization
    * `numPerm = bands x rows` induces the S-curve
    * `p(s) = 1 - (1 - s^rows)^bands` (probability a pair at Jaccard `s`
    * becomes a candidate). The planner reports, per factorization:
    *
    *  - `fp_e12` — left-Riemann sum of p(s) BELOW the threshold on a
    *    1/grid lattice, in units of 1e-12 (divide by 1e12·grid for the
    *    area): expected candidate volume from sub-threshold pairs — the
    *    wasted verify work that drove q130's 16x growth;
    *  - `fn_e12` — sum of 1 − p(s) at/above the threshold, same units:
    *    recall lost to the banding;
    *  - `chosen` — the factorization minimizing fp + fn.
    *
    * At 100 TB the planner is the difference between a verify stage
    * sized by math and one sized by folklore: SCALE.md's editband probe
    * measures exactly this trade (rows-per-band 4 vs 8 on the same
    * corpus) and the planner names the crossover without a probe run.
    *
    * Numerics (the q90 integer-exact discipline): every power is
    * computed by REPEATED MULTIPLICATION in DECIMAL(14,12), rounded to
    * scale 12 per step (`round` is half-up in both engines for positive
    * values), sums stay in DECIMAL, and the outputs are INTEGERS —
    * no float `pow` (libm rounding differs across platforms), no
    * decimal division (DuckDB performs it in floating point). The
    * oracle drives the same recurrence through recursive CTEs —
    * conservative, version-stable SQL, no lambdas, no comprehensions. */
  def lshPlan(numPerm: Int, threshold: Double, grid: Int = 1000): DataFrame = {
    require(numPerm >= 1 && grid >= 10, s"numPerm=$numPerm grid=$grid")
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val configs = (1 to numPerm).filter(numPerm % _ == 0)
      .map(b => (b, numPerm / b))
    // threshold snapped to the grid so the fp/fn split is an INTEGER
    // comparison in both engines (s_i = i/grid < t  <=>  i < tIdx)
    val tIdx = math.round(threshold * grid).toInt
    val dec = "decimal(14,12)"
    val one = lit(new java.math.BigDecimal(1).setScale(12)).cast(dec)
    val step = lit(new java.math.BigDecimal(1)
      .divide(new java.math.BigDecimal(grid), 12, java.math.RoundingMode.HALF_UP))
    val e12 = lit(new java.math.BigDecimal(10).pow(12))
    def pw(base: Column, n: Column): Column =
      aggregate(sequence(lit(1), n), one,
        (acc, _) => round(acc * base, 12).cast(dec))
    val curve = configs.toDF("bands", "rows_per_band")
      .crossJoin(spark.range(0, grid).toDF("i"))
      .withColumn("s", round(col("i").cast("decimal(16,0)") * step, 12).cast(dec))
      .withColumn("sr", pw(col("s"), col("rows_per_band")))
      .withColumn("qb", pw((one - col("sr")).cast(dec), col("bands")))
      .withColumn("p", (one - col("qb")).cast(dec))
    val zero = lit(new java.math.BigDecimal(0).setScale(12)).cast(dec)
    val areas = curve.groupBy("bands", "rows_per_band").agg(
      (sum(when(col("i") < tIdx, col("p")).otherwise(zero)) * e12)
        .cast("long").as("fp_e12"),
      (sum(when(col("i") >= tIdx, (one - col("p")).cast(dec)).otherwise(zero)) * e12)
        .cast("long").as("fn_e12"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      (col("fp_e12") + col("fn_e12")).asc, col("bands").asc)
    areas
      .withColumn("chosen", (row_number().over(w) === 1).cast("int"))
      .select(col("bands"), col("rows_per_band"),
        col("fp_e12"), col("fn_e12"), col("chosen"))
      .orderBy("bands")
  }

  private val lshPlanMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Double, Int), (Int, Int)]()

  /** Driver-side twin of [[lshPlan]]: the `chosen` factorization as a
    * plain `(bands, rowsPerBand)` pair, computed with the SAME
    * DECIMAL-exact recurrence (BigDecimal scale-12 half-up, repeated
    * multiplication, integer fp/fn masses, tie on fewer bands) but
    * without a Spark job — it is the default-geometry resolver the
    * banded operators call at PLAN-BUILD time (VERDICT r15 #6), so it
    * must cost microseconds-to-milliseconds, not a cluster round trip.
    * DedupSpec pins equality with [[lshPlan]]'s chosen row. Memoized:
    * operators resolve the same (numPerm, threshold) every call. */
  /** Band-count resolution for the `bands = 0` sentinel: the PLANNING
    * threshold is the caller's verify threshold clamped into
    * [[lshPlanChoose]]'s open (0,1) domain. threshold 0.0 (the
    * documented "estimate filter OFF" mode) and 1.0 both worked with the
    * historical fixed defaults and must keep resolving instead of
    * tripping lshPlanChoose's require (ADVICE r16 #3); every declared
    * query's threshold is strictly inside (0,1), so their geometry is
    * unchanged. */
  private[graft] def planBandsFor(numPerm: Int, threshold: Double): Int = {
    val t = math.min(0.99, math.max(0.01, threshold))
    lshPlanChoose(numPerm, t)._1
  }

  def lshPlanChoose(numPerm: Int, threshold: Double, grid: Int = 1000): (Int, Int) = {
    require(numPerm >= 1 && grid >= 10, s"numPerm=$numPerm grid=$grid")
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    lshPlanMemo.computeIfAbsent((numPerm, threshold, grid), { _ =>
      import java.math.{BigDecimal => BD, RoundingMode => RM}
      def rnd(x: BD): BD = x.setScale(12, RM.HALF_UP)
      val one = BD.ONE.setScale(12)
      val step = BD.ONE.divide(new BD(grid), 12, RM.HALF_UP)
      val tIdx = math.round(threshold * grid).toInt
      val scored = (1 to numPerm).filter(numPerm % _ == 0).map { b =>
        val r = numPerm / b
        var fp = BD.ZERO; var fn = BD.ZERO
        var i = 0
        while (i < grid) {
          val s = rnd(new BD(i).multiply(step))
          var sr = one; var k = 0
          while (k < r) { sr = rnd(sr.multiply(s)); k += 1 }
          var qb = one; k = 0
          while (k < b) { qb = rnd(qb.multiply(one.subtract(sr))); k += 1 }
          val p = one.subtract(qb)
          if (i < tIdx) fp = fp.add(p) else fn = fn.add(one.subtract(p))
          i += 1
        }
        (b, r, fp.add(fn).movePointRight(12).longValueExact())
      }
      val best = scored.minBy(t => (t._3, t._1))
      (best._1, best._2)
    })
  }

  /** Conservative DuckDB oracle for [[lshPlan]] — the same DECIMAL
    * recurrence via recursive CTEs (power = repeated multiply rounded to
    * scale 12 per step). Generated for fixed (numPerm, threshold, grid)
    * so the two formulations evolve together.
    *
    * The lattice point `s` is generated EXACTLY as the Spark side does
    * it — `i` times the same pre-rounded scale-12 step constant
    * (ADVICE r15 #3: a float division `round(i/grid, 12)` here differs
    * from the decimal product by 1e-12 for any grid whose reciprocal is
    * non-terminating, e.g. 30 or 300 — only safe while callers pinned
    * grid=1000). Both engines now multiply integers by the identical
    * decimal literal, so the lattices agree for EVERY grid. */
  def lshPlanOracle(numPerm: Int, threshold: Double, grid: Int = 1000): String = {
    val configs = (1 to numPerm).filter(numPerm % _ == 0)
      .map(b => s"($b, ${numPerm / b})").mkString(", ")
    val tIdx = math.round(threshold * grid).toInt
    val step = new java.math.BigDecimal(1)
      .divide(new java.math.BigDecimal(grid), 12, java.math.RoundingMode.HALF_UP)
      .toPlainString
    s"""
      WITH RECURSIVE cfg AS (SELECT * FROM (VALUES $configs) v(bands, rows_per_band)),
      pts AS (
        SELECT bands, rows_per_band, i,
          CAST(round(i * $step, 12) AS DECIMAL(14,12)) AS s
        FROM cfg, range(0, $grid) t(i)),
      powr(bands, rows_per_band, i, k, v) AS (
        SELECT bands, rows_per_band, i, 0, CAST(1 AS DECIMAL(14,12)) FROM pts
        UNION ALL
        SELECT p.bands, p.rows_per_band, p.i, k + 1,
          CAST(round(v * s, 12) AS DECIMAL(14,12))
        FROM powr p JOIN pts USING (bands, rows_per_band, i)
        WHERE k < p.rows_per_band),
      sr AS (
        SELECT bands, rows_per_band, i, v AS srv
        FROM powr p WHERE k = p.rows_per_band),
      powb(bands, rows_per_band, i, k, v) AS (
        SELECT bands, rows_per_band, i, 0, CAST(1 AS DECIMAL(14,12)) FROM sr
        UNION ALL
        SELECT p.bands, p.rows_per_band, p.i, k + 1,
          CAST(round(v * (1 - srv), 12) AS DECIMAL(14,12))
        FROM powb p JOIN sr USING (bands, rows_per_band, i)
        WHERE k < p.bands),
      curve AS (
        SELECT bands, rows_per_band, i, CAST(1 - v AS DECIMAL(14,12)) AS p
        FROM powb b WHERE k = b.bands),
      areas AS (
        SELECT bands, rows_per_band,
          CAST(SUM(CASE WHEN i < $tIdx THEN p
                        ELSE CAST(0 AS DECIMAL(14,12)) END) * 1000000000000 AS BIGINT) AS fp_e12,
          CAST(SUM(CASE WHEN i >= $tIdx THEN CAST(1 - p AS DECIMAL(14,12))
                        ELSE CAST(0 AS DECIMAL(14,12)) END) * 1000000000000 AS BIGINT) AS fn_e12
        FROM curve GROUP BY bands, rows_per_band)
      SELECT bands, rows_per_band, fp_e12, fn_e12,
        CASE WHEN row_number() OVER (ORDER BY fp_e12 + fn_e12, bands) = 1
             THEN 1 ELSE 0 END AS chosen
      FROM areas ORDER BY bands"""
  }
}
