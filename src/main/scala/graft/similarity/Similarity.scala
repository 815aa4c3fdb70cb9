package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Baseline: exact brute-force cosine top-k with a
  * broadcast query side. Scale path: random-hyperplane LSH bucketing so
  * only same-bucket candidates are compared, and an IVF (inverted-file)
  * variant with deterministic centroids.
  *
  * All hot-path vector math goes through the codegen'd
  * `cosine_sim`/`dot_product` expressions
  * ([[org.apache.spark.sql.graft.VectorExpressions]]) — single
  * left-to-right primitive loops, bit-identical to the `zip_with`/
  * `aggregate` folds kept in [[dot]]/[[cosine]] as the reference
  * formulation (tests assert the bit-identity), so results are
  * bit-reproducible and oracle-checkable across engines.
  *
  * Retrieval quality is MEASURED, not assumed: RecallSpec computes
  * recall@k vs the brute-force baseline for the approximate variants
  * and pins floors (the full tables are in SCALE.md).
  */
object Similarity {

  /** Cast float embedding to double for deterministic IEEE math. Native
    * array cast, not `transform(_.cast)`: Cast is codegen'd while the
    * HOF lambda evaluates interpreted per element — in the scan stage,
    * where split counts bound parallelism. Float→double widening is
    * exact either way. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product: left-to-right fold of pairwise products. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k by cosine: broadcast the (small) query set
    * against the candidate corpus — the correctness baseline. One
    * broadcast, zero shuffle for the scoring pass; the only shuffle is the
    * per-query top-k (window over queryId, k rows survive per partition
    * before the final merge). */
  def bruteForceTopK(
      queries: DataFrame, // (query_id, query_vec: array<double>)
      candidates: DataFrame, // (cand_id, cand_vec: array<double>)
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val scored = candidates.crossJoin(broadcast(queries))
      .filter(if (excludeSelf) col("query_id") =!= col("cand_id") else lit(true))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force top-k via the bounded-heap aggregate
    * ([[graft.operators.TopKByScore]]) instead of a window sort: the
    * scoring pass stays identical, but per-query top-k happens as partial
    * aggregation (≤k rows per query survive each map task) — at 100 TB
    * the shuffle carries kilobytes instead of the full N×Q score matrix. */
  def bruteForceTopKAgg(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val scored = candidates.crossJoin(broadcast(queries))
      .filter(if (excludeSelf) col("query_id") =!= col("cand_id") else lit(true))
      .select(col("query_id"), col("cand_id").cast("long").as("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
    graft.operators.TopKByScore.topKPerGroup(
      scored, Seq("query_id"), "cos", "cand_id", k)
  }

  /** Hard-negative mining for contrastive training data: for each query
    * vector, the top-k most-similar candidates whose LABEL DIFFERS from
    * the query's — the "looks right, is wrong" examples a contrastive
    * or reranker objective learns most from (the in-batch-negatives
    * refinement of Karpukhin et al. 2020, DPR §3.2).
    *
    * Shape = [[bruteForceTopKAgg]] with the label-mismatch predicate
    * fused into the scoring pass: one broadcast of the query set, zero
    * shuffle for scoring, and the label filter runs BEFORE the bounded
    * heap so mismatched pairs never occupy heap slots. The only shuffle
    * is the partial-aggregated heap merge (≤ k rows per query per map
    * task) — at 100 TB the wire carries kilobytes, not the Q×N score
    * matrix.
    *
    * Inputs: `queries(query_id, query_vec, query_label)`,
    * `candidates(cand_id, cand_vec, cand_label)`.
    * Output: `(query_id, query_label, cand_id, cos, rank)`, rank 1..k by
    * cosine desc with id tiebreak. */
  def hardNegatives(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int): DataFrame = {
    val scored = candidates.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("cand_id") &&
        col("cand_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("cand_id").cast("long").as("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
    graft.operators.TopKByScore.topKPerGroup(
      scored, Seq("query_id", "query_label"), "cos", "cand_id", k)
  }

  /** Centroid-margin mislabel/outlier scoring over a labeled embedding
    * corpus — the prototype-distance pruning metric of Sorscher et al.
    * 2022 ("Beyond neural scaling laws") extended with the confusion
    * margin: for each vector, cosine to its OWN label's centroid minus
    * the best cosine to any OTHER label's centroid. A negative margin
    * means the vector sits closer to another class's prototype — the
    * classic signature of a mislabeled or boundary example worth pruning
    * (or re-labeling) before training.
    *
    * Output: `(idCol, labelCol, cos_own, cos_other, margin)` — one row
    * per input vector, defined when the corpus has ≥ 2 labels.
    *
    * Float parity (the q45/q63 discipline): centroid components are
    * DECIMAL-exact sums cast to double (order-independent mean); every
    * double product (v·c, v², c²) is cast to DECIMAL(27,12) before its
    * sum, so dots and norms are exact and schedule-independent; the
    * final divisions/sqrt are deterministic IEEE ops both engines share.
    *
    * Scale shape: the exploded `(id, dim, v)` frame is scanned twice —
    * once for per-id norms (map-side partial agg collapses the 64
    * dims-per-id before the exchange) and once for the scoring pass,
    * which BROADCASTS the labels×dims centroid frame onto the scan and
    * partial-aggregates straight to N×L dot products. Nothing ever
    * shuffles raw vector rows; the only exchanges carry per-id or
    * per-(id,label) aggregates. L (label count) is assumed
    * dimension-table-sized — prototypes, not clusters. */
  def centroidMargins(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    // spread AFTER the explode: the N×L decimal dot-product work is
    // scan-fused and `ex` has three consumers (cent/vnorm/dots) — with
    // the explode upstream of the (reused) exchange it is computed once
    // and every consumer reads the exchange in parallel. On a
    // single-row-group input the unspread plan ran the 4.3 s dot-product
    // stage as ONE task (guide §2.5 / OPTIMIZATION_r17.md q128); the
    // guard makes this the identity on cluster-scale pre-split inputs.
    val ex = graft.Tables.spread(
      emb.select(col(idCol).as("id"), col(labelCol).as("label"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim0", "v"))))
      .select(col("id"), col("label"), (col("dim0") + 1).as("dim"), col("v"))
    val cent = ex.groupBy(col("label").as("clabel"), col("dim"))
      .agg((sum(col("v").cast(dec)).cast("double") / count(lit(1))).as("c"))
    val cnorm = cent.groupBy("clabel")
      .agg(sum((col("c") * col("c")).cast(dec)).cast("double").as("cn2"))
    val vnorm = ex.groupBy("id")
      .agg(sum((col("v") * col("v")).cast(dec)).cast("double").as("vn2"))
    val dots = ex.join(broadcast(cent), Seq("dim"))
      .groupBy("id", "label", "clabel")
      .agg(sum((col("v") * col("c")).cast(dec)).cast("double").as("dp"))
    val cosAll = dots.join(vnorm, Seq("id")).join(broadcast(cnorm), Seq("clabel"))
      .select(col("id"), col("label"), col("clabel"),
        (col("dp") / (sqrt(col("vn2")) * sqrt(col("cn2")))).as("cos"))
    val own = cosAll.filter(col("clabel") === col("label"))
      .select(col("id"), col("label"), col("cos").as("cos_own"))
    val oth = cosAll.filter(col("clabel") =!= col("label"))
      .groupBy("id").agg(max(col("cos")).as("cos_other"))
    own.join(oth, Seq("id"))
      .select(col("id").as(idCol), col("label").as(labelCol),
        col("cos_own"), col("cos_other"),
        (col("cos_own") - col("cos_other")).as("margin"))
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed) as literal
    * arrays, generated at plan time on the driver. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH bucket id: bit i is the
    * sign of `v · plane_i`. Vectors in the same bucket are likely cosine
    * neighbors. Uses the codegen'd `dot_product` expression — the
    * interpreted `aggregate`/`zip_with` fold ran one boxed lambda per
    * element, which dominated bucket assignment once plane counts grew
    * (32 planes × dim 64 per row in [[nearDupPairs]]); both forms are
    * bit-identical left-to-right sums, so sign decisions are unchanged. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(graft.functions.VectorFunctions.dotFast(v, planeCol) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: score only candidates sharing the query's bucket.
    * At 100 TB this turns the O(Q×N) scoring pass into O(Q×N/2^planes)
    * with a plain equi-join shuffle on the bucket id. Recall < 1 by
    * construction; raise `numPlanes` groups for multi-probe if needed. */
  def lshTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      numPlanes: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val qb = queries.withColumn("bucket", lshBucket(col("query_vec"), planes))
    val cb = candidates.withColumn("bucket", lshBucket(col("cand_vec"), planes))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multi-probe LSH ANN: each query probes its own bucket PLUS every
    * bucket at Hamming distance 1 (one flipped hyperplane sign) —
    * `numPlanes + 1` probes — recovering most of the recall a single
    * probe loses to near-boundary vectors while still scoring only
    * `(numPlanes+1)/2^numPlanes` of the corpus. The probe fan-out is an
    * `explode` on the (small, broadcast) query side; each candidate
    * still has exactly ONE bucket, so a (query, candidate) pair joins at
    * most once and no distinct is needed. Raise `numPlanes` for
    * selectivity without the recall cliff of single-probe. */
  def lshTopKMultiProbe(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      numPlanes: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val probeBuckets = {
      val b0 = lshBucket(col("query_vec"), planes)
      array((b0 +: (0 until numPlanes).map(i => b0.bitwiseXOR(lit(1L << i)))): _*)
    }
    val qb = queries.withColumn("bucket", explode(probeBuckets))
    val cb = candidates.withColumn("bucket", lshBucket(col("cand_vec"), planes))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Banded (multi-table) LSH ANN — OR-amplification for top-k retrieval,
    * the same recall mechanism [[nearDupPairs]] uses for pair finding:
    * `numBands` independent tables of `bandPlanes` hyperplanes each; a
    * candidate is scored iff it shares a bucket with the query in ANY
    * band, so recall is `1 − (1 − p^bandPlanes)^numBands` per neighbor
    * (`p = 1 − θ/π`) — tunable to any floor by adding bands, where
    * single-table [[lshTopK]] recall `p^numPlanes` decays geometrically.
    * RecallSpec checks both against this formula.
    *
    * Scale shape (mirrors nearDupPairs): ids only through the band
    * shuffle, `distinct` candidate pairs BEFORE vector fetch + verify,
    * queries broadcast on both the band join and the scoring join. */
  def lshTopKBanded(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      bandPlanes: Int = 4,
      numBands: Int = 8,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(bandPlanes * numBands, dim, seed)
    // same constant-code-size banding as nearDupPairsFixed (see there)
    def buckets(v: Column): Column = graft.functions.VectorFunctions
      .lshBandBuckets(v, planes.flatten, numBands, bandPlanes)
    val qb = queries.select(col("query_id"),
      posexplode(buckets(col("query_vec"))).as(Seq("band", "bucket")))
    val c = candidates.repartition(col("cand_id"))
    val cb = c.select(col("cand_id"),
      posexplode(buckets(col("cand_vec"))).as(Seq("band", "bucket")))
    val cand = cb.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val scored = cand
      .join(broadcast(queries), Seq("query_id"))
      .join(c, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Default banding reference point: 4 planes × 8 bands, validated at a
    * 2000-vector corpus (SCALE.md "ANN retrieval quality": pair recall
    * 0.770, matching the collision model to ±0.007). The adaptive rules
    * below extrapolate from exactly this point. */
  val DefaultBasePlanes = 4
  val DefaultBaseBands = 8
  val DefaultBaseCorpus = 2000L

  /** Goemans–Williamson hyperplane collision probability for a pair at
    * the given cosine: `p = 1 − acos(cos)/π`. */
  def collisionProb(cosine: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi

  /** Corpus-size-adaptive plane count — the 16× probe finding
    * productized (SCALE.md "pair-operator scaling"): at FIXED bandPlanes
    * the per-band candidate volume is ~N²/2^planes, which disk-exhausted
    * the probe at 16× (tens of billions of band pairs through one
    * shuffle). Adding one plane per corpus doubling
    * (`planes = base + log₂(n/n₀)`, clamped below at the base) holds
    * per-bucket occupancy `n/2^planes` — and thus candidate join volume
    * PER ROW — constant at any corpus size. */
  def adaptiveBandPlanes(
      corpusCount: Long,
      basePlanes: Int = DefaultBasePlanes,
      baseCorpus: Long = DefaultBaseCorpus): Int = {
    require(corpusCount >= 0, s"corpusCount must be >= 0, got $corpusCount")
    val doublings =
      if (corpusCount <= baseCorpus) 0
      else (math.log(corpusCount.toDouble / baseCorpus) / math.log(2.0)).round.toInt
    basePlanes + doublings
  }

  /** Bands to restore the base configuration's recall at a higher plane
    * count: matching `1−(1−p^b)^L` across `(b₀,L₀) → (b,L)` for a pair
    * at the operator's own threshold gives
    * `L = L₀ · ln(1−p^b₀) / ln(1−p^b)` (≈ `L₀/p^Δ`). Each added plane
    * costs ~`1/p` more bands, so total candidate volume grows as
    * `n·(n/n₀)^log₂(1/p)` — sub-quadratic for any p > 0.5 (thresholds
    * above cos ≈ 0; at production near-dup thresholds ~0.9, p ≈ 0.86
    * and four extra planes cost only ~2.3× bands). Recall for pairs
    * ABOVE the threshold is strictly better than at the base config
    * (their p is higher, so the band count over-provisions them). */
  def adaptiveNumBands(
      bandPlanes: Int,
      threshold: Double,
      basePlanes: Int = DefaultBasePlanes,
      baseBands: Int = DefaultBaseBands): Int = {
    // p = 1 exactly (threshold >= 1.0: identical-vector "near"-dup)
    // degenerates the S-curve match: both log1p terms are -Inf, the
    // ratio NaN, and ceil(NaN).toInt would silently yield numBands = 0
    // — an EMPTY bucket column set, i.e. zero candidates ever. One band
    // of any plane count has recall 1 for p = 1, so baseBands is exact.
    require(threshold <= 1.0, s"cosine threshold must be <= 1, got $threshold")
    if (bandPlanes <= basePlanes || collisionProb(threshold) >= 1.0) baseBands
    else {
      val p = collisionProb(threshold)
      val base = math.log1p(-math.pow(p, basePlanes))
      val per = math.log1p(-math.pow(p, bandPlanes))
      math.ceil(baseBands * base / per).toInt
    }
  }

  /** Corpus sizes (in vectors) up to which the verification joins
    * BROADCAST the vector frame instead of shuffling the candidate
    * stream: `n · dim · 8` bytes ≤ 512 MB of raw vector payload — a
    * budget every production executor holds (Spark's hard broadcast cap
    * is 8 GB; the auto threshold of 10 MB would leave a
    * 17 MB/32 k-vector corpus shuffling ~10⁸ candidate rows through two
    * sort-merge exchanges). The budget was 64 MB until the 256× probe
    * MEASURED the fallback regime: at 512 k vectors the adaptive t=0.4
    * config generates ~10¹⁰ candidates, and sort-merge verification
    * moves them twice WITH their 512-byte vector payloads — terabytes
    * of shuffle that exhausted an 80 GB local disk, where the broadcast
    * path streams the same candidates through an exchange-free
    * hash-join + codegen dot. Past this budget at LOW thresholds the
    * answer is not a bigger shuffle but [[semanticDedup]]
    * (cluster-scoped pairs, Σn_c² linear); at production thresholds
    * (≥0.9) band counts stay small enough that the shuffle fallback is
    * merely slow, not fatal.
    *
    * A BroadcastExchange collects the relation THROUGH THE DRIVER, so
    * the budget is clamped at runtime against the active session's
    * `spark.driver.maxResultSize` (half of it — UnsafeRow overhead
    * roughly doubles the raw payload): a stock-configured cluster
    * (1 GB maxResultSize) keeps the full 512 MB budget, while a
    * tighter driver shrinks it instead of failing the collect. */
  def broadcastFetchMaxVectors(dim: Int): Long =
    broadcastFetchBudgetBytes() / (dim * 8L)

  private[graft] def broadcastFetchBudgetBytes(): Long = {
    val default = 512L << 20
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          s.conf.get("spark.driver.maxResultSize", "1g"))
        // maxResultSize = 0 means unlimited — keep the default budget
        if (maxResult <= 0) default else math.min(default, maxResult / 2)
      case None => default
    }
  }

  /** Embedding-cosine NEAR-DUPLICATE pairs — the embedding member of the
    * dedup family (exact / MinHash / SimHash / Jaccard / this): all pairs
    * with `cosine >= threshold`, found via banded multi-table hyperplane
    * LSH (OR-amplification). Each of `numBands` bands hashes a vector
    * with its own `bandPlanes` hyperplanes; a pair is a candidate iff it
    * shares a bucket in ANY band, so recall is
    * `1 - (1 - p^bandPlanes)^numBands` with `p = 1 - acos(cos)/π` —
    * tune bands up for recall, planes up for selectivity. Candidate
    * band collisions pipeline STRAIGHT into the cosine verification
    * (verify-first); only the sparse passing pairs are deduped — see
    * [[nearDupPairsFixed]] for why and SCALE.md "candidate-dedup order"
    * for the measured comparison with deduping candidates first.
    *
    * **Banding defaults are corpus-size-adaptive**: with no explicit
    * `bandPlanes`/`numBands` the plane count follows
    * [[adaptiveBandPlanes]] (one extra plane per corpus doubling past
    * 2000 vectors — constant per-bucket occupancy; the fixed-plane
    * default this replaces was measured disk-exhausting at 16×,
    * SCALE.md "pair-operator scaling") and the band count follows
    * [[adaptiveNumBands]] (restores the base config's recall at the
    * operator's threshold). Deriving needs the corpus size — pass
    * `corpusCount` when known to skip the counting job (at warehouse
    * scale a count over the id column is metadata-cheap anyway).
    *
    * Scale shape: one explode (`numBands` rows per vector, ids only — no
    * vector payload through the band shuffle), an equi-join on
    * `(band, bucket)`, then two broadcast-or-shuffle hash joins to
    * fetch the two vectors for the codegen'd cosine check, and a
    * `dropDuplicates` over the passing id pairs.
    * Nothing materializes the all-pairs product; per-bucket join fan-out
    * is the standard LSH cost, bounded by bucket selectivity
    * (`2^bandPlanes` buckets per band). */
  def nearDupPairs(
      vectors: DataFrame, // (id, vec: array<double>)
      threshold: Double,
      bandPlanes: Option[Int] = None,
      numBands: Option[Int] = None,
      dim: Int = 64,
      seed: Long = 42L,
      corpusCount: Option[Long] = None): DataFrame = {
    val n = corpusCount.getOrElse(vectors.count())
    val bp = bandPlanes.getOrElse(adaptiveBandPlanes(n))
    val nb = numBands.getOrElse(adaptiveNumBands(bp, threshold))
    nearDupPairsFixed(vectors, threshold, bp, nb, dim, seed,
      broadcastFetch = n <= broadcastFetchMaxVectors(dim))
  }

  /** [[nearDupPairs]] at an EXPLICIT banding configuration — the
    * adaptive entry point delegates here after deriving `(planes,
    * bands)`. Calling this directly with a fixed plane count at growing
    * corpus sizes reproduces the measured 16× disk-exhaustion; prefer
    * the adaptive wrapper.
    *
    * Candidate duplicates (a pair colliding in several bands) are
    * collapsed AFTER verification: band collisions pipeline straight
    * into the vector-fetch joins and the codegen cosine, and only pairs
    * that PASS the threshold reach a `dropDuplicates`, so the candidate
    * stream itself never shuffles. Random collisions land in ~1 band
    * (duplication ≈ 1 + (bands−1)p^planes), so the redundant-cosine
    * cost is a few percent while a full candidate-volume exchange
    * disappears. Deduping candidates first was measured at 1×, 4× and
    * 16× and lost at each (SCALE.md "candidate-dedup order").
    *
    * `broadcastFetch` hints the two vector-fetch joins to broadcast the
    * vector frame (the adaptive wrapper sets it from the corpus size,
    * [[broadcastFetchMaxVectors]]): the candidate stream — orders of
    * magnitude more rows than the corpus — then never shuffles at all,
    * and the whole pipeline runs scan → hash-join → cosine in one
    * stage. At corpus sizes past the broadcast budget the flag turns
    * itself off and the joins fall back to shuffles, which is correct:
    * there the candidate/corpus row ratio is what LSH selectivity
    * controls, not the join strategy. */
  def nearDupPairsFixed(
      vectors: DataFrame,
      threshold: Double,
      bandPlanes: Int,
      numBands: Int,
      dim: Int = 64,
      seed: Long = 42L,
      broadcastFetch: Boolean = false): DataFrame = {
    val planes = hyperplanes(bandPlanes * numBands, dim, seed)
    // ONE compiled loop for all bands (lsh_band_buckets): the per-band
    // column formulation inlines a generated dot PER PLANE and crossed
    // the JVM's 64 KB generated-method limit at the adaptive config of a
    // 512 k corpus (~350 bands × 12 planes), killing the stage — the
    // flat-plane expression is constant code size at any band count and
    // bit-identical (SimilaritySpec pins it against lshBucket).
    val buckets = graft.functions.VectorFunctions.lshBandBuckets(
      col("vec"), planes.flatten, numBands, bandPlanes)
    // repartition(id) so the plane dots per vector run fanned across
    // shuffle partitions, not inside a near-serial scan stage (small
    // file counts = few input splits); the verification joins reuse the
    // same exchange
    val v = vectors.repartition(col("id"))
    val banded = v
      .select(col("id"), posexplode(buckets).as(Seq("band", "bucket")))
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    def fetch(df: DataFrame): DataFrame = if (broadcastFetch) broadcast(df) else df
    // Norms are hoisted out of the per-pair loop: `cosine_sim` fuses
    // dot+norms in one pass per CANDIDATE, but the norms only depend on
    // the row, so computing `sqrt(v·v)` once per corpus row divides the
    // verify arithmetic by ~3 at candidate volumes orders of magnitude
    // above the corpus size. Bit-identical to `cosine_sim`: `dot_product`
    // accumulates x*x in the same left-to-right order as cosine_sim's
    // norm terms, `sqrt` is correctly rounded (IEEE 754), and the final
    // `dot / (nrm_a * nrm_b)` multiplies the two sqrts in the same order
    // — SimilaritySpec pins the equality on every sf0.001 pair.
    val dot = graft.functions.VectorFunctions.dotFast _
    val vn = v.select(col("id"), col("vec"),
      sqrt(dot(col("vec"), col("vec"))).as("nrm"))
    cand
      .join(fetch(vn.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na"))), Seq("id_a"))
      .join(fetch(vn.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** IVF (inverted file) ANN: deterministic "training" picks the first
    * `nlist` candidate vectors (by id) as centroids; every vector is
    * assigned to its nearest centroid (one broadcast pass); a query scores
    * only the `nprobe` nearest centroid lists. The candidate corpus is
    * therefore pre-partitioned by centroid — at scale, write it bucketed
    * by `centroid` so probes become partition-pruned scans. */
  def ivfIndex(candidates: DataFrame, nlist: Int,
      trainIters: Int = 0): (DataFrame, DataFrame) = {
    // trainIters > 0 refines the first-nlist seed with Lloyd iterations
    // ([[kmeansFit]]) — at 100 TB the seed vectors are arbitrary crawl
    // order and trained centroids balance the inverted lists, which is
    // what bounds per-probe scan cost (SCALE.md records the recall
    // side). 0 keeps the deterministic untrained seed (q31's oracle).
    val centroids =
      if (trainIters > 0)
        kmeansFit(candidates.select(col("cand_id").as("id"), col("cand_vec").as("vec")),
            nlist, trainIters)
          .select(col("cid").cast("long").as("centroid_id"), col("centroid").as("centroid_vec"))
      else candidates.orderBy(col("cand_id")).limit(nlist)
        .select(col("cand_id").as("centroid_id"), col("cand_vec").as("centroid_vec"))
    // Nearest-centroid assignment as a partial-aggregatable max_by: the
    // N×nlist scored rows collapse map-side to one row per cand_id, so the
    // shuffle carries N rows instead of N×nlist (the window-per-cand_id
    // form shuffled the whole scored product). Tie-break matches
    // `ORDER BY cdist DESC, centroid_id`: maximize (cdist, -centroid_id).
    (centroids, assignToCentroids(candidates, centroids))
  }

  /** Nearest-centroid assignment against PINNED centroids — the
    * [[ivfIndex]] assignment stage factored for reuse by
    * [[ivfMaintainVersioned]]. Max_by partial agg: the N×nlist scored
    * rows collapse map-side, the shuffle carries N rows. */
  def assignToCentroids(candidates: DataFrame, centroids: DataFrame): DataFrame =
    candidates.crossJoin(broadcast(centroids))
      .select(col("cand_id"), col("cand_vec"), col("centroid_id"),
        graft.functions.VectorFunctions.cosineFast(col("cand_vec"), col("centroid_vec")).as("cdist"))
      .groupBy("cand_id", "cand_vec")
      .agg(max_by(col("centroid_id"), struct(col("cdist"), (-col("centroid_id")).as("nid"))).as("centroid"))

  /** Distributed spherical k-means (Lloyd iterations, cosine
    * assignment): the real "training" step [[ivfIndex]]'s
    * first-`nlist`-vectors shortcut stands in for, and the clustering
    * primitive semantic-dedup pipelines (SemDeDup-style
    * cluster-then-dedup) start from. Deterministic end to end:
    * initial centroids are the first `k` vectors by id; assignment
    * maximizes cosine with ties to the LOWER centroid id; the centroid
    * update is the per-dimension mean computed over `DECIMAL(27,12)` —
    * exact, order-independent arithmetic, so the result is bit-identical
    * under any partitioning AND replayable in any engine (the q68 oracle
    * macro-expands the same iterations in DuckDB). Note cosine is
    * scale-invariant in the centroid, so the plain mean IS the spherical
    * k-means update — no normalization step is needed for assignment
    * equivalence. A cluster that loses all members drops out (both
    * engines agree); callers wanting fixed k re-seed.
    *
    * Scale shape: the MLlib pattern — centroids live on the driver
    * (`k · dim` doubles, bounded by the caller's `k`) and broadcast each
    * iteration; per-iteration cost is one scan with a broadcast
    * cross-score collapsed map-side by the `max_by` partial agg (the
    * shuffle carries N assignment rows, never N·k scores) plus a
    * (cid,dim)-keyed mean over k·dim cells. Nothing iterates on the
    * driver but the k-row centroid table. Returns `(cid, centroid)`. */
  def kmeansFit(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = vectors.sparkSession
    import spark.implicits._
    var centroids: Seq[(Int, Seq[Double])] =
      vectors.orderBy("id").limit(k).select("vec").collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }.toSeq
    for (_ <- 0 until iters) {
      val cdf = centroids.toDF("cid", "cvec")
      centroids = assignCarrying(vectors, cdf)
        .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(27, 12)))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cid"), transform(col("dm"), s => s("m")).as("cvec"))
        .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    }
    centroids.toDF("cid", "centroid")
  }

  /** Nearest-centroid assignment under cosine, ties to the lower
    * centroid id — one broadcast pass, map-side `max_by` collapse (same
    * shape as [[ivfIndex]]'s assignment). Input `(id, vec)` ×
    * `(cid, cvec)` → `(id, cid)`. */
  def kmeansAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignCarrying(vectors, centroids).select("id", "cid")

  /** [[kmeansAssign]] keeping `vec` in the output `(id, vec, cid)`:
    * carrying the vector through the `max_by` group key means callers
    * that need it next (the centroid update, the within-cluster pair
    * join) pay no join back to the corpus — one id-keyed shuffle total. */
  private def assignCarrying(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        graft.functions.VectorFunctions.cosineFast(col("vec"), col("cvec")).as("sim"))
      .groupBy("id", "vec")
      .agg(max_by(col("cid"), struct(col("sim"), (-col("cid")).as("nid"))).as("cid"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * corpus, then deduplicate WITHIN clusters only — the clustering
    * bounds pair generation so no global pair mining happens. Survivor
    * rule is the deterministic greedy form: every pair in a cluster with
    * `cosine >= threshold` marks the HIGHER id a duplicate; survivors
    * are the unmarked rows. Returns `(id, cid)` survivors.
    *
    * Scale shape: [[kmeansFit]] + one assignment pass, then a self-join
    * keyed by cluster id. Within-cluster pair cost is `Σ n_c²`, which is
    * why SemDeDup chooses `k ∝ N` (constant expected cluster size —
    * e.g. N/5000): that makes total pair volume LINEAR in the corpus
    * and gives the cid-keyed shuffle N/5000 keys, plenty of
    * parallelism. A tiny k on a huge corpus would both blow up `n_c²`
    * and starve the join of shuffle keys — pick k from the corpus
    * count, same discipline as [[adaptiveBandPlanes]]. */
  def semanticDedup(vectors: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val cents = kmeansFit(vectors, k, iters)
    val assigned = assignCarrying(vectors,
      cents.select(col("cid"), col("centroid").as("cvec")))
    // Per-ROW hoisted norm: the within-cluster pair filter evaluates a
    // cosine per pair, and `cosine_sim` recomputes BOTH operand norms
    // inside every pair evaluation — at Σ n_c² pair volume that is 2/3
    // of the stage's flops spent re-deriving per-row constants. Hoist
    // sqrt(Σx²) once per row and evaluate dot/(nrm_a·nrm_b) per pair:
    // bit-identical doubles, because cosine_sim's three accumulators are
    // independent left-to-right sums (dot_product replays the dot term's
    // accumulation exactly, sqrt/multiply/divide happen in the same
    // order on the same values — VectorExpressions scaladoc; the q69
    // oracle stays green unchanged).
    val withNorm = assigned.withColumn("nrm",
      sqrt(graft.functions.VectorFunctions.dotFast(col("vec"), col("vec"))))
    val pairs = withNorm.select(col("cid"), col("id").as("id_a"),
        col("vec").as("va"), col("nrm").as("nrm_a"))
      .join(withNorm.select(col("cid"), col("id").as("id_b"),
        col("vec").as("vb"), col("nrm").as("nrm_b")), Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.VectorFunctions.dotFast(col("va"), col("vb"))
        / (col("nrm_a") * col("nrm_b")) >= threshold)
    val dropped = pairs.select(col("id_b").as("id")).distinct()
    assigned.select("id", "cid")
      .join(dropped, Seq("id"), "left_anti")
  }

  def ivfTopK(
      queries: DataFrame,
      centroids: DataFrame,
      assigned: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("centroid_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("cdist", graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("centroid_vec")))
      .withColumn("r", row_number().over(wq)).filter(col("r") <= nprobe)
      .select(col("query_id"), col("query_vec"), col("centroid_id").as("centroid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    assigned.join(broadcast(probes), Seq("centroid"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[ivfTopK]] against a [[writeIvfLayoutVersioned]] root: identical
    * output (SimilaritySpec pins it), but the corpus side is a
    * partition-PRUNED scan — every inverted list is its own
    * `centroid=c` directory, and the probed centroid ids become literal
    * partition filters, so IO is `nprobe/nlist` of the corpus instead
    * of all of it. The probed-id collect is bounded by `nlist` (the
    * union of every query's probes), never by the corpus or query
    * count: at 100 TB the layout is the difference between an ANN probe
    * that reads 4/16ths of the embedding store and one that scans all
    * of it to discard 75% after the fact. */
  def ivfTopKPruned(
      spark: SparkSession,
      root: String,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("centroid_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("cdist", graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("centroid_vec")))
      .withColumn("r", row_number().over(wq)).filter(col("r") <= nprobe)
      .select(col("query_id"), col("query_vec"), col("centroid_id").as("centroid"))
    val probedIds = probes.select("centroid").distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned = readIvfLayoutVersioned(spark, root)
      .filter(col("centroid").isin(probedIds: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    pruned.join(broadcast(probes), Seq("centroid"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosineFast(col("query_vec"), col("cand_vec")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
  /** Matryoshka truncation fidelity (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): how much retrieval quality survives when
    * embeddings are truncated to prefix widths — the measurement that
    * decides whether a 100 TB vector store can serve the 8x-cheaper
    * prefix index. Per (probe, width): the top-1 neighbor under the
    * truncated cosine, whether it agrees with the full-width top-1, and
    * the prefix energy fraction ||v[1..w]||^2 / ||v||^2 (how much of the
    * vector's mass the prefix carries).
    *
    * Scale shape: each width is the [[bruteForceTopK]] broadcast shape
    * over the PROBE set (bounded), never probe-corpus x probe-corpus; a
    * production variant swaps in [[ivfTopKPruned]] per width unchanged.
    * Energy uses the same sequential double dot product as the cosine
    * (dotFast == DuckDB list_inner_product, the q126-proven pairing), so
    * every emitted double replays bit-for-bit.
    *
    * CONTRACT (ADVICE r15): `widths` MUST include the true embedding
    * dimension — `widths.max` is taken as the full-width baseline that
    * `top1_full`/`agree` measure against. A widths list that omits the
    * real dimension would silently score agreement against a truncated
    * "baseline". This is a contract rather than a derivation because
    * sniffing the dimension from data would cost an eager job per call
    * and still misfire on ragged input; callers know their index
    * dimension. */
  def matryoshkaFidelity(
      queries: DataFrame, // (query_id, query_vec: array<double>)
      candidates: DataFrame, // (cand_id, cand_vec: array<double>)
      widths: Seq[Int]): DataFrame = {
    require(widths.nonEmpty, "need at least one width")
    val full = widths.max
    val perWidth = widths.map { wd =>
      val q = queries.select(col("query_id"),
        slice(col("query_vec"), 1, wd).as("query_vec"))
      val c = candidates.select(col("cand_id"),
        slice(col("cand_vec"), 1, wd).as("cand_vec"))
      bruteForceTopK(q, c, k = 1)
        .select(lit(wd).as("width"), col("query_id"), col("cand_id").as("top1"))
    }.reduce(_ unionAll _)
    val fullTop = perWidth.filter(col("width") === full)
      .select(col("query_id"), col("top1").as("top1_full"))
    val dot = graft.functions.VectorFunctions.dotFast _
    perWidth
      .join(broadcast(fullTop), Seq("query_id"))
      .join(queries.select(col("query_id"), col("query_vec")), Seq("query_id"))
      .select(col("width"), col("query_id"), col("top1"), col("top1_full"),
        (col("top1") === col("top1_full")).cast("int").as("agree"),
        round(dot(slice(col("query_vec"), lit(1), col("width")),
                  slice(col("query_vec"), lit(1), col("width"))) /
              dot(col("query_vec"), col("query_vec")), 6).as("energy"))
  }
  /** [[ivfMaintainVersioned]]'s broadcast gate: delta-id sets at or
    * below this row count broadcast; larger ones shuffle-join. */
  val DeltaBroadcastMax: Long = 1000000L

  /** The IVF serving layout: an [[ivfIndex]] assignment materialized as
    * centroid-partitioned parquet under a versioned commit protocol
    * (VERDICT r15 #7). Every maintain publishes an IMMUTABLE new version
    * and swaps one pointer, so a concurrent reader never observes a
    * half-overwritten partition and a crash mid-maintain leaves the
    * current version untouched.
    *
    * Layout under `root`:
    *  - `v<N>/centroid=c/…`      — version N's own partition rewrites
    *    (version 1 is the full initial layout; later versions hold ONLY
    *    the partitions their maintain touched);
    *  - `manifest-v<N>.json`     — centroid → version whose directory
    *    serves that inverted list at version N (immutable once written);
    *  - `CURRENT`                — the live version number; updated by
    *    writing a temp file and overwrite-renaming it into place
    *    (Hadoop FileContext.rename(OVERWRITE) — atomic on HDFS-semantics
    *    stores; S3 needs a conditional-put instead, see the metadata-IO
    *    note below), the one
    *    mutation in the protocol.
    *
    * Readers ([[readIvfLayoutVersioned]]) resolve CURRENT → manifest →
    * per-version partition-pruned scans; a reader that resolved version
    * N keeps reading N's immutable directories however many maintains
    * land after it. Old versions are retained — garbage collection
    * (delete `v<M>` once no manifest ≥ the oldest live reader references
    * it) is a deployment policy, not engine logic. At 100 TB the
    * manifest is nlist entries — kilobytes — and each maintain still
    * writes only the affected lists; the full-rebuild cost is never
    * paid. */
  def writeIvfLayoutVersioned(assigned: DataFrame, root: String): Unit = {
    val fs = fsFor(root)
    fs.mkdirs(hPath(root))
    // A (re)build OWNS the root: reset stale protocol state first —
    // leftover manifest-v<N>/v<N> from a previous generation would both
    // defeat the maintain path's create-without-overwrite single-writer
    // guard (a fresh v2 maintain colliding with a dead layout's v2) and
    // leave orphan versions a mis-restored CURRENT could resolve.
    fs.listStatus(hPath(root)).foreach { s =>
      val n = s.getPath.getName
      if (n == "CURRENT" || n.startsWith("manifest-v") ||
          (s.isDirectory && n.matches("v\\d+")))
        fs.delete(s.getPath, true)
    }
    assigned.write.mode("overwrite").partitionBy("centroid")
      .parquet(s"$root/v1")
    // list through the Hadoop FileSystem, NOT java.io.File: on an
    // HDFS/S3 root a java.io listing returns null and the manifest
    // would silently read as empty while data exists (ADVICE r16 #2)
    val lists = fs.listStatus(hPath(s"$root/v1"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid="))
      .map(_.getPath.getName.stripPrefix("centroid=").toLong)
    writeManifest(root, 1, lists.map(_ -> 1L).toMap, overwrite = false)
    swapCurrent(root, 1)
  }

  /** Resolve the CURRENT manifest and read the layout it describes —
    * one partition-pruned scan per version directory holding live
    * lists, unioned. Returns (cand_id, cand_vec, centroid). */
  def readIvfLayoutVersioned(spark: SparkSession, root: String): DataFrame = {
    val manifest = readManifest(root, currentVersion(root))
    if (manifest.isEmpty) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("cand_id", LongType),
          StructField("cand_vec", ArrayType(DoubleType)),
          StructField("centroid", LongType))))
    } else {
      manifest.groupBy(_._2).map { case (v, entries) =>
        spark.read.parquet(s"$root/v$v")
          .filter(col("centroid").isin(entries.keys.toSeq: _*))
          .select(col("cand_id"), col("cand_vec"),
            col("centroid").cast("long").as("centroid"))
      }.reduce(_ unionByName _)
    }
  }

  /** Incremental maintenance of a versioned layout under a corpus
    * delta — the index-freshness operation a continuously-ingesting
    * 100 TB store needs between retrains: `added` rows (new or
    * re-embedded — any id present in `added` replaces its old row) are
    * assigned against the PINNED centroids (delta × nlist compute, never
    * corpus × nlist), `removedIds` rows leave, and ONLY the affected
    * inverted lists are rewritten, into version N+1; the manifest keeps
    * every untouched list on the version that already serves it, drops
    * the lists the delta emptied, and the CURRENT swap commits the
    * whole step. Returns the published version number.
    *
    * The affected-list collect is bounded by nlist. The delta-id set is
    * broadcast only below [[DeltaBroadcastMax]] rows — an
    * index-maintenance delta normally is — and joins as a shuffle
    * semi/anti join above it, so a caller handing a corpus-sized delta
    * degrades to a plan that still completes instead of one that
    * collects the corpus to the driver (ADVICE r14 / VERDICT r14 #6).
    *
    * Invariant (spec-pinned, oracle-checked by q154): the maintained
    * layout is row-identical to a full-rebuild assignment of the new
    * corpus with the same centroids.
    *
    * SINGLE WRITER at a time (ADVICE r16 #4): concurrent READERS are
    * safe at any point, but two concurrent maintains would both read
    * CURRENT=N and race to publish N+1. The manifest write's
    * create-without-overwrite is the cheap guard — the second writer
    * throws on the existing `manifest-v<N+1>.json` BEFORE the CURRENT
    * swap, leaving its unreferenced v<N+1> data as garbage, never as a
    * readable mixed state. Serialize maintains externally (one
    * scheduler) and this guard never fires. */
  def ivfMaintainVersioned(
      spark: SparkSession,
      root: String,
      centroids: DataFrame,
      added: DataFrame,
      removedIds: DataFrame): Long = {
    val cur = currentVersion(root)
    val manifest = readManifest(root, cur)
    val old = readIvfLayoutVersioned(spark, root)
    val assignedNew = assignToCentroids(added, centroids)
    val deltaIds0 = added.select(col("cand_id"))
      .union(removedIds.select(col("cand_id"))).distinct()
      .localCheckpoint(true)
    val deltaIds =
      if (deltaIds0.count() <= DeltaBroadcastMax) broadcast(deltaIds0)
      else deltaIds0
    val affected = assignedNew.select(col("centroid"))
      .union(old.join(deltaIds, Seq("cand_id"), "left_semi").select(col("centroid")))
      .distinct().collect().map(_.getLong(0)).toSet
    val next = cur + 1
    val present: Set[Long] = if (affected.isEmpty) Set.empty else {
      val keptOld = old.filter(col("centroid").isin(affected.toSeq: _*))
        .join(deltaIds, Seq("cand_id"), "left_anti")
      val rewrite = keptOld.unionByName(
          assignedNew.select(col("cand_id"), col("cand_vec"), col("centroid")))
        .localCheckpoint(true)
      val p = rewrite.select(col("centroid")).distinct()
        .collect().map(_.getLong(0)).toSet
      if (p.nonEmpty)
        rewrite.write.mode("overwrite").partitionBy("centroid")
          .parquet(s"$root/v$next")
      p
    }
    val nextManifest = (manifest -- affected) ++ present.map(_ -> next)
    writeManifest(root, next, nextManifest, overwrite = false)
    swapCurrent(root, next) // the commit point — atomic, all-or-nothing
    next
  }

  // ---- versioned-layout metadata IO, all through the Hadoop FileSystem
  // API (VERDICT r16 #3 / ADVICE r16 #2): the parquet data writes above
  // already go through Hadoop, so CURRENT/manifest must too — java.nio
  // would silently target the driver's LOCAL disk under an hdfs:// root.
  // S3 caveat (documented, not handled): S3 has no atomic rename; the
  // CURRENT swap needs a conditional-put (if-match) or an external
  // pointer service there. HDFS-semantics stores get the atomic
  // overwrite-rename via FileContext below.

  private def hPath(s: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s)

  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsFor(root: String): org.apache.hadoop.fs.FileSystem =
    hPath(root).getFileSystem(hadoopConf())

  private def readSmallFile(root: String, name: String): String = {
    val fs = fsFor(root)
    val p = hPath(s"$root/$name")
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8")
  }

  private def writeSmallFile(root: String, name: String, body: String,
      overwrite: Boolean): Unit = {
    val fs = fsFor(root)
    val out = fs.create(hPath(s"$root/$name"), overwrite)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def currentVersion(root: String): Long = {
    require(fsFor(root).exists(hPath(s"$root/CURRENT")),
      s"no CURRENT pointer under $root")
    readSmallFile(root, "CURRENT").trim.toLong
  }

  private def swapCurrent(root: String, v: Long): Unit = {
    // temp write + overwrite-rename: FileContext.rename(OVERWRITE) is
    // the Hadoop API's atomic replace on HDFS-semantics filesystems
    // (FileSystem.rename cannot overwrite)
    writeSmallFile(root, s".CURRENT.tmp-$v", v.toString, overwrite = true)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      hPath(root).toUri, hadoopConf())
    fc.rename(hPath(s"$root/.CURRENT.tmp-$v"), hPath(s"$root/CURRENT"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def writeManifest(root: String, v: Long, m: Map[Long, Long],
      overwrite: Boolean): Unit = {
    val json = m.toSeq.sortBy(_._1)
      .map { case (c, ver) => s""""$c":$ver""" }.mkString("{", ",", "}")
    // overwrite = false on the MAINTAIN path: a maintained manifest
    // version is immutable once written, and failing on an existing
    // manifest-v<N+1>.json is the cheap single-writer guard — two
    // concurrent maintains both reading CURRENT=N cannot both publish
    // N+1 (ADVICE r16 #4); the loser throws here, before the CURRENT
    // swap, and its partial v<N+1> data directory is unreferenced
    // garbage, not corruption. The INITIAL layout build also passes
    // overwrite = false — it has already reset the root's protocol
    // state, so an existing manifest-v1 there means a concurrent
    // builder, which the guard should catch too.
    writeSmallFile(root, s"manifest-v$v.json", json, overwrite)
  }

  private def readManifest(root: String, v: Long): Map[Long, Long] = {
    val txt = readSmallFile(root, s"manifest-v$v.json").trim
    val body = txt.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Map.empty
    else body.split(",").map { kv =>
      val Array(k, ver) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toLong -> ver.trim.toLong
    }.toMap
  }
}
