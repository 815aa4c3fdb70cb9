package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference measurements for retrieval and dedup QUALITY, computed
  * against exact ground truth: recall@k of a top-k answer, pair recall
  * against the exact `cosine >= threshold` set, the exact shingle
  * overlap of every text pair, minhash and simhash capture per
  * similarity bin next to the collision models' predictions, and the
  * streaming near-dedup leakage against batch clusters. The oracle
  * queries (q30/q31/q51) verify the IMPLEMENTATION (DuckDB replays the
  * same algorithm); these functions measure what that algorithm
  * retrieves. RecallSpec runs them and pins floors so a regression
  * fails the build; the full measured tables are in SCALE.md.
  */
object RecallProbe {

  /** Mean per-query recall@k of `approx` vs `truth` (both in the top-k
    * output shape `query_id, cand_id, rank`). Queries with no approx
    * rows count as recall 0 (left join from the truth side). */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): Double = {
    val t = truth.select(col("query_id"), col("cand_id"))
    val a = approx.select(col("query_id"), col("cand_id"))
    val hits = t.join(a, Seq("query_id", "cand_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val perQuery = t.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select((coalesce(col("hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
    perQuery.agg(avg("recall")).head().getDouble(0)
  }

  /** Pair recall: |approx ∩ exact| / |exact| over (id_a, id_b) pairs. */
  def pairRecall(exact: DataFrame, approx: DataFrame): (Long, Long, Double) = {
    val e = exact.select("id_a", "id_b")
    val nExact = e.count()
    val nHit = e.join(approx.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi").count()
    (nHit, nExact, if (nExact == 0) 1.0 else nHit.toDouble / nExact)
  }

  /** Exact all-pairs `cosine >= threshold` ground truth — O(N²) scoring,
    * reference-only (N ≤ a few thousand here; never a production path). */
  def exactPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("id").as("id_a"), col("vec").as("va"))
    val b = vectors.select(col("id").as("id_b"), col("vec").as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosineFast(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Dequantized copy of a vector under the SAME per-vector affine
    * int8-style scheme as [[org.apache.spark.sql.graft.QuantizeMse]]
    * (min/max range, `levels` uniform steps, floor(x+0.5) rounding) —
    * what a store serving quantized embeddings would hand back.
    * Reference-only (interpreted HOF transform is fine off the hot
    * path); production stores the quantized bytes and this answers
    * whether retrieval survives that. */
  def dequantized(vec: Column, levels: Int): Column = {
    require(levels >= 1, s"dequantized: levels must be >= 1, got $levels")
    val mn = array_min(vec)
    val scale = (array_max(vec) - mn) / lit(levels.toDouble)
    when(scale === 0.0, vec).otherwise(
      transform(vec, x => mn +
        least(greatest(floor((x - mn) / scale + lit(0.5)), lit(0.0)),
          lit(levels.toDouble)) * scale))
  }

  /** Streaming near-dedup leakage vs the batch ground truth — the cost
    * of [[graft.streaming.StreamingDedup.nearDedupVerdicts]]'s
    * leader-only state, measured against exact ground truth: run q73's
    * exact streaming config (3-shingles, 16 perms × 4 bands, est-Jaccard
    * verify at 0.5) and the batch [[graft.dedup.Dedup.dedupByMinhash]]
    * with the IDENTICAL config over the same corpus, then score the
    * stream's survivor set against the batch clusters (the estimator is
    * shared, so every disagreement is structural: leader-only state +
    * arrival order, never minhash variance).
    *
    * Returns (removable, extras, admittedDupRate, lostClusters):
    * `removable` = Σ (size−1) over batch clusters — the duplicates a
    * perfect pass removes; `extras` = Σ max(0, survivors−1) — duplicates
    * the stream ADMITTED (its leakage); `admittedDupRate` =
    * extras/removable; `lostClusters` = clusters with ZERO streaming
    * survivors (over-suppression — content lost, should be 0: a
    * cluster's first arrival hits no leader of its own cluster). */
  def streamingDedupLeakage(spark: SparkSession, dir: String): (Long, Long, Double, Long) =
    leakageVsBatch(spark, dir,
      graft.streaming.StreamingDedup.runNear(spark, dir)
        .select(col("doc_id"), col("survives")))

  /** Same scoring for the CLOSED loop (q74, streaming + incrementalDedup
    * sweep): post-sweep leakage should be at-or-below the raw streaming
    * leakage, with cross-epoch admitted dups eliminated. */
  def sweptDedupLeakage(spark: SparkSession, dir: String): (Long, Long, Double, Long) =
    leakageVsBatch(spark, dir,
      graft.streaming.StreamingDedup.runNearSwept(spark, dir)
        .select(col("doc_id"), col("survives_final").as("survives")))

  private def leakageVsBatch(spark: SparkSession, dir: String,
      stream: org.apache.spark.sql.DataFrame): (Long, Long, Double, Long) = {
    val batch = graft.dedup.Dedup.dedupByMinhash(
      Tables.documents(spark, dir), "doc_id", "text",
      n = 3, numPerm = 16, bands = 4, threshold = 0.5)
      .select(col("id").as("doc_id"), col("cluster"))
    val per = batch.join(stream, Seq("doc_id"))
      .groupBy("cluster").agg(
        count(lit(1)).as("size"),
        sum(col("survives").cast("long")).as("n_surv"))
    val r = per.agg(
      coalesce(sum(when(col("size") > 1, col("size") - 1).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("size") > 1,
        greatest(col("n_surv") - 1, lit(0L))).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("n_surv") === 0, 1L).otherwise(0L)), lit(0L))).head()
    val (removable, extras, lost) = (r.getLong(0), r.getLong(1), r.getLong(2))
    (removable, extras,
      if (removable == 0) 0.0 else extras.toDouble / removable, lost)
  }

  /** Exact pairwise shingle overlap ground truth for the TEXT dedup
    * family: true n-gram Jaccard and set-cosine (`|A∩B|/√(|A||B|)` —
    * the similarity simhash's hyperplane model sees) for every pair
    * sharing at least one shingle. Inverted-index join, reference-only
    * at test corpus sizes; shingles with document frequency > `maxDf`
    * are dropped from the ground truth exactly like jaccardPairs'
    * stop-shingle guard (affects only near-zero-similarity pairs). */
  def exactTextPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Int = 200): DataFrame = {
    val posting = graft.dedup.Dedup.shinglePosting(docs, idCol, textCol, n)
      .dropDuplicates("id", "s")
    val guarded = posting.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("s")))
      .filter(col("df") <= maxDf).drop("df")
    val sizes = guarded.groupBy("id").agg(count(lit(1)).as("nsh"))
    val common = guarded.select(col("s"), col("id").as("id_a"))
      .join(guarded.select(col("s"), col("id").as("id_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common"))).as("jac"),
        (col("common").cast("double") / sqrt(col("na") * col("nb"))).as("cos"))
  }

  /** Measured vs predicted minhash-banding capture per true-Jaccard
    * bin — the LSH S-curve `P(candidate) = 1−(1−s^rows)^bands`,
    * measured through `minhashLshPairs` with the estimate filter OFF
    * (threshold 0) so pure banding capture is what's observed.
    * Returns (bin, nPairs, measured, predicted) for bins with pairs. */
  def minhashCaptureByBin(docs: DataFrame, truthPairs: DataFrame,
      bands: Int, rows: Int): Seq[(Int, Long, Double, Double)] = {
    val cand = graft.dedup.Dedup.minhashLshPairs(
      docs, "doc_id", "text", n = 3, numPerm = bands * rows,
      bands = bands, threshold = 0.0)
    truthPairs
      .join(cand.select(col("id_a"), col("id_b"), lit(1.0).as("hit")),
        Seq("id_a", "id_b"), "left")
      .withColumn("bin", floor(col("jac") * 10).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        avg(coalesce(col("hit"), lit(0.0))).as("measured"),
        avg(lit(1.0) - pow(lit(1.0) - pow(col("jac"), rows), bands)).as("predicted"))
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
  }

  /** Measured vs predicted simhash capture per set-cosine bin: the
    * blocked pair generator has pigeonhole-perfect recall at
    * `hamming <= h`, so capture is exactly `P(hamming <= h)` — and the
    * Charikar hyperplane model says hamming ~ Binomial(bits, θ/π) with
    * `θ = acos(cos)`. Matching measured to that CDF validates the
    * md5-derived bit votes as a faithful random-hyperplane family. */
  def simhashCaptureByBin(docs: DataFrame, truthPairs: DataFrame,
      bits: Int, maxHamming: Int): Seq[(Int, Long, Double, Double)] = {
    val sh = graft.dedup.Dedup.withSimhash(docs, "doc_id", "text", bits)
    val q = acos(greatest(lit(-1.0), least(lit(1.0), col("cos")))) / math.Pi
    def chooseD(n: Int, k: Int): Double =
      (0 until k).map(i => (n - i).toDouble / (i + 1)).product
    val binomCdf = (0 to maxHamming).map(i =>
      lit(chooseD(bits, i)) * pow(q, i) * pow(lit(1.0) - q, bits - i))
      .reduce(_ + _)
    truthPairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("cos"),
        (bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
          .cast("double").as("captured"),
        binomCdf.as("pred"))
      .withColumn("bin", floor(col("cos") * 10).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        avg(col("captured")).as("measured"), avg(col("pred")).as("predicted"))
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
  }
}
