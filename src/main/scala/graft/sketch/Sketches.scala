package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.dedup.Dedup

/** Mergeable cardinality sketches — the "count distinct URLs across
  * 100 TB without a distinct shuffle" primitive a corpus pipeline needs
  * for vocabulary sizing, dedup-rate monitoring, and per-shard novelty
  * accounting.
  *
  * HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007, "HyperLogLog:
  * the analysis of a near-optimal cardinality estimation algorithm")
  * re-expressed Spark-first:
  *
  *   - the hash/register/rank computation fuses into the scan (pure
  *     codegen'd builtins over [[Dedup.h60]]),
  *   - the ONLY shuffle is `groupBy(keys, reg_idx).max(rho)` — a
  *     map-side partial max collapses every partition to at most
  *     m = 2^p rows per key before the exchange, so the wire cost is
  *     O(keys × m) regardless of input size (vs `count(distinct)`
  *     shuffling every unique value),
  *   - sketches MERGE by pointwise register max (associative,
  *     commutative, idempotent), so per-shard / per-day register
  *     tables union into corpus-level cardinalities without touching
  *     the raw data again — the property exact distinct can never have.
  *
  * Determinism: the register rank is integer arithmetic on the
  * md5-derived [[Dedup.h60]] (bit length via `bin()`, identical in
  * Spark and DuckDB), and the estimator keeps the harmonic sum in
  * DECIMAL(38,0) at fixed-point scale 2^61 — exact and
  * association-free — so the one IEEE division that produces the
  * estimate sees bit-identical operands in both engines. The
  * linear-counting correction's `ln` passes through DECIMAL(27,12)
  * (the repo-wide cross-engine log discipline).
  */
object Sketches {

  /** 2^61 — the fixed-point scale of the harmonic sum. rho ∈ [1, 61]
    * so every term 2^(61-rho) is an exact BIGINT. */
  private val Scale61 = 2305843009213693952L

  /** α_m · m² · 2^61 for the raw HLL estimator, as the ONE double
    * literal both engines parse (α's mantissa × 2^(2p+61) is an exact
    * integer, so the decimal rendering is lossless). */
  def alphaNumerator(p: Int): Double = {
    val m = 1 << p
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    java.lang.Math.scalb(alpha, 2 * p + 61)
  }

  /** Exact decimal rendering of [[alphaNumerator]] for oracle SQL. */
  def alphaNumeratorLiteral(p: Int): String =
    new java.math.BigDecimal(alphaNumerator(p)).toPlainString

  /** Per-key HLL register table: `(keys..., reg_idx, max_rho)`.
    *
    * Register index = low p bits of h60; rank rho = leading-zero count
    * of the remaining (60-p)-bit word + 1, i.e. `(60-p+1) - bitlen`
    * with `bitlen = length(bin(rem))` (0 when rem = 0) — `bin` renders
    * without leading zeros in both engines. One exchange, ≤ m rows per
    * key after map-side partial max. */
  def hllRegisters(df: DataFrame, value: Column, keys: Seq[String], p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val h = Dedup.h60(value)
    val rem = shiftright(h, p)
    val bitlen = when(rem === 0L, lit(0)).otherwise(length(bin(rem)))
    val rho = (lit(60 - p + 1) - bitlen).cast("int")
    df.select(keys.map(col) :+ h.bitwiseAND(lit((m - 1).toLong)).as("reg_idx") :+ rho.as("rho"): _*)
      .groupBy(keys.map(col) :+ col("reg_idx"): _*)
      .agg(max("rho").as("max_rho"))
  }

  /** Merge register tables by dropping key columns: pointwise register
    * max. `regs` may be a union of independently-built sketches (shards,
    * days, languages) — merge never revisits the raw data. */
  def hllMerge(regs: DataFrame, keepKeys: Seq[String]): DataFrame =
    regs.groupBy(keepKeys.map(col) :+ col("reg_idx"): _*)
      .agg(max("max_rho").as("max_rho"))

  /** Cardinality estimate per key group from a register table:
    * `(keys..., n_reg, n_zero, est)`.
    *
    * Harmonic sum Z·2^61 = (m − n_reg)·2^61 + Σ 2^(61−max_rho) stays in
    * DECIMAL(38,0) (exact, order-free); raw estimate = α·m²·2^61 / that,
    * one IEEE division. Small-range correction (raw ≤ 2.5m with empty
    * registers) switches to linear counting m·ln(m/n_zero), the ln
    * rounded through DECIMAL(27,12) for cross-engine stability. */
  def hllEstimate(regs: DataFrame, keys: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val term = expr("shiftleft(CAST(1 AS BIGINT), 61 - max_rho)").cast(DecimalType(38, 0))
    val agg = regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_reg"), sum(term).as("z_present"))
    val nZero = (lit(m) - col("n_reg")).cast("long")
    val zInt = (nZero.cast(DecimalType(10, 0)) * lit(Scale61).cast(DecimalType(19, 0)))
      .cast(DecimalType(38, 0)) + col("z_present")
    val raw = lit(alphaNumerator(p)) / zInt.cast("double")
    val linear = (lit(m).cast(DecimalType(10, 0)) *
      log(lit(m.toDouble) / nZero.cast("double")).cast(DecimalType(27, 12))).cast("double")
    agg.select(
      keys.map(col) :+ col("n_reg") :+ nZero.as("n_zero") :+
        when(raw <= lit(2.5 * m) && nZero > 0, linear).otherwise(raw).as("est"): _*)
  }

  /** One-call convenience: distinct-count estimate of `value` per key
    * group, `(keys..., n_reg, n_zero, est)`. */
  def hllDistinct(df: DataFrame, value: Column, keys: Seq[String], p: Int): DataFrame =
    hllEstimate(hllRegisters(df, value, keys, p), keys, p)

  // --- Count-min sketch (Cormode & Muthukrishnan 2005, "An improved
  // --- data stream summary: the count-min sketch and its
  // --- applications"), distributed-native: the counter grid is built by
  // --- ONE fixed-cardinality aggregation and probed via broadcast
  // --- literal arrays, so the heavy input never shuffles by token.

  /** CM bucket hash for row `j`: the shared md5-h60 salted with the row
    * index, reduced mod `width`. Engine-portable (DuckDB replays it as
    * `('0x'||substr(md5(j||':'||v),1,15))::BIGINT % width`), which is
    * what lets a CM-pruned query carry an integer-exact oracle. */
  def cmBucket(value: Column, j: Int, width: Int): Column =
    pmod(Dedup.h60(concat(lit(s"$j:"), value)), lit(width.toLong))

  /** Distributed count-min counter grid `(j, bucket, cnt)` over the
    * occurrences of `value`.
    *
    * Each occurrence contributes `depth` (j, bucket) rows (posexplode of
    * the per-row bucket hashes — scan-fused, no join), then ONE
    * aggregation whose key domain is bounded by depth×width: map-side
    * partial sums collapse every input partition to at most depth×width
    * rows before the exchange, so the wire cost is O(depth × width)
    * regardless of input size — the CM analogue of [[hllRegisters]]'
    * O(m) bound. Grids built on independent shards MERGE by summing
    * counts per (j, bucket) without re-reading data (counters are
    * linear), the same union-then-aggregate discipline as [[hllMerge]].
    */
  def cmCounters(df: DataFrame, value: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 2 && width <= (1 << 20), s"width must be in [2,2^20], got $width")
    val buckets = array((0 until depth).map(j => cmBucket(value, j, width)): _*)
    df.select(posexplode(buckets).as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate column from a driver-held grid: `least` of `depth`
    * codegen'd literal-array lookups — the estimate ≥ the true count
    * ALWAYS (CM's one-sided error), which is the property that makes CM
    * pruning lossless. Grid size is depth×width longs by construction
    * (the same O(sketch) driver hold every CM implementation requires —
    * NOT data-dependent), so the broadcast is a few KB of literals that
    * stay inside the scan's WholeStageCodegen span. */
  def cmEstimate(value: Column, grid: Array[Array[Long]], width: Int): Column = {
    val lookups = grid.indices.map { j =>
      element_at(typedlit(grid(j).toSeq),
        (cmBucket(value, j, width) + lit(1L)).cast("int"))
    }
    if (lookups.size == 1) lookups.head else least(lookups: _*)
  }

  /** Exact φ-heavy-hitters (φ = 1/phiDen of all occurrences) with CM
    * pruning: `(token, cnt, est)` for every value whose exact occurrence
    * count cnt satisfies cnt·phiDen ≥ N, with est the (integer) CM
    * estimate that admitted it.
    *
    * Pass 1 builds the counter grid (fixed-cardinality shuffle, above);
    * N = Σ counters at j = 0. Pass 2 re-scans, keeps only occurrences
    * whose CM estimate clears the threshold — since est ≥ cnt always,
    * no true heavy hitter is pruned — and counts the small survivor set
    * exactly; the exact HAVING then removes CM false positives. The
    * token-keyed shuffle carries CANDIDATE occurrences only (at Zipfian
    * token frequencies, a vanishing fraction of the corpus), vs a full
    * per-token exchange for the direct groupBy — the same
    * sketch-changes-IO-never-answers contract as [[bloomSemiJoin]]. */
  def cmHeavyHitters(df: DataFrame, value: Column, phiDen: Long,
      depth: Int = 3, width: Int = 1024): DataFrame = {
    val grid = Array.fill(depth, width)(0L)
    // bounded by construction: depth×width rows, independent of data size
    cmCounters(df, value, depth, width).collect().foreach { r =>
      grid(r.getAs[Int]("j"))(r.getAs[Long]("bucket").toInt) = r.getAs[Long]("cnt")
    }
    val n = grid(0).sum
    df.select(value.as("token"))
      .filter(cmEstimate(col("token"), grid, width) * lit(phiDen) >= lit(n))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(phiDen) >= lit(n))
      .withColumn("est", cmEstimate(col("token"), grid, width))
  }

  // --- Built-in sketch wrappers (formerly graft.sketches.Sketches; the
  // --- two same-named one-letter-apart packages invited wrong imports —
  // --- VERDICT r11 #3). All wrap Spark's codegen'd built-ins
  // --- (HyperLogLog++, GK quantiles, CountMinSketch, BloomFilter);
  // --- exactness-vs-memory is the rsd/accuracy/fpp knob.

  // --- Mergeable equi-width histogram: the rank-exact quantile sketch.
  // --- GK/t-digest trade rank error for size with float internals no
  // --- second engine reproduces; an equi-width integer histogram is the
  // --- quantile sketch whose every step is integer arithmetic, so its
  // --- estimates carry a DuckDB hash oracle — value error bounded by
  // --- binWidth, rank EXACT at bin granularity.

  /** Histogram table `(keys..., bin, cnt)` with bin = floor(value /
    * binWidth). One aggregation whose key domain is keys × occupied
    * bins; map-side partial sums bound the exchange at O(keys × bins)
    * regardless of input size. Histograms from independent shards merge
    * by summing counts per (keys, bin) — counters are linear, as with
    * [[cmCounters]]. `value` must be integral and non-negative. */
  def histogram(df: DataFrame, value: Column, keys: Seq[String], binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    // INTEGRAL floor division (`div`), not floor(a / b): the latter is
    // IEEE double division before floor, exact only for |value| < 2^53,
    // while the DuckDB oracle's `//` is true integer division — bins
    // must agree at ALL long magnitudes (ADVICE r12 #4)
    df.select(keys.map(col) :+
        call_function("div", value.cast("long"), lit(binWidth)).as("bin"): _*)
      .groupBy(keys.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantiles from a histogram table: for each probability num/den, the
    * smallest bin whose cumulative count reaches rank ceil(p·n) —
    * `cum·den ≥ n·num` in pure integer arithmetic (cum is an integer, so
    * the ceiling is free). Output `(keys..., p_num, p_den, n_rows, bin,
    * lo, hi)`: the true quantile lies in [lo, hi) — value error ≤
    * binWidth with rank exact.
    *
    * Everything here operates on the SKETCH (keys × bins rows), not the
    * data: the per-key cumulative window and the probs cross join are
    * O(bins) per key, and the probs side is a literal handful of rows —
    * broadcast, never an exchange on the histogram. */
  def histogramQuantiles(hist: DataFrame, keys: Seq[String],
      probs: Seq[(Int, Int)], binWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = hist.sparkSession
    val probsDf = broadcast(spark.createDataFrame(probs).toDF("p_num", "p_den"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy("bin")
    val wAll = Window.partitionBy(keys.map(col): _*)
    hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n_rows", sum("cnt").over(wAll))
      .crossJoin(probsDf)
      .filter(col("cum") * col("p_den") >= col("n_rows") * col("p_num"))
      .groupBy(keys.map(col) :+ col("p_num") :+ col("p_den"): _*)
      .agg(max("n_rows").as("n_rows"), min("bin").as("bin"))
      .withColumn("lo", col("bin") * lit(binWidth))
      .withColumn("hi", (col("bin") + 1) * lit(binWidth))
  }

  /** HyperLogLog++ distinct count (±rsd relative error, ~1.5 KB state at
    * rsd=0.05 vs a full distinct shuffle) — Spark's built-in aggregate;
    * [[hllDistinct]] is the custom mergeable-register-table form. */
  def approxDistinct(c: Column, rsd: Double = 0.05): Column =
    approx_count_distinct(c, rsd)

  /** Count-min sketch of a key column: point-lookup frequency estimates
    * with ε=eps over-count bound. Returns the sketch's binary for reuse. */
  def countMin(df: DataFrame, keyCol: String, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch =
    df.stat.countMinSketch(keyCol, eps, confidence, seed)

  /** Bloom filter over a key column: set-membership with `fpp` false
    * positives — the scan-pruning companion for semi-join pushdown. */
  def bloom(df: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    df.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Bloom-pruned semi join: build a bloom filter on the (small) right
    * key set, push it as a scan predicate on the big side, then exact
    * semi-join only the survivors — the manual form of Spark's runtime
    * bloom-filter join (InjectRuntimeFilter), usable when the build side
    * is computed outside the query. Integral keys only (the filter
    * stores raw longs).
    *
    * Pass `expectedItems` when the build-side cardinality is known (even
    * roughly): it skips the sizing `count()`, leaving ONE job over the
    * build side (the filter aggregation itself). The probe is Spark's
    * own `BloomFilterMightContain` expression — codegen'd, stays inside
    * the scan's WholeStageCodegen span — not a boxed scalar UDF. */
  def bloomSemiJoin(large: DataFrame, small: DataFrame, key: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val n = math.max(if (expectedItems > 0) expectedItems else small.count(), 1L)
    val bf = small.stat.bloomFilter(key, n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = call_function("bloom_might_contain",
      lit(bos.toByteArray), col(key).cast("long"))
    large.filter(probe)
      .join(small.select(key).distinct(), Seq(key), "left_semi")
  }
  /** Robust per-group outlier accounting on a money-typed column:
    * rank-exact median and MAD (median absolute deviation), both by the
    * deterministic "value at rank ceil(n/2)" rule, and the count of rows
    * beyond `k`·MAD — the data-quality monitor that survives the heavy
    * tails that wreck mean/stddev z-tests (one corrupted feed of 1e9
    * prices moves a mean arbitrarily; it moves a median not at all).
    *
    * Exactness and scale shape: the column is scaled to integer cents
    * (DECIMAL(12,2)·100), whose value DOMAIN is bounded by the price
    * band, so both medians come from (group, cents) VALUE-table CDFs
    * (the q142 discipline — the windows sort distinct values per group,
    * never rows). Three passes over the group's rows (value counts,
    * deviation counts, flag count), each a map-side-partial aggregate;
    * medians broadcast back as 1-row-per-group frames. All integers end
    * to end — no float discipline needed.
    */
  def robustOutliers(df: DataFrame, groupCols: Seq[String], value: Column,
      kNum: Long = 3, kDen: Long = 1): DataFrame = {
    val gs = groupCols.map(col)
    // spread AFTER the decimal-cast projection: four downstream passes
    // consume `rows`, and with the cast upstream of the (reused)
    // exchange it is computed once instead of per pass — the cast was
    // the dominant per-row cost (Decimal boxing), and the exchange
    // carries narrow longs instead of doubles (guide §2.3/§2.5). On a
    // single-row-group input the pre-spread pass also ran 1-task.
    val rows = graft.Tables.spread(
      df.select(gs :+ (value.cast(DecimalType(12, 2)) * 100)
        .cast("long").as("cents"): _*))
    // Exact rank-find, VOLUME-ROUTED between two shapes at plan time,
    // for free via Catalyst's size estimate (the repo's priced-gate
    // discipline): [[medianDirect]] at or below [[MedianDirectBytes]],
    // [[medianBucketed]] above it.
    val bucketed =
      rows.queryExecution.optimizedPlan.stats.sizeInBytes > MedianDirectBytes
    def medianOf(in: DataFrame, vCol: String): DataFrame =
      if (bucketed) medianBucketed(in, groupCols, vCol)
      else medianDirect(in, groupCols, vCol)
    val med = medianOf(rows, "cents")
    val dev = rows.join(broadcast(med), groupCols)
      .select(gs :+ abs(col("cents") - col("med")).as("adev"): _*)
    val mad = medianOf(dev, "adev")
      .select(groupCols.map(col) :+ col("med").as("mad"): _*)
    rows.join(broadcast(med), groupCols).join(broadcast(mad), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("n")).as("n"), max(col("med")).as("median_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(abs(col("cents") - col("med")) * kDen > col("mad") * kNum, 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Input size (Catalyst's estimate) up to which [[robustOutliers]]
    * rank-finds with [[medianDirect]]; larger inputs take
    * [[medianBucketed]]. */
  private val MedianDirectBytes = BigInt(256L << 20)

  /** Per-group median of `vCol` by the "value at rank ceil(n/2)" rule,
    * from one (group, value) CDF window: fewest stages and jobs, the
    * fastest shape at bench scale. It sorts ALL of a group's distinct
    * values inside ONE window task — with few groups that is a serial
    * whole-table sort, the straggler shape guide §2.5 warns about, so it
    * must not be the shape that survives to 100 TB ([[medianBucketed]]).
    * Output: `(groupCols..., med, n)`. */
  private[graft] def medianDirect(in: DataFrame, groupCols: Seq[String],
      vCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = in.groupBy(groupCols.map(in(_)) :+ in(vCol).as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val byG = Window.partitionBy(groupCols.map(col): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = vals
      .withColumn("cum", sum(col("cnt")).over(byG))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy(groupCols.map(col): _*)))
    // value at rank ceil(n/2): the least v whose cum reaches it
    cdf.filter(col("cum") * 2 >= col("n"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("v")).as("med"), max(col("n")).as("n"))
  }

  /** [[medianDirect]]'s result in two bucketed phases: phase 1 counts
    * fixed-width value BUCKETS (bounded key space, cheap partial aggs)
    * and CDFs the tiny per-group bucket table to find the target bucket
    * plus the cumulative count below it; phase 2 rank-finds only INSIDE
    * the target bucket. Rank-exact and row-identical to the direct shape:
    * the median is the least v with 2·cdf(v) ≥ n; buckets are a monotone
    * coarsening of v, so the least qualifying bucket contains that v, and
    * base + in-bucket cum reproduces cdf(v) exactly (CorpusOpsSpec
    * compares the two). */
  private[graft] def medianBucketed(in: DataFrame, groupCols: Seq[String],
      vCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val BucketWidth = 65536L
    val v = in(vCol)
    val withB = in.withColumn("b", (v / BucketWidth).cast("long") -
      when(v < 0 && v % BucketWidth =!= 0, 1L).otherwise(0L)) // floor div
    val bcnt = withB.groupBy(groupCols.map(col) :+ col("b"): _*)
      .agg(count(lit(1)).as("cnt"))
    val byG = Window.partitionBy(groupCols.map(col): _*).orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = bcnt
      .withColumn("cum", sum(col("cnt")).over(byG))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy(groupCols.map(col): _*)))
    // least bucket whose cumulative count reaches rank ceil(n/2);
    // base = cumulative count strictly below it
    val target = cdf.filter(col("cum") * 2 >= col("n"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("b")).as("tb"), max(col("n")).as("n"))
      .join(cdf.select(groupCols.map(col) :+ col("b").as("tb") :+
        (col("cum") - col("cnt")).as("base"): _*), groupCols :+ "tb")
      .select(groupCols.map(col) :+ col("tb") :+ col("n") :+ col("base"): _*)
    val inTarget = withB.join(broadcast(target), groupCols)
      .filter(col("b") === col("tb"))
    val vals = inTarget.groupBy(groupCols.map(col) :+ col(vCol).as("v"): _*)
      .agg(count(lit(1)).as("cnt"), max(col("n")).as("n"), max(col("base")).as("base"))
    val cdf2 = vals.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(groupCols.map(col): _*).orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cdf2.filter((col("base") + col("cum")) * 2 >= col("n"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("v")).as("med"), max(col("n")).as("n"))
  }
}
