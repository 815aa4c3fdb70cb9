package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graft.{CosineSim, DotProduct, HammingDist, MinhashSig, NfcNormalize, PqAdc, PunctCount, QuantizeMse, RandomProjBuckets, SignProject, SortedContainsLong, SubwordCount, SubwordPieces, WinnowSelect, ArrayEqCount, OptimizerOpaque, BpeMergeFold, BpePairs, ShingleGen, GramH60, KernelArgs, TimeParamsColumnarRule}

/** Public facade for the codegen'd vector/fingerprint expressions
  * ([[org.apache.spark.sql.graft.CosineSim]] / `HammingDist`).
  * Sessions built via `graft.GraftSession` load [[GraftExtensions]]
  * through `spark.sql.extensions`, making `cosine_sim`/`hamming_dist`
  * available both in SQL text and through these Column helpers. */
object VectorFunctions {
  def cosineFast(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotFast(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def hammingDist(a: Column, b: Column): Column = call_function("hamming_dist", a, b)
  def quantizeMse(v: Column, levels: Column): Column = call_function("quantize_mse", v, levels)
  def nfcNormalize(s: Column): Column = call_function("nfc_normalize", s)
  def sortedContains(arr: Column, key: Column): Column = call_function("sorted_contains", arr, key)
  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    call_function("pq_adc", codes, lut, org.apache.spark.sql.functions.lit(ksub))
  def lshBandBuckets(v: Column, flatPlanes: Seq[Double], numBands: Int,
      bandPlanes: Int): Column =
    call_function("lsh_band_buckets", v,
      org.apache.spark.sql.functions.typedlit(flatPlanes),
      org.apache.spark.sql.functions.lit(numBands),
      org.apache.spark.sql.functions.lit(bandPlanes))
  def signProject(v: Column, flatSigns: Seq[Double], outDims: Int,
      scale: Double): Column =
    call_function("sign_project", v,
      org.apache.spark.sql.functions.typedlit(flatSigns),
      org.apache.spark.sql.functions.lit(outDims),
      org.apache.spark.sql.functions.lit(scale))

  private[functions] def registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("hamming_dist"),
      new ExpressionInfo(classOf[HammingDist].getName, "hamming_dist"),
      (children: Seq[Expression]) => HammingDist(children(0), children(1))),
    (FunctionIdentifier("quantize_mse"),
      new ExpressionInfo(classOf[QuantizeMse].getName, "quantize_mse"),
      (children: Seq[Expression]) => QuantizeMse(children(0), children(1))),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalize(children(0))),
    // minhash_sig(text, n, numPerm): n/numPerm must be foldable int
    // literals — they size the generated signature array, not per-row data
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinhashSig(children(0),
        KernelArgs.int("minhash_sig", children, 1),
        KernelArgs.int("minhash_sig", children, 2))),
    (FunctionIdentifier("subword_count"),
      new ExpressionInfo(classOf[SubwordCount].getName, "subword_count"),
      (children: Seq[Expression]) => SubwordCount(children(0))),
    // subword_piece_count(text, vocab): vocab must be a foldable
    // string-array literal — it is the tokenizer's piece table, a plan
    // constant compiled into the matcher, not per-row data
    (FunctionIdentifier("subword_piece_count"),
      new ExpressionInfo(classOf[SubwordPieces].getName, "subword_piece_count"),
      (children: Seq[Expression]) => {
        val arr = KernelArgs.array("subword_piece_count", children, 1)
        SubwordPieces(children(0),
          (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString))
      }),
    (FunctionIdentifier("punct_count"),
      new ExpressionInfo(classOf[PunctCount].getName, "punct_count"),
      (children: Seq[Expression]) => PunctCount(children(0))),
    // lsh_band_buckets(vec, flatPlanes, numBands, bandPlanes): the plane
    // matrix and geometry must be foldable literals — they are the LSH
    // index definition, compiled into one constant-size loop
    (FunctionIdentifier("lsh_band_buckets"),
      new ExpressionInfo(classOf[RandomProjBuckets].getName, "lsh_band_buckets"),
      (children: Seq[Expression]) => {
        val arr = KernelArgs.array("lsh_band_buckets", children, 1)
        RandomProjBuckets(children(0), arr.toDoubleArray().toSeq,
          KernelArgs.int("lsh_band_buckets", children, 2),
          KernelArgs.int("lsh_band_buckets", children, 3))
      }),
    // sign_project(vec, flatSigns, outDims, scale): the sign matrix and
    // geometry must be foldable literals — they are the projection
    // definition, compiled into one constant-size loop
    (FunctionIdentifier("sign_project"),
      new ExpressionInfo(classOf[SignProject].getName, "sign_project"),
      (children: Seq[Expression]) => {
        val arr = KernelArgs.array("sign_project", children, 1)
        SignProject(children(0), arr.toDoubleArray().toSeq,
          KernelArgs.int("sign_project", children, 2),
          KernelArgs.double("sign_project", children, 3))
      }),
    // pq_adc(codes, lut, ksub): ksub must be a foldable int literal — it
    // is the codebook geometry, compiled into the lookup stride
    (FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      (children: Seq[Expression]) => PqAdc(children(0), children(1),
        KernelArgs.int("pq_adc", children, 2))),
    // winnow_select(text, k, w): k/w must be foldable int literals —
    // they are the fingerprint geometry, compiled into the kernel loop
    (FunctionIdentifier("winnow_select"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "winnow_select"),
      (children: Seq[Expression]) => WinnowSelect(children(0),
        KernelArgs.int("winnow_select", children, 1),
        KernelArgs.int("winnow_select", children, 2))),
    // opaque(x): determinism-opaque passthrough — fences an expensive
    // expression against optimizer substitution/pushdown (§4.4 remedy)
    (FunctionIdentifier("opaque"),
      new ExpressionInfo(classOf[OptimizerOpaque].getName, "opaque"),
      (children: Seq[Expression]) => OptimizerOpaque(children(0))),
    (FunctionIdentifier("array_eq_count"),
      new ExpressionInfo(classOf[ArrayEqCount].getName, "array_eq_count"),
      (children: Seq[Expression]) => ArrayEqCount(children(0), children(1))),
    // bpe_merge(s, left, right): one BPE merge round folded through a
    // symbol string — the compiled twin of the aggregate HOF fold (§4)
    (FunctionIdentifier("bpe_merge"),
      new ExpressionInfo(classOf[BpeMergeFold].getName, "bpe_merge"),
      (children: Seq[Expression]) => BpeMergeFold(children(0), children(1), children(2))),
    // bpe_pairs(s): adjacent symbol pairs of a symbol string — compiled
    // twin of the arrays_zip/slice Column form
    (FunctionIdentifier("bpe_pairs"),
      new ExpressionInfo(classOf[BpePairs].getName, "bpe_pairs"),
      (children: Seq[Expression]) => BpePairs(children(0))),
    // shingle_gen(text, n): word n-gram shingle strings in one compiled
    // pass, zero-copy byte-range views; n must be a foldable int literal
    (FunctionIdentifier("shingle_gen"),
      new ExpressionInfo(classOf[ShingleGen].getName, "shingle_gen"),
      (children: Seq[Expression]) => ShingleGen(children(0),
        KernelArgs.int("shingle_gen", children, 1))),
    // gram_h60(text, k): h60 of every word k-gram in one compiled pass
    (FunctionIdentifier("gram_h60"),
      new ExpressionInfo(classOf[GramH60].getName, "gram_h60"),
      (children: Seq[Expression]) => GramH60(children(0),
        KernelArgs.int("gram_h60", children, 1))),
    (FunctionIdentifier("sorted_contains"),
      new ExpressionInfo(classOf[SortedContainsLong].getName, "sorted_contains"),
      (children: Seq[Expression]) => SortedContainsLong(children(0), children(1))),
    // Spark's own codegen'd bloom probe (the expression its runtime
    // bloom-filter join uses) — not in the public FunctionRegistry, so
    // expose it for externally-built sketches (Sketches.bloomSemiJoin):
    // args (serialized filter BINARY, key BIGINT)
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => BloomFilterMightContain(children(0), children(1))))

  /** Imperative registration for externally-built sessions. */
  def register(spark: SparkSession): Unit = registrations.foreach {
    case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}

/** `SparkSessionExtensions` hook:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Registers the functions above and the physical rule that keeps time
  * constants out of generated code ([[org.apache.spark.sql.graft.TimeParams]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorFunctions.registrations.foreach(ext.injectFunction)
    ext.injectColumnar(_ => new TimeParamsColumnarRule)
  }
}
