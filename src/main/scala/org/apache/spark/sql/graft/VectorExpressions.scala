/* Lives under org.apache.spark.sql because Catalyst's expression SPI
 * (AbstractDataType, ExpectsInputTypes) is private[sql] — the standard
 * packaging for third-party native expressions. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Codegen'd cosine similarity over two `ARRAY<DOUBLE>` columns — the
  * custom-`Expression` path of SURVEY.md §7.3 / the builder brief's
  * preference order: a native Catalyst expression with `doGenCode` beats
  * the `zip_with`+`aggregate` higher-order form because HOFs evaluate
  * interpreted (boxed lambda per element) while this compiles to one
  * primitive fused loop inside whole-stage codegen.
  *
  * Semantics match `Similarity.cosine` exactly: a single left-to-right
  * pass accumulating dot, |a|² and |b|², then `dot / (√|a|²·√|b|²)` —
  * bit-identical to the oracle's `list_inner_product` formulation.
  * Null if either input is null.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    require(ys.numElements() == n, s"cosine_sim: length mismatch $n vs ${ys.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i); val y = ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      // Same length guard as nullSafeEval: without it, codegen would read
      // past the shorter array and return silent garbage — the two
      // execution paths must not diverge.
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "requirement failed: cosine_sim: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = $a.getDouble($i);
         |  final double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product over two `ARRAY<DOUBLE>` columns. Same single
  * left-to-right accumulation as [[CosineSim]]'s dot term — bit-identical
  * to both the `zip_with`+`aggregate` fold it replaces and the oracle's
  * `list_inner_product`, so hyperplane sign decisions (LSH buckets) are
  * engine-independent. Null if either input is null. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    require(ys.numElements() == n, s"dot_product: length mismatch $n vs ${ys.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) { dot += xs.getDouble(i) * ys.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      // Length guard mirrored from nullSafeEval — see CosineSim.doGenCode.
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "requirement failed: dot_product: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd scalar-quantization reconstruction error: quantize an
  * `ARRAY<DOUBLE>` to `levels` uniform steps between its own min and max
  * (per-vector affine int8-style quantization — the layout a 100 TB
  * embedding store actually ships, 4-8× smaller than float32), dequantize,
  * and return the mean squared reconstruction error in ONE fused pass.
  *
  * Math is pinned so an external engine can replay it bit-for-bit:
  * `scale = (max-min)/levels`; `q_i = floor((x_i-min)/scale + 0.5)`
  * (explicit half-up — engines disagree on round()'s tie rule, floor+0.5
  * they don't); error accumulates left-to-right. A constant vector
  * (scale 0) reconstructs exactly → 0.0. Null if input is null.
  *
  * `levels >= 1` is enforced: levels=0 would give scale=Infinity and
  * then `0*Infinity = NaN` (silent garbage), negative levels
  * contradictory clamps. A foldable bad literal fails at ANALYSIS time
  * (checkInputDataTypes); a non-foldable bad value throws at runtime in
  * both the interpreted and codegen paths. */
case class QuantizeMse(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quantize_mse"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (right.foldable) {
      val v = right.eval()
      if (v != null && v.asInstanceOf[Int] < 1)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_mse: levels must be >= 1, got $v")
      else base
    } else base
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val levels = b.asInstanceOf[Int]
    require(levels >= 1, s"quantize_mse: levels must be >= 1, got $levels")
    val n = xs.numElements()
    if (n == 0) return 0.0
    var mn = xs.getDouble(0); var mx = mn
    var i = 1
    while (i < n) {
      val x = xs.getDouble(i)
      if (x < mn) mn = x; if (x > mx) mx = x
      i += 1
    }
    val scale = (mx - mn) / levels
    if (scale == 0.0) return 0.0
    var sse = 0.0
    i = 0
    while (i < n) {
      val x = xs.getDouble(i)
      var q = math.floor((x - mn) / scale + 0.5)
      if (q < 0) q = 0; if (q > levels) q = levels
      val e = x - (mn + q * scale)
      sse += e * e
      i += 1
    }
    sse / n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      val scale = ctx.freshName("scale")
      val sse = ctx.freshName("sse")
      val x = ctx.freshName("x")
      val q = ctx.freshName("q")
      val e = ctx.freshName("e")
      // Same loop order and rounding as nullSafeEval — the two paths
      // must produce bit-identical doubles.
      s"""
         |if ($b < 1) {
         |  throw new IllegalArgumentException(
         |    "requirement failed: quantize_mse: levels must be >= 1, got " + $b);
         |}
         |final int $n = $a.numElements();
         |${ev.value} = 0.0;
         |if ($n > 0) {
         |  double $mn = $a.getDouble(0); double $mx = $mn;
         |  for (int $i = 1; $i < $n; $i++) {
         |    final double $x = $a.getDouble($i);
         |    if ($x < $mn) $mn = $x; if ($x > $mx) $mx = $x;
         |  }
         |  final double $scale = ($mx - $mn) / $b;
         |  if ($scale != 0.0) {
         |    double $sse = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      final double $x = $a.getDouble($i);
         |      double $q = java.lang.Math.floor(($x - $mn) / $scale + 0.5);
         |      if ($q < 0) $q = 0; if ($q > $b) $q = $b;
         |      final double $e = $x - ($mn + $q * $scale);
         |      $sse += $e * $e;
         |    }
         |    ${ev.value} = $sse / $n;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizeMse =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd Hamming distance between two 64-bit fingerprints. */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_dist"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDist =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd binary search of a 64-bit key in a SORTED `ARRAY<BIGINT>` —
  * the membership probe for broadcast heavy-hitter sets (boilerplate-line
  * hashes). `array_contains` scans linearly, so a per-LINE probe against
  * tens of thousands of boilerplate hashes costs O(|set|) per line;
  * binary search makes it O(log |set|) with the same fused-loop codegen
  * discipline as the other expressions here. The caller owns the sort
  * invariant (`sort_array` at build time); an unsorted array yields
  * arbitrary membership answers, same contract as
  * `java.util.Arrays.binarySearch`. Null if either input is null. */
case class SortedContainsLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "sorted_contains"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val key = b.asInstanceOf[Long]
    var lo = 0; var hi = xs.numElements() - 1
    var found = false
    while (lo <= hi && !found) {
      val mid = (lo + hi) >>> 1
      // binary search over nulls has no defined order — fail loud, never
      // return a garbage membership answer
      if (xs.isNullAt(mid))
        throw new IllegalArgumentException("sorted_contains: null array element")
      val v = xs.getLong(mid)
      if (v == key) found = true
      else if (v < key) lo = mid + 1
      else hi = mid - 1
    }
    found
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val v = ctx.freshName("v")
      s"""
         |int $lo = 0; int $hi = $a.numElements() - 1;
         |${ev.value} = false;
         |while ($lo <= $hi) {
         |  final int $mid = ($lo + $hi) >>> 1;
         |  if ($a.isNullAt($mid)) {
         |    throw new IllegalArgumentException("sorted_contains: null array element");
         |  }
         |  final long $v = $a.getLong($mid);
         |  if ($v == $b) { ${ev.value} = true; break; }
         |  else if ($v < $b) { $lo = $mid + 1; }
         |  else { $hi = $mid - 1; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedContainsLong =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd asymmetric-distance (ADC) lookup for product quantization:
  * `pq_adc(codes, lut, ksub)` = `Σ_s lut[s·ksub + codes[s]]` — the
  * inner-product approximation `<q, x> ≈ Σ_s <q_s, c_{s,codes[s]}>`
  * where `lut` is the query's flattened per-subspace centroid dot table
  * (m·ksub doubles, subspace-major) and `codes` is the corpus vector's
  * m-byte code word. One primitive loop per (query, vector) pair — the
  * whole ADC scan stays inside whole-stage codegen with no per-element
  * boxing and no join against the codebook.
  *
  * Accumulation is left-to-right over subspaces (s ascending), so the
  * result is bit-identical to the oracle's macro-expanded
  * `t0 + t1 + ... + t_{m-1}` chain. Null if either input is null. */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(ksub >= 1, s"ksub must be >= 1, got $ksub")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    require(lut.numElements() == m * ksub,
      s"pq_adc: lut length ${lut.numElements()} != m*ksub = ${m * ksub}")
    var s = 0; var sum = 0.0
    while (s < m) {
      val c = codes.getInt(s)
      require(c >= 0 && c < ksub, s"pq_adc: code $c out of [0, $ksub)")
      sum += lut.getDouble(s * ksub + c)
      s += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val sum = ctx.freshName("sum")
      s"""
         |final int $m = $a.numElements();
         |if ($b.numElements() != $m * $ksub) {
         |  throw new IllegalArgumentException(
         |    "requirement failed: pq_adc: lut length " + $b.numElements() +
         |    " != m*ksub = " + ($m * $ksub));
         |}
         |double $sum = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  final int $c = $a.getInt($s);
         |  if ($c < 0 || $c >= $ksub) {
         |    throw new IllegalArgumentException(
         |      "requirement failed: pq_adc: code " + $c + " out of [0, " + $ksub + ")");
         |  }
         |  $sum += $b.getDouble($s * $ksub + $c);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd banded random-hyperplane bucket ids:
  * `lsh_band_buckets(vec, flatPlanes, numBands, bandPlanes)` returns the
  * `numBands`-element array whose element `t` is the band-`t` bucket —
  * bit `i` set iff `vec · plane_{t·bandPlanes+i} > 0`, each dot a
  * left-to-right accumulation, bit-identical to the per-plane
  * `dot_product`/`when` column formulation (`Similarity.lshBucket`).
  *
  * Exists because the column formulation inlines one generated dot loop
  * PLUS a literal plane array PER PLANE: at the adaptive config a 512 k
  * corpus derives (≈350 bands × 12 planes → >4000 inline dots), the
  * generated `generate_doConsume` crosses the JVM's 64 KB method limit
  * and the whole stage dies (measured — the 256× probe's failure). Here
  * the planes ride along as ONE flat double-array plan constant and the
  * bands compile to one triple loop, constant code size at any band
  * count. */
case class RandomProjBuckets(child: Expression, flatPlanes: Seq[Double],
    numBands: Int, bandPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(numBands >= 1 && bandPlanes >= 1 && bandPlanes <= 63,
    s"need 1 <= bandPlanes <= 63 and numBands >= 1, got $numBands x $bandPlanes")
  require(flatPlanes.nonEmpty && flatPlanes.length % (numBands * bandPlanes) == 0,
    s"flatPlanes length ${flatPlanes.length} must be numBands*bandPlanes*dim")

  private val dim = flatPlanes.length / (numBands * bandPlanes)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_buckets"

  @transient private lazy val planes: Array[Double] = flatPlanes.toArray

  def buckets(v: ArrayData): ArrayData = {
    // Loud on malformed input like every other vector expression here
    // (dot_product/cosine_sim throw on length mismatch): silently
    // truncating would yield prefix-derived bucket ids and break the
    // claimed bit-identity with the per-plane lshBucket formulation.
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"lsh_band_buckets: vector length ${v.numElements()} != plane dim $dim")
    val out = new Array[Long](numBands)
    var t = 0
    while (t < numBands) {
      var bucket = 0L
      var i = 0
      while (i < bandPlanes) {
        val base = ((t * bandPlanes) + i) * dim
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += v.getDouble(j) * planes(base + j); j += 1 }
        if (dot > 0) bucket |= (1L << i)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    buckets(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBands", this,
      classOf[RandomProjBuckets].getName)
    defineCodeGen(ctx, ev, v => s"$ref.buckets($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): RandomProjBuckets =
    copy(child = newChild)
}

/** Codegen'd sign (Rademacher) random projection with floor-pinned
  * exact arithmetic — the JL embedding reduction (q108):
  *
  *   y_j = scale · (Σ_i floor(x_i·s(i,j)·10¹² + 0.5)) / 10¹²
  *
  * The sign matrix is a plan constant (flat, row-major by output dim),
  * so like [[RandomProjBuckets]] the generated code is ONE constant
  * `buckets`-style call regardless of geometry — no per-row hashing,
  * no HOF lambda boxing (the `zip_with`+`aggregate` form evaluates
  * interpreted and allocated ~3 boxed lambdas per element). The
  * scaled-integer pinning makes the inner product summation-order
  * independent and bit-identical to the DuckDB oracle (valid for
  * |x|·10¹² < 2⁵³, i.e. coordinates up to ~4×10³).
  */
case class SignProject(child: Expression, flatSigns: Seq[Double], outDims: Int,
    scale: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(outDims >= 1 && flatSigns.nonEmpty && flatSigns.length % outDims == 0,
    s"flatSigns length ${flatSigns.length} must be outDims*dim (outDims=$outDims)")

  private val dim = flatSigns.length / outDims

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sign_project"

  @transient private lazy val signs: Array[Double] = flatSigns.toArray

  def project(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"sign_project: vector length ${v.numElements()} != sign-matrix dim $dim")
    val out = new Array[Double](outDims)
    var j = 0
    while (j < outDims) {
      val base = j * dim
      var acc = 0L
      var i = 0
      while (i < dim) {
        acc += math.floor(v.getDouble(i) * signs(base + i) * 1e12 + 0.5).toLong
        i += 1
      }
      out(j) = scale * (acc.toDouble / 1e12)
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    project(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signProj", this, classOf[SignProject].getName)
    defineCodeGen(ctx, ev, v => s"$ref.project($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignProject =
    copy(child = newChild)
}

/** Codegen'd count of positionally-EQUAL entries of two `ARRAY<BIGINT>`
  * columns — the MinHash signature-agreement kernel. The
  * `size(filter(zip_with(a, b, _ === _), x => x))` form it replaces runs
  * through Catalyst's interpreted higher-order-function path (boxed
  * lambda + two intermediate arrays per row), which at 13 s of CPU on a
  * 16× hot band key was the whole verify stage (OPTIMIZATION_r17.md
  * q130). Counts over min(len_a, len_b) positions — signatures always
  * share numPerm length, and zip_with's null padding never compared
  * equal, so the value is identical. Null if either input is null. */
case class ArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_eq_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayEqCount =
    copy(left = newLeft, right = newRight)
}

/** Plan-constant arguments of the registered kernels (`minhash_sig`'s
  * n/numPerm, `shingle_gen`'s n, `lsh_band_buckets`' planes, ...): they
  * size or define the compiled loop, so the function registration
  * evaluates them once at analysis. A column or a NULL there is a caller error,
  * reported as an `AnalysisException` naming the function and the
  * 1-based argument position. Here, not in `graft.functions`, because
  * the message-only `AnalysisException` constructor is only accessible
  * inside `org.apache.spark.sql`. */
object KernelArgs {
  def constant(fn: String, children: Seq[Expression], i: Int): Any = {
    val e = children(i)
    val v = if (e.foldable) e.eval() else null
    if (v == null)
      throw new AnalysisException(
        s"$fn: argument ${i + 1} must be a constant (a non-NULL literal), got ${e.sql}",
        None, None, None, None, Map.empty, Array.empty)
    v
  }

  def int(fn: String, children: Seq[Expression], i: Int): Int =
    constant(fn, children, i).asInstanceOf[Number].intValue()

  def double(fn: String, children: Seq[Expression], i: Int): Double =
    constant(fn, children, i).asInstanceOf[Number].doubleValue()

  def array(fn: String, children: Seq[Expression], i: Int): ArrayData =
    constant(fn, children, i).asInstanceOf[ArrayData]
}
