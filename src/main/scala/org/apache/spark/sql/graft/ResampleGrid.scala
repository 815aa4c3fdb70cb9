/* Lives under org.apache.spark.sql next to the other Catalyst expressions
 * of this package. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Static call target for [[ResampleGrid]]: one key's whole regular-grid
  * resample in one pass over primitive arrays.
  *
  *  1. Sort the points by `t` (an already sorted series costs one
  *     check).
  *  2. Collapse equal `t` to the largest value in Spark `max` order
  *     (`SQLOrderingUtil.compareDoubles`: NaN is the largest value).
  *     The one tie that order leaves to arrival order, −0.0 against
  *     +0.0, goes to +0.0, so the result does not depend on
  *     partitioning. `java.lang.Double.compare` is exactly this total
  *     order.
  *  3. Build the ticks `[ceil(tmin/step)·step, floor(tmax/step)·step]`
  *     with floor semantics (`Math.floorDiv`), so pre-1970 series get
  *     the same grid as post-1970 ones.
  *  4. Emit each tick's value: an exact hit gives the raw value;
  *     otherwise linear mode gives `pv + (nv − pv) · ((t − pt) / (nt − pt))`
  *     in that fixed IEEE order, and LOCF mode gives `pv`, where
  *     `(pt, pv)` is the last point before the tick and `(nt, nv)` the
  *     first after it.
  *
  * Elements with a null `t` or `v` are skipped. Memory bound: the key's
  * points and its grid are each held in one array, so one key's series
  * must fit one task — the same bound a per-key window has. */
object ResampleStatics {

  def grid(points: ArrayData, step: Long, interpolate: Boolean): ArrayData = {
    val n = points.numElements()
    var ts = new Array[Long](n)
    var vs = new Array[Double](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!points.isNullAt(i)) {
        val p = points.getStruct(i, 2)
        if (!p.isNullAt(0) && !p.isNullAt(1)) {
          ts(m) = p.getLong(0); vs(m) = p.getDouble(1); m += 1
        }
      }
      i += 1
    }
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    i = 1
    while (i < m && ts(i - 1) <= ts(i)) i += 1
    if (i < m) {
      val order = Array.range(0, m).sortBy(ts(_))
      ts = order.map(ts(_)); vs = order.map(vs(_))
    }
    // collapse runs of equal t in place
    var u = 0
    i = 1
    while (i < m) {
      if (ts(i) == ts(u)) {
        if (java.lang.Double.compare(vs(i), vs(u)) > 0) vs(u) = vs(i)
      } else {
        u += 1; ts(u) = ts(i); vs(u) = vs(i)
      }
      i += 1
    }
    m = u + 1
    val lo = Math.floorDiv(ts(0), step)
    val first = (if (lo * step < ts(0)) lo + 1 else lo) * step
    val last = Math.floorDiv(ts(m - 1), step) * step
    if (first > last) return new GenericArrayData(Array.empty[Any])
    val ticks = (last - first) / step + 1
    if (ticks > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"resample grid of $ticks ticks exceeds one array; use a coarser step")
    val out = new Array[Any](ticks.toInt)
    var j = 0
    var k = 0
    var t = first
    while (k < out.length) {
      while (j + 1 < m && ts(j + 1) <= t) j += 1
      val pt = ts(j)
      val pv = vs(j)
      val v =
        if (pt == t || !interpolate) pv
        else {
          val nt = ts(j + 1)
          val nv = vs(j + 1)
          pv + (nv - pv) * ((t - pt).toDouble / (nt - pt).toDouble)
        }
      out(k) = new GenericInternalRow(Array[Any](t, v))
      k += 1
      t += step
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd `resample_grid(points, stepMicros, interpolate)`: the
  * regular-grid resample of one key's series, `points` being its
  * `array<struct<t: bigint, v: double>>` (epoch microseconds, value).
  * Returns `array<struct<t: bigint, v: double>>`, one element per tick;
  * see [[ResampleStatics.grid]] for the semantics and the memory bound.
  * Not registered in SQL; [[graft.batch.Rolling]] builds it through
  * [[ResampleGrid.column]]. Null in → null out. */
case class ResampleGrid(child: Expression, stepMicros: Long, interpolate: Boolean)
    extends UnaryExpression {
  require(stepMicros > 0, s"stepMicros must be positive, got $stepMicros")

  override def dataType: DataType = ResampleGrid.PointsType
  override def prettyName: String = "resample_grid"

  override protected def nullSafeEval(points: Any): Any =
    ResampleStatics.grid(points.asInstanceOf[ArrayData], stepMicros, interpolate)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p =>
      s"org.apache.spark.sql.graft.ResampleStatics.grid($p, ${stepMicros}L, $interpolate)")

  override protected def withNewChildInternal(newChild: Expression): ResampleGrid =
    copy(child = newChild)
}

object ResampleGrid {
  val PointsType: ArrayType = ArrayType(StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = true))), containsNull = false)

  def column(points: Column, stepMicros: Long, interpolate: Boolean): Column =
    ExpressionUtils.column(ResampleGrid(ExpressionUtils.expression(points), stepMicros, interpolate))
}
