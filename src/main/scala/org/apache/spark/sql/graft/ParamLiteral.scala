/* Lives under org.apache.spark.sql next to the other Catalyst expressions
 * of this package. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** A non-null constant whose generated code reads the value from the
  * generated class's `references` array instead of writing it into the
  * Java source.
  *
  * `Literal.doGenCode` writes a timestamp as a `long` constant, so two
  * queries that differ only in a time bound produce different source text,
  * miss the codegen cache and pay a Janino compile plus a cold JIT each.
  * With this expression the source text is the same for every value: the
  * value is loaded once into a primitive field when the generated object
  * is built.
  *
  * `foldable` stays true, as for a `Literal`, so checks that ask for a
  * constant argument still pass; `eval` returns the value. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral holds a non-null value")

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def sql: String = Literal(value, dataType).sql
  override def toString: String = s"param(${Literal(value, dataType)})"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("param", value, boxed)
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical rule: non-null `Timestamp`, `TimestampNTZ` and `Date` literals
  * in `FilterExec` conditions and `ProjectExec` lists become
  * [[ParamLiteral]]s.
  *
  * Those are the constants that change from one query to the next: range
  * bounds, and the batch `current_timestamp()` that `ComputeCurrentTime`
  * folds into a literal (`Transforms.normalize`). Other primitive literals
  * stay inlined; they belong to the query's shape. The rule runs after
  * physical planning, so `FileSourceScanExec` has already taken the
  * original literals as parquet pushed filters. A micro-batch plan folds
  * `current_timestamp` to the trigger's timestamp literal as well, so a
  * streaming projection such as `normalize` also keeps one generated
  * class across triggers instead of compiling a new one per trigger. */
object TimeParams extends Rule[SparkPlan] {
  private def lift(e: Expression): Expression = e.transform {
    case Literal(v, dt @ (TimestampType | TimestampNTZType | DateType)) if v != null =>
      ParamLiteral(v, dt)
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = lift(f.condition)
      if (c eq f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val ps = p.projectList.map(lift(_).asInstanceOf[NamedExpression])
      if (ps.corresponds(p.projectList)(_ eq _)) p else p.copy(projectList = ps)
  }
}

/** Injects [[TimeParams]] before the columnar transitions, i.e. before
  * `CollapseCodegenStages`, in every plan of the session (each AQE stage
  * included). */
class TimeParamsColumnarRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = TimeParams
}
