package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/** A non-null primitive literal whose generated code reads its value
  * from a field of the generated class instead of inlining it.
  *
  * Spark inlines a `Literal` into the generated Java, so
  * `get(lit(7))` and `get(lit(8))` compile to different source and
  * each distinct key misses the codegen cache: 4 Janino compiles per
  * KV point get. Here the value travels in the generated object's
  * `references` array and is copied once into a primitive field when
  * the class initializes, so the source depends on the plan's shape
  * only and compiles once per shape.
  *
  * Deliberately NOT a `Literal` subclass: `Literal.equals` matches any
  * `Literal` instance, so `transform`'s `fastEquals` would treat the
  * rewrite as a no-op and drop it. `toString` and `sql` render exactly
  * as the literal, so explain text is unchanged. */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  // not foldable: a foldable operand may be evaluated at codegen time
  // and inlined again
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

/** Physical rule: the non-null primitive literals that are direct
  * operands of a comparison or an `In` inside a `FilterExec` condition
  * become [[ParamLiteral]]s. Scans are never touched: their
  * `dataFilters` keep the real `Literal`, so `PushedFilters` and
  * parquet min/max and bloom pruning are unchanged. Null, string and
  * decimal literals have no primitive field type and stay inlined. */
object ParamLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case b: BinaryComparison => b.withNewChildren(b.children.map(param))
      case in: In => in.copy(list = in.list.map(param))
    })
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) => ParamLiteral(v, dt)
    case other => other
  }
}
