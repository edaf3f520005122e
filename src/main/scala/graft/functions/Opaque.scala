package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DataType

/** Evaluation barrier: a pass-through wrapper that REPORTS itself
  * non-deterministic so the optimizer may not duplicate, push past, or
  * collapse the projection that computes it (guide §4.4's
  * mark-the-expensive-expression-non-deterministic remedy, JVM
  * flavor). Evaluation and codegen delegate to the child with zero
  * added work — the value IS deterministic; only the optimizer's
  * license to copy it is withdrawn.
  *
  * Use sparingly, on expressions whose re-evaluation is the dominant
  * per-row cost (a `from_json` parse referenced by both a filter and a
  * projection otherwise runs once per reference: predicate pushdown
  * substitutes the alias into the pushed condition and the plan
  * evaluates the parse twice per row). The trade-off is the same as
  * the guide's: other filters also stop pushing past the wrapped
  * projection, so wrap the one expensive expression, not whole plans.
  */
case class Opaque(child: Expression) extends UnaryExpression {

  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_opaque"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Opaque {
  /** Wraps a Column so the optimizer evaluates it exactly once at the
    * projection that names it.
    */
  def once(c: Column): Column = Bridge.column(Opaque(Bridge.eagerExpression(c)))
}

/** Pass-through wrapper that is never foldable and hands its value to
  * the parent's generated code in a local variable. Constant folding
  * still folds the child, but stops at this node, so a parent sees a
  * variable where it would otherwise see a Java literal.
  *
  * For parents whose generated code splices the child's value after a
  * cast: Spark's `BloomFilterMightContain` writes `(Long)<value>`,
  * which janino reads as a subtraction when the value is a negative
  * literal such as `-5L` ("Expression java.lang.Long is not an
  * rvalue"), and every such probe fell back to interpreted evaluation.
  */
case class Unfolded(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_unfolded"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.value};""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
