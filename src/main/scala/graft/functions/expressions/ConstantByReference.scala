package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** A per-query constant passed to generated code by reference.
  *
  * Codegen writes the value of a Long or Timestamp literal into the Java
  * source, so a value that changes between executions of the same plan
  * changes the code text and misses the compiled-class cache. A streaming
  * query's `current_timestamp()` is such a value: it becomes each
  * micro-batch's own timestamp literal. This expression is not foldable,
  * so the optimizer keeps it; its generated code evaluates the child once,
  * while the code is generated, and reads the value from the references
  * array. The code text is then the same for every value.
  *
  * The child must evaluate to one value per execution without an input
  * row (a literal, or a current-time expression the planner has resolved).
  */
case class ConstantByReference(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def nullable: Boolean = child.nullable

  // UnaryExpression would inherit the child's: a foldable node is folded
  // into the very literal this expression keeps out of the code
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("constant", child.eval(),
      CodeGenerator.boxedType(dataType))
    ev.copy(code = code"""
      |boolean ${ev.isNull} = $ref == null;
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) ${ev.value} = $ref;
     """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ConstantByReference = copy(child = newChild)
}

object ConstantByReference {
  def apply(c: Column): Column =
    Bridge.column(ConstantByReference(Bridge.expression(c)))
}
