package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Its child's value, kept out of the generated source: evaluated
  * through the expression object that codegen stores in `references`,
  * never inlined, and never constant-folded.
  *
  * A streaming query turns `current_timestamp()` into the micro-batch
  * time as a `long` literal after optimization, and generated code
  * inlines a literal, so every micro-batch changes the source of each
  * stage that stamps it and Janino compiles that stage again (and the
  * JIT after it). Under this wrapper the source is the same from batch
  * to batch and the codegen cache serves it; the value per row is
  * unchanged. A non-leaf `CodegenFallback` keeps its own operator out of
  * whole-stage codegen; that operator still runs a cached generated
  * projection.
  */
case class OutOfCodegen(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override def prettyName: String = "out_of_codegen"
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

object OutOfCodegen {
  /** `current_timestamp()`: in a streaming query the micro-batch time,
    * the same source code in every batch. */
  def currentTimestamp: Column =
    ColumnBridge.column(OutOfCodegen(ColumnBridge.expression(current_timestamp())))
}
