package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** One conservation counter: Σ `weights(c + 1)` over the rows, where `c`
  * is the row's route class in [-1, weights.length - 2]. A count of some
  * classes weighs them 1 and the rest 0; processors_applied weighs each
  * class by the steps it ran.
  *
  * Precompiled on purpose. An observation's aggregates update once per
  * row outside whole-stage codegen, and declarative ones do it through a
  * projection Spark generates, compiles and JIT-warms again for every
  * streaming query; this update is one array read and one add.
  */
private[pipeline] case class RouteCount(
    child: Expression,
    weights: Seq[Long],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate with UnaryLike[Expression] {

  private val table = weights.toArray
  // bound to the accumulator's input row: read the int without boxing it
  private val ordinal = child match {
    case b: BoundReference => b.ordinal
    case _ => -1
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "route_count"

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(AttributeReference("total", LongType, nullable = false)())
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override def aggBufferSchema: StructType = DataTypeUtils.fromAttributes(aggBufferAttributes)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"need an int route class, got ${child.dataType}")

  override def initialize(buffer: InternalRow): Unit = buffer.setLong(mutableAggBufferOffset, 0L)
  override def update(buffer: InternalRow, input: InternalRow): Unit = {
    val c = if (ordinal >= 0) input.getInt(ordinal) else child.eval(input).asInstanceOf[Int]
    buffer.setLong(mutableAggBufferOffset, buffer.getLong(mutableAggBufferOffset) + table(c + 1))
  }
  override def merge(buffer: InternalRow, other: InternalRow): Unit =
    buffer.setLong(mutableAggBufferOffset,
      buffer.getLong(mutableAggBufferOffset) + other.getLong(inputAggBufferOffset))
  override def eval(buffer: InternalRow): Any = buffer.getLong(mutableAggBufferOffset)

  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): RouteCount = copy(child = c)
}

private[pipeline] object RouteCount {
  def apply(route: Column, weights: Seq[Long]): Column =
    Bridge.column(RouteCount(Bridge.expression(route), weights).toAggregateExpression())
}
