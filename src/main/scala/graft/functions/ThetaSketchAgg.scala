package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Theta sketch (Dasgupta, Lang, Rhodes, "A Framework for Estimating
  * Stream Expression Cardinalities", EDBT'16) as the fourth mergeable
  * summary next to HLL distinct, KLL quantiles, and Misra-Gries heavy
  * hitters — the one that buys SET OPERATIONS: unlike HLL, theta
  * sketches support intersection and difference with bounded error, so
  * "how many vocabulary items do corpus A and corpus B share" runs as
  * two sketch scans + a kilobyte-sized intersect instead of a distinct
  * self-join — at 100 TB the only viable audience-overlap shape. The
  * buffer IS a theta Union (map-side partials merge associatively); the
  * eval output is the serialized CompactSketch, which downstream
  * expressions ([[ThetaSketchAgg.theta_estimate]] /
  * [[ThetaSketchAgg.theta_intersect_estimate]]) consume IN-PLAN — no
  * driver-side sketch math in the declared query. */
case class ThetaSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  override def createAggregationBuffer(): Union =
    SetOperation.builder().buildUnion()

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(a: Union, b: Union): Union = {
    a.union(b.getResult())
    a
  }

  override def eval(buf: Union): Any = buf.getResult().toByteArray

  override def serialize(buf: Union): Array[Byte] = buf.getResult().toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().buildUnion()
    u.union(Memory.wrap(bytes))
    u
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "theta_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Distinct-count estimate of a serialized theta sketch. Interpreted
  * eval (CodegenFallback) — it runs once per GROUP, not per row, so
  * codegen would buy nothing. */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(bytes: Any): Any =
    Sketches.wrapSketch(Memory.wrap(bytes.asInstanceOf[Array[Byte]])).getEstimate
  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
  override def prettyName: String = "theta_estimate"
}

/** |A ∩ B| estimate from two serialized theta sketches — the operation
  * HLL cannot do. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(CompactSketch.wrap(Memory.wrap(a.asInstanceOf[Array[Byte]])))
    i.intersect(CompactSketch.wrap(Memory.wrap(b.asInstanceOf[Array[Byte]])))
    i.getResult().getEstimate
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectEstimate =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "theta_intersect_estimate"
}

/** |A \ B| estimate (AnotB) — with union and intersection this closes
  * the set algebra over sketches. */
case class ThetaDiffEstimate(left: Expression, right: Expression)
  extends BinaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val op = SetOperation.builder().buildANotB()
    op.setA(CompactSketch.wrap(Memory.wrap(a.asInstanceOf[Array[Byte]])))
    op.notB(CompactSketch.wrap(Memory.wrap(b.asInstanceOf[Array[Byte]])))
    op.getResult(true).getEstimate
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaDiffEstimate =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "theta_diff_estimate"
}

object ThetaSketchAgg {
  /** `theta_sketch(x)` → serialized CompactSketch bytes per group. */
  def theta_sketch(x: Column): Column =
    GraftColumnBridge.toColumn(
      ThetaSketchAgg(GraftColumnBridge.toExpression(x.cast("string")))
        .toAggregateExpression())

  def theta_estimate(sk: Column): Column =
    GraftColumnBridge.toColumn(
      ThetaEstimate(GraftColumnBridge.toExpression(sk)))

  def theta_intersect_estimate(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(
      ThetaIntersectEstimate(
        GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))

  def theta_diff_estimate(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(
      ThetaDiffEstimate(
        GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))
}
