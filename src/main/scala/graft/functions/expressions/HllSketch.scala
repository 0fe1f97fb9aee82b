package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The PERSISTABLE half of the HLL family (SURVEY.md storage layer):
  * `HllSketchBuild` aggregates values into the raw register bytes —
  * the sketch COLUMN a snapshot table stores per key — and the scalar
  * `HllUnion` / `HllEstimate` expressions merge and read such columns.
  * Because union is elementwise max, a distinct-count kept as a
  * sketch column is incrementally maintainable: each micro-batch
  * unions its delta sketch into the stored one (a `BucketedUpsert`
  * merge of `HllUnion`, as `BucketedUpsertSpec`'s additive model
  * test runs it), and any
  * rollup (day → month, user → cohort) is a re-aggregation of bytes,
  * never a recount of 100 TB of raw events.
  */
case class HllSketchBuild(
    child: Expression,
    p: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << p)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null)
      HllOps.update(buf, XxHash64Function.hash(v, child.dataType, 42L))
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllOps.unionInto(a, b)

  override def eval(buf: Array[Byte]): Any = buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(off: Int): HllSketchBuild =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): HllSketchBuild =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketchBuild =
    copy(child = newChildren.head)
}

object HllSketchBuild {
  def apply(c: Column, p: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      HllSketchBuild(org.apache.spark.sql.graft.ColumnBridge.expression(c), p)
        .toAggregateExpression())
  def apply(c: Column): Column = apply(c, 12)
}

/** Elementwise-max union of two sketch byte columns (codegen'd via a
  * static call; strict nulls — callers coalesce for absent sides). */
case class HllUnion(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hll_union expects (binary, binary), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HllOps.union(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.HllOps.union($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllUnion =
    copy(left = newLeft, right = newRight)
}

object HllUnion {
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(HllUnion(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))
}

/** Cardinality estimate of a sketch byte column. */
case class HllEstimate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hll_estimate expects binary, got ${child.dataType}")

  override protected def nullSafeEval(bytes: Any): Any =
    HllOps.estimate(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b =>
      s"graft.functions.expressions.HllOps.estimate($b)")

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

object HllEstimate {
  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      HllEstimate(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}
