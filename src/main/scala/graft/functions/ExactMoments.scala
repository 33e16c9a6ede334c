package graft.functions

import java.math.BigDecimal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{TernaryLike, UnaryLike}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType}

/** EXACT second-moment state: (n, Σx, Σx²) in unbounded decimals —
  * the order-independent variance algebra. Spark's own stddev/var
  * family runs Welford in doubles, whose partial-merge arithmetic is
  * partition-order dependent in the low bits: fine for a dashboard,
  * unusable for anything that must re-aggregate bit-identically (a
  * materialized-view route, a cross-engine oracle). This family is
  * the variance counterpart of the decimal-AVG discipline: sums are
  * exact, the ONE floating step is the final quotient
  *
  *   var = toDouble(n·Σx² − (Σx)²) / toDouble(n·(n − ddof))
  *
  * so any engine that can sum decimals exactly reproduces the result
  * to the last bit of the two double conversions. Input must be
  * DECIMAL — doubles fail at ANALYSIS (their sums re-order; an
  * "exact" variance over them would be a lie), the same fail-closed
  * stance the MV router takes.
  *
  * [[ExactMoments]] aggregates raw rows; [[ExactMomentsMerge]]
  * re-aggregates stored (Σx, Σx², non-null n) legs — what a routed
  * query runs over a summary's measures (SummaryRewrite), exactly
  * the split of Spark's `hll_sketch_agg`/`hll_union_agg` under a
  * routed `hll_distinct`.
  */
object ExactMoments {

  /** Mutable exact buffer. */
  final class Buf(
      var n: Long,
      var sum: BigDecimal,
      var sumsq: BigDecimal)

  def emptyBuf(): Buf = new Buf(0L, BigDecimal.ZERO, BigDecimal.ZERO)

  def mergeBuf(a: Buf, b: Buf): Buf = {
    a.n += b.n
    a.sum = a.sum.add(b.sum)
    a.sumsq = a.sumsq.add(b.sumsq)
    a
  }

  /** n==0 → null (no rows, like Spark); 0 < n ≤ ddof → NaN (variance
    * undefined); else the exact-legs quotient, √ for stddev.
    */
  def evalBuf(buf: Buf, ddof: Int, asStddev: Boolean): Any =
    if (buf.n == 0L) null
    else if (buf.n - ddof <= 0L) Double.NaN
    else {
      val n = new BigDecimal(buf.n)
      val num = n.multiply(buf.sumsq)
        .subtract(buf.sum.multiply(buf.sum)) // ≥ 0 exactly (C-S)
      val den = n.multiply(new BigDecimal(buf.n - ddof))
      val v = num.doubleValue() / den.doubleValue()
      if (asStddev) math.sqrt(v) else v
    }

  def serializeBuf(buf: Buf): Array[Byte] = {
    val su = buf.sum.unscaledValue.toByteArray
    val qu = buf.sumsq.unscaledValue.toByteArray
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 4 + su.length + 4 + 4 + qu.length)
    bb.putLong(buf.n)
    bb.putInt(buf.sum.scale); bb.putInt(su.length); bb.put(su)
    bb.putInt(buf.sumsq.scale); bb.putInt(qu.length); bb.put(qu)
    bb.array()
  }

  def deserializeBuf(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong
    def dec(): BigDecimal = {
      val scale = bb.getInt
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      new BigDecimal(new java.math.BigInteger(arr), scale)
    }
    new Buf(n, dec(), dec())
  }

  private def requireDecimal(e: Expression, fn: String): TypeCheckResult =
    e.dataType match {
      case _: DecimalType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires a DECIMAL input (cast first) — double sums " +
          s"re-order under partial aggregation, so an exact variance " +
          s"over ${other.sql} cannot exist")
    }

  private[functions] def checkRaw(child: Expression, fn: String) =
    requireDecimal(child, fn)

  private[functions] def checkMerge(sum: Expression, sumsq: Expression,
      nn: Expression, fn: String): TypeCheckResult = {
    val s = requireDecimal(sum, fn)
    if (!s.isSuccess) return s
    val q = requireDecimal(sumsq, fn)
    if (!q.isSuccess) return q
    nn.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn count leg must be integral, got ${other.sql}")
    }
  }
}

/** `var_samp_exact(x)` / `var_pop_exact` / `stddev_samp_exact` /
  * `stddev_pop_exact` over a DECIMAL column — see [[ExactMoments]].
  */
case class ExactMomentsAgg(
    child: Expression,
    ddof: Int,
    asStddev: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactMoments.Buf]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    ExactMoments.checkRaw(child, prettyName)

  override def createAggregationBuffer(): ExactMoments.Buf =
    ExactMoments.emptyBuf()

  override def update(buf: ExactMoments.Buf,
      input: InternalRow): ExactMoments.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val bd = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal
      buf.n += 1L
      buf.sum = buf.sum.add(bd)
      buf.sumsq = buf.sumsq.add(bd.multiply(bd))
    }
    buf
  }

  override def merge(a: ExactMoments.Buf,
      b: ExactMoments.Buf): ExactMoments.Buf = ExactMoments.mergeBuf(a, b)

  override def eval(buf: ExactMoments.Buf): Any =
    ExactMoments.evalBuf(buf, ddof, asStddev)

  override def serialize(buf: ExactMoments.Buf): Array[Byte] =
    ExactMoments.serializeBuf(buf)
  override def deserialize(bytes: Array[Byte]): ExactMoments.Buf =
    ExactMoments.deserializeBuf(bytes)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String =
    (if (asStddev) "stddev" else "var") +
      (if (ddof == 0) "_pop_exact" else "_samp_exact")

  override def withNewMutableAggBufferOffset(o: Int): ExactMomentsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactMomentsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(
      newChild: Expression): ExactMomentsAgg = copy(child = newChild)
}

/** Re-aggregation of stored exact legs: `first` = per-grain Σx
  * (decimal sum measure), `second` = per-grain Σx² (the declared
  * sumsq measure), `third` = per-grain non-null count. Folding them
  * rebuilds the identical (n, Σx, Σx²) buffer [[ExactMomentsAgg]]
  * builds from raw rows — decimal addition is associative — so the
  * routed answer is bit-identical. What [[graft.plans.SummaryRewrite]]
  * substitutes for a qualifying exact-variance aggregate.
  */
case class ExactMomentsMerge(
    first: Expression,
    second: Expression,
    third: Expression,
    ddof: Int,
    asStddev: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactMoments.Buf]
  with TernaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    ExactMoments.checkMerge(first, second, third, prettyName)

  override def createAggregationBuffer(): ExactMoments.Buf =
    ExactMoments.emptyBuf()

  override def update(buf: ExactMoments.Buf,
      input: InternalRow): ExactMoments.Buf = {
    val s = first.eval(input)
    val q = second.eval(input)
    val c = third.eval(input)
    if (c != null) {
      val cnt = c match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      if (cnt > 0L) {
        buf.n += cnt
        // a positive count implies non-null sums (they summed ≥1 row)
        buf.sum = buf.sum.add(s
          .asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
        buf.sumsq = buf.sumsq.add(q
          .asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      }
    }
    buf
  }

  override def merge(a: ExactMoments.Buf,
      b: ExactMoments.Buf): ExactMoments.Buf = ExactMoments.mergeBuf(a, b)

  override def eval(buf: ExactMoments.Buf): Any =
    ExactMoments.evalBuf(buf, ddof, asStddev)

  override def serialize(buf: ExactMoments.Buf): Array[Byte] =
    ExactMoments.serializeBuf(buf)
  override def deserialize(bytes: Array[Byte]): ExactMoments.Buf =
    ExactMoments.deserializeBuf(bytes)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String =
    (if (asStddev) "stddev" else "var") +
      (if (ddof == 0) "_pop_exact_merge" else "_samp_exact_merge")

  override def withNewMutableAggBufferOffset(o: Int): ExactMomentsMerge =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactMomentsMerge =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): ExactMomentsMerge =
    copy(first = f, second = s, third = t)
}

/** Column-API helpers. */
object ExactMomentsFunctions {
  import org.apache.spark.sql.GraftColumnBridge

  private def mk(c: Column, ddof: Int, asStddev: Boolean): Column =
    GraftColumnBridge.column(ExactMomentsAgg(
      GraftColumnBridge.expression(c), ddof, asStddev)
      .toAggregateExpression())

  def var_samp_exact(c: Column): Column = mk(c, 1, asStddev = false)
  def var_pop_exact(c: Column): Column = mk(c, 0, asStddev = false)
  def stddev_samp_exact(c: Column): Column = mk(c, 1, asStddev = true)
  def stddev_pop_exact(c: Column): Column = mk(c, 0, asStddev = true)
}
