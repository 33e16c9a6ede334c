package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** `kmv_ndv(hash, k[, domain])` — K-Minimum-Values distinct-count
  * sketch (Bar-Yossef et al. 2002; the theta-sketch family's simplest
  * member): keep the k smallest DISTINCT hash values seen; if fewer
  * than k exist the count is exact, otherwise estimate
  * NDV ≈ (k−1)·domain / h_(k) from the k-th smallest hash. The
  * cardinality-statistics sibling of `hll_distinct` (reference
  * anchor: the hand-maintained vocab_size table, trainer.py:91-118)
  * with one property HLL lacks: given a deterministic engine-portable
  * hash, the ENTIRE sketch state — the k values themselves — is
  * replayable in plain SQL (`row_number() ... ORDER BY h`), so the
  * estimate hash-compares across engines, integer-exact.
  *
  * Mergeable (set-union, re-truncate to k): partial aggregation holds,
  * each map task shuffles ≤ k longs per group, and the union of two
  * sketches is the sketch of the union — the same bounded-state
  * contract as the HLL/Bloom/Misra–Gries/Count-Min siblings. Insertion
  * keeps a sorted set, so update is O(log k) with early exit when the
  * value exceeds the current k-th minimum.
  *
  * The input must already be the hash (a LONG uniform on [0, domain)):
  * hashing stays in the query where the oracle can replay it. NULLs
  * are ignored; values outside [0, domain) are rejected at runtime —
  * a wrong domain silently biases the estimate, so it fails loudly.
  */
case class KmvNdv(
    child: Expression,
    k: Int,
    domain: Long = 1000000007L,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with UnaryLike[Expression] {

  require(k > 1 && k <= 65536, "k in [2, 65536]")
  require(domain > 1, "domain must be positive")

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty

  override def update(
      buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) KmvOps.insert(buf, v.asInstanceOf[Long], k, domain)
    buf
  }

  override def merge(
      a: mutable.TreeSet[Long], b: mutable.TreeSet[Long])
      : mutable.TreeSet[Long] = {
    b.foreach(KmvOps.insert(a, _, k, domain))
    a
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    KmvOps.estimate(buf, k, domain)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] =
    KmvOps.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] =
    KmvOps.deserialize(bytes)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_ndv"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kmv_ndv requires a BIGINT hash column, got ${other.sql}")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvNdv =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvNdv =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvNdv =
    copy(child = newChild)
}

/** The shared bottom-k state operations of the KMV family — one
  * spelling of insert/estimate/serde consumed by [[KmvNdv]],
  * [[KmvSketchAgg]] and [[KmvUnion]].
  */
private[functions] object KmvOps {
  def insert(buf: mutable.TreeSet[Long], h: Long, k: Int,
      domain: Long): Unit = {
    if (h < 0 || h >= domain)
      throw new IllegalArgumentException(
        s"kmv: hash $h outside [0, $domain)")
    if (buf.size < k) buf.add(h)
    else if (h < buf.last && buf.add(h)) buf.remove(buf.last)
  }

  def estimate(buf: mutable.TreeSet[Long], k: Int, domain: Long): Long =
    if (buf.size < k) buf.size.toLong
    else {
      val kth = buf.last
      if (kth == 0L) buf.size.toLong
      else (k - 1).toLong * domain / kth // floor division, positive args
    }

  def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[Long]
    (0 until n).foreach(_ => buf.add(in.readLong()))
    buf
  }
}

/** `kmv_sketch_agg(hash, k[, domain])` — the KMV SKETCH ITSELF: the
  * sorted k smallest distinct hash values, ArrayType(LongType) — the
  * storable summary-measure form. Bottom-k is a mergeable summary
  * (the k smallest over a union lie in the union of the per-part k
  * smallest), so per-grain arrays re-truncate to EXACTLY the
  * whole-group sketch — and unlike the HLL registers, the whole state
  * is SQL-replayable (`row_number() OVER (ORDER BY hash)`), so a
  * summary-ROUTED estimate hash-compares against a DuckDB replay of
  * the raw table (q174).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    domain: Long = 1000000007L,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with UnaryLike[Expression] {

  require(k > 1 && k <= 65536, "k in [2, 65536]")
  require(domain > 1, "domain must be positive")

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty

  override def update(
      buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) KmvOps.insert(buf, v.asInstanceOf[Long], k, domain)
    buf
  }

  override def merge(
      a: mutable.TreeSet[Long], b: mutable.TreeSet[Long])
      : mutable.TreeSet[Long] = {
    b.foreach(KmvOps.insert(a, _, k, domain))
    a
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] =
    KmvOps.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] =
    KmvOps.deserialize(bytes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch_agg"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kmv_sketch_agg requires a BIGINT hash column, got ${other.sql}")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): KmvSketchAgg = copy(child = newChild)
}

/** `kmv_union(sketch, k[, domain][, asEstimate])` — re-aggregates
  * stored KMV arrays ([[KmvSketchAgg]]'s output) by set-union +
  * re-truncation. eval returns the merged ESTIMATE (LongType,
  * default — what a routed `kmv_ndv` becomes) or the merged SKETCH
  * array (what a summary refresh stores for the next generation).
  */
case class KmvUnion(
    child: Expression,
    k: Int,
    domain: Long = 1000000007L,
    asEstimate: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with UnaryLike[Expression] {

  require(k > 1 && k <= 65536, "k in [2, 65536]")
  require(domain > 1, "domain must be positive")

  // misuse fails at ANALYSIS (like kmv_ndv), not as an executor-side
  // ClassCastException mid-job
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"kmv_union requires array<bigint> (a KMV bottom-k " +
              s"state), got ${other.sql}")
    }

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty

  override def update(
      buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        KmvOps.insert(buf, arr.getLong(i), k, domain)
        i += 1
      }
    }
    buf
  }

  override def merge(
      a: mutable.TreeSet[Long], b: mutable.TreeSet[Long])
      : mutable.TreeSet[Long] = {
    b.foreach(KmvOps.insert(a, _, k, domain))
    a
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    if (asEstimate) KmvOps.estimate(buf, k, domain)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] =
    KmvOps.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] =
    KmvOps.deserialize(bytes)

  override def dataType: DataType =
    if (asEstimate) LongType else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_union"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): KmvUnion = copy(child = newChild)
}

object KmvFunctions {
  /** KMV distinct estimate of a pre-hashed LONG column. */
  def kmv_ndv(hash: Column, k: Int,
      domain: Long = 1000000007L): Column =
    GraftColumnBridge.column(
      KmvNdv(GraftColumnBridge.expression(hash), k, domain)
        .toAggregateExpression())
}
