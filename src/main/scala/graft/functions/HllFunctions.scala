package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, HllSketchEstimate, HllUnion, If, IsNull, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, HllSketchAgg, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, LongType, StringType}

/** `hll_ndv_portable(h[, p])` — the PORTABLE-hash HLL: approximate
  * distinct count over values ALREADY hashed into
  * [0, [[HllSketch.PortableDomain]]) by the engine's replayable
  * integer hash family (see [[HllFunctions.portableHash]]). Unlike
  * [[HllFunctions.hll_distinct]] (Spark's DataSketches HLL — no other
  * engine rebuilds its registers), every bit of this sketch is
  * pure integer arithmetic on the caller-visible hash, so a SQL
  * oracle rebuilds register array AND estimate exactly (q21's
  * DuckDB replay; the q174 KMV / q128 Count-Min discipline applied
  * to HLL). Same mergeable register-max algebra, same one-pass /
  * O(2^p)-state scale story; accuracy holds to ~10^6 NDV (the ~2^30
  * hash domain's ceiling) — use [[HllFunctions.hll_distinct]] beyond
  * that.
  *
  * Out-of-range input (an unhashed value) fails loudly: silently
  * folding it in would produce estimates no oracle can reproduce.
  */
case class HllPortableNdv(
    child: Expression,
    precision: Int = HllSketch.PortablePrecision,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(precision >= 4 && precision <= 18, "precision must be in [4,18]")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            "hll_ndv_portable requires a long PRE-HASHED into " +
              s"[0, ${HllSketch.PortableDomain}), got ${other.sql}")
    }

  override def createAggregationBuffer(): Array[Byte] =
    HllSketch.emptyRegisters(precision)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (h < 0 || h >= HllSketch.PortableDomain)
        throw new IllegalArgumentException(
          s"hll_ndv_portable input $h outside [0, " +
            s"${HllSketch.PortableDomain}) — hash with the portable " +
            "integer discipline first (e.g. HllFunctions.portableHash)")
      HllSketch.addPortable(buffer, h)
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    HllSketch.merge(buffer, other)

  override def eval(buffer: Array[Byte]): Any =
    HllSketch.estimatePortable(buffer)

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_ndv_portable"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllPortableNdv =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllPortableNdv =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): HllPortableNdv = copy(child = newChild)
}

/** `hll_distinct` on Spark's built-in DataSketches HLL, and the
  * Column-API helpers for the sketch functions.
  *
  * `hll_distinct(x[, p])` is one canonical tree,
  * `hll_sketch_estimate(hll_union(s, s))` with
  * `s = hll_sketch_agg(x', p)`. A sketch fresh from `hll_sketch_agg`
  * estimates with its insertion-order-dependent HIP counter; the
  * self-union drops that counter, so the estimate reads the registers
  * alone — the same value on one partition, on many, and from
  * `hll_union_agg` over stored per-grain sketches (the summary
  * router's substitution, [[Distinct]]). `x'` is `x` for int, long,
  * string and binary, which the sketch takes natively (it skips empty
  * strings and empty binaries, as DataSketches does), and a
  * null-guarded `xxhash64(x)` for every other type.
  */
object HllFunctions {
  import org.apache.spark.sql.GraftColumnBridge
  import org.apache.spark.sql.functions.{call_function, lit, shiftright}

  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  /** Default precision: lgConfigK 14, 2^14 registers — ~0.8% error. */
  val DefaultPrecision = 14

  /** The one `hll_distinct` builder, over a RESOLVED `x`. */
  def hll_distinct(x: Expression, precision: Int,
      filter: Option[Expression] = None): Expression = {
    canonicalEstimate(
      sketchAgg(x, precision).toAggregateExpression(false, filter))
  }

  /** The canonical finalizer over a sketch `s`:
    * `hll_sketch_estimate(hll_union(s, s))`.
    */
  def canonicalEstimate(s: Expression): Expression =
    HllSketchEstimate(new HllUnion(s, s))

  /** The sketch a summary stores for a `hll_distinct(x)` measure. */
  def sketchAgg(x: Expression, precision: Int): HllSketchAgg =
    new HllSketchAgg(sketchInput(x), Literal(precision))

  private def native(t: DataType): Boolean = t match {
    case IntegerType | LongType | BinaryType | _: StringType => true
    case _ => false
  }

  private def sketchInput(x: Expression): Expression =
    if (native(x.dataType)) x
    else If(IsNull(x), Literal(null, LongType), new XxHash64(Seq(x)))

  /** `hll_sketch_agg(x', p)` as [[sketchAgg]] builds it: (x, p). The
    * optimizer folds the null guard away when `x` cannot be null.
    */
  object Sketch {
    def unapply(f: AggregateFunction): Option[(Expression, Int)] = f match {
      case HllSketchAgg(in, Literal(p: Int, IntegerType), _, _) =>
        Some((in match {
          case If(IsNull(x), Literal(null, _), XxHash64(Seq(x2), 42L))
              if x.semanticEquals(x2) => x
          case XxHash64(Seq(x), 42L) if !x.nullable && !native(x.dataType) =>
            x
          case x => x
        }, p))
      case _ => None
    }
  }

  /** The canonical `hll_distinct` tree: (its sketch aggregate, x, p).
    * The summary router and `CREATE MATERIALIZED VIEW` recognise the
    * measure through this one extractor.
    */
  object Distinct {
    def unapply(e: Expression)
        : Option[(AggregateExpression, Expression, Int)] = e match {
      case HllSketchEstimate(HllUnion(
          ae @ AggregateExpression(Sketch(x, p), _, false, None, _),
          ae2, Literal(false, BooleanType))) if ae2 == ae =>
        Some((ae, x, p))
      case _ => None
    }
  }

  /** Approximate distinct count of `c` (default precision, ~0.8% err).
    * Resolves through the session's `hll_distinct` registration, so
    * it needs a graft session ([[graft.GraftSession]]).
    */
  def hll_distinct(c: Column): Column = hll_distinct(c, DefaultPrecision)

  def hll_distinct(c: Column, precision: Int): Column =
    call_function("hll_distinct", c, lit(precision))

  /** The portable NDV sketch over a pre-hashed long column. */
  def hll_ndv_portable(c: Column): Column =
    GraftColumnBridge.column(
      HllPortableNdv(expr(c)).toAggregateExpression())

  def hll_ndv_portable(c: Column, precision: Int): Column =
    GraftColumnBridge.column(
      HllPortableNdv(expr(c), precision).toAggregateExpression())

  /** The portable MIX: affine + xorshift rounds mod 1e9+7, every op
    * integer-exact and SQL-replayable (`xor(h, h >> 13)` etc. in
    * DuckDB). Two multiplicative rounds separated by xorshifts break
    * the arithmetic-progression structure a single affine leaves on
    * sequential keys — a structure HLL's max-rank statistics are
    * sensitive to (single-affine measured +24–37% on TPC-H keys; this
    * mix lands within the standard ±1.04/√m band). Products stay
    * below 2^61, so JVM longs and ANSI engines agree. Input: any
    * non-negative integral column (apply `poly_fingerprint` first for
    * strings); output ∈ [0, PortableDomain).
    */
  def portableHash(v: Column): Column = {
    val P = lit(HllSketch.PortableDomain)
    val h1 = (v % P) * lit(2654435761L) % P
    val h2 = h1.bitwiseXOR(shiftright(h1, 13))
    val h3 = h2 * lit(1610612741L) % P
    h3.bitwiseXOR(shiftright(h3, 11)) % P
  }
}
