package graft.functions

/** The PORTABLE dense HyperLogLog core behind `hll_ndv_portable`
  * ([[HllPortableNdv]]): register arithmetic any SQL engine replays
  * (the q174 KMV / q128 Count-Min discipline). The caller feeds values
  * already hashed into [0, PortableDomain) by pure integer arithmetic,
  * so the REGISTER ARRAY and the ESTIMATE are reproducible outside the
  * JVM (the DuckDB oracle rebuilds both — q21). The ~2^30 hash domain
  * keeps estimates accurate to roughly 10^6 NDV; `hll_distinct`
  * (Spark's DataSketches HLL, [[HllFunctions]]) serves beyond that.
  *
  * Register array layout: 2^p byte registers, each holding the max
  * rank seen for its bucket. Merge is an elementwise max, so partial
  * aggregation / shuffle-combine is exact — the sketch behaves
  * identically on 1 or 1000 executors.
  */
object HllSketch {

  def emptyRegisters(precision: Int): Array[Byte] =
    new Array[Byte](1 << precision)

  /** Elementwise max — commutative, associative, idempotent. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length, "precision mismatch")
    var i = 0
    while (i < a.length) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  /** The shared portable hash modulus (1e9+7, < 2^30). */
  val PortableDomain: Long = 1000000007L

  /** Default precision for the portable sketch: 2^12 registers —
    * ~1.6% relative error, rank window of 19 levels.
    */
  val PortablePrecision = 12

  /** Rank ceiling for `precision`: w = h / 2^p ranges over
    * [0, D) with D = (P-1)/2^p + 1; ranks 1..K-1 come from the
    * exact-CDF rule below and w = 0 takes K.
    */
  def portableRankCap(precision: Int): Int = {
    val d = (PortableDomain - 1) / (1L << precision) + 1
    64 - java.lang.Long.numberOfLeadingZeros(d - 1) + 1
  }

  /** Add one PORTABLE hash h ∈ [0, PortableDomain): low p bits of the
    * residue pick the register (h mod m), and the rank of the quotient
    * w = h / m uses EXACT integer CDF thresholds — rank(w) =
    * bitlength((D-1) / w) — so P(rank ≥ r) = ceil(D/2^(r-1))/D, i.e.
    * the geometric 2^-(r-1) law to within 1/D per level. (A plain
    * leading-zeros rank over the non-power-of-two window [0, D) would
    * inflate every tail probability by 2^bits/D ≈ 1.074 and bias
    * estimates up ~7% — measured before this rule replaced it.)
    */
  def addPortable(registers: Array[Byte], h: Long): Unit = {
    val m = registers.length
    val p = Integer.numberOfTrailingZeros(m)
    val dMinus1 = (PortableDomain - 1) / m
    val idx = (h % m).toInt
    val w = h / m
    val rank =
      if (w == 0) portableRankCap(p)
      else 64 - java.lang.Long.numberOfLeadingZeros(dMinus1 / w)
    if (rank > registers(idx)) registers(idx) = rank.toByte
  }

  /** Portable estimate: the harmonic sum is computed as an EXACT
    * integer S = Σ 2^(K−M_j) (K = rank cap; S ≤ 2^31 fits a long for
    * every precision) and divided down by 2^K — both exactly
    * representable doubles — so the float arithmetic is the same
    * shape in every engine: alpha · m · m / (S / 2^K), linear
    * counting m·ln(m/V) below 2.5m, floor(x + 0.5). The DuckDB
    * replay of this expression is bit-identical (the ln branch was
    * swept over the full V domain at p = 12).
    */
  def estimatePortable(registers: Array[Byte]): Long = {
    val m = registers.length
    val k = portableRankCap(Integer.numberOfTrailingZeros(m))
    var s = 0L
    var zeros = 0
    var i = 0
    while (i < m) {
      s += 1L << (k - registers(i))
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val z = s.toDouble / (1L << k).toDouble
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val raw = alpha * m.toDouble * m.toDouble / z
    val est =
      if (raw <= 2.5 * m.toDouble && zeros > 0)
        m.toDouble * math.log(m.toDouble / zeros)
      else raw
    math.floor(est + 0.5).toLong
  }
}
