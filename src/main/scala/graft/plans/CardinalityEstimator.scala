package graft.plans

import org.apache.datasketches.hll.{HllSketch => DataSketchesHll, TgtHllType}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import graft.functions.HllFunctions
import graft.sources.Tables

/** Per-column NDV estimation and the hash-domain sizing rule built on
  * it — the end-to-end flow the reference performs by hand: measure
  * distinct counts offline (`vocab_size`, trainer.py:91-118), then
  * size each categorical hash domain as `ndv * 5`
  * (trainer.py:264).
  *
  * All columns are sketched in ONE job (Spark's DataSketches HLL at
  * precision 14), so analyzing a 40-column 100 TB table costs the same
  * pass a count(*) does. [[GraftAnalyze]] reads its NDVs from the same
  * estimate.
  *
  * Spark's `HllSketchAgg` is bound to the selected columns'
  * `InternalRow`s; each task builds one sketch per column as a
  * compact HLL_4 sketch (the same register values as the aggregate's
  * HLL_8 buffer, in fewer bytes). Up to 5 partitions each task sends
  * its sketches to the driver, which unions them, with no exchange;
  * past that one level of unions on the executors (an exchange of
  * √partitions partitions) runs first, so the driver receives about
  * √partitions partials. A task writes what it sends the driver once,
  * through the session's block codec (`GraftColumnBridge.compress`).
  * Each column is finalized on the driver as the canonical
  * `hll_distinct` estimate, `hll_sketch_estimate(hll_union(s, s))`.
  */
object CardinalityEstimator {

  val BucketMultiplier = 5 // trainer.py:264

  /** Up to this many partitions [[vocabSizes]] unions every task's
    * sketches on the driver; past it, a level of unions on the
    * executors comes first.
    */
  private val DriverUnionPartials = 5

  /** Approximate NDV for each named column, in one job. */
  def vocabSizes(df: DataFrame, cols: Seq[String]): Map[String, Long] = {
    val selected = df.select(cols.map(col): _*)
    val aggs = selected.schema.fields.zipWithIndex.map { case (f, i) =>
      HllFunctions.sketchAgg(BoundReference(i, f.dataType, f.nullable),
        HllFunctions.DefaultPrecision)
    }
    // the union of `parts`, each one compact sketch per column
    val union = (parts: Iterator[Array[Array[Byte]]]) => {
      val acc = aggs.map(_.createAggregationBuffer())
      parts.foreach { p =>
        aggs.indices.foreach { i =>
          acc(i) = aggs(i).merge(acc(i), DataSketchesHll.heapify(p(i)))
        }
      }
      acc.map(compact)
    }
    val pack = (sketches: Array[Array[Byte]]) =>
      GraftColumnBridge.compress { out =>
        sketches.foreach { b => out.writeInt(b.length); out.write(b) }
      }
    val unpack = (bytes: Array[Byte]) =>
      GraftColumnBridge.decompress(bytes) { in =>
        Array.fill(aggs.length) {
          val b = new Array[Byte](in.readInt()); in.readFully(b); b
        }
      }
    val partials = selected.queryExecution.toRdd.mapPartitions { rows =>
      val buffers = aggs.map(_.createAggregationBuffer())
      rows.foreach { row =>
        var i = 0
        while (i < aggs.length) {
          buffers(i) = aggs(i).update(buffers(i), row); i += 1
        }
      }
      Iterator.single(buffers.map(compact))
    }
    val n = partials.getNumPartitions
    val shipped =
      if (n <= DriverUnionPartials) partials.map(pack)
      else {
        // one level of unions on the executors, as `treeAggregate`
        // adds: the exchange moves plain sketches, which the shuffle
        // codec compresses
        val k = math.ceil(math.sqrt(n)).toInt
        partials.mapPartitionsWithIndex((i, ps) => ps.map(i % k -> _))
          .partitionBy(new HashPartitioner(k)).values
          .mapPartitions(ps => Iterator.single(pack(union(ps))))
      }
    val sketches = union(shipped.collect().iterator.map(unpack))
    cols.zip(sketches.map { s =>
      HllFunctions.canonicalEstimate(Literal(s, BinaryType)).eval()
        .asInstanceOf[Long]
    }).toMap
  }

  private def compact(sketch: DataSketchesHll): Array[Byte] =
    sketch.copyAs(TgtHllType.HLL_4).toCompactByteArray

  /** The reference's sizing rule: hash-bucket domain = ndv × 5. */
  def bucketSizes(vocab: Map[String, Long]): Map[String, Long] =
    vocab.map { case (c, n) => c -> n * BucketMultiplier }

  /** Heavy hitters of a column as rows — the frequency half of the
    * column-statistics story (exact when ndv ≤ capacity, which the
    * oracle relies on). One scan, sketch-sized shuffle.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .agg(graft.functions.FreqFunctions.freq_topk(col("event_type"), 8)
        .as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.value").as("value"), col("h.cnt").as("cnt"))
      .orderBy(desc("cnt"), asc("value"))

  /** Long-form table of (column, approx ndv, bucket size) for the
    * categorical columns of a table — the engine's rendition of the
    * reference's `vocab_size` dict, through the PORTABLE HLL
    * ([[graft.functions.HllPortableNdv]]): keys hash with the affine
    * + xorshift mix, strings through the Karp–Rabin fold first, so
    * the DuckDB oracle rebuilds the register array and lands on the
    * SAME integer estimate (the q174/q128 discipline — this was the
    * suite's last rows-only query until the sketch moved onto the
    * portable hash family). Accuracy is additionally property-tested
    * against exact counts. Still ONE scan, 5 sketches, O(2^p) state
    * per column — the 100 TB ANALYZE shape.
    */
  def vocabTable(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HllFunctions.{hll_ndv_portable, portableHash}
    val li = Tables.load(spark, sfDir, "lineitem")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val longCols = Seq("l_partkey", "l_suppkey", "l_orderkey")
    val cols = strCols ++ longCols
    // the hashes are a SELECT below the aggregate, not the aggregate
    // children: a TypedImperativeAggregate evaluates its child
    // INTERPRETED per update, so the mix arithmetic must sit in the
    // whole-stage-codegen'd projection (measured 4× on this query)
    val hashed = li.select(
      strCols.map(c => portableHash(
        graft.functions.TextKernels.poly_fingerprint(col(c))).as(c)) ++
        longCols.map(c => portableHash(col(c)).as(c)): _*)
    val aggs = cols.map(c => hll_ndv_portable(col(c)).as(c))
    val wide = hashed.agg(aggs.head, aggs.tail: _*) // ONE scan, 5 sketches
    val stackArgs = cols.map(c => s"'$c', $c").mkString(", ")
    wide.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, approx_ndv)"))
      .withColumn("n_buckets", col("approx_ndv") * BucketMultiplier)
      .orderBy("column_name")
  }

  /** The vocab table again, through the KMV sketch and AUDITED — per
    * key column of the fact table: exact NDV next to the
    * [[graft.functions.KmvNdv]] estimate. Unlike [[vocabTable]]'s HLL
    * (whose register layout no other engine replays), the KMV state is
    * just "the k smallest distinct hashes", and the hash here is the
    * portable (v mod p)·2654435761 mod p integer arithmetic — so the
    * DuckDB oracle rebuilds the k-th order statistic with a
    * row_number window and lands on the SAME integer estimate. The
    * fixture's l_suppkey NDV sits below k, exercising the exact branch;
    * the other two estimate.
    *
    * Production shape: `kmv_ndv` alone is one scan with O(k) state per
    * (group × column) and map-side partial merge — the exact column
    * here is the audit, priced like q06's distinct. The melt triples
    * rows BEFORE the distinct, which is what lets one hash shuffle
    * dedup all three columns in a single exchange.
    */
  def kmvVocabTable(spark: SparkSession, sfDir: String,
      k: Int = 128): DataFrame = {
    val P = 1000000007L
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val melted = Tables.load(spark, sfDir, "lineitem")
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).as("v"))): _*)).as("m"))
      .select(col("m.column_name").as("column_name"), col("m.v").as("v"))
    val distinctV = melted.distinct()
    distinctV
      .withColumn("h", (col("v") % lit(P)) * lit(2654435761L) % lit(P))
      .groupBy("column_name")
      .agg(count(lit(1)).as("exact_ndv"),
        graft.functions.KmvFunctions.kmv_ndv(col("h"), k, P).as("kmv_ndv"))
      .orderBy("column_name")
  }

  /** JOIN-SIZE estimation from a deterministic key-domain sample,
    * audited against the exact answer — the estimator applied to the
    * question a cost-based planner actually asks: how many rows does
    * `lineitem ⋈ lineitem ON l_partkey` produce? (Self-join size
    * Σ c_k² is the classic skew-sensitive cardinality, the second
    * frequency moment F₂.)
    *
    * The estimate samples the KEY DOMAIN, not rows: keys whose
    * portable hash falls below P/rate form a 1-in-rate pseudo-random
    * key subset, every occurrence of a sampled key is counted
    * (per-key counts are EXACT within the sample — row sampling would
    * bias c² terms down), and Σ c² over the sample scales by `rate`.
    * At 100 TB the sampled aggregate's hash predicate prunes at the
    * scan (a pushed integer filter on a key expression), so the
    * estimator reads ~1/rate of the fact table and shuffles only
    * sampled keys; the exact twin runs here as the audit column, the
    * thing the estimate replaces in production.
    *
    * Everything is integer arithmetic on deterministic hashes, so the
    * oracle replays estimate AND error to the last bit.
    */
  def joinCardEstimate(spark: SparkSession, sfDir: String,
      rate: Long = 64L): DataFrame = {
    val P = 1000000007L
    val threshold = P / rate // integer floor, replayed as P // rate
    val li = Tables.load(spark, sfDir, "lineitem")
    val keyHash = (col("l_partkey") % lit(P)) * lit(2654435761L) % lit(P)
    val counts = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("c"))
      .withColumn("h", keyHash)
    counts.agg(
        sum(col("c") * col("c")).as("exact_pairs"),
        (coalesce(sum(when(col("h") < threshold, col("c") * col("c"))),
          lit(0L)) * rate).as("est_pairs"))
      .select(col("exact_pairs"), col("est_pairs"),
        round((col("est_pairs") - col("exact_pairs")).cast("double") /
          col("exact_pairs").cast("double") * 100, 2).as("rel_err_pct"))
  }

  /** KMV SET ALGEBRA — union size, intersection size, and Jaccard
    * between two key domains from bottom-k sketches alone (Beyer et
    * al., "On synopses for distinct-value estimation under multiset
    * operations", SIGMOD'07): the k smallest distinct hashes of the
    * UNION are a uniform sample of it, so the fraction ρ of that
    * sample present in both sets estimates |A∩B| = ρ·|A∪B|.
    *
    * Sets here: parts shipped as returnflag 'R' vs flag 'A' — two
    * overlapping key domains off one fact scan. Per set the state is
    * its k smallest distinct hashes (mergeable, O(k)); the union
    * sketch is the bottom-k of the two states' union — no re-scan.
    * The audit columns recompute the exact sizes; at 100 TB only the
    * sketch path runs (one scan, O(k) state), the planner consumes
    * union/intersection/Jaccard without ever shuffling a key domain.
    *
    * Small-domain branch: when the union has FEWER than k distinct
    * hashes (m < k — at exactly k the (k−1)·P/kth estimator branch
    * runs) the sample IS the union and every estimate turns exact —
    * integer branches both engines replay identically.
    */
  def kmvSetAlgebra(spark: SparkSession, sfDir: String,
      k: Int = 256): DataFrame = {
    val P = 1000000007L
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("f"),
        ((col("l_partkey") % lit(P)) * lit(2654435761L) % lit(P)).as("h"))
      .filter(col("f").isin("R", "A"))
    // bottom-m of the union (m = min(k, |A∪B|)), flagged by membership.
    // ONE exchange: the membership aggregate (max over the h grain)
    // dedups each set on the way in — the earlier per-set distinct()
    // was a second, redundant shuffle of the same key stream — and the
    // CACHED frame is the union domain (h, ina, inb), which both the
    // sketch and the exact audit read
    val union = li
      .select(col("h"),
        when(col("f") === "R", 1).otherwise(0).as("ina"),
        when(col("f") === "A", 1).otherwise(0).as("inb"))
      .groupBy("h").agg(max("ina").as("ina"), max("inb").as("inb"))
      .persist()
    val sample = union
      .agg(graft.functions.TopKFunctions.topk_rows(
        -col("h").cast("double"), col("h"),
        struct(col("h"), col("ina"), col("inb")), k).as("s"))
      .select(explode(col("s")).as("s"))
      .select(col("s.h").as("h"), col("s.ina").as("ina"),
        col("s.inb").as("inb"))
    val stats = sample.agg(
      count(lit(1)).as("m"),
      max("h").as("kth"),
      sum(when(col("ina") === 1 && col("inb") === 1, 1L)
        .otherwise(0L)).as("both"))
    val exact = union.agg(
      count(lit(1)).as("union_exact"),
      sum(when(col("ina") === 1 && col("inb") === 1, 1L)
        .otherwise(0L)).as("inter_exact"),
      sum(col("ina").cast("long")).as("n_a_exact"),
      sum(col("inb").cast("long")).as("n_b_exact"))
    // `div`, never `/`: Spark's `/` on longs is double division, and
    // the oracle's `//` floor must match to the last bit
    val out = stats.crossJoin(exact)
      .withColumn("union_est",
        when(col("m") < k, col("m"))
          .otherwise(expr(s"${(k - 1).toLong}L * ${P}L div kth")))
      .withColumn("inter_est", expr("both * union_est div m"))
      .select(
        col("n_a_exact"), col("n_b_exact"),
        col("union_exact"), col("union_est").cast("long").as("union_est"),
        col("inter_exact"), col("inter_est").cast("long").as("inter_est"),
        round(col("both").cast("double") / col("m").cast("double"), 4)
          .as("jaccard_est"))
    PlanProbe.dump("q136_kmv_setops_internal", out)
    val rows = out.collect().toSeq // tiny: one row; release the domain cache
    union.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** Shannon ENTROPY of the categorical columns the estimator already
    * profiles for NDV — the distribution-shape statistic next to the
    * count statistic (a planner choosing a dictionary encoding or a
    * skew mitigation wants both). Per column: H = −Σ p·ln p over the
    * value distribution, computed from exact long counts (map-side
    * combined, NDV-sized shuffles); the double ln-sum spans ≤ NDV
    * terms before the 4 dp round. Melting the low-NDV columns of one
    * table into (column, value) rows lets a single aggregate profile
    * them all in one scan.
    */
  def columnEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val cols = Seq("l_returnflag", "l_linestatus", "l_linenumber",
      "l_quantity")
    val melted = li.select(explode(array(cols.map(c =>
      struct(lit(c).as("column_name"), col(c).cast("string").as("v")))
      : _*)).as("m"))
      .select(col("m.column_name").as("column_name"), col("m.v").as("v"))
    val counts = melted.groupBy("column_name", "v")
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("column_name").agg(sum("c").as("n"))
    counts.join(broadcast(totals), "column_name")
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_distinct"),
        round(-sum(col("p") * log(col("p"))), 4).as("entropy_nats"))
      .orderBy("column_name")
  }
}
