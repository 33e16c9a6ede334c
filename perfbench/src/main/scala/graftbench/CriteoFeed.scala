package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Features
import graft.operators.PrefixSum
import graft.plans.CardinalityEstimator

/** The reference's own job over a Criteo-shaped table: 1 label, 13
  * integer and 26 string columns, stored as tab-separated payloads in
  * gzipped `recordstream` files, one per core.
  *
  * A pass reads `vocab` (parse, per-column NDV, bucket sizes), reads
  * `epoch` (parse, numeric and hash-bucket features, a seeded hash
  * permutation, 512-row batch ids) and writes `write_shards` (the
  * featurized epoch re-sharded into gzipped `recordstream` files).
  */
object CriteoFeed {
  /** An eighth of the reference's 366,715-row evaluation table. */
  val Rows = 45840L
  val BatchRows = 512L
  val Ints: Seq[String] = (1 to 13).map(j => s"int$j")
  val Cats: Seq[String] = (1 to 26).map(j => s"cat$j")

  /** Per-string-column cardinality in 3..1764, with the reference's
    * cat7 = 1764 and cat9 = 3 (`vocab_size`).
    */
  def cardinalities(seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    (1 to 26).map {
      case 7 => 1764L
      case 9 => 3L
      case _ => 3L + rnd.nextInt(1762)
    }
  }

  private def draw(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt))

  /** The seeded table as TSV payloads; one in 20 integer fields empty. */
  def payloads(spark: SparkSession, seed: Long, rows: Long,
      parts: Int): DataFrame = {
    val card = cardinalities(seed)
    val label = (pmod(draw(seed, 0), lit(4L)) === 0).cast("int")
    val ints = (1 to 13).map(j =>
      when(pmod(draw(seed, 100 + j), lit(20L)) === 0, lit(""))
        .otherwise(pmod(draw(seed, j), lit(1000L * j)).cast("string")))
    val cats = (1 to 26).map(j =>
      concat(lit(s"c${j}_"), pmod(draw(seed, 200 + j), lit(card(j - 1)))
        .cast("string")))
    spark.range(0L, rows, 1L, parts)
      .select(encode(concat_ws("\t", (label +: ints) ++ cats: _*), "UTF-8")
        .as("value"))
  }

  def write(spark: SparkSession, dir: String, seed: Long, rows: Long,
      parts: Int): Unit =
    payloads(spark, seed, rows, parts)
      .write.format("recordstream").mode("overwrite").save(dir)

  /** Parse payloads: missing integers default to 0, and `perm` is the
    * seeded hash of the payload that orders the epoch.
    */
  def parse(raw: DataFrame, seed: Long): DataFrame = {
    val f = split(decode(col("value"), "UTF-8"), "\t", -1)
    val fields = Seq(element_at(f, 1).cast("int").as("label")) ++
      Ints.zipWithIndex.map { case (n, i) =>
        coalesce(element_at(f, i + 2).try_cast(LongType), lit(0L)).as(n) } ++
      Cats.zipWithIndex.map { case (n, i) => element_at(f, i + 15).as(n) }
    raw.select((xxhash64(col("value"), lit(seed))
      .bitwiseAND(lit(Long.MaxValue)).as("perm") +: fields): _*)
  }

  def read(spark: SparkSession, dir: String, seed: Long): DataFrame =
    parse(spark.read.format("recordstream").load(dir), seed)

  /** One shuffled epoch in 512-row batches. */
  def epoch(parsed: DataFrame, buckets: Map[String, Long]): DataFrame = {
    val feats = Features.featureColumns(parsed.schema, buckets,
      exclude = Set("label", "perm"))
    val rows = parsed.select(col("perm"), struct(feats: _*).as("features"),
      col("label").cast("double").as("label"))
    // 2^53-wide shards keep the shard count near a thousand over the
    // 63-bit permutation key
    PrefixSum.withGlobalCumSum(rows, "perm", lit(1), "rn",
        shardWidth = 1L << 53)
      .select(expr(s"(rn - 1) div $BatchRows").as("batch_id"),
        col("label"), col("features"))
  }
}

final class CriteoFeed(seed: Long) extends Workload {
  import CriteoFeed._

  override def rows: Long = Rows
  override def inputs: String = cardinalities(seed).mkString(",")
  private var buckets: Map[String, Long] = Map.empty
  private val found = scala.collection.mutable.ArrayBuffer.empty[Check]

  private def input(c: Ctx): String = s"${c.workDir}/criteo"
  private def shards(c: Ctx): String = s"${c.workDir}/shards"
  private def parts(c: Ctx): Int = c.spark.sparkContext.defaultParallelism

  override def generate(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    write(ctx.spark, input(ctx), seed, Rows, parts(ctx))
    (System.nanoTime() - t0) / 1e9
  }

  private def check(name: String, ok: Boolean, detail: String): Unit =
    found += Check(name, ok, detail)

  override def checks: Seq[Check] = found.toSeq

  private val vocab = Op("vocab", "read") { c =>
    val ndv = c.tracer.span("plans.vocab")(
      CardinalityEstimator.vocabSizes(read(c.spark, input(c), seed), Cats))
    buckets = CardinalityEstimator.bucketSizes(ndv)
    if (c.warmup) {
      // HLL at precision 14 is within a few percent; allow 3%
      val off = Cats.zip(cardinalities(seed)).filter { case (n, want) =>
        math.abs(ndv(n) - want) > math.max(2.0, 0.03 * want)
      }
      check("vocab_within_hll_error", off.isEmpty,
        off.map { case (n, w) => s"$n=${ndv(n)} want $w" }.mkString(", "))
    }
  }

  private val epochOp = Op("epoch", "read") { c =>
    val df = c.tracer.span("operators.call")(
      epoch(read(c.spark, input(c), seed), buckets))
    if (c.tracer.enabled)
      c.tracer.span("plans.plan")(df.queryExecution.executedPlan)
    c.tracer.span("spark.exec")(
      df.write.format("noop").mode("overwrite").save())
    if (c.warmup) {
      val r = df.agg(count(lit(1)), countDistinct(col("batch_id")),
        max(col("batch_id"))).head()
      val batches = (Rows + BatchRows - 1) / BatchRows
      check("epoch_rows", r.getLong(0) == Rows, s"${r.getLong(0)} of $Rows")
      check("epoch_batches", r.getLong(1) == batches &&
        r.getLong(2) == batches - 1, s"${r.getLong(1)} of $batches")
    }
  }

  private val writeShards = Op("write_shards", "write") { c =>
    val df = c.tracer.span("operators.call")(
      epoch(read(c.spark, input(c), seed), buckets)
        .repartition(parts(c), col("batch_id"))
        .select(encode(to_json(struct(col("batch_id"), col("label"),
          col("features"))), "UTF-8").as("value")))
    if (c.tracer.enabled)
      c.tracer.span("plans.plan")(df.queryExecution.executedPlan)
    c.tracer.span("spark.exec")(
      df.write.format("recordstream").mode("overwrite").save(shards(c)))
    c.wrote(shards(c))
    if (c.warmup) {
      val n = c.spark.read.format("recordstream").load(shards(c)).count()
      check("shard_records", n == Rows, s"$n of $Rows")
    }
  }

  val ops: Seq[Op] = Seq(vocab, epochOp, writeShards)

  override val probes: Seq[Op] = Seq(
    Op("probe_scan", "probe") { c =>
      c.tracer.span("sources.scan")(read(c.spark, input(c), seed)
        .write.format("noop").mode("overwrite").save())
    },
    Op("probe_features", "probe") { c =>
      val parsed = read(c.spark, input(c), seed).persist()
      try {
        parsed.count()
        c.tracer.span("functions.features")(
          Features.featuresLabelSplit(parsed, "label", buckets, Set("perm"))
            .write.format("noop").mode("overwrite").save())
      } finally parsed.unpersist(blocking = true)
    })
}
