package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.PrefixSum

class PrefixSumSpec extends SparkSpec {

  private case class Run(cums: Seq[Long], totals: Seq[(Long, Long)],
      schema: StructType, windowed: Boolean)

  private def run(df: DataFrame, value: Column, width: Long): Run = {
    val (out, totals) = PrefixSum.withGlobalCumSumAndTotals(
      df, "k", value, "cum", width)
    val windowed = allPlanNodes(out.queryExecution.executedPlan)
      .exists(_.isInstanceOf[WindowExec])
    Run(out.orderBy("k").select("cum").collect().map(_.getLong(0)).toSeq,
      totals, out.schema, windowed)
  }

  /** Both routes over one input: equal cums, equal totals, identical
    * schema (names, types, nullability), and each took its own plan —
    * a small input broadcasts its key index, threshold −1 windows.
    */
  private def bothRoutes(df: DataFrame, value: Column, width: Long): Run = {
    val b = run(df, value, width)
    val s = withoutBroadcast(run(df, value, width))
    assert(!b.windowed, "a small input did not take the broadcast route")
    assert(s.windowed, "threshold -1 did not force the shard route")
    assert(b.cums == s.cums)
    assert(b.totals == s.totals)
    assert(b.schema == s.schema,
      s"route schemas differ:\n${b.schema.treeString}\n${s.schema.treeString}")
    b
  }

  private def check(keys: Seq[Long], shardWidth: Long): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = keys.map(k => (k, rng.nextInt(100).toLong))
    val want = rows.sortBy(_._1).scanLeft(0L)(_ + _._2).tail
    val got = bothRoutes(rows.toDF("k", "x").repartition(7), col("x"),
      shardWidth)
    assert(got.cums == want)
  }

  test("multi-shard cumsum equals the sequential running sum") {
    check(0L until 1000L, shardWidth = 64) // ~16 shards
  }

  test("sparse, non-dense keys: empty shards contribute nothing") {
    check((0L until 300L).map(_ * 37L + 5L), shardWidth = 256)
  }

  test("single-shard degenerate case") {
    check(0L until 50L, shardWidth = 1L << 20)
  }

  test("withGlobalCumSumAndTotals: shard totals match a driver replica") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0L until 500L).map(_ * 3L + 1L).map(k =>
      (k, rng.nextInt(100).toLong))
    val width = 64L
    val got = bothRoutes(rows.toDF("k", "x").repartition(5), col("x"), width)
    // totals: one (shard, sum) per non-empty shard, sorted by shard —
    // exactly what a caller deriving per-range offsets on the driver
    // (percentilesByGroupMulti's stripe index) relies on
    val want = rows.groupBy(_._1 / width).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    assert(got.totals == want)
    // and the cumsum half is the same frame withGlobalCumSum returns
    val seq = rows.sortBy(_._1).scanLeft(0L)(_ + _._2).tail
    assert(got.cums == seq)
  }

  test("null values count as 0 in both passes; reserved names rejected") {
    import spark.implicits._
    val rows = Seq((0L, Some(5L)), (1L, None), (2L, Some(7L)), (3L, None))
    val got = bothRoutes(rows.toDF("k", "x"), col("x"), 2L)
    assert(got.cums == Seq(5L, 5L, 12L, 12L))
    intercept[IllegalArgumentException] {
      PrefixSum.withGlobalCumSum(
        Seq((1L, 1L)).toDF("k", "__v"), "k", col("__v"), "cum")
    }
  }

  test("a repeated key takes the shard route, which tolerates ties") {
    import spark.implicits._
    val keys = Seq(0L, 1L, 1L, 2L, 5L, 5L, 5L, 9L)
    val got = run(keys.toDF("k").repartition(3), lit(1), 4L)
    assert(got.windowed, "duplicate keys must fall back to the window")
    // ties take some order, but every row still gets its own rank
    assert(got.cums.sorted == (1L to keys.length.toLong))
    assert(got.totals == Seq((0L, 4L), (1L, 3L), (2L, 1L)))
  }

  test("an estimate under the threshold over more pairs than it bounds " +
      "takes the shard route") {
    // explode keeps its input's size estimate: 4 rows estimated, 4,000
    // pairs read
    val df = spark.range(0L, 4L, 1L, 2)
      .select(explode(sequence(col("id") * 1000L, col("id") * 1000L + 999L))
        .as("k"))
      .select(col("k"), (col("k") % 7).as("x"))
    val threshold = 16L * 1000L // 1,000 pairs, a quarter of the frame's
    val estimate = df.select(col("k"), col("x").cast("long"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate <= threshold, s"the estimate $estimate is not under")
    val broadcast = bothRoutes(df, col("x"), 256L)
    val guarded = withBroadcastThreshold(threshold)(run(df, col("x"), 256L))
    assert(guarded.windowed,
      "an overflowing task did not take the shard route")
    assert(guarded.cums == broadcast.cums)
    assert(guarded.totals == broadcast.totals)
  }

  test("a key repeated across two tasks takes the shard route") {
    // range partitions read [0, 3) and [3, 6): both tasks read key 2,
    // and neither repeats a key of its own
    val df = spark.range(0L, 6L, 1L, 2)
      .select(when(col("id") === 3L, 2L).otherwise(col("id")).as("k"))
    val got = run(df, lit(1), 4L)
    val shard = withoutBroadcast(run(df, lit(1), 4L))
    assert(got.windowed, "a key repeated across tasks must take the window")
    assert(shard.windowed)
    assert(got.cums.sorted == (1L to 6L))
    assert(shard.cums.sorted == got.cums.sorted)
    assert(got.totals == Seq((0L, 4L), (1L, 2L)))
    assert(shard.totals == got.totals)
  }

  test("negative keys: truncating div keeps each shard's keys " +
      "contiguous, from Long.MinValue to Long.MaxValue") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val keys = Long.MinValue +: (-500L until 500L).map(_ * 3L) :+ Long.MaxValue
    val rows = keys.map(k => (k, rng.nextInt(100).toLong))
    val width = 64L
    val got = bothRoutes(rows.toDF("k", "x").repartition(5), col("x"), width)
    // shard 0 holds keys -63..63, so shard ids are not floor(k / width)
    val want = rows.groupBy(_._1 / width).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    assert(got.totals == want)
    assert(got.cums == rows.scanLeft(0L)(_ + _._2).tail)
  }

  test("a null order key is rejected by name on both routes") {
    import spark.implicits._
    val df = Seq((Some(0L), 1L), (None, 2L), (Some(4L), 3L)).toDF("k", "x")
    val errs = Seq(
      intercept[IllegalArgumentException](
        PrefixSum.withGlobalCumSum(df, "k", col("x"), "cum", 2L)),
      withoutBroadcast(intercept[IllegalArgumentException](
        PrefixSum.withGlobalCumSum(df, "k", col("x"), "cum", 2L))))
    errs.foreach(e => assert(e.getMessage.contains("`k`"), e.getMessage))
  }

  test("broadcast route: the call runs one job, the frame no shuffle") {
    val df = spark.range(0L, 1000L, 1L, 3)
      .select(col("id").as("k"), (col("id") % 7).as("x"))
    val (out, call) =
      recordJobs(PrefixSum.withGlobalCumSum(df, "k", col("x"), "cum"))
    assert(call.sites.size === 1, s"the call ran ${call.sites.size} jobs")
    val (rows, exec) = recordJobs(out.collect())
    val shuffled = call.shuffleBytes + exec.shuffleBytes
    assert(shuffled === 0L,
      s"executing the frame wrote $shuffled shuffle bytes")
    assert(rows.map(_.getLong(2)).max == (0L until 1000L).map(_ % 7).sum)
  }

  test("broadcast route: the criteo feed's pairs reach the driver " +
      "compressed") {
    // the feed's epoch: a 63-bit hash permutation key, every value 1,
    // 45,840 pairs in 4 tasks
    val df = spark.range(0L, 45840L, 1L, 4).select(
      (xxhash64(col("id"), lit(1L)).bitwiseAND(lit(Long.MaxValue)))
        .as("k"))
    val (_, call) = recordJobs(
      PrefixSum.withGlobalCumSum(df, "k", lit(1), "rn", 1L << 53))
    // 403,359 B measured, 742,990 B as uncompressed long arrays: the
    // keys are incompressible, the values nearly free
    assert(call.sites.size === 1, s"the call ran ${call.sites}")
    assert(call.resultBytes <= 410000L,
      s"the broadcast route sent ${call.resultBytes} result bytes")
  }
}
