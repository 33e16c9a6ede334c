package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global prefix sum (cumulative sum over a total order)
  * without a single-partition window. Two routes, picked per call from
  * the optimizer's size estimate of the narrow `(key, value)`
  * projection:
  *
  * '''Broadcast route''' — the estimate is ≤
  * `spark.sql.autoBroadcastJoinThreshold` (and that threshold is > 0,
  * so −1 turns the route off, exactly as it does broadcast joins):
  *
  *  1. one job collects the `(key, value)` pairs;
  *  2. the driver sorts them by key, prefix-scans them into cums and
  *     derives the shard totals from the same pairs;
  *  3. the sorted keys and cums go out as one broadcast, and each row
  *     finds its cum by binary search in a projection — no exchange,
  *     no sort, no window.
  *
  * A repeated key falls back to the shard route (the only one that
  * tolerates ties). An estimate that is too low fails the collect at
  * `spark.driver.maxResultSize`, as a mis-estimated broadcast join does.
  *
  * '''Shard route''' — everything else, two passes:
  *
  *  1. shard by `orderKey div shardWidth` — order-preserving and a
  *     pure function of the data, so the two passes can never disagree
  *     under task retry or recomputation (unlike spark_partition_id);
  *  2. per-shard totals are aggregated (map-side combine ⇒ one row per
  *     shard), collected, prefix-scanned on the driver, and broadcast
  *     back as per-shard offsets;
  *  3. within-shard cumsum via a PARTITION BY shard window — parallel,
  *     one task per shard, no `WindowExec: No Partition Defined`.
  *
  * global_cum(row) = offset(shard(row)) + cum_within_shard(row).
  *
  * The shard route's collect is metadata-scale, not data-scale: shard
  * count = keyspace / shardWidth (the same order as RangePartitioner's
  * bound sampling). Size `shardWidth` so a shard fits one task and the
  * shard count stays in the thousands — e.g. 2^20 keys/shard puts a
  * 10^11-row corpus at ~10^5 shards (a few MB on the driver).
  *
  * Both routes return the same frame (`df` plus `outCol`, same schema)
  * and the same shard totals, and both reject a null key.
  */
object PrefixSum {

  /** Append `outCol` = running sum of `value` over ascending `orderCol`
    * (a unique, non-negative numeric key). Output type is long. NULL
    * `value`s contribute 0 (the window and the shard totals must agree
    * on this, so it is coalesced once, up front).
    */
  def withGlobalCumSum(df: DataFrame, orderCol: String, value: Column,
      outCol: String, shardWidth: Long = 1L << 20): DataFrame =
    withGlobalCumSumAndTotals(df, orderCol, value, outCol, shardWidth)._1

  /** [[withGlobalCumSum]] that ALSO hands back the shard totals, one
    * per non-empty shard (`orderCol div shardWidth`), sorted by shard
    * id — whichever route ran, they come from data it collected
    * anyway. A caller that needs range totals keyed on the order key
    * (per-stripe counts, per-segment offsets) can derive them on the
    * driver from this list instead of running another aggregate pass
    * over the cumulative frame.
    */
  def withGlobalCumSumAndTotals(df: DataFrame, orderCol: String,
      value: Column, outCol: String, shardWidth: Long = 1L << 20)
      : (DataFrame, Seq[(Long, Long)]) = {
    val reserved = Seq("__shard", "__v", "__off")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"input already has a $c column — rename it before the prefix sum"))
    val v = coalesce(value.cast("long"), lit(0L))
    val pairs = df.select(col(orderCol).cast("long"), v)
    val threshold = df.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    val small = threshold > 0 &&
      pairs.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    (if (small) broadcastRoute(df, pairs, orderCol, outCol, shardWidth)
     else None)
      .getOrElse(shardRoute(df, orderCol, v, outCol, shardWidth))
  }

  private def nullKey(orderCol: String) = new IllegalArgumentException(
    s"prefix sum order column `$orderCol` holds a null key")

  /** None when a key repeats: ties need the shard route's window. */
  private def broadcastRoute(df: DataFrame, pairs: DataFrame,
      orderCol: String, outCol: String, shardWidth: Long)
      : Option[(DataFrame, Seq[(Long, Long)])] = {
    val kv = pairs.collect().map { r =>
      if (r.isNullAt(0)) throw nullKey(orderCol)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    val keys = kv.map(_._1)
    if ((1 until keys.length).exists(i => keys(i) == keys(i - 1))) None
    else {
      val cums = kv.scanLeft(0L)(_ + _._2).tail
      val totals = kv.groupMapReduce(_._1 / shardWidth)(_._2)(_ + _)
        .toSeq.sortBy(_._1)
      // released by Spark's ContextCleaner once the frame is unreachable
      val index = df.sparkSession.sparkContext.broadcast((keys, cums))
      // boxed result: `outCol` is nullable, as the shard route's
      // window sum is, so both routes share one schema
      val lookup = udf { (k: Long) =>
        val (ks, cs) = index.value
        val i = java.util.Arrays.binarySearch(ks, k)
        if (i < 0) throw new IllegalStateException(
          s"prefix sum key $k was not in the collected key index: the " +
            s"input of `$orderCol` changed between its two reads")
        java.lang.Long.valueOf(cs(i))
      }
      Some((df.withColumn(outCol, lookup(col(orderCol).cast("long"))),
        totals))
    }
  }

  private def shardRoute(df: DataFrame, orderCol: String, v: Column,
      outCol: String, shardWidth: Long): (DataFrame, Seq[(Long, Long)]) = {
    val spark = df.sparkSession
    val sharded = df
      .withColumn("__shard", expr(s"`$orderCol` div ${shardWidth}L"))
      .withColumn("__v", v)
    // pass 1: one row per shard, collected (tiny — see scaladoc), then
    // exclusive-prefix-scanned into the shard's starting offset; a null
    // key is a null shard
    val totals = sharded.groupBy("__shard").agg(sum("__v").as("__t"))
      .collect().map { r =>
        if (r.isNullAt(0)) throw nullKey(orderCol)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    var running = 0L
    val offsets = totals.map { case (s, t) =>
      val o = running; running += t; (s, o)
    }.toSeq
    import spark.implicits._
    val offsetsDf = offsets.toDF("__shard", "__off")
    // pass 2: partitioned window — each shard is one independent cumsum
    val w = Window.partitionBy("__shard").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = sharded
      .join(broadcast(offsetsDf), Seq("__shard"))
      .withColumn(outCol, col("__off") + sum("__v").over(w))
      .drop("__shard", "__v", "__off")
    (out, totals.toSeq)
  }
}
