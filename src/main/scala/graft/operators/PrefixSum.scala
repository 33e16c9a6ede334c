package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
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
  *  1. one job: each task reads its `(key, value)` pairs into two
  *     primitive arrays and sends them to the driver through the
  *     session's block codec (`GraftColumnBridge.compress`);
  *  2. the driver sorts the keys (`java.util.Arrays.sort`, no boxing),
  *     places each value at its key's slot and, in one linear pass,
  *     prefix-scans them into cums and sums the shard totals (truncating
  *     `div` is monotone, so a shard's keys are contiguous);
  *  3. the sorted keys and cums go out as one broadcast, and each row
  *     finds its cum by binary search in a projection — no exchange,
  *     no sort, no window.
  *
  * The estimate can under-state the pairs (an `explode` keeps its
  * input's size estimate), so each task also bounds what it holds: past
  * its share (threshold / 16 B / partitions) of pairs it stops reading
  * and reports an overflow, and the call takes the shard route. The
  * bound is per task, so it depends on how evenly the pairs are
  * spread: a frame well under the threshold whose pairs crowd into one
  * task overflows that task and takes the shard route. A repeated key
  * falls back to the shard route too (the only one that tolerates
  * ties). A null key is reported by its task and rejected on the
  * driver.
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
    * (a numeric key, unique unless the shard route runs — it is the
    * one that tolerates ties). Output type is long. NULL
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
    (if (small)
       broadcastRoute(df, pairs, orderCol, outCol, shardWidth, threshold)
     else None)
      .getOrElse(shardRoute(df, orderCol, v, outCol, shardWidth))
  }

  private def nullKey(orderCol: String) = new IllegalArgumentException(
    s"prefix sum order column `$orderCol` holds a null key")

  /** Bytes one (key, value) pair takes on the driver as two long
    * arrays: the unit of the broadcast route's per-task bound.
    */
  private val PairBytes = 16L

  /** What one broadcast-route task sends the driver. */
  private sealed trait Partial
  /** The task's pairs, in the order it read them: their count, the
    * keys, then the values, compressed.
    */
  private final case class Pairs(bytes: Array[Byte]) extends Partial
  /** The task passed its share of the pair bound. */
  private case object Overflow extends Partial
  /** The task read a null key. */
  private case object NullKey extends Partial

  /** None when a task passed its share of `threshold` / 16 B pairs or a
    * key repeats: the shard route takes both.
    */
  private def broadcastRoute(df: DataFrame, pairs: DataFrame,
      orderCol: String, outCol: String, shardWidth: Long, threshold: Long)
      : Option[(DataFrame, Seq[(Long, Long)])] = {
    val rows = pairs.queryExecution.toRdd
    val share = threshold / PairBytes / math.max(1, rows.getNumPartitions)
    val partials = rows.mapPartitions { it =>
      var ks = new Array[Long](1024)
      var vs = new Array[Long](1024)
      var n = 0
      var nullSeen = false
      while (!nullSeen && n <= share && it.hasNext) {
        val r = it.next()
        if (r.isNullAt(0)) nullSeen = true
        else {
          if (n == ks.length) {
            ks = java.util.Arrays.copyOf(ks, 2 * n)
            vs = java.util.Arrays.copyOf(vs, 2 * n)
          }
          ks(n) = r.getLong(0); vs(n) = r.getLong(1); n += 1
        }
      }
      Iterator.single[Partial](
        if (nullSeen) NullKey
        else if (n > share) Overflow
        else Pairs(GraftColumnBridge.compress { out =>
          out.writeInt(n)
          (0 until n).foreach(i => out.writeLong(ks(i)))
          (0 until n).foreach(i => out.writeLong(vs(i)))
        }))
    }.collect()
    if (partials.contains(NullKey)) throw nullKey(orderCol)
    if (partials.contains(Overflow)) return None
    val runs = partials.collect { case Pairs(bytes) =>
      GraftColumnBridge.decompress(bytes) { in =>
        val n = in.readInt()
        val (ks, vs) = (new Array[Long](n), new Array[Long](n))
        ks.indices.foreach(i => ks(i) = in.readLong())
        vs.indices.foreach(i => vs(i) = in.readLong())
        (ks, vs)
      }
    }
    val keys = Array.concat(runs.map(_._1).toSeq: _*)
    java.util.Arrays.sort(keys)
    if ((1 until keys.length).exists(i => keys(i) == keys(i - 1))) return None
    // the keys are unique: each pair's value goes to its key's slot
    val vals = new Array[Long](keys.length)
    runs.foreach { case (ks, vs) =>
      ks.indices.foreach { j =>
        vals(java.util.Arrays.binarySearch(keys, ks(j))) = vs(j)
      }
    }
    // one pass: cums and shard totals — truncating `div` is monotone,
    // so each shard's keys are contiguous in key order
    val cums = new Array[Long](keys.length)
    val totals = Seq.newBuilder[(Long, Long)]
    var running = 0L
    var shard = 0L
    var shardSum = 0L
    var i = 0
    while (i < keys.length) {
      val s = keys(i) / shardWidth
      if (i > 0 && s != shard) {
        totals += ((shard, shardSum))
        shardSum = 0L
      }
      shard = s
      shardSum += vals(i)
      running += vals(i)
      cums(i) = running
      i += 1
    }
    if (keys.nonEmpty) totals += ((shard, shardSum))
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
      totals.result()))
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
