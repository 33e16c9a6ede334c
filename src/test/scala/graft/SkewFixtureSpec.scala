package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, OlapQueries, PageRank, Skew}

/** Skew proof harness: the shipped testdata is uniform, so the skew
  * machinery (salting, hub caps, AQE skew splits) never fires there.
  * These fixtures concentrate ~50% of rows on ONE hot key and assert
  * the heavy operators return results identical to an independent
  * replica (driver re-computation or the plain/unsalted plan) — the
  * mitigation paths are proven result-preserving under the exact load
  * shape they exist for.
  */
class SkewFixtureSpec extends SparkSpec {
  import spark.implicits._

  private val hotUser = 7L

  /** events fixture: one hot user holds half the rows. ts spacing
    * alternates under/over the 30-min session gap so sessionization
    * has real work on the hot key.
    */
  private lazy val skewedEvents = {
    val base = 1700000000000000L // µs epoch
    val hot = (0 until 2000).map { i =>
      // gaps: mostly 10 min, every 7th event jumps 45 min
      val us = base + i.toLong * 600000000L +
        (i / 7).toLong * 2700000000L
      (i.toLong, us, hotUser, if (i % 5 == 0) "purchase" else "click",
        (i % 100) / 10.0)
    }
    val cold = (0 until 2000).map { i =>
      val u = 100L + (i % 40)
      val us = base + (i / 40).toLong * 1500000000L // 25 min steps
      (10000L + i, us, u, if (i % 6 == 0) "purchase" else "click",
        (i % 90) / 9.0)
    }
    (hot ++ cold)
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .persist()
  }

  test("skewed sessions: hot-user sessionization equals a driver replica") {
    val got = OlapQueries.userSessionsPlan(skewedEvents)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // driver replica: per user, sort by (us, event_id), split at >30min
    val gap = 30L * 60 * 1000000
    val rows = skewedEvents.select("user_id", "event_id", "us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = rows.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._2))
      var sid = 0L
      var prev = Long.MinValue
      val sessions = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      for ((_, _, us) <- sorted) {
        if (prev == Long.MinValue || us - prev > gap) sid += 1
        sessions.getOrElseUpdate(sid,
          scala.collection.mutable.ArrayBuffer.empty) += us
        prev = us
      }
      sessions.map { case (s, uss) =>
        (u, s, uss.size.toLong, uss.max - uss.min)
      }
    }.toSet
    assert(got == want)
    // and the hot key really is skewed work: >1 session, half the rows
    assert(rows.count(_._1 == hotUser) * 2 == rows.length)
  }

  test("skewed attribution: plain plan equals the salted-join spelling") {
    val plain = OlapQueries.purchaseAttributionPlan(skewedEvents, 60)
      .collect().map(_.toSeq).toSet
    // the salted spelling of the same user-equality join: purchases
    // (small per-key side) replicate, clicks (the hot corpus side)
    // salt — result-identical by Skew.saltedJoin's contract
    val clicks = skewedEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("ts").as("c_ts"))
    val purchases = skewedEvents.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("user_id"), col("event_id"),
        col("ts"), col("value"))
    val salted = Skew.saltedJoin(clicks, purchases, "key", salt = 8)
      .filter(col("c_ts") <= col("ts") &&
        col("c_ts") > col("ts") - expr("INTERVAL 60 MINUTES"))
      .groupBy(col("user_id"), col("event_id"), col("ts"), col("value"))
      .agg(count(col("c_ts")).as("n_clicks_1h"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value"), 4).as("value"), col("n_clicks_1h"))
    // inner salted join loses zero-click purchases; add them back the
    // way the plain plan's left join would
    val saltedAll = purchases
      .join(salted.select(col("event_id").as("m_id")),
        col("event_id") === col("m_id"), "left_anti")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value"), 4).as("value"), lit(0L).as("n_clicks_1h"))
      .unionAll(salted)
      .collect().map(_.toSeq).toSet
    assert(plain == saltedAll)
  }

  test("skewed butterflies: hub-capped census equals the plain census") {
    // one hub customer trading with 1200 suppliers over a light tail
    val hub = (1L to 1200L).map(s => (1L, s))
    val tail = (2L to 300L).flatMap(c =>
      (1L to 8L).map(k => (c, (c * 11 + k * 17) % 1200 + 1)))
    val pairs = (hub ++ tail).distinct.toDF("c", "s").persist()
    val plain = PageRank.butterflyCensusPlan(pairs,
      maxDegree = Some(1200L), hubDegreeCap = 4096).collect()(0).toSeq
    for (cap <- Seq(128, 512)) {
      val capped = PageRank.butterflyCensusPlan(pairs, hubDegreeCap = cap)
        .collect()(0).toSeq
      assert(capped == plain, s"census diverged at cap=$cap")
    }
    pairs.unpersist(false)
  }

  test("skewed components: hub graph through the sorted-run loop equals union-find") {
    // a 3000-degree hub inside one component, a second component made
    // of chained blocks, plus isolated-ish pairs — the hub node's
    // neighborhood is the skew shape the sorted-run loop must stream
    // (a hub is a long contiguous run in the sorted shuffle, never a
    // buffered set). The graph is small enough to run its rounds in
    // one partition; bound 0 forces the exchanged rounds, whose
    // streaming is what a hub past that size relies on.
    val hub = (2L to 3001L).map(v => (1L, v))
    val chain = (10000L until 10500L).map(i => (i, i + 1))
    val pairs = (20000L until 20100L by 2).map(i => (i, i + 1))
    val es = (hub ++ chain ++ pairs).toSeq
    def labels() = ConnectedComponents
      .components(es.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = labels()
    val exchanged = ConnectedComponents.onePartitionBound.withValue(0L)(labels())
    // driver union-find replica
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    assert(got == want)
    assert(exchanged == want)
    // and the hub really dominates: its degree is >50% of all edges
    assert(hub.size * 2 > es.size)
  }

  test("skewed co-purchase: hot basket and hot part match a driver replica") {
    // hot order 1 holds 40 parts; part 5 appears in 300 orders
    val hot = (1L to 40L).map(p => (1L, p))
    val hotPart = (2L to 301L).map(o => (o, 5L))
    val tail = (2L to 301L).flatMap(o =>
      (1L to 3L).map(k => (o, (o * 7 + k * 13) % 60 + 10)))
    val baskets = (hot ++ hotPart ++ tail).distinct.toDF("o", "p")
      .persist()
    val margins = baskets.groupBy("p").agg(count(lit(1)).as("c"))
    val nOrders = baskets.select("o").distinct().count()
    val got = OlapQueries.copurchaseLiftPlan(baskets, margins, nOrders,
        minSupport = 3, topK = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // driver replica of supports and pair counts
    val bs = baskets.collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = bs.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, parts) <- byOrder; i <- parts.indices;
         j <- i + 1 until parts.size)
      pairCounts((parts(i), parts(j))) =
        pairCounts.getOrElse((parts(i), parts(j)), 0L) + 1
    val want = pairCounts.filter(_._2 >= 3)
      .map { case ((a, b), c) => (a, b, c) }.toSet
    assert(got == want)
    baskets.unpersist(false)
  }
}
