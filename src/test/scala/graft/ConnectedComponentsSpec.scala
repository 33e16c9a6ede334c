package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Dedup}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver union-find replica — the ground truth for any edge list. */
  private def replica(es: Seq[(Long, Long)]): Map[Long, Long] = {
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
    es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
  }

  /** `f` on the default route (every graph here is small enough to
    * run its rounds in one partition) and with the exchanged rounds
    * forced (bound 0): both must return the same value.
    */
  private def onBothRoutes[T](f: => T): T = {
    val onePartition = f
    val exchanged = ConnectedComponents.onePartitionBound.withValue(0L)(f)
    assert(onePartition == exchanged,
      "the one-partition and exchanged rounds disagree")
    onePartition
  }

  private def run(es: Seq[(Long, Long)]): Map[Long, Long] = onBothRoutes(
    ConnectedComponents.components(es.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  test("components: random graphs match a union-find replica") {
    // deterministic pseudo-random edges over several densities
    for (density <- Seq(1, 2, 4)) {
      val es = (1 to 400 * density).map { i =>
        val a = (i * 2654435761L) % 300 + 1
        val b = (i * 40503L + 7) % 300 + 1
        (math.max(a, b), math.min(a, b))
      }.filter(e => e._1 != e._2)
      assert(run(es) == replica(es), s"density $density diverged")
    }
  }

  test("components: a 500-long chain (diameter far past label-prop reach)") {
    val es = (1L until 500L).map(i => (i, i + 1))
    val got = run(es)
    assert(got.size == 500)
    assert(got.values.toSet == Set(1L)) // one component, min rep
  }

  test("components: mixed graph (chain + clique + stars + singletons)") {
    val es = (1L until 80L).map(i => (i, i + 1)) ++
      (200L to 210L).flatMap(a => (200L to 210L).map(b => (a, b))) ++
      (300L to 330L).map(v => (299L, v)) ++ Seq((400L, 401L))
    assert(run(es) == replica(es))
  }

  test("components: self-loops, duplicates, singleton stars tolerated") {
    val es = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (9L, 8L))
    val got = run(es)
    assert(got == Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("mergeComponents: day-2 cost — the base edge list is never re-read") {
    // the incremental contract is a COST shape, not just equal labels:
    // instrument the base edge scan with an accumulator, materialize
    // yesterday's labeling (the stored-table shape), and assert the
    // merge moves the counter by ZERO — every join in the merge reads
    // labels or the batch, never base history
    val acc = spark.sparkContext.longAccumulator("base-edge-rows")
    val baseRows = (1L until 50L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (201L, 202L))
    val base = baseRows.toDF("a", "b").as[(Long, Long)]
      .map { t => acc.add(1L); t }.toDF("a", "b")
    val labels = ConnectedComponents.components(base)
      .localCheckpoint(true) // yesterday's output, stored
    val readsDuringResolve = acc.value
    assert(readsDuringResolve > 0L, "instrumentation never fired")
    val merged = ConnectedComponents
      .mergeComponents(labels, Seq((50L, 200L), (300L, 301L)).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(acc.value == readsDuringResolve,
      s"merge re-read ${acc.value - readsDuringResolve} base edge rows")
    assert(merged == replica(baseRows ++ Seq((50L, 200L), (300L, 301L))))
  }

  test("mergeComponents: incremental equals from-scratch on a grown graph") {
    // base graph: two chains + a clique + singles-in-edges; batch:
    // edges that (a) merge two existing components, (b) extend one
    // with new nodes, (c) introduce a brand-new component, (d)
    // restate a known edge — the daily-reingest shapes
    val base = (1L until 50L).map(i => (i, i + 1)) ++
      (100L until 140L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (201L, 202L), (200L, 202L), (300L, 301L))
    val labels = ConnectedComponents.components(base.toDF("a", "b"))
    val batch = Seq(
      (50L, 100L),   // merges chain A into chain B
      (202L, 400L), (400L, 401L), // extends the clique with new nodes
      (500L, 501L),  // brand-new component
      (300L, 301L))  // restated known edge (no-op)
    val got = ConnectedComponents
      .mergeComponents(labels, batch.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val scratch = ConnectedComponents
      .components((base ++ batch).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == scratch)
    // BOTH condensed-resolve routes agree (driver union-find is the
    // batch-sized gate; bound 0 forces the star contraction)
    val gotDist = ConnectedComponents
      .mergeComponents(labels, batch.toDF("a", "b"),
        localEdgeBound = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotDist == scratch)
    // and the incremental path genuinely merged: both chains share one rep
    assert(got(140L) == 1L && got(401L) == 200L && got(501L) == 500L)
    // an empty batch is the identity
    val idle = ConnectedComponents
      .mergeComponents(labels, Seq.empty[(Long, Long)].toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val baseMap = labels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(idle == baseMap)
  }

  test("mergeComponents: seeded random base/batch splits equal union-find") {
    // randomized incremental-vs-from-scratch over several seeds: base
    // and batch drawn from overlapping node ranges so batches merge,
    // extend, and create components unpredictably
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val base = Seq.fill(300)((rnd.nextInt(200).toLong + 1,
        rnd.nextInt(200).toLong + 1)).filter(e => e._1 != e._2)
      val batch = Seq.fill(60)((rnd.nextInt(150).toLong + 100,
        rnd.nextInt(150).toLong + 100)).filter(e => e._1 != e._2)
      val labels = ConnectedComponents.components(base.toDF("a", "b"))
      val got = ConnectedComponents
        .mergeComponents(labels, batch.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == replica(base ++ batch), s"seed $seed diverged")
    }
  }

  test("q157: incremental chain merge equals the analytic doubled blocks") {
    val got = onBothRoutes(ConnectedComponents
      .incrementalChainComponents(spark, sf, half = 30L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(got.nonEmpty)
    val n = got.length.toLong
    got.foreach { case (node, comp, size) =>
      val blk = node / 60L
      assert(comp == blk * 60L, s"node $node -> $comp")
      assert(size == math.min(60L, n - blk * 60L), s"block $blk size $size")
    }
  }

  test("mergeResolvedClusters: keep flags re-derive after the merge") {
    val resolved = Seq((10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true)).toDF("doc_id", "cluster_rep", "keep")
    val got = Dedup.mergeResolvedClusters(resolved,
        Seq((11L, 20L)).toDF("ai", "bi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    // 20's cluster merges under rep 10: its old keeper loses the flag
    assert(got == Set((10L, 10L, true), (11L, 10L, false),
      (20L, 10L, false)))
  }

  test("resolveClusters: chain and clique known answers on both routes") {
    // the chain's diameter is 299 (the contraction needs O(log n)
    // rounds, the driver union-find one pass); the cliques are
    // near-dup-shaped, many small dense clusters with ids scattered
    // over the long range so cluster minima are not insertion order
    val chain = (1L until 300L).map(i => (i, i + 1))
    def id(x: Long): Long = (x * 0x9E3779B97F4A7C15L) & Long.MaxValue
    val cliques = (0L until 4000L).map(c => (0L until 5L).map(m => id(c * 5 + m)))
    assert(cliques.flatten.distinct.size == 20000)
    val cases = Seq(
      "chain" -> (chain,
        (1L to 300L).map(n => (n, 1L, n == 1L)).toSet),
      "cliques" -> (cliques.flatMap(ids =>
          for (a <- ids; b <- ids if a < b) yield (a, b)),
        cliques.flatMap(ids => ids.map(n => (n, ids.min, n == ids.min)))
          .toSet))
    for ((name, (pairs, want)) <- cases;
         bound <- Seq(ConnectedComponents.LocalEdgeBound, 0L)) {
      val got = Dedup.resolveClusters(pairs.toDF("ai", "bi"),
          localEdgeBound = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(got == want, s"$name, localEdgeBound=$bound")
    }
  }

  test("resolveClusters: the local route runs 4 jobs, its result's collect none") {
    // the eager checkpoint, the size gate's count (two jobs) and the
    // union-find's collect; the relabelled result is a local relation,
    // so its collect starts none
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ai", "bi")
    Dedup.resolveClusters(pairs).collect() // warm
    val (rows, jobs) = recordJobs(Dedup.resolveClusters(pairs).collect())
    assert(rows.length == 5)
    assert(jobs.sites.size == 4, jobs.sites.mkString("\n"))
  }

  test("q155: chain components match the analytic blocks") {
    val rows = onBothRoutes(ConnectedComponents
      .chainComponents(spark, sf, chainLen = 40L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(rows.nonEmpty)
    for ((node, comp, size) <- rows) {
      val blk = node / 40
      assert(comp == blk * 40, s"node $node comp $comp")
      assert(size > 1)
    }
    // every customer key present exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("q162: hub-star components match the analytic blocks") {
    val rows = onBothRoutes(ConnectedComponents
      .starComponents(spark, sf, starLen = 50L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    for ((node, comp, size) <- rows) {
      val blk = node / 50
      assert(comp == blk * 50, s"node $node comp $comp")
      assert(size == math.min(50L, n - blk * 50L), s"block $blk size $size")
    }
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("forest: 64k pairs run in one partition, one pair more shuffles") {
    // 256 stars of 256 leaves: 65,536 oriented pairs, two rounds; the
    // extra pair is a component of its own
    val stars = for (h <- 0L until 256L; j <- 1L to 256L)
      yield (h * 1000L, h * 1000L + j)
    val extra = stars :+ ((1000000L, 1000001L))
    assert(stars.size == 65536)
    for ((es, shuffles) <- Seq(stars -> false, extra -> true)) {
      val edges = es.toDF("a", "b")
      val (f, rec) = recordJobs(ConnectedComponents.forest(edges))
      assert(rec.sites.count(_.startsWith("fold at ConnectedComponents")) == 2,
        rec.sites.mkString("\n"))
      assert((rec.shuffleBytes > 0L) == shuffles,
        s"${es.size} pairs shuffled ${rec.shuffleBytes} B")
      val forest = f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val labels = ConnectedComponents.components(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = replica(es)
      assert(labels == want, s"${es.size} pairs")
      assert(forest == want.filter { case (n, c) => n != c })
    }
  }
}
