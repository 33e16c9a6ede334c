package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** CONNECTED COMPONENTS by alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC'14) — the doubling algorithm whose round count
  * is O(log n) regardless of component DIAMETER.
  *
  * The one place graft computes the components of a data graph:
  * [[resolve]] is the shared gate (driver union-find at or under
  * [[LocalEdgeBound]] edges, the contraction above it) behind
  * [[mergeComponents]] and [[Dedup.resolveClusters]]; q155/q157/q162
  * label their key sets straight from the contraction's star forest.
  *
  * Each round is two contraction steps over the edge list — no driver
  * -side graph state:
  *
  *  - LARGE-STAR: per node u, every strictly-larger neighbor
  *    re-attaches to m = min(Γ(u) ∪ {u});
  *  - SMALL-STAR: per node u over its ≤-neighbors, everything
  *    (including u) re-attaches to the minimum.
  *
  * Edges stay oriented (big, small); both steps only ever REDUCE the
  * partner of a node toward its component minimum, and at the fixed
  * point the edge list IS the star forest node → component min. The
  * fixed point is detected by an order-independent checksum
  * (count + wrap-around sum of pair hashes) that rides each round's
  * ONE materializing action. Edge lists stay edge-sized throughout.
  *
  * ONE algorithm, two routes by pair count ([[bigLoop]]): each star
  * phase reads its pairs as SECONDARY-SORT runs that carry min(Γ(u))
  * in their first row, so the phase needs no join and no per-key
  * state. A graph of at most 64k oriented pairs runs every round and
  * the final min-reduce inside ONE task of ONE job, and its star
  * forest comes back to the driver as a local relation, so the
  * labeling join broadcasts it. A larger graph runs one job per round
  * over the pair RDD, each phase one
  * `repartitionAndSortWithinPartitions` shuffle, and checkpoints its
  * forest. Hub-safe by construction either way: the in-task sort
  * holds at most 2 × 64k pairs (2 MB of longs) whatever the degrees,
  * and the shuffle's sort spills while the run walk streams, so a
  * 10⁸-degree hub is just a long sorted run, never a buffered set
  * (both routes proven against a union-find replica on a
  * synthetic-hub fixture in SkewFixtureSpec). A second small-graph
  * regime (groupByKey adjacency sets behind an edge bound + degree
  * probe) existed through round 9 and was deleted after the sorted-run loop measured
  * FASTER on the small regime's own fixture (PROFILE.md round-9
  * "regime crossover, measured": forced-big 2.58 s vs small 2.78 s)
  * — one loop, one hub-safety argument, no probe job per query.
  *
  * Node ids are cast to long on entry (every caller's ids already
  * are); `component` is therefore always a long column.
  */
object ConnectedComponents {

  /** splitmix64 finalizer — the order-independent pair hash for the
    * fixed-point checksum (wrap-around long sum of `mix(a,b)` over the
    * edge multiset; a collision needs equal count AND equal 64-bit
    * sum, the same odds the DataFrame regime's xxhash64 sum carries).
    */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def mixPair(a: Long, b: Long): Long =
    splitmix64(splitmix64(a) + b)

  /** (node, component) for every node that appears in `edges` —
    * component = the smallest node id reachable. Input columns
    * (a, b); self-loops and duplicates are tolerated.
    */
  def components(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .distinct() // read once at the end — plain lineage is fine
    keyComponents(nodes, edges)
  }

  /** The contraction's fixed point as a star forest (a: node,
    * b: component min, both non-null longs) — one row per node that
    * is NOT its own component min: a local relation when the graph ran
    * its rounds inside one task, a checkpointed frame otherwise
    * ([[bigLoop]]). Input columns (a, b); self-loops and duplicates are
    * tolerated.
    */
  private[graft] def forest(edges: DataFrame): DataFrame = {
    // orient (big, small) and drop self-loops — the invariant every
    // round preserves. No dedup here: round 1's sorted runs skip
    // equal adjacent pairs, so duplicates die in its first phase.
    // The RDD-level checkpoint materializes in the same job that
    // counts the pairs for the route and the round partitioning.
    val first = edges
      .select(greatest(col("a"), col("b")).cast("long").as("a"),
        least(col("a"), col("b")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    first.localCheckpoint()
    bigLoop(edges.sparkSession, first, first.count())
  }

  /** Where [[bigLoop]] reports each run's round count, when a caller of
    * [[countingRounds]] is listening on this thread.
    */
  private val roundLog = new scala.util.DynamicVariable[
    Option[scala.collection.mutable.Buffer[Int]]](None)

  /** `body`'s value with the round count of every contraction loop it
    * ran, in order — the loop's own report, whichever route it took.
    */
  private[graft] def countingRounds[T](body: => T): (T, Seq[Int]) = {
    val log = scala.collection.mutable.Buffer.empty[Int]
    val out = roundLog.withValue(Some(log))(body)
    (out, log.toSeq)
  }

  /** (node, component) for every node of `keys` (column `node`),
    * labeled straight from the star forest of `edges`: nodes with no
    * forest entry (component minima, nodes in no edge) are their own
    * component.
    */
  private def keyComponents(keys: DataFrame, edges: DataFrame): DataFrame = {
    val f = forest(edges)
    keys.join(f, keys("node") === f("a"), "left")
      .select(col("node"), coalesce(col("b"), col("node")).as("component"))
  }

  /** The family's output shape: (node, component, component_size),
    * ordered by node. The sizes come from one window exchange on
    * `component`; the family's components are block-bounded (≤ a few
    * thousand nodes), so no window partition grows with the data.
    */
  private def withSizes(comp: DataFrame): DataFrame =
    comp.withColumn("component_size",
        count(lit(1)).over(Window.partitionBy("component")))
      .orderBy("node")

  /** Oriented pairs per round partition: the contraction spreads past
    * one partition only when its pair count exceeds this (64k pairs,
    * 1 MB of longs), and a graph of at most this many pairs runs all
    * its rounds inside one task ([[bigLoop]]).
    */
  private val PairsPerPartition: Long = 1L << 16

  /** The pair count up to which [[bigLoop]] runs its rounds inside one
    * task; specs set 0 to force the exchanged rounds on any graph.
    */
  private[graft] val onePartitionBound =
    new scala.util.DynamicVariable[Long](PairsPerPartition)

  /** ≫ log₂ of any conceivable node count. */
  private val MaxRounds = 64

  /** The contraction loop: one LARGE-STAR + SMALL-STAR double round per
    * step, until the (count, checksum) fixed-point test repeats. Each
    * star phase reads its pairs as SORTED RUNS: per node u, its
    * partners as one contiguous ascending run whose first value is
    * min(Γ(u)), so a phase is one streamed walk ([[runWalk]]) with no
    * join and no per-key state. Where the runs come from depends only
    * on the pair count:
    *
    *  - at most [[onePartitionBound]] pairs (64k): ONE job over the
    *    checkpointed pairs coalesced to one partition runs every round
    *    inside its task ([[contractInTask]]: primitive long arrays,
    *    each phase's runs from [[sortedInTask]]) and the final
    *    min-reduce to the star forest, and returns the forest and the
    *    round count to the driver. The forest comes back as a local
    *    relation, so a labeling join over it plans a broadcast. No
    *    star phase emits more distinct pairs than it reads, so a sort
    *    holds at most 2 × 64k pairs (2 MB of longs, the large-star
    *    phase's bidirected input), and so does the returned forest: a
    *    hub of any degree costs bounded memory;
    *  - above it: each round is one job whose phases are each one
    *    `repartitionAndSortWithinPartitions` shuffle — the sort spills
    *    and the walk streams, so a 10⁸-degree hub is a long sorted
    *    run, never a buffered set — and the forest comes from one
    *    `reduceByKey(min)`, checkpointed.
    *
    * The exchanged rounds replaced an equivalent DataFrame/AQE
    * spelling: the round plan is structurally identical every
    * iteration, yet Catalyst re-planned it inside every localCheckpoint
    * at ~400 ms/round of pure scheduling latency on a 60k-edge forced
    * run (q162) — measured twice as large as the actual per-round
    * compute. The RDD round is the same algebra with zero planning: two
    * sorted phases and a checksum fold riding the materializing action.
    * Dup edges are tolerated throughout — the sorted runs drop equal
    * adjacent pairs, so every phase works on a pair SET — and at the
    * edge-set fixed point the output self-canonicalizes (the
    * small-star left branch emits ONE row per node and the right
    * branch empties), so the checksum repeats verbatim. Both routes
    * walk the same runs, so they take the same rounds.
    */
  private def bigLoop(spark: SparkSession, first: RDD[(Long, Long)],
      nEdges: Long): DataFrame =
    if (nEdges <= onePartitionBound.value) inTaskForest(spark, first)
    else exchangedForest(spark, first, nEdges)

  /** [[bigLoop]]'s route above [[onePartitionBound]] pairs: one job per
    * round, each star phase one sorted shuffle.
    */
  private def exchangedForest(spark: SparkSession,
      first: RDD[(Long, Long)], nEdges: Long): DataFrame = {
    // data-proportional parallelism for the exchanged rounds, the job
    // AQE did for the DataFrame spelling: the default parallelism past
    // 64k pairs per partition, and past ~1M oriented pairs (16 MB) per
    // partition the partition count grows with the data (~1000-way at
    // 10⁹ edges)
    val parts = Seq(
      math.min((nEdges + PairsPerPartition - 1) / PairsPerPartition,
        spark.sparkContext.defaultParallelism.toLong),
      nEdges / 1000000L, 1L).max.toInt

    /** SECONDARY SORT: each node's rows as a CONTIGUOUS ASCENDING run,
      * equal pairs dropped — the run's first value IS min(Γ(u)), so a
      * star phase needs no second pass, no join, and no per-key state.
      * One sorted shuffle replaced a reduceByKey(min) + co-partitioned
      * stream-join spelling (two shuffles and a recomputed zip stage
      * per star), halving the round from six stages to three (measured
      * 180 → ~95 ms/round on the forced q162 run). Hub-safe: the
      * shuffle's sort spills while the run walk streams — a
      * 10⁸-degree hub is just a long run, never a buffered HashSet.
      */
    def sortedRuns(in: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val keyed = in.map(p => (p, null.asInstanceOf[Null]))
      val byFirst = new org.apache.spark.Partitioner {
        override def numPartitions: Int = parts
        override def getPartition(key: Any): Int = {
          val h = key.asInstanceOf[(Long, Long)]._1.hashCode % parts
          if (h < 0) h + parts else h
        }
      }
      new org.apache.spark.rdd.OrderedRDDFunctions[(Long, Long), Null,
          ((Long, Long), Null)](keyed)(
          Ordering.Tuple2[Long, Long], implicitly, implicitly, implicitly)
        .repartitionAndSortWithinPartitions(byFirst)
        .mapPartitions({ it =>
          // the sort makes DEDUP free: identical pairs are adjacent,
          // so skipping equal-consecutive rows keeps every round's
          // working set a SET (multiplicity from duplicate emissions
          // would otherwise grow additively per round — at 10⁹ edges
          // that is real shuffle volume). Fixed-point semantics are
          // unchanged: emissions are a function of the pair SET.
          var hasPrev = false
          var pa = 0L
          var pb = 0L
          it.flatMap { case (p @ (a, b), _) =>
            if (hasPrev && a == pa && b == pb) Iterator.empty
            else { hasPrev = true; pa = a; pb = b; Iterator.single(p) }
          }
        }, preservesPartitioning = false)
    }

    def starRound(in: RDD[(Long, Long)]): RDD[(Long, Long)] =
      sortedRuns(sortedRuns(in.mapPartitions(bidirected))
        .mapPartitions(largeStar)).mapPartitions(smallStar)

    var cur = first
    var prevPersisted = first // the entry checkpoint; freed after round 1
    var prevChk = 0L
    var prevCnt = -1L
    var converged = false
    var round = 0
    while (!converged && round < MaxRounds) {
      val stepped = starRound(cur)
      stepped.localCheckpoint() // materialized by the probe below;
      // truncates lineage so round-k task binaries stay O(1), not O(k)
      // order-independent fixed-point probe riding the materializing
      // action (count + wrap-around sum of pair hashes)
      val (cnt, chk) = stepped
        .mapPartitions(it => Iterator.single(checksum(it)))
        .fold((0L, 0L)) { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) }
      converged = cnt == prevCnt && chk == prevChk
      prevCnt = cnt
      prevChk = chk
      prevPersisted.unpersist(false)
      prevPersisted = stepped
      cur = stepped
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $MaxRounds rounds")
    roundLog.value.foreach(_ += round)
    // node → component min
    val mins = cur.reduceByKey((x: Long, y: Long) => math.min(x, y), parts)
    import spark.implicits._
    val forest = spark.createDataset(mins).toDF("a", "b")
      .localCheckpoint(true) // edge-sized; frees the loop's RDD cache
    prevPersisted.unpersist(false)
    forest
  }

  /** [[bigLoop]]'s route for a graph of at most [[onePartitionBound]]
    * pairs: one job runs [[contractInTask]] over the checkpointed pairs
    * coalesced to one partition (narrow: the task reads them in place)
    * and returns the forest as a local relation.
    */
  private def inTaskForest(spark: SparkSession,
      first: RDD[(Long, Long)]): DataFrame = {
    import spark.implicits._
    // an RDD of no partitions (an empty scan) runs no task
    val (rounds, converged, a, b) =
      first.coalesce(1).mapPartitions(contractInTask).collect()
        .headOption.getOrElse(contractInTask(Iterator.empty).next())
    first.unpersist(false)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $MaxRounds rounds")
    roundLog.value.foreach(_ += rounds)
    spark.createDataset(a.indices.map(i => (a(i), b(i)))).toDF("a", "b")
  }

  /** Every round of the contraction and the final min-reduce, inside
    * one task over all the graph's oriented pairs: the loop state is a
    * pair of primitive long arrays, and each star phase gets its runs
    * from [[sortedInTask]]. Returns (rounds, converged, forest a,
    * forest b); the driver raises the non-convergence.
    */
  private def contractInTask(first: Iterator[(Long, Long)])
      : Iterator[(Int, Boolean, Array[Long], Array[Long])] = {
    def pairs(ab: (Array[Long], Array[Long])): Iterator[(Long, Long)] =
      Iterator.range(0, ab._1.length).map(i => (ab._1(i), ab._2(i)))
    var cur = longArrays(first)
    var prevChk = 0L
    var prevCnt = -1L
    var converged = false
    var round = 0
    while (!converged && round < MaxRounds) {
      val stepped = longArrays(smallStar(sortedInTask(
        largeStar(sortedInTask(bidirected(pairs(cur)))))))
      val (cnt, chk) = checksum(pairs(stepped))
      converged = cnt == prevCnt && chk == prevChk
      prevCnt = cnt
      prevChk = chk
      cur = stepped
      round += 1
    }
    // node → component min: the first row of each node's run
    val (a, b) = longArrays(runWalk { (u, m, _, isFirst) =>
        if (isFirst) Iterator.single((u, m)) else Iterator.empty
      }(sortedInTask(pairs(cur))))
    Iterator.single((round, converged, a, b))
  }

  /** The pairs of `it` as two primitive long arrays. */
  private def longArrays(
      it: Iterator[(Long, Long)]): (Array[Long], Array[Long]) = {
    val as = Array.newBuilder[Long]
    val bs = Array.newBuilder[Long]
    it.foreach { case (a, b) => as += a; bs += b }
    (as.result(), bs.result())
  }

  /** Each pair and its reverse. */
  private def bidirected(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    it.flatMap { case (a, b) => Iterator((a, b), (b, a)) }

  /** LARGE-STAR over sorted runs: per run u (values ascending),
    * m = min(u, minΓ(u)); every strictly-larger neighbor re-attaches
    * to m.
    */
  private def largeStar(
      runs: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    runWalk { (u, minV, v, _) =>
      val m = math.min(u, minV)
      if (v > u && v != m) Iterator.single((v, m)) else Iterator.empty
    }(runs)

  /** SMALL-STAR over sorted runs: the run min adopts the node (once per
    * run — the reduceByKey(min) row of the old spelling) and every
    * smaller partner (per row, multiplicities preserved; large-star
    * rows all satisfy b < a, so m = first b < a always).
    */
  private def smallStar(
      runs: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    runWalk { (a, m, b, isFirst) =>
      val head = if (isFirst) Iterator.single((a, m)) else Iterator.empty
      if (b != m) head ++ Iterator.single((b, m)) else head
    }(runs)

  /** (count, wrap-around sum of pair hashes) — the order-independent
    * fixed-point probe over a pair multiset.
    */
  private def checksum(it: Iterator[(Long, Long)]): (Long, Long) = {
    var c = 0L
    var s = 0L
    it.foreach { case (a, b) => c += 1; s += mixPair(a, b) }
    (c, s)
  }

  /** Walk the sorted runs of one partition: `emit(u, minValue, v)`
    * per row, where minValue is the run's FIRST (smallest) value.
    */
  private def runWalk(
      emit: (Long, Long, Long, Boolean) => Iterator[(Long, Long)])(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var curKey = 0L
      private var curMin = 0L
      private var started = false
      private var pending: Iterator[(Long, Long)] = Iterator.empty
      private def advance(): Unit =
        while (!pending.hasNext && it.hasNext) {
          val (u, v) = it.next()
          val isFirst = !started || u != curKey
          if (isFirst) { curKey = u; curMin = v; started = true }
          pending = emit(u, curMin, v, isFirst)
        }
      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): (Long, Long) = { advance(); pending.next() }
    }

  /** One partition's pairs sorted ascending by (a, b) with equal pairs
    * dropped — the run order [[bigLoop]]'s sorted shuffle delivers,
    * made inside the task. Primitive arrays throughout: the distinct
    * values are sorted, each pair packs the ranks of its two values
    * into one long (a's rank high, so the long order is the pair
    * order), and one primitive sort orders the packed pairs: about five longs
    * per pair in all. Ranks fit in 31 bits for any partition under 2³⁰
    * pairs; this route sees at most 2 × 64k.
    */
  private def sortedInTask(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val (a, b) = longArrays(it)
    val n = a.length
    val vals = java.util.Arrays.copyOf(a, 2 * n)
    System.arraycopy(b, 0, vals, n, n)
    val d = sortDistinct(vals)
    def rank(x: Long): Long = java.util.Arrays.binarySearch(vals, 0, d, x)
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) { packed(i) = (rank(a(i)) << 32) | rank(b(i)); i += 1 }
    packed.iterator.take(sortDistinct(packed)).map(k =>
      (vals((k >>> 32).toInt), vals((k & 0xFFFFFFFFL).toInt)))
  }

  /** Sort `xs` and move its distinct values to the front, in order;
    * returns how many there are.
    */
  private def sortDistinct(xs: Array[Long]): Int = {
    java.util.Arrays.sort(xs)
    var d = 0
    var i = 0
    while (i < xs.length) {
      if (d == 0 || xs(d - 1) != xs(i)) { xs(d) = xs(i); d += 1 }
      i += 1
    }
    d
  }

  /** INCREMENTAL resolution: merge a batch of NEW edges into an
    * existing complete labeling WITHOUT re-resolving the base graph —
    * the daily-reingest path of a 100 TB dedup pipeline, where
    * resolve-from-scratch over the full edge history is the cost that
    * grows without bound while each day's batch stays flat.
    *
    * The resolved labeling is a star forest whose representative is
    * the component MIN, so the union graph's components follow from
    * the CONDENSED graph alone: map each new edge's endpoints to
    * their existing labels (new nodes label themselves), run the
    * contraction over those label-space edges — a batch-sized graph,
    * regardless of corpus size — and compose: every old label
    * rewrites through the condensed result, untouched components pass
    * through. Min-composes exactly because each old representative IS
    * its component's min node: min over merged representatives = min
    * over all member nodes. Cost shape at scale: two key-equality
    * joins of the batch against the labels table (co-partitionable on
    * node id), a contraction over O(|batch|) edges, and ONE
    * label-space join to rewrite — the base edge list is never read.
    *
    * `labels`: (node, component) covering every node of the base
    * graph (what [[components]] emits). `newEdges`: (a, b), may
    * reference unseen nodes. Returns the complete labeling of the
    * union graph, identical to a from-scratch resolve (spec-proven).
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
      localEdgeBound: Long = LocalEdgeBound): DataFrame = {
    val l = labels.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))
    val e = newEdges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // endpoints → existing labels; unseen endpoints are their own label
    val la = e.join(l.select(col("node").as("na"), col("component").as("ca")),
        e("a") === col("na"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"), col("b"))
    val condensed = la.join(
        l.select(col("node").as("nb"), col("component").as("cb")),
        la("b") === col("nb"), "left")
      .select(col("a"), coalesce(col("cb"), col("b")).as("b"))
    // components of the batch-sized label graph: old-rep/new-node →
    // merged component min. A small condensed graph (the common daily
    // case — today's batch touches few components) finishes as a
    // driver union-find
    val rel = resolve(condensed, localEdgeBound)
      .select(col("node").as("rl"), col("component").as("rc"))
      .localCheckpoint(true) // tiny; read by two joins below
    // old labels rewrite through the condensed result (untouched
    // components miss the join and pass through)
    val rewritten = l.join(rel, l("component") === col("rl"), "left")
      .select(col("node"),
        coalesce(col("rc"), col("component")).as("component"))
    // genuinely new nodes = condensed-graph nodes absent from the base
    // labeling (old representatives ARE base nodes, so the anti join
    // keeps exactly the unseen ids)
    val newNodes = rel.join(l.select(col("node").as("seen")),
        col("rl") === col("seen"), "left_anti")
      .select(col("rl").as("node"), col("rc").as("component"))
    rewritten.unionAll(newNodes)
  }

  /** The largest edge list [[resolve]] collects to the driver: 1M
    * pairs of longs is 16 MB.
    */
  val LocalEdgeBound: Long = 1000000L

  /** (node, component) for every node that appears in `edges` (columns
    * a, b), gated on the edge count: the edges are cast to a long pair
    * RDD, checkpointed and counted in one job, and a list of at most
    * `localEdgeBound` pairs finishes as a driver union-find in one
    * collect of the checkpoint — each distributed round costs a
    * scheduler round-trip that a single union-find beats by orders of
    * magnitude on such a graph — while a larger one runs the
    * contraction ([[components]]) over the checkpoint. Both routes
    * emit the same labels; 0 forces the contraction.
    */
  private[graft] def resolve(edges: DataFrame,
      localEdgeBound: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("a").cast("long"), col("b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    e.localCheckpoint() // read by the size gate AND the resolve
    if (e.count() <= localEdgeBound) localComponents(spark, e.collect())
    else components(spark.createDataset(e).toDF("a", "b"))
  }

  /** Driver union-find over a collected edge list of longs — the
    * small-graph route of [[resolve]] (same contract as
    * [[components]]).
    */
  private def localComponents(spark: SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
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
    val rows = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, find(n))).toSeq
    spark.createDataset(rows).toDF("node", "component")
  }

  /** q155: components of a chain graph over the DENSE customer-key
    * space — chains of `chainLen` consecutive custkeys plus skip-2
    * shortcut edges (same components, irregular degrees). Chain
    * diameter ≫ the label-propagation refusal bound, so this query
    * runs the doubling algorithm on a graph min-label propagation
    * would refuse; components are analytically known (the chain
    * start), which is what makes a plain-SQL oracle possible for a
    * whole-graph iterative computation. Output: every node with its
    * component representative, plus the component size it belongs to.
    */
  def chainComponents(spark: SparkSession, sfDir: String,
      chainLen: Long = 1000L): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"))
    // a customer alone in its block (count ≡ 1 mod chainLen) is in no
    // edge — label the full key set so every node reports, matching
    // the oracle
    withSizes(keyComponents(c.select(col("k").as("node")),
      chainEdges(c, chainLen)))
  }

  /** q155's edges over the keys `c`: each key to its successor and to
    * the key after that, kept when the far endpoint exists and stays
    * in the key's block of `chainLen` — integer DIV (double division
    * can misfloor at 10^12-scale keys); custkeys are 0-based in the
    * fixtures, so blocks are k DIV len.
    */
  private[graft] def chainEdges(c: DataFrame, chainLen: Long): DataFrame = {
    val next = c.select(col("k").as("a"), (col("k") + 1L).as("b"))
    val skip = c.select(col("k").as("a"), (col("k") + 2L).as("b"))
    next.unionAll(skip)
      .join(c.select(col("k").as("b")), Seq("b"), "left_semi")
      .filter(expr(s"a DIV $chainLen = b DIV $chainLen"))
  }

  /** q162: components of a HUB-STAR graph over the dense customer-key
    * space — each block of `starLen` consecutive custkeys is one star
    * whose head (the block minimum) carries EVERY in-block edge, so
    * max degree grows linearly with block size. q155's chain exercises
    * the doubling loop's DEPTH (round count vs diameter); this query
    * exercises its WIDTH: a hub's neighborhood must flow through the
    * sorted-run walk as one long spilled run, never a buffered set
    * (the shape SkewFixtureSpec proves at 60k-degree; here the hub is
    * oracle-checked at every SF). Components are analytically the
    * blocks, hence the plain-SQL oracle. Output: q155's
    * (node, component, component_size) shape.
    */
  def starComponents(spark: SparkSession, sfDir: String,
      starLen: Long = 400L): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"))
    // a lone block head appears in no edge — label the full key set
    // (the q155 discipline)
    withSizes(keyComponents(c.select(col("k").as("node")),
      starEdges(c, starLen)))
  }

  /** q162's edges over the keys `c`: every key attaches to its block
    * head, the block minimum (custkeys are 0-based, dense) — the star.
    */
  private[graft] def starEdges(c: DataFrame, starLen: Long): DataFrame =
    c.filter(pmod(col("k"), lit(starLen)) =!= 0L)
      .select((col("k") - pmod(col("k"), lit(starLen))).as("a"),
        col("k").as("b"))

  /** q157: INCREMENTAL resolution end to end — "yesterday" resolved
    * the corpus into half-blocks (a REAL [[components]] run over
    * member→block-head star edges: a resolved labeling IS a star
    * forest, so yesterday's graph has diameter 2 and the contraction
    * confirms its fixed point in two rounds — the merge, not the
    * re-derivation of old history, is this query's work); "today"
    * ingests only the BRIDGE edges joining each even half-block to
    * its successor, and [[mergeComponents]] folds them into the
    * existing labels without re-reading the base edges. The merged
    * components are analytically the 2·half blocks (dense 0-based
    * custkeys; a tail block missing its bridge simply keeps its
    * half-block component, which the block-of-2·half grouping also
    * yields), so a plain-SQL oracle checks a two-phase incremental
    * computation. q155 is the hard-graph doubling exercise; this
    * query's exercise is that the DAILY path stays batch-sized.
    * Output: (node, component, component_size), the q155 shape over
    * the MERGED graph.
    */
  def incrementalChainComponents(spark: SparkSession, sfDir: String,
      half: Long = 600L): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"))
    // a lone tail block-head appears in no edge — complete the
    // labeling over the full key set (the q155 discipline). The
    // labeling MATERIALIZES (it is "yesterday's stored table"): the
    // merge below must read labels, never re-derive them from the
    // base edges — the cost contract a spec asserts with a scan
    // accumulator.
    val labels = keyComponents(c.select(col("k").as("node")),
        halfBlockEdges(c, half))
      .localCheckpoint(true)
    // today's batch: (k, k+1) at every even→odd half-block boundary,
    // kept only when the far endpoint exists
    val bridges = c.filter(pmod(col("k"), lit(2L * half)) === half - 1L)
      .select(col("k").as("a"), (col("k") + 1L).as("b"))
      .join(c.select(col("k").as("b")), Seq("b"), "left_semi")
    withSizes(mergeComponents(labels, bridges))
  }

  /** q157's base (yesterday's) edges over the keys `c`: every key
    * attaches to the head of its half-block of `half` keys.
    */
  private[graft] def halfBlockEdges(c: DataFrame, half: Long): DataFrame =
    c.filter(pmod(col("k"), lit(half)) =!= 0L)
      .select(col("k").as("a"),
        (col("k") - pmod(col("k"), lit(half))).as("b"))
}
