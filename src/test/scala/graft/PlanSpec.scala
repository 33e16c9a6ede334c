package graft

import graft.operators.{CoreQueries, OlapQueries}

/** Plan-shape assertions: the physical plans the 100 TB story depends
  * on (SCALE.md). If a Spark upgrade or refactor silently drops a
  * pushdown or flips a broadcast into a shuffle, these fail.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filter and projection reach the parquet scan") {
    val plan = planOf(CoreQueries.scanPruneFilter(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_comment") && !plan.contains("l_tax"),
      s"columns not pruned:\n$plan")
  }

  test("q13: dimension joins broadcast; fact join shuffles once") {
    val plan = planOf(OlapQueries.starJoinRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    // customer, nation, region all broadcast -> 3 broadcast exchanges
    assert("BroadcastExchange".r.findAllIn(plan).size >= 3,
      s"expected 3 broadcast dims:\n$plan")
  }

  test("q01/q14: top-k fuses into TakeOrderedAndProject") {
    assert(planOf(Queries.eventsTopK(spark, sf))
      .contains("TakeOrderedAndProject"))
    assert(planOf(OlapQueries.topPartsByRevenue(spark, sf))
      .contains("TakeOrderedAndProject"))
  }

  test("q01: aggregation is partial then final (map-side combine)") {
    val plan = planOf(Queries.eventsTopK(spark, sf))
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      s"no partial aggregation:\n$plan")
  }

  test("q18: semi/anti joins plan as such, not as full joins") {
    val plan = planOf(OlapQueries.semiAntiCustomers(spark, sf))
    assert(plan.contains("LeftSemi"), s"semi join missing:\n$plan")
    assert(plan.contains("LeftAnti"), s"anti join missing:\n$plan")
  }

  test("custom kernels participate in whole-stage codegen") {
    // scan-side projection: '*(n)' prefix marks the operator as inside
    // a WholeStageCodegen region. (In the pair queries the projection
    // sits above a nested-loop join, which caps the region — that's an
    // operator limitation, not an expression fallback.)
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .select(graft.functions.VectorMath.dot_product(col("v"), col("v"))
        .as("d"))
    val plan = planOf(df)
    val dotLine = plan.linesIterator
      .find(l => l.contains("Project") && l.contains("dot_product")).get
    assert(dotLine.trim.matches("""^[+:\-\s]*\*\(\d+\).*"""),
      s"dot_product Project not codegen'd: $dotLine")

    // the round-2 kernels must stay inside the whole-stage span too
    // (args derive from real columns — all-literal forms constant-fold
    // away at plan time and prove nothing)
    def assertCodegen(expr: org.apache.spark.sql.Column, tag: String): Unit = {
      val p = planOf(graft.sources.Tables.load(spark, sf, "documents")
        .select(expr.as("x")))
      val line = p.linesIterator
        .find(l => l.contains("Project") && l.contains(tag))
        .getOrElse(fail(s"no Project with $tag in:\n$p"))
      assert(line.trim.matches("""^[+:\-\s]*\*\(\d+\).*"""),
        s"$tag Project not codegen'd: $line")
    }
    assertCodegen(
      graft.functions.TextKernels.poly_fingerprint(col("text")),
      "poly_fingerprint")
    assertCodegen(
      graft.functions.TextKernels.lang_id(col("text")), "lang_id")
    assertCodegen(
      graft.functions.VectorMath.intersect_count_at_least(
        array(col("n_chars")), array(col("n_chars")), lit(0L)),
      "intersect_count_at_least")
    assertCodegen(
      graft.functions.VectorMath.dot_product_i8(
        graft.functions.VectorMath.quantize_i8(
          array(col("n_chars").cast("double"))),
        graft.functions.VectorMath.quantize_i8(
          array(col("n_chars").cast("double")))),
      "dot_product_i8")
    // the shingle hot path: one CodegenFallback here would demote the
    // whole scan-stage projection of every dedup pipeline
    assertCodegen(
      graft.functions.SimHashFunctions.simhash64(
        graft.functions.VectorMath.word_ngram_hashes(col("text"), 3)),
      "simhash64")
    assertCodegen(
      graft.functions.VectorMath.minhash_signature(
        graft.functions.VectorMath.word_ngram_hashes(col("text"), 3), 8),
      "minhash_signature")
  }

  test("kernel expressions COMPILE under codegen, not just plan for it") {
    // The *(n) marker only proves the planner CHOSE codegen; a Janino
    // compile failure at runtime silently falls back to interpreter
    // mode (simhash64 did exactly this until the primitive-unbox fix
    // in UnaryKernelCodegen). Generating the projection directly makes
    // a compile failure throw, and the value must equal eval().
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    val arrIn = BoundReference(0, ArrayType(LongType), nullable = true)
    val sim = graft.functions.SimHash64(arrIn)
    val simProj = GenerateUnsafeProjection.generate(Seq(sim))
    val arrRow = InternalRow(new GenericArrayData(Array(7L, 7L, 12L)))
    assert(simProj(arrRow).getLong(0) == sim.eval(arrRow))

    val strIn = BoundReference(0, StringType, nullable = true)
    val mode = graft.functions.BigramModeCount(strIn)
    val modeProj = GenerateUnsafeProjection.generate(Seq(mode))
    val strRow = InternalRow(UTF8String.fromString("a b a b a"))
    assert(modeProj(strRow).getLong(0) == 2L)
    assert(mode.eval(strRow) == 2L)

    val wb = graft.functions.WordBigrams(strIn)
    val wbProj = GenerateUnsafeProjection.generate(Seq(wb))
    val got = wbProj(strRow).getArray(0)
    assert((0 until got.numElements())
      .map(i => got.getUTF8String(i).toString) ==
      Seq("a b", "b a", "a b", "b a"))
    // <2 words -> empty array (explode drops the row); "" is one word
    assert(wbProj(InternalRow(UTF8String.fromString("solo")))
      .getArray(0).numElements() == 0)
    assert(wbProj(InternalRow(UTF8String.fromString("")))
      .getArray(0).numElements() == 0)
  }

  test("bucketed co-located join runs with no shuffle (SCALE.md claim)") {
    val tmp = java.nio.file.Files.createTempDirectory("bucketed").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.Tables.load(spark, sf, "lineitem")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li").mode("overwrite").saveAsTable("li_buck")
      graft.sources.Tables.load(spark, sf, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/ord").mode("overwrite").saveAsTable("ord_buck")
      val joined = spark.table("li_buck").join(spark.table("ord_buck"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        graft.sources.Tables.load(spark, sf, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_buck")
      spark.sql("DROP TABLE IF EXISTS ord_buck")
    }
  }

  test("AQE splits a skewed join partition at runtime (SCALE.md claim)") {
    import org.apache.spark.sql.functions.{col, when}
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    // thresholds scaled down so the fixture-sized skew triggers the
    // same re-plan a hot key triggers at cluster scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    try {
      // ~60% of the left side lands on key 0 — one partition dwarfs
      // the rest
      val left = spark.range(0, 300000)
        .select(when(col("id") % 5 < 3, 0L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      val n = joined.count()
      // key 0 matches right row 0: 180k pairs; other keys match 1:1
      // for ids 1..1999 not mapped to 0 → ids ≡ 3,4 mod 5 under 2000
      val expect = 180000L +
        (1L until 2000L).count(id => id % 5 >= 3).toLong
      assert(n == expect, s"join result $n != $expect")
      val adaptive = joined.queryExecution.executedPlan
      // count() executes its own plan; run this one too so the final
      // adaptive plan exists, then look for the skew-split marker
      joined.collect()
      val planStr = adaptive.toString
      assert(planStr.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$planStr")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q38 as-of join: exactly one exchange feeds the window") {
    val plan = graft.operators.AsOfJoin.eventsAsOfPurchases(spark, sf)
      .queryExecution.executedPlan.toString
    // union of two scans -> ONE hashpartitioning exchange on user_id ->
    // window; the final orderBy adds a range exchange. Anything more
    // means the formulation regressed.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n$plan")
  }

  test("q39 sessions: both window passes share one shuffle") {
    val plan = graft.operators.OlapQueries.userSessions(spark, sf)
      .queryExecution.executedPlan.toString
    // lag + running sum partition identically -> single exchange on
    // user_id; then one more for the groupBy on (user_id, session_id)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2, s"window shuffles not shared:\n$plan")
  }

  test("q40 shipping priority: filtered dim broadcasts, filters push down") {
    val plan = graft.operators.OlapQueries.shippingPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate") ||
      plan.contains("LessThan(o_orderdate"), s"orders date filter not pushed:\n$plan")
    assert(plan.contains("GreaterThan(l_shipdate"), s"lineitem filter not pushed:\n$plan")
  }

  test("q78 local supplier volume: filters push down, dims broadcast, result sane") {
    val df = graft.operators.OlapQueries.localSupplierVolume(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-year filter not pushed:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast dims:\n$plan")
    // the cross-branch c_nationkey = s_nationkey predicate must bind as
    // a join condition (an extra equality key), not a post-join Filter
    val rows = df.collect()
    assert(rows.nonEmpty)
    // replica: plain filter spelling on the collected join
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val ord = graft.sources.Tables.load(spark, sf, "orders")
    val cust = graft.sources.Tables.load(spark, sf, "customer")
    val supp = graft.sources.Tables.load(spark, sf, "supplier")
    val nat = graft.sources.Tables.load(spark, sf, "nation")
    val reg = graft.sources.Tables.load(spark, sf, "region")
    import org.apache.spark.sql.functions.{col, lit, sum, round => rnd}
    val want = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .filter(col("c_nationkey") === col("s_nationkey") &&
        col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy("n_name")
      .agg(rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSet == want)
  }

  test("GraftAnalyze sketch stats steer the join strategy under CBO") {
    import org.apache.spark.sql.functions.col
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.sql("DROP TABLE IF EXISTS g_orders")
      spark.sql(s"CREATE TABLE g_orders USING parquet LOCATION '$sf/orders.parquet'")
      spark.sql("DROP TABLE IF EXISTS g_lineitem")
      spark.sql(s"CREATE TABLE g_lineitem USING parquet LOCATION '$sf/lineitem.parquet'")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
      // a filtered dimension: tiny in reality, but the planner can't
      // know that without column stats
      def q = spark.table("g_lineitem")
        .join(spark.table("g_orders").filter(col("o_custkey") === 1L),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      // join strategy is decided pre-AQE from logical stats -> sparkPlan
      val before = q.queryExecution.sparkPlan.toString
      assert(before.contains("SortMergeJoin"),
        s"without stats the filtered dim must not look broadcastable:\n$before")

      // sketch-ANALYZE: HLL NDV makes the o_custkey=1 filter selective
      // (~rowCount/ndv rows), shrinking the estimate under the
      // broadcast threshold
      val stats = graft.plans.GraftAnalyze.analyze(spark, "g_orders",
        Seq("o_orderkey", "o_custkey"))
      assert(stats.rowCount.exists(_ > 0))
      val after = q.queryExecution.sparkPlan.toString
      assert(after.contains("BroadcastHashJoin"),
        s"estimator stats must flip the join to broadcast:\n$after")

      // and a deliberately tiny NDV flips it back: selectivity 1/ndv=1
      // keeps every row, so the same join must stay sort-merge —
      // the ESTIMATE, not the data, is what moved the plan
      val wrongNdv = stats.copy(colStats = stats.colStats +
        ("o_custkey" -> stats.colStats("o_custkey").copy(
          distinctCount = Some(BigInt(1)))))
      org.apache.spark.sql.GraftColumnBridge
        .setTableStats(spark, "g_orders", wrongNdv)
      val wrong = q.queryExecution.sparkPlan.toString
      assert(wrong.contains("SortMergeJoin"),
        s"ndv=1 estimate must keep the join sort-merge:\n$wrong")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS g_orders")
      spark.sql("DROP TABLE IF EXISTS g_lineitem")
    }
  }

  test("GraftAnalyze agrees with ANALYZE TABLE's own column stats") {
    try {
      spark.sql("DROP TABLE IF EXISTS g_part")
      spark.sql(s"CREATE TABLE g_part USING parquet LOCATION '$sf/part.parquet'")
      spark.sql(
        "ANALYZE TABLE g_part COMPUTE STATISTICS FOR COLUMNS p_partkey, p_brand")
      val builtin = org.apache.spark.sql.GraftColumnBridge
        .tableStats(spark, "g_part").get
      val ours = graft.plans.GraftAnalyze.analyze(spark, "g_part",
        Seq("p_partkey", "p_brand"))
      assert(ours.rowCount == builtin.rowCount)
      Seq("p_partkey", "p_brand").foreach { c =>
        val b = builtin.colStats(c)
        val o = ours.colStats(c)
        assert(o.nullCount == b.nullCount, s"$c nullCount")
        // both are HLL-based estimates; they should land within 5% of
        // each other (and exactly for tiny-NDV columns)
        val (bn, on) = (b.distinctCount.get.toDouble, o.distinctCount.get.toDouble)
        assert(math.abs(bn - on) <= math.max(2.0, 0.05 * bn),
          s"$c ndv: ours=$on builtin=$bn")
      }
      // numeric min/max are exact in both
      assert(ours.colStats("p_partkey").min == builtin.colStats("p_partkey").min)
      assert(ours.colStats("p_partkey").max == builtin.colStats("p_partkey").max)
    } finally spark.sql("DROP TABLE IF EXISTS g_part")
  }

  test("GraftAnalyze: an all-null histogram column degrades gracefully") {
    try {
      spark.range(10).selectExpr("id", "CAST(NULL AS DOUBLE) AS v")
        .write.mode("overwrite").saveAsTable("g_allnull")
      val stats = graft.plans.GraftAnalyze.analyze(spark, "g_allnull",
        Seq("v"), histogramCols = Seq("v"))
      val cs = stats.colStats("v")
      assert(cs.nullCount.contains(BigInt(10)))
      assert(cs.histogram.isEmpty) // no percentiles → no histogram, no crash
    } finally spark.sql("DROP TABLE IF EXISTS g_allnull")
  }

  test("GraftAnalyze histograms fix range selectivity on skewed columns") {
    import org.apache.spark.sql.functions.col
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.sql("DROP TABLE IF EXISTS g_events")
      spark.sql(s"CREATE TABLE g_events USING parquet LOCATION '$sf/events.parquet'")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // events.value is right-skewed (exponential-ish): the p10 cut
      // sits far below the min-max midpoint, so linear interpolation
      // must underestimate a `value <= p10` filter badly
      val cut = spark.table("g_events").stat
        .approxQuantile("value", Array(0.1), 0.001)(0)
      val actual = spark.table("g_events")
        .filter(col("value") <= cut).count()
      def estimate(): BigInt = spark.table("g_events")
        .filter(col("value") <= cut).select("event_id")
        .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))

      graft.plans.GraftAnalyze.analyze(spark, "g_events", Seq("value"))
      val interp = estimate()
      graft.plans.GraftAnalyze.analyze(spark, "g_events", Seq("value"),
        histogramCols = Seq("value"))
      val hist = estimate()

      def err(e: BigInt): Double = math.abs(e.toDouble - actual) / actual
      assert(err(interp) > 0.5,
        s"precondition: interpolation should be badly off on this skew " +
          s"(interp=$interp actual=$actual)")
      assert(err(hist) < 0.25,
        s"histogram estimate should land near truth: hist=$hist actual=$actual")
      assert(err(hist) < err(interp) / 2,
        s"histogram must beat interpolation: interp=$interp hist=$hist actual=$actual")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
      spark.sql("DROP TABLE IF EXISTS g_events")
    }
  }

  test("q58: sample + scrub + chunk fuse into one scan, one exchange") {
    val plan = planOf(graft.operators.Pipeline.corpusManifest(spark, sf))
    // the mixture filter, both regex rewrites, tokenization and the
    // chunk explode all live in the scan stage; the only exchange is
    // the single-partition presentation sort
    val exchanges = "Exchange".r.findAllMatchIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$plan")
    assert(!plan.contains("Join"), s"no join expected:\n$plan")
    val scans = "FileScan".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected one corpus scan:\n$plan")
  }

  test("q22: dedup shuffles content hashes, not document bodies") {
    val plan = planOf(graft.operators.Dedup.exactDedup(spark, sf))
    // the rows crossing the shuffle are the partial aggregate's output
    // — group key must be the sha2 hash, never the text column
    val partialLine = plan.linesIterator
      .find(l => l.contains("HashAggregate") && l.contains("partial_"))
      .getOrElse(fail(s"no partial aggregate in plan:\n$plan"))
    val output = partialLine.substring(partialLine.indexOf("output=["))
    assert(!output.contains("text#"),
      s"document body crosses the shuffle: $partialLine")
  }

  test("q81: attribution joins hash on user_id, never nested-loop") {
    val plan = planOf(OlapQueries.purchaseAttribution(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"time-range join fell back to nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      s"no hash/merge join on user_id:\n$plan")
  }

  test("q82: Q17 shape is one lineitem scan (window, not self-join)") {
    val plan = planOf(OlapQueries.smallQuantityRevenue(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"fact table scanned more than once:\n$plan")
    assert(!plan.contains("Join"), s"decorrelated self-join crept in:\n$plan")
    // the window is partitioned (never a global sort)
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(l_partkey"),
      s"window lost its partitioning:\n$plan")
  }

  test("q79/q80/q83: single-scan aggregates, broadcast-only joins") {
    val resample = planOf(graft.operators.Pipeline.temperatureResample(spark, sf))
    assert(resample.contains("BroadcastHashJoin") &&
      !resample.contains("SortMergeJoin"),
      s"rate table not broadcast:\n$resample")
    val manifest = planOf(graft.operators.Layout.zorderManifest(spark, sf))
    assert("Scan parquet".r.findAllIn(manifest).size == 1 &&
      !manifest.contains("Join"),
      s"manifest should be one scan + one agg:\n$manifest")
    val funnel = planOf(OlapQueries.eventFunnel(spark, sf))
    assert("Scan parquet".r.findAllIn(funnel).size == 1 &&
      !funnel.contains("Join"),
      s"funnel should be one scan + two aggs:\n$funnel")
  }

  test("q133 sample quantiles: bounded aggregate, no corpus window") {
    val plan = planOf(
      graft.operators.Percentiles.sampleQuantiles(spark, sf))
    // the sample comes from the mergeable topk_rows aggregate, one scan
    assert(plan.contains("topk_rows"), s"sketch aggregate missing:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"more than one corpus scan:\n$plan")
    // the only window runs over the exploded ≤k-row samples, partitioned
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(l_returnflag"),
      s"window lost its partitioning:\n$plan")
  }

  test("q137 locf: every window partitioned, fact reduced before join") {
    val plan = planOf(graft.operators.OlapQueries.locfFill(spark, sf))
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(seg"),
      s"LOCF window lost its segment partitioning:\n$plan")
    // revenue reduces to spine grain via a partial aggregate before
    // the spine join (map-side combine present)
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      s"no partial aggregation before the spine join:\n$plan")
  }

  test("q139 pmi / q143 bm25: no cartesian joins, 1-row totals broadcast") {
    val pmi = planOf(graft.operators.TextQueries.pmiPairs(spark, sf))
    assert(!pmi.contains("CartesianProduct"),
      s"pmi plans a cartesian:\n$pmi")
    assert(pmi.contains("BroadcastNestedLoopJoin") ||
      pmi.contains("BroadcastExchange"),
      s"corpus totals are not broadcast:\n$pmi")
    val bm = planOf(graft.operators.TextQueries.bm25TopK(spark, sf))
    assert(!bm.contains("CartesianProduct"),
      s"bm25 plans a cartesian:\n$bm")
    assert(bm.contains("TakeOrderedAndProject"),
      s"bm25 top-k is a global sort, not TakeOrdered:\n$bm")
  }

  test("q149 gini / q152 paths: every window partitioned") {
    val gini = planOf(graft.operators.OlapQueries.giniRevenue(spark, sf))
    // the global rank must come from shard-partitioned windows (the
    // PrefixSum contract), never an unpartitioned cumsum
    assert(!gini.contains("Window [") ||
      gini.contains("windowspecdefinition(__shard"),
      s"gini rank window lost its shard partitioning:\n$gini")
    val paths = planOf(graft.operators.OlapQueries.topPaths(spark, sf))
    assert(!paths.contains("Window [") ||
      paths.contains("windowspecdefinition(user_id"),
      s"session windows lost their user partitioning:\n$paths")
    assert(paths.contains("TakeOrderedAndProject"),
      s"path top-k is a global sort:\n$paths")
  }

  test("q141/q145: the stat reports never rescan the corpus") {
    // the report consumes only the NDV-sized cell table (the operator
    // persists it): against a literal cell frame, no parquet scan may
    // appear anywhere in the report plan
    import spark.implicits._
    val cells = Seq(("a", 0, 5L), ("a", 1, 3L), ("b", 0, 2L))
      .toDF("t", "h", "n")
    val chi = planOf(graft.operators.OlapQueries.chiSquareReport(cells))
    assert(!chi.contains("Scan parquet"),
      s"chi-square report rescans the corpus:\n$chi")
    val welch = planOf(graft.operators.OlapQueries.welchTTest(spark, sf))
    assert("Scan parquet".r.findAllIn(welch).size <= 2 &&
      !welch.contains("CartesianProduct"),
      s"welch plan shape off:\n$welch")
  }

  test("q140 butterflies: wedge aggregate combines map-side") {
    val pairs = graft.sources.Tables.load(spark, sf, "lineitem")
      .join(graft.sources.Tables.load(spark, sf, "orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .select(org.apache.spark.sql.functions.col("o_custkey").as("c"),
        org.apache.spark.sql.functions.col("l_suppkey").as("s"))
      .distinct()
    val plan = planOf(
      graft.operators.PageRank.butterflyCensusPlan(pairs))
    // the supplier-pair count must partial-aggregate before its
    // exchange — the wedge stream is the quadratic part
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"wedge counts not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"wedge join planned as cartesian:\n$plan")
  }

  test("percentile router flips route as estimated NDV crosses the threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Percentiles
    import graft.operators.Percentiles.{CountsRoute, Measure, ValueListRoute}
    // same corpus size, two domains: 8 distinct values vs near-unique
    val bounded = (1L to 4000L).map(i => ("g", i % 8)).toDF("g", "v")
    val unique = (1L to 4000L).map(i => ("g", i)).toDF("g", "v")
    val m = Seq(Measure("m", col("v"), 1L, Seq("p50" -> 0.5)))
    assert(Percentiles.routeMeasures(bounded, m) ===
      Map("m" -> CountsRoute))
    assert(Percentiles.routeMeasures(unique, m) ===
      Map("m" -> ValueListRoute))
    // an ANALYZE-published NDV hint overrides the sketch estimate and
    // flips the same data's route without scanning measure bytes
    assert(Percentiles.routeMeasures(unique, m,
      ndvHints = Map("m" -> 8L)) === Map("m" -> CountsRoute))
    assert(Percentiles.routeMeasures(bounded, m,
      ndvHints = Map("m" -> 4000L)) === Map("m" -> ValueListRoute))
    // past the list row limit a near-unique domain takes SELECTION
    // (histogram range narrowing) — the third physical route
    assert(Percentiles.chooseRoute(rows = 4000000L, ndvEstimate = 3000000L)
      === Percentiles.SelectionRoute)
    // all three routes answer identically on the same quantized grid
    val routedLow = Percentiles.percentilesByGroupRouted(bounded, "g", m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val listLow = Percentiles.valueListPercentiles(bounded, "g", m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(routedLow.toSet === listLow.toSet)
    val selUnique = Percentiles.percentilesByGroupRouted(unique, "g", m,
        listRowLimit = 0L) // force the selection machinery
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val listUnique = Percentiles.valueListPercentiles(unique, "g", m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(selUnique.toSet === listUnique.toSet)
    // fully-hinted estimation (domain bounds instead of a sketch scan)
    // routes and answers identically — including a deliberately LOOSE
    // maxQ bound, which may cost narrowing passes but never the answer
    val hinted = Percentiles.percentilesByGroupRoutedRows(unique, "g", m,
      ndvHints = Map("m" -> 4000L), listRowLimit = 0L,
      maxQHints = Map("m" -> 1000000L))
    assert(hinted.toSet === listUnique.toSet)
    // the value-list route's physical plan carries the percentile
    // aggregate; the counts route never does (it is the PrefixSum
    // machinery, plan-asserted in PercentileMergeSpec)
    val listPlan = Percentiles.valueListPercentiles(unique, "g", m)
      .queryExecution.executedPlan.toString
    assert(listPlan.contains("percentile"),
      s"value-list route lost the percentile aggregate:\n$listPlan")
  }

  test("routed percentiles plan from persisted ANALYZE stats: zero jobs") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Percentiles
    import graft.operators.Percentiles.Measure
    import graft.sources.Tables
    val li = Tables.load(spark, sf, "lineitem")
    val m = Seq(
      Measure("qty", col("l_quantity"), 1L, Seq("p50_qty" -> 0.5)),
      Measure("price", col("l_extendedprice"), 100L,
        Seq("p50_price" -> 0.5)))
    // first resolution auto-ANALYZEs (one sketch scan, persisted as
    // CatalogStatistics for the session)
    val warm = Percentiles.statsFromCatalog(li, m, "l_returnflag")
    assert(warm.isDefined, "lineitem did not resolve to catalog stats")
    // …after which the SAME resolution — the whole routing decision —
    // runs with ZERO Spark jobs
    val (cold, jobs) =
      recordJobs(Percentiles.statsFromCatalog(li, m, "l_returnflag"))
    assert(cold === warm)
    assert(jobs.sites.size === 0,
      s"catalog-stats routing ran ${jobs.sites.size} jobs — expected none")
    // the resolved numbers are the data's (not placeholder zeros)
    val s = warm.get("qty")
    assert(s.rows === li.count())
    assert(s.grps === 3L, "3 returnflags") // HLL is exact at NDV 3
    assert(s.maxQ >= 40L && s.maxQ <= 50L, s"qty maxQ = ${s.maxQ}")
    assert(s.ndv >= 40L && s.ndv <= 55L, s"qty ndv = ${s.ndv}")
    // a derived frame (no single backing directory) does NOT resolve —
    // the estimation-scan fallback stays in charge there
    import spark.implicits._
    val derived = Seq(("a", 1L)).toDF("g", "v")
    assert(Percentiles.statsFromCatalog(derived,
      Seq(Measure("m", col("v"), 1L, Seq("p50" -> 0.5))), "g").isEmpty)
    // and a computed measure falls back even on the analyzed table
    assert(Percentiles.statsFromCatalog(li,
      Seq(Measure("m", col("l_quantity") * 2, 1L, Seq("p50" -> 0.5))),
      "l_returnflag").isEmpty)
  }

  test("q147: a-priori semi-join prunes baskets before the pair self-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    val baskets = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L))
      .toDF("o", "p")
    val margins = baskets.groupBy("p").agg(count(lit(1)).as("c"))
    val plan = planOf(graft.operators.OlapQueries.copurchaseLiftPlan(
      baskets, margins, nOrders = 3L, minSupport = 2, topK = 10))
    // both legs of the pair self-join must read the semi-join-pruned
    // baskets (pairs can't reach support if either leg doesn't)
    assert(plan.contains("LeftSemi"),
      s"a-priori prune missing from the pair join inputs:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair join planned as cartesian:\n$plan")
  }

  test("q147: the basket stream crosses the network exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    val baskets = (1L to 40L).flatMap(o =>
      (1L to 4L).map(k => (o, (o * 7 + k * 13) % 17 + 1)))
      .toDF("o", "p")
    // materialized like the entry's persisted margins: a lazy margins
    // lineage would re-print its own (o,p) dedup exchange under every
    // lift join and the count below would see those, not the stream
    val margins = baskets.distinct()
      .groupBy("p").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val plan = planOf(graft.operators.OlapQueries.copurchaseLiftPlan(
      baskets, margins, nOrders = 40L, minSupport = 2, topK = 10))
    // the r13 optimization contract: ONE o-keyed exchange builds the
    // deduped basket adjacency (collect_set dedups map-side — the old
    // spelling paid a distinct() exchange AND a repartition); the
    // a-priori semi-join is a broadcast and the pruned re-group rides
    // the preserved o-partitioning, so no second o-exchange may appear
    val oExchanges = "hashpartitioning\\(o#".r.findAllIn(plan).size
    assert(oExchanges == 1,
      s"expected exactly one o-keyed exchange, saw $oExchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"a-priori prune is not a broadcast semi-join:\n$plan")
  }

  /** One curation-loop query, run to a noop sink the way the bench
    * runs it; the second of two runs is measured.
    */
  private def curationJobs(name: String): Seq[String] =
    curationRun(name).sites

  private def curationRun(name: String): JobRecord =
    curationRounds(name)._1

  /** [[curationRun]] with the round count of each contraction loop the
    * measured run reported.
    */
  private def curationRounds(name: String): (JobRecord, Seq[Int]) = {
    def once(): Unit = SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    once()
    val ((_, rounds), rec) = recordJobs(
      graft.operators.ConnectedComponents.countingRounds(once()))
    (rec, rounds)
  }

  test("q155: job budget, with the contraction's round count unchanged") {
    val (rec, rounds) = curationRounds("q155_connected_components")
    val sites = rec.sites
    // a 150-node chain with skip-2 shortcuts needs 8 double rounds (7
    // to contract, 1 to confirm), all inside the loop's one job
    assert(rounds.sum === 8, s"round count moved: $rounds")
    // 18 when each round was a job of its own
    assert(sites.size <= 8,
      s"q155 ran ${sites.size} jobs:\n${sites.mkString("\n")}")
    assert(rec.stages <= 8, s"q155 ran ${rec.stages} stages")
    // 6,389 B when the labeling join shuffled both sides
    assert(rec.shuffleBytes <= 3305L,
      s"q155 wrote ${rec.shuffleBytes} shuffle bytes")
    // the forest is a local relation, so the labeling join broadcasts it
    val plan = planOf(SparkEntry.queries("q155_connected_components")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LocalTableScan")
      && !plan.contains("SortMergeJoin"), s"forest not broadcast:\n$plan")
  }

  test("q162/q157: their forests contract in two rounds with no shuffle") {
    import graft.operators.ConnectedComponents
    val c = graft.sources.Tables.load(spark, sf, "customer")
      .select(org.apache.spark.sql.functions.col("c_custkey").as("k"))
    // q162's hub stars and q157's half-block base graph are star forests
    // already: one round to contract, one to confirm, in the loop's one
    // job after the pairs' checkpoint and count
    for ((name, edges) <- Seq(
        "q162" -> ConnectedComponents.starEdges(c, 400L),
        "q157" -> ConnectedComponents.halfBlockEdges(c, 600L))) {
      ConnectedComponents.forest(edges) // warm
      val ((_, rounds), rec) = recordJobs(
        ConnectedComponents.countingRounds(ConnectedComponents.forest(edges)))
      assert(rounds.sum === 2, s"$name: $rounds")
      assert(rec.sites.size === 2, s"$name:\n${rec.sites.mkString("\n")}")
      assert(rec.shuffleBytes === 0L, s"$name shuffled")
    }
  }

  test("q170: broadcast probe prefix keeps the job budget") {
    val sites = curationJobs("q170_jaccard_search")
    // 12 when the df table is counted by an aggregate and collected
    assert(sites.size <= 10,
      s"q170 ran ${sites.size} jobs:\n${sites.mkString("\n")}")
    // the probe side broadcasts: the index streams through the
    // candidate join unshuffled
    val df = graft.operators.Dedup.jaccardTopK(spark, sf)
    df.collect()
    val joins = allPlanNodes(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.condition.exists(_.toString.contains("doc_id")) &&
            j.buildSide ==
              org.apache.spark.sql.catalyst.optimizer.BuildLeft => j
    }
    assert(joins.nonEmpty,
      s"candidate join did not broadcast:\n${planOf(df)}")
    // the gate's fallback (a shuffle join) answers identically
    import org.apache.spark.sql.functions.col
    val state = graft.operators.Dedup.nearDupState(
      graft.sources.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")), 0.1)
    def search(bc: Boolean) = graft.operators.Dedup.jaccardTopKPlan(
      state, probeMod = 10L, k = 5, broadcastProbe = bc)
    val (b, f) = (search(bc = true), search(bc = false))
    assert(b.schema === f.schema)
    assert(b.collect().toSeq === f.collect().toSeq)
    assert(b.collect().toSeq === df.collect().toSeq)
  }

  test("prefixFrame: the broadcast df index cuts prefixes without an exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val state = graft.operators.Dedup.nearDupState(
      graft.sources.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")))
    def exchanges(): Int = {
      val p = graft.operators.Dedup.prefixFrame(state.docs, state.dfreq,
        state.dfRows, state.threshold - 1e-4)
      p.collect()
      allPlanNodes(p.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
    }
    assert(exchanges() == 0, "the broadcast route shuffled")
    assert(withoutBroadcast(exchanges()) > 0,
      "the shuffle route ran without an exchange")
  }

  test("docFrequencies: the driver-route state build runs no exchange") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def build() = recordJobs(graft.operators.Dedup.nearDupState(corpus))
    build() // warm
    val (state, driver) = build()
    val (_, aggregate) = withoutBroadcast(build())
    assert(driver.shuffleBytes == 0L,
      s"the driver route shuffled:\n${driver.sites.mkString("\n")}")
    assert(driver.shuffleBytes + driver.resultBytes <
      aggregate.shuffleBytes + aggregate.resultBytes,
      s"driver route $driver, aggregate route $aggregate")
    // the driver route's partials travel compressed: 152,399 B
    // measured, 275,926 B as uncompressed long arrays
    assert(driver.resultBytes <= 155000L,
      s"the driver route sent ${driver.resultBytes} result bytes")
    // the df table is a local relation: the prefix cut's collect of it
    // runs no job
    assert(recordJobs(state.dfreq.collect())._2.sites.isEmpty)
  }

  test("vocabSizes: one job, no exchange, fewer bytes than the " +
      "hll_distinct aggregate shuffles") {
    import org.apache.spark.sql.functions._
    import graft.plans.CardinalityEstimator.vocabSizes
    // the criteo feed's shape: 26 string columns, 45,840 rows, 4 tasks
    val df = spark.range(0L, 45840L, 1L, 4).select((1 to 26).map(j =>
      concat(lit(s"c${j}_"),
        pmod(xxhash64(col("id"), lit(j)), lit(67L * j)).cast("string"))
        .as(s"cat$j")): _*)
    val cols = df.columns.toSeq
    val aggs = cols.map(c => graft.functions.HllFunctions.hll_distinct(col(c)))
    def aggregated() = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    vocabSizes(df, cols); aggregated() // warm
    val (got, rec) = recordJobs(vocabSizes(df, cols))
    val (row, aggregate) = recordJobs(aggregated())
    assert(got == cols.indices.map(i => cols(i) -> row.getLong(i)).toMap)
    assert(rec.sites.size == 1 && rec.stages == 1, s"vocabSizes ran $rec")
    assert(rec.shuffleBytes == 0L && rec.shuffleReadBytes == 0L,
      s"vocabSizes shuffled: $rec")
    // under zstd the aggregate runs 2 jobs and 2 stages and writes and
    // reads 356,864 B; vocabSizes' compressed result is 308,283 B
    assert(rec.resultBytes < aggregate.shuffleBytes,
      s"vocabSizes $rec, hll_distinct aggregate $aggregate")
  }

  test("the criteo feed's re-shard shuffles zstd blocks") {
    import org.apache.spark.sql.functions._
    // write_shards' input: 45,840 rows of (batch_id, label, features)
    // in 4 tasks, the features 13 numeric columns and 26 hash buckets
    // of a column with 67·j categories in a 5·67·j domain
    def draw(salt: Int) = xxhash64(col("id"), lit(salt))
    val ints = (1 to 13).map(j =>
      pmod(draw(j), lit(1000L * j)).cast("double").as(s"int${j}_num"))
    val cats = (1 to 26).map(j =>
      pmod(hash(pmod(draw(200 + j), lit(67L * j))), lit(335 * j))
        .as(s"cat${j}_bucket"))
    val rows = spark.range(0L, 45840L, 1L, 4).select(
      pmod(draw(0), lit(90L)).as("batch_id"),
      (pmod(draw(100), lit(4L)) === 0).cast("double").as("label"),
      struct(ints ++ cats: _*).as("features"))
    def reshard() = rows.repartition(4, col("batch_id"))
      .write.format("noop").mode("overwrite").save()
    reshard() // warm
    val (_, rec) = recordJobs(reshard())
    // 7,478,496 B written under lz4
    assert(rec.shuffleBytes <= 3860302L,
      s"the re-shard wrote ${rec.shuffleBytes} shuffle bytes")
    assert(rec.shuffleReadBytes == rec.shuffleBytes, s"$rec")
  }

  test("q168: job budget for three prefix cuts") {
    val sites = curationJobs("q168_multiday_neardup")
    // 34 when each cut explodes, joins and regroups its tokens; 25
    // when the df table is counted by an aggregate and each cut
    // collects it in a job of its own
    assert(sites.size <= 21,
      s"q168 ran ${sites.size} jobs:\n${sites.mkString("\n")}")
  }

  test("q60: job budget for one df count and one prefix cut") {
    val sites = curationJobs("q60_prefix_jaccard_pairs")
    // 11 when the df table is counted by an aggregate and collected; 9
    // when the verify join broadcast the docs once per side
    assert(sites.size <= 8,
      s"q60 ran ${sites.size} jobs:\n${sites.mkString("\n")}")
    // both verify sides read one docs broadcast
    val df = graft.operators.Dedup.prefixJaccardPairs(spark, sf)
    df.collect()
    val docsBroadcasts = allPlanNodes(df.queryExecution.executedPlan)
      .count {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.output.exists(_.name == "hss")
        case _ => false
      }
    assert(docsBroadcasts === 1, s"docs broadcast $docsBroadcasts times:\n${planOf(df)}")
  }

  test("q147: packed and two-column pair plans share one output schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sort_array,
      collect_set}
    // INT part ids: the fallback used to keep the element type while
    // the packed branch decoded longs
    val baskets = (1 to 40).flatMap(o =>
      (1 to 4).map(k => (o.toLong, (o * 7 + k * 13) % 17 + 1)))
      .toDF("o", "p")
    val adj = baskets.groupBy("o")
      .agg(sort_array(collect_set(col("p"))).as("ps"))
    val margins = baskets.distinct()
      .groupBy("p").agg(count(lit(1)).as("c"))
    def lift(packed: Boolean) =
      graft.operators.OlapQueries.copurchaseLiftPlanAdj(adj, margins,
        nOrders = 40L, minSupport = 2, topK = 10, packPairs = packed)
    val (p, f) = (lift(packed = true), lift(packed = false))
    assert(p.schema.map(c => (c.name, c.dataType)) ===
      f.schema.map(c => (c.name, c.dataType)),
      s"gate changes the schema:\n${p.schema}\n${f.schema}")
    assert(p.collect().toSeq === f.collect().toSeq)
  }
}
