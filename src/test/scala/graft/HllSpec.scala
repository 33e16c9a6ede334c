package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters, Passed}
import graft.functions.{HllFunctions, HllSketch}
import graft.plans.{ApproxDistinctRewrite, CardinalityEstimator}
import graft.sources.Tables

class HllSpec extends SparkSpec {

  private def estimate(df: org.apache.spark.sql.DataFrame,
      c: String): Long =
    df.agg(HllFunctions.hll_distinct(col(c))).collect()(0).getLong(0)

  test("hll_distinct: exact on tiny cardinalities") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val values = (1 to 10).map(_ => rnd.nextLong())
    // every value twice: duplicates never count
    assert(estimate((values ++ values).toDF("v"), "v") == 10L)
  }

  test("hll_distinct: within max(2, 3%) of the exact count across " +
      "cardinalities") {
    for (n <- Seq(100, 1000, 10000, 100000)) {
      val df = spark.range(n).select(xxhash64(col("id")).as("v"))
      val est = estimate(df, "v")
      assert(math.abs(est - n) <= math.max(2, 0.03 * n), s"n=$n est=$est")
    }
  }

  test("hll_distinct merge shape: one partition, eight partitions and " +
      "hll_union_agg over per-grain sketches give one estimate") {
    for (n <- Seq(40, 12000, 200000)) {
      val df = spark.range(n)
        .select(col("id").cast("string").as("v"), (col("id") % 37).as("g"))
      val one = estimate(df.coalesce(1), "v")
      val eight = estimate(df.repartition(8), "v")
      val grains = df.groupBy("g")
        .agg(hll_sketch_agg(col("v"), HllFunctions.DefaultPrecision).as("s"))
        .agg(hll_union_agg(col("s")).as("u"))
        .select(hll_sketch_estimate(hll_union(col("u"), col("u"))))
        .collect()(0).getLong(0)
      assert(one == eight && eight == grains, s"n=$n: $one $eight $grains")
      assert(math.abs(one - n) <= math.max(2, 0.03 * n), s"n=$n est=$one")
    }
  }

  test("hll_distinct: property — estimate within 5% of true ndv") {
    import spark.implicits._
    val prop = Prop.forAll(
      Gen.choose(50, 20000), Gen.choose(0L, Long.MaxValue)) {
      (n: Int, seed: Long) =>
        val rnd = new scala.util.Random(seed)
        val distinct = (1 to n).map(_ => rnd.nextLong()).distinct
        val est = estimate(distinct.toDF("v"), "v")
        math.abs(est - distinct.size) <= math.max(3, 0.05 * distinct.size)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.status == Passed, res.status.toString)
  }

  test("hll_distinct over double, decimal, date, boolean and all-null " +
      "columns: within error of the exact count, nulls not counted") {
    val df = spark.range(5000).select(
      when(col("id") % 10 === 0, lit(null))
        .otherwise(col("id") / 7.0).as("d"),
      (col("id") % 1500).cast("decimal(12,2)").as("dec"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 900).cast("int"))
        .as("dt"),
      when(col("id") % 3 === 0, lit(null))
        .otherwise(col("id") % 2 === 0).as("b"),
      lit(null).cast("double").as("nul"))
    for (c <- df.columns) {
      val exact = df.agg(countDistinct(col(c))).collect()(0).getLong(0)
      val est = estimate(df, c)
      assert(math.abs(est - exact) <= math.max(2, 0.03 * exact),
        s"$c: $est vs $exact")
    }
    assert(estimate(df, "b") == 2L && estimate(df, "nul") == 0L)
    // GraftAnalyze installs an NDV for each of them
    val tmp = java.nio.file.Files.createTempDirectory("wh").toString
    df.write.mode("overwrite").option("path", s"$tmp/hll_types_t")
      .saveAsTable("hll_types_t")
    try {
      val stats = plans.GraftAnalyze.analyze(spark, "hll_types_t",
        df.columns.toSeq)
      val ndvs = stats.colStats.map { case (c, s) =>
        c -> s.distinctCount.map(_.toLong).getOrElse(-1L) }
      assert(ndvs("b") == 2L && ndvs("nul") == 0L, ndvs)
      assert(math.abs(ndvs("dt") - 900L) <= 27L, ndvs)
    } finally spark.sql("DROP TABLE hll_types_t")
  }

  test("Spark's sketch functions resolve under their own names") {
    Tables.load(spark, sf, "lineitem").createOrReplaceTempView("li_spark_hll")
    try {
      val r = spark.sql(
        """SELECT hll_sketch_estimate(hll_sketch_agg(l_partkey)) AS e,
          |  count(DISTINCT l_partkey) AS x FROM li_spark_hll""".stripMargin)
        .collect()(0)
      val (e, x) = (r.getLong(0), r.getLong(1))
      assert(math.abs(e - x) <= math.max(2, 0.05 * x), s"$e vs $x")
      // scalar hll_union: the union of two sketches covers both
      val u = spark.sql(
        """SELECT hll_sketch_estimate(hll_union(a, b)) FROM (
          |  SELECT hll_sketch_agg(l_partkey) AS a,
          |    hll_sketch_agg(l_suppkey) AS b FROM li_spark_hll)
          |""".stripMargin).collect()(0).getLong(0)
      assert(u >= e, s"$u < $e")
    } finally spark.catalog.dropTempView("li_spark_hll")
  }

  test("hll_distinct aggregate: exact vs approx on lineitem columns") {
    val li = Tables.load(spark, sf, "lineitem")
    val exact = li.agg(
      countDistinct(col("l_returnflag")), countDistinct(col("l_partkey")),
      countDistinct(col("l_orderkey"))).collect()(0)
    val approx = li.agg(
      HllFunctions.hll_distinct(col("l_returnflag")),
      HllFunctions.hll_distinct(col("l_partkey")),
      HllFunctions.hll_distinct(col("l_orderkey"))).collect()(0)
    assert(approx.getLong(0) == exact.getLong(0)) // 3 — exact at low card
    for (i <- 1 to 2) {
      val (e, a) = (exact.getLong(i), approx.getLong(i))
      assert(math.abs(a - e) <= math.max(2, 0.05 * e), s"col $i: $a vs $e")
    }
  }

  test("hll_distinct is partition-invariant") {
    val li = Tables.load(spark, sf, "lineitem")
    val one = li.repartition(1)
      .agg(HllFunctions.hll_distinct(col("l_partkey"))).collect()(0).getLong(0)
    val many = li.repartition(16)
      .agg(HllFunctions.hll_distinct(col("l_partkey"))).collect()(0).getLong(0)
    assert(one == many) // the canonical estimate reads the registers only
  }

  test("hll_distinct registered for SQL via GraftExtensions") {
    Tables.load(spark, sf, "events").createOrReplaceTempView("ev_hll")
    val got = spark.sql(
      "SELECT hll_distinct(event_type) AS n FROM ev_hll")
      .collect()(0).getLong(0)
    assert(got == 5L)
    val withPrec = spark.sql(
      "SELECT hll_distinct(user_id, 10) AS n FROM ev_hll")
      .collect()(0).getLong(0)
    val exact = spark.sql(
      "SELECT count(DISTINCT user_id) AS n FROM ev_hll")
      .collect()(0).getLong(0)
    assert(math.abs(withPrec - exact) <= math.max(3, 0.1 * exact))
  }

  test("ApproxDistinctRewrite: conf flips COUNT(DISTINCT) to the sketch") {
    Tables.load(spark, sf, "lineitem").createOrReplaceTempView("li_hll")
    val sql = "SELECT count(DISTINCT l_partkey) AS n FROM li_hll"
    spark.conf.set(ApproxDistinctRewrite.ConfKey, "true")
    try {
      val plan = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(plan.contains("hll_sketch_agg"), s"rule did not fire:\n$plan")
      val approx = spark.sql(sql).collect()(0).getLong(0)
      spark.conf.set(ApproxDistinctRewrite.ConfKey, "false")
      val exactPlan = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(!exactPlan.contains("hll_sketch_agg"))
      val exact = spark.sql(sql).collect()(0).getLong(0)
      assert(math.abs(approx - exact) <= math.max(2, 0.05 * exact))
    } finally spark.conf.set(ApproxDistinctRewrite.ConfKey, "false")
  }

  test("vocabSizes + bucketSizes reproduce the reference sizing flow") {
    val ev = Tables.load(spark, sf, "events")
    val vocab = CardinalityEstimator.vocabSizes(ev, Seq("event_type"))
    assert(vocab("event_type") == 5L)
    val buckets = CardinalityEstimator.bucketSizes(vocab)
    assert(buckets("event_type") == 25L) // ndv*5, trainer.py:264
  }

  /** [[CardinalityEstimator.vocabSizes]] next to the reference, one
    * `hll_distinct` aggregate over the same columns: equal maps,
    * returned with the `vocabSizes` call's job record.
    */
  private def vocabAgainstAggregate(df: org.apache.spark.sql.DataFrame)
      : (Map[String, Long], JobRecord) = {
    val cols = df.columns.toSeq
    val (got, rec) = recordJobs(CardinalityEstimator.vocabSizes(df, cols))
    val aggs = cols.map(c => HllFunctions.hll_distinct(col(c)))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val want = cols.indices.map(i => cols(i) -> row.getLong(i)).toMap
    assert(got == want, s"vocabSizes $got, hll_distinct $want")
    (got, rec)
  }

  private def typedColumns(parts: Int) =
    spark.range(0L, 20000L, 1L, parts).select(
      (col("id") % 1500).cast("int").as("i"),
      (col("id") * 7919L % 12000L).as("l"),
      concat(lit("s"), (col("id") % 900).cast("string")).as("s"),
      encode(concat(lit("b"), (col("id") % 300).cast("string")), "UTF-8")
        .as("bin"),
      ((col("id") % 2500).cast("double") / 4).as("d"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 700).cast("int"))
        .as("dt"),
      lit(null).cast("string").as("nul"),
      // '' is not counted (DataSketches skips empty strings), and NULL
      // never is
      when(col("id") % 3 === 0, lit("")).otherwise(lit(null).cast("string"))
        .as("blank"))

  test("vocabSizes equals hll_distinct over int, long, string, binary, " +
      "double, date, all-null and '' columns, in one job") {
    val exact = Map("i" -> 1500L, "l" -> 12000L, "s" -> 900L,
      "bin" -> 300L, "d" -> 2500L, "dt" -> 700L)
    for (parts <- Seq(1, 4, 8, 40)) {
      val (got, rec) = vocabAgainstAggregate(typedColumns(parts))
      // up to 5 partials the driver unions them all; past that the tree
      // adds one level of unions on the executors
      if (parts <= 5) assert(rec.sites.size == 1 && rec.stages == 1 &&
        rec.shuffleBytes == 0L, s"$parts partitions: vocabSizes ran $rec")
      else assert(rec.sites.size == 1 && rec.stages == 2,
        s"$parts partitions: vocabSizes ran $rec")
      exact.foreach { case (c, n) =>
        assert(math.abs(got(c) - n) <= math.max(2, 0.03 * n),
          s"$parts partitions, $c: ${got(c)} vs $n")
      }
      assert(got("nul") == 0L && got("blank") == 0L, got)
    }
  }

  test("vocabSizes: an empty frame and a zero-partition frame count 0") {
    val empty = typedColumns(4).filter(col("i") < 0)
    val noParts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      typedColumns(1).schema)
    assert(noParts.queryExecution.toRdd.getNumPartitions == 0)
    for (df <- Seq(empty, noParts))
      assert(vocabAgainstAggregate(df)._1.values.forall(_ == 0L))
  }

  test("vocabTable query returns one row per analyzed column") {
    val df = plans.CardinalityEstimator.vocabTable(spark, sf)
    val rows = df.collect()
    assert(rows.length == 5)
    val byName = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("l_returnflag") == 3L)
    assert(byName("l_linestatus") == 2L)
    // the key columns estimate within the standard HLL band (p=12)
    val li = Tables.load(spark, sf, "lineitem")
    for (c <- Seq("l_partkey", "l_suppkey", "l_orderkey")) {
      val exact = li.agg(countDistinct(col(c))).collect()(0).getLong(0)
      assert(math.abs(byName(c) - exact) <= math.max(3, 0.05 * exact),
        s"$c: ${byName(c)} vs $exact")
    }
  }

  test("portable sketch: accurate on SEQUENTIAL keys (the adversarial " +
      "input the xorshift mix exists for) and exact-CDF ranks") {
    // a single affine mod-P hash leaves sequential keys an arithmetic
    // progression — measured +24–37% HLL bias; the mix must hold the
    // standard ±1.04/√m ≈ 1.6% band (3σ ≈ 5%)
    for (n <- Seq(100, 1000, 10000, 100000)) {
      val regs = HllSketch.emptyRegisters(HllSketch.PortablePrecision)
      var v = 1L
      while (v <= n) {
        HllSketch.addPortable(regs, portableMixLong(v)); v += 1
      }
      val est = HllSketch.estimatePortable(regs)
      assert(math.abs(est - n) <= math.max(3, 0.05 * n), s"n=$n est=$est")
    }
  }

  test("portable sketch: merge of halves equals the union sketch") {
    val all = (1L to 5000L).map(portableMixLong)
    val (h1, h2) = all.splitAt(2500)
    val a = HllSketch.emptyRegisters(12)
    val b = HllSketch.emptyRegisters(12)
    val u = HllSketch.emptyRegisters(12)
    h1.foreach(HllSketch.addPortable(a, _))
    h2.foreach(HllSketch.addPortable(b, _))
    all.foreach(HllSketch.addPortable(u, _))
    assert(HllSketch.merge(a, b).toSeq == u.toSeq)
  }

  test("hll_ndv_portable: partition-invariant, matches the core, and " +
      "refuses unhashed input") {
    import graft.functions.HllFunctions.{hll_ndv_portable, portableHash}
    val li = Tables.load(spark, sf, "lineitem")
    def run(parts: Int): Long = li.repartition(parts)
      .agg(hll_ndv_portable(portableHash(col("l_orderkey"))))
      .collect()(0).getLong(0)
    assert(run(1) == run(16))
    // the distributed aggregate equals a driver-side core replay
    val regs = HllSketch.emptyRegisters(HllSketch.PortablePrecision)
    li.select(portableHash(col("l_orderkey")).as("h")).collect()
      .foreach(r => HllSketch.addPortable(regs, r.getLong(0)))
    assert(run(1) == HllSketch.estimatePortable(regs))
    // unhashed input (outside [0, P)) fails loudly, not silently
    val e = intercept[Exception] {
      li.agg(hll_ndv_portable(lit(HllSketch.PortableDomain))).collect()
    }
    assert(e.getMessage.contains("hll_ndv_portable") ||
      Option(e.getCause).exists(_.getMessage.contains("hll_ndv_portable")))
  }

  test("hll_ndv_portable registered for SQL via GraftExtensions") {
    Tables.load(spark, sf, "lineitem").createOrReplaceTempView("li_port")
    // the SQL spelling of portableHash — the exact oracle arithmetic
    val got = spark.sql(
      """SELECT hll_ndv_portable(
        |  (m3 ^ shiftright(m3, 11)) % 1000000007) AS n FROM (
        |  SELECT (m1 ^ shiftright(m1, 13)) * 1610612741
        |           % 1000000007 AS m3
        |  FROM (SELECT (l_suppkey % 1000000007) * 2654435761
        |                 % 1000000007 AS m1 FROM li_port))""".stripMargin)
      .collect()(0).getLong(0)
    val exact = spark.sql(
      "SELECT count(DISTINCT l_suppkey) FROM li_port")
      .collect()(0).getLong(0)
    assert(math.abs(got - exact) <= math.max(3, 0.05 * exact),
      s"$got vs $exact")
  }

  /** Driver-side replica of HllFunctions.portableHash for core tests. */
  private def portableMixLong(v: Long): Long = {
    val P = HllSketch.PortableDomain
    var h = (v % P) * 2654435761L % P
    h = h ^ (h >>> 13)
    h = h * 1610612741L % P
    (h ^ (h >>> 11)) % P
  }

  test("freq_topk: exact when ndv <= capacity, partition-invariant") {
    val ev = Tables.load(spark, sf, "events")
    val exact = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hh = plans.CardinalityEstimator.heavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == exact)
    // partition invariance: 1 vs 16 partitions, same summary
    def run(parts: Int) = ev.repartition(parts)
      .agg(graft.functions.FreqFunctions.freq_topk(col("event_type"), 8))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(run(1) == run(16))
  }

  test("freq_topk: bounded regime keeps true heavy hitters, never overcounts") {
    import spark.implicits._
    // skewed stream: 'hot' appears 500x, 50 cold values 10x each,
    // capacity 8 « ndv 51
    val rows = Seq.fill(500)("hot") ++
      (1 to 50).flatMap(i => Seq.fill(10)(s"cold$i"))
    val df = scala.util.Random.shuffle(rows).toDF("v")
    val hh = df.agg(graft.functions.FreqFunctions.freq_topk(col("v"), 8))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh.contains("hot"), s"true heavy hitter evicted: $hh")
    // Misra-Gries estimates are lower bounds on true counts
    assert(hh("hot") <= 500)
    hh.foreach { case (v, c) =>
      val truth = if (v == "hot") 500 else 10
      assert(c <= truth, s"$v overcounted: $c > $truth")
    }
  }

  test("freq_topk registered for SQL via GraftExtensions") {
    Tables.load(spark, sf, "events").createOrReplaceTempView("ev_freq")
    val got = spark.sql(
      "SELECT freq_topk(event_type, 8) AS hh FROM ev_freq")
      .selectExpr("size(hh)").collect()(0).getInt(0)
    assert(got == 5)
  }

  test("catalog stats path: ANALYZE TABLE feeds CBO column stats") {
    // the built-in half of the estimator story (SURVEY.md §4): persist
    // NDVs into the catalog and let Catalyst's CBO consume them
    val tmp = java.nio.file.Files.createTempDirectory("wh").toString
    spark.conf.set("spark.sql.cbo.enabled", "true")
    Tables.load(spark, sf, "nation").write.mode("overwrite")
      .option("path", s"$tmp/nation_t").saveAsTable("nation_t")
    spark.sql("ANALYZE TABLE nation_t COMPUTE STATISTICS FOR ALL COLUMNS")
    val stats = spark.table("nation_t").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong == 25L))
    assert(stats.attributeStats.nonEmpty)
    val ndvs = stats.attributeStats.map { case (a, s) =>
      a.name -> s.distinctCount.map(_.toLong).getOrElse(-1L) }
    assert(ndvs("n_nationkey") == 25L)
    spark.sql("DROP TABLE nation_t")
  }
}
