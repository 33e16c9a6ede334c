package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.operators.OlapQueries
import graft.plans.{Summaries, SummaryRewrite}
import graft.sources.Tables

/** The materialized-summary router (q172): rewrite fires exactly when
  * it should, reads the summary instead of the fact table, and is
  * value-identical to the raw plan.
  */
class SummaryRewriteSpec extends SparkSpec {

  private def scanPaths(df: DataFrame): Seq[String] = {
    df.collect() // finalize the adaptive plan
    allPlanNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
  }

  /** Run `body` with routing force-disabled. Callers must REBUILD
    * their DataFrame inside — a planned frame keeps its physical
    * plan, so re-collecting one compares the routed plan with itself.
    */
  private def withoutRouting[A](body: => A): A = {
    spark.conf.set(SummaryRewrite.ConfKey, "false")
    try body finally spark.conf.unset(SummaryRewrite.ConfKey)
  }

  private def registered[A](body: => A): A = {
    Summaries.create(
      Tables.load(spark, sf, "lineitem"), "spec_pricing",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_base" -> "cast(l_extendedprice as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"),
      kmvs = Seq("kmv_supp" -> SuppHash), kmvK = 64)
    try body finally Summaries.drop("spec_pricing")
  }

  private val SuppHash =
    "((l_suppkey % 1000000007) * 2654435761) % 1000000007"

  test("q172 routes onto the summary and equals the raw-table answer") {
    val raw = OlapQueries.summaryPricingQuery(spark, sf).collect().toSeq
    val (rows, paths) = registered {
      val df = OlapQueries.summaryPricingQuery(spark, sf)
      (df.collect().toSeq, scanPaths(df))
    }
    assert(rows == raw) // value-exact: decimal sums re-aggregate exactly
    assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
      s"expected only summary scans, got $paths")
    assert(!paths.exists(_.contains("lineitem")), s"raw scan survived: $paths")
  }

  test("coarser rollup (one grain column, global) routes too") {
    registered {
      val byFlag = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sq"))
      val pf = scanPaths(byFlag)
      assert(pf.forall(_.contains("graft_summaries")), s"by-flag: $pf")
      val global = Tables.load(spark, sf, "lineitem")
        .agg(count(lit(1)).as("n"))
      val pg = scanPaths(global)
      assert(pg.forall(_.contains("graft_summaries")), s"global: $pg")
      // and both are value-correct vs the raw spelling
      val nRaw = Tables.load(spark, sf, "lineitem").count()
      assert(global.collect()(0).getLong(0) == nRaw)
    }
  }

  test("time-grain rollup (month over the day grain) routes and matches") {
    registered {
      val q = () => Tables.load(spark, sf, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sq"))
        .orderBy("mo")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      assert(routed == raw && routed.nonEmpty)
    }
  }

  test("global count over an all-excluding filter is 0, not null") {
    registered {
      val df = Tables.load(spark, sf, "lineitem")
        .filter(col("l_shipdate") < lit("1970-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"))
      assert(scanPaths(df).forall(_.contains("graft_summaries")))
      assert(df.collect()(0).getLong(0) == 0L)
    }
  }

  test("disqualifying shapes stay on the raw table") {
    registered {
      // non-grain grouping column
      val byTax = Tables.load(spark, sf, "lineitem")
        .groupBy("l_tax").agg(count(lit(1)).as("n"))
      assert(scanPaths(byTax).exists(_.contains("lineitem")))
      // unregistered measure
      val sumTax = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag").agg(sum("l_tax").as("s"))
      assert(scanPaths(sumTax).exists(_.contains("lineitem")))
      // DISTINCT aggregate over a NON-grain column
      val dist = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("d"))
      assert(scanPaths(dist).exists(_.contains("lineitem")))
      // …but DISTINCT over a GRAIN column routes, value-exactly (the
      // summary carries the raw table's distinct grain tuples)
      val gdist = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_linestatus")).as("d"))
        .orderBy("l_returnflag")
      assert(scanPaths(gdist()).forall(_.contains("graft_summaries")))
      assert(gdist().collect().toSeq ==
        withoutRouting { gdist().collect().toSeq })
      // non-grain filter column
      val filt = Tables.load(spark, sf, "lineitem")
        .filter(col("l_tax") > 0.01)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(scanPaths(filt).exists(_.contains("lineitem")))
      // non-deterministic filter: no column refs, but per-ROW
      // semantics — must stay on the raw table
      val sampled = Tables.load(spark, sf, "lineitem")
        .filter(rand(7) < 0.5)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(scanPaths(sampled).exists(_.contains("lineitem")))
      // count(NULL) is 0 per row, not the row count. NullPropagation
      // folds it to a literal 0 BEFORE the router (so the residual
      // grain-only aggregate may legally route); the guarded rewrite
      // must stay value-identical to the raw answer either way
      val nullCount = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(null)).as("n")).orderBy("l_returnflag")
      val routed = nullCount().collect().toSeq
      val rawNc = withoutRouting { nullCount().collect().toSeq }
      assert(routed == rawNc)
    }
  }

  test("refresh RETIRES the superseded generation and deletes it at " +
      "the NEXT fold — one generation of retention, no unbounded leak") {
    val raw = Tables.load(spark, sf, "lineitem")
    Summaries.create(raw, "spec_gen",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
    try {
      val batch = raw.filter(col("l_quantity") < 0) // empty fold
      // generation dirs carry a per-writer nonce (`__g<k>_w<nonce>`),
      // so assert on the GENERATION NUMBERS present, not exact names
      def gens() = Option(new java.io.File(
        "spark-warehouse/graft_summaries").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("spec_gen__g"))
        .map(_.stripPrefix("spec_gen__g").takeWhile(_.isDigit).toInt)
        .distinct.sorted
      Summaries.refresh("spec_gen", batch)
      // gen 0 (summary + cube sidecar) is RETIRED, not deleted: an
      // in-flight reader that planned against it must finish
      assert(gens() == Seq(0, 1), gens().toString)
      Summaries.refresh("spec_gen", batch)
      // the second fold lapses gen 0; gen 1 enters retention — the
      // on-disk footprint is bounded at current + one retained
      assert(gens() == Seq(1, 2),
        s"expected retention window (g1) + current (g2), found ${gens()}")
      // a configured grace spares a too-young retired generation
      // across the NEXT fold (the cross-JVM reader window) and
      // carries it forward in the spec's retired list — still live
      // to the GC sweep — until it ages out
      spark.conf.set(Summaries.RetentionGraceKey, "3600000")
      try {
        Summaries.refresh("spec_gen", batch) // gen 3; g1 too young
        assert(gens() == Seq(1, 2, 3), gens().toString)
        assert(!Summaries.gcOrphans().exists(_.contains("spec_gen")),
          "grace-spared generations are referenced, never orphans")
        assert(gens().contains(1))
      } finally spark.conf.unset(Summaries.RetentionGraceKey)
      Summaries.refresh("spec_gen", batch) // grace off: backlog lapses
      assert(gens() == Seq(3, 4),
        s"expected (g3) + current (g4), found ${gens()}")
    } finally Summaries.drop("spec_gen")
  }

  test("reader-safe refresh: a query PLANNED against generation k " +
      "completes after a refresh lands generation k+1 (no " +
      "FileNotFound mid-scan)") {
    val raw = Tables.load(spark, sf, "lineitem")
    Summaries.create(raw, "spec_rdr",
      grain = Seq("l_returnflag"),
      sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    try {
      val q = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("l_returnflag")
      val expected = withoutRouting { q().collect().toSeq }
      // pin the physical plan NOW: it routes onto generation 0's
      // file listing
      val pinned = q()
      pinned.queryExecution.executedPlan // force planning
      assert(scanPaths(pinned).exists(_.contains("spec_rdr__g0")),
        scanPaths(pinned).toString)
      // a refresh lands generation 1 while the reader is "in flight"
      Summaries.refresh("spec_rdr",
        raw.filter(col("l_quantity") < 0))
      // pre-retention this collect died with FileNotFound (gen 0 was
      // deleted under the pinned plan); now it completes, correctly
      assert(pinned.collect().toSeq == expected)
    } finally Summaries.drop("spec_rdr")
  }

  test("cross-JVM fold race: persistSpec CAS refuses when the " +
      "on-disk spec advanced past the generation this fold read, " +
      "and a held lease refuses immediately") {
    val raw = Tables.load(spark, sf, "lineitem")
    val spec0 = Summaries.create(raw, "spec_cas",
      grain = Seq("l_returnflag"),
      sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    try {
      // simulate ANOTHER ENGINE folding first: advance the persisted
      // spec's generation on disk behind this registry's back
      val f = new java.io.File(
        "spark-warehouse/graft_summaries/_specs/spec_cas.json")
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(txt.contains("\"gen\":0"))
      java.nio.file.Files.write(f.toPath,
        txt.replace("\"gen\":0", "\"gen\":3").getBytes("UTF-8"))
      val e = intercept[Summaries.ConcurrentSpecUpdate] {
        Summaries.refresh("spec_cas",
          raw.filter(col("l_quantity") < 0))
      }
      assert(e.getMessage.contains("generation 3") &&
        e.getMessage.contains("generation 0"), e.getMessage)
      // the loser did not corrupt anything: its written next-gen dir
      // is gone (the per-writer nonce means it could only ever have
      // been ITS OWN — never the winner's), the current generation's
      // files are intact, and the winner's on-disk spec is untouched
      def names() = Option(new java.io.File(
        "spark-warehouse/graft_summaries").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("spec_cas__g"))
      assert(!names().exists(_.startsWith("spec_cas__g1")),
        names().toString)
      assert(new java.io.File(spec0.summaryPath).exists(),
        "the live generation must survive the loser's cleanup")
      assert(new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").contains("\"gen\":3"))
      // restore, then prove a HELD LEASE refuses too
      java.nio.file.Files.write(f.toPath, txt.getBytes("UTF-8"))
      val lock = new java.io.File(
        "spark-warehouse/graft_summaries/_specs/spec_cas.lock")
      assert(lock.createNewFile())
      try {
        val e2 = intercept[Summaries.ConcurrentSpecUpdate] {
          Summaries.refresh("spec_cas",
            raw.filter(col("l_quantity") < 0))
        }
        assert(e2.getMessage.contains("lease"), e2.getMessage)
      } finally lock.delete()
      // with the interference gone the fold proceeds normally
      val folded = Summaries.refresh("spec_cas",
        raw.filter(col("l_quantity") < 0))
      assert(folded.gen == 1)
    } finally Summaries.drop("spec_cas")
  }

  test("gcOrphans sweeps generation directories no spec references " +
      "and leaves live + retired generations untouched") {
    val raw = Tables.load(spark, sf, "lineitem")
    Summaries.create(raw, "spec_gc",
      grain = Seq("l_returnflag"),
      sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    try {
      // a retired generation: fold once so gen 0 sits in retention
      Summaries.refresh("spec_gc", raw.filter(col("l_quantity") < 0))
      // an orphan: the debris of a crash between a generation write
      // and its persistSpec
      val orphan = new java.io.File(
        "spark-warehouse/graft_summaries/spec_gc__g7")
      orphan.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(orphan, "part-0.parquet").toPath,
        Array[Byte](1, 2, 3))
      val swept = Summaries.gcOrphans()
      assert(swept.exists(_.endsWith("spec_gc__g7")), swept.toString)
      assert(!orphan.exists())
      // live generation and the RETIRED one both survive the sweep
      def has(prefix: String) = Option(new java.io.File(
        "spark-warehouse/graft_summaries").listFiles()).toSeq.flatten
        .exists(_.getName.startsWith(prefix))
      assert(has("spec_gc__g1"))
      assert(has("spec_gc__g0"),
        "a retired generation is inside its reader window — not an orphan")
      // and a grace window spares a freshly-written dir
      orphan.mkdirs()
      assert(Summaries.gcOrphans(graceMs = 60000L).isEmpty)
      assert(orphan.exists())
      orphan.delete()
    } finally Summaries.drop("spec_gc")
  }

  test("an EXPIRED lease is stolen (crashed holder), and the steal " +
      "is owned: the thief's lock releases normally afterwards") {
    val raw = Tables.load(spark, sf, "lineitem")
    Summaries.create(raw, "spec_steal",
      grain = Seq("l_returnflag"),
      sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    try {
      val lock = new java.io.File(
        "spark-warehouse/graft_summaries/_specs/spec_steal.lock")
      // the debris of a crashed holder: a lock older than the lease
      assert(lock.createNewFile())
      assert(lock.setLastModified(
        System.currentTimeMillis() - 10L * 60000L))
      // the fold steals the expired lease and completes normally…
      val folded = Summaries.refresh("spec_steal",
        raw.filter(col("l_quantity") < 0))
      assert(folded.gen == 1)
      // …and released its own lock on the way out (a further fold
      // would otherwise refuse on a held lease)
      assert(!lock.exists(), "the thief must release its own lease")
      assert(Summaries.refresh("spec_steal",
        raw.filter(col("l_quantity") < 0)).gen == 2)
    } finally Summaries.drop("spec_steal")
  }

  test("rebless on a cube-less summary still LAPSES the previous " +
      "fold's retired generation (bounded footprint on rebless-only " +
      "workloads)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rebless_nocube").toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    val outPath = new java.io.File(dir, "compacted").getAbsolutePath
    import spark.implicits._
    (0 until 4000).map(i => ("g" + (i % 4), i.toLong))
      .toDF("x", "v").repartition(6).write.parquet(srcPath)
    def gens() = Option(new java.io.File(
      "spark-warehouse/graft_summaries").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("spec_rlap__g"))
      .map(_.stripPrefix("spec_rlap__g").takeWhile(_.isDigit).toInt)
      .distinct.sorted
    try {
      Summaries.create(spark.read.parquet(srcPath), "spec_rlap",
        grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"),
        fileCube = false)
      // fold once: gen 0 retires behind gen 1
      Summaries.refresh("spec_rlap",
        spark.read.parquet(srcPath).filter(col("v") < 0))
      assert(gens() == Seq(0, 1), gens().toString)
      // content-preserving compaction, then rebless (no sidecar to
      // rebuild — the branch that used to carry spec.retired into
      // its own keep-set and never lapse anything)
      graft.operators.Layout.compact(spark, srcPath, outPath)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(srcPath), true))
      assert(fs.rename(new org.apache.hadoop.fs.Path(outPath),
        new org.apache.hadoop.fs.Path(srcPath)))
      Summaries.invalidate("spec_rlap")
      assert(Summaries.rebless("spec_rlap"))
      // gen 0 lapsed at the bless; gen 1 (current) stands
      assert(gens() == Seq(1),
        s"rebless must lapse the retired generation, found ${gens()}")
      // and the blessed summary still serves, correctly
      val q = () => spark.read.parquet(srcPath)
        .groupBy("x").agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).as("sv")).orderBy("x")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_rlap")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("FILTERED summary: deleting a built file wholly OUTSIDE the " +
      "declared slice is a correct no-op — compensated reads serve " +
      "and the fold proceeds (no spurious fail-closed)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_slice_del").toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    // file 1: in-slice rows only; file 2: OUT-of-slice rows only —
    // the cube is built post-WHERE, so file 2 has zero cube rows
    (0 until 1500).map(i => ("keep", "g" + (i % 3), i.toLong))
      .toDF("slice", "x", "v").repartition(1).write.parquet(srcPath)
    (0 until 900).map(i => ("toss", "g" + (i % 3), i.toLong))
      .toDF("slice", "x", "v").repartition(1)
      .write.mode("append").parquet(srcPath)
    val q = () => spark.read.parquet(srcPath)
      .filter(col("slice") === "keep")
      .groupBy("slice", "x").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("x")
    try {
      Summaries.create(spark.read.parquet(srcPath), "spec_slice",
        grain = Seq("slice", "x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"),
        where = Some("slice = 'keep'"))
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val expected = withoutRouting { q().collect().toSeq }
      // delete the file every row of which the WHERE dropped
      val victim = new java.io.File(srcPath).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .find(f => spark.read.parquet(f.getAbsolutePath)
          .filter(col("slice") === "keep").isEmpty)
        .getOrElse(fail("no out-of-slice file found"))
      assert(victim.delete())
      Summaries.invalidate("spec_slice")
      // the compensated READ serves from the summary (subtracting
      // nothing for the sliceless file) and stays value-identical
      val p = scanPaths(q())
      assert(p.exists(_.contains("graft_summaries")),
        s"an out-of-slice delete must not suspend a filtered summary: $p")
      assert(q().collect().toSeq == expected)
      // and the FOLD proceeds instead of demanding a re-create
      val folded = Summaries.refreshDelta("spec_slice")
      assert(folded.exists(_.gen == 1), folded.toString)
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      assert(q().collect().toSeq == expected)
    } finally {
      Summaries.drop("spec_slice")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("filtered/derived source without partial=true is rejected " +
      "(a subset summary must never shadow the full table)") {
    val raw = Tables.load(spark, sf, "lineitem")
    val e1 = intercept[IllegalArgumentException] {
      Summaries.create(raw.filter(col("l_quantity") > 10), "spec_bad",
        grain = Seq("l_returnflag"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
    }
    assert(e1.getMessage.contains("bare table scan"))
    // a derived projection is rejected even WITH partial (only row
    // filtering is a legal partial-build shape)
    val e2 = intercept[IllegalArgumentException] {
      Summaries.create(
        raw.select(col("l_returnflag"),
          (col("l_quantity") * 2).as("l_quantity")), "spec_bad2",
        grain = Seq("l_returnflag"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
        partial = true)
    }
    assert(e2.getMessage.contains("bare table scan"))
  }

  test("partial build stays unroutable until a completing refresh") {
    val raw = Tables.load(spark, sf, "lineitem")
    val cut = lit("2000-01-01").cast("timestamp")
    Summaries.create(
      raw.filter(col("l_shipdate") < cut), "spec_partial",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      partial = true)
    try {
      val q = () => raw.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
      // pre-backfill: the aggregate runs RAW (correct), never routed
      assert(scanPaths(q()).forall(_.contains("lineitem")))
      val rawAnswer = q().collect().toSeq
      // an incomplete backfill batch keeps routing off
      Summaries.refresh("spec_partial",
        raw.filter(col("l_shipdate") >= cut &&
          col("l_shipdate") < lit("2001-01-01").cast("timestamp")),
        complete = false)
      assert(scanPaths(q()).forall(_.contains("lineitem")))
      // the completing batch flips routing on — and the routed answer
      // equals the raw one
      Summaries.refresh("spec_partial",
        raw.filter(col("l_shipdate") >= lit("2001-01-01")
          .cast("timestamp")), complete = true)
      assert(scanPaths(q()).exists(_.contains("spec_partial")))
      assert(q().collect().toSeq == rawAnswer)
    } finally Summaries.drop("spec_partial")
  }

  test("incremental refresh folds a batch (reads batch + summary only) " +
      "and converges to the full-rebuild answer") {
    val raw = Tables.load(spark, sf, "lineitem")
    val cut = lit("2000-01-01").cast("timestamp")
    // day-1 build: only the pre-cut rows are summarized
    Summaries.create(
      raw.filter(col("l_shipdate") < cut), "spec_incr",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"),
      partial = true)
    try {
      // day-2: fold in the post-cut batch — O(batch + summary). The
      // batch DERIVES FROM THE SOURCE (the backfill shape), so this
      // also proves refresh suspends routing for its own aggregate —
      // an unsuspended refresh would summarize the stale summary and
      // silently drop the batch
      Summaries.refresh("spec_incr", raw.filter(col("l_shipdate") >= cut),
        complete = true)
      // the query REBUILDS per leg: a collected DataFrame keeps its
      // physical plan, so re-collecting it under a flipped conf would
      // compare the routed plan with itself
      val q = () => raw.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sq"),
          round(min(col("l_extendedprice")), 4).as("mn"),
          round(max(col("l_extendedprice")), 4).as("mx"))
        .orderBy("l_returnflag")
      val paths = scanPaths(q())
      assert(paths.forall(_.contains("graft_summaries")), s"$paths")
      // routed answer over the refreshed summary == the raw full scan
      val viaSummary = q().collect().toSeq
      val rawAnswer = withoutRouting { q().collect().toSeq }
      assert(viaSummary == rawAnswer)
      // belt-and-braces vs a vacuous compare: the routed count equals
      // the independently computed raw row count
      assert(q().collect().map(_.getLong(1)).sum == raw.count())
    } finally Summaries.drop("spec_incr")
  }

  test("sketch measures: hll_distinct routes onto stored registers, " +
      "bit-identical, and survives a refresh") {
    import graft.functions.HllFunctions.hll_distinct
    val raw = Tables.load(spark, sf, "lineitem")
    val cut = lit("2000-06-01").cast("timestamp")
    Summaries.create(
      raw.filter(col("l_shipdate") < cut), "spec_hll",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      hlls = Seq("hll_supp" -> "l_suppkey"),
      partial = true)
    try {
      Summaries.refresh("spec_hll", raw.filter(col("l_shipdate") >= cut),
        complete = true)
      val q = () => raw.groupBy("l_returnflag")
        .agg(hll_distinct(col("l_suppkey")).as("nd"))
        .orderBy("l_returnflag")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val routed = q().collect().toSeq
      val rawHll = withoutRouting { q().collect().toSeq }
      // register-max is associative: merged per-grain sketches ARE
      // the raw sketch, so the estimates match exactly
      assert(routed == rawHll && routed.forall(_.getLong(1) > 0))
      // a mismatched precision must fail closed to the raw table
      val other = () => raw.groupBy("l_returnflag")
        .agg(hll_distinct(col("l_suppkey"), 10).as("nd"))
      assert(scanPaths(other()).exists(_.contains("lineitem")))
      // so must a bare sketch: hll_union_agg over the stored sketches
      // would not reproduce its bytes
      val bare = () => raw.groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_suppkey"), 14).as("sk"))
      assert(scanPaths(bare()).exists(_.contains("lineitem")))
    } finally Summaries.drop("spec_hll")
  }

  test("persistence: an old-format spec with hll measures fails closed") {
    import graft.functions.HllFunctions.hll_distinct
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val raw = Tables.load(spark, sf, "lineitem")
    val qty = "cast(l_quantity as decimal(18,2))"
    val q = () => raw.groupBy("l_returnflag")
      .agg(sum(expr(qty)).as("q"), hll_distinct(col("l_suppkey")).as("nd"))
      .orderBy("l_returnflag")
    val sumOnly = () => raw.groupBy("l_returnflag")
      .agg(sum(expr(qty)).as("q")).orderBy("l_returnflag")
    // what a spec file looked like before the format marker: the same
    // JSON without "format"
    def writeOldFormat(name: String): Unit = {
      val f = new java.io.File(
        s"spark-warehouse/graft_summaries/_specs/$name.json")
      val JObject(fields) = JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      java.nio.file.Files.write(f.toPath, JsonMethods.compact(
        JObject(fields.filterNot(_._1 == "format"))).getBytes("UTF-8"))
    }
    Summaries.create(raw, "spec_hll_old",
      grain = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty" -> qty), hlls = Seq("hll_supp" -> "l_suppkey"))
    try {
      Summaries.unload() // a current-format spec reloads and routes
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      writeOldFormat("spec_hll_old")
      Summaries.unload() // simulated restart: the spec reloads from disk
      val expected = withoutRouting { q().collect().toSeq }
      // every query, sketch or not, answers from the raw table
      assert(scanPaths(q()).exists(_.contains("lineitem")))
      assert(scanPaths(sumOnly()).exists(_.contains("lineitem")))
      assert(q().collect().toSeq == expected)
    } finally Summaries.drop("spec_hll_old")
    // an old-format spec WITHOUT hll measures still routes
    Summaries.create(raw, "spec_sum_old",
      grain = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty" -> qty))
    try {
      writeOldFormat("spec_sum_old")
      Summaries.unload()
      assert(scanPaths(sumOnly()).forall(_.contains("graft_summaries")))
    } finally Summaries.drop("spec_sum_old")
  }

  test("COUNT(DISTINCT) composes through both rewrites onto the sketch") {
    import graft.functions.HllFunctions.hll_distinct
    val raw = Tables.load(spark, sf, "lineitem")
    Summaries.create(raw, "spec_hll2",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      hlls = Seq("hll_supp" -> "l_suppkey"))
    try {
      spark.conf.set(graft.plans.ApproxDistinctRewrite.ConfKey, "true")
      val routed =
        try {
          val q = raw.groupBy("l_returnflag")
            .agg(countDistinct(col("l_suppkey")).as("nd"))
            .orderBy("l_returnflag")
          // COUNT(DISTINCT) → hll_distinct (ApproxDistinctRewrite)
          // → hll_union over the stored registers (SummaryRewrite)
          assert(scanPaths(q).forall(_.contains("graft_summaries")))
          q.collect().toSeq
        } finally spark.conf.unset(graft.plans.ApproxDistinctRewrite.ConfKey)
      val viaHll = raw.groupBy("l_returnflag")
        .agg(hll_distinct(col("l_suppkey")).as("nd"))
        .orderBy("l_returnflag").collect().toSeq
      assert(routed == viaHll)
      // SQL surface: Spark's hll_union_agg over hll_sketch_agg
      // partials, under the canonical finalizer, equals the one-shot
      // hll_distinct
      raw.createOrReplaceTempView("li_hll")
      try {
        val sql = spark.sql(
          """SELECT l_returnflag, hll_sketch_estimate(hll_union(u, u)) AS nd
            |FROM (
            |  SELECT l_returnflag, hll_union_agg(sk) AS u FROM (
            |    SELECT l_returnflag, l_shipdate,
            |      hll_sketch_agg(l_suppkey, 14) AS sk
            |    FROM li_hll GROUP BY l_returnflag, l_shipdate)
            |  GROUP BY l_returnflag)
            |ORDER BY l_returnflag""".stripMargin)
          .collect().toSeq
        assert(sql == viaHll)
      } finally spark.catalog.dropTempView("li_hll")
    } finally Summaries.drop("spec_hll2")
  }

  test("KMV sketch measure routes and equals the raw estimate exactly") {
    import graft.functions.KmvFunctions.kmv_ndv
    registered {
      val q = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(kmv_ndv(expr(SuppHash), k = 64).as("nd"))
        .orderBy("l_returnflag")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      // bottom-k merge is exact: routed == raw, not just close
      assert(routed == raw && routed.forall(_.getLong(1) > 0))
      // a mismatched k must fail closed to the raw table
      val otherK = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(kmv_ndv(expr(SuppHash), k = 32).as("nd"))
      assert(scanPaths(otherK()).exists(_.contains("lineitem")))
    }
  }

  test("spark.sql over a view of the source routes too") {
    registered {
      Tables.load(spark, sf, "lineitem").createOrReplaceTempView("li_mv")
      try {
        val df = spark.sql(
          """SELECT l_returnflag, count(*) AS n,
            |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
            |FROM li_mv GROUP BY l_returnflag ORDER BY l_returnflag"""
            .stripMargin)
        val paths = scanPaths(df)
        assert(paths.forall(_.contains("graft_summaries")), s"$paths")
        // count(*) resolves to count(1); both legs route
        val nRaw = Tables.load(spark, sf, "lineitem")
          .groupBy("l_returnflag").count().orderBy("l_returnflag")
          .collect().map(_.getLong(1)).toSeq
        assert(df.collect().map(_.getLong(1)).toSeq == nRaw)
      } finally spark.catalog.dropTempView("li_mv")
    }
  }

  test("streamed batches maintain the summary via foreachBatch refresh") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val raw = Tables.load(spark, sf, "lineitem")
    val cut = lit("2000-06-01").cast("timestamp")
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_quantity", "l_extendedprice")
    // the stream delivers the post-cut rows in two micro-batches
    val late = raw.filter(col("l_shipdate") >= cut)
      .select(cols.map(col): _*).collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2), r.getDouble(3), r.getDouble(4)))
    assert(late.length >= 2, "fixture needs post-cut rows")
    val (gen1, gen2) = late.splitAt(late.length / 2)
    Summaries.create(
      raw.filter(col("l_shipdate") < cut), "spec_stream",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      partial = true)
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String, java.sql.Timestamp, Double, Double)]
      val q = mem.toDS().toDF(cols: _*).writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            // each stream delta brings the summary current as of
            // its batch — complete in the MV sense
            Summaries.refresh("spec_stream", batch, complete = true); ()
        }
        .start()
      try {
        mem.addData(gen1.toSeq: _*); q.processAllAvailable()
        mem.addData(gen2.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      // rebuilt per leg — see the incremental-refresh test
      val probe = () => raw.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sq"))
        .orderBy("l_returnflag")
      assert(scanPaths(probe()).forall(_.contains("graft_summaries")))
      val viaSummary = probe().collect().toSeq
      val rawAnswer = withoutRouting { probe().collect().toSeq }
      assert(viaSummary == rawAnswer)
      assert(probe().collect().map(_.getLong(1)).sum == raw.count())
    } finally Summaries.drop("spec_stream")
  }

  test("drop revokes routing; the disable conf force-bypasses") {
    val probe = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    registered {
      assert(scanPaths(probe()).forall(_.contains("graft_summaries")))
      withoutRouting {
        assert(scanPaths(probe()).exists(_.contains("lineitem")))
      }
    }
    // after the finally-drop: raw again
    assert(scanPaths(probe()).exists(_.contains("lineitem")))
  }

  private def joinRegistered[A](body: => A): A = {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    Summaries.createJoined(
      li.join(ord, li("l_orderkey") === ord("o_orderkey")),
      "spec_join",
      grain = Seq("o_orderpriority", "l_returnflag"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_price" -> "cast(l_extendedprice as decimal(18,2))"))
    try body finally Summaries.drop("spec_join")
  }

  test("q177: the join-aggregate routes onto the joined summary") {
    val q = () => OlapQueries.summaryJoinPriorityQuery(spark, sf)
    val raw = q().collect().toSeq
    joinRegistered {
      val paths = scanPaths(q())
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"expected only summary scans, got $paths")
      assert(q().collect().toSeq == raw)
      // the flipped spelling (orders ⋈ lineitem) routes too
      val flipped = Tables.load(spark, sf, "orders")
        .join(Tables.load(spark, sf, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      assert(scanPaths(flipped).forall(_.contains("graft_summaries")))
      val rawFlipped = withoutRouting {
        Tables.load(spark, sf, "orders")
          .join(Tables.load(spark, sf, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n")).collect().toSeq
      }
      assert(flipped.collect().toSeq.toSet == rawFlipped.toSet)
    }
  }

  test("joined summary: non-matching joins and aggregates stay raw") {
    joinRegistered {
      // a DIFFERENT join key must not route
      val wrongKey = Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_partkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(scanPaths(wrongKey).exists(_.contains("lineitem")))
      // an OUTER join must not route (null-extended rows aren't in
      // the summary)
      val outer = Tables.load(spark, sf, "orders")
        .join(Tables.load(spark, sf, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(scanPaths(outer).exists(_.contains("lineitem")))
      // a non-grain grouping column must not route
      val nonGrain = Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus").agg(count(lit(1)).as("n"))
      assert(scanPaths(nonGrain).exists(_.contains("lineitem")))
    }
  }

  test("q178: partial joined build stays raw until the joined-delta refresh") {
    val cut = lit("1997-01-01").cast("timestamp")
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    val probe = () => Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(expr(
          "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
          .as("sq"))
      .orderBy("o_orderpriority", "l_returnflag")
    val raw = probe().collect().toSeq
    Summaries.createJoined(
      li.filter(col("l_shipdate") < cut)
        .join(ord, li("l_orderkey") === ord("o_orderkey")),
      "spec_join_incr",
      grain = Seq("o_orderpriority", "l_returnflag"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      partial = true)
    try {
      // pre-refresh: the aggregate runs RAW (correct), never routed
      assert(scanPaths(probe()).exists(_.contains("lineitem")))
      assert(probe().collect().toSeq == raw)
      // the joined-delta refresh completes the build and flips routing
      Summaries.refresh("spec_join_incr",
        li.filter(col("l_shipdate") >= cut)
          .join(ord, li("l_orderkey") === ord("o_orderkey")),
        complete = true)
      assert(scanPaths(probe()).forall(_.contains("graft_summaries")))
      assert(probe().collect().toSeq == raw)
    } finally Summaries.drop("spec_join_incr")
  }

  test("streamed fact batches maintain the JOINED summary via foreachBatch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cut = lit("1997-01-01").cast("timestamp")
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    // the stream carries RAW FACT deltas; the foreachBatch handler
    // joins each against the dim (batch-sized, broadcastable) before
    // the refresh — the production wiring of q178's lifecycle
    val factCols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_returnflag", "l_shipdate")
    val late = li.filter(col("l_shipdate") >= cut)
      .select(factCols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getString(3), r.getTimestamp(4)))
    assert(late.length >= 2, "fixture needs post-cut rows")
    val (gen1, gen2) = late.splitAt(late.length / 2)
    Summaries.createJoined(
      li.filter(col("l_shipdate") < cut)
        .join(ord, li("l_orderkey") === ord("o_orderkey")),
      "spec_join_stream",
      grain = Seq("o_orderpriority", "l_returnflag"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      partial = true)
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double, Double, String, java.sql.Timestamp)]
      val q = mem.toDS().toDF(factCols: _*).writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            Summaries.refresh("spec_join_stream",
              batch.join(Tables.load(spark, sf, "orders"),
                col("l_orderkey") === col("o_orderkey")),
              complete = true)
            ()
        }
        .start()
      try {
        mem.addData(gen1.toSeq: _*); q.processAllAvailable()
        mem.addData(gen2.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val probe = () => Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sq"))
        .orderBy("o_orderpriority", "l_returnflag")
      assert(scanPaths(probe()).forall(_.contains("graft_summaries")))
      val viaSummary = probe().collect().toSeq
      val rawAnswer = withoutRouting { probe().collect().toSeq }
      assert(viaSummary == rawAnswer)
    } finally Summaries.drop("spec_join_stream")
  }

  test("q179: grain-only aggregates route — exact percentile via __cnt") {
    Summaries.create(
      Tables.load(spark, sf, "lineitem"), "spec_hist",
      grain = Seq("l_returnflag", "l_quantity"), sums = Nil)
    try {
      val q = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          count(col("l_quantity")).as("n_nonnull"),
          countDistinct(col("l_quantity")).as("nd"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.95)").as("p95"),
          min(col("l_quantity")).as("mn"),
          max(col("l_quantity")).as("mx"),
          // an expression OVER grain routes too (constant per row)
          expr("percentile(l_quantity * 2, 0.5)").as("p50x2"))
        .orderBy("l_returnflag")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")),
        s"expected only summary scans: ${scanPaths(q())}")
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      // frequency-weighted percentile is value-EXACT, not approximate
      assert(routed == raw && routed.nonEmpty)
      // a float/double grain SUM must NOT route (repeated addition
      // and value*count round differently in IEEE)
      val fsum = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("s"))
      assert(scanPaths(fsum).exists(_.contains("lineitem")))
      // a percentile with an explicit frequency must NOT route (the
      // stored count would double-weight it)
      val wfreq = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5, 2)").as("p"))
      assert(scanPaths(wfreq).exists(_.contains("lineitem")))
    } finally Summaries.drop("spec_hist")
  }

  test("q180: percentile over a join routes through the joined histogram") {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    Summaries.createJoined(
      li.join(ord, li("l_orderkey") === ord("o_orderkey")),
      "spec_join_hist",
      grain = Seq("o_orderpriority", "l_quantity"), sums = Nil)
    try {
      val q = () => Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          max(col("l_quantity")).as("mx"))
        .orderBy("o_orderpriority")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")),
        s"expected only summary scans: ${scanPaths(q())}")
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      assert(routed == raw && routed.nonEmpty)
    } finally Summaries.drop("spec_join_hist")
  }

  test("rollup/cube route through the summary, value-exactly") {
    registered {
      def check(q: () => DataFrame): Unit = {
        assert(scanPaths(q()).forall(_.contains("graft_summaries")),
          s"expected only summary scans: ${scanPaths(q())}")
        val routed = q().collect().toSeq
        val raw = withoutRouting { q().collect().toSeq }
        assert(routed == raw && routed.nonEmpty)
      }
      // ROLLUP with count + declared measures + grouping() marker
      check(() => Tables.load(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sq"),
          min(col("l_extendedprice")).as("mn"),
          grouping(col("l_linestatus")).as("g"))
        .orderBy("l_returnflag", "l_linestatus", "g"))
      // CUBE over a grain subset, with a grain filter
      check(() => Tables.load(spark, sf, "lineitem")
        .filter(col("l_returnflag") =!= "N")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          max(col("l_extendedprice")).as("mx"))
        .orderBy("l_returnflag", "l_linestatus"))
      // SQL spelling with GROUPING SETS
      Tables.load(spark, sf, "lineitem").createOrReplaceTempView("li_gs")
      try check(() => spark.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |                        (l_returnflag), ())
          |ORDER BY l_returnflag, l_linestatus""".stripMargin))
      finally spark.catalog.dropTempView("li_gs")
      // a rollup over a NON-grain column stays raw
      val nonGrain = Tables.load(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_tax")
        .agg(count(lit(1)).as("n"))
      assert(scanPaths(nonGrain).exists(_.contains("lineitem")))
      // a rollup with a non-declared float measure stays raw
      val floatSum = Tables.load(spark, sf, "lineitem")
        .rollup("l_returnflag")
        .agg(sum(col("l_tax")).as("s"))
      assert(scanPaths(floatSum).exists(_.contains("lineitem")))
    }
  }

  test("multi-distinct over grain (Spark's own distinct-Expand) stays correct") {
    // two DISTINCT aggregates force RewriteDistinctAggregates' Expand
    // lowering; whichever router path fires (or none), the answer
    // must equal the unrouted one
    registered {
      val q = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_linestatus")).as("d1"),
          countDistinct(col("l_shipdate")).as("d2"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      assert(routed == raw && routed.nonEmpty)
      // and with a non-grain distinct mixed in — must still be right
      val q2 = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_linestatus")).as("d1"),
          countDistinct(col("l_suppkey")).as("d2"))
        .orderBy("l_returnflag")
      assert(q2().collect().toSeq ==
        withoutRouting { q2().collect().toSeq })
    }
  }

  test("rollup percentile through the histogram summary") {
    Summaries.create(
      Tables.load(spark, sf, "lineitem"), "spec_hist_ru",
      grain = Seq("l_returnflag", "l_linestatus", "l_quantity"),
      sums = Nil)
    try {
      val q = () => Tables.load(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          countDistinct(col("l_quantity")).as("nd"))
        .orderBy("l_returnflag", "l_linestatus")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")),
        s"expected only summary scans: ${scanPaths(q())}")
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      assert(routed == raw && routed.nonEmpty)
    } finally Summaries.drop("spec_hist_ru")
  }

  test("integral grain sum routes as value*count, exactly") {
    Summaries.create(
      Tables.load(spark, sf, "lineitem"), "spec_intsum",
      grain = Seq("l_returnflag", "l_linenumber"), sums = Nil)
    try {
      val q = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_linenumber")).as("s"),
          sum(col("l_linenumber") * lit(10)).as("s10"))
        .orderBy("l_returnflag")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val routed = q().collect().toSeq
      val raw = withoutRouting { q().collect().toSeq }
      assert(routed == raw && routed.nonEmpty)
    } finally Summaries.drop("spec_intsum")
  }

  test("createJoined rejects unsound sources") {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    // filtered side: a subset summary must never shadow the join
    intercept[IllegalArgumentException] {
      Summaries.createJoined(
        li.filter(col("l_quantity") > 10)
          .join(ord, col("l_orderkey") === col("o_orderkey")),
        "spec_bad_join", grain = Seq("l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    }
    // outer join source
    intercept[IllegalArgumentException] {
      Summaries.createJoined(
        li.join(ord, col("l_orderkey") === col("o_orderkey"), "left"),
        "spec_bad_join", grain = Seq("l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    }
    // non-equi condition
    intercept[IllegalArgumentException] {
      Summaries.createJoined(
        li.join(ord, col("l_orderkey") <= col("o_orderkey")),
        "spec_bad_join", grain = Seq("l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
    }
  }

  test("advisor finding → Summaries.create → the flagged queries route") {
    // the full profile→advice→action loop in one place: trace a
    // two-query aggregate workload, let the Advisor name the summary
    // candidate, act on its lever verbatim, and watch both queries
    // route onto the materialized summary with unchanged answers
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.plans.{Advisor, TraceCapture}
    val dir = Files.createTempDirectory("graft-advice-e2e")
    val trace = dir.resolve("t.jsonl").toString
    val listener = TraceCapture.install(spark, trace)
    def waitForLines(n: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < n && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(trace)))
          lines = Files.readAllLines(Paths.get(trace)).asScala.toSeq
        if (lines.size < n) Thread.sleep(50)
      }
      assert(lines.size >= n, s"trace stalled at ${lines.size}/$n lines")
      lines
    }
    val qQty = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
    val qCnt = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus").count()
    try {
      // label→run→await sequentially: the listener bus is async, so
      // relabeling before the previous event drains would mislabel it
      TraceCapture.setLabel("qty_by_flag")
      qQty().write.format("noop").mode("overwrite").save()
      waitForLines(1)
      TraceCapture.setLabel("cnt_by_flag_status")
      qCnt().write.format("noop").mode("overwrite").save()
      val lines = waitForLines(2)
      val cand = Advisor.advise(lines.iterator)
        .find(_.signal == "aggregate-scanning queries")
        .getOrElse(fail("no summary-candidate finding over the workload"))
      assert(cand.op.contains("lineitem"), cand.toString)
      assert(cand.lever.contains("qty_by_flag") &&
        cand.lever.contains("cnt_by_flag_status"), cand.lever)
      assert(cand.lever.contains("Summaries.create"), cand.lever)
      // act on the advice: one summary at the shared grain serves both
      Summaries.create(Tables.load(spark, sf, "lineitem"), "spec_advised",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
      try {
        for (q <- Seq(qQty, qCnt)) {
          assert(scanPaths(q()).forall(_.contains("graft_summaries")))
          // no ORDER BY in the workload queries: compare as row sets
          val routed = q().collect().toSeq.sortBy(_.toString)
          val raw = withoutRouting {
            q().collect().toSeq.sortBy(_.toString) }
          assert(routed == raw && routed.nonEmpty)
        }
      } finally Summaries.drop("spec_advised")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("Advisor.materialize builds the FILTERED summary a " +
      "shared-slice nomination carries") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.plans.{Advisor, TraceCapture}
    val dir = Files.createTempDirectory("graft-advice-filt")
    val trace = dir.resolve("t.jsonl").toString
    val listener = TraceCapture.install(spark, trace)
    // two aggregate queries over lineitem that BOTH push the same
    // slice predicate, with different groupings
    val qFlag = () => Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
    val qStatus = () => Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n")).orderBy("l_linestatus")
    try {
      TraceCapture.setLabel("qf")
      qFlag().write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftColumnBridge
        .drainListenerBus(spark, 10000L)
      TraceCapture.setLabel("qs")
      qStatus().write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftColumnBridge
        .drainListenerBus(spark, 10000L)
      TraceCapture.clearLabel()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < 2 && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(trace)))
          lines = Files.readAllLines(Paths.get(trace)).asScala.toSeq
        if (lines.size < 2) Thread.sleep(50)
      }
      assert(lines.size >= 2)
      val nom = Advisor.advise(lines.iterator)
        .find(f => f.kind == "summary" &&
          f.paths.exists(_.contains("lineitem")))
        .getOrElse(fail("no summary nomination"))
      assert(nom.filters.nonEmpty &&
        nom.filters.forall(_.contains("l_quantity")),
        s"shared slice missing from the nomination: $nom")
      assert(nom.lever.contains("FILTERED"), nom.lever)
      val raws = Seq(qFlag, qStatus)
        .map(q => withoutRouting { q().collect().toSeq })
      val spec = Advisor.materialize(spark, nom, "adv_mat_filt")
      try {
        assert(spec.filterSql.nonEmpty, "materialize dropped the WHERE")
        // the filter column joined the grain, so the nominated
        // queries route — onto the SLICE-ONLY summary
        assert(spec.grain.contains("l_quantity"), spec.grain.toString)
        for ((q, raw) <- Seq(qFlag, qStatus).zip(raws)) {
          val paths = scanPaths(q())
          assert(paths.nonEmpty &&
            paths.forall(_.contains("graft_summaries")),
            s"nominated filtered query did not route: $paths")
          assert(q().collect().toSeq == raw)
        }
        // a NON-subsumed query stays raw and correct
        val qAll = () => Tables.load(spark, sf, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
        assert(!scanPaths(qAll()).exists(_.contains("graft_summaries")))
        assert(qAll().collect().toSeq ==
          withoutRouting { qAll().collect().toSeq })
      } finally Summaries.drop("adv_mat_filt")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("Advisor.materialize acts on nominations: the nominated " +
      "single-table AND join workloads route, answers unchanged") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.plans.{Advisor, TraceCapture}
    val dir = Files.createTempDirectory("graft-advice-mat")
    val trace = dir.resolve("t.jsonl").toString
    val listener = TraceCapture.install(spark, trace)
    def waitForLines(n: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < n && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(trace)))
          lines = Files.readAllLines(Paths.get(trace)).asScala.toSeq
        if (lines.size < n) Thread.sleep(50)
      }
      assert(lines.size >= n, s"trace stalled at ${lines.size}/$n lines")
      lines
    }
    // single-table pair (both percentile-bearing, so the histogram
    // nomination fires with grain = groups ∪ value column) and a join
    // pair over lineitem ⋈ orders — the four queries the two
    // materialized summaries must route afterwards
    val qFlag = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
      .orderBy("l_returnflag")
    val qStatus = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_linestatus")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"))
      .orderBy("l_linestatus")
    val join = () => Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
    val qJPrio = () => join().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")
    val qJFlag = () => join().groupBy("l_returnflag", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "o_orderpriority")
    try {
      var traced = 0
      for ((nm, q) <- Seq("flag" -> qFlag, "status" -> qStatus,
          "jprio" -> qJPrio, "jflag" -> qJFlag)) {
        TraceCapture.setLabel(nm)
        q().write.format("noop").mode("overwrite").save()
        traced += 1
        waitForLines(traced)
      }
      val findings = Advisor.advise(waitForLines(4).iterator)
      val sumNom = findings
        .find(f => f.kind == "summary" && f.paths.exists(_.contains("lineitem")))
        .getOrElse(fail("no single-table nomination"))
      // the nominated grain is the union of the queries' grouping refs
      assert(sumNom.grain.contains("l_returnflag") &&
        sumNom.grain.contains("l_linestatus"), sumNom.toString)
      val joinNom = findings.find(_.kind == "join")
        .getOrElse(fail("no join nomination"))
      assert(joinNom.paths.length == 2 &&
        joinNom.edges == Seq("l_orderkey=o_orderkey"), joinNom.toString)
      // the histogram nomination carries the percentile value column
      // in its grain — materializing IT serves the whole single-table
      // pair (counts route over any grain)
      val histNom = findings.find(_.kind == "histogram")
        .getOrElse(fail("no histogram nomination"))
      assert(histNom.grain.toSet ==
        Set("l_returnflag", "l_linestatus", "l_quantity"),
        histNom.toString)
      val raws = Seq(qFlag, qStatus, qJPrio, qJFlag)
        .map(q => withoutRouting { q().collect().toSeq })
      Advisor.materialize(spark, histNom, "adv_mat_li")
      Advisor.materialize(spark, joinNom, "adv_mat_join")
      try {
        for ((q, raw) <- Seq(qFlag, qStatus, qJPrio, qJFlag).zip(raws)) {
          val paths = scanPaths(q())
          assert(paths.nonEmpty &&
            paths.forall(_.contains("graft_summaries")),
            s"nominated query did not route: $paths")
          assert(q().collect().toSeq == raw)
        }
      } finally {
        Summaries.drop("adv_mat_li")
        Summaries.drop("adv_mat_join")
      }
      // a non-MV finding has no payload: materialize must refuse
      intercept[IllegalArgumentException] {
        Advisor.materialize(spark,
          Advisor.Finding("q", "Sort", "sortTime", 1L, "ms", "x"), "nope")
      }
      // a near-row grain (the union-of-groupings hazard) must be
      // REFUSED and leave nothing registered: routing onto a summary
      // the size of the table is correct but measured slower
      intercept[IllegalArgumentException] {
        Advisor.materialize(spark, sumNom.copy(
          grain = Seq("l_orderkey", "l_partkey", "l_suppkey")),
          "adv_rowgrain")
      }
      assert(!Summaries.has("adv_rowgrain"))
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("IS NOT NULL on a non-key column sharing a join key's NAME is " +
      "not join-implied: the filter disqualifies instead of dropping") {
    // L(k, g) ⋈ R(j, k) on L.k = R.j — R.k shares the key's NAME but
    // is a nullable payload column. A name-based implied-not-null gate
    // would classify the user's `R.k IS NOT NULL` as join-implied and
    // silently DROP it over the summary (routed answer includes rows
    // the raw query excludes). The exprId-based gate must instead let
    // the filter hit the grain gate, which fails it closed to raw.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nn").toFile
    val lPath = new java.io.File(dir, "ltab").getAbsolutePath
    val rPath = new java.io.File(dir, "rtab").getAbsolutePath
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "g")
      .write.parquet(lPath)
    Seq((1L, Option(10L)), (2L, Option.empty[Long]), (3L, Option(30L)))
      .toDF("j", "k").write.parquet(rPath)
    val l = spark.read.parquet(lPath)
    val r = spark.read.parquet(rPath)
    Summaries.createJoined(l.join(r, l("k") === r("j")),
      "spec_nn_collide", grain = Seq("g"), sums = Seq("sum_j" -> "j"))
    try {
      // sanity: the unfiltered join aggregate routes (the genuinely
      // join-implied key not-nulls are still dropped by exprId)
      val routed = l.join(r, l("k") === r("j"))
        .groupBy("g").agg(count(lit(1)).as("n")).orderBy("g")
      assert(scanPaths(routed).forall(_.contains("graft_summaries")))
      // the colliding-name filter must NOT route — and the answer
      // must be the raw one (the null row excluded)
      val q = () => l.join(r, l("k") === r("j"))
        .filter(r("k").isNotNull)
        .groupBy("g").agg(count(lit(1)).as("n")).orderBy("g")
      val paths = scanPaths(q())
      assert(!paths.exists(_.contains("graft_summaries")),
        s"colliding-name filter was routed: $paths")
      assert(q().collect().map(x => (x.getString(0), x.getLong(1)))
        .toSeq == Seq(("a", 2L)))
    } finally {
      Summaries.drop("spec_nn_collide")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("advisor nominates HISTOGRAM-grain and ROLLUP candidates; " +
      "acting on them routes the workloads") {
    // the q179/q181 levers, closed end-to-end from the profiler: two
    // percentile queries + two rollup/cube queries over lineitem →
    // the Advisor names the histogram-grain and base-grain summary
    // candidates (grains in the lever text) → creating them routes
    // the original workloads, scan-path-asserted, answers unchanged
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.plans.{Advisor, TraceCapture}
    val dir = Files.createTempDirectory("graft-advice-hist")
    val trace = dir.resolve("t.jsonl").toString
    val listener = TraceCapture.install(spark, trace)
    def waitForLines(n: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < n && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(trace)))
          lines = Files.readAllLines(Paths.get(trace)).asScala.toSeq
        if (lines.size < n) Thread.sleep(50)
      }
      assert(lines.size >= n, s"trace stalled at ${lines.size}/$n lines")
      lines
    }
    val qP50 = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"))
      .orderBy("l_returnflag")
    val qP95 = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.95)").as("p95"),
        max(col("l_quantity")).as("mx"))
      .orderBy("l_returnflag")
    val qRoll = () => Tables.load(spark, sf, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
    val qCube = () => Tables.load(spark, sf, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
    try {
      var traced = 0
      for ((nm, q) <- Seq("p50" -> qP50, "p95" -> qP95,
          "roll" -> qRoll, "cube" -> qCube)) {
        TraceCapture.setLabel(nm)
        q().write.format("noop").mode("overwrite").save()
        traced += 1
        waitForLines(traced)
      }
      val lines = waitForLines(4)
      val findings = Advisor.advise(lines.iterator)
      val hist = findings.find(_.signal == "percentile-scanning queries")
        .getOrElse(fail("no histogram-grain nomination"))
      assert(hist.op.contains("lineitem"), hist.toString)
      assert(hist.lever.contains("p50") && hist.lever.contains("p95"),
        hist.lever)
      assert(hist.lever.contains("l_returnflag") &&
        hist.lever.contains("l_quantity"), hist.lever)
      val roll = findings.find(_.signal == "rollup/cube-scanning queries")
        .getOrElse(fail("no rollup nomination"))
      assert(roll.lever.contains("roll") && roll.lever.contains("cube"),
        roll.lever)
      assert(roll.lever.contains("l_returnflag") &&
        roll.lever.contains("l_linestatus"), roll.lever)
      // act on the histogram nomination: (group ∪ value)-grain summary
      Summaries.create(Tables.load(spark, sf, "lineitem"),
        "spec_advised_hist",
        grain = Seq("l_returnflag", "l_linestatus", "l_quantity"),
        sums = Nil)
      try {
        for (q <- Seq(qP50, qP95, qRoll, qCube)) {
          assert(scanPaths(q()).forall(_.contains("graft_summaries")))
          val routed = q().collect().toSeq.toSet
          val raw = withoutRouting { q().collect().toSeq.toSet }
          assert(routed == raw && routed.nonEmpty)
        }
      } finally Summaries.drop("spec_advised_hist")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("q182: a 3-table STAR join routes in any join order; a " +
      "different edge set stays raw") {
    OlapQueries.registerStarSummary(spark, sf)
    try {
      def threeWay(reordered: Boolean) = {
        val li = Tables.load(spark, sf, "lineitem")
        val ord = Tables.load(spark, sf, "orders")
        val cust = Tables.load(spark, sf, "customer")
        val joined =
          if (reordered)
            cust.join(ord, cust("c_custkey") === ord("o_custkey"))
              .join(li, ord("o_orderkey") === li("l_orderkey"))
          else
            li.join(ord, li("l_orderkey") === ord("o_orderkey"))
              .join(cust, ord("o_custkey") === cust("c_custkey"))
        joined.groupBy("c_mktsegment", "l_returnflag")
          .agg(count(lit(1)).as("n"),
            avg(col("l_quantity").cast("decimal(18,2)")).as("aq"))
          .orderBy("c_mktsegment", "l_returnflag")
      }
      // both associativities route: the key is the canonical
      // path + edge set, not the tree shape
      for (re <- Seq(false, true)) {
        val paths = scanPaths(threeWay(re))
        assert(paths.nonEmpty &&
          paths.forall(_.contains("graft_summaries")),
          s"reordered=$re did not route: $paths")
      }
      val routed = threeWay(true).collect().toSeq
      val raw = withoutRouting { threeWay(true).collect().toSeq }
      assert(routed == raw && routed.nonEmpty)
      // SAME tables, DIFFERENT edge (orders joined to customer on the
      // wrong key): key mismatch → no route, still correct
      val li = Tables.load(spark, sf, "lineitem")
      val ord = Tables.load(spark, sf, "orders")
      val cust = Tables.load(spark, sf, "customer")
      val wrongEdge = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_nationkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      assert(!scanPaths(wrongEdge).exists(_.contains("graft_summaries")))
      // a 2-table PREFIX of the star (li ⋈ ord alone) must not route
      // onto the 3-table summary either
      val twoOfThree = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(!scanPaths(twoOfThree).exists(_.contains("graft_summaries")))
    } finally Summaries.drop("li_ord_cust_star")
  }

  test("STAR summary: sketch measures route and the partial+refresh " +
      "lifecycle completes over three tables") {
    // feature parity with the single-table substrate: a 3-table star
    // summary carries a KMV sketch measure (routed kmv_ndv equals the
    // raw estimate exactly — bottom-k merges losslessly) and an HLL
    // sketch (routed hll_distinct bit-identical), built PARTIAL over
    // the historical fact slice and completed by one joined-delta
    // refresh — q178's lifecycle on the star shape
    val cut = lit("1997-01-01").cast("timestamp")
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    val cust = Tables.load(spark, sf, "customer")
    def starOf(l: org.apache.spark.sql.DataFrame) =
      l.join(ord, l("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
    Summaries.createJoined(
      starOf(li.filter(col("l_shipdate") < cut)),
      "spec_star_sketch",
      grain = Seq("c_mktsegment", "l_returnflag"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      hlls = Seq("hll_supp" -> "l_suppkey"),
      kmvs = Seq("kmv_supp" -> SuppHash), kmvK = 64,
      partial = true)
    try {
      val probe = () => starOf(li)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          graft.functions.HllFunctions.hll_distinct(col("l_suppkey"))
            .as("hs"),
          graft.functions.KmvFunctions.kmv_ndv(expr(SuppHash), 64)
            .as("ks"))
        .orderBy("c_mktsegment")
      // partial: runs raw (correct), never routed
      assert(scanPaths(probe()).exists(_.contains("lineitem")))
      val raw = probe().collect().toSeq
      // the completing joined-delta refresh flips routing on
      Summaries.refresh("spec_star_sketch",
        starOf(li.filter(col("l_shipdate") >= cut)), complete = true)
      assert(scanPaths(probe()).forall(_.contains("graft_summaries")))
      // register-max / bottom-k merge losslessly: routed == raw
      assert(probe().collect().toSeq == raw)
    } finally Summaries.drop("spec_star_sketch")
  }

  test("AVG over a declared decimal measure routes bit-identically; " +
      "double AVG never routes") {
    registered {
      val qDec = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(avg(col("l_extendedprice").cast("decimal(18,2)")).as("ap"),
          avg(col("l_quantity").cast("decimal(18,2)")).as("aq"))
        .orderBy("l_returnflag")
      val paths = scanPaths(qDec())
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"decimal AVG did not route: $paths")
      val routed = qDec().collect().toSeq
      val raw = withoutRouting { qDec().collect().toSeq }
      assert(routed == raw, s"routed AVG diverged:\n$routed\nvs\n$raw")
      // double AVG re-sums order-dependently — must stay on raw
      val qDbl = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(avg(col("l_extendedprice")).as("ad"))
      assert(scanPaths(qDbl()).forall(_.contains("lineitem")))
    }
  }

  test("q183: the six-table Q5 star routes in a different join order " +
      "and equals the raw join") {
    val q = () => OlapQueries.summaryLocalVolume(spark, sf)
    val raw = withoutRouting { q().collect().toSeq }
    OlapQueries.registerLocalVolumeStarSummary(spark, sf)
    try {
      assert(q().collect().toSeq == raw, "routed six-table star diverged")
      // scan-path assert on the bare aggregate (the wrapper rebuilds a
      // report-sized frame): SAME tables, SAME edges, third ordering
      val inner = () => {
        val li = Tables.load(spark, sf, "lineitem")
        val ord = Tables.load(spark, sf, "orders")
        val cust = Tables.load(spark, sf, "customer")
        val supp = Tables.load(spark, sf, "supplier")
        val nat = Tables.load(spark, sf, "nation")
        val reg = Tables.load(spark, sf, "region")
        ord.join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(li, li("l_orderkey") === ord("o_orderkey"))
          .join(supp, cust("c_nationkey") === supp("s_nationkey") &&
            li("l_suppkey") === supp("s_suppkey"))
          .join(nat, supp("s_nationkey") === nat("n_nationkey"))
          .join(reg, nat("n_regionkey") === reg("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"))
      }
      val paths = scanPaths(inner())
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"six-table star did not route: $paths")
      assert(inner().collect().toSeq ==
        withoutRouting { inner().collect().toSeq })
      // a five-table join (region missing) is a DIFFERENT source set:
      // must stay raw
      val fiveOf = () => {
        val li = Tables.load(spark, sf, "lineitem")
        val ord = Tables.load(spark, sf, "orders")
        val cust = Tables.load(spark, sf, "customer")
        val supp = Tables.load(spark, sf, "supplier")
        val nat = Tables.load(spark, sf, "nation")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(supp, li("l_suppkey") === supp("s_suppkey") &&
            cust("c_nationkey") === supp("s_nationkey"))
          .join(nat, supp("s_nationkey") === nat("n_nationkey"))
          .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      }
      assert(!scanPaths(fiveOf()).exists(_.contains("graft_summaries")))
      // dropping the LOCAL cross-branch edge changes the edge set:
      // must stay raw (the rows differ — routing would be wrong)
      val noLocal = () => {
        val li = Tables.load(spark, sf, "lineitem")
        val ord = Tables.load(spark, sf, "orders")
        val cust = Tables.load(spark, sf, "customer")
        val supp = Tables.load(spark, sf, "supplier")
        val nat = Tables.load(spark, sf, "nation")
        val reg = Tables.load(spark, sf, "region")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(supp, li("l_suppkey") === supp("s_suppkey"))
          .join(nat, supp("s_nationkey") === nat("n_nationkey"))
          .join(reg, nat("n_regionkey") === reg("r_regionkey"))
          .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      }
      assert(!scanPaths(noLocal()).exists(_.contains("graft_summaries")))
    } finally Summaries.drop("li_q5_star")
  }

  test("q184: exact variance routes onto the sumsq leg bit-identically; " +
      "Spark's double Welford stays raw") {
    import graft.functions.ExactMomentsFunctions._
    val q = () => OlapQueries.summaryVariance(spark, sf)
    val raw = withoutRouting { q().collect().toSeq }
    // pre-register the pricing summary (sum_qty + its sumsq twin), so
    // the wrapper routes and the inner aggregate is scan-path-visible
    OlapQueries.registerPricingSummary(spark, sf)
    try {
      assert(q().collect().toSeq == raw, "routed exact variance diverged")
      val inner = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(var_samp_exact(col("l_quantity").cast("decimal(18,2)"))
          .as("v"))
      val paths = scanPaths(inner())
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"exact variance did not route: $paths")
      assert(inner().collect().toSeq ==
        withoutRouting { inner().collect().toSeq })
      // Spark's own var_samp/stddev (double Welford) must FAIL CLOSED
      // — partition-order-dependent low bits can't be reproduced from
      // any summary, so the aggregate stays on the raw table
      val welford = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(var_samp(col("l_quantity")).as("v"),
          stddev(col("l_extendedprice")).as("s"))
      assert(scanPaths(welford()).forall(_.contains("lineitem")))
      // ...and an exact-moments call whose measure lacks the sumsq
      // twin stays raw too (sum_base is declared, its square is not)
      val nosq = () => Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(var_samp_exact(col("l_extendedprice").cast("decimal(18,2)"))
          .as("v"))
      assert(scanPaths(nosq()).forall(_.contains("lineitem")))
    } finally Summaries.drop("lineitem_pricing")
  }

  test("staleness fails closed: a changed source suspends routing " +
      "until refresh/re-create records the new state") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").toFile
    val srcPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
    li.write.parquet(srcPath)
    val src = () => spark.read.parquet(srcPath)
    val q = () => src().groupBy("l_returnflag")
      .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
    // run with the TTL memo ACTIVE but short, so the test proves the
    // full contract: an external overwrite routes stale for at most
    // the TTL (the bounded-staleness trade the default encodes), then
    // suspends; engine-driven create/refresh resume IMMEDIATELY
    // because they overwrite the memo entry themselves
    val ttlMs = 150L
    spark.conf.set(Summaries.StaleTtlKey, ttlMs.toString)
    try {
      Summaries.create(src(), "spec_stale",
        grain = Seq("l_returnflag", "l_linestatus"), sums = Nil)
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      // OVERWRITE the source (fewer rows): routing must suspend and
      // the query must return the NEW raw answer, never the stale one
      val keep = li.filter(col("l_shipdate") <
        lit("1997-01-01").cast("timestamp"))
      val tmp = new java.io.File(dir, "tmp_rewrite").getAbsolutePath
      keep.write.parquet(tmp)
      spark.read.parquet(tmp).write.mode("overwrite").parquet(srcPath)
      Thread.sleep(2 * ttlMs) // past the memo window: must re-list
      // the overwrite is MIXED drift (built entries gone, new files
      // present): with the cube this invertible count keeps routing
      // COMPENSATED and answers the NEW truth — never the stale one;
      // the strict suspension survives behind the delete-read conf
      val fresh = withoutRouting { q().collect().toSeq }
      assert(q().collect().toSeq == fresh,
        "post-overwrite answers must be the new truth, never stale")
      spark.conf.set(Summaries.DeleteReadKey, "false")
      try {
        val paths = scanPaths(q())
        assert(!paths.exists(_.contains("graft_summaries")),
          s"stale summary still routed under the strict conf: $paths")
        assert(q().collect().toSeq == fresh)
      } finally spark.conf.unset(Summaries.DeleteReadKey)
      // a full RE-CREATE records the new fingerprint: routing resumes
      // and the routed answer is the post-overwrite one
      Summaries.create(src(), "spec_stale",
        grain = Seq("l_returnflag", "l_linestatus"), sums = Nil)
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      assert(q().collect().toSeq == fresh)
      // APPEND new files: routing CONTINUES, delta-compensated (the
      // append-only stale case reads summary + extra files, answers
      // the POST-append truth); with the delta read disabled it
      // suspends, the strict pre-round-10 contract
      val extra = li.filter(col("l_shipdate") >=
        lit("2001-06-01").cast("timestamp")) // small, disjoint slice
      // INSIDE the TTL window the memoized listing still serves — the
      // bounded-staleness trade: routing continues (answers are the
      // pre-append ones) until the window closes. A generous TTL for
      // this assert only, so parquet-write latency can't expire the
      // window under the test
      spark.conf.set(Summaries.StaleTtlKey, "600000")
      Summaries.create(src(), "spec_stale", // re-touch the memo now
        grain = Seq("l_returnflag", "l_linestatus"), sums = Nil)
      extra.write.mode("append").parquet(srcPath)
      assert(scanPaths(q()).forall(_.contains("graft_summaries")),
        "memoized freshness should ride out the TTL window")
      spark.conf.set(Summaries.StaleTtlKey, ttlMs.toString)
      Thread.sleep(2 * ttlMs)
      val paths2 = scanPaths(q())
      assert(paths2.exists(_.contains("graft_summaries")),
        s"append-only staleness should delta-compensate, got $paths2")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "compensated answer must equal the post-append raw answer")
      spark.conf.set(Summaries.DeltaReadKey, "false")
      try {
        val strict = scanPaths(q())
        assert(!strict.exists(_.contains("graft_summaries")),
          s"delta read disabled must suspend: $strict")
      } finally spark.conf.unset(Summaries.DeltaReadKey)
      // refresh resumes FRESH routing WITHOUT waiting out a TTL: it
      // records the new fingerprint into the memo as well as the spec
      Summaries.refresh("spec_stale", extra, complete = true)
      val paths3 = scanPaths(q())
      assert(paths3.nonEmpty && paths3.forall(_.contains("graft_summaries")),
        s"post-refresh read should be summary-only: $paths3")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      spark.conf.unset(Summaries.StaleTtlKey)
      Summaries.drop("spec_stale")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("persistence: specs reload in a fresh registry and route, ×3 SFs") {
    // the catalog half of the MV contract: summary DATA is parquet,
    // and now the routing SPEC persists beside it — create, then
    // simulate a restart (unload wipes the in-memory registry and
    // re-arms the lazy reload), and the pricing query must still
    // ROUTE and equal the raw answer, at every SF
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      OlapQueries.registerPricingSummary(spark, sfDir)
      try {
        Summaries.unload() // simulated restart
        val df = OlapQueries.summaryPricingQuery(spark, sfDir)
        val routed = df.collect().toSeq
        val paths = scanPaths(OlapQueries.summaryPricingQuery(spark, sfDir))
        assert(paths.nonEmpty &&
          paths.forall(_.contains("graft_summaries")),
          s"$sfDir: reloaded spec did not route: $paths")
        val raw = withoutRouting {
          OlapQueries.summaryPricingQuery(spark, sfDir).collect().toSeq }
        assert(routed == raw, s"$sfDir: reloaded routing diverged")
      } finally Summaries.drop("lineitem_pricing")
    }
  }

  test("persistence: a JOINED summary reloads (composite registry key)") {
    OlapQueries.registerStarSummary(spark, sf)
    try {
      Summaries.unload()
      val routed = OlapQueries.summaryStarQuery(spark, sf).collect().toSeq
      val paths = scanPaths(OlapQueries.summaryStarQuery(spark, sf))
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"reloaded star spec did not route: $paths")
      val raw = withoutRouting {
        OlapQueries.summaryStarQuery(spark, sf).collect().toSeq }
      assert(routed == raw)
    } finally Summaries.drop("li_ord_cust_star")
  }

  test("persistence: a source changed while the engine was down " +
      "still suspends routing after the reload") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_persist").toFile
    val srcPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
    li.write.parquet(srcPath)
    val src = () => spark.read.parquet(srcPath)
    val q = () => src().groupBy("l_returnflag")
      .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
    try {
      Summaries.create(src(), "spec_down_stale",
        grain = Seq("l_returnflag", "l_linestatus"), sums = Nil)
      Summaries.unload() // "engine down"
      // the source is overwritten while no registry is alive — the
      // persisted build-time fingerprint must catch it on reload
      // (unload cleared the freshness memo, so no TTL window applies)
      val keep = li.filter(col("l_shipdate") <
        lit("1997-01-01").cast("timestamp"))
      val tmp = new java.io.File(dir, "tmp_rewrite").getAbsolutePath
      keep.write.parquet(tmp)
      spark.read.parquet(tmp).write.mode("overwrite").parquet(srcPath)
      // the persisted fingerprint catches the change on reload: the
      // summary must never serve its stale rows — either suspended
      // (strict conf) or MIXED-compensated to the new truth (the
      // reloaded cube path makes that possible)
      val fresh = withoutRouting { q().collect().toSeq }
      assert(q().collect().toSeq == fresh,
        "reloaded stale summary served stale rows")
      spark.conf.set(Summaries.DeleteReadKey, "false")
      try {
        val paths = scanPaths(q())
        assert(!paths.exists(_.contains("graft_summaries")),
          s"reloaded stale summary routed under the strict conf: $paths")
        assert(q().collect().toSeq == fresh)
      } finally spark.conf.unset(Summaries.DeleteReadKey)
      // dropped specs stay dropped across a restart
      Summaries.drop("spec_down_stale")
      Summaries.unload()
      spark.range(1).count() // any query: triggers the reload attempt
      assert(!Summaries.has("spec_down_stale"))
    } finally {
      Summaries.drop("spec_down_stale")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("delta-compensated read: an append-only stale source routes as " +
      "summary + extra files only, across every measure family") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta").toFile
    val srcPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem").select(
      "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_suppkey", "l_orderkey")
    val base = li.filter(col("l_orderkey") % 10 < 8)
    val tail = li.filter(col("l_orderkey") % 10 >= 8)
    base.write.parquet(srcPath)
    val baseFiles = new java.io.File(srcPath).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    val src = () => spark.read.parquet(srcPath)
    // the full measure family: exact decimal sums (AVG legs ride
    // along), min/max, a KMV sketch, plus grain-only percentile via
    // the value-in-grain histogram route
    def reg(): Unit = Summaries.create(src(), "spec_delta",
      grain = Seq("l_returnflag", "l_linestatus", "l_quantity"),
      sums = Seq("sum_price" -> "cast(l_extendedprice as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"),
      kmvs = Seq("kmv_supp" -> SuppHash), kmvK = 64)
    val q = () => src().groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
        avg(col("l_extendedprice").cast("decimal(18,2)")).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        expr(s"kmv_ndv($SuppHash, 64)").as("ndv_supp"),
        expr("percentile(l_quantity, 0.5)").as("med_qty"))
      .orderBy("l_returnflag")
    try {
      reg()
      tail.write.mode("append").parquet(srcPath)
      Summaries.invalidate("spec_delta") // external writer's hook
      val df = q()
      val rows = df.collect().toSeq
      val paths = scanPaths(q())
      // the compensated plan reads the summary + ONLY the appended
      // files — never the base files the summary already covers
      assert(paths.exists(_.contains("graft_summaries")),
        s"expected the summary in the compensated read: $paths")
      val srcScans = paths.filter(p =>
        p.contains("li_copy") && !p.contains("graft_summaries"))
      assert(srcScans.nonEmpty, s"expected delta-file scans: $paths")
      assert(srcScans.forall(p =>
        !baseFiles.contains(new java.io.File(p).getName)),
        s"base files re-read: $srcScans vs $baseFiles")
      assert(rows == withoutRouting { q().collect().toSeq },
        "compensated answers must equal the post-append raw scan")
      // restart-safety: the built listing persists with the spec, so
      // a fresh registry still delta-compensates
      Summaries.unload()
      val paths2 = scanPaths(q())
      assert(paths2.exists(_.contains("graft_summaries")),
        s"reloaded spec lost the delta gate: $paths2")
      assert(q().collect().toSeq == rows)
      // destructive drift: DELETE one built file — nothing can
      // compensate a removal, so the strict suspension stands
      val victim = new java.io.File(srcPath).listFiles()
        .filter(f => baseFiles.contains(f.getName)).head
      assert(victim.delete())
      Summaries.invalidate("spec_delta")
      val paths3 = scanPaths(q())
      assert(!paths3.exists(_.contains("graft_summaries")),
        s"routed past a deleted built file: $paths3")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_delta")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("delta-compensated read: rollup/cube route through the " +
      "compensated substrate too") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_ru")
      .toFile
    val srcPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
    li.filter(col("l_orderkey") % 10 < 8).write.parquet(srcPath)
    val src = () => spark.read.parquet(srcPath)
    val q = () => src().rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
    try {
      Summaries.create(src(), "spec_delta_ru",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(srcPath)
      Summaries.invalidate("spec_delta_ru")
      val paths = scanPaths(q())
      assert(paths.exists(_.contains("graft_summaries")),
        s"rollup should ride the compensated substrate: $paths")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_delta_ru")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("delta-compensated read over a HIVE-PARTITIONED source: " +
      "appended partition files keep their directory-encoded column") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_part")
      .toFile
    val srcPath = new java.io.File(dir, "li_part").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
    // partition by the returnflag — the appended files land INSIDE
    // l_returnflag=... directories, so a bare file read would lose
    // the column; the compensated read anchors basePath at the root
    li.filter(col("l_orderkey") % 10 < 8)
      .write.partitionBy("l_returnflag").parquet(srcPath)
    val src = () => spark.read.parquet(srcPath)
    val q = () => src().groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
    try {
      Summaries.create(src(), "spec_delta_part",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.partitionBy("l_returnflag").mode("append").parquet(srcPath)
      Summaries.invalidate("spec_delta_part")
      val paths = scanPaths(q())
      assert(paths.exists(_.contains("graft_summaries")),
        s"partitioned append should compensate: $paths")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "compensated answer over the partitioned source must equal " +
          "the post-append raw scan (partition column intact)")
    } finally {
      Summaries.drop("spec_delta_part")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("joined summary: a fact-side append delta-compensates through " +
      "the rebuilt join; a two-table append compensates via the " +
      "telescoped cross-delta fold") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_jdelta").toFile
    val liPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val ordPath = new java.io.File(dir, "ord_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val ord = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority")
    li.filter(col("l_orderkey") % 10 < 8).write.parquet(liPath)
    ord.write.parquet(ordPath)
    val liBaseFiles = new java.io.File(liPath).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    val src = () => spark.read.parquet(liPath)
      .join(spark.read.parquet(ordPath),
        col("l_orderkey") === col("o_orderkey"))
    val q = () => src().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .orderBy("o_orderpriority")
    try {
      Summaries.createJoined(src(), "spec_jdelta",
        grain = Seq("o_orderpriority", "l_returnflag"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(liPath)
      Summaries.invalidate("spec_jdelta")
      val paths = scanPaths(q())
      assert(paths.exists(_.contains("graft_summaries")),
        s"fact append should compensate through the join: $paths")
      val liScans = paths.filter(p =>
        p.contains("li_copy") && !p.contains("graft_summaries"))
      assert(liScans.nonEmpty && liScans.forall(p =>
        !liBaseFiles.contains(new java.io.File(p).getName)),
        s"base fact files re-read: $liScans")
      assert(paths.exists(_.contains("ord_copy")),
        s"the delta must re-join the dim: $paths")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "compensated join answer must equal the post-append raw join")
      // appends on BOTH leaves in one window: the telescoped fold
      // (Δli⋈ord₀ + (li₀+Δli)⋈Δord) keeps the read compensated —
      // every pair of raw rows counted exactly once
      ord.limit(5).write.mode("append").parquet(ordPath)
      Summaries.invalidate("spec_jdelta")
      val paths2 = scanPaths(q())
      assert(paths2.exists(_.contains("graft_summaries")),
        s"two-leaf append should still ride the summary: $paths2")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "two-leaf compensated answer must equal the post-append raw join")
      // and refreshDelta folds BOTH deltas in one call: reads return
      // to summary-only (no li_copy/ord_copy scan at all)
      assert(Summaries.refreshDelta("spec_jdelta").isDefined,
        "refreshDelta should detect and fold the two-leaf drift")
      val paths3 = scanPaths(q())
      assert(paths3.exists(_.contains("graft_summaries")) &&
        !paths3.exists(p => p.contains("li_copy") || p.contains("ord_copy")),
        s"post-fold reads must be summary-only: $paths3")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_jdelta")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("MULTIPLE summaries per source: the rewrite picks the best " +
      "match (filtered slice > coarse grain > fine grain)") {
    val li = Tables.load(spark, sf, "lineitem")
    def q(f: Option[org.apache.spark.sql.Column]) = () => {
      val base = Tables.load(spark, sf, "lineitem")
      f.fold(base)(base.filter)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("l_returnflag")
    }
    try {
      Summaries.create(li, "ms_coarse",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
      Summaries.create(li, "ms_fine",
        grain = Seq("l_returnflag", "l_linestatus", "l_quantity"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
      Summaries.create(li, "ms_slice",
        grain = Seq("l_returnflag", "l_quantity"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some("l_quantity > 30"))
      // no filter: the slice is not subsumed; the COARSE grain wins
      // over the fine one (fewer rows to scan)
      val p1 = scanPaths(q(None)())
      assert(p1.nonEmpty && p1.forall(_.contains("ms_coarse")),
        s"unfiltered query should ride the coarse summary: $p1")
      assert(q(None)().collect().toSeq ==
        withoutRouting { q(None)().collect().toSeq })
      // quantity > 35 implies the slice: the FILTERED summary wins
      // (the declared slice is the smallest build that qualifies)
      val f35 = Some(col("l_quantity") > 35)
      val p2 = scanPaths(q(f35)())
      assert(p2.nonEmpty && p2.forall(_.contains("ms_slice")),
        s"subsumed query should ride the filtered summary: $p2")
      assert(q(f35)().collect().toSeq ==
        withoutRouting { q(f35)().collect().toSeq })
      // quantity > 25 does NOT imply the slice, and the coarse grain
      // lacks l_quantity: only the FINE summary serves
      val f25 = Some(col("l_quantity") > 25)
      val p3 = scanPaths(q(f25)())
      assert(p3.nonEmpty && p3.forall(_.contains("ms_fine")),
        s"non-subsumed filter should fall through to the fine grain: $p3")
      assert(q(f25)().collect().toSeq ==
        withoutRouting { q(f25)().collect().toSeq })
      // the explainer names the CHOSEN summary
      assert(graft.plans.RoutingExplain.explain(q(f35)())
        .contains("ms_slice"))
      // the preference is MEASURED cost, not a grain-arity heuristic:
      // a 1-column grain with MANY rows (per order key) must lose to
      // the 6-row coarse summary on a query both can serve
      Summaries.create(li, "ms_bykey",
        grain = Seq("l_orderkey"), sums = Nil)
      try {
        val qg = () => Tables.load(spark, sf, "lineitem")
          .agg(count(lit(1)).as("n"))
        val pg = scanPaths(qg())
        assert(pg.nonEmpty && pg.forall(_.contains("ms_coarse")),
          s"the fewest-ROWS candidate must win: $pg")
        assert(qg().collect().toSeq ==
          withoutRouting { qg().collect().toSeq })
      } finally Summaries.drop("ms_bykey")
      // all three survive a registry reload
      Summaries.unload()
      assert(scanPaths(q(None)()).forall(_.contains("ms_coarse")))
      assert(scanPaths(q(f35)()).forall(_.contains("ms_slice")))
      assert(scanPaths(q(f25)()).forall(_.contains("ms_fine")))
      // a name registered over a DIFFERENT source refuses (drop(name)
      // must stay unambiguous)
      intercept[IllegalArgumentException] {
        Summaries.create(Tables.load(spark, sf, "orders"), "ms_coarse",
          grain = Seq("o_orderpriority"), sums = Nil)
      }
    } finally {
      Summaries.drop("ms_coarse")
      Summaries.drop("ms_fine")
      Summaries.drop("ms_slice")
    }
  }

  test("QUANTILE SKETCH measure: routed estimate == raw estimate at " +
      "any p on a grain WITHOUT the value column") {
    import graft.functions.QskFunctions._
    val priSql = "pmod(l_orderkey * 10 + l_linenumber, 1000000007) * " +
      "2654435761 % 1000000007"
    val valSql =
      "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
    val li = () => Tables.load(spark, sf, "lineitem")
    def q(p: Double, k: Int = 256) = () =>
      li().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          quantile_sketch_est(expr(priSql), expr(valSql), k, p)
            .as("q_cents"))
        .orderBy("l_returnflag")
    try {
      Summaries.create(li(), "spec_qsk",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        qsks = Seq("qsk_price" -> (priSql, valSql)), qskK = 256)
      // the grain does NOT include the value column — the histogram
      // route can't serve this; the sketch measure must
      for (p <- Seq(0.5, 0.9, 0.99)) {
        val qp = q(p)
        val paths = scanPaths(qp())
        assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
          s"p=$p should route summary-only: $paths")
        assert(qp().collect().toSeq == withoutRouting { qp().collect().toSeq },
          s"routed p=$p estimate must be bit-identical to raw " +
            "(bottom-k pair union is lossless)")
      }
      // global (no grouping) routes too
      val qg = () => li().agg(
        quantile_sketch_est(expr(priSql), expr(valSql), 256, 0.5)
          .as("q_cents"))
      assert(scanPaths(qg()).forall(_.contains("graft_summaries")))
      assert(qg().collect().toSeq == withoutRouting { qg().collect().toSeq })
      // a mismatched k must fail closed (different sketch state)
      assert(!scanPaths(q(0.5, k = 64)()).exists(
        _.contains("graft_summaries")))
      // the SQL surface computes the same estimate
      li().createOrReplaceTempView("li_qsk_v")
      val sqlRows = spark.sql(
        s"""SELECT l_returnflag,
           |  quantile_sketch_est($priSql, $valSql, 256, 0.5) AS q_cents
           |FROM li_qsk_v GROUP BY l_returnflag ORDER BY l_returnflag"""
          .stripMargin).collect().toSeq
      val colRows = q(0.5)().select("l_returnflag", "q_cents")
        .collect().toSeq
      assert(sqlRows == colRows)
      // agg → union round trip: the merged state of per-grain
      // sketches equals the whole-table sketch (SQL registration of
      // all three functions)
      val direct = spark.sql(
        s"SELECT quantile_sketch_agg($priSql, $valSql, 256) AS s " +
          "FROM li_qsk_v").collect()(0).getSeq[Long](0)
      val merged = spark.sql(
        s"""SELECT quantile_sketch_union(s, 256, 0.5, false) AS m FROM (
           |  SELECT quantile_sketch_agg($priSql, $valSql, 256) AS s
           |  FROM li_qsk_v GROUP BY l_returnflag, l_linestatus)"""
          .stripMargin).collect()(0).getSeq[Long](0)
      assert(direct == merged, "pair-set union must be lossless")
      // the measure survives a registry reload
      Summaries.unload()
      assert(scanPaths(q(0.9)()).forall(_.contains("graft_summaries")))
      assert(q(0.9)().collect().toSeq ==
        withoutRouting { q(0.9)().collect().toSeq })
      // the sketch measure routes through the ROLLUP/Expand substrate
      // too (the shared Surgeon serves it on the appended columns)
      val qr = () => li().rollup("l_returnflag")
        .agg(count(lit(1)).as("n"),
          quantile_sketch_est(expr(priSql), expr(valSql), 256, 0.5)
            .as("q_cents"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          col("n"), col("q_cents"))
        .orderBy("flag")
      assert(scanPaths(qr()).forall(_.contains("graft_summaries")),
        "rollup + quantile sketch should route")
      assert(qr().collect().toSeq == withoutRouting { qr().collect().toSeq })
      // status names the sketch measure
      assert(Summaries.status().contains("qsk_price"))
    } finally Summaries.drop("spec_qsk")
  }

  test("percentile_approx substitution: routes onto the declared " +
      "quantile sketch ONLY behind its conf; conf-off stays raw and " +
      "the explainer names the gate") {
    import graft.operators.OlapQueries
    OlapQueries.registerQskSummary(spark, sf) // lineitem_qsk, k=256
    val q = () => Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile_approx(expr(OlapQueries.QskValSql),
        lit(0.9), lit(1000)).as("p90"))
      .orderBy("l_returnflag")
    try {
      // default: the gate is OFF — raw plan, stock GK answer
      assert(!scanPaths(q()).exists(_.contains("graft_summaries")),
        "percentile_approx must not substitute without the conf")
      val stock = q().collect().toSeq
      assert(graft.plans.RoutingExplain.explain(q())
        .contains("gated off"),
        graft.plans.RoutingExplain.explain(q()))
      spark.conf.set(SummaryRewrite.ApproxPercentileKey, "true")
      try {
        val p = scanPaths(q())
        assert(p.nonEmpty && p.forall(_.contains("graft_summaries")),
          s"conf-on percentile_approx should ride the sketch: $p")
        val routed = q().collect().toSeq
        // the routed answer IS the sketch's own estimate — exact
        // with respect to the sketch contract (lossless union)
        val sketchTruth = withoutRouting {
          import graft.functions.QskFunctions._
          Tables.load(spark, sf, "lineitem")
            .groupBy("l_returnflag")
            .agg(quantile_sketch_est(expr(OlapQueries.QskPriSql),
              expr(OlapQueries.QskValSql), 256, 0.9).as("p90"))
            .orderBy("l_returnflag").collect().toSeq
        }
        assert(routed.map(r => (r.getString(0), r.getLong(1))) ==
          sketchTruth.map(r => (r.getString(0), r.getLong(1))))
        // …and within sketch error of the stock approximation (both
        // approximate the same true quantile)
        routed.zip(stock).foreach { case (r, s0) =>
          val (a, b) = (r.getLong(1).toDouble, s0.getLong(1).toDouble)
          assert(math.abs(a - b) / math.max(b, 1.0) < 0.25,
            s"substituted p90 too far from stock: $a vs $b")
        }
      } finally spark.conf.unset(SummaryRewrite.ApproxPercentileKey)
    } finally Summaries.drop("lineitem_qsk")
  }

  test("FILTERED summary: subsumed queries route, non-subsumed fail " +
      "closed, refresh/delta stay on the declared slice") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fsum").toFile
    val srcPath = new java.io.File(dir, "li_f").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice")
    li.filter(col("l_orderkey") % 10 < 8).write.parquet(srcPath)
    val src = () => spark.read.parquet(srcPath)
    def q(f: org.apache.spark.sql.Column) = () =>
      src().filter(f).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sp"))
        .orderBy("l_returnflag")
    try {
      Summaries.create(src(), "spec_filtered",
        grain = Seq("l_returnflag", "l_linestatus", "l_quantity"),
        sums = Seq("sp" -> "cast(l_extendedprice as decimal(18,2))"),
        where = Some("l_quantity > 30"))
      // exact predicate: routes
      val qeq = q(col("l_quantity") > 30)
      assert(scanPaths(qeq()).exists(_.contains("graft_summaries")),
        "the declared predicate itself should route")
      assert(qeq().collect().toSeq == withoutRouting { qeq().collect().toSeq })
      // strictly stronger predicate: range containment routes
      val qst = q(col("l_quantity") > 35 && col("l_linestatus") === "F")
      assert(scanPaths(qst()).exists(_.contains("graft_summaries")),
        "a strictly stronger filter should route")
      assert(qst().collect().toSeq == withoutRouting { qst().collect().toSeq })
      // >= at the boundary does NOT imply > : fail closed (raw, correct)
      val qge = q(col("l_quantity") >= 30)
      assert(!scanPaths(qge()).exists(_.contains("graft_summaries")),
        ">= 30 does not imply > 30 — must stay raw")
      assert(qge().collect().toSeq == withoutRouting { qge().collect().toSeq })
      // weaker predicate / no predicate: fail closed
      assert(!scanPaths(q(col("l_quantity") > 25)()).exists(
        _.contains("graft_summaries")))
      val qall = () => src().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
      assert(!scanPaths(qall()).exists(_.contains("graft_summaries")))
      // the explainer names the gate
      assert(graft.plans.RoutingExplain.explain(
        q(col("l_quantity") > 25)()).contains("FILTERED"))
      // delta-compensated read over the filtered summary: the delta
      // partial aggregate applies the SAME declared predicate
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(srcPath)
      Summaries.invalidate("spec_filtered")
      val qd = q(col("l_quantity") > 30)
      assert(scanPaths(qd()).exists(_.contains("graft_summaries")),
        "filtered summary should delta-compensate")
      assert(qd().collect().toSeq == withoutRouting { qd().collect().toSeq },
        "compensated filtered answer must equal the post-append raw scan")
      // and the one-call fold keeps the slice: summary-only reads after
      assert(Summaries.refreshDelta("spec_filtered").isDefined)
      val paths = scanPaths(qd())
      assert(paths.exists(_.contains("graft_summaries")) &&
        !paths.exists(_.contains("li_f")), s"post-fold: $paths")
      assert(qd().collect().toSeq == withoutRouting { qd().collect().toSeq })
    } finally {
      Summaries.drop("spec_filtered")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("FILTERED summary: equality declaration, joined form, and " +
      "restart survival") {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    try {
      // equality declaration over a string grain column
      Summaries.create(li, "spec_feq",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some("l_returnflag = 'R'"))
      val qr = () => Tables.load(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("l_linestatus")
      assert(scanPaths(qr()).exists(_.contains("graft_summaries")))
      assert(qr().collect().toSeq == withoutRouting { qr().collect().toSeq })
      // a different value must not route
      val qn = () => Tables.load(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "N")
        .groupBy("l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("l_linestatus")
      assert(!scanPaths(qn()).exists(_.contains("graft_summaries")))
      assert(qn().collect().toSeq == withoutRouting { qn().collect().toSeq })
      // the declaration survives a registry reload (persisted spec)
      Summaries.unload()
      assert(scanPaths(qr()).exists(_.contains("graft_summaries")))
      assert(!scanPaths(qn()).exists(_.contains("graft_summaries")))
    } finally Summaries.drop("spec_feq")
    try {
      // joined filtered summary: the WHERE rides the star build
      Summaries.createJoined(
        li.join(ord, li("l_orderkey") === ord("o_orderkey")),
        "spec_fjoin",
        grain = Seq("o_orderpriority", "l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some("l_returnflag = 'A'"))
      val qj = () => Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_returnflag") === "A")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("o_orderpriority")
      assert(scanPaths(qj()).exists(_.contains("graft_summaries")),
        "subsumed joined query should route onto the filtered star")
      assert(qj().collect().toSeq == withoutRouting { qj().collect().toSeq })
      val qjn = () => Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")
      assert(!scanPaths(qjn()).exists(_.contains("graft_summaries")),
        "unfiltered joined query must not route onto a filtered star")
    } finally Summaries.drop("spec_fjoin")
    try {
      // IN-list declaration: equality and subset memberships route,
      // a value outside the list fails closed
      Summaries.create(li, "spec_fin",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some("l_returnflag IN ('A', 'R')"))
      def g(f: org.apache.spark.sql.Column) = () =>
        Tables.load(spark, sf, "lineitem").filter(f)
          .groupBy("l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
          .orderBy("l_linestatus")
      val ga = g(col("l_returnflag") === "A")
      assert(scanPaths(ga()).exists(_.contains("graft_summaries")),
        "x = 'A' should imply x IN ('A','R')")
      assert(ga().collect().toSeq == withoutRouting { ga().collect().toSeq })
      val gsub = g(col("l_returnflag").isin("R", "A"))
      assert(scanPaths(gsub()).exists(_.contains("graft_summaries")),
        "a subset IN should imply the declared IN")
      assert(gsub().collect().toSeq ==
        withoutRouting { gsub().collect().toSeq })
      assert(!scanPaths(g(col("l_returnflag").isin("A", "N"))()).exists(
        _.contains("graft_summaries")),
        "an IN with a value outside the declaration must stay raw")
      assert(!scanPaths(g(col("l_returnflag") === "N")()).exists(
        _.contains("graft_summaries")))
    } finally Summaries.drop("spec_fin")
    // a non-grain WHERE is rejected at create
    intercept[IllegalArgumentException] {
      Summaries.create(li, "spec_fbad",
        grain = Seq("l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some("l_extendedprice > 100"))
    }
  }

  test("FILTERED summary: an optimized InSet containing NULL never " +
      "NPEs the optimizer — subsumed lists route, foreign lists stay " +
      "raw") {
    val li = Tables.load(spark, sf, "lineitem")
    // 11 declared members keep the DECLARED side an In over literals;
    // the QUERY side crosses spark.sql.optimizer.inSetConversionThreshold
    // (10) and lands in the rule as InSet — with NULL in its hset
    val decl = Seq("A", "N", "R") ++ (1 to 8).map(i => s"X$i")
    try {
      Summaries.create(li, "spec_finn",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some(decl.map(v => s"'$v'")
          .mkString("l_returnflag IN (", ", ", ")")))
      def g(vals: Seq[Any]) = () =>
        Tables.load(spark, sf, "lineitem")
          .filter(col("l_returnflag").isin(vals: _*))
          .groupBy("l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
          .orderBy("l_linestatus")
      // declared members + NULL: IN's null member never matches a
      // row, so the effective set is subsumed — the query ROUTES
      // (and, pre-fix, this exact shape NPE'd inside the rule)
      val gin = g(decl :+ null)
      assert(scanPaths(gin()).exists(_.contains("graft_summaries")),
        "a subsumed InSet (null dropped) should route")
      assert(gin().collect().toSeq ==
        withoutRouting { gin().collect().toSeq })
      // a foreign member + NULL: not subsumed, stays raw — quietly
      val gout = g((decl :+ "ZZ") :+ null)
      assert(!scanPaths(gout()).exists(_.contains("graft_summaries")))
      assert(gout().collect().toSeq ==
        withoutRouting { gout().collect().toSeq })
    } finally Summaries.drop("spec_finn")
  }

  test("create() rejects a declared WHERE outside the provable " +
      "subsumption grammar (the silently-dead-MV case)") {
    val li = Tables.load(spark, sf, "lineitem")
    // a function call in the declaration can never be re-resolved by
    // the routing side — registering it would build a permanently
    // unroutable summary, so create refuses up front
    val e = intercept[IllegalArgumentException] {
      Summaries.create(li, "spec_fdead",
        grain = Seq("l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        where = Some("upper(l_returnflag) = 'A'"))
    }
    assert(e.getMessage.contains("subsumption grammar"))
    assert(!Summaries.isRegistered("spec_fdead"))
    // the provable shapes still register: comparison, IN, <=>, OR
    Seq("l_returnflag > 'A'", "l_returnflag IN ('A','R')",
      "l_returnflag <=> 'R'",
      "l_returnflag = 'A' OR l_returnflag = 'R'").foreach { w =>
      Summaries.create(li, "spec_fok", grain = Seq("l_returnflag"),
        sums = Nil, where = Some(w))
      Summaries.drop("spec_fok")
    }
  }

  test("staleness-aware best match: a stale candidate's measured " +
      "compensation bytes flip preference to the fresh one, and " +
      "refreshDelta flips it back") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_scost").toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    def rows(n: Int, off: Int) = (0 until n).map { i =>
      (if ((i + off) % 2 == 0) "a" else "b", (i + off) % 500,
        ((i + off) % 97).toLong)
    }.toDF("x", "y", "v")
    val q = () => spark.read.parquet(srcPath)
      .groupBy("x").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("x")
    try {
      rows(20000, 0).write.parquet(srcPath)
      val src = () => spark.read.parquet(srcPath)
      // tiny coarse candidate (2 grain rows) vs a larger fine one
      // (1000 grain rows) — both serve q; coarse wins on bytes
      Summaries.create(src(), "sc_coarse", grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      Summaries.create(src(), "sc_fine", grain = Seq("x", "y"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      assert(scanPaths(q()).forall(_.contains("sc_coarse")),
        "both fresh: the smaller summary serves")
      // a delta lands that dwarfs the fine summary; fold it into the
      // FINE one only — coarse is now stale with a big compensation
      rows(60000, 20000).write.mode("append").parquet(srcPath)
      Summaries.invalidate("sc_coarse")
      assert(Summaries.refreshDelta("sc_fine").isDefined)
      val p2 = scanPaths(q())
      assert(p2.forall(_.contains("sc_fine")),
        s"stale+big-delta candidate must lose to the fresh one: $p2")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
      // fold the coarse one too: preference returns to it
      assert(Summaries.refreshDelta("sc_coarse").isDefined)
      val p3 = scanPaths(q())
      assert(p3.forall(_.contains("sc_coarse")),
        s"after refreshDelta the small candidate wins again: $p3")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("sc_coarse")
      Summaries.drop("sc_fine")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("histogram-driven best match: a SELECTIVE grain filter flips " +
      "the chosen candidate to the fresh summary (sel×bytes beats " +
      "bytes alone), the unfiltered rollup keeps the small one, and " +
      "RoutingExplain names each choice") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_hflip").toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    def rows(n: Int, off: Int) = (0 until n).map { i =>
      // x is COPRIME with y's modulus, so the fine grain really is
      // ~raw-sized (2000×97 combos) instead of collapsing onto y
      ((i + off) % 2000, (i + off) % 97, ((i + off) % 89).toLong)
    }.toDF("y", "x", "v")
    val qAll = () => spark.read.parquet(srcPath)
      .groupBy("y").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("y")
    val qRange = () => spark.read.parquet(srcPath)
      .filter(col("y") < 20)
      .groupBy("y").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("y")
    val qEq = () => spark.read.parquet(srcPath)
      .filter(col("y") === 5)
      .agg(count(lit(1)).as("n"))
    try {
      rows(200000, 0).write.parquet(srcPath)
      val src = () => spark.read.parquet(srcPath)
      // small coarse candidate (~2000 grain rows) vs a much larger
      // fine one (~100k grain rows); both serve every query below
      Summaries.create(src(), "hf_small", grain = Seq("y"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      Summaries.create(src(), "hf_big", grain = Seq("y", "x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      // register() measured the selectivity inputs
      val small = Summaries.statusRows().find(_.name == "hf_small")
      assert(small.isDefined && small.get.bytes > 0)
      assert(scanPaths(qRange()).forall(_.contains("hf_small")),
        "both fresh: the smaller summary serves even filtered reads")
      // a delta lands; fold it into the BIG one only — the small
      // candidate now drags a compensation scan on every read
      rows(30000, 200000).write.mode("append").parquet(srcPath)
      Summaries.invalidate("hf_small")
      assert(Summaries.refreshDelta("hf_big").isDefined)
      // UNFILTERED: bytes + compBytes still favors the small one —
      // served as the delta-COMPENSATED read (summary + delta files)
      val pAll = scanPaths(qAll())
      assert(pAll.exists(_.contains("hf_small")) &&
        !pAll.exists(_.contains("hf_big")),
        s"unfiltered rollup keeps the small candidate: $pAll")
      assert(qAll().collect().toSeq ==
        withoutRouting { qAll().collect().toSeq })
      // RANGE-selective (y < 20 ⇒ ~1% by the equi-height histogram):
      // sel×bytes discounts the big fresh summary below the small
      // one's undiscountable compensation scan — the choice flips
      val pRange = scanPaths(qRange())
      assert(pRange.forall(_.contains("hf_big")),
        s"a selective range filter must flip to the fresh summary: $pRange")
      assert(qRange().collect().toSeq ==
        withoutRouting { qRange().collect().toSeq })
      // EQUALITY-selective (1/NDV) flips the same way
      val pEq = scanPaths(qEq())
      assert(pEq.forall(_.contains("hf_big")),
        s"a selective equality filter must flip too: $pEq")
      assert(qEq().collect().toSeq ==
        withoutRouting { qEq().collect().toSeq })
      // the explainer names each choice
      val exAll = graft.plans.RoutingExplain.explain(qAll())
      assert(exAll.contains("hf_small"), exAll)
      val exRange = graft.plans.RoutingExplain.explain(qRange())
      assert(exRange.contains("hf_big"), exRange)
      // and the explainer shows the numbers the ranking compared
      assert(exRange.contains("est cost") &&
        exRange.contains("compensation-scan"), exRange)
      // folding the small one restores it for every shape
      assert(Summaries.refreshDelta("hf_small").isDefined)
      assert(scanPaths(qRange()).forall(_.contains("hf_small")))
      assert(qRange().collect().toSeq ==
        withoutRouting { qRange().collect().toSeq })
    } finally {
      Summaries.drop("hf_small")
      Summaries.drop("hf_big")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("delete compensation: retention removals subtract through the " +
      "file cube — count/sum/avg/percentile stay routed, min fails " +
      "closed per measure, a fully-deleted grain vanishes, restart " +
      "survives") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_delcomp")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    // kept rows: grains g1..g8, v null EXACTLY on g8 (so after the
    // delete, g8's sum must read NULL, not 0); doomed rows: g8 with
    // non-null v, plus g9 ENTIRELY (so g9 must vanish post-delete)
    val kept = (0 until 4000).map { i =>
      val x = "g" + (i % 8 + 1)
      (x, i % 50, if (x == "g8") None else Some((i % 97) / 10.0))
    }.toDF("x", "y", "v")
    val gone = (0 until 1000).map { i =>
      (if (i % 2 == 0) "g8" else "g9", i % 50, Some(i / 100.0))
    }.toDF("x", "y", "v")
    def files() = new java.io.File(srcPath).listFiles()
      .filter(f => !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSet
    val qA = () => spark.read.parquet(srcPath)
      .groupBy("x")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"),
        avg(col("v").cast("decimal(18,2)")).as("av"),
        expr("percentile(y, 0.5)").as("med"))
      .orderBy("x")
    val qMin = () => spark.read.parquet(srcPath)
      .groupBy("x").agg(min(col("v")).as("mv")).orderBy("x")
    val qD = () => spark.read.parquet(srcPath)
      .agg(countDistinct(col("x")).as("nx"))
    try {
      kept.repartition(3).write.parquet(srcPath)
      val before = files()
      gone.coalesce(1).write.mode("append").parquet(srcPath)
      val doomedFile = (files() -- before).head
      Summaries.create(spark.read.parquet(srcPath), "spec_delcomp",
        grain = Seq("x", "y"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"),
        mins = Seq("mv" -> "v"))
      assert(scanPaths(qA()).forall(_.contains("graft_summaries")))
      assert(qA().collect().toSeq == withoutRouting { qA().collect().toSeq })
      // retention strikes: the doomed file goes away
      assert(new java.io.File(srcPath, doomedFile).delete())
      Summaries.invalidate("spec_delcomp")
      assert(graft.plans.Summaries.status()
        .contains("stale:delete-comp(1 file(s))"),
        graft.plans.Summaries.status())
      val pA = scanPaths(qA())
      assert(pA.exists(_.contains("graft_summaries")),
        s"invertible aggregates must stay routed through a delete: $pA")
      assert(pA.exists(_.contains("_files")),
        s"the compensation must read the cube sidecar: $pA")
      assert(!pA.exists(_.contains("/src")),
        s"the deleted-file compensation must not re-scan the source: $pA")
      val got = qA().collect().toSeq
      assert(got == withoutRouting { qA().collect().toSeq },
        "delete-compensated answers must equal the post-delete raw scan")
      // g9 lived only in the deleted file: its grain row must vanish
      assert(!got.exists(_.getString(0) == "g9"))
      // g8's only non-null v rows died: SUM must read NULL, not 0
      assert(got.find(_.getString(0) == "g8").exists(_.isNullAt(2)),
        s"sum over zero surviving non-null inputs must be NULL: $got")
      // distinct over grain rides the cnt>0-filtered substrate
      assert(qD().collect().toSeq ==
        withoutRouting { qD().collect().toSeq })
      // min cannot un-see a deleted value: per-measure fail closed
      val pMin = scanPaths(qMin())
      assert(!pMin.exists(_.contains("graft_summaries")),
        s"min must fail closed during delete compensation: $pMin")
      assert(qMin().collect().toSeq ==
        withoutRouting { qMin().collect().toSeq })
      // the explainer names the per-measure refusal
      assert(graft.plans.RoutingExplain.explain(qMin())
        .contains("DELETE-compensated"),
        graft.plans.RoutingExplain.explain(qMin()))
      // …and the routed verdict names the compensation kind
      assert(graft.plans.RoutingExplain.explain(qA())
        .contains("delete-compensated"),
        graft.plans.RoutingExplain.explain(qA()))
      // restart survival: the cube path persists with the spec
      Summaries.unload()
      val pA2 = scanPaths(qA())
      assert(pA2.exists(_.contains("graft_summaries")) &&
        pA2.exists(_.contains("_files")), s"reload lost the cube: $pA2")
      assert(qA().collect().toSeq == got)
      // refreshDelta refuses (drift is not append-only) — a delete
      // is folded by re-create, not by the append fold
      intercept[IllegalStateException] {
        Summaries.refreshDelta("spec_delcomp")
      }
    } finally {
      Summaries.drop("spec_delcomp")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("MIXED drift compensates: delete + append in one window, and " +
      "an in-place rewrite (old entry gone, new entry same path) — " +
      "invertible aggregates stay routed, min fails closed") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_mixed")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    def rows(n: Int, off: Int) = (0 until n).map { i =>
      ("g" + ((i + off) % 6 + 1), ((i + off) % 89).toLong)
    }.toDF("x", "v")
    def files() = new java.io.File(srcPath).listFiles()
      .filter(f => !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSet
    val qA = () => spark.read.parquet(srcPath)
      .groupBy("x")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"),
        avg(col("v").cast("decimal(18,2)")).as("av"))
      .orderBy("x")
    val qMin = () => spark.read.parquet(srcPath)
      .groupBy("x").agg(min(col("v")).as("mv")).orderBy("x")
    try {
      rows(3000, 0).repartition(3).write.parquet(srcPath)
      val base = files()
      rows(800, 5000).coalesce(1).write.mode("append").parquet(srcPath)
      val doomed = (files() -- base).head
      Summaries.create(spark.read.parquet(srcPath), "spec_mixed",
        grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"),
        mins = Seq("mv" -> "v"))
      // one maintenance window: retention deletes the doomed file AND
      // the nightly load appends a fresh one
      assert(new java.io.File(srcPath, doomed).delete())
      rows(600, 9000).coalesce(1).write.mode("append").parquet(srcPath)
      Summaries.invalidate("spec_mixed")
      assert(graft.plans.Summaries.status()
        .contains("stale:mixed-comp(-1/+1 file(s))"),
        graft.plans.Summaries.status())
      val p1 = scanPaths(qA())
      assert(p1.exists(_.contains("graft_summaries")) &&
        p1.exists(_.contains("_files")),
        s"mixed drift should compensate through summary + cube: $p1")
      assert(p1.filter(_.contains("/src")).forall(p =>
        !base.contains(new java.io.File(p).getName)),
        s"base files must not re-scan under mixed compensation: $p1")
      assert(qA().collect().toSeq == withoutRouting { qA().collect().toSeq })
      assert(graft.plans.RoutingExplain.explain(qA())
        .contains("mixed-compensated"),
        graft.plans.RoutingExplain.explain(qA()))
      assert(!scanPaths(qMin()).exists(_.contains("graft_summaries")))
      assert(qMin().collect().toSeq ==
        withoutRouting { qMin().collect().toSeq })
      // in-place REWRITE of a surviving base file: replace its bytes
      // with another valid parquet file's (different content, same
      // path) — the listing shows old-entry-missing + new-entry-same-
      // path, the cube subtracts the old content, the pinned delta
      // read adds the current bytes
      val victim = new java.io.File(srcPath, base.head)
      val donor = new java.io.File(srcPath,
        (files() - base.head).head)
      java.nio.file.Files.copy(donor.toPath, victim.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the local FS keeps a checksum sidecar per file — a real
      // rewriter (hadoop fs) replaces it with the data; mirror that
      java.nio.file.Files.copy(
        new java.io.File(srcPath, "." + donor.getName + ".crc").toPath,
        new java.io.File(srcPath, "." + victim.getName + ".crc").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Summaries.invalidate("spec_mixed")
      assert(qA().collect().toSeq ==
        withoutRouting { qA().collect().toSeq },
        "an in-place rewrite must compensate exactly")
      assert(scanPaths(qA()).exists(_.contains("graft_summaries")))
      // the fold refuses (invertible reads compensate; maintenance
      // is a re-create or, for a content-preserving rewrite, rebless)
      val e = intercept[IllegalStateException] {
        Summaries.refreshDelta("spec_mixed")
      }
      assert(e.getMessage.contains("compensating through the cube"))
    } finally {
      Summaries.drop("spec_mixed")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("refreshDelta folds destructive drift for all-invertible " +
      "specs: retention deletes heal without a rebuild, and the cube " +
      "heals with them") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_dfold")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    def rows(n: Int, off: Int) = (0 until n).map { i =>
      ("g" + ((i + off) % 5 + 1), ((i + off) % 83).toLong)
    }.toDF("x", "v")
    def files() = new java.io.File(srcPath).listFiles()
      .filter(f => !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSet
    val qA = () => spark.read.parquet(srcPath)
      .groupBy("x")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"),
        avg(col("v").cast("decimal(18,2)")).as("av"))
      .orderBy("x")
    try {
      rows(2000, 0).repartition(3).write.parquet(srcPath)
      val base = files()
      rows(700, 4000).coalesce(1).write.mode("append").parquet(srcPath)
      val doomed = (files() -- base).head
      // ALL-invertible: sums + their nn legs only — the foldable class
      Summaries.create(spark.read.parquet(srcPath), "spec_dfold",
        grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      // one window: retention delete + nightly append
      assert(new java.io.File(srcPath, doomed).delete())
      rows(500, 8000).coalesce(1).write.mode("append").parquet(srcPath)
      Summaries.invalidate("spec_dfold")
      val folded = Summaries.refreshDelta("spec_dfold")
      assert(folded.isDefined && folded.get.gen == 1,
        s"destructive fold should mint generation 1: $folded")
      assert(Summaries.status().contains("fresh"),
        Summaries.status())
      val p1 = scanPaths(qA())
      assert(p1.nonEmpty && p1.forall(_.contains("graft_summaries")),
        s"post-fold reads must be summary-only: $p1")
      assert(qA().collect().toSeq == withoutRouting { qA().collect().toSeq })
      // the cube healed with the fold: a SECOND retention strike on a
      // base file still compensates, then folds again
      val victim2 = files().intersect(base).head
      assert(new java.io.File(srcPath, victim2).delete())
      Summaries.invalidate("spec_dfold")
      assert(Summaries.status().contains("stale:delete-comp"),
        Summaries.status())
      val p2 = scanPaths(qA())
      assert(p2.exists(_.contains("graft_summaries")) &&
        p2.exists(_.contains("_files")),
        s"healed cube must serve the second delete: $p2")
      assert(qA().collect().toSeq == withoutRouting { qA().collect().toSeq })
      val folded2 = Summaries.refreshDelta("spec_dfold")
      assert(folded2.isDefined && folded2.get.gen == 2)
      assert(scanPaths(qA()).forall(_.contains("graft_summaries")))
      assert(qA().collect().toSeq == withoutRouting { qA().collect().toSeq })
    } finally {
      Summaries.drop("spec_dfold")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("create(fileCube = false) declines the sidecar: deletes " +
      "suspend (the strict posture), answers stay correct") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_nocube")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    (0 until 2000).map(i => ("g" + (i % 4), i.toLong))
      .toDF("x", "v").repartition(3).write.parquet(srcPath)
    val q = () => spark.read.parquet(srcPath)
      .groupBy("x").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("x")
    try {
      val spec = Summaries.create(spark.read.parquet(srcPath),
        "spec_nocube", grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"),
        fileCube = false)
      assert(spec.fileCubePath.isEmpty)
      assert(!Option(new java.io.File("spark-warehouse/graft_summaries")
        .listFiles()).toSeq.flatten
        .exists(_.getName.startsWith("spec_nocube__g0_files")))
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val victim = new java.io.File(srcPath).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(victim.delete())
      Summaries.invalidate("spec_nocube")
      val p = scanPaths(q())
      assert(!p.exists(_.contains("graft_summaries")),
        s"no cube ⇒ a delete must suspend: $p")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
      // and the fold refuses (nothing to subtract with)
      intercept[IllegalStateException] {
        Summaries.refreshDelta("spec_nocube")
      }
    } finally {
      Summaries.drop("spec_nocube")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("delete compensation matches cube file identities through URL " +
      "encoding: a deleted file under a path with SPACES subtracts " +
      "correctly, and a file with zero cube rows fails CLOSED") {
    import scala.jdk.CollectionConverters._
    // the space is the point: input_file_name() stores the
    // URL-ENCODED URI (%20) while the listing carries the decoded
    // path — pre-fix the doomed filter matched nothing and the
    // "compensated" read silently served PRE-delete results
    val dir = java.nio.file.Files
      .createTempDirectory("graft enc comp").toFile
    val srcPath = new java.io.File(dir, "src data").getAbsolutePath
    import spark.implicits._
    (0 until 3000).map(i => ("g" + (i % 5), i.toLong))
      .toDF("x", "v").repartition(3).write.parquet(srcPath)
    val q = () => spark.read.parquet(srcPath)
      .groupBy("x").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("x")
    try {
      Summaries.create(spark.read.parquet(srcPath), "spec_enc",
        grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      val victim = new java.io.File(srcPath).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(victim.delete())
      Summaries.invalidate("spec_enc")
      assert(Summaries.status().contains("stale:delete-comp"),
        Summaries.status())
      val p = scanPaths(q())
      assert(p.exists(_.contains("_files")),
        s"the encoded-path delete must still route compensated: $p")
      // the compensated answer equals POST-delete raw truth — this
      // is the assertion the encoding bug silently failed
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
      // and the fold heals through the same decoded identities
      val folded = Summaries.refreshDelta("spec_enc")
      assert(folded.isDefined && folded.get.gen == 1)
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_enc")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("delete of a built file with ZERO cube rows on an UNFILTERED " +
      "summary fails closed: suspension, raw answers, fold refuses " +
      "(the rendering-drift guard; a declared WHERE is the one " +
      "carve-out, spec'd separately)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_zerocube")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    // file A: real rows; file B: a ZERO-ROW part file — with no
    // declared WHERE, zero cube rows for a built file is otherwise
    // only explainable by a path-rendering drift, so the posture
    // stays strict (suspending an empty-file delete is cheap; ever
    // serving stale rows to a drift is not)
    (0 until 2000).map(i => ("g" + (i % 4), i.toLong)).toDF("x", "v")
      .coalesce(1).write.parquet(srcPath)
    val before = new java.io.File(srcPath).listFiles()
      .map(_.getName).toSet
    Seq.empty[(String, Long)].toDF("x", "v")
      .coalesce(1).write.mode("append").parquet(srcPath)
    val victim = new java.io.File(srcPath).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !before.contains(f.getName)).head
    val q = () => spark.read.parquet(srcPath)
      .groupBy("x").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("x")
    try {
      Summaries.create(spark.read.parquet(srcPath), "spec_zcube",
        grain = Seq("x"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      assert(scanPaths(q()).exists(_.contains("graft_summaries")))
      assert(victim.delete())
      Summaries.invalidate("spec_zcube")
      // zero cube rows match ⇒ the compensated read REFUSES (raw
      // reads, correct) rather than guessing the file contributed
      // nothing — the fail-closed posture for any rendering drift
      val p = scanPaths(q())
      assert(!p.exists(_.contains("graft_summaries")),
        s"zero-match delete must suspend: $p")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
      intercept[IllegalStateException] {
        Summaries.refreshDelta("spec_zcube")
      }
    } finally {
      Summaries.drop("spec_zcube")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("file-cube size gate: a grain×file sidecar that dwarfs the " +
      "summary is auto-disabled at create with a NAMED reason; " +
      "routing still works, deletes suspend strictly") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_cubegate")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    import spark.implicits._
    // 2000 grains × 60 files: every grain lands in ~every file, so
    // the cube is ~60× the summary's rows — the pathological shape
    (0 until 240000).map(i => (i % 2000, i.toLong)).toDF("g", "v")
      .repartition(60).write.parquet(srcPath)
    val q = () => spark.read.parquet(srcPath)
      .groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("g")
    try {
      val spec = Summaries.create(spark.read.parquet(srcPath),
        "spec_cgate", grain = Seq("g"),
        sums = Seq("sv" -> "cast(v as decimal(18,2))"))
      assert(spec.fileCubePath.isEmpty,
        s"the gate must disable the sidecar: ${spec.fileCubePath}")
      assert(spec.cubeNote.startsWith("gated:"), spec.cubeNote)
      assert(!Option(new java.io.File("spark-warehouse/graft_summaries")
        .listFiles()).toSeq.flatten
        .exists(_.getName.startsWith("spec_cgate__g0_files")),
        "the gated sidecar must not stay on disk")
      // the reason is one status/SQL call away
      assert(Summaries.status().contains("cube=(gated:"),
        Summaries.status())
      val tvf = spark.sql("SELECT cube, cube_bytes FROM " +
        "graft_summaries() WHERE name = 'spec_cgate'").collect()(0)
      assert(tvf.getString(0).startsWith("gated:") &&
        tvf.getLong(1) == -1L, tvf.toString)
      // the summary itself routes normally
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
      // and deletes suspend — the strict no-cube posture, with the
      // explainer naming the gate
      val victim = new java.io.File(srcPath).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(victim.delete())
      Summaries.invalidate("spec_cgate")
      val p = scanPaths(q())
      assert(!p.exists(_.contains("graft_summaries")),
        s"gated cube ⇒ deletes suspend: $p")
      val explained = graft.plans.RoutingExplain.explain(q())
      assert(explained.contains("gated"),
        s"the explainer must name the cube gate:\n$explained")
    } finally {
      Summaries.drop("spec_cgate")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("rebless: a content-preserving compaction suspends, verifies, " +
      "and resumes routing without a rebuild; a real data change " +
      "refuses") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_rebless")
      .toFile
    val srcPath = new java.io.File(dir, "src").getAbsolutePath
    val outPath = new java.io.File(dir, "compacted").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem").select(
      "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    val q = () => spark.read.parquet(srcPath)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
        min(col("l_extendedprice")).as("mn"))
      .orderBy("l_returnflag")
    try {
      // many small files — the layout compaction exists to fix
      li.repartition(8).write.parquet(srcPath)
      Summaries.create(spark.read.parquet(srcPath), "spec_rebless",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"),
        mins = Seq("mn" -> "l_extendedprice"),
        kmvs = Seq("kmv_q" -> "cast(l_quantity as bigint) % 97"))
      val raw = withoutRouting { q().collect().toSeq }
      assert(scanPaths(q()).exists(_.contains("graft_summaries")))
      val gen0 = Summaries.status()
      // in-place compaction: rewrite the directory via the engine's
      // own maintenance op, then swap it into place
      graft.operators.Layout.compact(spark, srcPath, outPath)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(srcPath), true))
      assert(fs.rename(new org.apache.hadoop.fs.Path(outPath),
        new org.apache.hadoop.fs.Path(srcPath)))
      Summaries.invalidate("spec_rebless")
      // the fingerprint gate cannot tell compaction from drift:
      // routing suspends, queries run raw and correct
      val pSusp = scanPaths(q())
      assert(!pSusp.exists(_.contains("graft_summaries")),
        s"an in-place rewrite must suspend routing: $pSusp")
      assert(q().collect().toSeq == raw)
      // rebless verifies content at summary resolution and resumes
      assert(Summaries.rebless("spec_rebless"),
        "a content-preserving compaction must verify")
      val pBack = scanPaths(q())
      assert(pBack.nonEmpty && pBack.forall(_.contains("graft_summaries")),
        s"post-rebless reads must be summary-only: $pBack")
      assert(q().collect().toSeq == raw)
      assert(Summaries.status().contains("fresh"))
      // no rebuild happened: same generation serves (the cube sidecar
      // was re-keyed in the verification pass, so its bytes may move,
      // but the summary generation — the expensive artifact — stands)
      assert(Summaries.status().contains("gen=0") &&
        gen0.contains("gen=0"),
        s"rebless must not mint a new generation: ${Summaries.status()}")
      // the rebuilt sidecar keeps DELETE COMPENSATION alive across
      // the compaction (pre-round-13 it silently downgraded to
      // suspend-on-delete until a full re-create)
      assert(Summaries.status().contains("cube="),
        s"rebless must rebuild the file cube: ${Summaries.status()}")
      // idempotent on a fresh summary
      assert(Summaries.rebless("spec_rebless"))
      // the blessing persists: a fresh registry still routes
      Summaries.unload()
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      // a REAL data change refuses: overwrite with one row dropped
      val mutated = spark.read.parquet(srcPath)
        .filter(col("l_extendedprice") =!=
          lit(raw.map(_.getDouble(3)).min))
        .collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(mutated.toSeq, 2),
        spark.read.parquet(srcPath).schema)
        .write.mode("overwrite").parquet(srcPath)
      Summaries.invalidate("spec_rebless")
      assert(!Summaries.rebless("spec_rebless"),
        "a data change must refuse the blessing")
      val pMut = scanPaths(q())
      assert(!pMut.exists(_.contains("graft_summaries")),
        s"a refused blessing must leave the suspension standing: $pMut")
      assert(q().collect().toSeq ==
        withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_rebless")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("joined delta reads are PINNED to the blessed listing: a dim " +
      "file landing inside the TTL window is invisible until blessed " +
      "(no Δfact⋈Δdim double-count)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_jdpin").toFile
    val liPath = new java.io.File(dir, "li_pin").getAbsolutePath
    val ordPath = new java.io.File(dir, "ord_pin").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val ord = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority")
    li.filter(col("l_orderkey") % 10 < 8).write.parquet(liPath)
    ord.write.parquet(ordPath)
    val src = () => spark.read.parquet(liPath)
      .join(spark.read.parquet(ordPath),
        col("l_orderkey") === col("o_orderkey"))
    val q = () => src().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .orderBy("o_orderpriority")
    val prevTtl = spark.conf.getOption(Summaries.StaleTtlKey)
    try {
      Summaries.createJoined(src(), "spec_jdpin",
        grain = Seq("o_orderpriority"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(liPath)
      Summaries.invalidate("spec_jdpin")
      // long TTL: the next lookup's listing (Δli only) stays the
      // blessed state for the rest of the test
      spark.conf.set(Summaries.StaleTtlKey, "600000")
      val blessed = q().collect().toSeq
      assert(scanPaths(q()).exists(_.contains("graft_summaries")))
      assert(blessed == withoutRouting { q().collect().toSeq })
      // a dim append lands INSIDE the TTL window: the gate still
      // validates the memoized Δli-only listing, so the rebuilt
      // delta must keep reading the dim at its BUILT file set —
      // a live dim read would fold Δli⋈Δord now AND again after the
      // window (the over-count ADVICE flagged). The appended orders
      // are chosen to JOIN the Δli rows, so a leak visibly moves
      // the aggregate.
      ord.filter(col("o_orderkey") % 10 >= 8).limit(5)
        .write.mode("append").parquet(ordPath)
      assert(q().collect().toSeq == blessed,
        "unblessed dim files leaked into the compensated read")
      // refreshDelta re-lists directly (no memo): both deltas fold
      // exactly once and the answer catches up to disk
      spark.conf.set(Summaries.StaleTtlKey,
        Summaries.DefaultStaleTtlMs.toString)
      Summaries.invalidate("spec_jdpin")
      assert(Summaries.refreshDelta("spec_jdpin").isDefined)
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "post-fold answer must equal the raw join over everything")
      assert(!scanPaths(q()).exists(p =>
        p.contains("li_pin") || p.contains("ord_pin")))
    } finally {
      prevTtl match {
        case Some(v) => spark.conf.set(Summaries.StaleTtlKey, v)
        case None => spark.conf.unset(Summaries.StaleTtlKey)
      }
      Summaries.drop("spec_jdpin")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("joined summary: a DIM-side append also compensates (Δdim ⋈ " +
      "full fact) and the 3-table rebuild survives a registry reload") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_jdelta3")
      .toFile
    val liPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val ordPath = new java.io.File(dir, "ord_copy").getAbsolutePath
    val custPath = new java.io.File(dir, "cust_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val ord = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    val cust = Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment")
    li.write.parquet(liPath)
    ord.write.parquet(ordPath)
    // hold back part of the DIM: c_custkey % 7 != 0 first
    cust.filter(col("c_custkey") % 7 =!= 0).write.parquet(custPath)
    val src = () => spark.read.parquet(custPath)
      .join(spark.read.parquet(ordPath),
        col("c_custkey") === col("o_custkey"))
      .join(spark.read.parquet(liPath),
        col("o_orderkey") === col("l_orderkey"))
    val q = () => src().groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .orderBy("c_mktsegment")
    try {
      Summaries.createJoined(src(), "spec_jdelta3",
        grain = Seq("c_mktsegment", "o_orderpriority"),
        sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
      cust.filter(col("c_custkey") % 7 === 0)
        .write.mode("append").parquet(custPath)
      Summaries.invalidate("spec_jdelta3")
      val paths = scanPaths(q())
      assert(paths.exists(_.contains("graft_summaries")),
        s"dim append should compensate: $paths")
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "Δdim ⋈ fact compensation must equal the post-append raw join")
      // restart-safety: joinEdges persist, so a reloaded registry
      // still rebuilds the joined delta
      Summaries.unload()
      assert(scanPaths(q()).exists(_.contains("graft_summaries")))
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
    } finally {
      Summaries.drop("spec_jdelta3")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("joined summary: the SIX-table Q5 star compensates a fact " +
      "append — the rebuilt delta join honors the cross-branch edge") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_jdelta6")
      .toFile
    def copy(table: String, df: org.apache.spark.sql.DataFrame): String = {
      val p = new java.io.File(dir, table).getAbsolutePath
      df.write.parquet(p)
      p
    }
    val liFull = Tables.load(spark, sf, "lineitem").select(
      "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val liP = copy("li", liFull.filter(col("l_orderkey") % 10 < 8))
    val ordP = copy("ord", Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate"))
    val custP = copy("cust", Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_nationkey"))
    val suppP = copy("supp", Tables.load(spark, sf, "supplier")
      .select("s_suppkey", "s_nationkey"))
    val natP = copy("nat", Tables.load(spark, sf, "nation")
      .select("n_nationkey", "n_regionkey", "n_name"))
    val regP = copy("reg", Tables.load(spark, sf, "region")
      .select("r_regionkey", "r_name"))
    def t(p: String) = spark.read.parquet(p)
    def star() = {
      val (li, ord, cust, supp, nat, reg) =
        (t(liP), t(ordP), t(custP), t(suppP), t(natP), t(regP))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(nat, supp("s_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
    }
    val q = () => star().groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum(expr(
          "cast(l_extendedprice * (1 - l_discount) as decimal(18,4))"))
          .as("rev"))
      .orderBy("n_name")
    try {
      Summaries.createJoined(star(), "spec_jdelta6",
        grain = Seq("n_name", "r_name"),
        sums = Seq("rev" ->
          "cast(l_extendedprice * (1 - l_discount) as decimal(18,4))"))
      liFull.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(liP)
      Summaries.invalidate("spec_jdelta6")
      val paths = scanPaths(q())
      assert(paths.exists(_.contains("graft_summaries")),
        s"6-table fact append should compensate: $paths")
      // the compensated answer must honor the cross-branch
      // c_nationkey = s_nationkey predicate: dropping it would
      // multiply revenue across non-local suppliers and diverge
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq },
        "compensated Q5-star answer must equal the post-append raw join")
    } finally {
      Summaries.drop("spec_jdelta6")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("refreshDelta: the one-call fold — detect the appended files, " +
      "fold them, return to a summary-only read") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_rfd").toFile
    val srcPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
    li.filter(col("l_orderkey") % 10 < 8).write.parquet(srcPath)
    val baseFiles = new java.io.File(srcPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val q = () => spark.read.parquet(srcPath)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
      .orderBy("l_returnflag")
    try {
      Summaries.create(spark.read.parquet(srcPath), "spec_rfd",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
      // nothing to fold on a fresh summary
      assert(Summaries.refreshDelta("spec_rfd").isEmpty)
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(srcPath)
      val raw = withoutRouting { q().collect().toSeq }
      val folded = Summaries.refreshDelta("spec_rfd")
      assert(folded.nonEmpty, "an appended source must fold")
      val paths = scanPaths(q())
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"post-fold read should be summary-only: $paths")
      assert(q().collect().toSeq == raw,
        "folded summary must answer the post-append truth")
      assert(Summaries.refreshDelta("spec_rfd").isEmpty,
        "second call: already fresh")
      // destructive drift: spec_rfd declares only invertible measures
      // (sums + legs), so since round 12 the fold MATERIALIZES the
      // delete compensation instead of refusing
      val victim = new java.io.File(srcPath).listFiles()
        .filter(f => baseFiles.contains(f.getName)).head
      assert(victim.delete())
      Summaries.invalidate("spec_rfd")
      val folded2 = Summaries.refreshDelta("spec_rfd")
      assert(folded2.nonEmpty, "all-invertible spec should fold a delete")
      assert(scanPaths(q()).forall(_.contains("graft_summaries")))
      assert(q().collect().toSeq == withoutRouting { q().collect().toSeq })
      // a min-declared spec still refuses the destructive fold
      // (fail loud, not silent-wrong)
      Summaries.create(spark.read.parquet(srcPath), "spec_rfd_min",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Nil, mins = Seq("mn" -> "l_quantity"))
      try {
        val victim2 = new java.io.File(srcPath).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        assert(victim2.delete())
        Summaries.invalidate("spec_rfd_min")
        intercept[IllegalStateException] {
          Summaries.refreshDelta("spec_rfd_min")
        }
      } finally Summaries.drop("spec_rfd_min")
    } finally {
      Summaries.drop("spec_rfd")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("refreshDelta: folds a JOINED summary's fact append through " +
      "the rebuilt delta join") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_rfdj").toFile
    val liPath = new java.io.File(dir, "li_copy").getAbsolutePath
    val ordPath = new java.io.File(dir, "ord_copy").getAbsolutePath
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val ord = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority")
    li.filter(col("l_orderkey") % 10 < 8).write.parquet(liPath)
    ord.write.parquet(ordPath)
    val src = () => spark.read.parquet(liPath)
      .join(spark.read.parquet(ordPath),
        col("l_orderkey") === col("o_orderkey"))
    val q = () => src().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
      .orderBy("o_orderpriority")
    try {
      Summaries.createJoined(src(), "spec_rfdj",
        grain = Seq("o_orderpriority", "l_returnflag"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
      li.filter(col("l_orderkey") % 10 >= 8)
        .write.mode("append").parquet(liPath)
      val raw = withoutRouting { q().collect().toSeq }
      assert(Summaries.refreshDelta("spec_rfdj").nonEmpty)
      val paths = scanPaths(q())
      assert(paths.nonEmpty && paths.forall(_.contains("graft_summaries")),
        s"post-fold join read should be summary-only: $paths")
      assert(q().collect().toSeq == raw)
    } finally {
      Summaries.drop("spec_rfdj")
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q185: the delta-demo fixture routes compensated (summary + " +
      "appended files) and equals the full-table raw answer") {
    OlapQueries.registerDeltaDemo(spark, sf)
    try {
      val df = OlapQueries.deltaPricingQuery(spark, sf)
      val routed = df.collect().toSeq
      val paths = scanPaths(OlapQueries.deltaPricingQuery(spark, sf))
      assert(paths.exists(_.contains("graft_summaries")),
        s"q185 should read the summary: $paths")
      assert(paths.exists(_.contains("graft_delta_demo")),
        s"q185 should read the appended delta files: $paths")
      // the compensated answer IS the full-table answer: base ∪ tail
      // is exactly lineitem
      val full = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect().toSeq
      assert(routed.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        == full.map(r => (r.getString(0), r.getString(1), r.getLong(2))))
      assert(routed == withoutRouting {
        OlapQueries.deltaPricingQuery(spark, sf).collect().toSeq })
    } finally Summaries.drop(OlapQueries.deltaDemoName(sf))
  }

  test("refresh completion is explicit: a partial summary stays " +
      "unroutable under default refreshes") {
    val raw = Tables.load(spark, sf, "lineitem")
    val cut = lit("2000-01-01").cast("timestamp")
    Summaries.create(
      raw.filter(col("l_shipdate") < cut), "spec_forgot",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      partial = true)
    try {
      // a backfill that FORGETS the completion flag must fail safe:
      // still unroutable, queries run raw (correct), never subset
      Summaries.refresh("spec_forgot",
        raw.filter(col("l_shipdate") >= cut))
      val q = () => raw.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).orderBy("l_returnflag")
      assert(scanPaths(q()).forall(_.contains("lineitem")))
    } finally Summaries.drop("spec_forgot")
  }

  test("delete compensation scans the summary ONCE and the cube ONCE") {
    // pins the q191 plan shape (r14 VERDICT #4): the compensated read
    // is merge(summary, negate(cube rows of the deleted file)) — if
    // lifecycle hardening ever duplicates either subtree (a second
    // cube scan, a summary re-read), the compensated read's bytes
    // silently grow; this catches it structurally
    OlapQueries.registerDeleteDemo(spark, sf)
    try {
      val ps = scanPaths(OlapQueries.deleteCompQuery(spark, sf))
      // the route q191's query path reports on (it never throws)
      assert(OlapQueries.deleteCompRouted(ps),
        s"compensated read must scan summary + cube only: $ps")
      assert(ps.count(_.contains("_files")) == 1,
        s"expected exactly one cube-sidecar scan: $ps")
      assert(ps.count(!_.contains("_files")) == 1,
        s"expected exactly one summary scan: $ps")
    } finally OlapQueries.dropDeleteDemo(spark, sf)
  }

  test("q192: the post-rebless read scans the summary only") {
    // the route q192's query path reports on (it never throws)
    OlapQueries.registerReblessDemo(spark, sf)
    try {
      val ps = scanPaths(OlapQueries.reblessQuery(spark, sf))
      assert(OlapQueries.summaryOnly(ps),
        s"post-rebless read must route onto the summary: $ps")
    } finally OlapQueries.dropReblessDemo(spark, sf)
  }

  test("q193: the DDL-created summary serves the SQL read alone") {
    // the route q193's query path reports on (it never throws)
    OlapQueries.registerSqlDdlDemo(spark, sf)
    try {
      val ps = scanPaths(OlapQueries.sqlDdlQuery(spark, sf))
      assert(OlapQueries.summaryOnly(ps),
        s"the DDL-created summary must serve this read: $ps")
    } finally OlapQueries.dropSqlDdlDemo(spark, sf)
  }

  test("every demo fixture name carries the process id") {
    // the names key CWD-relative summary specs and table copies: two
    // JVMs in one directory must never share one
    val pid = ProcessHandle.current().pid()
    val names = OlapQueries.getClass.getMethods.toSeq
      .filter(m => m.getName.endsWith("DemoName") &&
        m.getParameterCount == 1)
    assert(names.size >= 5, names.map(_.getName))
    names.foreach { m =>
      val n = m.invoke(OlapQueries, sf).asInstanceOf[String]
      assert(n.endsWith(s"_p$pid"), s"${m.getName}($sf) = $n")
    }
  }
}
