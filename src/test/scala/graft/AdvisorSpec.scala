package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.plans.{Advisor, TraceCapture}

/** The profile→advice loop: exact findings over a deterministic
  * hand-authored trace fixture, then a live round trip (TraceCapture
  * over a real shuffle query → Advisor flags its exchange).
  */
class AdvisorSpec extends SparkSpec {

  private val fixture = Seq(
    // qA: a dominating shuffle (2.5 s write + 100 ms fetch), a
    // small-files scan, and a spilling aggregate
    """{"event":"query","name":"qA","wall_ms":3000,"ts_ms":1,"operators":[""" +
      """{"op":"ShuffleExchange","depth":1,"metrics":{"shuffleWriteTime":2500000000,"fetchWaitTime":100,"dataSize":999}},""" +
      """{"op":"Scan parquet t","depth":2,"path":"/data/t","metrics":{"scanTime":800,"numFiles":64,"filesSize":6710886,"numOutputRows":5}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"spillSize":123456,"numOutputRows":10}}]}""",
    // qB: an oversized broadcast, a nested loop, a timed sort, and a
    // second (smaller) exchange reporting only dataSize
    """{"event":"query","name":"qB","wall_ms":500,"ts_ms":1,"operators":[""" +
      """{"op":"BroadcastExchange","depth":1,"metrics":{"dataSize":134217728}},""" +
      """{"op":"BroadcastNestedLoopJoin","depth":0,"metrics":{"numOutputRows":42}},""" +
      """{"op":"Sort","depth":3,"metrics":{"sortTime":321}},""" +
      """{"op":"ShuffleExchange","depth":4,"metrics":{"dataSize":77}}]}""",
    """not json at all""", // a partially-written trace must not break advice
    """{"event":"query_failed","name":"qC","error":"Boom"}""",
    // qD: a second aggregate-bearing query over the SAME source path
    // as qA — together they make /data/t a summary candidate
    """{"event":"query","name":"qD","wall_ms":400,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet t","depth":2,"path":"/data/t","metrics":{"scanTime":200,"numOutputRows":5}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    // qE/qF: two aggregate queries over the SAME x⋈y equi-join —
    // the joined-summary candidate (and NOT single-table candidates:
    // a join aggregate can't route onto a one-table summary)
    """{"event":"query","name":"qE","wall_ms":300,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet x","depth":3,"path":"/data/x","metrics":{"scanTime":150}},""" +
      """{"op":"Scan parquet y","depth":3,"path":"/data/y","metrics":{"scanTime":50}},""" +
      """{"op":"SortMergeJoin","depth":2,"metrics":{"numOutputRows":9}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    """{"event":"query","name":"qF","wall_ms":300,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet y","depth":3,"path":"/data/y","metrics":{"scanTime":60}},""" +
      """{"op":"Scan parquet x","depth":3,"path":"/data/x","metrics":{"scanTime":140}},""" +
      """{"op":"BroadcastHashJoin","depth":2,"metrics":{"numOutputRows":9}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    // qG/qH: two aggregate queries over the SAME 3-table STAR
    // (x⋈y⋈z) — a distinct candidate from the 2-table x⋈y one,
    // nominating Summaries.createJoined's star form
    """{"event":"query","name":"qG","wall_ms":300,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet x","depth":4,"path":"/data/x","metrics":{"scanTime":100}},""" +
      """{"op":"Scan parquet y","depth":4,"path":"/data/y","metrics":{"scanTime":40}},""" +
      """{"op":"Scan parquet z","depth":3,"path":"/data/z","metrics":{"scanTime":30}},""" +
      """{"op":"SortMergeJoin","depth":2,"metrics":{"numOutputRows":9}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    """{"event":"query","name":"qH","wall_ms":300,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet z","depth":3,"path":"/data/z","metrics":{"scanTime":35}},""" +
      """{"op":"Scan parquet x","depth":4,"path":"/data/x","metrics":{"scanTime":90}},""" +
      """{"op":"Scan parquet y","depth":4,"path":"/data/y","metrics":{"scanTime":45}},""" +
      """{"op":"BroadcastHashJoin","depth":2,"metrics":{"numOutputRows":9}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    // qK/qL: two aggregate queries over /data/w that BOTH push the
    // same predicate — the summary nomination upgrades to a FILTERED
    // one (the shared slice becomes the declared WHERE); qL's extra
    // conjunct drops out of the intersection
    """{"event":"query","name":"qK","wall_ms":300,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet w","depth":2,"path":"/data/w","filters":["(l_quantity > 30)"],"metrics":{"scanTime":120}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    """{"event":"query","name":"qL","wall_ms":300,"ts_ms":1,"operators":[""" +
      """{"op":"Scan parquet w","depth":2,"path":"/data/w","filters":["(l_quantity > 30)","(flag = 'R')"],"metrics":{"scanTime":110}},""" +
      """{"op":"HashAggregate","depth":1,"metrics":{"numOutputRows":3}}]}""",
    // qI/qJ: the SAME equi-join on the SAME keys repeating with real
    // shuffle volume — the write-time BUCKETING candidate (no
    // aggregate required: the lever is co-location, not routing).
    // Operators are in TraceCapture's PRE-ORDER (parent before
    // children), and each query carries one exchange ABOVE the join
    // (depth 1 — an aggregate/sort shuffle co-location can't delete)
    // that must NOT count toward the nomination: only the exchanges
    // feeding the join (depth below it) are creditable.
    """{"event":"query","name":"qI","wall_ms":900,"ts_ms":1,"operators":[""" +
      """{"op":"ShuffleExchange","depth":1,"metrics":{"dataSize":7000000}},""" +
      """{"op":"SortMergeJoin","depth":2,"jkeys":["f_id=g_id"],"metrics":{"numOutputRows":9}},""" +
      """{"op":"ShuffleExchange","depth":3,"metrics":{"dataSize":50000000}},""" +
      """{"op":"Scan parquet f","depth":4,"path":"/data/f","metrics":{"scanTime":200}},""" +
      """{"op":"ShuffleExchange","depth":3,"metrics":{"dataSize":1000000}},""" +
      """{"op":"Scan parquet g","depth":4,"path":"/data/g","metrics":{"scanTime":180}}]}""",
    """{"event":"query","name":"qJ","wall_ms":800,"ts_ms":1,"operators":[""" +
      """{"op":"ShuffleExchange","depth":1,"metrics":{"dataSize":9000000}},""" +
      """{"op":"SortMergeJoin","depth":2,"jkeys":["f_id=g_id"],"metrics":{"numOutputRows":9}},""" +
      """{"op":"ShuffleExchange","depth":3,"metrics":{"dataSize":52000000}},""" +
      """{"op":"Scan parquet g","depth":4,"path":"/data/g","metrics":{"scanTime":170}},""" +
      """{"op":"ShuffleExchange","depth":3,"metrics":{"dataSize":2000000}},""" +
      """{"op":"Scan parquet f","depth":4,"path":"/data/f","metrics":{"scanTime":210}}]}""",
    // qM/qN: the same pushed RANGE predicate in two queries, with the
    // scan EMITTING 1000× what the Filter above keeps — the
    // sort-clustering candidate (and NOT a partitioning one: a range
    // column is the directory-per-value anti-pattern). No scanTime /
    // filesSize on purpose: the candidate needs only the row gap
    """{"event":"query","name":"qM","wall_ms":200,"ts_ms":1,"operators":[""" +
      """{"op":"Filter","depth":1,"cond":["(ts >= 10)"],"metrics":{"numOutputRows":100}},""" +
      """{"op":"Scan parquet v","depth":2,"path":"/data/v","filters":["(ts >= 10)"],"metrics":{"numOutputRows":100000}}]}""",
    """{"event":"query","name":"qN","wall_ms":200,"ts_ms":1,"operators":[""" +
      """{"op":"Filter","depth":1,"cond":["(ts >= 10)","(ts < 90)"],"metrics":{"numOutputRows":50}},""" +
      """{"op":"Scan parquet v","depth":2,"path":"/data/v","filters":["(ts >= 10)","(ts < 90)"],"metrics":{"numOutputRows":100000}}]}""",
    // qO/qP: the same range predicates but with "kept" NOT
    // attributable — qO's Filter carries a residual non-pushed
    // conjunct (conds ⊄ scan filters: its selectivity would be
    // mis-credited to clustering), qP's Filter has no numOutputRows
    // metric at all (absent data must not read as kept=0). Neither
    // may contribute to a nomination.
    """{"event":"query","name":"qO","wall_ms":200,"ts_ms":1,"operators":[""" +
      """{"op":"Filter","depth":1,"cond":["(ts >= 10)","(custom_udf(s) = 1)"],"metrics":{"numOutputRows":100}},""" +
      """{"op":"Scan parquet u","depth":2,"path":"/data/u","filters":["(ts >= 10)"],"metrics":{"numOutputRows":100000}}]}""",
    """{"event":"query","name":"qP","wall_ms":200,"ts_ms":1,"operators":[""" +
      """{"op":"Filter","depth":1,"cond":["(ts >= 10)"],"metrics":{"scanTime":1}},""" +
      """{"op":"Scan parquet u","depth":2,"path":"/data/u","filters":["(ts >= 10)"],"metrics":{"numOutputRows":100000}}]}""",
    // qQ/qR: ranges on TWO shared columns — the nomination upgrades
    // to Z-ORDER (a lexicographic sort would serve only the leading
    // column of the pair)
    """{"event":"query","name":"qQ","wall_ms":200,"ts_ms":1,"operators":[""" +
      """{"op":"Filter","depth":1,"cond":["(x0 >= 10)","(y0 < 90)"],"metrics":{"numOutputRows":200}},""" +
      """{"op":"Scan parquet w2","depth":2,"path":"/data/w2","filters":["(x0 >= 10)","(y0 < 90)"],"metrics":{"numOutputRows":100000}}]}""",
    """{"event":"query","name":"qR","wall_ms":200,"ts_ms":1,"operators":[""" +
      """{"op":"Filter","depth":1,"cond":["(x0 < 50)","(y0 >= 20)"],"metrics":{"numOutputRows":300}},""" +
      """{"op":"Scan parquet w2","depth":2,"path":"/data/w2","filters":["(x0 < 50)","(y0 >= 20)"],"metrics":{"numOutputRows":100000}}]}""")

  test("deterministic fixture: every signal class found, ranked, levered") {
    // the fixture feeds TWICE: repeated executions of the same
    // (query, operator, signal) must collapse to one finding
    val fs = Advisor.advise((fixture ++ fixture).iterator, topN = 8)
    def one(sig: String, op: String) = {
      val hits = fs.filter(f => f.signal == sig && f.op == op)
      assert(hits.size == 1, s"$sig/$op: $fs")
      hits.head
    }
    val spill = one("spillSize", "HashAggregate#2")
    assert(spill.query == "qA" && spill.value == 123456L)
    val loop = one("numOutputRows", "BroadcastNestedLoopJoin#1")
    assert(loop.lever.contains("equality key"))
    val bigX = one("shuffle write+fetch time", "ShuffleExchange#0")
    assert(bigX.value == 2600L && bigX.unit == "ms") // 2.5e9 ns + 100 ms
    val smallX = one("dataSize", "ShuffleExchange#3")
    assert(smallX.value == 77L)
    val scan = one("scanTime", "Scan parquet t#1")
    assert(scan.value == 800L)
    assert(scan.lever.contains("compact"), // 64 files avg ~102 KB
      s"small-files lever missing: ${scan.lever}")
    val bcast = one("dataSize", "BroadcastExchange#0")
    assert(bcast.value == 128L * 1024 * 1024)
    val sort = one("sortTime", "Sort#2")
    assert(sort.value == 321L)
    // class ordering: spills and nested loops outrank tuning advice
    assert(fs.indexOf(spill) < fs.indexOf(bigX))
    assert(fs.indexOf(loop) < fs.indexOf(bigX))
    // exchanges ranked by cost within the class
    assert(fs.indexOf(bigX) < fs.indexOf(smallX))
    // summary candidate: qA and qD both aggregate over /data/t; the
    // doubled fixture must NOT double the distinct-query count, and
    // qB (no path'd scan) contributes nothing
    val cands = fs.filter(_.signal == "aggregate-scanning queries")
    assert(cands.size == 2, s"$cands")
    val tCand = cands.find(_.op == "Scan /data/t")
      .getOrElse(fail(s"no /data/t candidate: $cands"))
    assert(tCand.value == 2L)
    assert(tCand.lever.contains("Summaries.create"))
    assert(tCand.lever.contains("qA") && tCand.lever.contains("qD"))
    // qA and qD push no common predicate: a plain (unfiltered)
    // nomination, no WHERE in the lever
    assert(!tCand.lever.contains("where ="), tCand.lever)
    // qK and qL both push (l_quantity > 30): the nomination upgrades
    // to a FILTERED summary with exactly the shared conjunct — qL's
    // extra (flag = 'R') must drop out of the intersection
    val wCand = cands.find(_.op == "Scan /data/w")
      .getOrElse(fail(s"no /data/w candidate: $cands"))
    assert(wCand.lever.contains(
      "where = Some(\"(l_quantity > 30)\")"), wCand.lever)
    assert(!wCand.lever.contains("flag = 'R'"), wCand.lever)
    // joined-summary candidate: qE and qF aggregate over the same
    // x⋈y join (doubled fixture must not double the count), and they
    // contribute to NO single-table candidate
    val jcands = fs.filter(_.signal == "aggregate-join queries")
    assert(jcands.size == 2, s"$jcands")
    val two = jcands.find(_.op == "Join /data/x ⋈ /data/y")
      .getOrElse(fail(s"no 2-table candidate: $jcands"))
    assert(two.value == 2L)
    assert(two.lever.contains("Summaries.createJoined"))
    assert(two.lever.contains("qE") && two.lever.contains("qF"))
    // the 3-table STAR is its own candidate, disjoint from x⋈y
    val star = jcands.find(_.op == "Join /data/x ⋈ /data/y ⋈ /data/z")
      .getOrElse(fail(s"no star candidate: $jcands"))
    assert(star.value == 2L && star.lever.contains("3-table join"))
    assert(star.lever.contains("qG") && star.lever.contains("qH"))
    assert(!cands.exists(c => c.op.contains("/data/x") ||
      c.op.contains("/data/y")))
    // bucketing candidate: qI and qJ repeat the same f⋈g join on the
    // same keys with real shuffle volume — a write-time co-location
    // nomination, NOT a summary one (they carry no aggregate)
    val bkt = fs.filter(_.kind == "bucket")
    assert(bkt.size == 1, s"$bkt")
    assert(bkt.head.op == "Join /data/f ⋈ /data/g", s"$bkt")
    assert(bkt.head.edges == Seq("f_id=g_id"))
    // worst-per-query sums of the JOIN-FEEDING exchanges only:
    // qI (50+1) MB + qJ (52+2) MB — the depth-1 exchanges above the
    // joins (7/9 MB) are not creditable to co-location and must be
    // excluded
    assert(bkt.head.value == 51000000L + 54000000L, s"${bkt.head}")
    assert(bkt.head.lever.contains("Layout.createBucketed"))
    assert(!fs.exists(f => f.kind == "join" &&
      f.op.contains("/data/f")), "no aggregate → no joined-summary " +
      "nomination for f⋈g")
    // sort-clustering candidate: qM and qN both push a RANGE on ts
    // while the scan emits 1000× what the Filter keeps — the wasted
    // rows are the worst per query, summed over DISTINCT queries
    // (doubled fixture must not double them)
    val sc = fs.filter(_.kind == "sort-cluster")
    assert(sc.size == 1, s"$sc")
    assert(sc.head.op == "Scan /data/v" && sc.head.grain == Seq("ts"),
      s"${sc.head}")
    assert(sc.head.value == (100000L - 100L) + (100000L - 50L),
      s"${sc.head}")
    assert(sc.head.lever.contains("Layout.sortByColumns"))
    // and the RANGE predicate nominates NO Hive partitioning
    assert(!fs.exists(f => f.kind == "partition" &&
      f.paths.contains("/data/v")),
      "a range column must not nominate a directory-per-value layout")
    // unattributable "kept" contributes nothing: qO's residual
    // conjunct and qP's missing metric both fail the evidence bar
    assert(!fs.exists(f => f.kind == "sort-cluster" &&
      f.paths.contains("/data/u")),
      "a residual predicate or a missing metric must not nominate")
    // TWO shared range columns upgrade to a Z-ORDER nomination
    val zc = fs.filter(_.kind == "zorder-cluster")
    assert(zc.size == 1 && zc.head.op == "Scan /data/w2" &&
      zc.head.grain == Seq("x0", "y0"), s"$zc")
    assert(zc.head.lever.contains("Layout.zorderByColumns"))
    // the shattered qA scan (64 files averaging ~102 KB) is a
    // machine-readable compaction nomination, deduped per path
    val cp = fs.filter(_.kind == "compact")
    assert(cp.size == 1 && cp.head.paths == Seq("/data/t") &&
      cp.head.value == 64L, s"$cp")
    assert(cp.head.lever.contains("Layout.compact"))
    // report renders one line per finding
    assert(Advisor.report(fs).linesIterator.size == fs.size)
    assert(Advisor.report(Nil).contains("no findings"))
  }

  test("live round trip: a real shuffle's trace yields an exchange lever") {
    val dir = Files.createTempDirectory("graft-advice")
    val path = dir.resolve("t.jsonl").toString
    val listener = TraceCapture.install(spark, path)
    try {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy("l_suppkey").count()
        .write.format("noop").mode("overwrite").save()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.isEmpty && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(path)))
          lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
        if (lines.isEmpty) Thread.sleep(50)
      }
      assert(lines.nonEmpty, "no trace captured")
      val fs = Advisor.advise(lines.iterator)
      assert(fs.exists(f => f.op.contains("Exchange") || f.op.contains("Scan")),
        s"no exchange/scan finding over a real shuffle: $fs")
      // and nothing in this tiny query should spill or nested-loop
      assert(!fs.exists(_.signal == "spillSize"), fs.toString)
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("bucketing loop closes with measured evidence: trace a " +
      "repeated join, act on the nomination, and the re-traced " +
      "workload's join-feeding exchanges are GONE") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-adv-bkt")
    val liPath = dir.resolve("li_b").toString
    val ordPath = dir.resolve("ord_b").toString
    val tracePath = dir.resolve("t.jsonl").toString
    Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.parquet(liPath)
    Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority")
      .write.parquet(ordPath)
    def workload(li: org.apache.spark.sql.DataFrame,
        ord: org.apache.spark.sql.DataFrame) =
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("o_orderpriority")
    def readTrace(min: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < min && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(tracePath)))
          lines = Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        if (lines.size < min) Thread.sleep(50)
      }
      lines
    }
    val expected = workload(spark.read.parquet(liPath),
      spark.read.parquet(ordPath)).collect().toSeq
    // flush the pre-install executions' end events: a straggler
    // landing after install would add an unlabeled line to the trace
    org.apache.spark.sql.GraftColumnBridge
      .drainListenerBus(spark, 10000L)
    val listener = TraceCapture.install(spark, tracePath)
    // AQE can plan this small join as broadcast — force the shuffle
    // shape the nomination exists for (at 100 TB neither side
    // broadcasts; the fixture models that)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the same fact⋈fact join in two distinct traced queries
      Seq("bq1", "bq2").foreach { label =>
        TraceCapture.setLabel(label)
        workload(spark.read.parquet(liPath),
          spark.read.parquet(ordPath))
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines = readTrace(2)
      assert(lines.size >= 2)
      val nom = Advisor.advise(lines.iterator).find(_.kind == "bucket")
        .getOrElse(fail("no bucketing nomination from the " +
          s"repeated join: ${Advisor.advise(lines.iterator)}"))
      assert(nom.value > 0, s"nomination carries no measured bytes: $nom")
      assert(nom.edges.exists(_.contains("orderkey")), nom.toString)
      // ACT on it: CTAS both sides bucketed on their join keys
      val tables = Advisor.actOnBucketing(spark, nom, "adv_bkt")
      try {
        assert(tables.size == 2, tables.toString)
        // answers unchanged — bucketing is layout, not semantics
        val liT = tables.collectFirst {
          case (p, t) if p.contains("li_b") => t }.get
        val ordT = tables.collectFirst {
          case (p, t) if p.contains("ord_b") => t }.get
        val bucketed = () =>
          workload(spark.table(liT), spark.table(ordT))
        assert(bucketed().collect().toSeq == expected)
        // measured evidence, same instrument as the nomination:
        // re-trace the repointed workload and the join-feeding
        // exchange bytes are zero — no bucket candidate survives
        Files.deleteIfExists(Paths.get(tracePath))
        Seq("bq3", "bq4").foreach { label =>
          TraceCapture.setLabel(label)
          bucketed().write.format("noop").mode("overwrite").save()
          org.apache.spark.sql.GraftColumnBridge
            .drainListenerBus(spark, 10000L)
        }
        TraceCapture.clearLabel()
        val lines2 = readTrace(2)
        assert(lines2.size >= 2)
        assert(!Advisor.advise(lines2.iterator).exists(_.kind == "bucket"),
          "the bucketed workload must not re-nominate (its join " +
            "feeds on zero exchange bytes)")
        // and the plan shape agrees: no exchange below the join
        val df = bucketed()
        df.collect()
        val nodes = allPlanNodes(df.queryExecution.executedPlan)
        val joinIdx = nodes.indexWhere(
          _.isInstanceOf[org.apache.spark.sql.execution.joins
            .SortMergeJoinExec])
        assert(joinIdx >= 0, "expected a sort-merge join")
        val below = nodes.drop(joinIdx)
        assert(!below.exists(_.isInstanceOf[org.apache.spark.sql
          .execution.exchange.ShuffleExchangeExec]),
          "bucketed join must not shuffle its inputs")
      } finally tables.values.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("partitioning loop closes with measured evidence: trace a " +
      "workload of repeated pushed predicates, act on the " +
      "nomination, and the repointed scans PRUNE (numFiles/bytes " +
      "strictly drop, answers unchanged, no re-nomination)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-adv-part")
    val srcPath = dir.resolve("li_p").toString
    val outPath = dir.resolve("li_p_part").toString
    val tracePath = dir.resolve("t.jsonl").toString
    Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
      .repartition(4).write.parquet(srcPath)
    def workload(path: String) = Seq(
      () => spark.read.parquet(path)
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("l_linestatus"),
      () => spark.read.parquet(path)
        .filter(col("l_returnflag") === "A")
        .agg(count(lit(1)).as("n")))
    def readTrace(min: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < min && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(tracePath)))
          lines = Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        if (lines.size < min) Thread.sleep(50)
      }
      lines
    }
    def scanStats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      df.collect()
      val scans = allPlanNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      (scans.map(s => s.metrics("numFiles").value).sum,
        scans.map(s => s.metrics("filesSize").value).sum)
    }
    val expected = workload(srcPath).map(_().collect().toSeq)
    val (preFiles, preBytes) = scanStats(workload(srcPath).head())
    // flush the pre-install executions' end events: a straggler
    // landing after install would add an unlabeled line to the trace
    org.apache.spark.sql.GraftColumnBridge
      .drainListenerBus(spark, 10000L)
    val listener = TraceCapture.install(spark, tracePath)
    try {
      workload(srcPath).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"pq$i")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines = readTrace(2)
      assert(lines.size >= 2)
      val nom = Advisor.advise(lines.iterator).find(_.kind == "partition")
        .getOrElse(fail("no partitioning nomination from repeated " +
          s"pushed predicates: ${Advisor.advise(lines.iterator)}"))
      assert(nom.grain == Seq("l_returnflag"), nom.toString)
      assert(nom.value > 0, s"no measured scanned bytes: $nom")
      assert(nom.queries.size == 2, nom.toString)
      // ACT: rewrite Hive-partitioned on the nominated column
      val acted = Advisor.actOnPartitioning(spark, nom, outPath)
      // answers unchanged
      assert(workload(acted).map(_().collect().toSeq) == expected)
      // measured: the repointed scan reads strictly fewer files and
      // bytes (directory pruning), and the plan agrees
      val (postFiles, postBytes) = scanStats(workload(acted).head())
      assert(postFiles < preFiles && postBytes < preBytes,
        s"pruning must drop the scan: files $preFiles->$postFiles, " +
          s"bytes $preBytes->$postBytes")
      val df = workload(acted).head()
      df.collect()
      val pruned = allPlanNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.exists(_.partitionFilters.nonEmpty)
      assert(pruned, "expected a partition filter in the acted plan")
      // the repointed workload does not re-nominate: the predicate
      // is now a partition filter, the signal is gone
      Files.deleteIfExists(Paths.get(tracePath))
      workload(acted).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"pq${i + 2}")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines2 = readTrace(2)
      assert(lines2.size >= 2)
      assert(!Advisor.advise(lines2.iterator)
        .exists(f => f.kind == "partition" &&
          f.paths.exists(_.contains("li_p_part"))),
        "the partitioned workload must not re-nominate")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("sort-clustering loop closes with measured evidence: trace a " +
      "workload of repeated pushed RANGE predicates whose scan emits " +
      "far more rows than it keeps, act on the nomination, and the " +
      "clustered copy's scans SKIP row groups (scan-emitted rows " +
      "strictly drop, answers unchanged, no re-nomination)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-adv-sort")
    val srcPath = dir.resolve("li_s").toString
    val outPath = dir.resolve("li_s_sorted").toString
    val tracePath = dir.resolve("t.jsonl").toString
    // random scatter: every file's l_orderkey min/max spans the whole
    // domain, so row-group stats can never skip a pushed range
    Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .repartition(8).write.parquet(srcPath)
    val mm = spark.read.parquet(srcPath)
      .agg(min("l_orderkey"), max("l_orderkey")).collect()(0)
    val lo = mm.getLong(0)
    val hi = lo + (mm.getLong(1) - lo) / 20 // a ~5% slice
    def workload(path: String) = Seq(
      () => spark.read.parquet(path)
        .filter(col("l_orderkey") >= lo && col("l_orderkey") <= hi)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .orderBy("l_returnflag"),
      () => spark.read.parquet(path)
        .filter(col("l_orderkey") < hi)
        .agg(count(lit(1)).as("n")))
    def readTrace(min: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < min && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(tracePath)))
          lines = Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        if (lines.size < min) Thread.sleep(50)
      }
      lines
    }
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      allPlanNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
    }
    val expected = workload(srcPath).map(_().collect().toSeq)
    val preRows = scanRows(workload(srcPath).head())
    // flush the pre-install executions' end events: a straggler
    // landing after install would add an unlabeled line to the trace
    org.apache.spark.sql.GraftColumnBridge
      .drainListenerBus(spark, 10000L)
    val listener = TraceCapture.install(spark, tracePath)
    try {
      workload(srcPath).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"sq$i")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines = readTrace(2)
      assert(lines.size >= 2)
      val all = Advisor.advise(lines.iterator)
      val nom = all.find(_.kind == "sort-cluster")
        .getOrElse(fail("no sort-cluster nomination from repeated " +
          s"pushed range predicates: $all"))
      assert(nom.grain == Seq("l_orderkey"), nom.toString)
      assert(nom.value > 0, s"no measured unskipped rows: $nom")
      assert(Seq("sq0", "sq1").forall(nom.queries.contains),
        nom.toString)
      // a RANGE workload must NOT nominate Hive partitioning — a
      // directory per l_orderkey value is the layout anti-pattern
      assert(!all.exists(f => f.kind == "partition" &&
        f.paths.exists(_.contains("li_s"))), all.toString)
      // ACT: rewrite range-clustered on the nominated column
      val acted = Advisor.actOnSortClustering(spark, nom, outPath)
      // answers unchanged
      assert(workload(acted).map(_().collect().toSeq) == expected)
      // measured: the clustered copy's scan EMITS a fraction of the
      // rows (row-group min/max skipping), not the whole table
      val postRows = scanRows(workload(acted).head())
      assert(postRows * 2 < preRows,
        s"row-group skipping must drop the read: $preRows->$postRows")
      // the repointed workload does not re-nominate: the scan now
      // emits ≈ what the filter keeps, the signal is gone
      Files.deleteIfExists(Paths.get(tracePath))
      workload(acted).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"sq${i + 2}")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines2 = readTrace(2)
      assert(lines2.size >= 2)
      assert(!Advisor.advise(lines2.iterator)
        .exists(f => f.kind == "sort-cluster" &&
          f.paths.exists(_.contains("li_s_sorted"))),
        "the clustered workload must not re-nominate")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("z-order loop closes with measured evidence: two queries " +
      "pushing 2-D BOX predicates nominate zorder-cluster, acting " +
      "cuts the scan-emitted rows (both columns' stats tighten), " +
      "and the re-trace does not re-nominate") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-adv-zorder")
    val srcPath = dir.resolve("li_z").toString
    val outPath = dir.resolve("li_z_zorder").toString
    val tracePath = dir.resolve("t.jsonl").toString
    Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .repartition(8).write.parquet(srcPath)
    val mm = spark.read.parquet(srcPath).agg(
      min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).collect()(0)
    val (xlo, xhi) = (mm.getLong(0), mm.getLong(1))
    val (ylo, yhi) = (mm.getLong(2), mm.getLong(3))
    val xs = (xhi - xlo) / 5 // a 20% span per dimension
    val ys = (yhi - ylo) / 5
    def workload(path: String) = Seq(
      () => spark.read.parquet(path)
        .filter(col("l_orderkey") >= xlo &&
          col("l_orderkey") < xlo + xs &&
          col("l_partkey") >= ylo && col("l_partkey") < ylo + ys)
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq")),
      () => spark.read.parquet(path)
        .filter(col("l_orderkey") >= xlo + xs &&
          col("l_orderkey") < xlo + 2 * xs &&
          col("l_partkey") >= ylo + ys &&
          col("l_partkey") < ylo + 2 * ys)
        .agg(count(lit(1)).as("n")))
    def readTrace(min: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < min && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(tracePath)))
          lines = Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        if (lines.size < min) Thread.sleep(50)
      }
      lines
    }
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      allPlanNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
    }
    val expected = workload(srcPath).map(_().collect().toSeq)
    val preRows = scanRows(workload(srcPath).head())
    org.apache.spark.sql.GraftColumnBridge
      .drainListenerBus(spark, 10000L)
    val listener = TraceCapture.install(spark, tracePath)
    try {
      workload(srcPath).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"zq$i")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines = readTrace(2)
      assert(lines.size >= 2)
      val nom = Advisor.advise(lines.iterator)
        .find(_.kind == "zorder-cluster")
        .getOrElse(fail("no zorder nomination from repeated 2-D " +
          s"boxes: ${Advisor.advise(lines.iterator)}"))
      assert(nom.grain == Seq("l_orderkey", "l_partkey"), nom.toString)
      assert(Seq("zq0", "zq1").forall(nom.queries.contains),
        nom.toString)
      // ACT with an explicit 64-cell grid (skip granularity IS the
      // grid; the toy SF needs a finer one than size-derived)
      val acted = Advisor.actOnZorderClustering(spark, nom, outPath,
        files = 64)
      assert(workload(acted).map(_().collect().toSeq) == expected)
      val postRows = scanRows(workload(acted).head())
      assert(postRows * 2 < preRows,
        s"2-D stats skipping must drop the read: $preRows->$postRows")
      // convergence: the clustered copy does not re-nominate
      Files.deleteIfExists(Paths.get(tracePath))
      workload(acted).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"zq${i + 2}")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines2 = readTrace(2)
      assert(!Advisor.advise(lines2.iterator)
        .exists(f => f.kind == "zorder-cluster" &&
          f.paths.exists(_.contains("li_z_zorder"))),
        "the z-ordered workload must not re-nominate")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("compaction loop closes with measured evidence: a shattered " +
      "table nominates kind=compact, acting rewrites size-targeted " +
      "(scanned file count collapses, answers unchanged), and the " +
      "re-trace does not re-nominate") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-adv-compact")
    val srcPath = dir.resolve("li_c").toString
    val outPath = dir.resolve("li_c_compact").toString
    val tracePath = dir.resolve("t.jsonl").toString
    Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
      .repartition(64).write.parquet(srcPath) // the shatter
    def workload(path: String) = Seq(
      () => spark.read.parquet(path).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).orderBy("l_returnflag"),
      () => spark.read.parquet(path)
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq")))
    def readTrace(min: Int): Seq[String] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < min && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(tracePath)))
          lines = Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        if (lines.size < min) Thread.sleep(50)
      }
      lines
    }
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      allPlanNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val expected = workload(srcPath).map(_().collect().toSeq)
    assert(scanFiles(workload(srcPath).head()) == 64L)
    org.apache.spark.sql.GraftColumnBridge
      .drainListenerBus(spark, 10000L)
    val listener = TraceCapture.install(spark, tracePath)
    try {
      workload(srcPath).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"cq$i")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines = readTrace(2)
      assert(lines.size >= 2)
      val nom = Advisor.advise(lines.iterator).find(_.kind == "compact")
        .getOrElse(fail("no compaction nomination from a shattered " +
          s"scan: ${Advisor.advise(lines.iterator)}"))
      assert(nom.value == 64L &&
        Seq("cq0", "cq1").forall(nom.queries.contains), nom.toString)
      val acted = Advisor.actOnCompaction(spark, nom, outPath)
      assert(workload(acted).map(_().collect().toSeq) == expected)
      val postFiles = scanFiles(workload(acted).head())
      assert(postFiles < 16L,
        s"compaction must collapse the file count: 64 -> $postFiles")
      // the compacted copy sits below the shatter bar: no nomination
      Files.deleteIfExists(Paths.get(tracePath))
      workload(acted).zipWithIndex.foreach { case (q, i) =>
        TraceCapture.setLabel(s"cq${i + 2}")
        q().write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.GraftColumnBridge
          .drainListenerBus(spark, 10000L)
      }
      TraceCapture.clearLabel()
      val lines2 = readTrace(2)
      assert(!Advisor.advise(lines2.iterator)
        .exists(f => f.kind == "compact" &&
          f.paths.exists(_.contains("li_c_compact"))),
        "the compacted workload must not re-nominate")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("refreshDelta nomination: a traced compensated read with a " +
      "grown delta names the summary and the fold; acting on it " +
      "returns reads to summary-only") {
    import org.apache.spark.sql.functions._
    import graft.plans.Summaries
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-adv-refresh")
    val srcPath = dir.resolve("li_copy").toString
    val tracePath = dir.resolve("t.jsonl").toString
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
    // 60% base / 40% appended: the compensated delta is comfortably
    // past the nomination's 1/4-of-summary threshold (the summary is
    // a handful of grain rows; the delta is real data files)
    li.filter(col("l_orderkey") % 10 < 6).write.parquet(srcPath)
    val q = () => spark.read.parquet(srcPath)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
      .orderBy("l_returnflag", "l_linestatus")
    def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect() // finalize the adaptive plan
      allPlanNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    }
    val listener = TraceCapture.install(spark, tracePath)
    try {
      Summaries.create(spark.read.parquet(srcPath), "adv_refresh",
        grain = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("sq" -> "cast(l_quantity as decimal(18,2))"))
      li.filter(col("l_orderkey") % 10 >= 6)
        .write.mode("append").parquet(srcPath)
      Summaries.invalidate("adv_refresh")
      // two traced dashboard reads, both delta-compensated
      q().write.format("noop").mode("overwrite").save()
      q().write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftColumnBridge
        .drainListenerBus(spark, 10000L)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var lines = Seq.empty[String]
      while (lines.size < 2 && System.nanoTime() < deadline) {
        if (Files.exists(Paths.get(tracePath)))
          lines = Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        if (lines.size < 2) Thread.sleep(50)
      }
      assert(lines.size >= 2, s"expected 2 traced queries: $lines")
      val fs = Advisor.advise(lines.iterator)
      val nom = fs.filter(_.kind == "refresh")
      assert(nom.size == 1, s"expected one refresh nomination: $fs")
      assert(nom.head.op == "Summary adv_refresh", nom.toString)
      assert(nom.head.lever.contains(
        "Summaries.refreshDelta(\"adv_refresh\")"), nom.head.lever)
      // attribution is by OWNERSHIP, not plan position: a query that
      // scans the summary plus an UNRELATED raw table (a join with a
      // side table, say) must not turn that table's bytes into a
      // fabricated delta nomination
      val fakeLine =
        """{"event":"query","name":"qx","operators":[""" +
          """{"op":"Scan parquet","depth":1,"metrics":{"filesSize":1000},""" +
          s""""path":"file:$srcPath/../unrelated_table"},""" +
          """{"op":"Scan parquet","depth":2,"metrics":{"filesSize":100},""" +
          """"path":"file:/tmp/spark-warehouse/graft_summaries/""" +
          """adv_refresh__g0/part-0.parquet"},""" +
          """{"op":"Scan parquet","depth":3,""" +
          """"metrics":{"filesSize":999999},""" +
          """"path":"file:/tmp/some_other_table/part-1.parquet"}]}"""
      assert(!Advisor.advise(Iterator(fakeLine)).exists(_.kind == "refresh"),
        "unrelated raw-scan bytes must not nominate a fold")
      // act on the nomination: the fold returns reads to summary-only
      assert(Summaries.refreshDelta("adv_refresh").isDefined)
      val roots = scanRoots(q())
      assert(roots.nonEmpty &&
        roots.forall(_.contains("graft_summaries")),
        s"post-fold reads must be summary-only: $roots")
      // and a freshly-traced read no longer nominates
      Files.deleteIfExists(Paths.get(tracePath))
      q().write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftColumnBridge
        .drainListenerBus(spark, 10000L)
      val lines2 =
        if (Files.exists(Paths.get(tracePath)))
          Files.readAllLines(Paths.get(tracePath)).asScala.toSeq
        else Nil
      assert(!Advisor.advise(lines2.iterator).exists(_.kind == "refresh"),
        "a summary-only read must not nominate a fold")
    } finally {
      TraceCapture.uninstall(spark, listener)
      Summaries.drop("adv_refresh")
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
