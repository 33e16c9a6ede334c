package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, OlapQueries, Similarity, TextQueries}
import graft.sources.Tables

/** q64–q69: each distributed rewrite is proven against an independent
  * in-engine spelling (window / explode / self-join) on the same data,
  * plus plan-shape guards for the rewrites whose whole point is the
  * plan (no corpus-wide WindowExec, no per-row explode).
  */
class CorpusQueriesSpec extends SparkSpec {

  test("q64 unigram LM ≡ driver-side replica; probabilities are proper") {
    val got = TextQueries.unigramLogProb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // independent replica: plain Scala over the collected corpus
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val toks = texts.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty).toSeq }
    val counts = toks.flatMap(_._2).groupBy(identity).map {
      case (w, ws) => w -> ws.size.toLong }
    val total = counts.values.sum.toDouble
    val want = toks.filter(_._2.nonEmpty).map { case (id, ws) =>
      (id, ws.size.toLong,
        ws.map(w => math.log(counts(w) / total)).sum / ws.size)
    }.sortBy(_._1).toSeq
    assert(got.map(g => (g._1, g._2)) == want.map(w => (w._1, w._2)))
    got.zip(want).foreach { case (g, w) =>
      // g._3 is rounded to 4 decimals; the replica sums in a different
      // order, so allow the rounding step plus float slack
      assert(math.abs(g._3 - w._3) < 1.1e-4, s"doc ${g._1}: ${g._3} vs ${w._3}")
      assert(g._3 < 0) // log-probs are negative
    }
  }

  test("q65 length CDF ≡ the cume_dist window spelling, no WindowExec") {
    // the shard route (threshold −1): PrefixSum's per-shard window
    withoutBroadcast {
      val got = TextQueries.lengthCdf(spark, sf)
      val viaWindow = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("len_cdf",
          round(cume_dist().over(Window.orderBy("n_chars")), 4))
      assert(got.collect().map(_.toSeq).toSet ==
        viaWindow.collect().map(_.toSeq).toSet)
      // the rewrite's point: the corpus is never sorted through a
      // single-partition window — the only window left is PrefixSum's
      // per-shard cumsum, which must carry a partition spec
      got.collect() // finalize the adaptive plan before inspecting it
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case s: QueryStageExec => allNodes(s.plan)
        case _ => p.children.flatMap(allNodes)
      })
      val windows = allNodes(got.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected PrefixSum's per-shard window")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"un-partitioned WindowExec:\n${got.queryExecution.executedPlan}")
    }
  }

  test("q65 length CDF, broadcast route: no WindowExec at all") {
    val got = TextQueries.lengthCdf(spark, sf)
    val viaShards = withoutBroadcast(TextQueries.lengthCdf(spark, sf).collect())
    assert(got.collect().toSeq == viaShards.toSeq)
    val windows = allPlanNodes(got.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"the broadcast route still windows:\n${got.queryExecution.executedPlan}")
  }

  test("q171 perplexity buckets ≡ the global-window spelling, " +
      "no un-partitioned WindowExec, thirds within one") {
    val got = TextQueries.perplexityBuckets(spark, sf)
    // the spelling the sharded rank must reproduce: one global
    // row_number (fine in a TEST — it's exactly the operator shape the
    // production plan exists to avoid), same integer tertile
    val scored = TextQueries.unigramLogProb(spark, sf)
      .select("doc_id", "avg_logprob")
    val n = scored.count()
    val viaWindow = scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(desc("avg_logprob"), asc("doc_id"))))
      .filter((col("rnk") - 1) * 3 < lit(2L * n))
      .select(col("doc_id"), col("avg_logprob"),
        when((col("rnk") - 1) * 3 < lit(n), lit("head"))
          .otherwise(lit("middle")).as("ppl_bucket"))
    assert(got.collect().map(_.toSeq).toSet ==
      viaWindow.collect().map(_.toSeq).toSet)
    // bucket populations: head and middle each ⌈n/3⌉-or-⌊n/3⌋-sized,
    // and every head score ≥ every middle score (ranking sanity)
    val byBucket = got.collect().groupBy(_.getString(2))
    val h = byBucket.getOrElse("head", Array.empty)
    val m = byBucket.getOrElse("middle", Array.empty)
    assert(math.abs(h.length - m.length) <= 1)
    assert(h.length + m.length >= 2L * n / 3)
    if (h.nonEmpty && m.nonEmpty)
      assert(h.map(_.getDouble(1)).min >= m.map(_.getDouble(1)).max)
    // the production plan bans the corpus-wide sort: every WindowExec
    // carries a partition spec (the per-score row_number)
    got.collect() // finalize the adaptive plan before inspecting it
    val windows = allPlanNodes(got.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-score row_number window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"un-partitioned WindowExec:\n${got.queryExecution.executedPlan}")
  }

  test("q175 n-gram novelty ≡ driver-side replica; first doc fully novel") {
    val got = TextQueries.ngramNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replica: plain Scala over the collected corpus,
    // same shingling convention (distinct 3-grams, whole-text under 3)
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set(t)
    }
    val firstDoc = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (id, t) =>
      shingles(t).foreach(g =>
        if (!firstDoc.contains(g)) firstDoc(g) = id)
    }
    val want = docs.map { case (id, t) =>
      val sh = shingles(t)
      val novel = sh.count(g => firstDoc(g) == id).toLong
      val n = sh.size.toLong
      (id, n, novel, (2 * 10000 * novel + n) / (2 * n))
    }.toSeq
    assert(got.toSeq == want)
    // the lowest doc_id introduces everything it contains
    assert(got.head._4 == 10000L)
    assert(got.forall(g => g._4 >= 0L && g._4 <= 10000L))
  }

  test("q176 vocab growth ≡ the window spelling; monotone; " +
      "no un-partitioned WindowExec") {
    // the shard route (threshold −1): PrefixSum's per-shard window
    withoutBroadcast {
      val got = TextQueries.vocabGrowth(spark, sf)
      val firstDay = Tables.load(spark, sf, "documents")
        .select(expr("doc_id div 100").as("day"),
          explode(Dedup.wordShingles(col("text"))).as("w"))
        .groupBy("w").agg(min("day").as("day"))
      val viaWindow = firstDay.groupBy("day")
        .agg(count(lit(1)).as("new_terms"))
        .withColumn("cum_vocab",
          sum("new_terms").over(Window.orderBy("day")))
      assert(got.collect().map(_.toSeq).toSet ==
        viaWindow.collect().map(_.toSeq).toSet)
      // the curve GROWS (multiple batches introduce grams — the reason
      // this is gram- not word-grain) and ends at the full vocabulary
      val rows = got.collect()
      assert(rows.length > 1, "degenerate curve: one batch owns all grams")
      assert(rows.map(_.getLong(2)).toSeq ==
        rows.map(_.getLong(2)).sorted.toSeq)
      assert(rows.last.getLong(2) == firstDay.count())
      got.collect() // finalize the adaptive plan before inspecting it
      val windows = allPlanNodes(got.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
    }
  }

  test("q176 vocab growth, broadcast route: no WindowExec at all") {
    val got = TextQueries.vocabGrowth(spark, sf)
    val viaShards =
      withoutBroadcast(TextQueries.vocabGrowth(spark, sf).collect())
    assert(got.collect().toSeq == viaShards.toSeq)
    val windows = allPlanNodes(got.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"the broadcast route still windows:\n${got.queryExecution.executedPlan}")
  }

  test("q66 repetition stats ≡ the explode + groupBy spelling") {
    val got = TextQueries.repetitionStats(spark, sf)
    val ws = split(col("text"), " ")
    val grams = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array(col("text")))
    val docs = Tables.load(spark, sf, "documents")
    val mode = docs
      .select(col("doc_id"), explode(grams).as("gm"))
      .groupBy("doc_id", "gm").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("mx"), sum("c").as("tot"))
    val want = docs.join(mode, Seq("doc_id"))
      .select(col("doc_id"),
        round(col("mx").cast("double") / col("tot"), 4)
          .as("top_bigram_frac"),
        round(lit(1.0) -
          size(array_distinct(ws)).cast("double") / size(ws), 4)
          .as("dup_token_frac"))
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
    // kernel form: no explode, no aggregation exchange — one scan into
    // the final sort
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"explode crept back in:\n$plan")
    assert(!plan.contains("HashAggregate"), s"aggregate crept in:\n$plan")
  }

  test("q66 bigram_mode_count kernel: edge cases and SQL registration") {
    import spark.implicits._
    val got = Seq(
      "a b a b a",        // bigrams: "a b"×2, "b a"×2 → mode 2
      "x x x x",          // "x x"×3 → 3
      "lone",             // <2 tokens → whole-text gram, 1
      "",                 // split("") = [""] → 1
      "a  b",             // empty middle token: "a " and " b" each once
      "a b c")            // all distinct → 1
      .toDF("text")
      .select(graft.functions.TextKernels.bigram_mode_count(col("text")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L, 1L, 1L, 1L, 1L))
    val viaSql = spark.sql("SELECT bigram_mode_count('a b a b a')")
      .collect()(0).getLong(0)
    assert(viaSql == 2L)
    // NULL in → NULL out (the oracle mirrors this with an explicit
    // CASE — DuckDB's unnest([NULL]) path would otherwise emit 1.0)
    assert(spark.sql("SELECT bigram_mode_count(CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
  }

  test("q67 incremental dedup: only new-source docs, none content-known") {
    val got = Dedup.incrementalDedup(spark, sf)
    val rows = got.collect()
    val existingSrcs = (0 to 9).map(i => s"src$i").toSet
    assert(rows.forall(r => !existingSrcs.contains(r.getString(1))))
    // independent spelling: anti-join on raw text, not its hash
    val docs = Tables.load(spark, sf, "documents")
    val existingTexts = docs
      .filter(col("source").isin(existingSrcs.toSeq: _*))
      .select(col("text")).distinct()
    val want = docs
      .filter(!col("source").isin(existingSrcs.toSeq: _*))
      .join(existingTexts, Seq("text"), "left_anti")
      .select("doc_id", "source", "lang", "n_chars")
    assert(rows.map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("q68 trailing-hour window ≡ the per-user self-join spelling") {
    val got = OlapQueries.timeWindowAvg(spark, sf)
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val hourUs = 3600L * 1000000
    val want = ev.as("a").join(ev.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("b.ts_us") >= col("a.ts_us") - hourUs &&
        col("b.ts_us") <= col("a.ts_us"))
      .groupBy(col("a.event_id").as("event_id"),
        col("a.user_id").as("user_id"), col("a.ts_us").as("ts_us"))
      .agg(count(lit(1)).as("n_1h"), avg(col("b.value")).as("avg_raw"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSeq
      .sortBy(_._1)
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5))).toSeq
    assert(gotRows.map(g => (g._1, g._2)) == want.map(w => (w._1, w._2)))
    gotRows.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) < 1.1e-4, s"event ${g._1}")
    }
  }

  test("q69 pivot ≡ filtered counts; declared values, zero-filled, dense") {
    val got = OlapQueries.pivotEventCounts(spark, sf)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wantDf = Tables.load(spark, sf, "events")
      .groupBy("user_id")
      .agg(count(when(col("event_type") === types.head, 1))
          .as(s"n_${types.head}"),
        types.tail.map(t =>
          count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
    assert(got.collect().map(_.toSeq).toSet ==
      wantDf.collect().map(_.toSeq).toSet)
    // no NULL cells: absent combinations are zero-filled
    val row = got.filter(col("n_click").isNull || col("n_error").isNull ||
      col("n_purchase").isNull || col("n_signup").isNull ||
      col("n_view").isNull)
    assert(row.count() == 0)
  }

  test("q70 dup spans ≡ the raw-span-text spelling; spans truly shared") {
    val n = 8
    val got = Dedup.dupSpans(spark, sf, n)
    // independent spelling: group on the span STRING, not its sha2
    val ws = split(col("text"), " ")
    val grams = when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ",
          (0 until n).map(k => element_at(ws, i + k + 1)): _*)))
      .otherwise(array(col("text")))
    val spans = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), posexplode(grams).as(Seq("pos", "span")))
    val dupSpansText = spans.groupBy("span")
      .agg(count_distinct(col("doc_id")).as("nd")).filter(col("nd") >= 2)
      .select("span")
    val want = spans.join(dupSpansText, Seq("span"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
    // every reported span's text occurs in at least two distinct docs
    val check = got.join(spans.withColumn("pos", col("pos").cast("long")),
        Seq("doc_id", "pos"))
      .join(spans.groupBy("span")
        .agg(count_distinct(col("doc_id")).as("nd")), Seq("span"))
      .filter(col("nd") < 2)
    assert(check.count() == 0)
  }

  test("q71 hashed TF-IDF: weights recompute from q54's tf and corpus df") {
    val got = TextQueries.hashedTfIdf(spark, sf)
    val tf = TextQueries.hashedTf(spark, sf)
    // same (doc, bucket, tf) triples as q54
    assert(got.select("doc_id", "bucket", "tf").collect().map(_.toSeq).toSet
      == tf.collect().map(_.toSeq).toSet)
    // weight identity, df and N recomputed independently via a window
    val nDocs = Tables.load(spark, sf, "documents").count().toDouble
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val want = tf.withColumn("df", count(lit(1)).over(wdf))
      .select(col("doc_id"), col("bucket"), col("tf"),
        round(col("tf") * log(lit(nDocs) / col("df")), 4).as("tfidf"))
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
    // a bucket present in every document weighs ~0 iff df == N; all
    // weights are non-negative (df ≤ N always)
    assert(got.filter(col("tfidf") < 0).count() == 0)
  }

  test("q72 centroids ≡ unnest-and-regroup; corpus aggregates un-exploded") {
    val got = Similarity.labelCentroids(spark, sf)
    val want = Tables.load(spark, sf, "embeddings")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(avg("v").as("value"), count(lit(1)).as("n_vecs"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1).toLong) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val rows = got.collect()
    assert(rows.length == want.size)
    rows.foreach { r =>
      val (wVal, wN) = want((r.getInt(0), r.getLong(1)))
      // Summarizer and the explode spelling sum in different orders;
      // r's value is rounded to 4 decimals
      assert(math.abs(r.getDouble(2) - wVal) < 1.1e-4,
        s"label ${r.getInt(0)} dim ${r.getLong(1)}")
      assert(r.getLong(3) == wN)
    }
    // the plan's point: the explode sits ABOVE the aggregation — the
    // corpus shuffles O(dim) centroid states, never dim× its rows
    val plan = got.queryExecution.executedPlan.toString
    val gen = plan.indexOf("Generate")
    val agg = plan.indexOf("ObjectHashAggregate")
    assert(gen >= 0 && agg >= 0 && gen < agg,
      s"explode must follow aggregation:\n$plan")
  }

  test("q73 interleave: round-robin by source, priority-ordered, total") {
    val got = operators.Pipeline.interleaveBySource(spark, sf)
    val rows = got.collect()
    val docs = Tables.load(spark, sf, "documents")
    assert(rows.length == docs.count()) // every doc placed exactly once
    assert(rows.map(_.getLong(2)).distinct.length == rows.length)
    val srcs = rows.map(_.getString(1)).distinct.sorted
    val idx = srcs.zipWithIndex.toMap
    // alternation contract: position mod nSources recovers the source
    rows.foreach(r => assert(
      r.getLong(2) % srcs.length == idx(r.getString(1)),
      s"doc ${r.getLong(0)} pos ${r.getLong(2)} src ${r.getString(1)}"))
    // within a source, epoch order == the portable hash-priority order
    val prio = (id: Long) => ((id % 1000000007L) *
      operators.Pipeline.KnuthMult) % 1000000007L
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val byPos = rs.sortBy(_.getLong(2)).map(r => prio(r.getLong(0)))
      assert(byPos.zip(byPos.tail).forall { case (a, b) => a <= b })
    }
  }

  test("q75 vocab index ≡ global-window rank; ids dense, no global window") {
    val got = TextQueries.vocabIndex(spark, sf)
    val rows = got.collect()
    // dense 1..|V| ids, ordered by (freq desc, term asc)
    assert(rows.map(_.getLong(1)).toSeq == (1L to rows.length).toSeq)
    val byRank = rows.map(r => (r.getLong(2), r.getString(0)))
    byRank.zip(byRank.tail).foreach { case ((f1, t1), (f2, t2)) =>
      assert(f1 > f2 || (f1 == f2 && t1 < t2), s"($f1,$t1) !< ($f2,$t2)")
    }
    // ≡ the corpus-wide window spelling it exists to avoid
    val counts = Tables.load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val viaWindow = counts
      .withColumn("term_id",
        row_number().over(Window.orderBy(desc("freq"), asc("term")))
          .cast("long"))
      .select("term", "term_id", "freq")
    assert(rows.map(_.toSeq).toSet == viaWindow.collect().map(_.toSeq).toSet)
    // every WindowExec in the sharded plan carries a partition spec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case s: QueryStageExec => allNodes(s.plan)
      case _ => p.children.flatMap(allNodes)
    })
    val windows = allNodes(got.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-(freq, letter) window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"un-partitioned WindowExec:\n${got.queryExecution.executedPlan}")
  }

  test("q76 token ids: alignment, vocab consistency, original positions") {
    val got = TextQueries.encodeTokens(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vocab = TextQueries.vocabIndex(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // exact expected triples: original-array positions, empties skipped
    val want = texts.toSeq.flatMap { case (id, t) =>
      t.split(" ", -1).zipWithIndex.collect {
        case (w, i) if w.nonEmpty => (id, i.toLong, vocab(w))
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want)
  }
}
