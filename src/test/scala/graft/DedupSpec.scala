package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Dedup}
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  test("wordShingles: count and order-sensitivity") {
    import spark.implicits._
    val df = Seq("a b c d e", "e d c b a", "x y").toDF("text")
    val sh = df.select(Dedup.wordShingles(col("text")).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("a b c", "b c d", "c d e"))
    assert(sh(1) == Seq("e d c", "d c b", "c b a")) // order matters
    assert(sh(2) == Seq("x y")) // short-doc guard
  }

  test("word_ngram_phashes: portable fold matches a plain-Scala replica") {
    import spark.implicits._
    val P = Dedup.PortableP
    def fold(s: String, base: Long): Long =
      s.foldLeft(0L)((a, c) => (a * base + c.toInt) % P)
    val texts = Seq("the cat sat on the mat", "x y", "", "one two three")
    val got = texts.toDF("text")
      .select(Dedup.shinglePHashes(col("text")).as("h"),
        Dedup.shinglePHashes(col("text"), wide = true).as("hw"))
      .collect()
    texts.zip(got).foreach { case (t, row) =>
      val grams = {
        val ws = t.split(" ", -1)
        if (ws.length < 3) Seq(t)
        else (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" "))
      }
      val narrow = grams.map(g => fold(g, 31L)).distinct
      val wide = grams.map(g => (fold(g, 31L) << 30) + fold(g, 37L)).distinct
      assert(row.getSeq[Long](0) == narrow, s"narrow for '$t'")
      assert(row.getSeq[Long](1) == wide, s"wide for '$t'")
    }
  }

  test("minhash_signature_portable: matches the naive affine family") {
    import spark.implicits._
    val P = Dedup.PortableP
    val M = Dedup.PortableM
    val hs = Seq(7L, 123456789L, 999999999L, 0L)
    val sig = Seq(hs).toDF("h")
      .select(graft.functions.VectorMath
        .minhash_signature_portable(col("h"), Dedup.NumHashes).as("s"))
      .collect()(0).getSeq[Long](0)
    val expect = (0 until Dedup.NumHashes).map { i =>
      hs.map(h => ((2L * i + 1) * h + (i * M) % P) % P).min
    }
    assert(sig == expect)
  }

  test("intersect_count_at_least: property — bound never changes the answer") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters, Passed}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val arrGen = Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted)
    val prop = Prop.forAll(arrGen, arrGen, Gen.choose(0L, 20L)) {
      (a: List[Long], b: List[Long], req: Long) =>
        val exact = a.toSet.intersect(b.toSet).size.toLong
        val lit = (x: List[Long]) => Literal.create(x, ArrayType(LongType))
        val got = graft.functions.IntersectCountAtLeast(
          lit(a), lit(b), Literal(req)).eval(null).asInstanceOf[Long]
        if (exact >= req) got == exact else got == -1L
    }
    val res = check(Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.status == Passed, res.status.toString)
  }

  test("intersect_count_at_least: exact when reachable, -1 only below bound") {
    import spark.implicits._
    import graft.functions.VectorMath.{intersect_count_at_least, intersect_count_sorted}
    // every (pair, required) cell: sorted-distinct arrays of varied
    // overlap, required swept past the true intersection size
    val pairs = Seq(
      (Seq(1L, 2L, 3L, 4L, 5L), Seq(3L, 4L, 5L, 6L, 7L)), // inter 3
      (Seq(1L, 2L, 3L), Seq(10L, 20L, 30L)), // disjoint
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), // identical
      (Seq.empty[Long], Seq(1L, 2L)), // empty side
      (Seq(1L, 5L, 9L, 13L), Seq(2L, 5L, 9L, 14L, 15L))) // inter 2
    val df = pairs.toDF("a", "b")
    (0L to 5L).foreach { req =>
      val rows = df.select(
        intersect_count_sorted(col("a"), col("b")).as("exact"),
        intersect_count_at_least(col("a"), col("b"), lit(req)).as("bounded"))
        .collect()
      rows.foreach { r =>
        val (exact, bounded) = (r.getLong(0), r.getLong(1))
        if (exact >= req) assert(bounded == exact,
          s"req=$req: bounded=$bounded should equal exact=$exact")
        else assert(bounded == -1L,
          s"req=$req: bounded=$bounded should be -1 (exact=$exact)")
      }
    }
  }

  test("word_ngram_hashes kernel equals the composable shingle pipeline") {
    val docs = Tables.load(spark, sf, "documents")
    val diff = docs.select(
        graft.functions.VectorMath.word_ngram_hashes(col("text"), 3)
          .as("fast"),
        graft.functions.VectorMath.xxhash64_array(
          Dedup.wordShingles(col("text"), 3)).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() == 0)
  }

  test("exactDedup keeps one row per distinct text") {
    val docs = Tables.load(spark, sf, "documents")
    val nDistinct = docs.select("text").distinct().count()
    val dedup = Dedup.exactDedup(spark, sf)
    assert(dedup.count() == nDistinct)
    assert(dedup.agg(sum("n_copies")).collect()(0).getLong(0) == docs.count())
  }

  /** Ground truth: all pairs with exact shingle jaccard >= t (O(n²),
    * test-scale only).
    */
  private def bruteForcePairs(t: Double): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), Dedup.wordShingles(col("text")).as("sh"))
    docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= t)
  }

  test("minhashPairs recall: finds every true pair >= 0.8 jaccard") {
    val truth = bruteForcePairs(0.8).select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(spark, sf).select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
    // verification step filters to >= 0.8, so found ⊆ truth always
    assert(found.subsetOf(truth))
    // LSH at b=12,r=6 catches j>=0.8 with p≈0.97 per pair (and
    // >0.9999 at j>=0.9, where the planted near-dups live)
    assert(found == truth,
      s"missed ${truth -- found}, extra ${found -- truth}")
  }

  /** Run `f` on the default route — at these sizes `prefixFrame`
    * broadcasts its df index — and again under [[withoutBroadcast]],
    * where it explodes, joins and regroups; both must give the same
    * value, which is returned.
    */
  private def onBothRoutes[T](f: => T): T = {
    val viaBroadcast = f
    val viaShuffle = withoutBroadcast(f)
    assert(viaBroadcast == viaShuffle,
      s"the two prefix routes differ:\n$viaBroadcast\n$viaShuffle")
    viaBroadcast
  }

  /** A state's prefix index as a comparable (schema, sorted rows). */
  private def prefixIndex(s: Dedup.NearDupState) = (s.prefix.schema,
    s.prefix.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq)

  /** A state's df table as a comparable (schema, sorted rows), checked
    * against the row count the state carries.
    */
  private def dfIndex(s: Dedup.NearDupState) = {
    val rows = dfRows(s.dfreq)
    assert(rows.size == s.dfRows, s"dfRows ${s.dfRows}, table ${rows.size}")
    (s.dfreq.schema, rows)
  }

  private def dfRows(dfreq: DataFrame): Seq[(Long, Long)] =
    dfreq.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private def pairSet(q: DataFrame): Set[(Long, Long)] =
    q.select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("prefixJaccardPairs ≡ blocking-free brute force, equality-join plan") {
    val truth = bruteForcePairs(0.8).select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = onBothRoutes {
      val q = Dedup.prefixJaccardPairs(spark, sf)
      val found = pairSet(q)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      found
    }
    // prefix filtering is exact (not probabilistic): the df-ordered
    // prefix lemma guarantees every j≥τ pair shares a prefix token
    assert(found == truth,
      s"missed ${truth -- found}, extra ${found -- truth}")
  }

  test("incrementalNearDupPairs ≡ brute force restricted to batch-touching pairs") {
    val truth = bruteForcePairs(0.8)
      .filter(col("ai") % 5 === 0 || col("bi") % 5 === 0)
      .select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = onBothRoutes {
      val q = Dedup.incrementalNearDupPairs(spark, sf)
      val found = pairSet(q)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      found
    }
    // the merge is EXACT (prefix filter under the stale-df order is
    // still complete), so this is equality, not recall
    assert(found == truth,
      s"missed ${truth -- found}, extra ${found -- truth}")
    assert(truth.nonEmpty, "batch should touch planted near-dups")
  }

  test("mergeNearDups: day-2 cost — corpus text is never re-shingled") {
    onBothRoutes(dayTwoCost())
  }

  private def dayTwoCost() = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("corpus-text-rows")
    val corpus = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { t => acc.add(1L); t }.toDF("doc_id", "text")
    val state = Dedup.nearDupState(corpus) // eager: consumes corpus once
    val readsDuringBuild = acc.value
    assert(readsDuringBuild > 0L, "instrumentation never fired")
    val batch = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val merged = pairSet(Dedup.mergeNearDups(state, batch))
    assert(acc.value == readsDuringBuild,
      s"merge re-read ${acc.value - readsDuringBuild} corpus text rows")
    assert(merged.nonEmpty)
    (merged, prefixIndex(state), dfIndex(state))
  }

  test("mergeNearDups finds pairs whose shingles are absent from the corpus df table") {
    import spark.implicits._
    // corpus vocabulary is disjoint from the batch's: every batch
    // shingle ranks df = 0 (the stale-df novel-token path), and the
    // within-batch near-dup must still surface
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "red green blue cyan magenta yellow black white"),
      (15L, "red green blue cyan magenta yellow black grey"),
      (20L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val (got, _, _) = onBothRoutes {
      val state = Dedup.nearDupState(corpus, threshold = 0.5)
      (pairSet(Dedup.mergeNearDups(state, batch)), prefixIndex(state),
        dfIndex(state))
    }
    // docs 10/15 share 5 of their 6+6 trigram shingles: j = 5/7 ≈ 0.714
    assert(got == Set((10L, 15L)), got.toString)
  }

  test("multiDayNearDupPairs ≡ one-shot brute force over the whole corpus") {
    val truth = bruteForcePairs(0.8)
      .select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = onBothRoutes {
      val q = Dedup.multiDayNearDupPairs(spark, sf)
      val found = pairSet(q)
      // exactly once: the materialized frame has no duplicate pairs
      assert(q.select("ai", "bi").count() == found.size)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      found
    }
    // each pair is found exactly once, on the day its later-arriving
    // endpoint lands — the union over days is the one-shot answer
    assert(found == truth,
      s"missed ${truth -- found}, extra ${found -- truth}")
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
  }

  test("mergeAndAbsorb: no day re-reads any earlier day's text") {
    onBothRoutes(noReread())
  }

  private def noReread() = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("seen-text-rows")
    // instrument EVERY wave's text: each doc's text may be read during
    // its own day's shingling only
    def wave(w: Int): DataFrame = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 3 === w)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].map { t => acc.add(1L); t }
      .toDF("doc_id", "text")
    val n0 = wave(0).count(); val n1 = wave(1).count()
    val n2 = wave(2).count(); acc.reset()
    var state = Dedup.nearDupState(wave(0))
    assert(acc.value == n0, s"day 0 read ${acc.value}, expected $n0")
    val (p1, s1) = Dedup.mergeAndAbsorb(state, wave(1)); state = s1
    p1.collect()
    assert(acc.value == n0 + n1,
      s"day 1 re-read earlier text: ${acc.value - n0 - n1} extra rows")
    val (p2, s2) = Dedup.mergeAndAbsorb(state, wave(2))
    val got = (pairSet(p1), pairSet(p2))
    assert(acc.value == n0 + n1 + n2,
      s"day 2 re-read earlier text: ${acc.value - n0 - n1 - n2} extra rows")
    (got, prefixIndex(s2), dfIndex(s2))
  }

  test("mergeAndAbsorb: pinned-df ordering still finds dups between two later waves") {
    import spark.implicits._
    // day-0 vocabulary is disjoint from everything after it, so every
    // later shingle ranks df = 0 under the PINNED ordering; a near-dup
    // pair split across day 1 and day 2 must still surface (the day-2
    // batch×state join against day 1's absorbed prefix rows)
    val day0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val day1 = Seq(
      (10L, "red green blue cyan magenta yellow black white")
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (20L, "red green blue cyan magenta yellow black grey"),
      (21L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val (got, _, _) = onBothRoutes {
      val state = Dedup.nearDupState(day0, threshold = 0.5)
      val (p1, s1) = Dedup.mergeAndAbsorb(state, day1)
      assert(p1.count() == 0)
      val (p2, s2) = Dedup.mergeAndAbsorb(s1, day2)
      (pairSet(p2), prefixIndex(s2), dfIndex(s2))
    }
    assert(got == Set((10L, 20L)), got.toString)
  }

  test("keepBestCuration: exactly one kept per cluster, and it is the quality argmax") {
    val rows = Dedup.keepBestCuration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty, "corpus should contain planted near-dups")
    rows.groupBy(_._2).foreach { case (rep, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $rep kept ${kept.length} docs")
      // the keeper dominates every member on (quality desc, doc_id asc)
      val k = kept.head
      members.foreach { m =>
        assert(m._3 < k._3 || (m._3 == k._3 && m._1 >= k._1),
          s"cluster $rep: member $m beats keeper $k")
      }
    }
    // cross-check against the min-id decision table: same clusters
    val minId = Dedup.dedupDecisionsExact(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == minId)
  }

  test("mergeAndAbsorb: re-ingesting stored ids is idempotent (no self-pairs, no duplicate state)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    // a crawler retry re-delivers doc 1 alongside a genuinely new doc
    val retry = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("doc_id", "text")
    val (got, _, _) = onBothRoutes {
      val state = Dedup.nearDupState(corpus, threshold = 0.5)
      val (pairs, next) = Dedup.mergeAndAbsorb(state, retry)
      assert(pairs.count() == 2)
      assert(next.docs.count() == 3) // 1 absorbed once, not twice
      assert(next.docs.select("doc_id").distinct().count() == 3)
      (pairSet(pairs), prefixIndex(next), dfIndex(next))
    }
    // doc 1 is already stored: no (1,1) self-pair, no duplicate rows —
    // only the new doc's pairs surface
    assert(got == Set((1L, 3L), (2L, 3L)), got.toString)
  }

  test("mergeAndAbsorb: an empty batch is a no-op day") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val day2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("doc_id", "text")
    val (got, _, _) = onBothRoutes {
      val state = Dedup.nearDupState(corpus, threshold = 0.5)
      val (pairs, next) = Dedup.mergeAndAbsorb(state, empty)
      assert(pairs.count() == 0)
      // state passes through structurally: same docs, same index rows
      assert(next.docs.count() == state.docs.count())
      assert(prefixIndex(next) == prefixIndex(state))
      // and tomorrow still works against it
      val (p2, s2) = Dedup.mergeAndAbsorb(next, day2)
      (pairSet(p2), prefixIndex(s2), dfIndex(s2))
    }
    assert(got == Set((1L, 3L), (2L, 3L)), got.toString)
  }

  test("jaccardTopK: probes without any qualifying neighbor emit no rows") {
    // doc 20 shares no shingle with anything — it must simply be
    // absent, not emit a below-floor or null-scored row
    import spark.implicits._
    val docs = Seq(
      (10L, "red green blue cyan magenta yellow black white"),
      (15L, "red green blue cyan magenta yellow black grey"),
      (20L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    // jaccardTopK reads from a table dir; exercise its core directly:
    // the state + self candidate/verify + bounded ranking path
    val state = Dedup.nearDupState(docs, threshold = 0.1)
    val scored = Dedup.selfPairs(state)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(scored.toSet == Set((10L, 15L)))
  }

  test("recutState: compaction re-reads no text, refreshes df, and preserves answers") {
    onBothRoutes(compaction())
  }

  private def compaction() = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("text-rows")
    def waved(w: Int): DataFrame = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 3 === w)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].map { t => acc.add(1L); t }
      .toDF("doc_id", "text")
    var state = Dedup.nearDupState(waved(0))
    state = Dedup.mergeAndAbsorb(state, waved(1))._2
    state = Dedup.mergeAndAbsorb(state, waved(2))._2
    val before = Dedup.selfPairs(state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val reads = acc.value
    val recut = Dedup.recutState(state)
    assert(acc.value == reads, "compaction re-read corpus text")
    // the fresh ordering counts wave-1/2 tokens the pinned one scored
    // df = 0: some token's df must have changed
    val changed = recut.dfreq.as("n").join(state.dfreq.as("o"),
        col("n.h") === col("o.h") && col("n.df") =!= col("o.df"))
      .count()
    assert(changed > 0, "recut df identical to the pinned bootstrap df")
    // both orderings are complete: identical answers
    val after = Dedup.selfPairs(recut).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before)
    assert(before.nonEmpty)
    (after, prefixIndex(state), prefixIndex(recut), dfIndex(state),
      dfIndex(recut))
  }

  test("prefixFrame: novel shingles rank df = 0, df ties break on h") {
    import spark.implicits._
    // the pinned df table never saw 9; 2, 3, 5 and −7 tie at df 3
    val dfreq = Seq((1L, 5L), (2L, 3L), (3L, 3L), (4L, 1L), (5L, 3L),
      (-7L, 3L)).toDF("h", "df")
    val docs = Seq(
      (1L, Seq(1L, 2L, 3L, 4L, 9L)), // cut 3: 9 (df 0), 4, then 2 < 3
      (2L, Seq(2L, 3L, 5L)),         // cut 2 inside the tie: 2, 3
      (3L, Seq(-7L, 2L, 3L)))        // signed order: −7 first
      .toDF("doc_id", "hss").withColumn("sz", size(col("hss")))
    val got = onBothRoutes {
      val p = Dedup.prefixFrame(docs, dfreq, 6L, 0.5 - 1e-4)
      (p.schema, p.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq)
    }
    assert(got._2 == Seq((1L, 5, 2L), (1L, 5, 4L), (1L, 5, 9L),
      (2L, 3, 2L), (2L, 3, 3L), (3L, 3, -7L), (3L, 3, 2L)), got.toString)
  }

  test("prefixFrame: null and empty text, and a whole-array short prefix") {
    import spark.implicits._
    val corpus = Seq[(Long, String)](
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, null), (3L, ""), (4L, "red green blue cyan"))
      .toDF("doc_id", "text")
    val ((_, rows), _) = onBothRoutes {
      val state = Dedup.nearDupState(corpus, threshold = 0.1)
      (prefixIndex(state), dfIndex(state))
    }
    val byDoc = rows.groupBy(_._1)
    assert(!byDoc.contains(2L), "a null text has no shingles to index")
    // at threshold 0.1 a doc of ≤ 10 shingles keeps all of them
    assert(byDoc(1L).map(_._3).size == 6 && byDoc(4L).map(_._3).size == 2,
      rows.toString)
    byDoc.values.foreach(ts => assert(ts.size == ts.head._2, rows.toString))
  }

  /** [[Dedup.docFrequencies]] of `docs`, as (schema, sorted rows), and
    * whether it took the driver route (a local relation).
    */
  private def dfTable(docs: DataFrame) = {
    val (dfreq, n) = Dedup.docFrequencies(docs)
    val rows = dfRows(dfreq)
    assert(rows.size == n, s"count $n, table ${rows.size}")
    ((dfreq.schema, rows), onDriver(dfreq))
  }

  private def onDriver(dfreq: DataFrame): Boolean =
    dfreq.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** `docs`' df table on the driver route and on the aggregate route:
    * equal rows under an identical schema, returned.
    */
  private def dfBothRoutes(docs: DataFrame) = {
    val (viaDriver, driven) = dfTable(docs)
    val (viaAggregate, aggregated) = withoutBroadcast(dfTable(docs))
    assert(driven && !aggregated, s"routes: driver $driven, aggregate $aggregated")
    assert(viaDriver == viaAggregate,
      s"the two df routes differ:\n$viaDriver\n$viaAggregate")
    viaDriver
  }

  test("docFrequencies: a hash repeated in one array counts as explode counts it") {
    import spark.implicits._
    val docs = Seq((1L, Seq(5L, 5L, 7L)), (2L, Seq(5L, -3L)), (3L, Seq.empty[Long]))
      .toDF("doc_id", "hss").withColumn("sz", size(col("hss")))
    val (_, rows) = dfBothRoutes(docs)
    assert(rows == Seq((-3L, 1L), (5L, 3L), (7L, 1L)), rows.toString)
  }

  test("docFrequencies: null and empty text, and an empty corpus") {
    import spark.implicits._
    val corpus = Seq[(Long, String)](
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, null), (3L, ""), (4L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val (schema, rows) = dfBothRoutes(Dedup.shingledDocs(corpus))
    val truth = dfRows(Dedup.shingledDocs(corpus)
      .select(explode(col("hss")).as("h")).groupBy("h").count())
    assert(rows == truth && rows.exists(_._2 == 2L), rows.toString)
    val (emptySchema, none) = dfBothRoutes(
      Dedup.shingledDocs(Seq.empty[(Long, String)].toDF("doc_id", "text")))
    assert(none.isEmpty && emptySchema == schema)
  }

  test("docFrequencies: a task over its share overflows to the aggregate route") {
    val docs = Dedup.shingledDocs(Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))).coalesce(1).localCheckpoint(true)
    val (full, driven) = dfTable(docs)
    assert(driven, "the default threshold should count on the driver")
    val n = full._2.size.toLong
    // one partition: its share is the whole bound, so the task passes
    // it part-way through the partition
    val (over, overDriven) = withBroadcastThreshold(16L * (n / 2))(dfTable(docs))
    assert(!overDriven, "a task past its share still counted on the driver")
    assert(over == full, "the overflow route counts differently")
    // a bound that fits the table exactly stays on the driver
    val (exact, exactDriven) = withBroadcastThreshold(16L * n)(dfTable(docs))
    assert(exactDriven && exact == full)
    assert(withoutBroadcast(dfTable(docs))._1 == full)
  }

  test("prefixFrame: gates on the df table's row count, not the optimizer's estimate") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // an aggregate-route df table: a checkpoint whose size estimate is
    // carried from the documents scan, not from its rows
    val state = withoutBroadcast(Dedup.nearDupState(corpus))
    val estimate = state.dfreq.queryExecution.optimizedPlan.stats.sizeInBytes
    val real = BigInt(state.dfRows) * 16
    assert(estimate < real, s"estimate $estimate, table $real B")
    val t = state.threshold - 1e-4
    def cut() = {
      val p = Dedup.prefixFrame(state.docs, state.dfreq, state.dfRows, t)
      val rows = p.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      val exchanges = allPlanNodes(p.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      ((p.schema, rows), exchanges)
    }
    // between the two: an estimate gate would collect and broadcast
    // the table; the count gate keeps the join/regroup route
    val (between, exchanges) =
      withBroadcastThreshold(((estimate + real) / 2).toLong)(cut())
    assert(exchanges > 0, "a df table over the threshold was broadcast")
    val (broadcast, none) = cut()
    assert(none == 0, "the default threshold should broadcast the df index")
    assert(between == broadcast && between == prefixIndex(state))
  }

  test("jaccardTopK ≡ per-probe brute-force ranking; bounded-aggregate plan") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), Dedup.wordShingles(col("text")).as("sh"))
    val probes = docs.filter(col("doc_id") % 10 === 0)
    val truth = probes.as("p").join(docs.as("o"),
        col("p.doc_id") =!= col("o.doc_id"))
      .select(col("p.doc_id").as("probe_id"), col("o.doc_id").as("nb"),
        round(size(array_intersect(col("p.sh"), col("o.sh"))).cast("double") /
          size(array_union(col("p.sh"), col("o.sh"))), 4).as("j"))
      .filter(col("j") >= 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(
        _.sortBy(t => (-t._3, t._2)).take(5)
          .zipWithIndex.map { case ((_, nb, j), i) => (nb, j, i + 1) }
          .toSeq).toMap
    val q = Dedup.jaccardTopK(spark, sf)
    val got = q.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
    assert(truth.nonEmpty && truth.values.exists(_.nonEmpty))
    assert(got == truth,
      s"per-probe diff: ${(truth.keySet ++ got.keySet).filter(k => truth.get(k) != got.get(k))}")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("topk_rows"), plan) // bounded agg, no window sort
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("leakageFreeSplit: no qualifying pair straddles splits; every doc assigned") {
    val split = Dedup.leakageFreeSplit(spark, sf)
    val assign = split.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // total: one split per corpus doc, all splits in range
    assert(assign.size == Tables.load(spark, sf, "documents").count())
    assert(assign.values.forall(s => s >= 0 && s < 10))
    // THE leakage property: both ends of every qualifying near-dup
    // pair (the exact pair frame the split consumed) land together
    val pairs = Dedup.ngramJaccardPairs(spark, sf).select("ai", "bi")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus should contain planted near-dups")
    val straddling = pairs.filter { case (a, b) => assign(a) != assign(b) }
    assert(straddling.isEmpty, s"leaky pairs: ${straddling.toSeq}")
  }

  test("simhashPairs: candidates agree with brute-force hamming") {
    // truth from the SAME wide portable shingle hashes the operator
    // signs with (r08: oracle-replayable 60-bit family)
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.SimHashFunctions.simhash64(
          Dedup.shinglePHashes(col("text"), wide = true)).as("sig"))
    val truth = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("h"))
      .filter(col("h") <= 3)
      .select("ai", "bi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simhashPairs(spark, sf).select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 bands of 16 bits catch hamming<=3 pairs exactly (pigeonhole)
    assert(found == truth, s"missed ${truth -- found}, extra ${found -- truth}")
    assert(found.nonEmpty, "planted near-dups should collide")
  }

  test("resolveClusters: transitive chains collapse to min-id reps") {
    import spark.implicits._
    // two clusters: {1,2,3} via chain 1-2, 2-3; {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ai", "bi")
    // both routes must implement the same contract: the driver
    // union-find (default bound) and the star contraction (forced by
    // localEdgeBound = 0)
    for (limit <- Seq(ConnectedComponents.LocalEdgeBound, 0L)) {
      val got = Dedup.resolveClusters(pairs, localEdgeBound = limit)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(got(1L) == ((1L, true)), s"limit=$limit")
      assert(got(2L) == ((1L, false)), s"limit=$limit")
      assert(got(3L) == ((1L, false)), s"limit=$limit") // transitive
      assert(got(10L) == ((10L, true)), s"limit=$limit")
      assert(got(11L) == ((10L, false)), s"limit=$limit")
    }
  }

  test("q158: substring duplication profile matches a driver replica") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wins = docs.flatMap { case (id, t) =>
      if (t.length < 32) Nil
      else (0 to t.length - 32 by 16).map(p => (id, t.substring(p, p + 32)))
    }
    val dupSet = wins.groupBy(_._2)
      .filter(_._2.map(_._1).distinct.size > 1).keySet
    val want = wins.groupBy(_._1).map { case (id, ws) =>
      id -> (ws.size.toLong, ws.count(w => dupSet(w._2)).toLong)
    }
    // the raw-string spelling is the oracle's literal twin…
    val got = Dedup.substringDedup(spark, sf, hashKeys = false).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    // the fixture's exact-dup docs make this non-vacuous: some doc
    // must report duplicated windows
    assert(want.values.exists(_._2 > 0L), "no cross-doc window found")
    assert(want.values.exists(v => v._2 < v._1),
      "profile must distinguish partial duplication")
    // …and the REGISTERED default (hashed 8-byte keys across both
    // shuffles — the 100 TB spelling) reports the identical profile
    val hashed = Dedup.substringDedup(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hashed == want)
  }

  test("resolveClusters: local finish ≡ distributed loop on real pairs") {
    val pairs = Dedup.minhashPairs(spark, sf).select("ai", "bi")
    def run(limit: Long) =
      Dedup.resolveClusters(pairs, localEdgeBound = limit).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(ConnectedComponents.LocalEdgeBound) == run(0L))
  }

  test("dedupDecisions: every cluster keeps exactly one doc") {
    val df = Dedup.dedupDecisions(spark, sf)
    val perCluster = df.groupBy("cluster_rep")
      .agg(sum(col("keep").cast("int")).as("n_kept"),
        count(lit(1)).as("sz"))
    assert(perCluster.filter(col("n_kept") =!= 1).count() == 0)
    assert(perCluster.filter(col("sz") < 2).count() == 0)
  }

  test("saltedJoin equals plain join") {
    val li = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_orderkey", "k")
    val ord = Tables.load(spark, sf, "orders")
      .withColumnRenamed("o_orderkey", "k")
      .select("k", "o_totalprice")
    val plain = li.join(ord, Seq("k")).agg(
      count(lit(1)), sum("o_totalprice")).collect()(0)
    val salted = graft.operators.Skew.saltedJoin(li, ord, "k", salt = 8)
      .agg(count(lit(1)), sum("o_totalprice")).collect()(0)
    assert(plain.getLong(0) == salted.getLong(0))
    assert(math.abs(plain.getDouble(1) - salted.getDouble(1)) < 1e-6)
  }

  test("saltedJoin rejects join types that would duplicate small rows") {
    val li = Tables.load(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "k")
    val ord = Tables.load(spark, sf, "orders").withColumnRenamed("o_orderkey", "k")
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(li, ord, "k", 8, "right_outer")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(li, ord, "k", 8, "full")
    }
  }

  test("ngramJaccardPairs matches brute force within blocking reach") {
    val blocked = Dedup.ngramJaccardPairs(spark, sf).select("ai", "bi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), floor(col("n_chars") / 32).as("blk"))
    val blkOf = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truthInReach = bruteForcePairs(0.8).select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => math.abs(blkOf(a) - blkOf(b)) <= 1 }.toSet
    assert(blocked == truthInReach)
    assert(blocked.nonEmpty)
  }
}
