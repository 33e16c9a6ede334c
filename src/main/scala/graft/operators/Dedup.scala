package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.functions.SimHashFunctions.simhash64
import graft.sources.Tables

/** Deduplication operators over a text corpus — exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. All are built as equality-join
  * plans (group-by on content hash, band-bucket joins), never O(n²)
  * comparison, so they scale to a 100 TB corpus: the quadratic step
  * only ever runs inside an LSH bucket / blocking group.
  *
  * The reference has no dedup (its analog is hash-bucketing of
  * categoricals, trainer.py:262-267); these are the LLM-training-data
  * operators the engine adds on top (BASELINE.json north star).
  */
object Dedup {

  // ---- shingling -------------------------------------------------------

  /** Distinct word n-gram shingles of a single-space-separated text
    * column. Shingles (not unigrams) carry word order, which is what
    * distinguishes near-duplicates in a small-vocabulary corpus.
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    array_distinct(wordGrams(text, n))

  /** The positioned (non-distinct) n-gram builder [[wordShingles]] and
    * [[dupSpans]] share: gram i covers words i..i+n−1; texts shorter
    * than n words contribute the whole text as gram 0.
    */
  private[operators] def wordGrams(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    val grams = transform(
      sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*))
    when(size(ws) >= n, grams).otherwise(array(text))
  }

  /** xxhash64 of each distinct shingle — the 64-bit feature space
    * MinHash and SimHash operate in. Single-pass kernel: tokenizes,
    * builds grams, hashes and dedupes per row without materializing
    * gram strings through per-element lambdas (same values as
    * `xxhash64_array(wordShingles(text, n))`).
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.VectorMath.word_ngram_hashes(text, n)

  // ---- exact dedup -----------------------------------------------------

  /** Exact dedup by content hash: one row per distinct text, keeping
    * the smallest doc_id (deterministic, unlike dropDuplicates). The
    * group key is sha2(text) so the shuffle moves 32 bytes per row,
    * not the document body — at 100 TB that is the whole game.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .groupBy(unhex(sha2(col("text"), 256)).as("content_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** Incremental dedup: admit only the incoming documents (sources
    * src10–src19 play the "new crawl") whose content does not already
    * exist in the reference corpus (src0–src9). One anti-join on
    * sha2(text) — both sides shuffle 32-byte hashes, never bodies, and
    * at production scale the existing side is the persisted hash
    * manifest of the corpus (written once, reused every batch), so
    * admitting a new crawl costs one scan of the BATCH, not of the
    * corpus. Intra-batch duplicates are [[exactDedup]]'s job; this is
    * the batch-vs-corpus step that makes dedup incremental rather than
    * a full recluster per crawl.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val existingSrcs = (0 to 9).map(i => s"src$i")
    val docs = Tables.load(spark, sfDir, "documents")
    val existingHashes = docs
      .filter(col("source").isin(existingSrcs: _*))
      .select(unhex(sha2(col("text"), 256)).as("content_hash"))
      .distinct()
    docs
      .filter(!col("source").isin(existingSrcs: _*))
      .withColumn("content_hash", unhex(sha2(col("text"), 256)))
      .join(existingHashes, Seq("content_hash"), "left_anti")
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Duplicated-span detection — substring-level dedup in the shape of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): every n-word span that also appears in ANOTHER
    * document, reported as (doc_id, span position) — the spans a
    * span-level excision pass would cut, where document-level dedup
    * (q22–q25) would keep both documents and the boilerplate inside
    * them. Docs shorter than n words contribute their whole text as
    * span 0, so no document is exempt.
    *
    * What shuffles is a 128-bit span key — two independently-seeded
    * xxhash64 values (collision odds ~spans²/2¹²⁹: zero even at 10¹²
    * spans), 16 bytes, never the span text: one map-side-combined
    * distinct-doc count per span key, the ≥2-doc keys semi-joined back
    * onto the positioned spans. Two hash-key exchanges total at any
    * corpus size; the oracle replays it grouping on the raw span text.
    * The keys come from two seeded [[graft.functions.WordNGramHashes]]
    * runs — building span STRINGS through per-element lambda dispatch
    * (transform + 8×element_at + concat per span) measured ~8 s over
    * sf0.1's 471k spans where the two kernel passes take ~0.7 s, and
    * sha2 keying would pay a per-call MessageDigest on top.
    */
  def dupSpans(spark: SparkSession, sfDir: String, n: Int = 8): DataFrame = {
    val h1 = graft.functions.VectorMath
      .word_ngram_hashes_all(col("text"), n, 42L)
    val h2 = graft.functions.VectorMath
      .word_ngram_hashes_all(col("text"), n, 0x9e3779b97f4a7c15L)
    val spans = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(arrays_zip(h1.as("k1"), h2.as("k2")))
          .as(Seq("pos", "ks")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("ks.k1").as("k1"), col("ks.k2").as("k2"))
      .persist() // both the key count and the semi-join probe read it
    val dupKeys = spans.groupBy("k1", "k2")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("k1", "k2")
    graft.plans.CacheRelease.afterFirstUse(spans)
    spans.join(dupKeys, Seq("k1", "k2"), "left_semi")
      .select("doc_id", "pos")
      .orderBy("doc_id", "pos")
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** 72 minhashes in 12 bands × 6 rows — LSH threshold ≈ 0.66. At
    * j=0.8 recall is ~0.97, at j≥0.9 (where real near-dups live)
    * >0.9999, while rows-per-band=6 keeps the false-candidate rate of
    * this high-baseline-similarity corpus ~1e-4 per band (4-row bands
    * admitted ~100× more candidates and dominated the bench).
    */
  val NumHashes = 72
  val NumBands = 12
  val RowsPerBand = 6

  /** MinHash signature (length NumHashes) for a shingle-hash array —
    * one pass over the array (MinHashSignature kernel, double-hashing
    * family) instead of NumHashes lambda traversals.
    */
  def minhashSignature(hashes: Column): Column =
    graft.functions.VectorMath.minhash_signature(hashes, NumHashes)

  /** Modulus and multiplier of the engine's portable hash family
    * (q132/KMV discipline) — the constants every oracle replay quotes.
    */
  val PortableP = 1000000007L
  val PortableM = 2654435761L

  /** Portable polynomial shingle hashes (31-base codepoint fold mod
    * 1e9+7; `wide` adds a 37-base plane for SimHash bit voting) — the
    * replayable twin of [[shingleHashes]], so MinHash/SimHash built on
    * them leave the rows-only list.
    */
  def shinglePHashes(text: Column, n: Int = 3,
      wide: Boolean = false): Column =
    graft.functions.VectorMath.word_ngram_phashes(text, n, wide)

  /** Portable MinHash signature over the affine family
    * `((2i+1)·h + i·M mod p) mod p` — every coefficient an SQL
    * literal a replaying engine can rebuild.
    */
  def minhashSignaturePortable(hashes: Column): Column =
    graft.functions.VectorMath.minhash_signature_portable(hashes, NumHashes)

  /** Portable band key: order-sensitive fold `k ← (k·M + v) mod p`
    * over `RowsPerBand` signature positions of band `b` — the
    * xxhash64 band key's replayable twin (`list_reduce` in DuckDB).
    * A mod-p key collision only ADDS a candidate pair, which the
    * exact-Jaccard / Hamming verification then filters identically on
    * both engines — correctness never rests on collision-freeness.
    */
  private def portableBandKey(sig: Column, b: Int): Column =
    (0 until RowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
      (acc * PortableM + element_at(sig, b * RowsPerBand + r + 1)) % PortableP
    }

  /** Near-duplicate pairs via MinHash LSH, verified with exact shingle
    * Jaccard ≥ `threshold`. Plan shape: per-doc signature (one narrow
    * shuffle-free projection) → explode 12 band keys → self-join on
    * band key (equality ⇒ hash join) → distinct candidate pair →
    * verify by joining the two shingle sets back. Only candidates pay
    * the exact-Jaccard cost.
    */
  def minhashPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame =
    Present.smallSorted(
      minhashPairsUnsorted(spark, sfDir, threshold), "ai", "bi")

  /** [[minhashPairs]] without the presentation sort. Internal consumers
    * (cluster resolution) must use this form: a global sort is TWO
    * passes over its input (range-boundary sampling + the sort), so an
    * orderBy between the LSH pipeline and a downstream materialization
    * would run the whole pipeline twice for an ordering nobody reads.
    */
  private[operators] def minhashPairsUnsorted(spark: SparkSession,
      sfDir: String, threshold: Double = 0.8): DataFrame = {
    // persisted: the LSH self-join and the verification join each read
    // this twice — without the cache the shingle pipeline runs 4×/doc.
    // PORTABLE hashes end to end (signature family + band keys), so
    // the whole pipeline — candidates included — replays in DuckDB
    // and q23 carries a full hash-checked oracle.
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_sort(shinglePHashes(col("text"))).as("hss"))
      .withColumn("sz", size(col("hss")))
      .persist()

    val sigs = docs.select(col("doc_id"),
      minhashSignaturePortable(col("hss")).as("sig"))
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"), portableBandKey(col("sig"), b).as("sig"))
    }
    // persisted (doc_id, band, key — 12 narrow rows per doc): BOTH
    // sides of the band self-join read this frame, and unpersisted
    // each side re-ran the 72-hash MinHash signature kernel over every
    // shingle array — the pipeline's dominant per-row cost, paid twice
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
      .persist()

    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"))
      .distinct()

    // both caches release on the returned frame's first consuming
    // action (lazy-return path: no collect to hang a release on)
    graft.plans.CacheRelease.afterFirstUse(docs)
    graft.plans.CacheRelease.afterFirstUse(banded)
    verifyJaccard(candidates, docs, threshold)
  }

  /** The shared exact-verification stage: join (ai, bi) candidates
    * back to the per-doc sorted hash arrays and keep pairs whose
    * early-exit merge-walk Jaccard reaches the threshold. One body for
    * every candidate generator (MinHash LSH, prefix filter), so the
    * slack/rounding contract in [[thresholdedJaccard]] cannot drift
    * between paths. `docs` must carry (doc_id, hss sorted, sz). Both
    * sides read `docs`: when it is a checkpointed frame and both sides
    * broadcast it, AQE reuses one exchange for both; a cached frame
    * cannot share, as AQE wraps each scan of it in a query stage of its
    * own and the two exchanges no longer compare equal. A side whose
    * candidate column carries a filter (q170's probes) gets that filter
    * inferred onto its docs scan, so it broadcasts a smaller, different
    * frame and the two sides are not one exchange.
    */
  private def verifyJaccard(candidates: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(docs.as("sa"), col("ai") === col("sa.doc_id"))
      .join(docs.as("sb"), col("bi") === col("sb.doc_id"))
      .select(col("ai"), col("bi"),
        thresholdedJaccard(col("sa.hss"), col("sb.hss"),
          col("sa.sz"), col("sb.sz"), threshold).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact Jaccard of two sorted hash arrays, or NULL when it is
    * provably below `threshold` — the NULL branch exits the merge walk
    * early ([[graft.functions.IntersectCountAtLeast]]). Exactness:
    * J ≥ t ⇔ |A∩B| ≥ t·(|A|+|B|)/(1+t), and `required` is computed at
    * t − 1e-4, strictly below anything the output filter (which sees
    * round(j, 4) ≥ t, i.e. true j ≥ t − 5e-5) can accept — so no
    * emitted pair is ever pruned; only certainly-rejected pairs skip
    * walk steps.
    */
  private def thresholdedJaccard(a: Column, b: Column, sa: Column,
      sb: Column, threshold: Double): Column = {
    val t = threshold - 1e-4
    val required =
      ceil((sa + sb).cast("double") * lit(t) / lit(1.0 + t)).cast("long")
    val inter = graft.functions.VectorMath
      .intersect_count_at_least(a, b, required).cast("double")
    when(inter >= 0, round(inter / (sa + sb - inter), 4))
  }

  // ---- SimHash ---------------------------------------------------------

  /** Near-duplicate pairs via SimHash: 64-bit signature per doc, 4
    * bands of 16 bits as LSH keys (any pair within Hamming distance 3
    * shares at least one band), verified by exact Hamming distance ≤
    * `maxHamming`. Same equality-join shape as MinHash — no O(n²).
    */
  def simhashPairs(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    // persisted: both sides of the band self-join read the signatures.
    // WIDE portable shingle hashes (60 bits: h31·2³⁰ + h37) so the
    // signature's bit votes replay in SQL — bits 60..63 are constant 0
    // on every doc (they cancel in XOR, so Hamming is unaffected; the
    // top band simply has 12 live bits)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        simhash64(shinglePHashes(col("text"), wide = true)).as("sig"))
      .persist()

    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))
          .as("key"))
    }
    val banded = docs
      .select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))

    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    graft.plans.CacheRelease.afterFirstUse(docs)
    Present.smallSorted(pairs, "ai", "bi")
  }

  /** End-to-end corpus materialization: documents minus the larger
    * doc_id of every exact near-dup pair — the "write out the cleaned
    * training set" step, fully oracle-replayable (it composes
    * [[ngramJaccardPairs]]). The cluster-aware form is
    * [[dedupDecisions]]; this pairwise form is the audit-friendly
    * deterministic one.
    */
  def keptCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    // shared pair handle: the anti-join reads the session's
    // checkpointed pair blocks, never re-running the pair pipeline
    val drop = ngramJaccardPairsShared(spark, sfDir)
      .select(col("bi").as("doc_id")).distinct()
    val kept = Tables.load(spark, sfDir, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
    // presentation sort for the audit-sized corpus; a 100 TB cleaned-
    // corpus write would keep the anti-join's partitioning unsorted
    Present.smallSorted(kept, "doc_id")
  }

  // ---- prefix-filtered inverted-index join (PPJoin family) -------------

  /** Exact Jaccard near-dup pairs via df-ordered PREFIX FILTERING over
    * an inverted index — the blocking-free scale path for the
    * [[ngramJaccardPairs]] answer (and the classic exact set-similarity
    * self-join: Chaudhuri/Bayardo's prefix filter, the PPJoin family).
    *
    * Principle: order every document's shingles by a single global
    * total order — here (document frequency, hash), rarest first. If
    * J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and two sets with
    * overlap ≥ α must collide within their first |X|−α+1 tokens — so
    * indexing only each doc's PREFIX (the ~(1−τ)·|X|+1 rarest
    * shingles) finds every qualifying pair. Candidates are generated
    * by an equality self-join on prefix tokens (hash join, never
    * O(n²)) and verified with the early-exit merge walk. Rare-first
    * ordering is what bounds the hot-token blowup: a shingle shared by
    * half the corpus lands in nobody's prefix.
    *
    * Scale shape: one df count ([[docFrequencies]]: one job merged on
    * the driver while the df table is under the broadcast threshold,
    * else an aggregate over exploded shingles — token-partitioned,
    * mergeable), one prefix cut ([[prefixFrame]]: a projection under a
    * broadcast df index while the df table is under the broadcast
    * threshold, else a join and a regroup by doc), one candidate join
    * on prefix tokens, one verify join — all equality shuffles. Unlike the length-blocked [[ngramJaccardPairs]]
    * this has no ±64-char reach limit, so it is exact for arbitrarily
    * long documents; the prefix margin uses the same τ−1e-4 slack as
    * the verifier, so no pair the round(j,4)≥τ output filter can accept
    * is ever pruned.
    */
  def prefixJaccardPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame = {
    val t = threshold - 1e-4
    // per-row once: distinct shingle hashes, value-sorted for the
    // merge-walk verifier, plus the set size. Read by the df count, the
    // prefix build and both verify sides; checkpointed (lazily — the df
    // count's job stores it), not cached: AQE gives every scan of a
    // cached frame its own query stage, so the verify join's two
    // identical docs broadcasts would never be one reused exchange
    val docs = shingledDocs(Tables.load(spark, sfDir, "documents"))
      .localCheckpoint(false)

    // global document frequency per shingle — the rare-first key
    val (dfreq, dfRows) = docFrequencies(docs)

    // persisted: BOTH sides of the candidate self-join read the prefix
    // index — unpersisted, the prefix cut (on the shuffle route, the
    // regroup by doc) ran twice
    val prefix = prefixFrame(docs, dfreq, dfRows, t).persist()

    // candidates: docs sharing ≥1 prefix token, with the size-ratio
    // prune (J ≤ min/max) applied inside the join
    val candidates = prefix.as("l").join(prefix.as("r"),
        col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id") &&
          prefixSizeOk(t))
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"))
      .distinct()

    // lazy-return path: the prefix cache releases on the first
    // consuming action of the returned frame
    graft.plans.CacheRelease.afterFirstUse(prefix)
    Present.smallSorted(verifyJaccard(candidates, docs, threshold),
      "ai", "bi")
  }

  /** Bytes one (h, df) entry of a df table takes as two long arrays:
    * the unit of [[docFrequencies]]' bound and [[prefixFrame]]'s gate.
    */
  private val DfEntryBytes = 16L

  /** Document frequency of every shingle of `docs` (doc_id, hss, sz)
    * as (h, df) rows, df counting each array element as `explode`
    * does, with the table's exact row count. Two routes, bounded by
    * `spark.sql.autoBroadcastJoinThreshold`:
    *
    * '''Driver route''' — one job, no exchange: each task counts its
    * partition's hashes into a primitive long → long map, reading
    * `InternalRow`s, and returns the map as two compressed arrays — or an
    * overflow marker once it holds more than its share (threshold /
    * 16 B / partitions) of entries. With no overflow the driver merges
    * the partials, so the table holds at most threshold / 16 B
    * entries, and returns them sorted by h as a local relation:
    * collecting it later runs no job.
    *
    * '''Aggregate route''' — any overflow, or a threshold ≤ 0 (−1
    * turns the driver route off, as it does broadcast joins): explode,
    * group by h and localCheckpoint, the row count observed on the
    * checkpoint's own job.
    *
    * Both routes return the same rows under the same schema.
    */
  private[graft] def docFrequencies(docs: DataFrame): (DataFrame, Long) = {
    val spark = docs.sparkSession
    val aggregate = docs.select(explode(col("hss")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val counted =
      if (threshold > 0) countOnDriver(docs, threshold / DfEntryBytes)
      else None
    counted match {
      case Some((hs, dfs)) =>
        val rows = hs.indices.map(i => Row(hs(i), dfs(i)))
        (spark.createDataFrame(rows.asJava, aggregate.schema),
          hs.length.toLong)
      case None => checkpointCounted(aggregate)
    }
  }

  /** [[docFrequencies]]' driver route: (h, df) arrays sorted by h, or
    * None when a task passed its share of `maxEntries`. Each task
    * sends its sorted entries through the session's block codec: their
    * count, the hashes, then the counts (mostly 1).
    */
  private def countOnDriver(docs: DataFrame,
      maxEntries: Long): Option[(Array[Long], Array[Long])] = {
    val hashes = docs.select(col("hss")).queryExecution.toRdd
    val share = maxEntries / math.max(1, hashes.getNumPartitions)
    val partials = hashes.mapPartitions { rows =>
      val counts = new LongCounts
      while (counts.size <= share && rows.hasNext) {
        val row = rows.next()
        if (!row.isNullAt(0)) {
          val hss = row.getArray(0)
          var i = 0
          while (i < hss.numElements()) {
            counts.add(hss.getLong(i), 1L); i += 1
          }
        }
      }
      Iterator.single(Option.when(counts.size <= share) {
        val (hs, dfs) = counts.sorted
        GraftColumnBridge.compress { out =>
          out.writeInt(hs.length)
          hs.foreach(out.writeLong)
          dfs.foreach(out.writeLong)
        }
      })
    }.collect()
    if (partials.contains(None)) None
    else {
      val merged = new LongCounts
      partials.flatten.foreach { bytes =>
        GraftColumnBridge.decompress(bytes) { in =>
          val hs = Array.fill(in.readInt())(in.readLong())
          hs.foreach(h => merged.add(h, in.readLong()))
        }
      }
      Some(merged.sorted)
    }
  }

  /** Open-addressing long → count map over two primitive arrays, for
    * [[countOnDriver]]: linear probing, a zero count marking a free
    * slot (every stored count is ≥ 1), doubled at half load.
    */
  private final class LongCounts {
    private var keys = new Array[Long](1024)
    private var counts = new Array[Long](1024)
    var size = 0

    /** The slot holding `k`, or the free slot where it would go. */
    private def slot(k: Long): Int = {
      val mask = keys.length - 1
      var i = java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L) & mask
      while (counts(i) != 0L && keys(i) != k) i = (i + 1) & mask
      i
    }

    def add(k: Long, c: Long): Unit = {
      val i = slot(k)
      if (counts(i) == 0L) { keys(i) = k; size += 1 }
      counts(i) += c
      if (2 * size > keys.length) {
        val (ks, cs) = (keys, counts)
        keys = new Array[Long](2 * ks.length)
        counts = new Array[Long](2 * ks.length)
        ks.indices.foreach { j =>
          if (cs(j) != 0L) {
            val s = slot(ks(j)); keys(s) = ks(j); counts(s) = cs(j)
          }
        }
      }
    }

    /** The entries as (keys, counts) arrays, sorted by key. */
    def sorted: (Array[Long], Array[Long]) = {
      val ks = keys.indices.filter(counts(_) != 0L).map(keys(_)).toArray
      java.util.Arrays.sort(ks)
      (ks, ks.map(k => counts(slot(k))))
    }
  }

  /** Each doc's PREFIX under the (df, h) rare-first total order: the
    * (sz − ⌈t·sz⌉ + 1) rarest shingles, as (doc_id, sz, h) rows.
    * Shared by the one-shot [[prefixJaccardPairs]] and the incremental
    * merge — completeness of the prefix filter needs only that BOTH
    * sides of a candidate join rank tokens by ONE consistent total
    * order, which is why the incremental path may pass yesterday's
    * (stale) df table: the order key h → (df(h), h) stays a function,
    * just not the freshest one. Tokens absent from `dfreq` rank df = 0
    * — rarest, so a batch-novel shingle always lands in its doc's
    * prefix. Two routes, picked from `dfRows`, the df table's exact
    * row count ([[docFrequencies]] returns it):
    *
    * '''Broadcast route''' — `dfRows` × 16 B is ≤
    * `spark.sql.autoBroadcastJoinThreshold` (and that threshold is
    * > 0, so −1 turns the route off, as it does broadcast joins): the
    * (h, df) pairs are collected (no job when `dfreq` is
    * [[docFrequencies]]' local relation), the driver sorts them by h,
    * and they go out as one broadcast of two arrays. One projection
    * over `docs` then binary-searches each token's df, sorts the doc's
    * tokens by (df, h), keeps the prefix and explodes it — no join,
    * no exchange. The gate reads a count, not an optimizer estimate,
    * so a df table larger than the threshold is never collected.
    *
    * '''Shuffle route''' — a larger table: explode the tokens, left
    * join them to `dfreq`, regroup them by doc to sort, then slice.
    *
    * Both routes return the same rows under the same schema.
    */
  private[graft] def prefixFrame(docs: DataFrame, dfreq: DataFrame,
      dfRows: Long, t: Double): DataFrame = {
    val threshold = docs.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    val small = threshold > 0 && dfRows * DfEntryBytes <= threshold
    val cut = (col("sz") - ceil(col("sz") * t) + 1).cast("int")
    if (small) broadcastPrefix(docs, dfreq, cut)
    else docs
      .select(col("doc_id"), col("sz"), explode(col("hss")).as("h"))
      .join(dfreq, Seq("h"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy(col("doc_id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("df"), col("h"))))
        .as("ordered"))
      .select(col("doc_id"), col("sz"),
        explode(slice(col("ordered"), lit(1), cut)).as("tok"))
      .select(col("doc_id"), col("sz"), col("tok.h").as("h"))
  }

  /** [[prefixFrame]]'s broadcast route: `cut` is the prefix length. */
  private def broadcastPrefix(docs: DataFrame, dfreq: DataFrame,
      cut: Column): DataFrame = {
    val pairs = dfreq.select(col("h"), col("df")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // released by Spark's ContextCleaner once the frame is unreachable
    val index = docs.sparkSession.sparkContext
      .broadcast((pairs.map(_._1), pairs.map(_._2)))
    val rareFirst = udf { (hss: Seq[Long], n: Int) =>
      if (hss == null) Array.emptyLongArray
      else {
        val (hs, dfs) = index.value
        hss.map { h =>
          val i = java.util.Arrays.binarySearch(hs, h)
          (if (i < 0) 0L else dfs(i), h)
        }.sorted.iterator.take(n).map(_._2).toArray
      }
    }
    docs.select(col("doc_id"), col("sz"),
      explode(rareFirst(col("hss"), cut)).as("h"))
  }

  // ---- incremental near-dup (prefix-filtered, exact) -------------------

  /** Yesterday's PERSISTED near-dup state — what a production pipeline
    * stores between daily runs so corpus text is never re-shingled:
    * the prepared per-doc shingle arrays (`docs`: doc_id, hss, sz),
    * the shingle document frequencies (`dfreq`: h, df — the rare-first
    * ordering key) with their exact row count (`dfRows`, the statistic
    * every prefix cut gates on), and the prefix index (`prefix`:
    * doc_id, sz, h) with its row count (`prefixRows`, the size
    * statistic a search gates its join strategy on). All three frames
    * are materialized ([[nearDupState]]): `docs` and `prefix` as
    * checkpoints, `dfreq` as [[docFrequencies]]' local relation or
    * checkpoint, so a downstream merge reads stored rows, never the
    * corpus lineage. Every prefix cut of a state — build, merge day,
    * recut — runs [[prefixFrame]], which broadcasts `dfreq` while
    * `dfRows` × 16 B is under the broadcast threshold, so the cut is
    * one projection over `docs` with no exchange.
    */
  case class NearDupState(docs: DataFrame, dfreq: DataFrame,
      prefix: DataFrame, threshold: Double, prefixRows: Long,
      dfRows: Long)

  /** Eager localCheckpoint of a frame, returning its row count too.
    * The count is an observed metric of the checkpoint's own job, so
    * it costs no extra job.
    */
  private def checkpointCounted(frame: DataFrame): (DataFrame, Long) = {
    val rows = org.apache.spark.sql.Observation()
    val stored = frame.observe(rows, count(lit(1)).as("n"))
      .localCheckpoint(true)
    (stored, rows.get("n").asInstanceOf[Long])
  }

  /** Build [[NearDupState]] from a (doc_id, text) corpus frame — the
    * one-time (or yesterday's) pass: shingle every doc once, count
    * document frequencies ([[docFrequencies]]: one job and no exchange
    * while the df table is under the broadcast threshold), cut each
    * doc's rare-first prefix. At 100 TB these land in stored tables;
    * here localCheckpoint is the stored-table shape (eager,
    * lineage-free).
    */
  def nearDupState(corpusText: DataFrame,
      threshold: Double = 0.8): NearDupState = {
    val t = threshold - 1e-4
    val docs = shingledDocs(corpusText).localCheckpoint(true)
    val (dfreq, dfRows) = docFrequencies(docs)
    val (prefix, prefixRows) =
      checkpointCounted(prefixFrame(docs, dfreq, dfRows, t))
    NearDupState(docs, dfreq, prefix, threshold, prefixRows, dfRows)
  }

  /** INCREMENTAL near-dup: every exact-Jaccard-≥ threshold pair with
    * at least one endpoint in today's `batchText` — batch×corpus AND
    * batch×batch — WITHOUT touching corpus text. The daily-ingest
    * path of a 100 TB near-dup pipeline: re-running the one-shot pair
    * join re-shingles and re-indexes the whole corpus every day (the
    * unbounded cost), while this merge shingles only the batch,
    * prefixes it under the PERSISTED df ordering (stale df keeps the
    * total order consistent — see [[prefixFrame]] — so the prefix
    * filter stays COMPLETE, exactly as a fresh ordering would be;
    * staleness costs only pruning efficiency), and joins it against
    * the persisted prefix index by token equality. Corpus-side costs
    * are key-equality joins against stored state: the batch prefix is
    * broadcast-sized on a normal day, and only candidate-matched
    * corpus rows pay the exact-verify merge walk. Output matches the
    * one-shot plan restricted to batch-touching pairs (spec-proven),
    * so the DuckDB oracle replays it exactly.
    *
    * The threshold is the STATE's: the persisted prefixes were cut at
    * `state.threshold`, and the prefix-filter completeness lemma only
    * covers pairs at or above the cut — accepting a lower ad-hoc
    * threshold here would silently miss cross pairs whose shared
    * tokens rank outside the stored prefixes. Search below the cut
    * requires a state built (or [[recutState]]-recut) at the lower
    * threshold.
    */
  def mergeNearDups(state: NearDupState,
      batchText: DataFrame): DataFrame =
    mergeAndAbsorb(state, batchText)._1

  /** (doc_id, hss sorted, sz) — the per-doc shape every pair path
    * verifies against.
    */
  private[graft] def shingledDocs(text: DataFrame): DataFrame = text
    .select(col("doc_id"),
      array_sort(shingleHashes(col("text"))).as("hss"))
    .withColumn("sz", size(col("hss")))

  /** min/max-size Jaccard prune for a prefix candidate join aliased
    * l/r: J ≤ min(|A|,|B|)/max(|A|,|B|), so pairs failing it can never
    * reach `t`.
    */
  private def prefixSizeOk(t: Double) =
    least(col("l.sz"), col("r.sz")).cast("double") /
      greatest(col("l.sz"), col("r.sz")) >= t

  /** The merge's candidate generation + exact verify, over
    * already-prepared batch frames: batch×corpus (prefix-token
    * equality against the persisted index) ∪ batch×batch (prefix
    * self-join), verified against corpus-side ∪ batch-side shingles.
    * The cross join excludes equal ids so a re-ingested document can
    * never pair with its own stored copy.
    */
  private def mergePairs(state: NearDupState, batchDocs: DataFrame,
      batchPrefix: DataFrame): DataFrame = {
    val sizeOk = prefixSizeOk(state.threshold - 1e-4)
    val cross = batchPrefix.as("l").join(state.prefix.as("r"),
        col("l.h") === col("r.h") &&
          col("l.doc_id") =!= col("r.doc_id") && sizeOk)
      .select(least(col("l.doc_id"), col("r.doc_id")).as("ai"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("bi"))
    val within = batchPrefix.as("l").join(batchPrefix.as("r"),
        col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id") &&
          sizeOk)
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"))
    val candidates = cross.unionAll(within).distinct()
    verifyJaccard(candidates, state.docs.unionAll(batchDocs),
      state.threshold)
  }

  /** Every qualifying pair WITHIN a state (at the state's own
    * threshold) — the prefix-filtered self-join over the stored index
    * ([[prefixJaccardPairs]]'s algorithm reading persisted blocks
    * instead of re-shingling). Day 0 of the multi-day protocol:
    * resolve the bootstrap corpus against itself once; every later
    * day is a [[mergeAndAbsorb]].
    */
  def selfPairs(state: NearDupState): DataFrame = {
    val sizeOk = prefixSizeOk(state.threshold - 1e-4)
    val candidates = state.prefix.as("l").join(state.prefix.as("r"),
        col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id") &&
          sizeOk)
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"))
      .distinct()
    verifyJaccard(candidates, state.docs, state.threshold)
  }

  /** One day of the MULTI-day incremental protocol: flag today's
    * batch against the persisted state ([[mergeNearDups]]' answer,
    * exactly) AND fold the batch into the state for tomorrow —
    * shingling the batch ONCE for both uses. The returned state
    * appends the batch's docs and prefix rows (stored-table appends);
    * `dfreq` is deliberately PINNED at the bootstrap ordering:
    * completeness of the prefix filter needs every prefix ever placed
    * in the index to be cut under ONE total order (see
    * [[prefixFrame]]), so re-counting df after each day — which would
    * re-cut nothing retroactively — would MIX orders across index
    * generations and break the guarantee. A pinned order is complete
    * forever; drifting token frequencies cost only pruning efficiency,
    * which a periodic full [[nearDupState]] rebuild (the compaction
    * step of a 100 TB pipeline) restores.
    *
    * Re-ingested ids (a crawler retry re-delivering a stored doc_id)
    * are dropped from the batch before anything else: their content
    * is already indexed, so re-flagging them would emit self-pairs
    * and absorbing them would duplicate state rows forever. The
    * anti-join runs on the id column only — digest-sized.
    */
  def mergeAndAbsorb(state: NearDupState,
      batchText: DataFrame): (DataFrame, NearDupState) = {
    val t = state.threshold - 1e-4
    val fresh = batchText.join(
      state.docs.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val batchDocs = shingledDocs(fresh).localCheckpoint(true)
    val (batchPrefix, batchRows) =
      checkpointCounted(
        prefixFrame(batchDocs, state.dfreq, state.dfRows, t))
    val pairs = mergePairs(state, batchDocs, batchPrefix)
    val next = NearDupState(state.docs.unionAll(batchDocs),
      state.dfreq, state.prefix.unionAll(batchPrefix), state.threshold,
      state.prefixRows + batchRows, state.dfRows)
    (pairs, next)
  }

  /** COMPACTION of a multi-day state: re-count document frequencies
    * and re-cut every prefix under the fresh ordering — from the
    * STORED shingle arrays, so even compaction never re-reads corpus
    * text. After many [[mergeAndAbsorb]] days the pinned bootstrap
    * ordering drifts from the true token frequencies and the prefix
    * filter admits more candidates than it must (never fewer — see
    * [[mergeAndAbsorb]]); a periodic recut restores pruning
    * efficiency and re-establishes a single up-to-date total order
    * for the next run of days. The re-count is [[docFrequencies]]:
    * one job and no exchange while the df table is under the
    * broadcast threshold. Results are invariant: both orderings
    * are complete, so [[selfPairs]]/[[mergeNearDups]] answers are
    * identical before and after (spec-proven). Passing a lower
    * `threshold` than the state's is also the supported way to widen
    * a state's search cut (longer prefixes re-cut from stored
    * shingles, text untouched).
    */
  def recutState(state: NearDupState,
      threshold: Double = Double.NaN): NearDupState = {
    val cut = if (threshold.isNaN) state.threshold else threshold
    val t = cut - 1e-4
    val (dfreq, dfRows) = docFrequencies(state.docs)
    val (prefix, prefixRows) =
      checkpointCounted(prefixFrame(state.docs, dfreq, dfRows, t))
    NearDupState(state.docs, dfreq, prefix, cut, prefixRows, dfRows)
  }

  /** q168: the multi-day protocol end to end, proving the incremental
    * path CONVERGES to the one-shot answer — the corpus arrives in
    * `waves` daily batches (doc_id mod `waves`); day 0 bootstraps
    * [[nearDupState]] and self-resolves, every later day runs
    * [[mergeAndAbsorb]]. Each qualifying pair is found exactly once,
    * on the day its LATER-arriving endpoint lands (day-0 internal
    * pairs by [[selfPairs]]; a cross pair by that day's batch×state
    * join; a within-batch pair by that day's self-join), so the UNION
    * over days is precisely the one-shot blocking-free pair set — the
    * DuckDB oracle is q60's brute force over the whole corpus,
    * verbatim. No day re-reads any earlier day's text (accumulator
    * spec), and the pinned-df ordering keeps the prefix filter exact
    * across index generations.
    */
  def multiDayNearDupPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, waves: Int = 3): DataFrame = {
    val all = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    def wave(w: Int) =
      all.filter(pmod(col("doc_id"), lit(waves.toLong)) === w.toLong)
    var state = nearDupState(wave(0), threshold)
    var pairs = selfPairs(state)
    (1 until waves).foreach { w =>
      val (p, next) = mergeAndAbsorb(state, wave(w))
      pairs = pairs.unionAll(p)
      state = next
    }
    Present.smallSorted(pairs, "ai", "bi")
  }

  /** Largest expected probe prefix [[jaccardTopK]] broadcasts: 500k
    * (doc_id, sz, h) rows, ~16 MB as unsafe rows.
    */
  private val BroadcastProbeRows: Long = 500000L

  /** q170: exact TOP-K set-similarity SEARCH — for each probe
    * document (doc_id ≡ 0 mod `probeMod`), the `k` most-similar other
    * documents by word-3-gram Jaccard, among those with J ≥ `floor`
    * (ties at the 4dp-rounded score break toward the smaller
    * neighbor id). Retrieval semantics, not near-dup thresholding:
    * q26 ranks by embedding cosine, this ranks by exact lexical
    * overlap — the "find related documents" primitive.
    *
    * Scale shape: the same prefix inverted index as
    * [[prefixJaccardPairs]], cut at the search floor (a low floor
    * means long prefixes — the honest cost of exact low-similarity
    * search). Each call builds the index ([[nearDupState]]): a df
    * count and then a prefix cut, each exchange-free while the df
    * table is under the broadcast threshold ([[docFrequencies]],
    * [[prefixFrame]]), else an aggregate, a join and a regroup by doc. A caller
    * holding a state could reuse it across probe batches, but this
    * query does not. Candidates come from an equality join of
    * probe prefixes against the index. The probe side is one doc in
    * `probeMod`, so while its expected size (index rows / `probeMod`,
    * counted by the state build) stays under [[BroadcastProbeRows]]
    * it broadcasts and the index streams through the join unshuffled;
    * past the bound the planner's shuffle join runs, with the same
    * result. Ranking is the bounded `topk_rows` aggregate
    * — each map task reduces to ≤ k rows per probe before the
    * exchange, so the shuffle carries O(k·probes) rows and no
    * corpus-wide window sort ever runs.
    */
  def jaccardTopK(spark: SparkSession, sfDir: String,
      probeMod: Long = 10L, k: Int = 5,
      floor: Double = 0.1): DataFrame = {
    val state = nearDupState(
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")), floor)
    jaccardTopKPlan(state, probeMod, k,
      broadcastProbe = state.prefixRows / probeMod <= BroadcastProbeRows)
  }

  /** [[jaccardTopK]]'s search over a built state (cut at the search
    * floor), with the candidate join's strategy chosen by the caller —
    * separate so a spec can run both branches of the gate.
    */
  private[graft] def jaccardTopKPlan(state: NearDupState, probeMod: Long,
      k: Int, broadcastProbe: Boolean): DataFrame = {
    val floor = state.threshold
    val probePrefix = state.prefix
      .filter(pmod(col("doc_id"), lit(probeMod)) === 0L)
    val probe = if (broadcastProbe) broadcast(probePrefix) else probePrefix
    val candidates = probe.as("l").join(state.prefix.as("r"),
        col("l.h") === col("r.h") &&
          col("l.doc_id") =!= col("r.doc_id") && prefixSizeOk(floor - 1e-4))
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"))
      .distinct()
    val scored = verifyJaccard(candidates, state.docs, floor)
    val ranked = scored.groupBy(col("ai"))
      .agg(graft.functions.TopKFunctions.topk_rows(
        col("jaccard"), col("bi"),
        struct(col("bi"), col("jaccard")), k).as("top"))
      .select(col("ai").as("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.bi").as("neighbor_id"),
        col("col.jaccard").as("jaccard"),
        (col("pos") + 1).cast("int").as("rk"))
    Present.smallSorted(ranked, "probe_id", "rk")
  }

  /** q166: the incremental near-dup merge end to end — "yesterday"
    * resolved the corpus minus every 5th doc into [[NearDupState]]
    * (a REAL state build over ~80% of the corpus; the stored-table
    * shape q157 also uses), "today" ingests the held-out docs and
    * [[mergeNearDups]] flags them against the persisted state. The
    * output is EXACT (prefix filter + exact verify, no LSH recall
    * loss), so a plain-SQL oracle replays it: q60's brute force
    * restricted to pairs with a batch endpoint. The cost contract —
    * the merge never re-shingles corpus text — is a spec-asserted
    * accumulator invariant (the q157 day-2 discipline).
    */
  def incrementalNearDupPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, batchMod: Long = 5L): DataFrame = {
    val all = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val state = nearDupState(
      all.filter(pmod(col("doc_id"), lit(batchMod)) =!= 0L), threshold)
    val batch = all.filter(pmod(col("doc_id"), lit(batchMod)) === 0L)
    Present.smallSorted(mergeNearDups(state, batch), "ai", "bi")
  }

  // ---- cluster resolution ----------------------------------------------

  /** Resolve near-dup pairs into clusters and pick one representative
    * per cluster (the minimum doc_id) — the "keep one copy" step a
    * production dedup pipeline ends with. A relabel over
    * [[ConnectedComponents.resolve]]: the pair list is checkpointed
    * once (the LSH pipeline that produced it never re-runs) and
    * resolved by the driver union-find when it has at most
    * `localEdgeBound` pairs — where the near-dup pair list of even a
    * large corpus usually lands, since pairs are the OUTPUT of LSH
    * pruning, not the corpus — and by the star contraction above
    * that. Output: (doc_id, cluster_rep = component min, keep) for
    * every doc in a pair.
    */
  def resolveClusters(pairs: DataFrame,
      localEdgeBound: Long = ConnectedComponents.LocalEdgeBound)
      : DataFrame =
    ConnectedComponents.resolve(
        pairs.select(col("ai").as("a"), col("bi").as("b")), localEdgeBound)
      .select(col("node").as("doc_id"), col("component").as("cluster_rep"))
      .withColumn("keep", col("doc_id") === col("cluster_rep"))

  /** INCREMENTAL [[resolveClusters]]: fold a new batch of near-dup
    * pairs into an ALREADY-RESOLVED corpus — the daily-reingest path,
    * where re-resolving the full pair history is the cost that grows
    * without bound. Delegates the label algebra to
    * [[ConnectedComponents.mergeComponents]] (condensed label-space
    * contraction; the base pair list is never re-read) and re-derives
    * the keep flag: a previous keeper loses its flag exactly when its
    * component merged under a smaller representative. `resolved`:
    * (doc_id, cluster_rep, …) as resolveClusters emits; `newPairs`:
    * (ai, bi), may reference unseen docs.
    */
  def mergeResolvedClusters(resolved: DataFrame,
      newPairs: DataFrame): DataFrame =
    ConnectedComponents.mergeComponents(
      resolved.select(col("doc_id").as("node"),
        col("cluster_rep").as("component")),
      newPairs.select(col("ai").as("a"), col("bi").as("b")))
      .select(col("node").as("doc_id"), col("component").as("cluster_rep"))
      .withColumn("keep", col("doc_id") === col("cluster_rep"))

  /** End-to-end near-dup dedup decision table: every doc in a near-dup
    * cluster with its representative and keep flag (docs in no cluster
    * are implicitly kept).
    */
  def dedupDecisions(spark: SparkSession, sfDir: String): DataFrame =
    Present.smallSorted(
      resolveClusters(minhashPairsUnsorted(spark, sfDir)), "doc_id")

  /** ORACLE-CHECKABLE dedup decision table: the same
    * [[resolveClusters]] keep/drop machinery the LSH path above runs,
    * but over the exact blocked-Jaccard pair set (the q25 pairs,
    * shared handle) that DuckDB can replay verbatim — so the graph
    * resolution's DECISIONS (representative + keep flag per doc) are
    * hash-proven against a recursive-CTE transitive closure, not just
    * spec'd. One row per doc that appears in any qualifying pair.
    */
  def dedupDecisionsExact(spark: SparkSession, sfDir: String): DataFrame =
    Present.smallSorted(
      resolveClusters(ngramJaccardPairsShared(spark, sfDir)), "doc_id")

  /** Near-dup cluster size histogram — the audit view of a dedup run:
    * how many clusters of each size the pair graph resolves into
    * (size ≥ 2 by construction; singletons never enter the graph).
    * Two NDV-sized aggregates over [[resolveClusters]]' label frame —
    * the corpus itself is only scanned by the pair pipeline. The
    * oracle replays the exact pair set (q25's blocked Jaccard) through
    * a recursive-CTE transitive closure, so the distributed graph
    * resolution is hash-proven against declarative SQL.
    */
  def clusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    resolveClusters(ngramJaccardPairsShared(spark, sfDir))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** q167: LEAKAGE-FREE SPLIT — near-dup-aware train/validation
    * assignment: every document routes to a split by its near-dup
    * CLUSTER representative, never its own id, so two near-duplicates
    * can NEVER straddle splits (the doc-level hash split's classic
    * leak: training memorizes a paraphrase of a validation doc). Docs
    * in no near-dup pair are their own cluster. The split key is
    * cluster_rep mod nSplits — deterministic integer arithmetic, so
    * the assignment is oracle-replayable end to end (a production
    * pipeline hashes the rep for balance; the routing contract — one
    * cluster, one split — is identical). Cost shape: the pair
    * pipeline + resolution run once per session (shared pair frame);
    * the split itself is ONE left join of the corpus id list against
    * the cluster-sized label frame. Leakage-freedom is additionally
    * spec-asserted: no qualifying pair straddles splits.
    */
  def leakageFreeSplit(spark: SparkSession, sfDir: String,
      nSplits: Int = 10): DataFrame = {
    val labels = resolveClusters(ngramJaccardPairsShared(spark, sfDir))
    Tables.load(spark, sfDir, "documents").select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .withColumn("split_id", pmod(col("cluster_rep"), lit(nSplits.toLong)))
      .orderBy("doc_id")
  }

  /** q169: KEEP-BEST curation — within each near-dup cluster keep the
    * HIGHEST-QUALITY member (quality score desc, doc_id asc on ties),
    * not the arbitrary minimum id: the curation rule an LLM-pipeline
    * dedup actually wants, since near-dup clusters typically mix a
    * clean original with truncated/boilerplate variants. One row per
    * doc in any qualifying pair (singletons are implicitly kept).
    * Cost shape: the shared pair frame + resolution (digest-sized),
    * one quality join against the corpus restricted by the
    * cluster-member semi-join, one `max_by` per cluster — all
    * cluster-graph-sized aggregates, never a corpus shuffle; quality
    * is the q30 scoring column, codegen'd. The oracle replays the
    * closure (q42's recursive CTE) + q30's quality formula + a
    * per-cluster argmax window.
    */
  def keepBestCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = resolveClusters(ngramJaccardPairsShared(spark, sfDir))
      .select(col("doc_id"), col("cluster_rep"))
    val quality = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.TextAnalysis
          .qualityScore(col("text"), TextQueries.Stopwords).as("quality"))
    val members = labels.join(quality, Seq("doc_id"))
    // per-cluster argmax: lexicographic (quality, -doc_id) max — the
    // 4dp-floored score is bitwise identical in both engines, so the
    // comparison can never straddle a representation boundary
    val best = members.groupBy(col("cluster_rep"))
      .agg(max_by(col("doc_id"),
        struct(col("quality"), (-col("doc_id")).as("nid"))).as("best_doc"))
    Present.smallSorted(
      members.join(best, Seq("cluster_rep"))
        .select(col("doc_id"), col("cluster_rep"), col("quality"),
          (col("doc_id") === col("best_doc")).as("kept")),
      "doc_id")
  }

  // ---- exact n-gram Jaccard (oracle-checkable) -------------------------

  /** Exact word-3-gram Jaccard near-dup pairs, blocked on a length
    * bucket (n_chars/32; a pair is compared iff their buckets differ
    * by ≤ 1). Fully portable semantics — no engine-specific hash — so
    * this is the dedup operator the DuckDB oracle replays verbatim.
    * Blocking bounds the quadratic step by bucket size; the two
    * equality-join branches (same bucket / adjacent bucket) both plan
    * as hash joins.
    *
    * Known semantics of fixed-width blocking: the reach is ±64 chars,
    * so near-identical LONG documents whose lengths differ more are
    * never compared (a j≥0.8 pair can legally differ by ~20% of
    * length). That is fine for this ≤512-char corpus and keeps the
    * blocking oracle-exact; the production path for arbitrary corpora
    * is [[minhashPairs]], whose LSH reach is length-independent.
    */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame =
    Present.smallSorted(
      ngramJaccardPairsShared(spark, sfDir, threshold), "ai", "bi")

  /** One MATERIALIZED exact-pair frame per (session, corpus,
    * threshold) — the q25 pair pipeline has four independent
    * consumers (the pair report q25, the kept corpus q46, the cluster
    * histogram q92, the governance matrix q151), and each used to
    * re-run the shingle/join pipeline from the parquet scan. The pair
    * OUTPUT is tiny (pair-graph-sized, not corpus-sized), so the
    * first consumer eagerly checkpoints it, releases the corpus-sized
    * shingle cache, and every later consumer reads the checkpointed
    * blocks — the corpus is scanned once per session, not once per
    * query. Entries of stopped sessions are dropped on the next call.
    *
    * STALENESS CONTRACT: the cache key is (session, path, threshold),
    * so the parquet under `sfDir` is assumed IMMUTABLE for the
    * session's lifetime — the fixture contract every bench/verify
    * entry point honors, and the same assumption Spark's own
    * relation cache makes for cached file-source reads. A pipeline
    * that rewrites a corpus directory mid-session must call
    * [[invalidateSharedPairs]] (or start a fresh session) or later
    * consumers read the pre-rewrite pairs; the checkpointed blocks
    * are likewise only released by invalidation or session stop.
    */
  private val sharedPairCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, Double), DataFrame]()

  /** Drop cached pair frames for `sfDir` (all thresholds) in this
    * session and release their checkpointed blocks — the hook for the
    * rewritten-corpus case in the staleness contract above.
    */
  def invalidateSharedPairs(spark: SparkSession, sfDir: String): Unit = {
    val it = sharedPairCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == spark && e.getKey._2 == sfDir) {
        e.getValue.unpersist(false)
        it.remove()
      }
    }
  }

  private[operators] def ngramJaccardPairsShared(spark: SparkSession,
      sfDir: String, threshold: Double = 0.8): DataFrame = {
    sharedPairCache.keySet.removeIf(_._1.sparkContext.isStopped)
    sharedPairCache.computeIfAbsent((spark, sfDir, threshold), _ => {
      val (pairs, docs) =
        ngramJaccardPairsBuild(spark, sfDir, threshold)
      val handle = pairs.localCheckpoint(true)
      docs.unpersist(false) // corpus-sized; only the build needed it
      handle
    })
  }

  /** The pair pipeline build: returns the lazy pair plan AND the
    * corpus-sized shingle cache it reads, so eager callers can release
    * the cache once the pairs materialize.
    */
  private def ngramJaccardPairsBuild(spark: SparkSession,
      sfDir: String, threshold: Double): (DataFrame, DataFrame) = {
    // per-row once: distinct shingles → sorted 64-bit hashes + size.
    // The pair stage then pays one merge walk per pair; |A∪B| is
    // |A|+|B|-|A∩B|. Jaccard over hashes equals Jaccard over shingles
    // (w.h.p.; 64-bit space), and the oracle replays the string form.
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_sort(shingleHashes(col("text"))).as("hss"),
        floor(col("n_chars") / 32).as("blk"))
      .withColumn("sz", size(col("hss")))
      .persist() // both blocking branches read it twice each

    def jaccard(a: Column, b: Column, sa: Column, sb: Column): Column =
      thresholdedJaccard(a, b, sa, sb, threshold)

    // output-preserving prefilter: |A∩B| ≤ min(|A|,|B|) ⇒ J(A,B) ≤
    // min/max, so pairs whose size ratio can't reach the threshold are
    // skipped before the merge walk. The 1e-4 slack covers the output
    // filter operating on round(j, 4): a pair whose rounded jaccard
    // passes has true j ≥ threshold − 5e-5 > threshold − 1e-4, and
    // j ≤ min/max, so no emitted pair is ever pruned — the oracle
    // (which has no prefilter) returns the identical set.
    def sizeCompatible(sa: Column, sb: Column): Column =
      least(sa, sb).cast("double") / greatest(sa, sb) >= threshold - 1e-4

    val l = docs.as("l")
    val r = docs.as("r")
    val same = l.join(r,
        col("l.blk") === col("r.blk") && col("l.doc_id") < col("r.doc_id") &&
          sizeCompatible(col("l.sz"), col("r.sz")))
      .select(col("l.doc_id").as("ai"), col("r.doc_id").as("bi"),
        jaccard(col("l.hss"), col("r.hss"), col("l.sz"), col("r.sz"))
          .as("jaccard"))
    val adjacent = l.join(r, col("l.blk") + 1 === col("r.blk") &&
        sizeCompatible(col("l.sz"), col("r.sz")))
      .select(least(col("l.doc_id"), col("r.doc_id")).as("ai"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("bi"),
        jaccard(col("l.hss"), col("r.hss"), col("l.sz"), col("r.sz"))
          .as("jaccard"))

    (same.union(adjacent).filter(col("jaccard") >= threshold), docs)
  }

  /** CROSS-SOURCE duplication matrix — the data-governance view of
    * near-dup detection: which source pairs leak into each other, and
    * how hard (pair count + mean Jaccard per unordered source pair).
    * The pair list is the oracle-proven exact blocked join (q25); the
    * tiny pair frame broadcasts onto the corpus-sized (doc, source)
    * dim twice — sources ride the pair rows, the corpus never
    * shuffles. Within-source dup shows on the diagonal.
    */
  def crossSourceDups(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame = {
    val src = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
    ngramJaccardPairsShared(spark, sfDir, threshold)
      .join(src.select(col("doc_id").as("ai"), col("source").as("sa")),
        "ai")
      .join(src.select(col("doc_id").as("bi"), col("source").as("sb")),
        "bi")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      // the mean of 4 dp jaccards OFTEN lands exactly on a half
      // boundary (e.g. (0.9690+0.9296)/2 = 0.94925) where Spark's
      // string-BigDecimal round and DuckDB's binary round disagree —
      // so the mean runs in EXACT permyriad integers with explicit
      // nearest division ((2s+n) div 2n), then converts
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 10000, 0).cast("long")).as("spm"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (expr("(2 * spm + n_pairs) div (2 * n_pairs)").cast("double")
          / 10000.0).as("avg_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q158: per-document cross-corpus DUPLICATION PROFILE at character
    * grain — the report a span-excision pass (Lee et al. 2022; the
    * positioned word-span detector is [[dupSpans]]/q70) consults to
    * DECIDE: for each document, how much of it is boilerplate shared
    * with other documents? Fixed-width character windows (catching
    * duplication that word tokenization splits differently —
    * punctuation/whitespace variants) come off one codegen'd in-row
    * transform+explode (never a per-row text copy per window); a
    * window is duplicated when it occurs in >1 DISTINCT documents
    * (in-doc repetition is q66's statistic, not dedup), and each doc
    * reports total vs duplicated window counts.
    *
    * Scale shape: two key-equality shuffles on the window key plus a
    * doc-grain aggregate; per-doc fan-out is len/stride rows. The
    * window key here is the raw `window`-char string so a SQL oracle
    * replays the computation verbatim; the 100 TB spelling hashes it
    * to 8 bytes first (xxhash64 — 4× less shuffle at these widths,
    * same join shape; a collision needs two distinct windows sharing
    * a 64-bit hash, odds the exact-dedup digests already accept).
    * stride > 1 trades recall for cost exactly like the paper's
    * suffix-array minimum-match-length: a duplicated run shorter than
    * window + stride − 1 chars can be missed, a run ≥ that long
    * always contains an aligned window.
    */
  def substringDedup(spark: SparkSession, sfDir: String,
      window: Int = 32, stride: Int = 16,
      hashKeys: Boolean = true): DataFrame = {
    val winRaw = Tables.load(spark, sfDir, "documents")
      .filter(length(col("text")) >= window)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), length(col("text")) - (window - 1), lit(stride)),
          p => col("text").substr(p, lit(window)))).as("w"))
    // hashKeys = the 100 TB spelling AND the registered default: the
    // two window-key shuffles move 8-byte hashes instead of
    // window-width strings (a collision needs two distinct windows
    // sharing a 64-bit hash — the same odds the exact-dedup digests
    // accept). The output counts are hash-invariant (spec-proven
    // identical to the raw spelling), so the SQL oracle — which
    // replays the RAW window strings — still hash-PASSes against it.
    val wins = winRaw.select(col("doc_id"),
      (if (hashKeys) xxhash64(col("w")) else col("w")).as("win"))
    val dup = wins.groupBy("win")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1)
      .select("win")
    val tot = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val dups = wins.join(dup, Seq("win"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    tot.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .orderBy("doc_id")
  }
}
