package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis._
import graft.sources.Tables

/** Corpus-analysis queries over the documents table — the text-side
  * LLM-pipeline operators (token budgets, quality filtering, language
  * routing, fingerprinting). One scan each; every measure is a column
  * expression fused into the scan by whole-stage codegen.
  */
object TextQueries {

  /** Corpus stopwords (function words present in the synthetic
    * vocabulary).
    */
  val Stopwords: Seq[String] = Seq("the", "a")

  /** Shared per-(session, corpus) 3-gram FIRST-OCCURRENCE index:
    * `(g: xxhash64 of the gram, first_doc: min doc_id containing it)`
    * — the table an incremental near-dup index keeps anyway, built by
    * ONE shingle explode + one map-side-combined aggregate and then
    * `localCheckpoint`ed so q175 (novelty) and q176 (vocab growth)
    * both read it without re-running the corpus scan (the
    * [[Dedup.ngramJaccardPairsShared]] precedent). The cache is
    * NDV-sized (gram vocabulary, Heaps-sublinear in corpus tokens),
    * NOT corpus-token-sized — at 100 TB it is the dedup index's own
    * footprint, orders smaller than the exploded gram stream the
    * previous spelling persisted. Keys are 8-byte hashes, never gram
    * strings (the q158 discipline); a 64-bit collision merges two
    * grams with probability ~NDV²/2⁶⁵ — below any practical corpus.
    *
    * STALENESS CONTRACT (same as sharedPairCache): `sfDir` parquet is
    * assumed immutable for the session; a corpus rewrite must call
    * [[invalidateGramIndex]] or start a fresh session.
    */
  private val gramFirstDocCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), DataFrame]()

  private[operators] def gramFirstDoc(spark: SparkSession,
      sfDir: String): DataFrame = {
    gramFirstDocCache.keySet.removeIf(_._1.sparkContext.isStopped)
    gramFirstDocCache.computeIfAbsent((spark, sfDir), _ =>
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shingleHashes(col("text")))
            .as("g"))
        .groupBy("g").agg(min("doc_id").as("first_doc"))
        .localCheckpoint(true))
  }

  /** Drop the cached first-occurrence index for `sfDir` in this
    * session and release its checkpointed blocks.
    */
  def invalidateGramIndex(spark: SparkSession, sfDir: String): Unit = {
    val it = gramFirstDocCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == spark && e.getKey._2 == sfDir) {
        e.getValue.unpersist(false)
        it.remove()
      }
    }
  }

  /** Token counting: whitespace tokens, BPE-ish subword units, mean
    * word length.
    */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        regexTokenCount(col("text")).cast("long").as("n_word_tokens"),
        round(avgWordLen(col("text")), 4).as("avg_word_len"))
      .orderBy("doc_id")

  /** Quality scoring: stopword ratio, vocabulary diversity, composite
    * score — the heuristic pre-training quality filter.
    */
  def qualityScores(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        round(stopwordRatio(col("text"), Stopwords), 4).as("stopword_ratio"),
        round(distinctRatio(col("text")), 4).as("distinct_ratio"),
        qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy("doc_id")

  /** Language ID over the corpus (rows-only: the heuristic's accuracy
    * is unit-tested on real multilingual fixtures; this corpus's text
    * is English-shaped regardless of its `lang` label).
    */
  def langIdQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        langId(col("text")).as("predicted_lang"))
      .orderBy("doc_id")

  /** Rolling-hash document fingerprints + exact-dup detection by
    * fingerprint collision count.
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Hashing-trick term frequencies: every token hashed into `dim`
    * buckets with the portable rolling hash, counted per (doc,
    * bucket) — the reference's categorical hash-bucketing
    * (trainer.py:262-267) applied to text, for the scale where a vocab
    * table can't exist. One explode + one count, both map-side
    * combinable; the bucket function is the same pure-arithmetic fold
    * the oracle replays, so the feature vectors are engine-portable.
    */
  def hashedTf(spark: SparkSession, sfDir: String,
      dim: Int = 64): DataFrame =
    rawTf(spark, sfDir, dim).orderBy("doc_id", "bucket")

  /** The (doc, bucket, tf) frame hashedTf and hashedTfIdf share. */
  private[graft] def rawTf(spark: SparkSession, sfDir: String,
      dim: Int): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .withColumn("bucket",
        pmod(fingerprint(col("w")), lit(dim.toLong)))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))

  /** Hashed TF-IDF: the q54 term frequencies weighted by inverse
    * document frequency — tf·ln(N/df) per (doc, bucket). The df table
    * is bucket-sized (≤ dim rows: tf rows are already distinct per
    * (doc, bucket), so df is a plain count), broadcast onto the tf
    * frame, which is computed once and persisted across its two
    * readers; the corpus size N is a collected parameter (a scalar
    * crossJoin would plan as a 1-row BroadcastNestedLoopJoin). At any
    * corpus size the only full-data exchange is the tf aggregation.
    */
  def hashedTfIdf(spark: SparkSession, sfDir: String,
      dim: Int = 64): DataFrame = {
    val tf = rawTf(spark, sfDir, dim).persist()
    val df = tf.groupBy("bucket").agg(count(lit(1)).as("df"))
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    tf.join(broadcast(df), Seq("bucket"))
      .select(col("doc_id"), col("bucket"), col("tf"),
        round(col("tf") *
          log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
      .orderBy("doc_id", "bucket")
  }

  /** Unigram language-model scoring: each document's mean token
    * log-likelihood under the corpus's own unigram distribution — the
    * cheap "fluency" quality signal (a document of corpus-typical
    * words scores high; rare-token soup scores low). Two aggregation
    * passes over the exploded tokens: (1) corpus token counts — vocab-
    * sized, map-side combined, persisted because both the total and the
    * scoring join read it; (2) token→count join + per-doc mean of
    * ln(cnt/total). The count table is broadcast here (this vocabulary
    * fits); when a real corpus's vocab outgrows the broadcast
    * threshold, drop the hint and the same plan shuffles tokens once —
    * or keep the `freq_topk` head vocabulary broadcast and smooth the
    * tail as OOV. The grand total is collected as a parameter (one
    * vocab-sized aggregate over the persisted counts) rather than
    * cross-joined — a scalar crossJoin plans as a 1-row
    * BroadcastNestedLoopJoin, and the no-BNLJ invariant is worth one
    * tiny job.
    */
  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame =
    docLogProb(spark, sfDir).orderBy("doc_id")

  /** The shared per-document scoring frame (doc_id, n_tokens,
    * avg_logprob) behind [[unigramLogProb]] and
    * [[perplexityBuckets]] — unsorted, so consumers pick their own
    * output order.
    */
  private def docLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    // the TWO tokenize passes are kept DELIBERATELY (r14 measured the
    // VERDICT-suggested single-tokenize alternatives and both LOST):
    // a persisted per-doc run-length sketch (array_sort + run starts,
    // exploded by both consumers) benched q64 0.66→1.01 s / q171
    // 1.23→1.91 s against the driver's r28 baseline — the string sort
    // plus writing/reading a string-heavy doc-grain cache costs more
    // than re-splitting the text, which is one codegen'd pass with no
    // materialization. Same verdict as q126's tokenize-dedup attempts.
    // At 100 TB the trade may flip; it flips on measurement, not here.
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val counts = toks.groupBy("w").agg(count(lit(1)).as("cnt")).persist()
    // sum() over an empty corpus is null; default 1 keeps the (empty)
    // result frame constructible instead of NPE-ing here
    val total = Option(counts.agg(sum("cnt")).collect()(0).get(0))
      .fold(1L)(_.asInstanceOf[Long])
    // registered AFTER the total collect (which read the cache): the
    // next consumer is the returned frame's own scoring action, which
    // releases it (lazy-return hygiene)
    graft.plans.CacheRelease.afterFirstUse(counts)
    toks.join(broadcast(counts), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / lit(total.toDouble))), 4)
          .as("avg_logprob"))
  }

  /** Perplexity-bucketed corpus filtering (the CCNet discipline: score
    * every document under a language model, split the corpus into
    * head / middle / tail THIRDS by score, and train on head+middle —
    * the tail is the noisy third). The LM here is the corpus's own
    * unigram distribution ([[unigramLogProb]]'s scoring), the cheap
    * stand-in for CCNet's KenLM; the bucketing and filtering machinery
    * is the part a pipeline keeps when the scorer is swapped.
    *
    * Buckets are RANK-exact (each document's position in the fluency
    * order decides its third, ties broken by doc_id) — but no
    * corpus-wide window runs: a global `row_number() OVER (ORDER BY
    * score)` is a single-partition WindowExec, the one operator shape
    * this engine bans. Instead the [[vocabIndex]] discipline: the
    * doc-level frame groups per distinct (4 dp-rounded) score —
    * NDV-sized, collected, exclusive-prefix-scanned on the driver into
    * per-score starting offsets — and each document's rank is its
    * score's offset plus a row_number PARTITIONED by score (parallel,
    * and skew-bounded because a 4 dp score bucket holds only
    * hash-collision-scale populations). The oracle replays the plain
    * global-window spelling, so the sharded rank is hash-proven
    * equivalent. bucket = floor(3·(rank−1)/n) in pure integer math —
    * no float threshold can disagree between engines.
    *
    * Scale: the ranked frame is doc-level (one row per document, two
    * columns) — the corpus text is touched only by the scoring
    * aggregate; the driver collect is NDV(score)-sized (≤ 10⁴ distinct
    * 4 dp values per ln-unit of score range), orders of magnitude
    * below the document count at any corpus size.
    */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // persisted: the sizes collect AND the final join both read this
    // frame — an unpersisted plan would scan the corpus twice, and a
    // re-evaluated avg() could round a boundary score differently
    // between the two passes (the offsets table must describe exactly
    // the rows the join sees)
    val scored = docLogProb(spark, sfDir).select("doc_id", "avg_logprob")
      .persist()
    // per-score populations: NDV-sized, the offsets table of the
    // sharded rank (fluency DESCENDS: head = highest mean logprob)
    val sizes = scored.groupBy("avg_logprob").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy { case (s, _) => -s }
    var running = 0L
    val offsets = sizes.map { case (s, c) =>
      val o = running; running += c; (s, o)
    }.toSeq.toDF("avg_logprob", "off")
    val n = running // total scored docs, a by-product of the scan
    // the sizes collect above was the last INTERNAL read; the returned
    // frame's first action releases the cache (lazy-return hygiene)
    graft.plans.CacheRelease.afterFirstUse(scored)
    val w = Window.partitionBy("avg_logprob").orderBy("doc_id")
    scored.join(broadcast(offsets), Seq("avg_logprob"))
      .withColumn("rnk", col("off") + row_number().over(w))
      // integer tertile: floor(3(rank-1)/n) = 0|1|2; keep head+middle
      .filter((col("rnk") - 1) * 3 < lit(2L * n))
      .select(col("doc_id"), col("avg_logprob"),
        when((col("rnk") - 1) * 3 < lit(n), lit("head"))
          .otherwise(lit("middle")).as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Per-document n-gram NOVELTY profile: how much of each document's
    * (distinct) 3-gram vocabulary is FIRST INTRODUCED by that document
    * under the doc_id order — the corpus-contribution signal curation
    * uses to spot boilerplate-heavy additions (near-zero novelty late
    * in a crawl = the document restates what the corpus already has;
    * the inverse view of the dedup family's similarity scores).
    *
    * Plan shape (no gram-grain join-back — the first spelling joined
    * the exploded grams against the first-occurrence table and ran
    * 3× slower): per-doc totals come FREE off the shingle array
    * (`size` — wordShingles is already distinct per doc), the
    * first-occurrence index is ONE map-side-combined aggregate over
    * 8-byte HASHED gram keys (the q158 lesson: identity-only keys
    * never shuffle strings; a 64-bit collision is ~NDV²/2⁶⁵ — below
    * any practical corpus), and a SECOND tiny aggregate of that
    * NDV-sized table gives novel counts per doc — so the only join is
    * doc-grain ⋈ doc-grain. The novelty ratio is exact scaled
    * integers (basis points via the engine's `(2·10⁴·k + n) div (2n)`
    * nearest rounding) — no float division can disagree with the
    * oracle.
    *
    * Shingling reuses [[Dedup.wordShingles]] (distinct 3-grams,
    * whole-text fallback under 3 words), so the novelty profile and
    * the near-dup pipeline score the SAME vocabulary.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    // per-doc totals come FREE off the shingle array (`size` over the
    // already-distinct wordShingles) — a narrow map, no explode, no
    // shuffle; the expensive first-occurrence aggregate is the SHARED
    // NDV-sized index [[gramFirstDoc]] (one shingle scan amortized
    // with q176 instead of a private corpus-token-sized persist each)
    // single-pass hash kernel, not wordShingles: size over the
    // distinct-hash array equals the distinct-string gram count
    // (w.h.p., 64-bit space — same identification the novelty
    // grouping below already makes) and skips materializing gram
    // strings, which benched 10× slower than the kernel
    val perDoc = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(graft.operators.Dedup.shingleHashes(col("text")))
          .cast("long").as("n_grams"))
    val novel = gramFirstDoc(spark, sfDir)
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("novel_grams"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"),
        expr("(2 * 10000 * coalesce(novel_grams, 0L) + n_grams)" +
          " div (2 * n_grams)").as("novelty_bp"))
      .orderBy("doc_id")
  }

  /** Vocabulary GROWTH curve (the Heaps-law empirics a corpus health
    * dashboard plots): per ingest batch, how many never-before-seen
    * 3-GRAMS arrived and the cumulative gram vocabulary. Grams, not
    * unigrams: a small word vocabulary saturates in the first batch
    * (this corpus's does), while the gram space keeps growing — the
    * same reason the dedup family shingles ([[Dedup.wordShingles]] is
    * reused, so the curve tracks exactly the vocabulary the near-dup
    * index stores). Batches follow the incremental family's id-range
    * convention (day = doc_id div `batchSize` — the corpus tables
    * carry no timestamps). One shingle scan → per-gram min first day
    * (the first-occurrence index an incremental index keeps anyway) →
    * day-grain counts → [[PrefixSum]] cumulative — gram-NDV shuffle
    * once, never a single-partition window; the oracle replays the
    * window spelling, so the sharded cumsum is hash-proven
    * equivalent. A flattening curve = the crawl is re-delivering
    * known language; a kink = a new source entered the mix.
    */
  def vocabGrowth(spark: SparkSession, sfDir: String,
      batchSize: Long = 100L): DataFrame = {
    // first_day derives from the SHARED first-occurrence index: the
    // day partition is monotone in doc_id (day = doc_id div b,
    // doc_id ≥ 0), so min(doc_id) div b == min(doc_id div b) — the
    // whole shingle scan is amortized with q175 and the only new work
    // is a day-grain aggregate over the NDV-sized index
    val firstDay = gramFirstDoc(spark, sfDir)
      .select(expr(s"first_doc div ${batchSize}L").as("first_day"))
    // persisted (day-grain, tiny): PrefixSum reads its input twice
    // (shard sizes, then the cumsum join) — unpersisted, the whole
    // shingle pipeline would run twice (the lengthCdf discipline)
    val perDay = firstDay.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_terms"))
      .persist()
    PrefixSum.withGlobalCumSum(perDay, "day", col("new_terms"),
        "cum_vocab", shardWidth = 64)
      .select(col("day"), col("new_terms"), col("cum_vocab"))
      .orderBy("day")
  }

  /** Exact empirical CDF of document length WITHOUT a window over the
    * corpus: cume_dist spelled as per-value counts (one map-side-
    * combined aggregate, NDV-sized output) → sharded prefix sum over
    * the distinct values ([[PrefixSum]] — never a single-partition
    * WindowExec) → broadcast join back onto the scan. The corpus is
    * ranked in one shuffle of NDV rows where the window spelling
    * sorts every row; the oracle replays the window spelling
    * (`cume_dist() OVER (ORDER BY n_chars)`), so the rewrite is
    * hash-proven equivalent.
    */
  def lengthCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val counts = docs.groupBy("n_chars").agg(count(lit(1)).as("c")).persist()
    val cdf = PrefixSum.withGlobalCumSum(counts, "n_chars", col("c"), "cum",
      shardWidth = 64)
    // the corpus size is a collected parameter (NDV-sized aggregate
    // over the persisted counts), not a scalar crossJoin — which would
    // plan as a 1-row BroadcastNestedLoopJoin; sum() over an empty
    // corpus is null → default 1 keeps the empty frame constructible
    val total = Option(counts.agg(sum("c")).collect()(0).get(0))
      .fold(1L)(_.asInstanceOf[Long])
    docs
      .join(broadcast(cdf.select(col("n_chars"), col("cum"))), Seq("n_chars"))
      .select(col("doc_id"), col("n_chars"),
        round(col("cum") / lit(total.toDouble), 4).as("len_cdf"))
      .orderBy("doc_id")
  }

  /** Frequency-ranked vocabulary (StringIndexer's fit step): every
    * term gets a dense 1-based id ordered by (freq desc, term asc) —
    * the id assignment a tokenizer/embedding table consumes. The rank
    * is a TOTAL order over the vocab, but no corpus-wide window runs:
    * rows shard by (freq, first-letter-of-term) — a pure function of
    * the data whose bucket order ((freq desc, prefix asc)) refines the
    * target order, so per-shard offsets are an exclusive prefix scan
    * over the collected shard sizes (metadata-scale: |distinct freqs| ×
    * |alphabet|, the same collect PrefixSum does), and the within-shard
    * row_number window is PARTITIONED — parallel, skew-bounded even
    * though half a real vocabulary is hapax legomena (freq=1 alone
    * would be one giant window partition; the letter sub-shard splits
    * it). The oracle replays the plain `row_number() OVER (ORDER BY
    * freq DESC, term)` spelling, so the sharded rank is hash-proven
    * equivalent.
    */
  def vocabIndex(spark: SparkSession, sfDir: String): DataFrame =
    rankedVocab(spark, sfDir).orderBy("term_id")

  /** The (term, term_id, freq) frame vocabIndex and encodeTokens
    * share, unsorted.
    */
  private def rankedVocab(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val counts = Tables.load(spark, sfDir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .withColumn("pfx", substring(col("term"), 1, 1))
    // shard sizes: one row per (freq, first letter) — metadata-scale
    val sizes = counts.groupBy("freq", "pfx").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy { case (f, p, _) => (-f, p) }
    var running = 0L
    val offsets = sizes.map { case (f, p, n) =>
      val o = running; running += n; (f, p, o)
    }.toSeq.toDF("freq", "pfx", "off")
    val w = Window.partitionBy("freq", "pfx").orderBy("term")
    counts.join(broadcast(offsets), Seq("freq", "pfx"))
      .withColumn("term_id", col("off") + row_number().over(w))
      .select(col("term"), col("term_id"), col("freq"))
  }

  /** Token-id encoding (StringIndexer's transform step): each document
    * rewritten as (doc_id, pos, term_id) triples under the
    * [[vocabIndex]] vocabulary — the corpus a training pipeline
    * actually feeds the model. Positions come from the ORIGINAL token
    * array (posexplode before the empty-token filter), so ids stay
    * aligned with the raw text. The vocabulary is broadcast (it fits
    * here; past the broadcast threshold the same plan shuffles tokens
    * by term once — the corpus-side exchange is unavoidable when the
    * vocab can't ship to every task).
    */
  def encodeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    toks.join(broadcast(rankedVocab(spark, sfDir).select("term", "term_id")),
        Seq("term"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("term_id"))
      .orderBy("doc_id", "pos")
  }

  /** Gopher-style repetition metrics: the fraction of a document made
    * of its single most-frequent word bigram, and the duplicate-token
    * fraction (1 − type/token ratio) — the intra-document repetition
    * filters that catch boilerplate and generation loops. The bigram
    * mode is computed per row by the [[graft.functions.BigramModeCount]]
    * kernel (one token walk, per-row hash map), so the whole pass is
    * column expressions fused into the scan — no explode, no shuffle at
    * any corpus size. The oracle replays it as unnest + GROUP BY + max.
    * (The composable `aggregate`-fold spelling is not codegen-safe —
    * see the kernel's scaladoc.)
    */
  /** One iteration of pair-merge tokenizer training (the BPE outer
    * loop at word granularity): the corpus-wide top-`k` adjacent token
    * pairs — the candidates the next merge would adopt. Positioned
    * word bigrams ([[Dedup.wordGrams]]) explode into one map-side-
    * combined count; the top-k is rank-then-limit over the (vocab²-
    * bounded, in practice vocab-sized) pair table, so the corpus
    * shuffles only partial counts. Docs under two tokens carry no
    * pair and contribute an empty array (the explode drops them). A
    * full BPE train is this query in a loop with the merge applied
    * between rounds; each iteration stays one scan + one narrow
    * aggregate at any corpus size. Pairs come from the one-pass
    * [[graft.functions.WordBigrams]] kernel — the `transform` +
    * `element_at` spelling is an interpreted HOF per gram and
    * measured ~7× slower on the sf0.1 scan.
    */
  def bpeMergeCandidates(spark: SparkSession, sfDir: String,
      k: Int = 20): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextKernels
        .word_bigrams(col("text"))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(k)

  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nGrams = when(size(ws) >= 2, size(ws) - 1).otherwise(lit(1))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        round(graft.functions.TextKernels.bigram_mode_count(col("text"))
          .cast("double") / nGrams, 4)
          .as("top_bigram_frac"),
        round(lit(1.0) -
          size(array_distinct(ws)).cast("double") / size(ws), 4)
          .as("dup_token_frac"))
      .orderBy("doc_id")
  }

  /** Multinomial Naive Bayes language classifier (Laplace α=1),
    * trained and applied on the corpus itself — the classic generative
    * text model as two aggregates and one broadcast join, no ML
    * library. Model build: class priors and token totals are a
    * |langs|-row collect (model state — the parameter pattern), the
    * vocabulary-sized per-token class counts PIVOT to one column per
    * class so the whole model broadcasts as a single vocab-keyed
    * frame. Apply: ONE pass over the exploded corpus — each token
    * joins the broadcast model row, per-class log-likelihoods sum in
    * the same doc-grouped aggregate (partial aggregation reduces every
    * task to |langs| sums per doc before the shuffle), and the argmax
    * is a codegen'd array_min over (−score, lang) structs, so the
    * tie-break (highest score, then lang ascending) is explicit and
    * engine-portable. Scores round to 6 dp — the fixture's smallest
    * top-2 margin is ~3e-3, six orders above cross-engine ln noise.
    * Output: the (true lang × predicted lang) confusion matrix.
    */
  def naiveBayesLang(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text")
    // kept UN-cached deliberately (r14 measured both alternatives): a
    // run-length sketch cache re-read by all four consumers ran 1.71 s
    // vs 1.46 s (the per-doc array_sort costs more than three saved
    // tokenizes), and a plain persisted token stream ran the same 1.70
    // (cache write+read of corpus-token rows beats four cheap codegen
    // splits). The four tokenize subtrees are the fastest spelling at
    // this corpus shape; at 100 TB the token totals/vocab/model fold
    // into stored corpus statistics long before this query runs raw.
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val nDocsByLang = docs.groupBy("lang").agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nToksByLang = toks.groupBy("lang").agg(count(lit(1)).as("nt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = toks.select("w").distinct().count()
    val nDocs = nDocsByLang.values.sum
    // candidate classes come from the TOKEN-bearing corpus (the oracle's
    // ntok CTE): a lang whose docs are all empty has no likelihood model
    // and must not appear as a candidate (nToksByLang has no key for it)
    val langs = nToksByLang.keys.toSeq.sorted
    val model = toks.groupBy("w").pivot("lang", langs).agg(count(lit(1)))
    val scoreCols = langs.map { l =>
      val prior = math.log(nDocsByLang(l).toDouble / nDocs)
      val denom = (nToksByLang(l) + vocab).toDouble
      round(
        sum(log((coalesce(col(s"`$l`"), lit(0L)).cast("double") + 1.0) /
          lit(denom))) + lit(prior), 6).as(s"score_$l")
    }
    val perDoc = toks.join(broadcast(model), Seq("w"), "left")
      .groupBy("doc_id", "lang")
      .agg(scoreCols.head, scoreCols.tail: _*)
    val best = array_min(array(langs.map(l =>
      struct((-col(s"score_$l")).as("ns"), lit(l).as("pl"))): _*))
    perDoc.select(col("lang"), best.getField("pl").as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Count-Min sketch over the token stream, audited against exact
    * counts — the point-frequency member of the sketch family (HLL =
    * NDV, Misra–Gries = top-k, Bloom = membership). Four counter rows
    * of `width` buckets, hashed by pairwise-independent
    * (aᵢ·fp + bᵢ mod p) mod width over the SAME portable polynomial
    * fingerprint the oracle replays character by character — so unlike
    * a library sketch, every counter is engine-portable and the whole
    * structure hash-compares. Counter addition is associative, so the
    * sketch builds from the vocabulary-sized count table (one corpus
    * shuffle) rather than per-token increments — identical counters,
    * strictly cheaper; at stream scale the same d×width array IS the
    * per-task partial aggregate. Output: the top-k tokens with exact
    * count and CM estimate (est ≥ exact always; equality whenever no
    * bucket collision survives the row-wise min).
    */
  def countMinEstimates(spark: SparkSession, sfDir: String,
      width: Int = 64, topK: Int = 20): DataFrame = {
    val P = 1000000007L
    val A = Seq(982451653L, 735632797L, 352654597L, 97L)
    val B = Seq(7L, 11L, 13L, 17L)
    val counts = Tables.load(spark, sfDir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .withColumn("fp", fingerprint(col("w")))
      .groupBy("w", "fp").agg(count(lit(1)).as("cnt")).persist()
    def bucket(i: Int) =
      pmod((lit(A(i)) * col("fp") + lit(B(i))) % lit(P), lit(width.toLong))
    val rows = A.indices.map { i =>
      counts.select(lit(i).as("row_i"), bucket(i).as("bucket"), col("cnt"))
    }.reduce(_ unionByName _)
    val sketch = rows.groupBy("row_i", "bucket")
      .agg(sum("cnt").as("counter"))
    val probes = counts.orderBy(desc("cnt"), asc("w")).limit(topK)
    val probeBuckets = A.indices.map { i =>
      probes.select(col("w"), col("cnt"), lit(i).as("row_i"),
        bucket(i).as("bucket"))
    }.reduce(_ unionByName _)
    val out = probeBuckets.join(broadcast(sketch), Seq("row_i", "bucket"))
      .groupBy("w")
      .agg(max("cnt").as("exact_cnt"), min("counter").as("cm_est"))
      .orderBy(desc("exact_cnt"), asc("w"))
    // the report is topK rows — materialize it, then drop the
    // vocab-sized cache deterministically (the Percentiles discipline;
    // a lazy return would leak it for the session)
    val report = out.collect().toSeq
    counts.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(report, 1), out.schema)
  }

  /** PMI COLLOCATIONS — the statistical phrase detector of an LLM
    * data pipeline (word2vec-style phrase mining): top unordered
    * adjacent-token pairs by pointwise mutual information
    * ln(p(x,y) / (p(x)·p(y))), with a minimum pair count against PMI's
    * rare-pair bias.
    *
    * Scale shape: tokenization explodes map-side; adjacency is a lag
    * window PARTITIONED BY doc (bounded by document length, never
    * corpus-sized); pair and unigram counts are map-side-combinable
    * aggregates whose shuffles carry NDV-sized frames; the two corpus
    * totals broadcast as 1-row cross joins. The min-count filter
    * prunes the long tail BEFORE the join back to unigram counts.
    *
    * Determinism: counts are exact longs; the one double expression
    * (ln of a product/quotient of count casts) is spelled identically
    * in the oracle, and the final order is (rounded pmi, pair) — the
    * ln-libm discipline q64/q71 established.
    */
  /** BM25 KEYWORD RETRIEVAL — the ranking function tf (q54) and tf-idf
    * (q71) build toward: Okapi BM25 with document-length normalization
    * (k1 = 1.2, b = 0.75) for a fixed query-term set, top `topK` docs.
    *
    * One tokenization pass feeds doc lengths AND term frequencies; the
    * per-term document frequencies and the two corpus totals are
    * NDV-/1-row-sized broadcasts; scoring touches only docs matching a
    * query term (the tf frame, pruned before any join). Every count is
    * an exact long; the double score spells its literals (2.2 = k1+1,
    * 0.25 = 1−b) directly so both engines parse identical constants.
    */
  def bm25TopK(spark: SparkSession, sfDir: String,
      query: Seq[String] = Seq("join", "filter", "scan"),
      topK: Int = 20): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("w").isin(query: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val nToks = toks.agg(count(lit(1)).as("ntok"))
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(nToks))
      .withColumn("idf",
        log((col("nd").cast("double") - col("df").cast("double")
          + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("s", col("idf") *
        (col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") /
              (col("ntok").cast("double") / col("nd").cast("double"))))))
      .groupBy("doc_id")
      .agg(round(sum("s"), 4).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(topK)
  }

  def pmiPairs(spark: SparkSession, sfDir: String,
      minCount: Int = 5, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "w")
      .filter(col("w") =!= "")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("nxt", lead("w", 1).over(byDoc))
      .filter(col("nxt").isNotNull && col("w") =!= col("nxt"))
      .select(least(col("w"), col("nxt")).as("x"),
        greatest(col("w"), col("nxt")).as("y"))
    val cp = bi.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
    val mTot = cp.agg(sum("n_xy").as("mm"))
    val cu = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val nTot = cu.agg(sum("c").as("n"))
    cp.filter(col("n_xy") >= minCount)
      .join(cu.select(col("w").as("x"), col("c").as("cx")), "x")
      .join(cu.select(col("w").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(mTot))
      .crossJoin(broadcast(nTot))
      .select(col("x"), col("y"), col("n_xy"),
        round(log(col("n_xy").cast("double") * col("n").cast("double") *
          col("n").cast("double") /
          (col("mm").cast("double") * col("cx").cast("double") *
            col("cy").cast("double"))), 4).as("pmi"))
      .orderBy(desc("pmi"), asc("x"), asc("y"))
      .limit(topK)
  }
}
