package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers, per the usual ANN playbook:
  *  - exact brute-force cosine (the baseline and the oracle-checkable
  *    form) — a single scan with a codegen'd fold per row; right
  *    whenever the candidate set is already bounded;
  *  - IVF (inverted-file) index — k-means cells, queries probe the
  *    nProbe nearest cells. At 100 TB the cell assignment is the
  *    partition key: each cell's vectors co-locate, a query touches
  *    nProbe partitions instead of the full corpus, and recall/cost is
  *    tuned by (k, nProbe), exactly like FAISS IVF-Flat.
  *
  * All arithmetic is double, accumulated in element order, so DuckDB
  * (same order, same width) agrees bit-for-bit before rounding.
  */
object Similarity {

  import graft.functions.VectorMath.dot_product

  /** Cosine similarity of two array<double> columns — native
    * DotProduct kernel (one primitive loop per pair, same IEEE
    * element-order accumulation as the oracle).
    */
  def cosine(a: Column, b: Column): Column =
    dot_product(a, b) / (sqrt(dot_product(a, a)) * sqrt(dot_product(b, b)))

  /** Cosine when per-row norms are already materialized — the pair
    * joins use this: one dot per pair instead of three.
    */
  def cosinePrenormed(dot: Column, normA: Column, normB: Column): Column =
    dot / (normA * normB)

  private def embeddingsAsDouble(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))

  /** Embeddings with the norm precomputed once per row (sqrt of the
    * self-dot) — the factor the O(pairs) stage must not recompute.
    */
  private def embeddingsWithNorm(spark: SparkSession, sfDir: String): DataFrame =
    embeddingsAsDouble(spark, sfDir)
      .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))

  /** The query vector: row `vecId`'s embedding, collected to the
    * driver (one row — the standard "parameter" pattern; at scale this
    * is the user-supplied query, not a scan).
    */
  def queryVector(spark: SparkSession, sfDir: String, vecId: Long): Seq[Double] =
    embeddingsAsDouble(spark, sfDir).filter(col("vec_id") === vecId)
      .select("v").collect()(0).getSeq[Double](0)

  /** Brute-force cosine top-k against the query vector — the exact
    * baseline. Ordered by rounded score (so float jitter can't flip
    * ranks across engines) with vec_id tie-break.
    */
  def cosineTopK(spark: SparkSession, sfDir: String,
      vecId: Long = 0L, k: Int = 20): DataFrame = {
    val q = typedlit(queryVector(spark, sfDir, vecId))
    embeddingsAsDouble(spark, sfDir)
      .filter(col("vec_id") =!= vecId)
      .select(col("vec_id"), round(cosine(col("v"), q), 4).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Batch k-NN join: for each vector in a small query set, the k
    * nearest corpus vectors by cosine. The query set broadcasts (it is
    * the small side by construction — a probe batch, not a corpus), so
    * the corpus is scanned ONCE with no shuffle of vectors at all; the
    * per-query top-k runs through the bounded [[graft.functions.TopKRows]]
    * aggregate, so each map task reduces its corpus slice to ≤ k rows
    * per query before the exchange — the shuffle carries
    * O(k · queries) rows, never the n·q scored pairs, and no sort runs.
    * At 100 TB this is the retrieval shape: broadcast the probe batch,
    * one scan, k·q rows out. Ranks are deterministic: rounded cosine
    * descending, neighbor id ascending — exactly the oracle's
    * row_number ordering.
    */
  def knnJoin(spark: SparkSession, sfDir: String,
      numQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = embeddingsWithNorm(spark, sfDir).select("vec_id", "v", "nrm")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosinePrenormed(dot_product(col("v"), col("qv")),
          col("nrm"), col("qnrm")), 4).as("cosine"))
      .groupBy("q_id")
      .agg(graft.functions.TopKFunctions.topk_rows(
        col("cosine"), col("vec_id"),
        struct(col("vec_id"), col("cosine")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.vec_id").as("neighbor_id"),
        col("col.cosine").as("cosine"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy("q_id", "rk")
  }

  /** Exact embedding near-duplicate pairs: all (ai<bi) with cosine ≥
    * threshold. O(n²) by design — this is the oracle-checkable exact
    * form; [[ivfTopK]] is the scale path.
    */
  def embeddingPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    // persisted: both sides of the all-pairs join read this frame —
    // unpersisted, each side re-ran the scan + norm projection. The
    // result is corpus-sized (no collect-release possible), so the
    // cache releases on the returned frame's FIRST consuming action
    // (CacheRelease — the r13 leak on this lazy-return path).
    val e = graft.plans.CacheRelease.afterFirstUse(
      embeddingsWithNorm(spark, sfDir).persist())
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"),
        round(cosinePrenormed(dot_product(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    Present.smallSorted(pairs, "ai", "bi")
  }

  /** Exact embedding near-duplicate pairs via a grid-blocked
    * self-join — the scale path for the [[embeddingPairs]] answer at
    * LOW thresholds, where angular LSH cannot separate τ from the
    * background (this corpus plants near-dups at cosine 0.4–0.5 over
    * a background that reaches 0.3999: at τ=0.4 every LSH operating
    * point either misses pairs or candidates nearly everything, so
    * exact-but-distributed is the honest algorithm; [[lshPairs]]
    * remains the right tool when τ ≥ ~0.8).
    *
    * Shape: vectors land in one of `numBlocks` blocks by vec_id; the
    * B(B+1)/2 unordered block pairs form a tiny broadcast grid; each
    * vector replicates to its grid cells and the all-pairs work
    * distributes as ONE equality shuffle join on the cell id — no
    * BroadcastNestedLoopJoin, no full-corpus broadcast, each
    * unordered pair computed exactly once (off-diagonal cells pair
    * disjoint blocks; diagonal cells keep `lid < rid`). Shuffle
    * volume is O(n·B) rows while the n²d/2 FLOPs spread over
    * B(B+1)/2 independent tasks — B is the granularity knob a
    * 1000-executor cluster turns (B ≈ √(2·targetTasks)), and the
    * answer stays bit-identical to the brute-force oracle.
    */
  def blockedEmbeddingPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, numBlocks: Int = 8): DataFrame =
    blockedPairs(embeddingsWithNorm(spark, sfDir)
      .select("vec_id", "v", "nrm"), threshold, numBlocks)

  /** [[blockedEmbeddingPairs]] over any (vec_id, v: array<double>,
    * nrm) frame — the corpus-agnostic form.
    */
  def blockedPairs(vectors: DataFrame, threshold: Double,
      numBlocks: Int = 8): DataFrame =
    Present.smallSorted(
      blockedPairsUnsorted(vectors, threshold, numBlocks), "ai", "bi")

  private[operators] def blockedPairsUnsorted(vectors: DataFrame,
      threshold: Double, numBlocks: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val grid = (for { i <- 0 until numBlocks; j <- i until numBlocks }
      yield (i, j, i * numBlocks + j)).toDF("blo", "bhi", "cell")
    // persisted: the l and r legs of the grid join each replicate this
    // frame to their cells — unpersisted, the caller's scan + norm
    // projection ran twice (q50/q77/q123 all feed through here).
    // Released by the returned frame's first consuming action.
    val e = graft.plans.CacheRelease.afterFirstUse(
      vectors.withColumn("blk",
        pmod(col("vec_id"), lit(numBlocks.toLong)).cast("int"))
        .persist())
    val l = e.join(broadcast(grid), col("blk") === col("blo"))
      .select(col("cell"), col("blk").as("lblk"), col("vec_id").as("lid"),
        col("v").as("lv"), col("nrm").as("lnrm"))
    val r = e.join(broadcast(grid), col("blk") === col("bhi"))
      .select(col("cell").as("rcell"), col("blk").as("rblk"),
        col("vec_id").as("rid"), col("v").as("rv"), col("nrm").as("rnrm"))
    val pairs = l.join(r, col("cell") === col("rcell") &&
        (col("lblk") < col("rblk") || col("lid") < col("rid")))
      .select(least(col("lid"), col("rid")).as("ai"),
        greatest(col("lid"), col("rid")).as("bi"),
        round(cosinePrenormed(dot_product(col("lv"), col("rv")),
          col("lnrm"), col("rnrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    pairs
  }

  /** SemDeDup-shaped semantic dedup: the corpus that SURVIVES
    * embedding-space near-duplicate removal. Pairs above the cosine
    * threshold come from the grid-blocked exact self-join
    * ([[blockedPairs]] — distributed, no BNLJ), connected components
    * resolve through [[Dedup.resolveClusters]], and each component
    * keeps its smallest vec_id; singletons are implicitly kept. This is the
    * embedding twin of [[Dedup.keptCorpus]] — dedup at the semantic
    * layer the text operators can't see. The oracle replays the
    * component rule as a recursive-CTE transitive closure (a node is
    * dropped iff it can reach a smaller node), so the distributed
    * graph iteration is hash-proven against declarative SQL.
    */
  def semanticKept(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, numBlocks: Int = 8): DataFrame = {
    val removed = Dedup.resolveClusters(
      embeddingPairFeed(spark, sfDir, threshold, numBlocks))
      .filter(!col("keep"))
      .select(col("doc_id").as("vec_id"))
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
      .join(removed, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Embedding near-duplicate pairs via random-hyperplane (SimHash)
    * LSH — the bucketed scale path for what [[embeddingPairs]] does by
    * brute force. Plan shape mirrors [[Dedup.minhashPairs]]: signature
    * → explode band keys → self-join on band key (equality ⇒ shuffle
    * hash join, never a BroadcastNestedLoopJoin) → distinct candidates
    * → exact-cosine verification. Only candidate pairs pay a dot
    * product.
    *
    * Geometry: a random hyperplane separates two vectors at angle θ
    * with probability θ/π, so a `bandBits`-bit band key collides with
    * probability (1 − θ/π)^bandBits. For production near-dup
    * thresholds (cosine ≥ 0.8, θ ≤ 37°) the default 8-bit bands prune
    * ≥ 99.5% of the isotropic background per band while catching a
    * true pair with p ≈ 1 − (1 − 0.43)^16 ≈ 0.9999. At low thresholds
    * (τ ≈ 0.4, θ ≈ 66°) angular LSH separates weakly — ρ =
    * ln p1/ln p2 ≈ 0.67 — so q50 runs bandBits=4 for recall ≈ 0.996
    * and accepts a high candidate rate; that operating point exists
    * for oracle comparability with [[embeddingPairs]], not as the
    * scale configuration.
    *
    * Hyperplanes are seeded-deterministic, so signatures are
    * reproducible across runs and engines.
    */
  def embeddingLshPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, numPlanes: Int = 128,
      bandBits: Int = 8): DataFrame =
    lshPairs(embeddingsAsDouble(spark, sfDir), threshold, numPlanes, bandBits)

  /** [[embeddingLshPairs]] over any (vec_id, v: array<double>) frame —
    * the corpus-agnostic form (also what the planted-near-dup recall
    * spec drives).
    */
  def lshPairs(vectors: DataFrame, threshold: Double,
      numPlanes: Int = 128, bandBits: Int = 8): DataFrame = {
    require(numPlanes % bandBits == 0, "numPlanes must divide into bands")
    val e = vectors
      .select(col("vec_id"), col("v"),
        sqrt(dot_product(col("v"), col("v"))).as("nrm"))
      .persist()
    // dimension probe: one-row parameter fetch (like queryVector)
    val dim = e.select(size(col("v"))).first().getInt(0)
    val rng = new scala.util.Random(42L)
    val planes: Seq[Seq[Double]] =
      Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))

    // all band keys in one kernel pass (see RandomProjectionBandKeys —
    // composing 128 dot_product literals costs ~10 s of plan/codegen)
    val banded = e
      .select(col("vec_id"), posexplode(
        graft.functions.VectorMath
          .random_projection_band_keys(col("v"), planes, bandBits)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")

    val candidates = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("ai"), col("r.vec_id").as("bi"))
      .distinct()

    val verified = candidates
      .join(e.as("a"), col("ai") === col("a.vec_id"))
      .join(e.as("b"), col("bi") === col("b.vec_id"))
      .select(col("ai"), col("bi"),
        round(cosinePrenormed(dot_product(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    Present.smallSorted(verified, "ai", "bi")
  }

  /** Top-k by cosine over int8-QUANTIZED embeddings — the compressed
    * form a 100 TB embedding corpus stores (4–8× smaller than float on
    * disk and in shuffles). Per-vector scales cancel in cosine, so
    * ranking needs neither dequantization nor a stored scale; the
    * integer dot products are exact in any engine, making the
    * quantized scores bit-portable (oracle-replayable), unlike float
    * accumulation. Recall vs the exact float top-k is spec'd.
    */
  /** Per-label embedding centroids — the vector aggregation a
    * clustering / routing / quality-probe pipeline sits on. The mean
    * vector is computed by ML's `Summarizer` aggregate (mergeable
    * O(dim) sum+count state per group — the same shape as a hand-rolled
    * TypedImperativeAggregate, already codegen-compatible), so the
    * corpus shuffles ONE partial state per (task, label), never the
    * 64× row explosion of the unnest-and-regroup spelling. The result
    * (labels × dim rows) is exploded only AFTER aggregation, because a
    * result this small is presentation; the oracle replays the
    * unnest spelling, which is exactly what the plan must avoid doing
    * to the full corpus.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    Tables.load(spark, sfDir, "embeddings")
      .select(col("label"),
        array_to_vector(col("embedding").cast("array<double>")).as("v"))
      .groupBy("label")
      .agg(Summarizer.mean(col("v")).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        posexplode(vector_to_array(col("centroid"))).as(Seq("dim", "value")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("value"), 4).as("value"), col("n_vecs"))
      .orderBy("label", "dim")
  }

  def quantizedTopK(spark: SparkSession, sfDir: String,
      vecId: Long = 0L, k: Int = 20): DataFrame = {
    import graft.functions.VectorMath.{dot_product_i8, quantize_i8}
    val q = typedlit(queryVector(spark, sfDir, vecId))
    val quantized = embeddingsAsDouble(spark, sfDir)
      .select(col("vec_id"), quantize_i8(col("v")).as("qv"),
        quantize_i8(q).as("qq"))
    val cosQ = dot_product_i8(col("qv"), col("qq")).cast("double") /
      (sqrt(dot_product_i8(col("qv"), col("qv")).cast("double")) *
        sqrt(dot_product_i8(col("qq"), col("qq")).cast("double")))
    quantized
      .filter(col("vec_id") =!= vecId)
      .select(col("vec_id"), round(cosQ, 4).as("cosine_q"))
      .orderBy(desc("cosine_q"), asc("vec_id"))
      .limit(k)
  }

  // IVF index cache: building the index is an offline step (at scale
  // the corpus is written out partitioned by cell once); queries must
  // not refit k-means. Keyed by the SESSION OBJECT (identity equality
  // — collision-free, unlike identityHashCode) in a small LRU. Weak
  // keying cannot work here: the cached DataFrame strongly references
  // its session, and a value→key reference pins a WeakHashMap entry
  // forever. The LRU bound is the honest fix — at most MaxEntries
  // indexes live at once, eviction unpersists the blocks, and a
  // stopped session's entry ages out after a few new builds instead of
  // accumulating unboundedly.
  private val MaxIvfEntries = 8
  private val ivfCache = new java.util.LinkedHashMap[
      (SparkSession, String, Int), (DataFrame, Array[Seq[Double]])](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(SparkSession, String, Int),
          (DataFrame, Array[Seq[Double]])]): Boolean =
      if (size > MaxIvfEntries) {
        try e.getValue._1.unpersist(false) catch { case _: Throwable => () }
        true
      } else false
  }

  /** IVF index: cell id per vector from the DETERMINISTIC Lloyd fit
    * ([[lloydFit]] — first-k init, 6 dp iterate rounding, (dist, cid)
    * argmin tie-break), memoized per (session, corpus). r08 swapped
    * MLlib KMeans (seeded but engine-internal state) for the q120
    * trajectory discipline so the cell assignment — and therefore the
    * whole q28 probe pipeline — replays in SQL.
    */
  def ivfAssignments(spark: SparkSession, sfDir: String,
      numCells: Int = 16): (DataFrame, Array[Seq[Double]]) =
    ivfCache.synchronized {
      val key = (spark, sfDir, numCells)
      val hit = ivfCache.get(key)
      if (hit != null) hit
      else {
        val e = embeddingsAsDouble(spark, sfDir).select("vec_id", "v")
        val centroids = lloydFit(e, numCells, iters = 3)
        val assigned = e
          .withColumn("cell", lloydAssignment(centroids))
          .persist()
        val built =
          (assigned, centroids.sortBy(_._1).map(_._2).toArray)
        ivfCache.put(key, built)
        built
      }
    }

  /** ANN top-k via IVF: rank cells by centroid cosine to the query,
    * probe the nProbe best, exact cosine only within probed cells.
    * Scans nProbe/numCells of the corpus; recall is property-tested
    * against [[cosineTopK]]. Probe ranking goes through Spark SQL's
    * `round(…, 6)` with a cell-id tie-break — a 1-row-per-cell local
    * job, so the ranking (not just the verified output) replays in
    * the oracle.
    */
  def ivfTopK(spark: SparkSession, sfDir: String, vecId: Long = 0L,
      k: Int = 20, numCells: Int = 16, nProbe: Int = 8): DataFrame = {
    val q = queryVector(spark, sfDir, vecId)
    val (assigned, centers) = ivfAssignments(spark, sfDir, numCells)
    val centDf = spark.createDataFrame(
      centers.toSeq.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "c")
    val probed = centDf
      .select(col("cell"),
        round(cosine(col("c"), typedlit(q)), 6).as("pc"))
      .orderBy(desc("pc"), asc("cell")).limit(nProbe)
      .collect().map(_.getInt(0)).toSeq
    assigned
      .filter(col("cell").isin(probed: _*) && col("vec_id") =!= vecId)
      .select(col("vec_id"),
        round(cosine(col("v"), typedlit(q)), 4).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  // ----- persisted IVF index (write-time cost, metadata pruning) ---

  /** Root of the persisted index for (corpus dir, numCells): keyed on
    * the CANONICAL path (hash tag) so same-basename corpora under
    * different parents never collide — the Layout.bucketTableName
    * discipline.
    */
  private def ivfIndexRoot(sfDir: String, numCells: Int): java.io.File = {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    new java.io.File("spark-warehouse/graft_ivf_index/emb_" +
      new java.io.File(sfDir).getName.replace('.', '_') +
      s"_${tag}_c$numCells").getAbsoluteFile
  }

  /** MD5 over the corpus directory's (path, len, mtime) listing — the
    * build-time fingerprint the index validity check compares, the
    * same staleness discipline as the MV router's source gate
    * (shared with the sorted-copy fixture: [[Layout.dirFingerprint]]). */
  private def dirFingerprint(spark: SparkSession, path: String): String =
    Layout.dirFingerprint(spark, path)

  /** Build (or reuse) the PERSISTED IVF index: the deterministic
    * Lloyd cell assignment written ONCE as a Hive-partitioned layout
    * — one `cell=<id>/` directory per cell via
    * [[Layout.writePartitioned]] — with the fitted centroids stored
    * alongside, and a marker recording the corpus fingerprint. At
    * 100 TB this is the contract an ANN index must honor: the
    * clustering and the data movement are a WRITE-TIME cost paid
    * once (like q186's bucketed CTAS), and every query's probe is a
    * metadata-pruned read — the cell predicate lands in the scan's
    * `PartitionFilters`, so non-probed cells are eliminated from
    * directory names alone, zero data IO (plan-asserted in
    * SimilaritySpec). A corpus whose files changed re-fingerprints
    * differently and the index rebuilds; the build itself is
    * deterministic (q120's trajectory discipline), so a rebuilt
    * index serves identical answers. Returns (data path, centroids
    * sorted by cell id).
    */
  def ensureIvfIndex(spark: SparkSession, sfDir: String,
      numCells: Int = 16): (String, Array[Seq[Double]]) =
    ivfIndexLock.synchronized {
      val root = ivfIndexRoot(sfDir, numCells)
      val dataPath = new java.io.File(root, "cells").getAbsolutePath
      val centPath = new java.io.File(root, "centroids").getAbsolutePath
      val marker = new java.io.File(root, "_graft_fp")
      val srcFp = dirFingerprint(spark,
        new java.io.File(sfDir, "embeddings.parquet").getAbsolutePath)
      val valid = marker.isFile && {
        val recorded = new String(java.nio.file.Files
          .readAllBytes(marker.toPath), "UTF-8").trim
        recorded == srcFp
      }
      if (!valid) {
        // rebuild from scratch; the marker is written LAST, so a
        // crashed build leaves an invalid index that rebuilds next
        // call instead of serving a partial layout
        if (root.exists())
          java.nio.file.Files.walk(root.toPath).sorted(
            java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        val (assigned, centers) = ivfAssignments(spark, sfDir, numCells)
        Layout.writePartitioned(
          assigned.select("cell", "vec_id", "v"), "cell", dataPath)
        spark.createDataFrame(
          centers.toSeq.zipWithIndex.map { case (c, i) => (i, c) })
          .toDF("cell", "c")
          .coalesce(1).write.mode("overwrite").parquet(centPath)
        java.nio.file.Files.write(marker.toPath,
          srcFp.getBytes("UTF-8"))
        (dataPath, centers)
      } else {
        val centers = spark.read.parquet(centPath)
          .orderBy("cell").collect()
          .map(r => r.getSeq[Double](1))
        (dataPath, centers)
      }
    }

  private val ivfIndexLock = new Object

  /** ANN top-k over the PERSISTED index — [[ivfTopK]]'s probe with
    * the cell filter served by partition pruning instead of an
    * in-memory cached assignment: rank centroids (same rounded
    * ranking, so the probe set is identical), then read ONLY the
    * probed `cell=` directories. Answers are bit-identical to
    * [[ivfTopK]] (the fit is deterministic); what changes is WHERE
    * the cell predicate is enforced — `PartitionFilters` at the scan,
    * which is the shape that survives 100 TB: nProbe/numCells of the
    * files opened, the rest pruned from metadata.
    */
  def ivfTopKIndexed(spark: SparkSession, sfDir: String,
      vecId: Long = 0L, k: Int = 20, numCells: Int = 16,
      nProbe: Int = 8): DataFrame = {
    val q = queryVector(spark, sfDir, vecId)
    val (dataPath, centers) = ensureIvfIndex(spark, sfDir, numCells)
    val centDf = spark.createDataFrame(
      centers.toSeq.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "c")
    val probed = centDf
      .select(col("cell"),
        round(cosine(col("c"), typedlit(q)), 6).as("pc"))
      .orderBy(desc("pc"), asc("cell")).limit(nProbe)
      .collect().map(_.getInt(0)).toSeq
    spark.read.parquet(dataPath)
      .filter(col("cell").isin(probed: _*) && col("vec_id") =!= vecId)
      .select(col("vec_id"),
        round(cosine(col("v"), typedlit(q)), 4).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Near-dup membership for the embedding corpus: the grid-blocked
    * exact pair graph ([[blockedEmbeddingPairs]]) resolved to
    * connected components by [[Dedup.resolveClusters]] — every vector
    * in a near-dup cluster with its component-min representative and
    * keep flag. Same scale shape as the text-side dedup chain: the
    * pair graph is ≪ the corpus, cluster resolution touches only pair
    * nodes, and the corpus itself is scanned once by the pair stage.
    * The oracle replays the exact pair set declaratively and closes it
    * with a recursive-CTE transitive closure, so the distributed graph
    * resolution is hash-proven per MEMBER — q92 proves the text
    * graph's histogram; this proves every embedding-side label.
    */
  def embeddingClusters(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, numBlocks: Int = 8): DataFrame =
    Present.smallSorted(
      Dedup.resolveClusters(
        embeddingPairFeed(spark, sfDir, threshold, numBlocks))
        .select(col("doc_id").as("vec_id"), col("cluster_rep"),
          col("keep")),
      "vec_id")

  /** The ONE unsorted exact pair feed [[semanticKept]] and
    * [[embeddingClusters]] resolve — a change to the embedding pair
    * graph cannot fork between them. Unsorted because resolveClusters
    * checkpoints it immediately: a presentation sort would be waste.
    */
  private def embeddingPairFeed(spark: SparkSession, sfDir: String,
      threshold: Double, numBlocks: Int): DataFrame =
    blockedPairsUnsorted(embeddingsWithNorm(spark, sfDir)
      .select("vec_id", "v", "nrm"), threshold, numBlocks)

  /** PCA top principal component by power iteration — distributed
    * linear algebra as declarative aggregates, every iterate
    * oracle-replayable like [[lloydClusters]]. The covariance matrix
    * is never materialized: each iteration computes Σᵢ cᵢ(cᵢ·v) — one
    * corpus scan where the matvec is a codegen'd dot against the
    * broadcast iterate plus a posexplode → per-dimension sum whose
    * partial aggregation reduces each task to `dim` sums before the
    * shuffle. Model state (mean vector, iterate) is dim doubles on the
    * driver — the collect-a-parameter pattern — and every iterate is
    * normalized then rounded to 6 dp (quantum ≫ summation jitter), so
    * any engine walks one trajectory. Output: per-label projection
    * stats onto the learned component — the "does the embedding space
    * separate the classes" audit view.
    */
  def pcaPowerIteration(spark: SparkSession, sfDir: String,
      iters: Int = 3): DataFrame = {
    // every iterate rounding goes through Spark SQL's own `round` (the
    // function the oracles are calibrated against — the same
    // discipline as [[lloydClusters]]): a 1-row local-relation job per
    // iterate, microseconds, no scan
    def roundVec(xs: Seq[Double]): Seq[Double] =
      spark.range(1).select(transform(typedlit(xs),
        x => round(x, 6)).as("v")).head().getSeq[Double](0)
    // persisted: the mean pass, each power iteration, and the final
    // census all scan this frame — unpersisted, that's iters+2 parquet
    // scans with the float→double widening re-run each time (the q156
    // discipline); released by the returned frame's first action
    val e = embeddingsAsDouble(spark, sfDir)
      .select(col("vec_id"), col("v").as("x"), col("label"))
      .persist()
    val m: Seq[Double] = e
      .select(posexplode(col("x")).as(Seq("pos", "xj")))
      .groupBy("pos").agg(round(avg("xj"), 6).as("mu"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2).toSeq
    val dim = m.length
    val centered = e.withColumn("c",
      zip_with(col("x"), typedlit(m), (a, b) => a - b))
    var vIter: Seq[Double] =
      roundVec(Seq.fill(dim)(1.0 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val u = centered
        .withColumn("s", dot_product(col("c"), typedlit(vIter)))
        .select(posexplode(col("c")).as(Seq("pos", "cj")), col("s"))
        .groupBy("pos").agg(sum(col("cj") * col("s")).as("u"))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy(_._1).map(_._2)
      val nrm = math.sqrt(u.foldLeft(0.0)((a, x) => a + x * x))
      vIter = roundVec(u.map(_ / nrm).toSeq)
    }
    // registered AFTER the iteration collects (they read the cache)
    graft.plans.CacheRelease.afterFirstUse(e)
    centered.withColumn("p", dot_product(col("c"), typedlit(vIter)))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg("p"), 4).as("avg_proj"),
        round(avg(col("p") * col("p")), 4).as("avg_proj_sq"))
      .orderBy("label")
  }

  /** Explicit Lloyd k-means over the embedding corpus — the engine-
    * portable clustering twin of ML's black-box `KMeans`
    * ([[ivfAssignments]]): deterministic init (the first k vectors by
    * id), a fixed number of iterations, squared-L2 assignment with
    * (distance, cluster-id) tie-break, and centroids rounded to 6 dp
    * each iterate so any engine replays the identical trajectory
    * (the rounding quantum is ~10⁷× the cross-partition summation
    * jitter, exactly the discipline the float aggregates use).
    *
    * The distributed shape per iteration is the canonical one:
    * centroids are model state (k×dim doubles — the collect-a-
    * parameter pattern), broadcast into ONE corpus scan as literals;
    * the argmin is a codegen'd `array_min` over per-centroid
    * `struct(dist, cid)` scores (dist = ‖v‖² − 2·v·c + ‖c‖², the
    * self-dots precomputed); the mean recompute explodes to (cluster,
    * dim, x) and partial-aggregates map-side, so the shuffle carries
    * O(k·dim) partial sums per task, never vectors. At 100 TB each
    * iteration is one scan + one tiny shuffle — the same cost model
    * FAISS/Spark-ML train with, but with every step oracle-replayable.
    *
    * Empty clusters keep their previous centroid (mirrored by the
    * oracle's LEFT JOIN + coalesce).
    */
  /** The (dist, cid)-tie-broken squared-L2 argmin over literal
    * centroids — the assignment expression the q120/q28 oracles
    * replay as `row_number() OVER (ORDER BY dist, cid)`. Shared by
    * [[lloydClusters]] and the IVF index ([[ivfAssignments]]) so one
    * trajectory discipline covers both.
    */
  private def lloydAssignment(cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = cents.map { case (cid, c) =>
      val cl = typedlit(c)
      val selfDot = c.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        (dot_product(col("v"), col("v")) -
          lit(2.0) * dot_product(col("v"), cl) + lit(selfDot)).as("d"),
        lit(cid).as("cid"))
    }
    array_min(array(scored: _*)).getField("cid")
  }

  /** Deterministic Lloyd fit: init = the first k vectors by vec_id,
    * `iters` assign+mean rounds, empty clusters keep their previous
    * centroid. Every centroid value is rounded to 6 dp through Spark
    * SQL's own `round` (the function the oracles are calibrated
    * against), so any engine walks one trajectory — the discipline
    * that lets both q120 and the q28 IVF index carry full
    * hash-checked oracles.
    */
  private[operators] def lloydFit(e: DataFrame, k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    var centroids: Seq[(Int, Seq[Double])] =
      e.filter(col("vec_id") < k).orderBy("vec_id")
        .select(col("vec_id"), expr("transform(v, x -> round(x, 6))"))
        .collect().toSeq
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
    for (_ <- 1 to iters) {
      val means = e.withColumn("cluster", lloydAssignment(centroids))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(round(avg("x"), 6).as("m"))
        .collect()
        .groupBy(_.getInt(0)).view
        .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        .toMap
      centroids = centroids.map { case (cid, prev) =>
        (cid, means.getOrElse(cid, prev))
      }
    }
    centroids
  }

  def lloydClusters(spark: SparkSession, sfDir: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    // persisted: the init collect, every assign+mean iteration, and
    // the final census all scan this frame — unpersisted, the parquet
    // read + float→double widening re-ran iters+2 times per execution
    val e = embeddingsAsDouble(spark, sfDir).select("vec_id", "v")
      .persist()
    val centroids = lloydFit(e, k, iters)
    val norms = centroids.map { case (cid, c) =>
      (cid, math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    }
    val normDf = spark.createDataFrame(norms).toDF("cluster_id", "nrm")
    val out = e.withColumn("cluster_id", lloydAssignment(centroids))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(normDf), "cluster_id")
      .select(col("cluster_id"), col("n_vecs"),
        round(col("nrm"), 4).as("centroid_norm"))
      .orderBy("cluster_id")
    graft.plans.PlanProbe.dump("q120_lloyd_clusters_internal", out)
    val rows = out.collect().toSeq // k-row report; release the cache
    e.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** HYBRID RETRIEVAL by reciprocal-rank fusion — the standard way a
    * training-data pipeline merges keyword and semantic retrieval
    * (doc_id and vec_id share the corpus id space): each candidate's
    * fused score is Σ 1/(60 + rank) over the lists it appears in
    * (Cormack et al.'s RRF; absent-from-list contributes 0 via the
    * full-outer join).
    *
    * The rank windows are global-order BUT parameter-sized: they rank
    * the two top-`kLists` candidate lists (≤ 50 rows each — already
    * reduced by BM25's pruned scoring and cosine's
    * TakeOrderedAndProject), never a corpus. Ranks are integers off
    * tie-deterministic orderings, so the one double per row is a sum
    * of two exact reciprocals — engine-portable to the 6 dp round.
    */
  def rankFusion(spark: SparkSession, sfDir: String,
      kLists: Int = 50, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyword = TextQueries.bm25TopK(spark, sfDir, topK = kLists)
      .withColumn("kw_rank", row_number().over(
        Window.orderBy(desc("bm25"), asc("doc_id"))))
      .select(col("doc_id"), col("kw_rank"))
    val semantic = cosineTopK(spark, sfDir, k = kLists)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(desc("cosine"), asc("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    keyword.join(semantic, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("kw_rank"), col("sem_rank"),
        round(
          coalesce(lit(1.0) / (col("kw_rank") + lit(60)).cast("double"),
            lit(0.0)) +
          coalesce(lit(1.0) / (col("sem_rank") + lit(60)).cast("double"),
            lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(topK)
  }
}
