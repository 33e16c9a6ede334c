package graft

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** The lazy-return cache-release contract (r13 ADVICE leak): caches
  * backing frames an operator RETURNS (rather than collects) must
  * release on the returned frame's first consuming action — without
  * relying on the bench harness's per-query clearCache.
  */
class CacheReleaseSpec extends SparkSpec {

  private def drain(): Unit =
    GraftColumnBridge.drainListenerBus(spark, 10000L)

  test("afterFirstUse releases on the first CONSUMING action") {
    import spark.implicits._
    val base = (1 to 100).toDF("x").persist()
    graft.plans.CacheRelease.afterFirstUse(base)
    base.count() // a consuming action: reads (and materializes) it
    drain()
    assert(base.storageLevel == StorageLevel.NONE,
      "the first action on the cached frame itself must release it")
  }

  test("an UNRELATED query never triggers a registered release") {
    import spark.implicits._
    val base = (1 to 100).toDF("x").persist()
    base.count() // materialize BEFORE registering (internal-use shape)
    graft.plans.CacheRelease.afterFirstUse(base)
    spark.range(10).count() // unrelated execution
    drain()
    assert(base.storageLevel != StorageLevel.NONE,
      "an execution that never read the cache released it")
    base.select($"x" + 1).count() // a real consumer
    drain()
    assert(base.storageLevel == StorageLevel.NONE,
      "the consuming action failed to release the cache")
  }

  test("a never-consumed frame's listener deregisters after N misses") {
    import spark.implicits._
    val base = (1 to 100).toDF("x").persist()
    base.count() // materialize BEFORE registering (internal-use shape)
    graft.plans.CacheRelease.afterFirstUse(base)
    (1 to graft.plans.CacheRelease.MaxMisses)
      .foreach(_ => spark.range(1).count()) // a full miss budget
    drain()
    // the listener gave up: a consumer arriving now releases nothing,
    // and the cache falls back to RDD GC (the pre-release behavior)
    base.select($"x" + 1).count()
    drain()
    assert(base.storageLevel != StorageLevel.NONE,
      "the listener outlived its miss budget and released the cache")
    base.unpersist(false)
  }

  test("an internal action still queued on the bus does not release") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    import spark.implicits._
    // holds the bus on each job end, so the materializing count's
    // execution end is still queued when the listener is registered
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Thread.sleep(300)
    }
    drain()
    spark.sparkContext.addSparkListener(slow)
    val base = (1 to 100).toDF("x").persist()
    try {
      base.count() // the operator's internal action
      graft.plans.CacheRelease.afterFirstUse(base)
      drain()
      assert(base.storageLevel != StorageLevel.NONE,
        "the internal action's late event released the cache")
    } finally spark.sparkContext.removeSparkListener(slow)
    base.select($"x" + 1).count() // the real consumer
    drain()
    assert(base.storageLevel == StorageLevel.NONE,
      "the consuming action failed to release the cache")
  }

  test("two lazy-return queries back-to-back leave no cache behind") {
    // q24 and q70 both persist intermediates and return LAZY frames —
    // the exact r13 leak shape. Consume each, then assert the queries
    // left no NEW cached RDD blocks (no clearCache anywhere; earlier
    // suites in the shared JVM may hold their own).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.simhashPairs(spark, sf).collect()
    Dedup.dupSpans(spark, sf).collect()
    drain()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"persisted RDDs leaked past query completion: $leaked")
  }
}
