package graft.plans

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** Deterministic release for caches backing LAZY-returned frames.
  *
  * Operators whose RESULT is corpus-sized can't use the house
  * collect-then-unpersist pattern (collecting the result is the one
  * thing they must never do), yet several persist an intermediate
  * both sides of a self-join read. r13 left those persists leaking:
  * the bench/Verify harnesses clear the SQL cache per query, but a
  * long-lived session accumulates NONE-release caches until RDD GC.
  *
  * [[afterFirstUse]] registers a one-shot QueryExecutionListener that
  * unpersists the cache as soon as the FIRST query execution that
  * actually READS it (success or failure) completes — i.e. right
  * after the consuming action of the returned lazy frame. Matching is
  * by the cache's CachedRDDBuilder identity inside the execution's
  * cache-substituted logical plan, so unrelated queries never trigger
  * a release. If something else (clearCache, an explicit unpersist)
  * already dropped the cache, the listener deregisters itself on the
  * next execution instead of lingering. A frame that is never
  * consumed bounds its listener too: after [[MaxMisses]] executions
  * that do not read the cache, the listener deregisters and leaves
  * the cache to RDD GC, so unconsumed operator calls cannot pile up
  * listeners that match every later execution.
  *
  * Contract for callers: register AFTER the operator's own internal
  * actions on the cache have run (a premature registration would
  * release on the internal action and recompute downstream), and
  * document that the returned frame's FIRST action releases the cache
  * — a second action recomputes from source, which is the correct
  * trade for a corpus-sized cache nobody promised to keep.
  */
object CacheRelease {

  /** Executions that do not read the cache before a listener gives up. */
  val MaxMisses: Int = 100

  /** How long registration waits for queued listener events. */
  private val DrainTimeoutMs: Long = 10000L

  def afterFirstUse(cached: DataFrame): DataFrame = {
    val spark = cached.sparkSession
    val builder = cached.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }
    builder.foreach { b =>
      // an action that already returned has only QUEUED its execution
      // end on the async listener bus; a listener added before that
      // event is delivered would count the caller's internal action as
      // the consumer and release the cache at once. Drain first, so
      // the listener sees only executions that end after this call.
      try GraftColumnBridge.drainListenerBus(spark, DrainTimeoutMs)
      catch { case _: java.util.concurrent.TimeoutException => () }
      val listener: QueryExecutionListener = new QueryExecutionListener {
        private var misses = 0
        private def maybeRelease(qe: QueryExecution): Unit = {
          val hit =
            try qe.withCachedData.exists {
              case r: InMemoryRelation => r.cacheBuilder eq b
              case _ => false
            } catch { case _: Throwable => false }
          val alreadyGone = cached.storageLevel ==
            org.apache.spark.storage.StorageLevel.NONE
          if (!hit) misses += 1
          if (hit || alreadyGone || misses >= MaxMisses) {
            if (hit) cached.unpersist(false)
            spark.listenerManager.unregister(this)
          }
        }
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = maybeRelease(qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = maybeRelease(qe)
      }
      spark.listenerManager.register(listener)
    }
    cached
  }
}
