package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local SparkSession per JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // hermetic test JVM: summary specs persist across sessions by
    // design; a previous Verify/Bench run's leftovers must not route
    // (or shadow) anything in the suites
    graft.plans.Summaries.clear()
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** The jobs a spec body started: each one's call site (the result
  * stage's name, e.g. "fold at ConnectedComponents.scala:N"), the
  * shuffle bytes their tasks wrote and read (read + write is what the
  * benchmark's `shuffle_mb` counts), the result bytes their tasks sent
  * to the driver (the sum of `taskMetrics.resultSize`) and the stages
  * that ran (a stage skipped because its shuffle output already
  * existed is not counted).
  */
case class JobRecord(sites: Seq[String], shuffleBytes: Long,
    shuffleReadBytes: Long, resultBytes: Long, stages: Int)

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Run `f` with `spark.sql.autoBroadcastJoinThreshold` = −1, restored
    * after: broadcast joins off, PrefixSum on its shard route,
    * `Dedup.docFrequencies` on its aggregate route and
    * `Dedup.prefixFrame` on its explode/join/regroup route.
    */
  protected def withoutBroadcast[T](f: => T): T =
    withBroadcastThreshold(-1L)(f)

  /** Run `f` with `spark.sql.autoBroadcastJoinThreshold` = `bytes`,
    * restored after.
    */
  protected def withBroadcastThreshold[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run `body` under a job listener and return its value with the
    * jobs it started. The listener bus is drained before the listener
    * is added and again after the body, so the record holds exactly
    * the body's jobs.
    */
  protected def recordJobs[T](body: => T): (T, JobRecord) = {
    import org.apache.spark.scheduler._
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val results = new java.util.concurrent.atomic.AtomicLong(0L)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.maxBy(_.stageId).name); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          results.addAndGet(m.resultSize)
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark, 30000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark, 30000L)
      import scala.jdk.CollectionConverters._
      (out, JobRecord(sites.asScala.toSeq, shuffled.get(),
        shuffleRead.get(), results.get(), stages.get()))
    } finally sc.removeSparkListener(listener)
  }

  /** Pre-order walk of an executed plan, descending through AQE's
    * runtime structure — the shared base of plan-shape asserts.
    */
  protected def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => allPlanNodes(a.executedPlan)
      case s: QueryStageExec => allPlanNodes(s.plan)
      case _ => p.children.flatMap(allPlanNodes)
    })
  }
}
