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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Run `f` with `spark.sql.autoBroadcastJoinThreshold` = −1, restored
    * after: broadcast joins off, and PrefixSum on its shard route.
    */
  protected def withoutBroadcast[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
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
