package graft

import org.apache.spark.sql.functions.col
import graft.operators.Percentiles
import graft.operators.Percentiles.Measure
import graft.sources.Tables

/** Cross-session persistence of GraftAnalyze's statistics: the
  * path-keyed entries live in the EXTERNAL catalog (SharedState), not
  * the session, so a FRESH SparkSession — new SessionState over the
  * same catalog, the in-JVM analog of a driver restart against a
  * shared metastore — routes percentile measures with ZERO estimation
  * jobs from what a previous session analyzed. This is the loop the
  * "persisted" claim makes: analyze once, every later session plans
  * from metadata.
  */
class AnalyzePersistSpec extends SparkSpec {

  test("a fresh session routes from stats a prior session persisted, zero jobs") {
    val m = Seq(
      Measure("qty", col("l_quantity"), 1L, Seq("p50_qty" -> 0.5)),
      Measure("price", col("l_extendedprice"), 100L,
        Seq("p50_price" -> 0.5)))
    // session 1: first resolution auto-ANALYZEs (one sketch scan) and
    // persists CatalogStatistics under the path-derived table name
    val warm = Percentiles.statsFromCatalog(
      Tables.load(spark, sf, "lineitem"), m, "l_returnflag")
    assert(warm.isDefined, "lineitem did not resolve to catalog stats")
    // session 2: fresh SessionState (own conf, temp views, parser)
    // over the same external catalog (and the same SparkContext, whose
    // jobs recordJobs sees)
    val s2 = spark.newSession()
    val (cold, jobs) = recordJobs(Percentiles.statsFromCatalog(
      Tables.load(s2, sf, "lineitem"), m, "l_returnflag"))
    assert(cold === warm,
      "fresh session resolved different stats than the analyzing one")
    assert(jobs.sites.size === 0,
      s"fresh-session routing ran ${jobs.sites.size} jobs — expected none")
  }
}
