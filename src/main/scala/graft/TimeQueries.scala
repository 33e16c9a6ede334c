package graft

/** Dev harness: time individual queries by name (args), same
  * warm-up + noop-sink discipline as [[Bench]] but without the full
  * suite — the iterate-on-one-plan loop. Usage:
  * `sbt "runMain graft.TimeQueries q50_embedding_pairs_blocked ..."`,
  * scale dir from SPARK_GRAFT_SF_DIR.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(32)
      .master("local[32]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-run shuffle/spill bytes (Bench's listener): bytes are plan
    // properties, the A/B signal wall time cannot give
    val bytes = new Bench.ByteListener
    spark.sparkContext.addSparkListener(bytes)
    def run(name: String): (Double, Long, Long, Long) = {
      val fn = SparkEntry.queries(name)
      bytes.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark, 10000L)
      spark.catalog.clearCache()
      val (r, w, s) = bytes.snapshot()
      (dt, r, w, s)
    }
    args.foreach { name =>
      run(name) // warm-up: codegen + broadcasts + FS cache
      val samples = Seq(run(name), run(name))
      val (_, r, w, s) = samples.last
      println(f"TIME $name%-32s min=${samples.map(_._1).min}%.3f s  " +
        f"(${samples.map(t => f"${t._1}%.3f").mkString(", ")})  " +
        f"shuffle r+w=${(r + w) / 1048576.0}%.2f MiB  spill=$s%d B")
    }
    spark.stop()
  }
}
