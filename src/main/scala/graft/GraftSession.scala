package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: a SparkSession builder pre-configured for
  * the engine — extensions registered (hll_distinct over Spark's
  * DataSketches HLL, graft's other SQL functions, the COUNT(DISTINCT)
  * rewrite and the summary router), oracle-grade session defaults (UTC,
  * nanos-as-long parquet reads), and shuffle parallelism sized to the
  * local machine instead of the 200-partition default.
  *
  * Every block graft moves is zstd (`spark.io.compression.codec`, in
  * place of Spark's lz4 default): shuffle, broadcast and spill blocks,
  * and — through `GraftColumnBridge.compress` — the partials tasks
  * send the driver. zstd trades a little task CPU for bytes: the
  * criteo feed's re-shard shuffles about 45% fewer bytes than under
  * lz4. A caller can set another codec on the builder.
  */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "zstd")

  /** Local session sized to this machine. */
  def local(appName: String = "graft"): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    builder(cores)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
