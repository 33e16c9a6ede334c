package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and
  * failures.json (name → exception class, message, root cause and the
  * first stack frames) for every query that threw.
  */
object Verify {
  /** Stack frames kept per failure in failures.json. */
  val StackFrames = 12

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // hermetic run: summary specs persist across sessions by design
    // (the MV catalog), but a graded dump must not inherit summaries a
    // previous run built at a DIFFERENT scale factor — same names,
    // different sources, so has()-guarded wrappers would skip their
    // own builds and measure nothing
    plans.Summaries.clear()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); the driver never
    // sets it, so its full-suite runs are unaffected
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = e
      } finally spark.catalog.clearCache()
    }
    // manifest of ATTEMPTED queries: the oracle compare fails any
    // attempted query with no output (a crash must not read as a
    // skip) and skips only queries genuinely outside a subset run
    Files.writeString(Paths.get(s"$outDir/attempted.txt"),
      attempted.keys.toSeq.sorted.mkString("\n"))
    // ...and of ALL registered queries: an oracle key matching NO
    // query name (a typo, or a query removed without its oracle) must
    // FAIL the compare, not vanish into the subset-skip path
    Files.writeString(Paths.get(s"$outDir/all_queries.txt"),
      SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // why each failed query has no output: a stderr line alone is lost
    // with the run's log. The root cause is named apart from the
    // (often SparkException-wrapped) exception that reached this loop.
    def root(e: Throwable): Throwable =
      Option(e.getCause).filter(_ ne e).fold(e)(root)
    val failed = failures.map { case (name, e) =>
      val r = root(e)
      s"${q(name)}: {" + Seq(
        "class" -> q(e.getClass.getName),
        "message" -> q(String.valueOf(e.getMessage)),
        "cause" -> q(s"${r.getClass.getName}: ${r.getMessage}"),
        "stack" -> e.getStackTrace.take(StackFrames).map(f => q(f.toString))
          .mkString("[", ",", "]"))
        .map { case (k, v) => s"${q(k)}: $v" }.mkString(",") + "}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failed)
    spark.stop()
  }
}
