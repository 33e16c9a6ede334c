package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** What an operation sees: the session, its inputs, the tracer, and
  * whether this is the warm-up pass (which writes outputs for the
  * correctness check instead of discarding them).
  */
final class Ctx(val spark: SparkSession, val dataDir: String,
    val workDir: String, val tracer: Tracer) {
  var warmup = false
  private var written = 0L

  def checkDir(name: String): String = s"$workDir/check/$name"

  /** Count the bytes of the files under `dir`, as written by this op. */
  def wrote(dir: String): Unit = {
    val fs = new java.io.File(dir).listFiles()
    if (fs != null) written += fs.filter(_.isFile).map(_.length).sum
  }

  /** Bytes counted since the last call. */
  def takeWritten(): Long = { val w = written; written = 0L; w }

  /** Run a query's frame to its sink. */
  def sink(name: String, df: DataFrame): Unit =
    if (warmup) df.write.mode("overwrite").parquet(checkDir(name))
    else df.write.format("noop").mode("overwrite").save()
}

/** One operation of a pass; `kind` is read, write or probe. */
final case class Op(name: String, kind: String)(val run: Ctx => Unit)

/** A check of the program's output, made during the warm-up pass. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** One pass, in the order every pass runs it. */
  def ops: Seq[Op]
  /** Untimed in-JVM input generation; returns its wall seconds. */
  def generate(ctx: Ctx): Double = 0.0
  /** Traced-only probes, run after each traced pass. */
  def probes: Seq[Op] = Nil
  /** Rows in one epoch, for workloads that read epochs. */
  def rows: Long = 0L
  /** What the seed chose for inputs generated in the JVM. */
  def inputs: String = ""
  /** Output checks made during the warm-up pass. */
  def checks: Seq[Check] = Nil
}

object Workloads {

  /** A connected-component loop and a similarity-search loop. */
  val CurationQueries: Seq[String] = Seq(
    "q155_connected_components", "q170_jaccard_search")

  val Names: Seq[String] = Seq("criteo_feed", "curation_loops")

  def apply(name: String, seed: Long): Workload = name match {
    case "criteo_feed" => new CriteoFeed(seed)
    case "curation_loops" => new Queries(
      new scala.util.Random(seed).shuffle(CurationQueries).map(query))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }

  def query(name: String): Op =
    Op(name, "read") { c =>
      val df = c.tracer.span("operators.call")(
        SparkEntry.queries(name)(c.spark, c.dataDir))
      if (c.tracer.enabled)
        c.tracer.span("plans.plan")(df.queryExecution.executedPlan)
      c.tracer.span("spark.exec")(c.sink(name, df))
    }

  final class Queries(val ops: Seq[Op]) extends Workload
}
