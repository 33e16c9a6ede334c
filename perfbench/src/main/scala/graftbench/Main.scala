package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}

import graft.GraftSession

/** One benchmark run of one workload: a single client runs the
  * workload's passes back to back in a closed loop on a local[cores]
  * session. An untimed warm-up pass comes first and writes every output
  * for the correctness check; timed passes follow until
  * `seconds` have passed, at least `MinPasses` of them. With `trace` on,
  * passes alternate untraced and traced (at least two traced), and the
  * traced ones record spans.
  *
  * Writes a result file of raw per-op and per-pass records, and the
  * spans of a traced run; `run.py` turns them into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <table dir> --work <work dir> --cores <n> --out <result.json>
  */
object Main {
  // pass times still fall for several passes after a cold start; the
  // median of three ignores the slowest of them
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val workload = Workloads(a("workload"), seed)

    val spark = GraftSession.builder(cores)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.Summaries.clear()
    val sessionMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    val tracer = new Tracer(sc, counters, enabled = false)
    val spanTracer = new Tracer(sc, counters, enabled = traced)
    val ctx = new Ctx(spark, a("data"), a("work"), tracer)
    val tctx = new Ctx(spark, a("data"), a("work"), spanTracer)

    val genS = (1 to 3).map(_ => workload.generate(ctx))

    val ops = ArrayBuffer.empty[Map[String, Any]]
    var opId = 0
    def runOp(c: Ctx, op: Op, pass: Int): Double = {
      ListenerBus.drain(sc)
      val before = counters.snapshot()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val error =
        try { c.tracer.op(opId)(op.run(c)); None }
        catch { case t: Throwable =>
          Some(s"${t.getClass.getName}: ${t.getMessage}".take(2000)) }
      val latency = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      ListenerBus.drain(sc)
      ops += Map("id" -> opId, "pass" -> pass, "name" -> op.name,
        "kind" -> op.kind,
        "traced" -> c.tracer.enabled, "latency_s" -> latency,
        "error" -> error, "in_job_ms" -> counters.inJobMs(ms0, ms1),
        "written_bytes" -> c.takeWritten(),
        "counts" -> Counters.Names.zip(
          Counters.delta(before, counters.snapshot())).toMap)
      opId += 1
      latency
    }

    val heap = ManagementFactory.getMemoryMXBean
    // a second full GC after Spark's cleaner has dropped what the first
    // one freed (broadcast and shuffle blocks are released asynchronously)
    def heapAfterGcMb(): Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    // Bench's CPU control kernel at a tenth of its terms: data-free, so
    // it moves only with the machine
    def controlS(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 30000000L, 1L, cores)
        .select(sum(shiftright(xxhash64(col("id")), 32))).collect()
      (System.nanoTime() - t0) / 1e9
    }

    ctx.warmup = true
    val warmS = workload.ops.map(runOp(ctx, _, -1)).sum
    ctx.warmup = false

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val firstTimedMs = System.currentTimeMillis()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def enough = elapsed >= seconds && passes.size >= MinPasses &&
      (!traced || passes.count(_("traced") == true) >= 2)
    while (!enough) {
      val withSpans = traced && passes.size % 2 == 1
      val c = if (withSpans) tctx else ctx
      ListenerBus.drain(sc)
      val before = counters.snapshot()
      val wall = workload.ops.map(runOp(c, _, passes.size)).sum
      val counts = Counters.delta(before, counters.snapshot())
      val extra =
        if (!withSpans) Map.empty[String, Any]
        else {
          workload.probes.foreach(runOp(tctx, _, passes.size))
          Map("control_s" -> controlS())
        }
      passes += Map("index" -> passes.size, "traced" -> withSpans,
        "wall_s" -> wall, "heap_after_gc_mb" -> heapAfterGcMb(),
        "counts" -> Counters.Names.zip(counts).toMap) ++ extra
    }

    val result = Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionMs, "first_timed_ms" -> firstTimedMs,
      "gen_s" -> genS, "warmup_s" -> warmS, "rows" -> workload.rows,
      "inputs" -> workload.inputs,
      "op_names" -> workload.ops.map(_.name),
      "oracle" -> workload.ops.flatMap(op =>
        graft.SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap,
      "checks" -> workload.checks.map(ch =>
        Map("name" -> ch.name, "ok" -> ch.ok, "detail" -> ch.detail)),
      "ops" -> ops, "passes" -> passes,
      "spans" -> spanTracer.spans.map(_.toMap))
    Files.write(Paths.get(a("out")),
      Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
