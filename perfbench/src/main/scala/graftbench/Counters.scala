package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The benchmark's one Spark listener. It keeps cumulative counts of
  * jobs, stages, tasks and task metrics, plus every job's wall
  * interval; a span or a pass reads two snapshots and takes the
  * difference.
  */
final class Counters extends SparkListener {
  import Counters._

  private val c = new Array[Long](Names.length)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(i: Int, v: Long): Unit = c(i) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(Jobs, 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(add(Stages, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add(Tasks, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(RunMs, m.executorRunTime)
      add(CpuNs, m.executorCpuTime)
      add(GcMs, m.jvmGCTime)
      add(DeserMs, m.executorDeserializeTime)
      add(FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
      add(ShuffleBytes, m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      add(SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(InputRecords, m.inputMetrics.recordsRead)
      add(InputBytes, m.inputMetrics.bytesRead)
      add(OutputBytes, m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Array[Long] = synchronized(c.clone())

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def inJobMs(fromMs: Long, toMs: Long): Long = {
    val clipped = synchronized(jobs.toVector)
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (e > reach) {
        covered += e - math.max(s, reach)
        reach = e
      }
    }
    covered
  }
}

object Counters {
  val Names: Vector[String] = Vector("jobs", "stages", "tasks",
    "task_run_ms", "task_cpu_ns", "task_gc_ms", "task_deser_ms",
    "fetch_wait_ms", "shuffle_bytes", "spill_bytes", "input_records",
    "input_bytes", "output_bytes")
  val Jobs = 0
  val Stages = 1
  val Tasks = 2
  val RunMs = 3
  val CpuNs = 4
  val GcMs = 5
  val DeserMs = 6
  val FetchWaitMs = 7
  val ShuffleBytes = 8
  val SpillBytes = 9
  val InputRecords = 10
  val InputBytes = 11
  val OutputBytes = 12

  def delta(from: Array[Long], to: Array[Long]): Array[Long] =
    to.indices.map(i => to(i) - from(i)).toArray
}
