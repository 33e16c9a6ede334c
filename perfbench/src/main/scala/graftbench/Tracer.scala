package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerBus

/** One traced interval: a layer boundary the benchmark crossed. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, inJobMs: Long, counts: Array[Long]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "op" -> op, "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs,
    "in_job_ms" -> inJobMs,
    "counts" -> Counters.Names.zip(counts).toMap)
}

/** Records spans around the benchmark's calls into each layer, in
  * memory, when enabled; when disabled, `span` only runs its body.
  *
  * Before a span starts and after its body returns, the listener bus
  * is drained so the span's counts hold exactly the events of its own
  * interval. The drain after the body falls outside the span's own
  * duration, into its parent's self time.
  */
final class Tracer(sc: SparkContext, counters: Counters,
    val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1

  def spans: Seq[Span] = done.toSeq

  /** Run `body` as the root span "op" of operation `opId`. */
  def op[A](opId: Int)(body: => A): A = {
    currentOp = opId
    try span("op")(body) finally currentOp = -1
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      ListenerBus.drain(sc)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters.snapshot()
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        ListenerBus.drain(sc)
        done += Span(id, parent, currentOp, name, ns0, ns1,
          counters.inJobMs(ms0, ms1),
          Counters.delta(before, counters.snapshot()))
      }
    }
}
