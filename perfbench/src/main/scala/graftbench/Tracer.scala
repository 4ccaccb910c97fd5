package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** Spans around the benchmark's own calls into each graft layer.
  *
  * A span's name is `<layer>.<call>` (`runtime.run`, `temporal.asof`); the
  * root span of a timed pass is `pass`. All spans opened while one pass runs
  * share that pass's trace id. Spans stay in memory and are written out with
  * the run's result; self time is computed from them afterwards.
  *
  * Every span also names the Spark job group of the jobs its call issues, in
  * traced and untraced runs alike, so Spark counters can be attributed to the
  * call that caused them (see [[Counters]]). Only the span record itself is
  * switched off in an untraced run.
  */
final class Tracer(sc: SparkContext, recordSpans: Boolean) {
  import Tracer.Span

  private val recorded = ArrayBuffer.empty[Span]
  // wall-clock ms (Spark's stage times) to this JVM's nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var open: List[Int] = Nil
  private var nextId = 0
  private var trace = 0
  private var recording = recordSpans

  /** Run `body` without recording its spans (a warm-up inside a probe). */
  def quiet[T](body: => T): T = {
    val was = recording
    recording = false
    try body finally recording = was
  }

  /** Start a new trace: spans opened from now on share a fresh id. */
  def newTrace(): Int = { trace += 1; trace }

  def span[T](name: String)(body: => T): T = {
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(name, name)
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      if (recording) recorded += Span(id, parent, trace, name, t0, t1)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Record an already-timed interval as a child of the innermost open span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (recording) {
      recorded += Span(nextId, open.headOption.getOrElse(-1), trace, name, startNs, endNs)
      nextId += 1
    }

  /** After the fact: make an interval given in wall-clock ms a child span of
    * the recorded span named `parentName` that contains its start.
    */
  def attach(name: String, parentName: String, startMs: Long, endMs: Long): Unit =
    if (recording) {
      val (s, e) = (startMs * 1000000L - epochOffsetNs, endMs * 1000000L - epochOffsetNs)
      recorded.find(p => p.name == parentName && p.startNs - 1000000L <= s && s <= p.endNs).foreach { p =>
        recorded += Span(nextId, p.id, p.trace, name, math.max(s, p.startNs), math.min(math.max(e, s), p.endNs))
        nextId += 1
      }
    }

  def spans: Seq[Span] = recorded.toSeq
}

object Tracer {
  final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long, endNs: Long)
}
