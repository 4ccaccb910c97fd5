package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark task counters keyed by the job group that issued the work. The
  * benchmark sets the job group to the name of the span around each call
  * (see [[Tracer]]), so a group reads `temporal.asof` or `runtime.run`.
  * Micro-batch jobs of a streaming query run under the query's own group;
  * they are filed under `streaming.batch` once the query is registered.
  *
  * One exception: work of a Spark stage that evaluates a graft kernel
  * expression (`cnf_extract`, `shingles`, ...) is filed under
  * `functions.stage`, whichever call issued it, and the stage's interval is
  * kept so the trace can show it as a `graft.functions` child span of that
  * call. A stage is recognised from the physical plan: every plan fragment
  * between two exchanges whose operators mention a kernel marks its SQL
  * metrics, and a task or stage that updates one of them is a kernel stage.
  */
final class Counters extends SparkListener {
  import Counters.Totals

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Totals]()
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val streamGroups = ConcurrentHashMap.newKeySet[String]()
  private val kernelAccs = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val kernelStageList = new java.util.concurrent.ConcurrentLinkedQueue[Counters.KernelStage]()

  def registerStream(runId: String): Unit = streamGroups.add(runId)

  private def totals(group: String): Totals = byGroup.computeIfAbsent(group, _ => new Totals)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val raw = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    val group = if (streamGroups.contains(raw)) "streaming.batch" else raw
    js.stageIds.foreach(stageGroup.put(_, group))
    val t = totals(group)
    t.synchronized(t.jobs += 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => index(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => index(u.sparkPlanInfo)
    case _ =>
  }

  private def index(plan: SparkPlanInfo): Unit =
    Counters.fragments(plan).foreach { frag =>
      if (frag.exists(n => Counters.Kernel.findFirstIn(n.simpleString).isDefined))
        // an exchange's read metrics move in the next stage, so only the
        // operators that run in this fragment's own stage mark it
        frag.filterNot(Counters.boundary).foreach(_.metrics.foreach(m => kernelAccs.add(m.accumulatorId)))
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    if (si.accumulables.keys.exists(id => kernelAccs.contains(id)))
      for (s <- si.submissionTime; e <- si.completionTime)
        kernelStageList.add(Counters.KernelStage(stageGroup.getOrDefault(si.stageId, "unattributed"), s, e))
  }

  /** Kernel stages seen so far: (group of the issuing call, submit ms, end ms). */
  def kernelStages: Seq[Counters.KernelStage] = kernelStageList.asScala.toSeq

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m == null) return
    val kernel = te.taskInfo != null && te.taskInfo.accumulables.exists(a => kernelAccs.contains(a.id))
    val t = totals(if (kernel) "functions.stage" else stageGroup.getOrDefault(te.stageId, "unattributed"))
    t.synchronized {
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
    val d = taskMs.computeIfAbsent(te.stageId, _ => ArrayBuffer.empty[Long])
    d.synchronized(d += m.executorRunTime)
  }

  /** Current totals per group (copies). */
  def snapshot(): Map[String, Totals] =
    byGroup.asScala.map { case (g, t) => g -> t.synchronized(t.copy()) }.toMap

  /** Per stage of the given groups: max over median task run time, for
    * stages with at least `minTasks` tasks and a median of at least 1 ms.
    */
  def stageSkews(groups: String => Boolean, minTasks: Int): Seq[Double] =
    taskMs.asScala.toSeq.flatMap { case (stage, ms) =>
      val g = stageGroup.get(stage)
      val xs = ms.synchronized(ms.sorted.toVector)
      if (g == null || !groups(g) || xs.size < minTasks) None
      else {
        val med = Stats.median(xs.map(_.toDouble))
        if (med < 1.0) None else Some(xs.last / med)
      }
    }
}

object Counters {
  final case class KernelStage(group: String, startMs: Long, endMs: Long)

  /** graft kernel expressions as they print in a physical plan. */
  val Kernel: scala.util.matching.Regex =
    """\b(cnf_extract|cnf_features|gbd_hash\w*|iso_hash\w*|shingles|minhash_\w+|jaccard_sorted|simhash64\w*)\(""".r

  def boundary(n: SparkPlanInfo): Boolean =
    n.nodeName.contains("Exchange") || n.nodeName.contains("QueryStage")

  /** Split a physical plan into stage fragments at exchange boundaries; an
    * exchange belongs to the fragment below it, whose tasks write it.
    */
  def fragments(root: SparkPlanInfo): Seq[Seq[SparkPlanInfo]] = {
    val out = ArrayBuffer.empty[Seq[SparkPlanInfo]]
    def collect(start: SparkPlanInfo): Unit = {
      val frag = ArrayBuffer.empty[SparkPlanInfo]
      def walk(n: SparkPlanInfo): Unit = {
        frag += n
        n.children.foreach(c => if (boundary(c) && !boundary(n)) collect(c) else walk(c))
      }
      walk(start)
      out += frag.toSeq
    }
    collect(root)
    out.toSeq
  }

  final class Totals(
      var jobs: Long = 0, var tasks: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0, var inputBytes: Long = 0) {
    def copy(): Totals = new Totals(jobs, tasks, cpuNs, gcMs, shuffleWriteBytes, spillBytes, inputBytes)
    def minus(o: Totals): Totals = new Totals(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
      gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      inputBytes - o.inputBytes)
    def plus(o: Totals): Totals = new Totals(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
      gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      inputBytes + o.inputBytes)
  }

  /** Difference of two snapshots, group by group. */
  def delta(after: Map[String, Totals], before: Map[String, Totals]): Map[String, Totals] =
    after.map { case (g, t) => g -> before.get(g).fold(t.copy())(t.minus) }
}
