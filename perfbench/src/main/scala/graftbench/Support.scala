package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    out: Path,
    cores: Int = Runtime.getRuntime.availableProcessors(),
    scale: Double = 1.0)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      work = java.nio.file.Paths.get(need("work")).toAbsolutePath,
      out = java.nio.file.Paths.get(need("out")).toAbsolutePath)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Wall and process-CPU time of a block. */
final case class Timed[T](value: T, wallS: Double, cpuS: Double)

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def timed[T](body: => T): Timed[T] = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val v = body
    val t1 = System.nanoTime()
    Timed(v, (t1 - t0) / 1e9, (cpuNs - c0) / 1e9)
  }
}

/** Heap use around garbage collections. */
object Heap {
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // (end of a collection in ms of JVM uptime, heap bytes in use right after it)
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]()

  private lazy val listening: Unit = {
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        afterGc.add((gc.getEndTime,
          gc.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  }

  private def usedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** A watched call: its interval in ms of JVM uptime and the heap in use
    * when it started.
    */
  final case class Watch(startMs: Long, endMs: Long, startBytes: Long)

  /** Collect the heap, then run `body`, so garbage left from before does not
    * count in its [[peakMb]].
    */
  def watch[T](body: => T): (T, Watch) = {
    listening
    System.gc()
    val bytes = usedBytes
    val start = uptimeMs
    val v = body
    (v, Watch(start, uptimeMs, bytes))
  }

  /** The largest heap in use right after a collection that ended during the
    * watched call, or at its start, in MB: the most the call held at once,
    * as far as collections sample it. Collections are reported on their own
    * thread; give them a moment after the call before asking.
    */
  def peakMb(w: Watch): Double =
    afterGc.asScala.collect { case (t, b) if t >= w.startMs && t <= w.endMs => b }
      .foldLeft(w.startBytes)(math.max) / 1e6

  /** Heap still in use after a full collection: the live set at a quiet
    * point, without the garbage whose amount depends on when the last
    * collection happened.
    */
  def liveMb(): Double = {
    // the first collection lets Spark's cleaner drop the blocks of frames
    // that are no longer referenced, the second frees what it dropped; the
    // cleaner runs on its own thread and now and then lags behind, so the
    // smaller of two readings counts
    def once(): Long = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    math.min(once(), once()) / 1e6
  }
}

/** One timed pass as the runner reports it. `rows` is the input rows the
  * timed job consumed in `wallS` seconds of wall time and `cpuS` seconds of
  * process CPU.
  */
final case class PassOut(rows: Long, wallS: Double, cpuS: Double, error: Option[String] = None)

/** Everything a run measured, written as one JSON document for the runner. */
final class Result {
  val setup = mutable.LinkedHashMap.empty[String, Any]
  val passes = ArrayBuffer.empty[PassOut]
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val passCounters = ArrayBuffer.empty[Map[String, Counters.Totals]]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  def write(path: Path, spans: Seq[Tracer.Span]): Unit = {
    val doc = Map(
      "setup" -> setup.toMap,
      "passes" -> passes.map(p => Map("rows" -> p.rows, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "error" -> p.error.orNull)),
      "samples" -> samples.toMap,
      "layer" -> layer.toMap,
      "notes" -> notes.toMap,
      "pass_counters" -> passCounters.map(_.map { case (g, t) =>
        g -> Map("jobs" -> t.jobs, "tasks" -> t.tasks, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
          "shuffle_write_bytes" -> t.shuffleWriteBytes, "spill_bytes" -> t.spillBytes,
          "input_bytes" -> t.inputBytes)
      }),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.createDirectories(path.getParent)
    Files.write(path, Serialization.write(doc)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }
}
