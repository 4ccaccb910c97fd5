package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --out <result.json>
  *   graftbench.Main --selftest --work <dir>
  *
  * Set-up (session start, corpus generation and materialization, the warm
  * passes) is timed first. Timed passes then run until `--seconds` have
  * passed, each after a full collection outside its timing, so its peak heap
  * counts no garbage from before. Each pass checks its own output; a pass
  * that throws or fails its check counts as failed. A traced run records spans and finishes with the
  * per-layer probes of the workload. The raw result goes to `--out`;
  * `perfbench/run.py` turns it into the reported metrics.
  */
object Main {
  /** Corpus materializations per run; `setup_s` takes their median. */
  val setupReps = 3
  /** Passes of set-up before timing: after a single one, the JIT is still
    * making each pass 5-15% faster than the one before.
    */
  val warmPasses = 2
  val minPasses = 3

  def session(o: Opts, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graft-perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) {
      val i = args.indexOf("--work")
      SelfTest.run(java.nio.file.Paths.get(args(i + 1)).toAbsolutePath)
      return
    }
    val o = Opts.parse(args)
    clean(o.work)
    Files.createDirectories(o.work)
    val result = new Result
    result.notes("jvm_args") = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.mkString(" ")

    val sessionT = Clock.timed(session(o, Workload.shufflePartitions(o)))
    val spark = sessionT.value
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val w = Workload(o, spark, tracer, counters, result)
    try {
      val corpus = (0 until setupReps).map(r => Clock.timed(w.setup(r)).wallS)
      // warm passes are not checked; every timed pass is
      val warm = Clock.timed((0 until warmPasses).foreach(k => tracer.quiet(w.pass(-k, warm = true))))
      result.setup("session_s") = sessionT.wallS
      result.setup("corpus_s") = corpus
      result.setup("warm_s") = warm.wallS

      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      val heap = ArrayBuffer.empty[Heap.Watch]
      var i = 1
      var broken = false
      while (!broken && (i <= minPasses || System.nanoTime() < deadline)) {
        tracer.newTrace()
        val out =
          try {
            val (p, watch) = Heap.watch(w.measuredPass(tracer.span("pass")(w.pass(i, warm = false))))
            heap += watch
            p.copy(error = w.check(i))
          } catch { case e: Exception => PassOut(0, 0, 0, Some(describe(e))) }
        result.passes += out
        // a pass that threw leaves no state the next pass could trust
        broken = out.wallS == 0
        i += 1
      }
      drainListeners(spark)
      Thread.sleep(200)
      heap.foreach(h => result.sample("peak_heap_mb", Heap.peakMb(h)))
      val live = Heap.liveMb()
      result.notes("live_heap_mb") = live
      // a run whose first pass threw has only the heap it was left with
      result.notes("peak_heap_mb") = result.samples.get("peak_heap_mb").fold(live)(xs => Stats.median(xs.toSeq))
      if (o.trace) {
        tracer.newTrace()
        tracer.span("probe")(w.probes())
        CoreProbe.run(w.coreDocs, result)
        result.layer("temporal.task_skew") = {
          val s = counters.stageSkews(g => g.startsWith("temporal."), o.cores)
          if (s.isEmpty) 0.0 else Stats.median(s)
        }
      }
      drainListeners(spark)
      counters.kernelStages.foreach(k => tracer.attach("functions.stage", k.group, k.startMs, k.endMs))
      result.write(o.out, tracer.spans)
    } finally {
      w.close()
      spark.stop()
    }
  }

  def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  /** Wait until every queued listener event has been delivered. */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  def clean(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally walk.close()
    }
}
