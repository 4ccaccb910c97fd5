package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, xxhash64}

import scala.jdk.CollectionConverters._

import graft.pages.PageGen

/** One benchmark workload. Set-up builds the inputs from the seed; a pass is
  * the timed job; `check` verifies the pass's output outside the timed part;
  * `probes` are the per-layer measurements of a traced run.
  */
abstract class Workload(val o: Opts, val spark: SparkSession, val tr: Tracer,
                        val counters: Counters, val result: Result) {

  /** Generate and materialize the inputs; run [[Main.setupReps]] times. */
  def setup(rep: Int): Unit

  /** One timed pass. */
  def pass(i: Int, warm: Boolean): PassOut

  /** Check the output of the pass that just ran; None when it is correct. */
  def check(i: Int): Option[String]

  /** Per-layer probes of a traced run, after the timed passes. */
  def probes(): Unit

  /** A seeded sample of this workload's documents for [[CoreProbe]]. */
  def coreDocs: Seq[String]

  def close(): Unit = ()

  protected def dir(name: String): String = o.work.resolve(name).toString

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Documents of a PageGen corpus at seeded row ids. */
  protected def sampleDocs(cfg: PageGen.Config, n: Int): Seq[String] = {
    val total = PageGen.totalRows(cfg)
    (0 until n).map { k =>
      val (u, r) = PageGen.decompose(cfg, Rng.below(Rng.mix(o.seed, 0x5a, k), total))
      PageGen.textOf(cfg, u, r)
    }
  }

  /** Seconds and counter deltas of a named probe call; records the span. */
  protected def probe[T](name: String)(body: => T): (T, Double, Counters.Totals) = {
    Main.drainListeners(spark)
    val before = counters.snapshot()
    val t = Clock.timed(tr.span(name)(body))
    Main.drainListeners(spark)
    // everything the call moved, kernel stages included
    val moved = Counters.delta(counters.snapshot(), before).values.foldLeft(new Counters.Totals)(_.plus(_))
    (t.value, t.wallS, moved)
  }

  /** Run another workload's set-up, one warm and one measured pass and its
    * check inside this traced run, so the layer it exercises is measured
    * here. Its spans and samples land in this run's result.
    */
  protected def nested(w: Workload): Unit = {
    tr.quiet { w.setup(0); w.pass(0, warm = true) }
    measuredPass(w.pass(1, warm = false))
    w.check(1).foreach(e => throw new IllegalStateException(s"${w.o.workload} probe failed its check: $e"))
  }

  /** Run a measured pass and keep the Spark counters it moved. */
  def measuredPass[T](body: => T): T = {
    Main.drainListeners(spark)
    val before = counters.snapshot()
    try body
    finally {
      Main.drainListeners(spark)
      result.passCounters += Counters.delta(counters.snapshot(), before)
    }
  }

  /** `sources.scan.s`: a full scan of the table at `path`; `sources.scan_mb`:
    * the parquet bytes that scan reads.
    */
  protected def scanProbe(path: String, read: => DataFrame): Unit = {
    // a hash over every column, so no column is pruned from the scan
    val runs = (0 until 2).map(_ => probe("sources.scan") {
      val df = read
      df.agg(max(xxhash64(df.columns.toSeq.map(col): _*))).head()
    })
    result.layer("sources.scan.s") = Stats.median(runs.map(_._2))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try result.layer("sources.scan_mb") = files.iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(java.nio.file.Files.size(_)).sum / 1e6
    finally files.close()
  }
}

object Workload {
  val names: Seq[String] = Seq("crawl_extract", "neardup_curate")

  def apply(o: Opts, spark: SparkSession, tr: Tracer, c: Counters, r: Result): Workload =
    o.workload match {
      case "crawl_extract" => new CrawlExtract(o, spark, tr, c, r)
      case "neardup_curate" => new NeardupCurate(o, spark, tr, c, r)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (one of ${names.mkString(", ")})")
    }

  /** One shuffle partition per core (streaming state lives per partition). */
  def shufflePartitions(o: Opts): Int = o.cores
}

/** splitmix64, the same mixing PageGen uses, for the benchmark's own draws. */
object Rng {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, a: Long, b: Long): Long = mix64(mix64(mix64(seed) ^ a) ^ b)
  def below(r: Long, n: Long): Long = (r >>> 1) % n
}
