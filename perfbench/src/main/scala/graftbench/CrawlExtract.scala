package graftbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CnfBase, Dimacs}
import graft.pages.PageGen
import graft.runtime.{FeatureJob, Manifest}
import graft.sources.PageTable

/** Heavy CNF pages read from the PageTable layout; `FeatureJob.run` writes
  * per-shard parquet and the manifest, `Manifest.truncate` then drops a
  * seeded subset of shards and the run is resumed. The only workload that
  * writes and resumes; `graft.core` and `graft.functions` do most of its work.
  */
final class CrawlExtract(o: Opts, spark: SparkSession, tr: Tracer, c: Counters, r: Result)
    extends Workload(o, spark, tr, c, r) {

  private val shards = 8
  private val dropPerPass = 2
  private val urls = math.max(64, (2500 * o.scale).toInt)
  private val cfg = PageGen.Config(urls = urls, revisitsPerUrl = 2, hotUrls = 4, hotFactor = 4,
    seed = o.seed, docScale = 16)
  private val rows = PageGen.totalRows(cfg)
  private val table = dir("pages")
  private val outDir = dir("features")
  private val jobCfg = FeatureJob.Config(outDir = outDir, shards = shards)
  private val runSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]

  // what the last pass committed before truncation, and which shards it dropped
  private var fullManifest = Map.empty[Int, Manifest.Entry]
  private var dropped = Set.empty[Int]

  def setup(rep: Int): Unit =
    PageTable.write(PageGen.pages(spark, cfg).toDF(), table, nBuckets = 4)

  def pass(i: Int, warm: Boolean): PassOut = {
    Main.clean(java.nio.file.Paths.get(outDir))
    val pages = tr.span("sources.read")(PageTable.read(spark, table))
    val run = Clock.timed(tr.span("runtime.run")(FeatureJob.run(spark, pages, jobCfg)))
    fullManifest = Manifest.completed(outDir, FeatureJob.fingerprint(pages))
    dropped = new scala.util.Random(Rng.mix(o.seed, 0x7c, i))
      .shuffle((0 until shards).toList).take(dropPerPass).toSet
    tr.span("runtime.truncate")(Manifest.truncate(outDir, (0 until shards).toSet -- dropped))
    val resume = Clock.timed(tr.span("runtime.resume")(
      FeatureJob.run(spark, PageTable.read(spark, table), jobCfg)))
    if (!warm) {
      runSeconds += run.wallS
      result.sample("resume_s", resume.wallS)
      result.sample("runtime.resume_waste",
        resume.value.processedShards.size.toDouble / dropped.size)
    }
    PassOut(run.value.rows, run.wallS, run.cpuS)
  }

  def check(i: Int): Option[String] = {
    val out = spark.read.parquet(s"$outDir/data")
    val resumed = Manifest.completed(outDir, FeatureJob.fingerprint(PageTable.read(spark, table)))
    // row counts: input rows = manifest rows = rows on disk, shard by shard
    val onDisk = out.groupBy("_shard").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val badCount = (0 until shards).find(s =>
      !resumed.get(s).exists(e => e.rowCount == onDisk.getOrElse(s, 0L)))
    if (badCount.isDefined) return Some(s"shard ${badCount.get}: manifest rows differ from output rows")
    if (resumed.values.map(_.rowCount).sum != rows)
      return Some(s"manifest rows ${resumed.values.map(_.rowCount).sum} != input rows $rows")
    // resumed shards equal the full run's
    val changed = dropped.filterNot(s => resumed.get(s).exists(e =>
      fullManifest.get(s).exists(f => f.checksum == e.checksum && f.rowCount == e.rowCount)))
    if (changed.nonEmpty) return Some(s"resumed shards ${changed.mkString(",")} differ from the full run")
    // a seeded sample of rows matches the Spark-free kernels
    val sample = (0 until 64).map(k => PageGen.decompose(cfg, Rng.below(Rng.mix(o.seed, 0x3d, k * 7919L + i), rows)))
    val byKey = sample.map { case (u, rv) =>
      (PageGen.urlOf(cfg, u), PageGen.tsOf(cfg, u, rv)) -> PageGen.textOf(cfg, u, rv)
    }.toMap
    val got = out.where(col("url").isin(byKey.keys.map(_._1).toSeq.distinct: _*))
      .select("url", "warc_ts", "instance_id", "features").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r).toMap
    byKey.collectFirst(Function.unlift { case (key, text) =>
      got.get(key) match {
        case None => Some(s"sampled row $key missing from the output")
        case Some(row) => CrawlExtract.compare(row, text.getBytes(StandardCharsets.UTF_8)).map(e => s"$key: $e")
      }
    })
  }

  def probes(): Unit = {
    scanProbe(table, PageTable.read(spark, table))
    val cached = PageTable.read(spark, table).cache()
    val textBytes = cached.agg(sum(octet_length(col("text")))).head().getLong(0)
    val ext = (0 until 2).map(_ => probe("functions.cnf_extract")(noop(FeatureJob.extractStage(cached))))
    cached.unpersist(blocking = true)
    val extCpu = Stats.median(ext.map(_._3.cpuNs / 1e9))
    result.layer("functions.cnf_extract.s") = Stats.median(ext.map(_._2))
    result.layer("functions.cnf_extract.cpu_s") = extCpu
    result.layer("functions.cnf_extract.text_mb") = textBytes / 1e6
    val noopPipeline = (0 until 2).map(_ =>
      probe("runtime.pipeline_noop")(noop(FeatureJob.pipeline(PageTable.read(spark, table), jobCfg)))._2)
    result.layer("runtime.write_overhead_s") = Stats.median(runSeconds.toSeq) - Stats.median(noopPipeline)
    val mdir = dir("manifest-probe")
    val commits = (0 until 32).map { s =>
      val e = Manifest.Entry(s, 1000L + s, s * 31L, s"$mdir/data/_shard=$s", "probe", 1L, 2L)
      Clock.timed(tr.span("runtime.manifest_commit")(Manifest.commit(mdir, e))).wallS * 1e3
    }
    result.layer("runtime.manifest_commit.ms") = Stats.median(commits)
    // graft.temporal on its own: the revisit timeline (window stage, as-of
    // join and leakage audit) at a small scale
    tr.span("temporal.probe")(nested(new RevisitTimeline(
      o.copy(workload = "revisit_timeline", work = o.work.resolve("timeline")),
      spark, tr, c, r)))
  }

  def coreDocs: Seq[String] = sampleDocs(cfg, 400)
}

object CrawlExtract {
  /** Compare one output row with the Spark-free kernels on the same text. */
  def compare(row: Row, text: Array[Byte]): Option[String] = {
    val id = Dimacs.gbdHashCnf(text)
    if (row.getAs[String]("instance_id") != id)
      return Some(s"instance_id ${row.getAs[String]("instance_id")} != $id")
    val want = CnfBase.extract(text)
    val f = row.getAs[Row]("features")
    if (f == null || f.length != want.length) return Some("feature vector has the wrong shape")
    (0 until want.length).collectFirst(Function.unlift { k =>
      val (a, b) = (f.getDouble(k), want(k))
      val ok = (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-8 + 1e-5 * math.abs(b)
      if (ok) None else Some(s"feature ${CnfBase.featureNames(k)} = $a, expected $b")
    })
  }
}
