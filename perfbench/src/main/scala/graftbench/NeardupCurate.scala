package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pages.PageGen
import graft.ops.{BenchDedup, Dedup}

/** Pages that include the generator's exact-repeat revisits plus seeded,
  * mutated near-duplicate copies. A pass runs `Dedup.nearDupDedup` end to
  * end: candidate generation, verify and `Dedup.clusters`. No CNF kernel
  * runs.
  */
final class NeardupCurate(o: Opts, spark: SparkSession, tr: Tracer, c: Counters, r: Result)
    extends Workload(o, spark, tr, c, r) {
  import spark.implicits._

  private val urls = 3000
  private val cfg = PageGen.Config(urls = urls, revisitsPerUrl = 4, hotUrls = 2, hotFactor = 4,
    seed = o.seed, docScale = 2)
  private val base = PageGen.totalRows(cfg)
  private val copies = base / 10
  private val path = dir("docs")
  private var out: DataFrame = _

  def setup(rep: Int): Unit = {
    val (c0, seed, n) = (cfg, o.seed, base)
    val originals = spark.range(n).map { id =>
      val (u, rv) = PageGen.decompose(c0, id)
      (id.longValue, PageGen.urlOf(c0, u), PageGen.textOf(c0, u, rv))
    }
    val nearDups = spark.range(copies).map { k =>
      val src = Rng.below(Rng.mix(seed, 0xd0b, k), n)
      val (u, rv) = PageGen.decompose(c0, src)
      (n + k.longValue, PageGen.urlOf(c0, u) + "?copy", NeardupCurate.mutate(PageGen.textOf(c0, u, rv), Rng.mix(seed, 0xd0c, k)))
    }
    originals.union(nearDups).toDF("id", "url", "text").write.mode("overwrite").parquet(path)
  }

  def pass(i: Int, warm: Boolean): PassOut = {
    val docs = tr.span("sources.read")(spark.read.parquet(path))
    val t = Clock.timed(tr.span("ops.neardup")(
      Dedup.nearDupDedup(docs, "id", "text").localCheckpoint()))
    out = t.value
    PassOut(base + copies, t.wallS, t.cpuS)
  }

  def check(i: Int): Option[String] = NeardupCurate.check(out, spark.read.parquet(path), base + copies)

  def probes(): Unit = {
    scanProbe(path, spark.read.parquet(path))
    // the stages nearDupDedup runs, one call each, at its default parameters
    val pre = tr.span("ops.shingled")(
      BenchDedup.shingled(spark.read.parquet(path), "id", "text").localCheckpoint())
    val (verified, pairS, _) = probe("ops.candidate_pairs") {
      val v = BenchDedup.pairs(pre, jaccard = 0.8).localCheckpoint()
      (v, v.count())
    }
    val candidates = tr.span("ops.candidate_count")(BenchDedup.pairs(pre, jaccard = 0.0).count())
    val (_, clusterS, clusterC) = probe("ops.clusters")(Dedup.clusters(verified._1).count())
    result.layer("ops.candidate_pairs.s") = pairS
    result.layer("ops.candidate_pairs") = candidates.toDouble
    result.layer("ops.verified_pairs") = verified._2.toDouble
    result.layer("ops.verify_yield") = if (candidates == 0) 0.0 else verified._2.toDouble / candidates
    result.layer("ops.clusters.s") = clusterS
    result.layer("ops.clusters.spark_jobs") = clusterC.jobs.toDouble
    // graft.streaming on its own: a short replay of the revisit corpus
    val stream = new StreamIngest(o.copy(workload = "stream_ingest", work = o.work.resolve("stream")),
      spark, tr, c, r)
    try tr.span("streaming.probe")(stream.replay())
    finally stream.close()
  }

  def coreDocs: Seq[String] = sampleDocs(cfg, 400)
}

object NeardupCurate {
  /** Replace one literal of a clause line with another variable: a near
    * duplicate whose word shingles mostly survive.
    */
  def mutate(text: String, r: Long): String = {
    val lines = text.split("\n", -1)
    val clauseLines = lines.indices.filter(k => lines(k).nonEmpty && lines(k)(0) != 'p' && lines(k)(0) != 'c')
    if (clauseLines.isEmpty) return text + "c copy\n"
    val k = clauseLines(Rng.below(r, clauseLines.size).toInt)
    val toks = lines(k).split(" ")
    val lits = toks.indices.filter(j => toks(j).nonEmpty && toks(j) != "0")
    if (lits.isEmpty) return text + "c copy\n"
    val j = lits(Rng.below(Rng.mix64(r), lits.size).toInt)
    toks(j) = (math.abs(toks(j).toLong) + 1 + Rng.below(Rng.mix64(r ^ 1), 3)).toString
    lines(k) = toks.mkString(" ")
    lines.mkString("\n")
  }

  /** Each cluster keeps exactly one row, every input row is labelled once,
    * and rows with identical text share a cluster.
    */
  def check(out: DataFrame, docs: DataFrame, rows: Long): Option[String] = {
    val n = out.count()
    if (n != rows) return Some(s"dedup labelled $n rows, expected $rows")
    val badKeep = out.groupBy("cluster_id").agg(sum(col("kept").cast("int")).as("k"))
      .where(col("k") =!= 1).count()
    if (badKeep != 0) return Some(s"$badKeep clusters do not keep exactly one row")
    val split = out.join(docs.select("id", "text"), "id")
      .groupBy("text").agg(countDistinct("cluster_id").as("c"))
      .where(col("c") > 1).count()
    if (split != 0) Some(s"$split exact-repeat texts are split across clusters") else None
  }
}
