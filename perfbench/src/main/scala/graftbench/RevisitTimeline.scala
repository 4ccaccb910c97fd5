package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.pages.PageGen
import graft.runtime.FeatureJob
import graft.temporal.{AsOfJoin, Windows}

/** A feature-snapshot table of small rows with many revisits per url (hot
  * urls at 50x), materialized once in set-up. A pass runs the window stage
  * (`FeatureJob.temporalStage`, `Windows.backfill`, `Windows.lagLead`) to a
  * noop sink, then `AsOfJoin.asOfBucketed` of seeded label probes and
  * `AsOfJoin.leakageAudit`. No CNF kernel runs inside a pass. It runs
  * nested in a traced run of `crawl_extract`, which measures `graft.temporal`
  * with it.
  */
final class RevisitTimeline(o: Opts, spark: SparkSession, tr: Tracer, c: Counters, r: Result)
    extends Workload(o, spark, tr, c, r) {
  import spark.implicits._

  private val urls = 750
  private val cfg = PageGen.Config(urls = urls, revisitsPerUrl = 24, hotUrls = 3, hotFactor = 50,
    seed = o.seed, docScale = 1)
  private val rows = PageGen.totalRows(cfg)
  private val nProbes = 6000
  private val gapSeconds = cfg.sessionGapHours * 3600L
  private val snapPath = dir("snapshots")
  private val labelPath = dir("labels")
  private val tcfg = FeatureJob.Config(outDir = dir("unused"), sessionGapSeconds = gapSeconds)

  /** Every url's crawl timestamps, from the generator's closed form. */
  private lazy val crawlTs: Array[Array[Long]] = Array.tabulate(urls) { u =>
    val n = if (u < cfg.hotUrls) cfg.revisitsPerUrl * cfg.hotFactor else cfg.revisitsPerUrl
    Array.tabulate(n)(rv => PageGen.tsOf(cfg, u, rv))
  }

  private lazy val probes0 = RevisitTimeline.labelProbes(o.seed, cfg, crawlTs, nProbes)

  // observed by the window-stage pass, checked afterwards
  private var windowObs: Observation = _
  private var audit: (Long, Long, Long) = (0, 0, 0)
  private var joined: org.apache.spark.sql.DataFrame = _

  def setup(rep: Int): Unit = {
    // small rows: identity plus the few features the window stage reads
    val snapshots = FeatureJob.extractStage(PageGen.pages(spark, cfg).toDF())
      .select(col("url"), col("warc_ts"), col("instance_id"), col("lang"),
        struct(col("features.clauses"), col("features.variables"), col("features.bytes")).as("features"))
    snapshots.write.mode("overwrite").parquet(snapPath)
    probes0.labels.toDF("url", "label_ts", "label").write.mode("overwrite").parquet(labelPath)
  }

  def pass(i: Int, warm: Boolean): PassOut = {
    val (snap, labels) = tr.span("sources.read")(
      (spark.read.parquet(snapPath), spark.read.parquet(labelPath)))
    val t = Clock.timed {
      windowObs = Observation(s"timeline_$i")
      tr.span("temporal.window_stage") {
        val staged = FeatureJob.temporalStage(snap, tcfg)
        val filled = Windows.backfill(staged, Seq("url"), "warc_ts", Seq("clauses_prev"))
        val lagged = Windows.lagLead(filled, Seq("url"), "warc_ts", Seq("instance_id"))
        val w = pmod(unix_seconds(col("warc_ts")), lit(997L)) + 1L
        noop(lagged.observe(windowObs, count(lit(1)).as("rows"),
          sum(col("session_no")).as("s"), sum(col("session_no") * w).as("sw")))
      }
      val build = snap.select(col("url"), col("warc_ts"), col("instance_id"),
        col("features.clauses").as("clauses"))
      val asof = Clock.timed(tr.span("temporal.asof")(
        AsOfJoin.asOfBucketed(labels, build, Seq("url"), "label_ts", "warc_ts", lit(86400L))
          .localCheckpoint()))
      joined = asof.value
      audit = tr.span("temporal.leakage_audit") {
        val a = AsOfJoin.leakageAudit(joined, Seq("url"), "label_ts", "warc_ts")
          .agg(sum("n_rows"), sum("n_matched"), sum("n_leaks")).head()
        (a.getLong(0), a.getLong(1), a.getLong(2))
      }
      asof.wallS
    }
    if (!warm) result.sample("asof_probes_per_s", nProbes / t.value)
    PassOut(rows, t.wallS, t.cpuS)
  }

  def check(i: Int): Option[String] = {
    val m = windowObs.get
    val (wantS, wantSw) = RevisitTimeline.sessionSums(crawlTs, gapSeconds)
    val (n, s, sw) = (m("rows").asInstanceOf[Long], m("s").asInstanceOf[Long], m("sw").asInstanceOf[Long])
    val ties = joined.where(col("warc_ts") === col("label_ts")).count()
    if (n != rows) Some(s"window stage saw $n rows, expected $rows")
    else if (s != wantS || sw != wantSw) Some(s"session splits differ from the closed form ($s/$sw vs $wantS/$wantSw)")
    else if (audit._3 != 0) Some(s"leakage audit found ${audit._3} leaks")
    else if (audit._1 != nProbes) Some(s"as-of join returned ${audit._1} rows for $nProbes probes")
    else if (audit._2 != probes0.expectMatched) Some(s"${audit._2} probes matched, expected ${probes0.expectMatched}")
    else if (ties < probes0.ties) Some(s"only $ties of ${probes0.ties} tie probes matched their own crawl")
    else None
  }

  def probes(): Unit = scanProbe(snapPath, spark.read.parquet(snapPath))

  def coreDocs: Seq[String] = sampleDocs(cfg, 400)
}

object RevisitTimeline {
  final case class Probes(labels: Seq[(String, Timestamp, Int)], expectMatched: Long, ties: Long)

  /** Seeded label probes: a tenth fall before the url's first crawl (they
    * must stay unmatched), a fifth sit exactly on a crawl timestamp, and the
    * rest fall anywhere up to a day past the url's last crawl. One probe in
    * ten targets a hot url.
    */
  def labelProbes(seed: Long, cfg: PageGen.Config, ts: Array[Array[Long]], n: Int): Probes = {
    var matched = 0L
    var ties = 0L
    val labels = (0 until n).map { j =>
      val r = Rng.mix(seed, 0x1abe1, j)
      val u =
        if (Rng.below(r, 10) == 0) Rng.below(Rng.mix64(r), cfg.hotUrls).toInt
        else (cfg.hotUrls + Rng.below(Rng.mix64(r), ts.length - cfg.hotUrls)).toInt
      val crawls = ts(u)
      val r2 = Rng.mix64(r ^ 0x77)
      val t = Rng.below(r2, 10) match {
        case 0 => crawls(0) - 1 - Rng.below(Rng.mix64(r2), 48L * 3600 * 1000)
        case 1 | 2 => ties += 1; crawls(Rng.below(Rng.mix64(r2), crawls.length).toInt)
        case _ => crawls(0) + Rng.below(Rng.mix64(r2), crawls.last - crawls(0) + 24L * 3600 * 1000)
      }
      if (t >= crawls(0)) matched += 1
      (PageGen.urlOf(cfg, u), new Timestamp(t), (r2 & 1).toInt)
    }
    Probes(labels, matched, ties)
  }

  /** Closed-form sessionization: a new session starts when the gap to the
    * previous crawl exceeds `gapSeconds` whole seconds (FeatureJob's rule).
    * Returns the sum of session numbers and the same sum weighted by
    * `epoch seconds mod 997 + 1`.
    */
  def sessionSums(ts: Array[Array[Long]], gapSeconds: Long): (Long, Long) = {
    var s = 0L
    var sw = 0L
    ts.foreach { crawls =>
      var session = 0L
      var k = 0
      while (k < crawls.length) {
        val sec = Math.floorDiv(crawls(k), 1000L)
        if (k > 0 && sec - Math.floorDiv(crawls(k - 1), 1000L) > gapSeconds) session += 1
        s += session
        sw += session * (Math.floorMod(sec, 997L) + 1)
        k += 1
      }
    }
    (s, sw)
  }
}
