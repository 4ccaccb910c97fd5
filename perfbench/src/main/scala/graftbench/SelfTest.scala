package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.core.{CnfBase, Dimacs}
import graft.pages.PageGen
import graft.runtime.Manifest

/** The benchmark's own checks must catch a deliberately corrupted output.
  * Each case builds a correct output, confirms the check passes, corrupts
  * it and confirms the check fails. Exits non-zero on the first miss.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(work: Path): Unit = {
    kernelRow()
    sessions()
    streamSessions()
    withSpark(work)
    if (failures > 0) {
      System.err.println(s"$failures self-test case(s) failed")
      sys.exit(1)
    }
  }

  private def kernelRow(): Unit = {
    val text = PageGen.textOf(PageGen.Config(docScale = 4), 5, 2).getBytes(StandardCharsets.UTF_8)
    val feats = CnfBase.extract(text)
    val schema = StructType(Seq(StructField("instance_id", StringType),
      StructField("features", StructType(CnfBase.featureNames.map(StructField(_, DoubleType))))))
    def row(id: String, f: Array[Double]): Row =
      new GenericRowWithSchema(Array(id, Row.fromSeq(f.toSeq)), schema)
    expect("crawl row: exact kernels pass", CrawlExtract.compare(row(Dimacs.gbdHashCnf(text), feats), text).isEmpty)
    expect("crawl row: wrong instance_id caught",
      CrawlExtract.compare(row("0" * 32, feats), text).nonEmpty)
    val off = feats.clone(); off(7) = off(7) * (1 + 1e-3) + 1e-3
    expect("crawl row: feature off by 1e-3 caught", CrawlExtract.compare(row(Dimacs.gbdHashCnf(text), off), text).nonEmpty)
  }

  private def sessions(): Unit = {
    val h = 3600 * 1000L
    val good = Array(Array(0L, 2 * h, 20 * h, 21 * h))
    val (s, sw) = RevisitTimeline.sessionSums(good, 6 * 3600L)
    expect("timeline: closed-form split", s == 2L)
    val moved = Array(Array(0L, 2 * h, 7 * h, 21 * h))
    expect("timeline: a moved split changes the sums", RevisitTimeline.sessionSums(moved, 6 * 3600L) != ((s, sw)))
  }

  private def streamSessions(): Unit = {
    val h = 3600 * 1000L
    val rows = Seq(("u", 0L), ("u", 2 * h), ("u", 9 * h), ("v", h)).map(x => (x._1, new Timestamp(x._2)))
    val want = Set(("u", 0L, 2 * h, 2L), ("u", 9 * h, 9 * h, 1L), ("v", h, h, 1L))
    expect("stream: closed-form sessions", StreamIngest.closedSessions(rows, 6 * h) == want)
  }

  private def withSpark(work: Path): Unit = {
    val o = Opts("crawl_extract", seed = 7, seconds = 0, trace = false,
      work = work.resolve("crawl"), out = work.resolve("unused.json"), cores = 2, scale = 0.02)
    Main.clean(work)
    Files.createDirectories(o.work)
    val spark = Main.session(o, 4)
    try {
      import spark.implicits._
      val counters = new Counters
      val w = new CrawlExtract(o, spark, new Tracer(spark.sparkContext, false), counters, new Result)
      w.setup(0)
      w.pass(1, warm = true)
      expect("crawl pass: correct output passes", w.check(1).isEmpty)
      val out = o.work.resolve("features")
      val entries = Manifest.completed(out.toString,
        graft.runtime.FeatureJob.fingerprint(graft.sources.PageTable.read(spark, o.work.resolve("pages").toString)))
      val e = entries.head._2
      Manifest.commit(out.toString, e.copy(rowCount = e.rowCount + 1))
      expect("crawl pass: manifest row count corrupted is caught", w.check(1).nonEmpty)
      Manifest.commit(out.toString, e)
      expect("crawl pass: restored manifest passes", w.check(1).isEmpty)

      val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u")).toDF("id", "text")
      val good = Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false), (3L, 3L, 1L, true))
        .toDF("id", "cluster_id", "cluster_size", "kept")
      expect("neardup: correct labels pass", NeardupCurate.check(good, docs, 3).isEmpty)
      val twoKept = Seq((1L, 1L, 2L, true), (2L, 1L, 2L, true), (3L, 3L, 1L, true))
        .toDF("id", "cluster_id", "cluster_size", "kept")
      expect("neardup: a cluster keeping two rows is caught", NeardupCurate.check(twoKept, docs, 3).nonEmpty)
      val split = Seq((1L, 1L, 1L, true), (2L, 2L, 1L, true), (3L, 3L, 1L, true))
        .toDF("id", "cluster_id", "cluster_size", "kept")
      expect("neardup: split exact repeats are caught", NeardupCurate.check(split, docs, 3).nonEmpty)
    } finally spark.stop()
  }
}
