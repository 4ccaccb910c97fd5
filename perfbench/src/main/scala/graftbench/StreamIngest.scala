package graftbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.pages.PageGen
import graft.streaming.Streaming

/** The revisit corpus replayed through a `MemoryStream` in `warc_ts` order,
  * in fixed-size micro-batches, into `Streaming.sessionized`. A seeded share
  * of the rows near the end of each batch is held back to the next batch, so
  * it arrives out of order but inside the watermark. The loop is closed: the
  * next batch is added only after the previous one has committed. It runs
  * nested in a traced run of another workload (see [[replay]]): a warm pass
  * of `warmBatches` batches, then one measured pass of `batchesPerPass`.
  */
final class StreamIngest(o: Opts, spark: SparkSession, tr: Tracer, c: Counters, r: Result)
    extends Workload(o, spark, tr, c, r) {
  import spark.implicits._

  private val warmBatches = 3
  private val batchesPerPass = 12
  private val batchRows = 120
  private val gapMs = 6 * 3600 * 1000L
  private val cfg = PageGen.Config(urls = 6000, revisitsPerUrl = 24, hotUrls = 3, hotFactor = 50,
    seed = o.seed)

  private var batches: IndexedSeq[Array[(String, Timestamp)]] = _
  private var input: MemoryStream[(String, Timestamp)] = _
  private var query: StreamingQuery = _
  private var next = 0 // next batch to add
  private var warmProgress = 0 // progress entries of the warm batches
  private val fed = ArrayBuffer.empty[(String, Timestamp)]

  def setup(rep: Int): Unit =
    batches = StreamIngest.schedule(o.seed, cfg, batchRows, warmBatches + batchesPerPass)

  private def start(): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[(String, Timestamp)]
    query = Streaming.sessionized(input.toDF().toDF("url", "warc_ts"), "6 hours", "1 hour")
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append())
      .option("checkpointLocation", dir("stream-checkpoint"))
      .start()
    c.registerStream(query.runId.toString)
  }

  /** Add the next batch and wait for its commit; returns (ms, rows). */
  private def addBatch(): (Double, Int) = {
    val b = batches(next)
    next += 1
    val t0 = System.nanoTime()
    input.addData(b.toSeq)
    query.processAllAvailable()
    val t1 = System.nanoTime()
    tr.record("streaming.batch", t0, t1)
    fed ++= b
    ((t1 - t0) / 1e6, b.length)
  }

  def pass(i: Int, warm: Boolean): PassOut = {
    if (warm) start()
    val n = if (warm) warmBatches else batchesPerPass
    val t = Clock.timed((0 until n).map(_ => addBatch()))
    if (warm) warmProgress = query.recentProgress.length
    if (!warm) t.value.foreach(b => result.sample("batch_ms", b._1))
    PassOut(t.value.map(_._2.toLong).sum, t.value.map(_._1).sum / 1e3, t.cpuS)
  }

  def check(i: Int): Option[String] = {
    val progress = query.recentProgress
    val inRows = progress.map(_.numInputRows).sum
    if (inRows != fed.size) return Some(s"query read $inRows rows, ${fed.size} were added")
    val wm = Option(progress.last.eventTime.get("watermark"))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(Long.MinValue)
    val want = StreamIngest.closedSessions(fed.toSeq, gapMs)
    val got = spark.table("sessions").select("url", "session_start", "session_end", "session_revisits")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3))).toSet
    val missing = want.filter(s => s._3 + gapMs < wm && !got.contains(s))
    val extra = got -- want
    if (extra.nonEmpty) Some(s"${extra.size} emitted sessions differ from the closed form, e.g. ${extra.head}")
    else if (missing.nonEmpty) Some(s"${missing.size} closed sessions were not emitted, e.g. ${missing.head}")
    else None
  }

  def probes(): Unit = {
    val ps = query.recentProgress.drop(warmProgress).filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)).toSeq)
    result.layer("streaming.trigger_ms") = dur("triggerExecution")
    result.layer("streaming.add_batch_ms") = dur("addBatch")
    result.layer("streaming.query_planning_ms") = dur("queryPlanning")
    result.layer("streaming.wal_commit_ms") = dur("walCommit")
    result.layer("streaming.state_commit_ms") =
      Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble).toSeq)
    val last = ps.last.stateOperators
    result.layer("streaming.state_rows") = last.map(_.numRowsTotal).sum.toDouble
    result.layer("streaming.state_mem_mb") = last.map(_.memoryUsedBytes).sum / 1e6
  }

  def coreDocs: Seq[String] = sampleDocs(cfg, 400)

  override def close(): Unit = if (query != null) query.stop()

  /** A short replay (warm batches, then one pass) whose streaming metrics
    * become probes of another workload's traced run.
    */
  def replay(): Unit = {
    tr.quiet { setup(0); pass(0, warm = true) }
    measuredPass(pass(1, warm = false))
    check(1).foreach(e => throw new IllegalStateException(s"stream replay failed its check: $e"))
    probes()
  }
}

object StreamIngest {
  /** The first `nBatches * batchRows` crawls of the corpus in timestamp
    * order, cut into batches. In each batch but the last, a seeded third of
    * the rows within 30 minutes of the batch's latest timestamp move to the
    * next batch: they arrive late, yet never behind the one-hour watermark.
    */
  def schedule(seed: Long, cfg: PageGen.Config, batchRows: Int, nBatches: Int): IndexedSeq[Array[(String, Timestamp)]] = {
    val need = batchRows.toLong * nBatches
    val all = ArrayBuffer.empty[(Long, Int)]
    var u = 0
    while (u < cfg.urls) {
      val n = if (u < cfg.hotUrls) cfg.revisitsPerUrl * cfg.hotFactor else cfg.revisitsPerUrl
      var rv = 0
      while (rv < n) { all += ((PageGen.tsOf(cfg, u, rv), u)); rv += 1 }
      u += 1
    }
    require(all.size >= need, s"corpus of ${all.size} rows is smaller than $need")
    val ordered = all.sortBy(x => (x._1, x._2)).take(need.toInt)
      .map { case (ts, u) => (PageGen.urlOf(cfg, u), new Timestamp(ts)) }
    val out = ArrayBuffer.empty[Array[(String, Timestamp)]]
    var carry = Seq.empty[(String, Timestamp)]
    (0 until nBatches).foreach { b =>
      val slice = ordered.slice(b * batchRows, (b + 1) * batchRows)
      val maxTs = slice.map(_._2.getTime).max
      val (late, now) = if (b == nBatches - 1) (Seq.empty, slice) else slice.zipWithIndex.partition {
        case ((_, ts), k) => ts.getTime >= maxTs - 30 * 60 * 1000L &&
          Rng.below(Rng.mix(seed, 0x5e55, b.toLong * batchRows + k), 3) == 0
      } match { case (l, n) => (l.map(_._1), n.map(_._1)) }
      out += (carry ++ now).toArray
      carry = late.toSeq
    }
    out.toIndexedSeq
  }

  /** Closed-form sessions of the rows: per url, a session ends where the gap
    * to the next crawl reaches `gapMs` (session_window semantics). Returns
    * (url, first crawl, last crawl, crawls) per session.
    */
  def closedSessions(rows: Seq[(String, Timestamp)], gapMs: Long): Set[(String, Long, Long, Long)] =
    rows.groupBy(_._1).iterator.flatMap { case (url, rs) =>
      val ts = rs.map(_._2.getTime).sorted
      val out = ArrayBuffer.empty[(String, Long, Long, Long)]
      var start = ts.head
      var n = 1L
      ts.sliding(2).foreach {
        case Seq(a, b) =>
          if (b - a >= gapMs) { out += ((url, start, a, n)); start = b; n = 1 } else n += 1
        case _ =>
      }
      out += ((url, start, ts.last, n))
      out
    }.toSet
}
