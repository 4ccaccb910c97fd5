package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.runtime.FeatureJob

/** Structured Streaming variants of the batch engine (SURVEY.md §2.10 —
  * engine extension, not reference-parity surface): the same DataFrame
  * operators run over an unbounded pages stream, with watermarks supplying
  * the zero-leakage discipline (late data beyond the watermark is dropped,
  * the streaming analog of "no feature reads past its as-of ts").
  *
  * The per-row feature stage is stateless, so [[extractStream]] is literally
  * the batch extractStage applied to a streaming DataFrame. Stateful pieces
  * map to built-ins: tumbling/sliding window aggregation, session_window
  * sessionization, watermark-scoped dedup.
  */
object Streaming {

  /** Stateless per-page identity + features over a stream — identical
    * semantics to the batch stage (same expressions, same kernels).
    */
  def extractStream(pages: DataFrame): DataFrame =
    FeatureJob.extractStage(pages)

  /** Tumbling-window distinct-cardinality estimate with the mergeable HLL
    * sketch as STREAMING STATE: the TypedImperativeAggregate's binary
    * register buffer lives in the state store and MERGES across
    * micro-batches (the same elementwise max that merges shards in
    * batch), so a window's estimate converges as its events arrive in any
    * batch order — the streaming dual of the batch q87 rollup. At
    * production scale the watermark bounds state exactly as it does for
    * counts; a 2^p-byte register array per open window is the entire
    * state footprint regardless of how many distinct values pass.
    * Watermark optional: None for complete-mode finite replays (tests,
    * the driver oracle).
    */
  def windowedDistinctSketch(events: DataFrame, tsCol: String, valCol: String,
                             window: String, p: Int = 12,
                             watermarkDelay: Option[String] = None): DataFrame = {
    val src = watermarkDelay.map(d => events.withWatermark(tsCol, d)).getOrElse(events)
    src.groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(graft.functions.hll_sketch(col(valCol), p).as("_sk"),
        count(lit(1)).as("events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        graft.functions.hll_estimate(col("_sk")).as("est_distinct"),
        col("events"))
  }

  /** Per-window quantile sketch as STREAMING STATE — the qsketch dual of
    * [[windowedDistinctSketch]]: the counter buffer lives in the state
    * store and merges across micro-batches with the same elementwise sum
    * that merges shards in batch, so per-window p50/p90/p99 stream
    * incrementally with O(buckets) state per window instead of a
    * per-window sort. Quantile columns are named p<permille>.
    */
  def windowedQuantileSketch(events: DataFrame, tsCol: String, valCol: String,
                             window: String, subBucketBits: Int = 5,
                             qPermilles: Seq[Int] = Seq(500, 900, 990),
                             watermarkDelay: Option[String] = None): DataFrame = {
    val src = watermarkDelay.map(d => events.withWatermark(tsCol, d)).getOrElse(events)
    val base = src
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(graft.functions.qsketch_agg(col(valCol), subBucketBits).as("_sk"))
    val qCols = qPermilles.map(q =>
      graft.functions.qsketch_quantile(col("_sk"), lit(q)).as(s"p$q"))
    base.select(Seq(col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      graft.functions.qsketch_count(col("_sk")).as("n_values")) ++ qCols: _*)
  }

  /** Generic gap-session aggregation over any (key, ts) stream — the
    * streaming dual of the batch Windows.sessionize. session_window merges
    * events whose [ts, ts+gap) windows overlap, so a session SPLITS exactly
    * when next_ts - prev_ts >= gap (strict — the batch sessionize splits at
    * > gap; the boundary case differs by design of the built-in and is
    * pinned by the q41 oracle). Watermark optional: pass None for
    * complete-mode consumers (finite replays, tests, the driver oracle).
    */
  def sessions(events: DataFrame, keyCol: String, tsCol: String, gap: String,
               watermarkDelay: Option[String] = Some("1 hour")): DataFrame = {
    val in = watermarkDelay.fold(events)(d => events.withWatermark(tsCol, d))
    in.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(
        count(lit(1)).as("session_revisits"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
  }

  /** Gap-based sessionization of the pages stream. */
  def sessionized(pages: DataFrame, gap: String = "6 hours",
                  watermarkDelay: String = "1 hour"): DataFrame =
    sessions(pages, "url", "warc_ts", gap, Some(watermarkDelay))

  /** Watermark-scoped dedup of any keyed stream: the first occurrence of
    * `keys` within the watermark horizon is emitted, repeats are dropped,
    * and per-key state is EVICTED once the watermark passes it — state
    * stays bounded by the horizon's key cardinality at any corpus scale
    * (a plain streaming dropDuplicates would grow state forever).
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           watermarkDelay: String, keys: String*): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Watermark-scoped exact dedup of revisit snapshots: a (url, content)
    * pair is emitted once within the watermark horizon.
    */
  def dedupedStream(pages: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    dedupWithinWatermark(
      extractStream(pages).where(col("status") === "ok"),
      "warc_ts", watermarkDelay, "url", "instance_id")

  /** Stream-static enrichment join: every micro-batch of the stream is
    * LEFT-joined against a static dimension table (host metadata, crawl
    * policies, language codes). Stateless — no watermark, no streaming
    * state: Spark re-plans the join per batch, and the `broadcast` hint
    * keeps the stream side shuffle-free (the dimension ships to the
    * executors once per plan; the unbounded side never exchanges).
    * Unmatched rows survive with NULL dimension columns — dropping them
    * silently is how curation pipelines lose data when a dimension table
    * lags the stream.
    */
  def enrichStatic(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-STREAM inner join within a time bound: pair rows of two
    * unbounded sources sharing `keys` whose event times sit within
    * `withinSeconds` of each other — the impression-to-click /
    * crawl-to-render correlation join. The symmetric time-range condition
    * plus the two watermarks is exactly what lets Spark BOUND the join
    * state: each side buffers only rows younger than
    * watermark + withinSeconds, and evicts the rest — without the time
    * bound the state grows forever (Spark rejects the plan in append
    * mode for that reason).
    *
    * Output: left columns ++ right columns minus the right-side key
    * duplicates. Both tsCols must be timestamps; rows match when
    * |leftTs − rightTs| <= withinSeconds (closed bound).
    */
  def joinWithin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 leftTs: String, rightTs: String, withinSeconds: Long,
                 watermarkDelay: String = "1 hour"): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    require(withinSeconds >= 0L, "withinSeconds must be >= 0")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    val iv = expr(s"INTERVAL $withinSeconds seconds")
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) - iv && r(rightTs) <= l(leftTs) + iv
    keys.foldLeft(l.join(r, cond, "inner"))((df, k) => df.drop(r(k)))
  }

  // ---- custom state via flatMapGroupsWithState ----

  final case class UrlState(lastInstanceId: String, revisits: Long, changes: Long)

  final case class ChangeEvent(url: String, warc_ts: java.sql.Timestamp,
                               instance_id: String, revisit_no: Long, change_no: Long,
                               changed: Boolean)

  /** Custom keyed state over ANY (key, ts, content-id) stream: one output
    * event per row with running revisit/change counters — the streaming
    * dual of the batch lag/delta stage. State survives across
    * micro-batches; within a batch each key's rows process in ts order.
    * Determinism contract vs the batch computation: the source must not
    * deliver a key's rows out of ts order ACROSS batches (a replay feeds
    * batches in global ts order; production relies on the watermark).
    * Timeout-free — state is bounded by key cardinality; production would
    * set a TTL timeout.
    */
  def keyedChanges(events: org.apache.spark.sql.Dataset[(String, java.sql.Timestamp, String)])
      : org.apache.spark.sql.Dataset[ChangeEvent] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (url: String, rows: Iterator[(String, java.sql.Timestamp, String)], state: GroupState[UrlState]) => {
          var st = state.getOption.getOrElse(UrlState("", 0L, 0L))
          val out = rows.toSeq.sortBy(_._2.getTime).map { case (_, ts, id) =>
            val changed = st.lastInstanceId != id
            st = UrlState(id, st.revisits + 1, st.changes + (if (changed) 1 else 0))
            ChangeEvent(url, ts, id, st.revisits, st.changes, changed)
          }
          state.update(st)
          out.iterator
        })
  }

  /** Per-url content-change tracker over the pages stream: identity from
    * the extract stage feeds [[keyedChanges]].
    */
  def contentChanges(pages: DataFrame): org.apache.spark.sql.Dataset[ChangeEvent] = {
    val spark = pages.sparkSession
    import spark.implicits._
    keyedChanges(
      extractStream(pages)
        .where(col("status") === "ok")
        .select(col("url"), col("warc_ts"), col("instance_id"))
        .as[(String, java.sql.Timestamp, String)])
  }
}
