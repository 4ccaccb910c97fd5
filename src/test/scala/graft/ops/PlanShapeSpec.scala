package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, XxHash64}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.functions.MinHashFromShingles

/** Physical-plan shape assertions for the round-4 operators — the scaladoc
  * scale claims ("zero shuffle", "broadcast vocab", "one exchange") pinned
  * against the executed plan so a refactor can't silently regress them.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def shuffles(plan: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(plan).size

  test("htmlExtract / extractLinks / scrubPii are pure narrow projections (zero Exchange)") {
    val df = Seq((1L, "<p>a</p>", "https://h.example/x")).toDF("id", "html", "url")
    val p1 = Curation.htmlExtract(df, "html").queryExecution.executedPlan.toString
    assert(shuffles(p1) == 0, s"htmlExtract shuffled:\n$p1")
    val p2 = Curation.extractLinks(df, "id", "html", "url")
      .queryExecution.executedPlan.toString
    assert(shuffles(p2) == 0, s"extractLinks shuffled:\n$p2")
    val p3 = Curation.scrubPii(df.withColumnRenamed("html", "text"), "text")
      .queryExecution.executedPlan.toString
    assert(shuffles(p3) == 0, s"scrubPii shuffled:\n$p3")
  }

  test("oovStats joins the token stream against a BROADCAST vocabulary") {
    val df = Seq.tabulate(50)(i => (i.toLong, s"tok$i common words here")).toDF("id", "text")
    val plan = Curation.oovStats(df, "id", "text", vocabSize = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"vocab join is not broadcast:\n$plan")
  }

  test("quantilesDisc runs on ONE key-partition exchange over a slim projection") {
    val df = Seq.tabulate(100)(i => (s"k${i % 3}", i.toLong, s"payload$i"))
      .toDF("k", "v", "payload")
    val q = Stats.quantilesDisc(df, Seq("k"), "v", Seq(0.25, 0.5, 0.75))
    val plan = q.queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"expected exactly one shuffle:\n$plan")
    // the payload column must not ride the window sort
    assert(!plan.contains("payload"), s"payload leaked into the quantile plan:\n$plan")
  }

  test("shuffleShards: one exchange total — the payload rides its single shard shuffle") {
    val df = Seq.tabulate(64)(i => (i.toLong, s"payload$i")).toDF("id", "text")
    val plan = Curation.shuffleShards(df, "id", "ep", nShards = 4)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"expected exactly one shuffle:\n$plan")
  }

  test("revisitDiff: one exchange (the shared key-partition sort), simhash computed once") {
    val df = Seq.tabulate(30)(i => (s"u${i % 5}", i.toLong, s"text number $i"))
      .toDF("url", "t", "text")
    val plan = graft.temporal.Windows.revisitDiff(df, Seq("url"), "t", "text")
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"expected exactly one shuffle:\n$plan")
    assert("simhash64_md5".r.findAllIn(plan).size <= 1,
      s"simhash evaluated more than once:\n$plan")
  }

  /** Executed plans of every SQL execution `body` runs, eager checkpoint
    * jobs included — an operator that materializes an intermediate frame
    * evaluates its kernels in a plan the output DataFrame no longer shows.
    */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private object Stages extends AdaptiveSparkPlanHelper

  /** Every expression tree of every operator of `plans`, AQE stages and
    * subqueries included.
    */
  private def planExpressions(plans: Seq[SparkPlan]): Seq[Expression] =
    plans.flatMap(p => Stages.collectWithSubqueries(p) { case n => n.expressions }.flatten)

  private def assertSignedOnce(what: String, plans: Seq[SparkPlan]): Unit = {
    val exprs = planExpressions(plans)
    val signs = exprs.map(_.collect { case m: MinHashFromShingles => m }.size).sum
    assert(signs == 1,
      s"$what: minhash_from_shingles evaluated in $signs places:\n${plans.mkString("\n")}")
    val lambdaBanding = exprs.filter(e =>
      e.exists(_.isInstanceOf[XxHash64]) && e.exists(_.isInstanceOf[LambdaFunction]))
    assert(lambdaBanding.isEmpty, s"$what: banding through a lambda:\n${lambdaBanding.mkString("\n")}")
  }

  test("near-dup pair stage signs and bands each document once (no lambda banding)") {
    val df = Seq.tabulate(40)(i =>
      (i.toLong, s"doc ${i % 10} shares most of these words with its copies ${i / 10}"))
      .toDF("id", "text")
    val pre = df.select(col("id").as("_sid"), graft.functions.shingles(col("text"), 3).as("_sh"))
      .localCheckpoint()
    assertSignedOnce("verifiedPairsPre",
      executedPlans(Dedup.verifiedPairsPre(pre, 64, 32, 0.5).collect()))
    assertSignedOnce("nearDupDedup", executedPlans(
      Dedup.nearDupDedup(df, "id", "text", numHashes = 64, numBands = 32,
        shingleSize = 3, jaccard = 0.5).collect()))
  }

  test("extractAnchors is a pure narrow projection (zero Exchange)") {
    val df = Seq((1L, "<a href=\"https://x.example/\">x</a>", "https://s.example/"))
      .toDF("id", "html", "url")
    val plan = Curation.extractAnchors(df, "id", "html", "url")
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 0, s"extractAnchors shuffled:\n$plan")
  }

  test("binByQuantiles joins the input against BROADCAST thresholds — the payload never shuffles") {
    val df = Seq.tabulate(60)(i => (s"k${i % 3}", i.toLong, (i % 11).toLong, s"payload$i"))
      .toDF("k", "id", "v", "payload")
    val out = Stats.binByQuantiles(df, Seq("k"), "v", Seq(0.25, 0.5, 0.75))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"threshold join is not broadcast:\n$plan")
    // the only shuffles sit under the threshold (quantile window) subtree,
    // which never sees the payload column
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(_.contains("payload#")),
      s"payload rides a shuffle:\n$plan")
  }

  test("canonicalizeUrl / upsampleByWeight are pure narrow ops (zero Exchange)") {
    val df = Seq((1L, "https://h.example:8080/x?b=1&utm_source=a")).toDF("id", "url")
    val plan = Curation.canonicalizeUrl(df, "url")
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 0, s"canonicalizeUrl shuffled:\n$plan")
    val up = Seq((1L, 2500L)).toDF("id", "w")
    val p2 = Curation.upsampleByWeight(up, "id", "w", "s")
      .queryExecution.executedPlan.toString
    assert(shuffles(p2) == 0, s"upsampleByWeight shuffled:\n$p2")
  }

  test("cooccurrence / bigramCoverage join their token streams against BROADCAST vocabularies") {
    val df = Seq.tabulate(40)(i => (i.toLong, s"alpha beta gamma tok$i")).toDF("id", "text")
    val p1 = Relevance.cooccurrence(df, "id", "text", vocabSize = 4)
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"), s"cooccurrence vocab join not broadcast:\n$p1")
    val p2 = Curation.bigramCoverage(df, "id", "text", vocabSize = 4)
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"), s"bigram vocab join not broadcast:\n$p2")
    // neither plan moves the raw text through an exchange
    Seq(p1, p2).foreach { p =>
      val exchanges = p.split("\n").filter(_.contains("Exchange"))
      assert(!exchanges.exists(_.contains("text#")), s"text rides a shuffle:\n$p")
    }
  }

  test("tfidfTopK: n_docs arrives by broadcast; text never rides an exchange") {
    val df = Seq.tabulate(40)(i => (i.toLong, s"alpha beta tok$i words"))
      .toDF("id", "text")
    val plan = Relevance.tfidfTopK(df, "id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"n_docs is not broadcast:\n$plan")
    // after tokenization only (id, term) aggregates shuffle — the raw text
    // column must not appear in any Exchange's input schema
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(_.contains("text#")),
      s"document text rides a shuffle:\n$plan")
  }

  test("bigramFluency: V broadcast; raw text never rides an exchange") {
    val df = Seq.tabulate(40)(i => (i.toLong, s"alpha beta tok$i words here"))
      .toDF("id", "text")
    val plan = Lm.bigramFluency(df, "id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"vocab scalar is not broadcast:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(_.contains("text#")),
      s"document text rides a shuffle:\n$plan")
  }

  test("linearScore: the weight table joins by BROADCAST — scoring adds no shuffle beyond the feature aggregate") {
    val ids = Seq.tabulate(40)(i => i.toLong).toDF("id")
    val feats = Seq.tabulate(40)(i => (i.toLong, (i % 8).toLong, 1L))
      .toDF("id", "bucket", "value")
    val weights = Seq.tabulate(8)(b => (b.toLong, b.toLong - 4L)).toDF("bucket", "weight")
    val plan = Lm.linearScore(ids, feats, weights, "id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"weight join is not broadcast:\n$plan")
  }

  test("corrMatrix: ONE exchange (the single-row aggregate); payload pruned") {
    val df = Seq.tabulate(64)(i => (i.toLong, (i % 7).toLong, s"payload$i"))
      .toDF("x", "y", "payload")
    val plan = Stats.corrMatrix(df, Seq("x", "y"))
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"expected one shuffle:\n$plan")
    assert(!plan.contains("payload"), s"payload leaked into the moments scan:\n$plan")
  }

  test("dpCounts: one exchange (the count groupBy); noise is row-local") {
    val df = Seq.tabulate(64)(i => (s"k${i % 5}", s"payload$i")).toDF("k", "text")
    val plan = Reporting.dpCounts(df, Seq("k"), 1L, 1L, "s")
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"expected one shuffle:\n$plan")
    assert(!plan.contains("text#") ||
      !plan.split("\n").filter(_.contains("Exchange")).exists(_.contains("text#")),
      s"payload rides the count shuffle:\n$plan")
  }

  test("enrichStatic (batch form): dimension joins by BROADCAST, stream side never exchanges") {
    val stream = Seq.tabulate(64)(i => (i.toLong, s"k${i % 3}")).toDF("id", "k")
    val dim = Seq(("k0", 1L), ("k1", 2L)).toDF("k", "meta")
    val plan = graft.streaming.Streaming.enrichStatic(stream, dim, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join is not broadcast:\n$plan")
    assert(shuffles(plan) == 0, s"stream side shuffled:\n$plan")
  }

  test("frequentItems pruned path: pass 2 aggregates AFTER the candidate join") {
    val rows = (1 to 30).flatMap(i => Seq.fill(90 / i)(s"v$i"))
    val df = rows.toDF("tok").repartition(4)
    val out = Stats.frequentItems(df, "tok", minCount = 40L, summaryK = 256)
    val plan = out.queryExecution.executedPlan.toString
    // the exact count joins the corpus against the (checkpointed) candidate
    // set before aggregating — the join must be present and broadcast-able
    assert(plan.contains("Join"), s"no candidate join in pass 2:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"small candidate set did not broadcast:\n$plan")
  }

  test("scriptMix / csvQuarantine are narrow row-local maps (zero Exchange)") {
    val df = Seq((1L, "Hello мир", "1,en,5")).toDF("id", "text", "line")
    val p1 = Curation.scriptMix(df, "text").queryExecution.executedPlan.toString
    assert(shuffles(p1) == 0, s"scriptMix shuffled:\n$p1")
    val p2 = Curation.csvQuarantine(df, "line", "a LONG, b STRING, c INT")
      .queryExecution.executedPlan.toString
    assert(shuffles(p2) == 0, s"csvQuarantine shuffled:\n$p2")
  }

  test("cusum runs ONE key-partition exchange; both windows share the sort") {
    val df = Seq.tabulate(60)(i => (s"k${i % 3}", i.toLong, (i % 7).toLong))
      .toDF("k", "t", "x")
    val plan = Stats.cusum(df, Seq("k"), "t", "x", 3L, 0L, 5L)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"expected exactly one shuffle:\n$plan")
    // one Window node evaluates both frames — no second sort pass
    assert("Window".r.findAllIn(plan).size <= 2, s"window split:\n$plan")
  }

  test("sentenceStats is a narrow row-local map (zero Exchange)") {
    val df = Seq((1L, "One. Two.")).toDF("id", "text")
    val plan = Curation.sentenceStats(df, "text")
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 0, s"sentenceStats shuffled:\n$plan")
  }

  test("sprt / stateRuns / scd2 / attribution: ONE key exchange each — " +
    "the later window/aggregate reuses the key partitioning") {
    val ev = Seq.tabulate(60)(i =>
      (s"u${i % 3}", i.toLong, i.toLong, i % 2 == 0)).toDF("u", "t", "id", "ok")
    val p1 = Stats.sprt(ev, Seq("u"), "t", "ok", 0.3, 0.6, -2.0, 2.0,
      Seq("id")).queryExecution.executedPlan.toString
    assert(shuffles(p1) == 1, s"sprt expected one shuffle:\n$p1")
    val st = ev.withColumn("state", when(col("ok"), "a").otherwise("b"))
    val p2 = graft.temporal.Windows.stateRuns(st, Seq("u"), "t", "state",
      Seq("id")).queryExecution.executedPlan.toString
    assert(shuffles(p2) == 1, s"stateRuns expected one shuffle:\n$p2")
    val ch = Seq.tabulate(40)(i =>
      (i.toLong % 5, i.toLong, if (i % 7 == 0) "delete" else "upsert",
        s"v$i")).toDF("k", "seq", "op", "v")
    val p3 = Diff.scd2(ch, "k", "seq", "op")
      .queryExecution.executedPlan.toString
    assert(shuffles(p3) == 1, s"scd2 expected one shuffle:\n$p3")
    val tev = Seq.tabulate(40)(i => (i.toLong, new java.sql.Timestamp(i),
      s"u${i % 3}", if (i % 5 == 0) "purchase" else "view"))
      .toDF("eid", "ts", "u", "ty")
    val p4 = Behavior.attribution(tev, "u", "ts", "eid", "ty", Seq("view"),
      "purchase", 1000L).queryExecution.executedPlan.toString
    assert(shuffles(p4) == 1, s"attribution expected one shuffle:\n$p4")
  }

  test("calibrationBins: one combiner aggregate; gridNeighbors: no cartesian") {
    val sc = Seq.tabulate(50)(i => ((i * 13L) % 1001, i % 2 == 0))
      .toDF("s", "y")
    val p1 = Stats.calibrationBins(sc, "s", "y", 10)
      .queryExecution.executedPlan.toString
    assert(shuffles(p1) == 1 && p1.contains("HashAggregate"),
      s"calibrationBins shape:\n$p1")
    val pts = Seq.tabulate(30)(i => (i.toLong, (i % 6) * 1.0, (i % 5) * 1.0))
      .toDF("id", "x", "y")
    val p2 = Geo.gridNeighbors(pts, "id", "x", "y", 1.5)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"),
      s"gridNeighbors must join on cell keys:\n$p2")
  }

  test("giniSplits joins each feature against a BROADCAST threshold table") {
    val df = Seq.tabulate(80)(i => ((i % 9).toLong, s"y${i % 2}")).toDF("f", "y")
    val plan = Stats.giniSplits(df, "y", Seq("f"), Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"threshold table not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("bloomSemiJoin: the Bloom prefilter sits BELOW the exact join") {
    val probe = (0L until 200L).map(i => (i, s"p$i")).toDF("id", "v")
    val build = (0L until 200L by 5L).map(i => (i, "x")).toDF("id", "b")
    val plan = Skew.bloomSemiJoin(probe, build, "id")
      .queryExecution.executedPlan.toString
    val filterAt = plan.indexOf("bloom_contains")
    val joinAt = plan.indexOf("Join")
    assert(filterAt >= 0 && joinAt >= 0 && filterAt > joinAt,
      s"prefilter not below the join in the plan tree:\n$plan")
  }

  // ---- round-5 operators ----

  test("substringBlocklist / densityContentStats / bpeSegmentStats are zero-Exchange narrow maps") {
    val df = Seq((1L, "the quick brown fox and the lazy dog")).toDF("id", "text")
    val p1 = Curation.substringBlocklist(df, "id", "text", Seq("the", "and"))
      .queryExecution.executedPlan.toString
    assert(shuffles(p1) == 0 && !p1.contains("Window"),
      s"substringBlocklist not narrow:\n$p1")
    val p2 = Curation.densityContentStats(df, "text")
      .queryExecution.executedPlan.toString
    assert(shuffles(p2) == 0 && !p2.contains("Window"),
      s"densityContentStats not narrow:\n$p2")
    val p3 = Lm.bpeSegmentStats(df, "id", "text", Seq(("t", "h")))
      .queryExecution.executedPlan.toString
    assert(shuffles(p3) == 0, s"bpeSegmentStats shuffled:\n$p3")
  }

  test("purgedSplit: the min/max bounds arrive by BROADCAST; the data never repartitions") {
    val df = spark.range(0, 100)
      .selectExpr("id", "timestamp_millis(id * 1000) AS ts")
    val plan = graft.temporal.Windows.purgedSplit(df, "ts", 4, 1, 10L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"bounds not broadcast:\n$plan")
    assert(shuffles(plan) <= 1, // the 1-row min/max aggregate's own exchange
      s"purgedSplit repartitions the data:\n$plan")
    assert(!plan.contains("Window"), s"purgedSplit uses a window:\n$plan")
  }

  test("randomProjection: one combiner aggregate exchange; the sign matrix never materializes") {
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val plan = Similarity.randomProjection(df, "id", "vec", k = 4)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1, s"randomProjection shuffle count:\n$plan")
    assert(plan.contains("partial"), // map-side combine before the exchange
      s"no partial aggregation:\n$plan")
  }
}
