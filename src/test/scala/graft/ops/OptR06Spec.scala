package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TextKernels
import graft.functions._

/** Round-6 optimization invariants: the single-pass signature refactor, the
  * codegen'd kernel expressions, the ring-successor binary search, and the
  * prefiltered sample draw must all be BIT-IDENTICAL to the shapes they
  * replaced — these tests pin that, plus the plan shapes the speedups
  * depend on.
  */
class OptR06Spec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog again and again",
    "completely different content with many unusual tokens here now",
    "short",
    "",
    "a b a b a b a b a b c d e f g h i j k l",
    "Mixed CASE Words_and 0123 numbers' apostrophes")

  // ---- minhash_from_shingles ≡ minhash_signature ----

  test("minHashFromShingles(shingles(s)) is bit-identical to minHashSignature(s) (kernel)") {
    for (s <- texts; n <- Seq(16, 64); k <- Seq(3, 5)) {
      val direct = TextKernels.minHashSignature(s, n, k)
      val derived = TextKernels.minHashFromShingles(TextKernels.shingles(s, k), n)
      assert(direct.toSeq == derived.toSeq, s"mismatch for '$s' n=$n k=$k")
    }
  }

  test("minhash_from_shingles ≡ minhash_signature as expressions (codegen path), null-safe") {
    val df = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
    val r = df.select(col("id"),
        minhash_signature(col("text"), 64, 3).as("a"),
        minhash_from_shingles(shingles(col("text"), 3), 64).as("b"))
      .collect()
    r.foreach { row =>
      val a = if (row.isNullAt(1)) null else row.getSeq[Long](1)
      val b = if (row.isNullAt(2)) null else row.getSeq[Long](2)
      assert(a == b, s"row ${row.getLong(0)}: $a != $b")
    }
  }

  // ---- kernel expressions stay inside WholeStageCodegen ----

  test("kernel expression projection compiles into WholeStageCodegen (no fallback)") {
    // derive text from range: a LocalRelation input would be constant-folded
    // into a LocalTableScan and prove nothing about codegen
    val df = spark.range(64).select(col("id"),
      concat_ws(" ", lit("alpha beta gamma"), col("id").cast("string"),
        lit("delta epsilon")).as("text"))
    val proj = df.select(col("id"),
      shingles(col("text"), 3).as("sh"),
      minhash_signature(col("text"), 16, 3).as("sig"),
      simhash64(col("text")).as("sim"),
      token_count(col("text")).as("tc"),
      text_quality(col("text")).as("q"),
      lang_id(col("text")).as("l"))
    val plan = proj.queryExecution.executedPlan.toString
    // a codegen'd project prints under a WholeStageCodegen span ("*(n) Project");
    // a CodegenFallback expression would sever the stage and print a bare Project
    assert(plan.contains("*(1) Project"), s"kernel projection fell out of codegen:\n$plan")
  }

  test("codegen and interpreted eval agree for the kernel expressions") {
    // spark.sql codegen-evaluates; direct kernel calls are the interpreted
    // single source of truth the expressions wrap
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(col("id"), col("text"),
        shingles(col("text"), 3).as("sh"),
        minhash_signature(col("text"), 16, 3).as("sig"),
        simhash64(col("text")).as("sim"),
        simhash64_md5(col("text")).as("simm"),
        token_count(col("text")).as("tc"),
        token_count_bpe(col("text")).as("tcb"),
        rolling_fingerprint(col("text")).as("rf"),
        longest_repeat_len(col("text"), 64).as("lr"),
        normalize_webtext(col("text")).as("nw"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(1)
      assert(r.getSeq[Long](2) == TextKernels.shingles(t, 3).toSeq)
      assert(r.getSeq[Long](3) == TextKernels.minHashSignature(t, 16, 3).toSeq)
      assert(r.getLong(4) == TextKernels.simHash64(t))
      assert(r.getLong(5) == TextKernels.simHash64Md5(t))
      assert(r.getLong(6) == TextKernels.tokenCountWhitespace(t))
      assert(r.getLong(7) == TextKernels.tokenCountBpe(t))
      assert(r.getLong(8) == TextKernels.rollingFingerprint(t))
      assert(r.getLong(9) == TextKernels.longestRepeatedSubstring(t, 64))
      assert(r.getString(10) == TextKernels.normalizeWebText(t))
    }
  }

  test("binary kernel expressions (jaccard_sorted / minhash_estimate / cosine) agree with kernels") {
    val df = Seq(
      (texts(0), texts(4)), (texts(0), texts(0)), (texts(1), texts(2)))
      .toDF("a", "b")
    val rows = df.select(
        jaccard_sorted(shingles(col("a"), 3), shingles(col("b"), 3)).as("j"),
        minhash_estimate(minhash_signature(col("a"), 16, 3),
          minhash_signature(col("b"), 16, 3)).as("e"),
        col("a"), col("b"))
      .collect()
    rows.foreach { r =>
      val (a, b) = (r.getString(2), r.getString(3))
      assert(r.getDouble(0) ==
        TextKernels.jaccardSorted(TextKernels.shingles(a, 3), TextKernels.shingles(b, 3)))
      assert(r.getDouble(1) == TextKernels.minHashEstimate(
        TextKernels.minHashSignature(a, 16, 3), TextKernels.minHashSignature(b, 16, 3)))
    }
    val vf = Seq((Seq(1f, 2f, 3f), Seq(3f, 2f, 1f))).toDF("x", "y")
    val c = vf.select(cosine_similarity(col("x"), col("y"))).head().getDouble(0)
    assert(c == TextKernels.cosine(Array(1f, 2f, 3f), Array(3f, 2f, 1f)))
  }

  // ---- single-pass shingling in the dedup pipelines ----

  test("nearDupDedup: shingle/signature kernels run once (plan is checkpoint-fed)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "totally unrelated content words here"))
      .toDF("id", "text")
    val out = Dedup.nearDupDedup(docs, "id", "text", numHashes = 16,
      numBands = 8, shingleSize = 2, jaccard = 0.5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("shingles("),
      s"shingle kernel re-evaluated downstream of the checkpoint:\n$plan")
    assert(!plan.contains("minhash_signature("),
      s"signature kernel re-evaluated downstream of the checkpoint:\n$plan")
    // and the result is the same as the pre-refactor semantics on this corpus
    val kept = out.where(col("kept")).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    val c = out.where(col("id") === 2L).head()
    assert(c.getLong(1) == 1L && c.getLong(2) == 2L && !c.getBoolean(3))
  }

  test("nearDupIncremental: incoming shard is shingled once; only the ledger re-tokenizes") {
    val ledger = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // ledger dup
      (11L, "fresh new content one two three"),        // kept
      (12L, "fresh new content one two three"))        // shard dup of 11
      .toDF("id", "text")
    val out = Dedup.nearDupIncremental(incoming, ledger, "id", "text",
      numHashes = 16, numBands = 8, shingleSize = 2, jaccard = 0.8)
    val plan = out.queryExecution.executedPlan.toString
    // incoming is checkpoint-fed and ledgerDups is checkpoint-materialized,
    // so no kernel eval survives into the output plan at all
    assert(!plan.contains("shingles("),
      s"kernel evals leaked past the checkpoints:\n$plan")
    val statuses = out.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(statuses == Map(10L -> "ledger_dup", 11L -> "kept", 12L -> "shard_dup"))
  }

  // ---- band keys: one array per document ≡ the posexplode(transform) banding ----

  test("bandKeys ≡ the posexplode(transform(sequence)) banding, incl. empty/null shingles") {
    val rnd = new scala.util.Random(7)
    for ((nh, nb) <- Seq((128, 32), (64, 32), (16, 4), (12, 3))) {
      val r = nh / nb
      val raw = Seq.tabulate(40)(i => (i.toLong, Seq.fill(nh)(rnd.nextLong())))
        .toDF("_id", "_sig")
      val shingled = (Seq.tabulate(20)(i =>
          (100L + i, Option(Seq.fill(rnd.nextInt(50))(rnd.nextLong())))) ++
        Seq((200L, Some(Seq.empty[Long])), (201L, None)))
        .toDF("_id", "_sh")
        .select(col("_id"), minhash_from_shingles(col("_sh"), nh).as("_sig"))
      val sigs = raw.unionByName(shingled)
      val lambda = sigs.select(col("_id"),
          posexplode(transform(sequence(lit(0), lit(nb - 1)), b =>
            xxhash64(slice(col("_sig"), b * r + 1, lit(r)), b)))
            .as(Seq("_band", "_bucket")))
      val keys = Dedup.bandKeys(sigs, nh, nb)
        .select(col("_id"), posexplode(col("_bk")).as(Seq("_band", "_bucket")))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).sorted.toSeq
      val (want, got) = (rows(lambda), rows(keys))
      assert(want.size == 62 * nb, s"nh=$nh nb=$nb: ${want.size} lambda rows")
      assert(got == want, s"nh=$nh nb=$nb: band keys differ from the lambda banding")
    }
  }

  // fixed near-dup fixture: six random 60-word bases, one 1-word and one
  // 2-word edit of each, exact copies of two bases, two empty texts and a
  // null text
  private lazy val nearDupDocs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20261017L)
    val vocab = Array.tabulate(40)(i => s"w$i")
    val bases = Seq.fill(6)(Vector.fill(60)(vocab(rnd.nextInt(vocab.length))))
    def edit(ws: Vector[String], n: Int) =
      (1 to n).foldLeft(ws)((w, _) => w.updated(rnd.nextInt(w.length), "edit"))
    val texts = bases ++ bases.map(edit(_, 1)) ++ bases.map(edit(_, 2)) ++ bases.take(2)
    texts.map(_.mkString(" ")).zipWithIndex.map { case (t, i) => (i + 1L, t) } ++
      Seq((21L, ""), (22L, ""), (23L, null))
  }

  /** Rendered rows of the four LSH entry points on the fixture, sorted. */
  private def lshFixtureRows(): Map[String, Seq[String]] = {
    val docs = nearDupDocs.toDF("id", "text")
    val scored = docs.withColumn("quality", length(col("text")).cast("long"))
    def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString(":")).toSeq.sorted
    val ledger = docs.where(col("id") <= 6L)
    val incoming = docs.where(col("id") > 6L)
      .unionByName(Seq((30L, "novel text about something else entirely here and there"),
        (31L, "novel text about something else entirely here and there")).toDF("id", "text"))
    Map(
      "minHashPairs" -> render(Dedup.minHashPairs(docs, "id", "text", threshold = 0.5)),
      "nearDupDedup" -> render(Dedup.nearDupDedup(docs, "id", "text")),
      "nearDupDedup/keepBy" -> render(Dedup.nearDupDedup(scored, "id", "text",
        keepByCol = Some("quality"))),
      "nearDupIncremental" -> render(Dedup.nearDupIncremental(incoming, ledger, "id", "text")))
  }

  // rendered rows the banding-through-a-lambda implementation produced on
  // the fixture (sorted as strings)
  private val lshFixtureExpected: Map[String, Seq[String]] = Map(
    "minHashPairs" -> Seq(
      "10:16:0.609375", "11:17:0.734375", "12:18:0.546875", "13:19:0.671875", "14:20:0.7734375",
      "1:13:0.671875", "1:19:1.0", "1:7:0.828125", "21:22:1.0", "2:14:0.7734375",
      "2:20:1.0", "2:8:0.8046875", "3:15:0.7421875", "3:9:0.7734375", "4:10:0.8359375",
      "4:16:0.7109375", "5:11:0.8359375", "5:17:0.8359375", "6:12:0.828125", "6:18:0.671875",
      "7:13:0.53125", "7:19:0.828125", "8:14:0.6640625", "8:20:0.8046875", "9:15:0.5546875"),
    "nearDupDedup" -> Seq(
      "10:4:2:false", "11:5:3:false", "12:6:2:false", "13:13:1:true", "14:14:1:true", "15:15:1:true",
      "16:16:1:true", "17:5:3:false", "18:18:1:true", "19:1:3:false", "1:1:3:true", "20:2:3:false",
      "21:21:1:true", "22:22:1:true", "23:23:1:true", "2:2:3:true", "3:3:2:true", "4:4:2:true",
      "5:5:3:true", "6:6:2:true", "7:1:3:false", "8:2:3:false", "9:3:2:false"),
    "nearDupDedup/keepBy" -> Seq(
      "10:4:2:true", "11:5:3:true", "12:6:2:true", "13:13:1:true", "14:14:1:true", "15:15:1:true",
      "16:16:1:true", "17:5:3:false", "18:18:1:true", "19:1:3:false", "1:1:3:false", "20:2:3:false",
      "21:21:1:true", "22:22:1:true", "23:23:1:true", "2:2:3:false", "3:3:2:false", "4:4:2:false",
      "5:5:3:false", "6:6:2:false", "7:1:3:true", "8:2:3:true", "9:3:2:true"),
    "nearDupIncremental" -> Seq(
      "10:ledger_dup:4", "11:ledger_dup:5", "12:ledger_dup:6", "13:kept:null", "14:kept:null",
      "15:kept:null", "16:kept:null", "17:ledger_dup:5", "18:kept:null", "19:ledger_dup:1",
      "20:ledger_dup:2", "21:kept:null", "22:kept:null", "23:kept:null", "30:kept:null",
      "31:shard_dup:30", "7:ledger_dup:1", "8:ledger_dup:2", "9:ledger_dup:3"))

  test("minHashPairs / nearDupDedup (± keepBy) / nearDupIncremental rows unchanged on a fixed fixture") {
    val got = lshFixtureRows()
    for ((k, want) <- lshFixtureExpected)
      assert(got(k) == want, s"$k:\n got ${got(k)}\nwant $want")
  }

  // ---- ring successor lookup ≡ the SQL it replaced ----

  test("RingLookup.successor equals the filter/array_min SQL formulation") {
    val rnd = new scala.util.Random(11)
    val ring = Array.fill(64)(rnd.nextLong() & 0x0fffffffffffffffL).distinct.sorted
    val shards = ring.map(p => p % 7)
    def oldSql(key: Long): Long = {
      val ge = ring.zip(shards).filter(_._1 >= key)
      if (ge.nonEmpty) ge.minBy(_._1)._2 else shards(ring.indexOf(ring.min))
    }
    val keys = Array(0L, ring(0), ring(0) - 1, ring.last, ring.last + 1,
      Long.MaxValue & 0x0fffffffffffffffL) ++
      Array.fill(200)(rnd.nextLong() & 0x0fffffffffffffffL)
    keys.foreach { k =>
      assert(RingLookup.successor(ring, shards, k) == oldSql(k), s"key $k")
    }
  }

  test("consistentShard output unchanged by the binary-search rewrite (spot values)") {
    val df = Seq.tabulate(50)(i => Tuple1(i.toLong)).toDF("doc_id")
    val r = Curation.consistentShard(df, "doc_id", nShards = 4)
      .select("doc_id", "shard").collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // replay the definition independently: md5-60-bit key, successor vnode
    def pos60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val ring = (for { sh <- 0 until 4; v <- 0 until 64 }
      yield (pos60(s"ring:$sh:$v"), sh.toLong)).sortBy(_._1)
    for (id <- 0L until 50L) {
      val kp = pos60(s"ring#$id")
      val exp = ring.find(_._1 >= kp).getOrElse(ring.head)._2
      assert(r(id) == exp, s"doc $id")
    }
  }

  // ---- prefiltered deterministic sample draw ----

  test("trainCentroidsSampled: prefiltered draw is deterministic and falls back on small corpora") {
    val rnd = new scala.util.Random(5)
    val dim = 8
    val small = (0L until 100L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("id", "v")
    // small corpus: stratum < sampleSize -> identical to the unfiltered draw
    val a = Similarity.trainCentroidsSampled(small, "id", "v", nCentroids = 4,
      sampleSize = 50, iters = 2)
    val expSample = small.orderBy(xxhash64(col("id")), col("id")).limit(50)
      .collect().map(_.getSeq[Float](1).toArray)
    assert(a.length == 4 && a.head.length == dim)
    // determinism at any size: same inputs -> identical centroids
    val big = (0L until 4000L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("id", "v").cache()
    try {
      val c1 = Similarity.trainCentroidsSampled(big, "id", "v", nCentroids = 4,
        sampleSize = 32, iters = 2, sampleModulus = 16)
      val c2 = Similarity.trainCentroidsSampled(big.repartition(7), "id", "v",
        nCentroids = 4, sampleSize = 32, iters = 2, sampleModulus = 16)
      assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
        "prefiltered draw must be partitioning-independent")
    } finally big.unpersist()
    assert(expSample.nonEmpty) // draw defined; fallback exercised above
  }

  test("trainCentroidsSampled: the default sampleModulus (64) defines the drawn rows") {
    // one-dimensional vectors carry their id, and iters = 0 returns the
    // first nCentroids drawn rows (hash order) unchanged as centroids
    val corpus = (0L until 4096L).map(i => (i, Seq(i.toFloat))).toDF("id", "v")
    def drawn(sampleModulus: Int): Seq[Long] =
      Similarity.trainCentroidsSampled(corpus, "id", "v", nCentroids = 8,
        sampleSize = 8, iters = 0, sampleModulus = sampleModulus).map(_.head.toLong).toSeq
    val atDefault = Similarity.trainCentroidsSampled(corpus, "id", "v",
      nCentroids = 8, sampleSize = 8, iters = 0).map(_.head.toLong).toSeq
    assert(atDefault == Seq(411L, 2024L, 2164L, 3289L, 1385L, 1052L, 2678L, 1927L))
    assert(atDefault == drawn(64))
    val residues = corpus.where(col("id").isin(atDefault: _*))
      .select(pmod(xxhash64(col("id")), lit(64))).distinct().collect().map(_.getLong(0))
    assert(residues.toSeq == Seq(0L), "every drawn id is in the residue-0 stratum")
    assert(drawn(16) != atDefault, "the modulus changes which rows are drawn")
  }

  // ---- size-adaptive local dispatch ≡ distributed (round-6) ----

  /** Run `body` with the local-dispatch threshold forced to 0 (every graph
    * takes the distributed path), restoring the conf after.
    */
  private def forcedDistributed[T](body: => T): T = {
    spark.conf.set(LocalDispatch.ThresholdKey, "0")
    try body finally spark.conf.unset(LocalDispatch.ThresholdKey)
  }

  /** Rows as sets of nullable values — the gate's decline inputs carry
    * null and string ids that no typed getter reads. */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("clusters: local union-find ≡ distributed pointer jumping on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // chains, cliques and random cross edges — long diameters included
      val chain = (0L until 40L).map(i => (trial * 1000L + i, trial * 1000L + i + 1))
      val clique = for (a <- 0 until 6; b <- a + 1 until 6)
        yield (5000L + a, 5000L + b)
      val rand = Seq.fill(30)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val pairs = (chain ++ clique ++ rand).toDF("id_a", "id_b")
      val local = Dedup.clusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = forcedDistributed {
        Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(local == dist, s"trial $trial")
    }
    // the round cap binds on both paths: 3 rounds leave most of a 64-node
    // path short of label 0, 7 rounds reach the fixpoint
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (cap <- Seq(3, 7)) {
      val local = rowSet(Dedup.clusters(path, maxIters = cap))
      val dist = forcedDistributed(rowSet(Dedup.clusters(path, maxIters = cap)))
      assert(local == dist, s"64-node path, maxIters=$cap")
      assert(local.count(_(1) != 0L) == (if (cap == 3) 56 else 0), s"maxIters=$cap")
    }
    // decline rule: a null endpoint or string ids take the distributed path
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (3L, 4L))
      .toDF("id_a", "id_b")
    val strings = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    for ((name, pairs) <- Seq("null endpoint" -> withNull, "string ids" -> strings))
      assert(rowSet(Dedup.clusters(pairs)) ==
        forcedDistributed(rowSet(Dedup.clusters(pairs))), name)
  }

  test("ssspInt: local relaxation ≡ distributed, including the round cap") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
      (rnd.nextInt(50) + 1).toLong)).toDF("s", "d", "w")
    for (cap <- Seq(1, 3, 45)) {
      val local = Graph.ssspInt(edges, "s", "d", "w", Seq(0L, 7L), maxRounds = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = forcedDistributed {
        Graph.ssspInt(edges, "s", "d", "w", Seq(0L, 7L), maxRounds = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(local == dist, s"cap $cap")
    }
  }

  test("boruvkaMst: local rounds ≡ distributed edge-for-edge") {
    val rnd = new scala.util.Random(11)
    // distinct weights by construction (contract)
    val ws = rnd.shuffle((1 to 200).toList).iterator
    val edges = (Seq.tabulate(30)(i => (i.toLong, ((i + 1) % 30).toLong)) ++
      Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (a, b, ws.next().toLong) }
      .toDF("s", "d", "w")
    val local = Graph.boruvkaMst(edges, "s", "d", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = forcedDistributed {
      Graph.boruvkaMst(edges, "s", "d", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(local == dist)
    // weights fall along a 2,048-node path, so round 1 chooses all 2,047
    // edges as one chain, deeper than the 1,023 hops clusters' default cap
    // of 10 pointer-jumping rounds reaches: both paths must contract it
    // fully or the next round re-chooses (and re-emits) its edges
    val n = 2048L
    val path = (0L until n - 1).map(i => (i, i + 1, n - i))
    def forest() = Graph.boruvkaMst(path.toDF("s", "d", "w"), "s", "d", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(forest() == path, "2,048-node path, local")
    assert(forcedDistributed(forest()) == path, "2,048-node path, distributed")
  }

  test("pageRankInt / personalizedPageRankInt / hitsInt: local ≡ distributed") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(80)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val prL = Graph.pageRankInt(edges, "src", "dst", iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prD = forcedDistributed {
      Graph.pageRankInt(edges, "src", "dst", iters = 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(prL == prD, "pageRankInt")
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L), (3L, null))
      .toDF("src", "dst")
    assert(rowSet(Graph.pageRankInt(withNull, "src", "dst")) ==
      forcedDistributed(rowSet(Graph.pageRankInt(withNull, "src", "dst"))),
      "pageRankInt, null endpoint")
    val pprL = Graph.personalizedPageRankInt(edges, "src", "dst",
      seeds = Seq(1L, 3L), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pprD = forcedDistributed {
      Graph.personalizedPageRankInt(edges, "src", "dst",
        seeds = Seq(1L, 3L), iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(pprL == pprD, "personalizedPageRankInt")
    val hL = Graph.hitsInt(edges, "src", "dst", iters = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hD = forcedDistributed {
      Graph.hitsInt(edges, "src", "dst", iters = 3).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(hL == hD, "hitsInt")
  }

  test("bfsDepth / kCore / resolveCanonicalChains: local ≡ distributed") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(70)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .toDF("src", "dst")
    val seeds = Seq(0L, 5L).toDF("node")
    for (cap <- Seq(2, 6)) {
      val l = Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d = forcedDistributed {
        Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(l == d, s"bfsDepth cap=$cap")
    }
    for (k <- Seq(2, 3)) {
      val l = Graph.kCore(edges, "src", "dst", k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d = forcedDistributed {
        Graph.kCore(edges, "src", "dst", k).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(l == d, s"kCore k=$k")
    }
    // chains with a 2-cycle (the unresolvable case) and converging links
    val chains = (Seq.tabulate(20)(i => (i.toLong + 1, i.toLong)) ++
      Seq((100L, 101L), (101L, 100L), (50L, 7L), (51L, 7L)))
      .toDF("f", "t")
    val lc = Curation.resolveCanonicalChains(chains, "f", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val dc = forcedDistributed {
      Curation.resolveCanonicalChains(chains, "f", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    }
    assert(lc == dc, "resolveCanonicalChains")
    val named = Seq(("c", "b"), ("b", "a"), ("x", "y"), ("y", "x")).toDF("f", "t")
    assert(rowSet(Curation.resolveCanonicalChains(named, "f", "t")) ==
      forcedDistributed(rowSet(Curation.resolveCanonicalChains(named, "f", "t"))),
      "resolveCanonicalChains, string ids")
  }

  test("stationaryDistribution: local power iteration ≡ distributed") {
    val rnd = new scala.util.Random(31)
    val types = Vector("view", "click", "buy", "exit")
    val ts0 = 1700000000000L
    val ev = (0 until 400).map { i =>
      (rnd.nextInt(20).toLong, new java.sql.Timestamp(ts0 + i * 60000L),
        i.toLong, types(rnd.nextInt(types.length)))
    }.toDF("user_id", "ts", "event_id", "event_type")
    val l = Behavior.stationaryDistribution(ev, "user_id", "ts", "event_id",
      "event_type", iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val d = forcedDistributed {
      Behavior.stationaryDistribution(ev, "user_id", "ts", "event_id",
        "event_type", iters = 4).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(l == d)
  }

  // ---- prefix-filtered candidate rewrite ≡ brute force (round-6) ----

  test("ngramJaccardPairs: prefix+positional candidates ≡ pruned brute force, any cap") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 60L).map { i =>
      val n = 5 + rnd.nextInt(20)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    for ((cap, t) <- Seq((1000000, 0.5), (8, 0.5), (3, 0.3))) {
      val got = Dedup.ngramJaccardPairs(df, "id", "text", n = 3,
        threshold = t, maxShingleDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force with the SAME pruned-common / full-size semantics
      val sh = docs.map { case (i, s) => i -> TextKernels.shingles(s, 3).toSet }.toMap
      val dfCount = sh.values.toSeq.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
      val hot = dfCount.filter(_._2 > cap).keySet
      val exp = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        pa = sh(a) -- hot; pb = sh(b) -- hot
        common = (pa & pb).size
        jac = common.toDouble / (sh(a).size + sh(b).size - common).toDouble
        if common > 0 && jac >= t
      } yield (a, b, jac)).toSet
      assert(got == exp, s"cap=$cap t=$t: got ${got.size}, exp ${exp.size}")
    }
  }

  test("prefixJaccardPairs: positional filter loses no qualifying pair") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (0L until 50L).map { i =>
      val n = 4 + rnd.nextInt(15)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val got = Dedup.prefixJaccardPairs(df, "id", "text", n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sh = docs.map { case (i, s) => i -> TextKernels.shingles(s, 2).toSet }.toMap
      val exp = (for {
        a <- docs.map(_._1); b <- docs.map(_._1)
        if a < b && sh(a).nonEmpty && sh(b).nonEmpty
        common = (sh(a) & sh(b)).size
        jac = common.toDouble / (sh(a).size + sh(b).size - common).toDouble
        if jac >= t
      } yield (a, b, jac)).toSet
      assert(got == exp, s"t=$t: got ${got.size}, exp ${exp.size}")
    }
  }
}
