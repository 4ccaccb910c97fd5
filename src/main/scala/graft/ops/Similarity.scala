package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set
  *    against the corpus, one pass, per-query top-k via aggregation. The
  *    corpus is never shuffled; cost is |corpus| x |queries| cosines.
  *  - [[ivfTopK]] — scale path: IVF coarse quantizer. Centroids are learned
  *    with a few Lloyd iterations over a deterministic sample, corpus rows
  *    are assigned to their nearest centroid (one narrow pass, centroids
  *    broadcast), queries probe the nProbe nearest centroids, candidates
  *    meet through a (centroid) equi-join — the classic IVF recall/cost
  *    trade, entirely in DataFrame ops.
  */
object Similarity {

  /** Exact top-k: returns (query_id, neighbor_id, cosine, rank).
    *
    * ORACLE-ONLY at scale: all |Q| x |C| scored pairs cross the top-k
    * window's exchange, so this is the correctness baseline for tests and
    * small query sets — [[ivfTopK]] is the scale path (narrow assignment,
    * candidates bounded by probed buckets).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryId: String, corpusId: String,
                     queryVec: String, corpusVec: String,
                     k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"))
    val scored = c.join(broadcast(q),
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("_qv"), col("_cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic k-means (few Lloyd rounds on a driver-collected sample).
    * The sample is the `sampleSize` hash-smallest rows of a deterministic
    * hash-residue stratum (see [[trainCentroidsSampled]]) — a
    * deterministic pseudorandom draw over the WHOLE corpus. Smallest-id
    * sampling (the previous form) is biased at real scale: consecutive ids
    * are one crawl epoch/domain, so centroids would model a corner of the
    * embedding space. Hash order decorrelates from id order, reproduces
    * bit-identically across runs, and still costs one narrow pass (top-K
    * per partition + driver merge, no full sort exchange). Returns
    * centroids as Array[Array[Float]] — small (nCentroids x dim), meant
    * for broadcast.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int, sampleSize: Int = 2000, iters: Int = 5): Array[Array[Float]] = {
    // a fixed-size driver sample under-determines the codebook once the
    // cluster count approaches the sample size (at ~8 samples per centroid
    // Lloyd's means are noise, and whole clusters can be absent from the
    // sample); switch to the distributed trainer, which sees the WHOLE
    // corpus each iteration
    if (nCentroids.toLong * 8 > sampleSize)
      trainCentroidsDistributed(corpus, idCol, vecCol, nCentroids, iters)
    else
      trainCentroidsSampled(corpus, idCol, vecCol, nCentroids, sampleSize, iters)
  }

  /** The driver-sample Lloyd path (fast, fine while nCentroids << sampleSize).
    *
    * Draw shape (round-5 verdict item 5): a `pmod(xxhash64(id), p) = 0`
    * PRE-FILTER runs below the order-limit, so the top-K machinery (and its
    * per-partition heap traffic) sees ~1/p of the corpus instead of every
    * row — at 10^12 rows the unfiltered draw hashed and heap-compared the
    * whole corpus to keep 64k. The draw stays a deterministic pseudorandom
    * function of the ids (hash-smallest among the hash-residue-0 stratum —
    * residue membership and hash order are independent bit functions of
    * the same uniform hash, so the stratum is itself a uniform 1/p
    * subsample). A corpus too small to fill `sampleSize` from the stratum
    * falls back to the unfiltered draw — cheap exactly when it happens.
    *
    * `sampleModulus` (p, default 64) is OUTPUT-DEFINING, not a tuning
    * knob: it selects the stratum, so whenever the stratum fills
    * `sampleSize` a different p draws different rows and trains different
    * centroids. OptR06Spec pins the ids drawn at the default.
    */
  private[ops] def trainCentroidsSampled(corpus: DataFrame, idCol: String, vecCol: String,
                                         nCentroids: Int, sampleSize: Int, iters: Int,
                                         sampleModulus: Int = 64): Array[Array[Float]] = {
    val slim = corpus.select(col(idCol), col(vecCol))
    val drawn = slim.where(pmod(xxhash64(col(idCol)), lit(sampleModulus)) === 0)
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleSize)
      .collect()
    val rows =
      if (drawn.length >= sampleSize) drawn
      else slim.orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleSize).collect()
    val sample = rows.map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    var centroids = sample.take(nCentroids).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0
        var bestSim = Double.MinValue
        var ci = 0
        while (ci < centroids.length) {
          val s = graft.core.TextKernels.cosine(v, centroids(ci))
          if (s > bestSim) { bestSim = s; best = ci }
          ci += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { ci =>
        if (counts(ci) == 0) centroids(ci)
        else {
          val m = new Array[Float](dim)
          var d = 0
          while (d < dim) { m(d) = (sums(ci)(d) / counts(ci)).toFloat; d += 1 }
          m
        }
      }.toArray
      it += 1
    }
    centroids
  }

  /** Distributed mini-batch-free Lloyd: ONE treeAggregate pass over the whole
    * corpus per iteration (centroids broadcast; per-partition partial sums
    * combine in a tree, so driver traffic is O(nCentroids x dim x
    * log(partitions)), never O(rows)). Removes the sampled path's ceiling:
    * at 100 TB with hundreds of centroids a fixed driver sample both misses
    * whole clusters and trains each mean on a handful of points
    * (SimilaritySpec quantifies the under-fit at nCentroids=256).
    * Deterministic: hash-ordered init, fixed partition tree.
    */
  def trainCentroidsDistributed(corpus: DataFrame, idCol: String, vecCol: String,
                                nCentroids: Int, iters: Int = 5): Array[Array[Float]] = {
    val sc = corpus.sparkSession.sparkContext
    // init: the nCentroids hash-smallest rows — the same deterministic
    // decorrelated draw the sampled path uses, just exactly codebook-sized
    var centroids = corpus.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(nCentroids)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(centroids.nonEmpty, "empty corpus")
    val dim = centroids.head.length
    val k = centroids.length
    // one decode of the vector column, CACHED across the Lloyd iterations —
    // without this every iteration re-scans the source and re-unboxes the
    // rows (5 iters = 5 full corpus reads); with it each pass is a pure
    // in-memory sweep (spills to disk per-partition if the corpus outgrows
    // executor memory, which is the right degradation at 100 TB)
    val vecs = corpus.select(col(vecCol)).rdd.map(_.getSeq[Float](0).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var it = 0
    while (it < iters) {
      val bc = sc.broadcast(centroids)
      val zero = (Array.fill(k)(new Array[Double](dim)), new Array[Long](k))
      val (sums, counts) = vecs.treeAggregate(zero)(
        seqOp = { case ((s, c), v) =>
          val cs = bc.value
          var best = 0
          var bestSim = Double.MinValue
          var ci = 0
          while (ci < cs.length) {
            val sim = graft.core.TextKernels.cosine(v, cs(ci))
            if (sim > bestSim) { bestSim = sim; best = ci }
            ci += 1
          }
          c(best) += 1
          var d = 0
          while (d < dim) { s(best)(d) += v(d); d += 1 }
          (s, c)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var ci = 0
          while (ci < k) {
            c1(ci) += c2(ci)
            var d = 0
            while (d < dim) { s1(ci)(d) += s2(ci)(d); d += 1 }
            ci += 1
          }
          (s1, c1)
        })
      bc.destroy()
      centroids = Array.tabulate(k) { ci =>
        if (counts(ci) == 0) centroids(ci)
        else {
          val m = new Array[Float](dim)
          var d = 0
          while (d < dim) { m(d) = (sums(ci)(d) / counts(ci)).toFloat; d += 1 }
          m
        }
      }
      it += 1
    }
    vecs.unpersist(blocking = false)
    centroids
  }

  /** IVF ANN top-k. Recall < 1 by design (for nProbe < nCentroids); verified
    * against brute force in tests on recall@k, and EXACT-equal to brute
    * force when nProbe == nCentroids (the driver-oracle configuration).
    *
    * Scale shape: corpus-to-centroid assignment is a doc-local argmax
    * expression over the plan-embedded centroid table — a ZERO-shuffle
    * narrow map (no Exchange between the corpus scan and the probe join).
    * The query side (small by contract) broadcasts; the only shuffle in the
    * whole operator is the final per-query top-k window over candidates.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, corpusId: String,
              queryVec: String, corpusVec: String,
              k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
              excludeSelf: Boolean = true): DataFrame = {
    val centroids = trainCentroids(corpus, corpusId, corpusVec, nCentroids)

    // corpus assignment: narrow map, no exchange
    val assigned = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"))
      .withColumn("_cid", nearest_centroid(col("_cv"), centroids))

    // query probes: nProbe best centroids per query, exploded to (query, cid)
    val probes = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))
      .withColumn("_cid", explode(nearest_centroids(col("_qv"), centroids, nProbe)))

    // each corpus row has exactly ONE _cid and each query probes distinct
    // _cids, so a (query, neighbor) pair meets at most once — no dedup needed
    val scored = assigned.join(broadcast(probes), Seq("_cid"))
      .where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("_qv"), col("_cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup (semantic deduplication, Abbas et al. 2023): cluster the
    * embedding space coarsely, then drop documents that have a more-senior
    * semantic twin WITHIN their cluster — pairwise cosine is only ever
    * computed inside a cluster, never across the corpus, which is the whole
    * point of the method (the quadratic term is bounded by the largest
    * cluster, not by |corpus|).
    *
    * Keep policy is deterministic min-id dominance: a row is dropped iff
    * SOME lower-id row in its cluster is within `threshold`; `dup_of` is
    * the smallest such id (which may itself be dropped — the greedy chain
    * semantics of the published method). q99's scored canonical selection
    * is the pluggable alternative when seniority should be quality-based.
    *
    * Output: (id, cluster_id, dup_of nullable, kept).
    *
    * Scale shape: assignment is the zero-shuffle [[graft.functions.nearest_centroid]]
    * narrow map; the self-join shuffles ONCE on cluster_id; dup_of is a
    * slim (id, min) aggregate joined back on id. Cluster-size skew is the
    * operator's known hazard — pick nCentroids so clusters stay bounded
    * (the paper uses |corpus|/k ~ 10^4) and watch the AQE skew-join
    * counters; a pathological mega-cluster degrades to q20's capped LSH.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Float]], threshold: Double): DataFrame = {
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .withColumn("cluster_id", nearest_centroid(col("_v"), centroids))
    val l = assigned.select(col("id").as("_lid"), col("_v").as("_lv"), col("cluster_id"))
    val r = assigned.select(col("id").as("_rid"), col("_v").as("_rv"), col("cluster_id"))
    val dupOf = l.join(r, Seq("cluster_id"))
      .where(col("_lid") < col("_rid") &&
        cosine_similarity(col("_lv"), col("_rv")) >= threshold)
      .groupBy(col("_rid").as("id"))
      .agg(min(col("_lid")).as("dup_of"))
    assigned.join(dupOf, Seq("id"), "left")
      .select(col("id"), col("cluster_id").cast("long").as("cluster_id"),
        col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** Product quantization (Jégou et al. 2011): split each vector into M
    * contiguous sub-vectors and quantize each against its own small
    * codebook — the memory side of IVF-PQ ANN (a 64-dim float vector
    * becomes M bytes). Spherical variant: sub-assignment is argmax COSINE
    * (ties -> smallest code), matching the coarse quantizer, which is the
    * standard choice for normalized text embeddings.
    *
    * `codebooks(m)` is the K x subDim codebook of subspace m; subspaces
    * partition the dimension in order (m covers [m*subDim, (m+1)*subDim)).
    * Output: (id, pq_code array<long> length M, pq_packed = sum code_m *
    * K^m) — the packed form is the group/bucket key (rows with equal
    * packed code reconstruct identically).
    *
    * Scale shape: the codebooks ride inside the expression (M*K*subDim
    * floats, a few KB) — encoding is a pure narrow map over the scan, zero
    * shuffles, and the output drops the raw vector (that's the compression).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Float]]]): DataFrame = {
    require(codebooks.nonEmpty, "need at least one codebook")
    val k = codebooks.head.length
    val subDim = codebooks.head.head.length
    require(codebooks.forall(cb => cb.length == k && cb.forall(_.length == subDim)),
      "all codebooks must share K and subDim")
    val codes = codebooks.indices.map { m =>
      nearest_centroid(slice(col(vecCol), m * subDim + 1, subDim), codebooks(m))
        .cast("long")
    }
    // exact integer multipliers K^m (iterated multiply, not float pow)
    val mults = Seq.iterate(1L, codebooks.length)(_ * k)
    val packed = codes.zip(mults)
      .map { case (c, mult) => c * lit(mult) }
      .reduce(_ + _)
    df.select(col(idCol), array(codes: _*).as("pq_code"), packed.as("pq_packed"))
  }

  /** Per-group embedding centroids in FIXED POINT — the exactly-
    * reproducible aggregate [[trainCentroids]]' float k-means cannot be:
    * each vector component quantizes to `floor(x · scale)` (int64), the
    * per-(group, dim) sums are exact bigints regardless of partitioning
    * or fold order, and the centroid component is ONE division. The
    * standard float `avg(vec)` differs across run topologies by ulps —
    * poison for content-addressed artifacts and cross-engine checks;
    * this trades `1/scale` quantization error for bit-stability.
    *
    * Output: (group, dim, n, sum_fixed, mean_fixed = sum div n) — long
    * format so downstream assembles arrays as it likes. Scale shape: one
    * posexplode of a slim (group, vec) projection + a combiner groupBy
    * on (group, dim); the shuffle is groups × dims counters, not rows.
    */
  def fixedPointCentroids(df: DataFrame, groupCol: String, vecCol: String,
                          scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    df.select(col(groupCol).as("group"),
        posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col("group"), col("dim").cast("long").as("dim"),
        floor(col("_v").cast("double") * scale).cast("long").as("_q"))
      .groupBy(col("group"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("_q")).as("sum_fixed"))
      .withColumn("mean_fixed", expr("sum_fixed div n"))
  }

  /** Database-friendly random projection (Achlioptas 2001, published
    * method): project each embedding onto `k` pseudo-random ±1 sign
    * vectors — the cheap Johnson-Lindenstrauss map that preserves
    * pairwise distances within (1 ± eps) while shrinking the vector a
    * 10^12-doc ANN index must store/shuffle from `dim` floats to `k`
    * integers. Signs come from md5(seed, j, i) parity (no RNG state, the
    * repo's standard derandomization) and inputs are FIXED-POINT
    * quantized first (floor(v * scale), the [[fixedPointCentroids]]
    * convention), so every output cell is an EXACT bigint sum — fold
    * order cannot drift and an external engine replays it bit-for-bit.
    *
    *   out_j = sum_i sign(seed, j, i) * floor(v_i * scale)
    *
    * Output long format (id, dim, value) — assembles to arrays downstream
    * and stays scalar for type-sensitive gates. Scale shape: one narrow
    * posexplode + a combiner groupBy on (id, dim); the sign matrix never
    * materializes (it is a per-cell md5 parity), nothing is broadcast.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, scale: Long = 1000000L,
                       seed: String = "rp"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(scale >= 1, "scale must be >= 1")
    val dims = df.sparkSession.range(0, k.toLong)
      .select(col("id").cast("long").as("dim"))
    df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("_i", "_v")))
      .select(col("id"), col("_i").cast("long").as("_i"),
        floor(col("_v").cast("double") * scale).cast("long").as("_q"))
      .crossJoin(broadcast(dims))
      .withColumn("_sign", when(
        conv(substring(md5(concat(lit(seed), lit(":"), col("dim"),
          lit(":"), col("_i"))), 1, 8), 16, 10).cast("long") % 2 === 0,
        lit(1L)).otherwise(lit(-1L)))
      .groupBy(col("id"), col("dim"))
      .agg(sum(col("_sign") * col("_q")).as("value"))
  }

  /** b-bit MinHash near-dup estimation (Li & Konig 2010, "b-Bit Minwise
    * Hashing" — published method): LSH banding on the FULL md5 MinHash
    * signature selects candidate pairs, then the similarity estimate uses
    * only the LOW b BITS of each lane — at 10^12 docs that is the whole
    * point: the stored/shuffled sketch shrinks 64/b-fold (b=4: 32 bytes
    * instead of 512 per doc) while the estimator stays unbiased after
    * collision correction:
    *
    *   J_hat = (m/n - 2^-b) / (1 - 2^-b)        m = matching lanes
    *
    * (random 64-bit lanes collide in their low b bits with prob 2^-b).
    * Everything is md5-derived ([[graft.core.TextKernels.minHashSignatureMd5]])
    * with UNSIGNED lane minima, so an external engine replays candidates
    * AND estimates bit-exactly — banding buckets are keyed by the raw
    * sub-signature (no extra hash to disagree about).
    *
    * Output: (id_a, id_b, matches, j_bbit), id_a < id_b, one row per
    * LSH-candidate pair. Scale shape: banding is the standard
    * bucket-join (never all-pairs); the estimate joins only the
    * compressed b-bit arrays; text never rides an exchange.
    */
  def bbitMinhashPairs(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 64, b: Int = 4, numBands: Int = 16,
                       shingleSize: Int = 3): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    require(b >= 1 && b <= 32, "b must be in [1, 32]")
    val rows = numHashes / numBands
    val mask = (1L << b) - 1L
    val pow = 1L << b
    val sig = df.select(col(idCol).as("id"),
        graft.functions.minhash_signature_md5(col(textCol), numHashes,
          shingleSize).as("_sig"))
      .where(size(col("_sig")) > 0)
    val bands = sig.select(col("id"), explode(expr(
        s"""transform(sequence(0, ${numBands - 1}), bb ->
           |  named_struct('band', bb,
           |               'key', slice(_sig, bb * $rows + 1, $rows)))"""
          .stripMargin)).as("_bk"))
      .select(col("id"), col("_bk.band").as("_band"), col("_bk.key").as("_key"))
    val cands = bands.as("x").join(bands.as("y"),
        col("x._band") === col("y._band") && col("x._key") === col("y._key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val small = sig.select(col("id"),
      expr(s"transform(_sig, x -> x & $mask)").as("_bb"))
    val est =
      s"""(cast(matches AS double) / cast($numHashes AS double)
         |  - cast(1 AS double) / cast($pow AS double))
         | / (cast(1 AS double) - cast(1 AS double) / cast($pow AS double))"""
        .stripMargin
    cands
      .join(small.select(col("id").as("id_a"), col("_bb").as("_ba")), Seq("id_a"))
      .join(small.select(col("id").as("id_b"), col("_bb").as("_bz")), Seq("id_b"))
      .withColumn("matches", expr(
        "aggregate(zip_with(_ba, _bz, (u, v) -> IF(u = v, 1L, 0L)), 0L, (a, x) -> a + x)"))
      .withColumn("j_bbit", expr(est))
      .select(col("id_a"), col("id_b"), col("matches"), col("j_bbit"))
  }
}
