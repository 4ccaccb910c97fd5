package graft.core

/** Five-number distribution summary (mean, population variance, min, max,
  * scaled entropy) replicating the reference's exact computation order
  * (/root/reference/src/util/CaptureDistribution.cc:76-90):
  *
  *  - sort ascending FIRST (the fold order is part of numeric determinism)
  *  - incremental mean  m += (x - m) / (i + 1)
  *  - incremental population variance  v += (d*d - v) / (i + 1)
  *  - min/max = ends of the sorted array
  *  - scaled Shannon entropy with summands sorted by |magnitude| before
  *    summation, divided by log2(#categories) (0 when one category)
  *
  * Two entropy key quirks replicated for allclose parity:
  *  - double distributions (CaptureDistribution.cc:48-60): histogram key is
  *    round(1000*x) half-away-from-zero, but the *presence* check uses the
  *    raw value truncated to int64 — `occurence.count(value)` — so a snap
  *    bucket's count resets to 1 unless trunc(value) happens to be a key.
  *  - integer distributions (CaptureDistribution.cc:62-73): the loop variable
  *    is C `unsigned`, so 64-bit values are truncated to their low 32 bits
  *    before being used as histogram keys.
  *
  * These are doc-local computations: groups are row-sized, so no Spark
  * partial/final aggregation ever touches them (SURVEY.md §4 design rule).
  */
object DistStats {

  /** Emission order matches the reference's `{mean, variance, min, max,
    * entropy}` (CaptureDistribution.cc:87).
    */
  final case class Stats(mean: Double, variance: Double, min: Double, max: Double, entropy: Double)

  val Zero: Stats = Stats(0.0, 0.0, 0.0, 0.0, 0.0)

  /** C++ std::round: half away from zero (scala math.round is half-up). */
  @inline private def cround(x: Double): Double =
    if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

  private def meanOf(sorted: Array[Double]): Double = {
    var m = 0.0
    var i = 0
    while (i < sorted.length) { m += (sorted(i) - m) / (i + 1); i += 1 }
    m
  }

  private def varianceOf(sorted: Array[Double], mean: Double): Double = {
    var v = 0.0
    var i = 0
    while (i < sorted.length) {
      val d = sorted(i) - mean
      v += (d * d - v) / (i + 1)
      i += 1
    }
    v
  }

  /** Entropy from occurrence counts: summands p*log2(p) sorted by |x|
    * ascending, negated sum, scaled by log2(K) (CaptureDistribution.cc:30-46).
    */
  private def scaledEntropyFromCounts(counts: java.util.Collection[java.lang.Long], total: Long): Double = {
    val summands = new Array[Double](counts.size)
    var i = 0
    val it = counts.iterator
    while (it.hasNext) {
      val p = it.next().longValue.toDouble / total.toDouble
      summands(i) = p * (math.log(p) / math.log(2.0))
      i += 1
    }
    java.util.Arrays.sort(summands) // all summands <= 0, so ascending |x| = descending value
    // sort by |x| ascending == reverse of natural ascending for non-positive values
    var entropy = 0.0
    var j = summands.length - 1
    while (j >= 0) { entropy -= summands(j); j -= 1 }
    val k = summands.length
    val log2k = math.log(k.toDouble) / math.log(2.0)
    if (log2k == 0.0) 0.0 else entropy / log2k
  }

  /** Double-valued distribution entropy with the trunc-key presence quirk
    * (CaptureDistribution.cc:48-60). `sorted` must already be sorted — the
    * insertion order over the sorted data determines the final histogram.
    */
  private def scaledEntropyDoubles(sorted: Array[Double]): Double = {
    val occ = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < sorted.length) {
      val value = sorted(i)
      val snap = cround(1000.0 * value).toLong
      // reference quirk: presence probed with (int64)value, not snap
      if (occ.containsKey(value.toLong)) {
        occ.put(snap, occ.getOrDefault(snap, 0L) + 1L)
      } else {
        occ.put(snap, 1L)
      }
      i += 1
    }
    scaledEntropyFromCounts(occ.values, sorted.length.toLong)
  }

  /** Integer-valued distribution entropy with the unsigned-32 truncation
    * quirk (CaptureDistribution.cc:62-73). Histogram via sort + run-length
    * instead of a boxed map — the hot path at 32 executor threads.
    */
  private def scaledEntropyLongs(values: Array[Long]): Double = {
    val keys = new Array[Long](values.length)
    var i = 0
    while (i < values.length) {
      keys(i) = values(i) & 0xffffffffL // C `unsigned` loop variable
      i += 1
    }
    java.util.Arrays.sort(keys)
    // run lengths -> summands, directly
    var distinct = 0
    i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j) == keys(i)) j += 1
      keys(distinct) = j - i // reuse buffer for counts
      distinct += 1
      i = j
    }
    val total = values.length.toDouble
    val summands = new Array[Double](distinct)
    i = 0
    while (i < distinct) {
      val p = keys(i).toDouble / total
      summands(i) = p * (math.log(p) / math.log(2.0))
      i += 1
    }
    java.util.Arrays.sort(summands)
    var entropy = 0.0
    var j = summands.length - 1
    while (j >= 0) { entropy -= summands(j); j -= 1 }
    val log2k = math.log(distinct.toDouble) / math.log(2.0)
    if (log2k == 0.0) 0.0 else entropy / log2k
  }

  /** Stats over a double distribution. Consumes (sorts) a copy. */
  def ofDoubles(values: Array[Double]): Stats = {
    if (values.length == 0) return Zero
    val sorted = java.util.Arrays.copyOf(values, values.length)
    java.util.Arrays.sort(sorted)
    val mean = meanOf(sorted)
    Stats(mean, varianceOf(sorted, mean), sorted(0), sorted(sorted.length - 1),
      scaledEntropyDoubles(sorted))
  }

  /** Stats over an integer (unsigned in the reference) distribution. */
  def ofLongs(values: Array[Long]): Stats = {
    if (values.length == 0) return Zero
    val sorted = java.util.Arrays.copyOf(values, values.length)
    java.util.Arrays.sort(sorted)
    var mean = 0.0
    var i = 0
    while (i < sorted.length) { mean += (sorted(i).toDouble - mean) / (i + 1); i += 1 }
    var vari = 0.0
    i = 0
    while (i < sorted.length) {
      val d = sorted(i).toDouble - mean
      vari += (d * d - vari) / (i + 1)
      i += 1
    }
    Stats(mean, vari, sorted(0).toDouble, sorted(sorted.length - 1).toDouble,
      scaledEntropyLongs(sorted))
  }
}
