package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.shingles

/** The stages `Dedup.nearDupDedup` runs, one call each, so the benchmark can
  * time and count them apart. The pair stage is package-private in the
  * engine; this object sits in the engine's package to reach it.
  */
object BenchDedup {
  /** The (_sid, _sh) shingle projection `nearDupDedup` materializes first. */
  def shingled(df: DataFrame, idCol: String, textCol: String, shingleSize: Int = 5): DataFrame =
    Fanout.ensure(df).select(col(idCol).as("_sid"), shingles(col(textCol), shingleSize).as("_sh"))

  /** LSH banding, candidate self-join and exact verify: the pairs
    * `nearDupDedup` hands to `Dedup.clusters`. At `jaccard = 0` the verify
    * keeps every candidate, so the row count is the candidate count.
    */
  def pairs(shingled: DataFrame, jaccard: Double, numHashes: Int = 128, numBands: Int = 32): DataFrame =
    Dedup.verifiedPairsPre(shingled, numHashes, numBands, jaccard)
}
