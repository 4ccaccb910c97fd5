package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}

/** The size-adaptive dispatch gate of the iterative graph operators
  * ([[Dedup.clusters]], [[Curation.resolveCanonicalChains]],
  * [[Behavior.stationaryDistribution]] and the [[Graph]] rank, traversal,
  * peel, shortest-path and spanning-forest operators).
  *
  * Their inputs are pair- or link-graph-sized, typically orders of
  * magnitude below the corpus. Under the driver bound the operator
  * collects its (already persisted or checkpointed) frame and replays the
  * SAME exact-integer round schedule on the driver, in one pass instead of
  * one join job per round; past the bound its distributed loop runs
  * unchanged (the 100-TB shape). OptR06Spec pins local ≡ distributed.
  *
  * The bound is `spark.graft.graph.localEdgeThreshold` rows (default
  * 4M); 0 forces every operator onto its distributed path. The gate
  * declines any frame with a null in any column: a null id has no long
  * value to replay, and the distributed path carries it as SQL does.
  */
private[ops] object LocalDispatch {

  val ThresholdKey = "spark.graft.graph.localEdgeThreshold"

  /** `df`'s rows when it has at most the threshold rows and no null in
    * any column, else None. One aggregate counts the rows and the
    * non-null values of every column — it also materializes a persisted
    * `df` — and a second job collects the rows when they qualify.
    */
  def collectIfSmall(df: DataFrame): Option[Array[Row]] = {
    val bound = df.sparkSession.conf.getOption(ThresholdKey)
      .map(_.toLong).getOrElse(4L << 20)
    val probe = df.agg(count(lit(1)), df.columns.map(c => count(df(c))): _*).head()
    val rows = probe.getLong(0)
    if (rows <= bound && (1 until probe.length).forall(probe.getLong(_) == rows))
      Some(df.collect())
    else None
  }

  /** [[collectIfSmall]] over `df` with every column cast to long, for the
    * replays that key on integral ids; declines outright when any column
    * is not a long, int or short (the distributed path is type-generic).
    */
  def collectLongsIfSmall(df: DataFrame): Option[Array[Row]] =
    if (!df.schema.forall(f => Seq(LongType, IntegerType, ShortType).contains(f.dataType))) None
    else collectIfSmall(df.select(df.columns.map(c => df(c).cast("long")): _*))
}
