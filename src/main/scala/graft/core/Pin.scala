package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftshim.GraftPin
import org.apache.spark.sql.types.StructType

/** A materialized frame that knows its own size: `df` reads the checkpointed
  * rows through a plan leaf whose statistics are the COUNTED `rows` and
  * `bytes` (summed UnsafeRow sizes), and `fits` says whether those bytes are
  * within the session's `spark.sql.autoBroadcastJoinThreshold`.
  *
  * Why it exists: a bare `localCheckpoint` keeps the size estimate of the
  * plan it came from (a 50k-row aggregate estimates ~36 MB against ~1.8 MB
  * real; a side derived through a join estimates the product of its
  * inputs), so joins against checkpointed tables planned as SortMergeJoin
  * with full exchanges. With counted stats the planner sees the real size:
  * a join against `df`, or against a projection, filter or aggregate of it,
  * plans BroadcastHashJoin without a hint whenever it fits the threshold,
  * and the shuffled join otherwise. The threshold is the ONE broadcast
  * envelope — a deployment sizes broadcasts through that conf, not through
  * per-operator row ceilings.
  *
  * A side that is derived through a join (its estimate is a product, never
  * its size) needs the explicit hint; [[broadcastIfFits]] gates it on the
  * pin whose size bounds it. */
final case class Pinned(df: DataFrame, rows: Long, bytes: Long, fits: Boolean) {
  def broadcastIfFits(side: DataFrame): DataFrame = if (fits) broadcast(side) else side
}

object Pin {

  /** Local-checkpoint `df` once and count its rows and bytes in the SAME
    * job that materializes it — one job, as `localCheckpoint(true)` runs.
    * The leaf keeps its output partitioning. */
  def apply(df: DataFrame): Pinned = {
    val (pinned, rows, bytes, threshold, _) = GraftPin.pin(df)
    Pinned(pinned, rows, bytes, bytes <= threshold)
  }

  /** [[apply]], plus `df`'s rows on the driver when the pin fits the
    * envelope: the materializing job returns them too, so a driver-side
    * form costs no collect job of its own. Only when the rows sit unevenly
    * (a partition above envelope / partitions bytes) does a fitting pin
    * run a second job to collect them. None, with no further job, above
    * the envelope. */
  def withRows(df: DataFrame): (Pinned, Option[Array[Row]]) = {
    val (pinned, rows, bytes, threshold, kept) = GraftPin.pin(df, keepRows = true)
    val p = Pinned(pinned, rows, bytes, bytes <= threshold)
    (p, if (p.fits) kept.orElse(Some(p.df.collect())) else None)
  }

  /** `df`'s rows on the driver when the optimizer's size estimate of its
    * plan is within the envelope — the test Spark applies before it
    * broadcasts a join side, and broadcasting collects that side to the
    * driver too. None, without running a job, above it. No checkpoint: for
    * frames whose estimate is already tight (a local relation is exact), a
    * pin would only add a job. */
  def collectIfFits(df: DataFrame): Option[Array[Row]] = {
    val (estimate, threshold) = GraftPin.estimate(df)
    if (estimate <= threshold) Some(df.collect()) else None
  }

  /** Driver-held `rows` as a local relation: planned as a LocalTableScan,
    * collected with no job, and sized exactly by the optimizer. */
  def local(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
