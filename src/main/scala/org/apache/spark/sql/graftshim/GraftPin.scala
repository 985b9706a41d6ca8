package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** The sql-private half of [[graft.core.Pin]]: a local checkpoint whose one
  * materializing job also counts rows and row bytes, re-leafed as a
  * `LogicalRDD` that carries those counts as its `Statistics`. Lives under
  * org.apache.spark.sql for the `LogicalRDD` second parameter list and
  * `classic.Dataset.ofRows`. */
object GraftPin {

  /** (pinned frame, rows, bytes, the session's autoBroadcastJoinThreshold). */
  def pin(df: DataFrame): (DataFrame, Long, Long, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // lazy: Spark marks the RDD for local checkpointing and keeps the leaf's
    // partitioning/ordering; the fold below is the job that materializes it
    // (doCheckpoint after that job finds every block cached and runs none)
    val leaf = ds.localCheckpoint(eager = false).queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalStateException(
        s"localCheckpoint planned ${other.nodeName}, expected a LogicalRDD")
    }
    val schema = ds.schema
    val (rows, bytes) = leaf.rdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n = 0L
      var b = 0L
      it.foreach { r =>
        n += 1
        b += (r match {
          case u: UnsafeRow => u.getSizeInBytes
          case other => toUnsafe(other).getSizeInBytes
        })
      }
      Iterator.single((n, b))
    }.fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
    val session = ds.sparkSession
    val stats = Statistics(sizeInBytes = BigInt(math.max(bytes, 1L)),
      rowCount = Some(BigInt(rows)))
    val pinned = leaf.copy()(session, Some(stats), Some(leaf.constraints))
    (classic.Dataset.ofRows(session, pinned), rows, bytes, threshold(session))
  }

  /** (the optimizer's size estimate of `df`'s plan, the session's
    * autoBroadcastJoinThreshold); plans `df`, runs no job. */
  def estimate(df: DataFrame): (BigInt, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    (ds.queryExecution.optimizedPlan.stats.sizeInBytes, threshold(ds.sparkSession))
  }

  private def threshold(session: classic.SparkSession): Long =
    session.sessionState.conf.autoBroadcastJoinThreshold
}
