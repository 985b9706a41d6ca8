package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** The sql-private half of [[graft.core.Pin]]: a local checkpoint whose one
  * materializing job also counts rows and row bytes, re-leafed as a
  * `LogicalRDD` that carries those counts as its `Statistics`. Lives under
  * org.apache.spark.sql for the `LogicalRDD` second parameter list and
  * `classic.Dataset.ofRows`. */
object GraftPin {

  /** (pinned frame, rows, bytes, the session's autoBroadcastJoinThreshold,
    * the rows themselves). With `keepRows`, each task also returns its
    * partition's rows while they stay within threshold / partitions bytes;
    * the rows come back, converted to external Rows, when every partition
    * kept them — so at most one envelope of row bytes ever reaches the
    * driver — and None otherwise. */
  def pin(df: DataFrame, keepRows: Boolean = false)
      : (DataFrame, Long, Long, Long, Option[Array[Row]]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // lazy: Spark marks the RDD for local checkpointing and keeps the leaf's
    // partitioning/ordering; the job below is the one that materializes it
    // (doCheckpoint after that job finds every block cached and runs none)
    val leaf = ds.localCheckpoint(eager = false).queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalStateException(
        s"localCheckpoint planned ${other.nodeName}, expected a LogicalRDD")
    }
    val schema = ds.schema
    val session = ds.sparkSession
    val limit = threshold(session)
    val cap = if (keepRows && limit >= 0) limit / math.max(1, leaf.rdd.getNumPartitions) else -1L
    val parts = leaf.rdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n = 0L
      var b = 0L
      var kept = if (cap >= 0) scala.collection.mutable.ArrayBuffer.empty[InternalRow] else null
      it.foreach { r =>
        val u = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        n += 1
        b += u.getSizeInBytes
        if (kept != null) { if (b <= cap) kept += u.copy() else kept = null }
      }
      Iterator.single((n, b, if (kept == null) null else kept.toArray))
    }.collect()
    val (rows, bytes) = (parts.map(_._1).sum, parts.map(_._2).sum)
    val kept =
      if (!keepRows || parts.exists(_._3 == null)) None
      else {
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        Some(parts.flatMap(_._3).map(r => toRow(r).asInstanceOf[Row]))
      }
    val stats = Statistics(sizeInBytes = BigInt(math.max(bytes, 1L)),
      rowCount = Some(BigInt(rows)))
    val pinned = leaf.copy()(session, Some(stats), Some(leaf.constraints))
    (classic.Dataset.ofRows(session, pinned), rows, bytes, limit, kept)
  }

  /** (the optimizer's size estimate of `df`'s plan, the session's
    * autoBroadcastJoinThreshold); plans `df`, runs no job. */
  def estimate(df: DataFrame): (BigInt, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    (ds.queryExecution.optimizedPlan.stats.sizeInBytes, threshold(ds.sparkSession))
  }

  /** The session's autoBroadcastJoinThreshold: the one broadcast envelope. */
  def threshold(session: SparkSession): Long =
    session.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold
}
