package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the sql-private Column↔Expression converters (Spark 4 moved
  * Column to plan-agnostic ColumnNodes; custom Catalyst expressions need
  * this hop). Lives under org.apache.spark.sql for private[sql] access. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Session-scoped SQLConf overrides without mutating shared state: an
  * iterative operator that needs a specific planner setting (e.g. AQE off
  * so co-partitioned loop stages keep their partitioning) clones the
  * session — same SparkContext, same SharedState/cache, ISOLATED SQLConf —
  * sets the override there, and rebinds its input/output plans. Concurrent
  * queries on the caller's session never observe the override, and two
  * concurrent scoped operators can't restore each other's stale values
  * (both hazards of the conf.set/try/finally pattern this replaces). */
object GraftSessions {
  def cloneWithConf(spark: org.apache.spark.sql.SparkSession,
                    kv: (String, String)*): org.apache.spark.sql.SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** The same logical plan, planned + executed under `spark`'s conf. */
  def bind(df: org.apache.spark.sql.DataFrame,
           spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.logical)
}

/** The schema a file-source read of data written with `st` reports: every
  * field, array element and map value nullable (Spark's sql-private
  * `asNullable`, which the file-source relation applies on read). */
object GraftTypes {
  def asNullable(st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    st.asNullable
}
