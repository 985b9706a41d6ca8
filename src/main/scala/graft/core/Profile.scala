package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-pass column profiling — the ANALYZE step a pipeline runs on a new
  * drop before pointing training at it: per column, row count, null
  * count, EXACT distinct count, and min/max (aggregated in the column's
  * native type, rendered to string only for the uniform report schema).
  *
  * Plan shape: ONE aggregate over one scan. Multiple exact
  * count_distincts compile to Spark's Expand strategy — the input is
  * still read once and the expanded stream partially aggregates map-side.
  * The single result row is materialized once (`Pin`) before
  * being unpivoted into the per-column report, so the scan never re-runs
  * per column. At extreme cardinalities swap count_distinct for
  * approx_count_distinct; the exact form is the verified surface. */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        count_distinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    } :+ count(lit(1)).as("__n")
    val row = Pin(df.agg(aggs.head, aggs.tail: _*)).df
    cols.map { c =>
      row.select(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${c}__nn")).as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"))
    }.reduce(_ unionAll _)
  }

  /** Exact grouped discrete quantiles (percentile_disc semantics: the
    * smallest value whose cumulative frequency reaches the target), the
    * distribution half of the pre-training ANALYZE. Probabilities are
    * INTEGER PERCENTS and the target rank is `ceil(p·n/100)` computed as
    * `(p·n + 99) div 100` — pure int64 arithmetic, so the picked rank (and
    * therefore the value) is identical in any engine; a float `ceil(0.95·n)`
    * is not (decimal vs binary multiply rounds 19.0 vs 19.000…4 at n=20).
    *
    * Plan shape: ONE hash shuffle on the keys + one per-key sort feeding
    * both window functions; the percent ladder is evaluated inline per row
    * (no per-quantile pass). Exact-by-sort is the verified surface; at
    * extreme per-key cardinality the approx ladder (`Refine.approxSplitsFor`
    * pattern) is the sketch path. `tieBreak` makes the picked ROW
    * deterministic; the emitted value is tie-break-invariant either way
    * (equal values are interchangeable at a rank boundary).
    */
  def quantilesDisc(
      df: DataFrame,
      valueCol: String,
      keys: Seq[String],
      percents: Seq[Int],
      tieBreak: String): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be integer percentiles in [1, 100]")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol), col(tieBreak))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol) :+
        row_number().over(w).as("__rn") :+
        count(lit(1)).over(wAll).as("__n"): _*)
    ranked
      .select(col("*"),
        explode(array(percents.map(p => lit(p)): _*)).as("pct"))
      .filter(col("__rn") === expr("(CAST(pct AS BIGINT) * __n + 99L) DIV 100L"))
      .select(keys.map(col) :+ col("pct") :+ col(valueCol).as("q_value"): _*)
  }
}
