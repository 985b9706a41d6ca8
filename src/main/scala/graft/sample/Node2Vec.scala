package graft.sample

import graft.core.{Kb, Pin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** node2vec second-order biased walks (Grover & Leskovec, KDD 2016),
  * fully distributed like [[DeepWalk]] — the walk state is a DataFrame of
  * (walk_id, prev, cur) rows, never driver memory.
  *
  * The bias: stepping from `cur` (having arrived from `prev`), a candidate
  * out-edge to `dst` is weighted by the return parameter p and in-out
  * parameter q —
  *   α = 1/p  if dst = prev            (return)
  *   α = 1    if edge prev → dst exists (stay near)
  *   α = 1/q  otherwise                 (explore)
  * (The reference formulation is undirected; on the directed KG "adjacent"
  * means the OUT-edge prev → dst exists — documented, deterministic.)
  *
  * Weights are INTEGERS (`wReturn`, `wNear`, `wFar` — p = wNear/wReturn,
  * q = wNear/wFar), because the weighted pick must replay exactly in the
  * SQL oracle: the inverse-CDF draw is pure integer arithmetic (cumulative
  * weight sums vs a 48-bit threshold), with no `pow`/`ln` whose libm
  * rounding could differ between the JVM and DuckDB.
  *
  * The per-step random draw is the first 12 hex chars of
  * md5(seed|step|walk_id) read as an integer (Spark `conv(…, 16, 10)`;
  * the oracle evaluates the same 12-digit positional sum) — one uniform
  * threshold per (walk, step), portable byte-for-byte.
  *
  * Step shape: candidates = state ⋈ edges on cur = src (the only
  * data-proportional join), an adjacency flag via a left semi-style join
  * on (prev, dst) against the distinct edge-pair set, then a per-walk
  * window cumulative sum + threshold filter — the same windowed
  * inverse-CDF pick [[WalkSampler]] uses for PageRank-weighted choice.
  * First step has no `prev`: uniform pick via the same machinery with all
  * weights equal. Lineage truncates via a pin every
  * every step (the [[DeepWalk.corpus]] materialization argument).
  */
object Node2Vec {

  /** 48-bit threshold from the first 12 md5 hex chars of (seed|step|walk) */
  private def drawInt(seed: Long, step: Int) =
    conv(substring(md5(concat_ws("|", lit(seed), lit(step), col("walk_id"))
      .cast("binary")), 1, 12), 16, 10).cast("long")

  def corpus(kb: Kb, starts: DataFrame, reps: Int = 2, steps: Int = 5,
             wReturn: Int = 1, wNear: Int = 4, wFar: Int = 16,
             seed: Long = 42L): DataFrame = {
    require(reps >= 1 && steps >= 0, s"reps=$reps steps=$steps")
    require(wReturn >= 1 && wNear >= 1 && wFar >= 1, "weights must be >= 1")
    val edges = Pin(kb.edges.select(col("src"), col("pred"), col("dst"))).df
    val pairSet = Pin(edges.select(col("src").as("p_src"), col("dst").as("p_dst")).distinct()).df

    var state = Pin(starts
      .join(broadcast(kb.spark.range(0, reps).withColumnRenamed("id", "r")))
      .select(concat(col("id"), lit("#"), col("r").cast("string")).as("walk_id"),
        lit(null).cast("string").as("prev"), col("id").as("cur"))).df
    var out = state.select(col("walk_id"), lit(0).as("step"), col("cur").as("node"))

    var i = 1
    while (i <= steps) {
      val cand = state.join(edges, state("cur") === edges("src"))
        .join(pairSet,
          col("prev") === col("p_src") && col("dst") === col("p_dst"), "left_outer")
        .select(col("walk_id"), col("prev"), col("cur"), col("pred"), col("dst"),
          when(col("prev").isNull, lit(wNear))           // first step: uniform
            .when(col("dst") === col("prev"), lit(wReturn))
            .when(col("p_src").isNotNull, lit(wNear))
            .otherwise(lit(wFar)).as("w"))
      val byWalk = Window.partitionBy(col("walk_id"))
      val ordered = byWalk.orderBy(col("pred"), col("dst"))
      val picked = cand
        .withColumn("cum", sum(col("w")).over(ordered.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tot", sum(col("w")).over(byWalk))
        // threshold ∈ [1, tot]: the drawn candidate is the first whose
        // cumulative weight reaches it — exact integer inverse CDF
        .withColumn("thr", pmod(drawInt(seed, i), col("tot")) + 1)
        .filter(col("cum") >= col("thr"))
        .withColumn("rn", row_number().over(ordered))
        .filter(col("rn") === 1)
      // per-step materialization — same fix as [[DeepWalk.corpus]]: a lazy
      // state made every later step's union branch re-derive all prior
      // steps (O(steps²) join cascade in the executed plan)
      state = Pin(picked
        .select(col("walk_id"), col("cur").as("prev"), col("dst").as("cur"))).df
      out = out.unionAll(
        state.select(col("walk_id"), lit(i).as("step"), col("cur").as("node")))
      i += 1
    }
    out
  }

  /** DuckDB hex→int of the first 12 md5 hex chars: positional sum with
    * strpos digit lookup (DuckDB has no base-16 conv) */
  private def hexToIntSql(h: String): String =
    (1 to 12).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * CAST(${math.pow(16, 12 - i).toLong} AS BIGINT)")
      .mkString("(", " + ", ")")

  /** DuckDB replay over CTEs `edges` and `starts(id)`; ends with per-step
    * CTEs `n0..n$steps` carrying (walk_id, prev, cur). */
  def oracleCtes(reps: Int, steps: Int, wReturn: Int, wNear: Int, wFar: Int,
                 seed: Long): String = {
    val stepCtes = (1 to steps).map { i =>
      // the 48-bit draw is non-negative and tot > 0 — plain % is pmod here
      val thr = s"(${hexToIntSql("md5('" + seed + "|" + i + "|' || walk_id)")} % tot) + 1"
      s"""k$i AS MATERIALIZED (
         |  SELECT s.walk_id, s.cur, e.pred, e.dst,
         |         CASE WHEN s.prev IS NULL THEN $wNear
         |              WHEN e.dst = s.prev THEN $wReturn
         |              WHEN EXISTS (SELECT 1 FROM edges pe
         |                           WHERE pe.src = s.prev AND pe.dst = e.dst) THEN $wNear
         |              ELSE $wFar END AS w
         |  FROM n${i - 1} s JOIN edges e ON e.src = s.cur),
         |n$i AS MATERIALIZED (
         |  SELECT walk_id, cur AS prev, dst AS cur FROM (
         |    SELECT walk_id, cur, dst,
         |           ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY pred, dst) AS rn,
         |           MIN(CASE WHEN cum >= thr THEN rn0 END) OVER (PARTITION BY walk_id) AS pickrn
         |    FROM (
         |      SELECT walk_id, cur, pred, dst,
         |             SUM(w) OVER (PARTITION BY walk_id ORDER BY pred, dst
         |                          ROWS UNBOUNDED PRECEDING) AS cum,
         |             ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY pred, dst) AS rn0,
         |             $thr AS thr
         |      FROM (SELECT *, SUM(w) OVER (PARTITION BY walk_id) AS tot FROM k$i) t0) t1
         |  ) t2 WHERE rn = pickrn)""".stripMargin
    }.mkString(",\n")
    s"""n0 AS MATERIALIZED (
       |  SELECT id || '#' || CAST(g.r AS VARCHAR) AS walk_id,
       |         CAST(NULL AS VARCHAR) AS prev, id AS cur
       |  FROM starts CROSS JOIN generate_series(0, ${reps - 1}) g(r)),
       |$stepCtes""".stripMargin
  }

  def oracleSelect(steps: Int): String =
    (0 to steps)
      .map(i => s"SELECT walk_id, CAST($i AS INT) AS step, cur AS node FROM n$i")
      .mkString("\nUNION ALL\n")
}
