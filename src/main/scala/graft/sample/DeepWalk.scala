package graft.sample

import graft.core.{Kb, Pin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fully-distributed random-walk corpus generation — the DeepWalk /
  * node2vec preprocessing step (Perozzi et al. KDD 2014): `reps` truncated
  * random walks of length `steps` from each start node, emitted as
  * (walk_id, step, node) rows for a downstream skip-gram trainer.
  *
  * This is the north star's "iterative frontier-expansion join" shape with
  * ZERO driver-side walk state — the complement of [[WalkSampler]], whose
  * driver-resident positions/first-visit bookkeeping is deliberate
  * (sequential-reference parity, B ≤ dozens of walkers). Here the frontier
  * is |starts|·reps rows (≥ |V| in a full DeepWalk run), so every step is
  * two distributed operators:
  *
  *   1. frontier ⋈ edges on cur = src — the only data-proportional cost;
  *      hub-node skew on `src` is AQE-skew-splittable (the candidate
  *      explosion is on the EDGE side, keyed by the frontier row's cur).
  *   2. per-walk pick via `min(struct(h, pred, dst))` — a hash AGGREGATE
  *      with map-side partial combine, not a window: the candidate stream
  *      shrinks before the exchange and nothing ever sorts a partition.
  *
  * The pick hash is md5 over (seed, step, walk_id, pred, dst) — a pure
  * function of data + seed (byte-identical at any parallelism, any resume)
  * AND portable SQL (DuckDB's md5 produces the same hex string, so the
  * oracle replays every pick exactly; xxhash64 has no DuckDB mirror —
  * see [[graft.core.Determinism]]).
  *
  * Dead-end walks terminate (no row at later steps). Every step's state is
  * pinned: the corpus unions every step's positions,
  * so a lazy state made later branches re-derive all prior steps
  * (O(steps²) joins in the executed plan — r6 finding); materializing per
  * step also hands AQE the frontier's exact size for its per-step join
  * strategy, and walk length 40 (the DeepWalk paper's default) never
  * builds a 40-join plan.
  */
object DeepWalk {

  /** seeded portable pick hash for one step */
  private def pickHash(seed: Long, step: Int) =
    md5(concat_ws("|", lit(seed), lit(step), col("walk_id"), col("pred"), col("dst"))
      .cast("binary"))

  /** `starts`: one `id` column. Returns (walk_id, step, node), step 0 = the
    * start node; a dead-ended walk simply has no rows past its last step. */
  def corpus(kb: Kb, starts: DataFrame, reps: Int = 2, steps: Int = 5,
             seed: Long = 42L): DataFrame = {
    require(reps >= 1 && steps >= 0, s"reps=$reps steps=$steps")
    val edges = Pin(kb.edges.select(col("src"), col("pred"), col("dst"))).df
    var state = Pin(starts
      .join(broadcast(kb.spark.range(0, reps).withColumnRenamed("id", "r")))
      .select(concat(col("id"), lit("#"), col("r").cast("string")).as("walk_id"),
        col("id").as("cur"))).df
    var out = state.select(col("walk_id"), lit(0).as("step"), col("cur").as("node"))
    var i = 1
    while (i <= steps) {
      // each step's state is materialized EAGERLY: the corpus is the union
      // of every step's positions, and with a lazy state each step's union
      // branch re-derived ALL prior steps — the r6 before-plan showed a
      // triangular cascade of per-branch join chains (O(steps²) joins, the
      // deepest 10 deep) with the edge table shuffled inside each. Now the
      // final corpus scan reads `steps` materialized frames, each step runs
      // its frontier⋈edges join exactly once, and the materialized frontier
      // gives AQE an exact size, so the join picks broadcast vs shuffle per
      // step from real statistics (frontiers shrink as walks dead-end).
      val cand = state.join(edges, state("cur") === edges("src"))
      state = Pin(cand
        .groupBy(col("walk_id"))
        .agg(min(struct(pickHash(seed, i).as("h"), col("pred"), col("dst"))).as("m"))
        .select(col("walk_id"), col("m.dst").as("cur"))).df
      out = out.unionAll(
        state.select(col("walk_id"), lit(i).as("step"), col("cur").as("node")))
      i += 1
    }
    out
  }

  /** Skip-gram training pairs from a walk corpus: every (center, context)
    * co-occurrence within ±`window` steps of the same walk, with its count
    * — the input of a word2vec-style KG-embedding trainer. One
    * walk_id-keyed self-join (co-partitioned: both sides shuffle on the
    * same key once) + a map-side-combinable count aggregate; per-walk
    * fan-out is bounded by walkLength·2window, so the join never squares
    * anything corpus-sized. */
  def skipGramPairs(corpus: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window=$window")
    corpus.as("a").join(corpus.as("b"),
        col("a.walk_id") === col("b.walk_id") &&
          col("b.step") =!= col("a.step") &&
          abs(col("b.step") - col("a.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB replay over CTEs `edges` and `starts(id)`: the same per-step
    * join and the same md5 pick (expressed as a ROW_NUMBER window — the
    * oracle mirrors semantics, not the operator; min-of-struct and
    * rn=1-over-the-same-order are the same total-order choice). Emitted as
    * chained MATERIALIZED CTEs ending with per-step `s0..s$steps`. */
  def oracleCtes(reps: Int, steps: Int, seed: Long): String = {
    val stepCtes = (1 to steps).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT s.walk_id, e.pred, e.dst,
         |         md5('$seed|$i|' || s.walk_id || '|' || e.pred || '|' || e.dst) AS h
         |  FROM s${i - 1} s JOIN edges e ON e.src = s.cur),
         |s$i AS MATERIALIZED (
         |  SELECT walk_id, dst AS cur FROM (
         |    SELECT walk_id, dst,
         |           ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY h, pred, dst) AS rn
         |    FROM c$i) r WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""s0 AS MATERIALIZED (
       |  SELECT id || '#' || CAST(g.r AS VARCHAR) AS walk_id, id AS cur
       |  FROM starts CROSS JOIN generate_series(0, ${reps - 1}) g(r)),
       |$stepCtes""".stripMargin
  }

  /** the oracle's final SELECT: all steps unioned as (walk_id, step, node) */
  def oracleSelect(steps: Int): String =
    (0 to steps)
      .map(i => s"SELECT walk_id, CAST($i AS INT) AS step, cur AS node FROM s$i")
      .mkString("\nUNION ALL\n")

  /** Positive-PMI association weights over skip-gram pairs — the classic
    * count-based embedding input (Levy & Goldberg, "Neural Word Embedding
    * as Implicit Matrix Factorization", NIPS'14: SGNS factorizes the
    * shifted-PMI matrix, so the PPMI-weighted pair matrix is the spectral
    * route to the same embedding DeepWalk's SGD trainer would learn).
    *
    * Exact integer arithmetic end to end: emits `num = cnt·total` and
    * `den = center_sum·context_sum` with PMI > 0 ⟺ num > den; the float
    * `log(num/den)` weight happens downstream of any gate, so the DuckDB
    * oracle replays this hash-identically (no cross-engine libm hazard).
    * Two keyed aggregations + two same-key joins + one broadcast scalar —
    * scales like a groupBy. The pair table is consumed four times (total,
    * both marginals, itself) → materialized once. Overflow note: num/den
    * are int64 products; at corpus scales where cnt·total approaches 2⁶³
    * (≳10⁹·10⁹ co-occurrences) move both to decimal(38,0) — the comparison
    * is unaffected. */
  def ppmiPairs(pairs0: DataFrame): DataFrame = {
    val pairs = Pin(pairs0).df
    val total = pairs.agg(sum(col("cnt")).as("total"))
    val centerSums = pairs.groupBy("center").agg(sum(col("cnt")).as("center_sum"))
    val contextSums = pairs.groupBy("context").agg(sum(col("cnt")).as("context_sum"))
    pairs.join(centerSums, Seq("center")).join(contextSums, Seq("context"))
      .crossJoin(broadcast(total))
      .select(col("center"), col("context"), col("cnt"),
        (col("cnt") * col("total")).as("num"),
        (col("center_sum") * col("context_sum")).as("den"))
      .filter(col("num") > col("den"))
  }
}
