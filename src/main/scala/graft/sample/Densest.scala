package graft.sample

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy densest-subgraph by PARALLEL peeling (Bahmani, Kumar &
  * Vattani, "Densest subgraph in streaming and MapReduce", VLDB 2012):
  * repeatedly delete, all at once, every vertex whose degree is at most
  * 2(1+ε) times the current density ρ = |E|/|V|, and return the densest
  * of the nested vertex sets the peel passes through — a 2(1+ε)-approx
  * of the densest subgraph in O(log_{1+ε} n) ROUNDS (each round removes
  * a constant fraction of the survivors), versus the |V| sequential
  * rounds of Charikar's one-vertex-at-a-time greedy that no distributed
  * engine can afford. The dense core is the KG-curation signal this
  * feeds: spam link farms and over-linked boilerplate entities surface
  * as near-clique cores long before any learner sees them.
  *
  * EXACT-INTEGER decisions everywhere the oracle looks: with ε = 1 the
  * peel rule deg(v) ≤ 4·e/n is evaluated as deg(v)·n ≤ 4·e, and the
  * best-round argmax compares densities e_i/n_i by cross-multiplication
  * (e_b·n_a > e_a·n_b), ties to the EARLIEST round — no float division
  * in any decision. Magnitudes: deg·n ≤ 2e·n and e·n both fit int64 to
  * ~10⁹ edges × 10⁹ vertices is out — in practice e, n ≤ 3·10⁹ keeps
  * e·n < 2⁶³; move the comparisons to decimal(38,0) beyond (same note
  * as [[Louvain]]).
  *
  * Scale shape per round: one symmetric-degree aggregate (map-side
  * combinable), one broadcast-size threshold decision (n and e are
  * driver scalars), two anti-joins to drop the peeled endpoints — all
  * keyed on vertex id, no window, no all-pairs anything. Survivor sets
  * are nested, so the output is reconstructed from the per-vertex peel
  * round alone; nothing round-indexed is ever materialized wide.
  */
object Densest {

  /** Peel to empty and return `(id, peel_round, in_densest)`: the round
    * each vertex was deleted at, and whether it belongs to the densest
    * intermediate set (peel_round ≥ best round). Input `(u, v)`
    * undirected edges; vertices = edge endpoints (the
    * ConnectedComponents contract). Raises past `maxRounds` (the
    * O(log₂ n) bound says 64 is unreachable for any graph that fits a
    * cluster). */
  def densestSubgraph(und0: DataFrame, maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"maxRounds=$maxRounds")
    val und = Pin(und0.select(col("u"), col("v")))
    var verts = Pin(und.df.select(col("u").as("id"))
      .unionAll(und.df.select(col("v").as("id"))).distinct())
    var edges = und
    var peeled: DataFrame = null
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var i = 0
    // n and e are the two pins' counted rows
    while (verts.rows > 0) {
      require(i < maxRounds, s"densestSubgraph still peeling after $maxRounds rounds")
      val (n, e) = (verts.rows, edges.rows)
      stats += ((i, n, e))
      val sym = edges.df.unionAll(edges.df.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      // isolated survivors have degree 0 (left join), and ARE counted in n
      val rm = Pin(verts.df.join(deg, Seq("id"), "left_outer")
        .filter(coalesce(col("deg"), lit(0L)) * n <= lit(4L) * e)
        .select(col("id"))).df
      val tagged = rm.withColumn("peel_round", lit(i))
      peeled = Pin(if (peeled == null) tagged else peeled.unionAll(tagged)).df
      verts = Pin(verts.df.join(rm, Seq("id"), "left_anti"))
      edges = Pin(edges.df
        .join(rm.withColumnRenamed("id", "u"), Seq("u"), "left_anti")
        .join(rm.withColumnRenamed("id", "v"), Seq("v"), "left_anti")
        .select(col("u"), col("v")))
      i += 1
    }
    // argmax e_i/n_i by cross-multiplication, earliest round on ties —
    // the min-degree vertex always satisfies deg·n ≤ 2e ≤ 4e, so every
    // round removes at least one vertex and the loop reached here
    val best = stats.reduceLeft { (a, b) =>
      if (b._3 * a._2 > a._3 * b._2) b else a
    }._1
    peeled.select(col("id"), col("peel_round"),
      (col("peel_round") >= best).as("in_densest"))
  }
}
