package graft.sample

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Borůvka minimum spanning forest (Borůvka 1926; the MapReduce/Spark
  * treatment in Lattanzi et al., "Filtering: a method for solving graph
  * problems in MapReduce", SPAA'11): every round EACH component picks
  * its minimum outgoing edge, all picks join the forest at once, and
  * touched components contract — components at least halve per round,
  * so O(log n) rounds total, each round a constant number of keyed
  * joins/aggregates. Kruskal/Prim are inherently sequential (one global
  * heap); Borůvka is THE distributed MSF. Downstream use here:
  * single-linkage hierarchical clustering — the MSF sorted by weight IS
  * the dendrogram, and cutting it at τ gives exactly the
  * threshold-graph connected components for every τ at once.
  *
  * DETERMINISM: edges are totally ordered by (w, u, v), so "minimum
  * outgoing edge" is unique — the forest is the unique MSF of the
  * perturbed order (= THE unique MSF when weights are distinct), and
  * the DuckDB oracle replays picks exactly. All comparisons are on
  * exact integers (w: long).
  *
  * CONTRACTION without a nested CC job: the picked edges form, per
  * component, a pointer c → t(c) (the other endpoint's component).
  * Mutual pairs (c ⇄ d — both picked the same edge) are the only
  * pointer cycles (a longer cycle would need a strictly decreasing
  * edge order around it); the smaller id of each pair becomes a root,
  * and Wyllie pointer doubling (the [[graft.core.RdfLists]] pattern)
  * collapses the remaining trees to their roots in O(log n) inner
  * rounds. */
object Boruvka {

  /** `(u, v, w)` undirected weighted edges → the MSF edge set
    * `(u, v, w)`. Self-loops dropped; of duplicate (u, v) rows the
    * minimum weight wins. Raises past `maxRounds` outer rounds. */
  def minimumSpanningForest(edges0: DataFrame, maxRounds: Int = 32): DataFrame = {
    val base = Pin(edges0.select(col("u"), col("v"), col("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))).df
    var comp = Pin(base.select(col("u").as("id"))
      .unionAll(base.select(col("v").as("id"))).distinct()
      .select(col("id"), col("id").as("c"))).df
    var forest: DataFrame = null
    var round = 0
    while (true) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(s"Boruvka not done after $maxRounds rounds")
      val labeled = Pin(base
        .join(comp.select(col("id").as("u"), col("c").as("cu")), Seq("u"))
        .join(comp.select(col("id").as("v"), col("c").as("cv")), Seq("v"))
        .filter(col("cu") =!= col("cv")))
      if (labeled.rows == 0)
        return if (forest == null) base.limit(0) else forest
      // min outgoing edge per component under the (w, u, v) total order
      val sym = labeled.df.select(col("cu").as("comp"), col("cv").as("other"),
          col("w"), col("u"), col("v"))
        .unionAll(labeled.df.select(col("cv").as("comp"), col("cu").as("other"),
          col("w"), col("u"), col("v")))
      val picks = Pin(sym.groupBy("comp")
        .agg(min(struct(col("w"), col("u"), col("v"), col("other"))).as("m"))
        .select(col("comp"), col("m.u").as("u"), col("m.v").as("v"),
          col("m.w").as("w"), col("m.other").as("t"))).df
      val chosen = picks.select(col("u"), col("v"), col("w")).distinct()
      forest = Pin(if (forest == null) chosen else forest.unionAll(chosen)).df
      // pointer c → t; tt = t(t(c)) via one unique lookup (picks has one
      // row per comp); mutual pairs (tt = c) break toward the smaller id
      var ptr = Pin(picks.select(col("comp"), col("t"))
        .join(picks.select(col("comp").as("t"), col("t").as("tt")),
          Seq("t"), "left_outer")
        .select(col("comp"),
          when(col("tt") === col("comp") && col("comp") < col("t"), col("comp"))
            .otherwise(col("t")).as("t"))).df
      var settled = false
      var hops = 0
      while (!settled) {
        hops += 1
        if (hops > maxRounds)
          throw new IllegalStateException("pointer doubling diverged")
        val nxt = Pin(ptr
          .join(ptr.select(col("comp").as("t"), col("t").as("t2")),
            Seq("t"), "left_outer")
          .select(col("comp"), coalesce(col("t2"), col("t")).as("t"))).df
        settled = nxt.join(ptr.withColumnRenamed("t", "old"), Seq("comp"))
          .filter(col("t") =!= col("old")).isEmpty
        ptr = nxt
      }
      comp = Pin(comp.join(ptr.select(col("comp").as("cj"), col("t")),
          comp("c") === col("cj"), "left_outer")
        .select(col("id"), coalesce(col("t"), col("c")).as("c"))).df
    }
    throw new IllegalStateException("unreachable")
  }
}
