package graft.sample

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the web-graph
  * bowtie primitive (Broder et al., "Graph structure in the web", WWW'00
  * decomposes a crawl into the giant SCC + IN/OUT/tendrils; on a KG the
  * SCC condensation is what cycle-detection and taxonomy QA read).
  *
  * Coloring algorithm (Orzan '04; Slota-Rajamanickam-Madduri IPDPS'14),
  * the label-propagation formulation that fits synchronous DataFrame
  * rounds — [[graft.pipeline.ConnectedComponents]] handles the undirected
  * case, this is its directed sibling:
  *
  *   repeat until no live nodes:
  *     1. FORWARD max-propagation to fixpoint: color(v) = max id (string
  *        order) over every live node that reaches v — semi-naive (only
  *        changed colors re-propagate), so each round is one keyed join
  *        + max-aggregate over the CHANGED frontier, not the whole graph.
  *     2. roots = nodes with color(v) = v. BACKWARD reachability from the
  *        roots restricted to each root's own color class — again
  *        semi-naive — yields every root's full SCC simultaneously.
  *     3. peel: emit members (id, scc = root), drop them from the live
  *        set; edges with a peeled endpoint can never join a future SCC
  *        (any cycle through a peeled node was already in its SCC).
  *
  * Outer rounds are bounded by the longest path in the CONDENSATION (the
  * SCC DAG) — small on web/KG shapes (a crawl condenses to the shallow
  * bowtie; the TPC-H KG is a 4-level DAG); inner rounds by the graph
  * diameter. `maxRounds` guards both: like ConnectedComponents, a
  * non-converged decomposition raises instead of returning wrong labels.
  * All per-round state is O(|live|), pinned to truncate lineage (the
  * live and backward loops stop on the pins' counted rows); joins are
  * keyed equi-joins throughout — no cartesian, no driver-side graph.
  */
object Scc {

  /** edges(src, dst), nodes(id) → (id, scc) with scc = the MAX member id
    * under string order (the forward-propagation root — deterministic and
    * join-free to compute). Every node appears exactly once. */
  def compute(edges0: DataFrame, nodes0: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = edges0.sparkSession
    var live = Pin(nodes0.select(col("id")).distinct())
    var liveEdges = Pin(edges0.select("src", "dst").distinct()
      .filter(col("src") =!= col("dst"))).df
    var result: DataFrame = null
    var outer = 0

    while (live.rows > 0) {
      outer += 1
      require(outer <= maxRounds, s"SCC did not peel in $maxRounds outer rounds")

      // 1. forward max-color fixpoint, semi-naive
      var colors = Pin(live.df.select(col("id"), col("id").as("color"))).df
      var frontier = colors
      var inner = 0
      while (!frontier.isEmpty) {
        inner += 1
        require(inner <= maxRounds, s"SCC coloring did not converge in $maxRounds rounds")
        val cand = liveEdges
          .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id")).agg(max(col("color")).as("cand"))
        val merged = Pin(colors.join(cand, Seq("id"), "left_outer")
          .select(col("id"),
            greatest(col("color"), coalesce(col("cand"), col("color"))).as("color"),
            (col("cand").isNotNull && col("cand") > col("color")).as("changed"))).df
        frontier = merged.filter(col("changed")).select("id", "color")
        colors = merged.select("id", "color")
      }

      // 2. backward reachability from the roots within each color class
      val roots = colors.filter(col("color") === col("id"))
        .select(col("id"), col("id").as("scc"))
      var members = Pin(roots)
      var back = members
      inner = 0
      while (back.rows > 0) {
        inner += 1
        require(inner <= maxRounds, s"SCC backward pass did not converge in $maxRounds rounds")
        val reached = liveEdges
          .join(back.df.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("src").as("id"), col("scc")).distinct()
          // stay inside the color class: u joins scc c only if c reaches u
          .join(colors.withColumnRenamed("color", "scc"), Seq("id", "scc"), "left_semi")
        back = Pin(reached.join(members.df, Seq("id"), "left_anti"))
        members = Pin(members.df.unionAll(back.df))
      }

      // 3. peel
      result = if (result == null) members.df else result.unionAll(members.df)
      live = Pin(live.df.join(members.df, Seq("id"), "left_anti"))
      liveEdges = Pin(liveEdges
        .join(live.df.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(live.df.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")).df
    }

    if (result == null) nodes0.select(col("id"), col("id").as("scc")).limit(0)
    else Pin(result).df
  }

  /** Topological LAYERS of the SCC condensation: `(id, scc, layer)` with
    * layer = the longest condensation path ending at the node's SCC —
    * the DAG-scheduling depth (crawl generations, taxonomy strata; the
    * bow-tie's IN→SCC→OUT gets its per-node coordinate). Longest path on
    * a general graph is NP-hard; on the condensation — a DAG by
    * construction — it is Bellman-Ford relaxation that converges in
    * depth+1 rounds, each ONE edges⋈layers join + one dst-keyed max
    * (map-side combinable) + one left join back. Exact-integer layers;
    * the relaxation is idempotent at the fixpoint, so the oracle's fixed
    * unroll replays the converged engine exactly. Raises past
    * `maxRounds` (condensation depth ≤ longest simple path; 64 covers
    * any graph that condensed at all). */
  def dagLayers(edges0: DataFrame, nodes0: DataFrame, maxRounds: Int = 64): DataFrame = {
    val scc = compute(edges0, nodes0, maxRounds)
    val ce = Pin(edges0.select("src", "dst")
      .join(scc.select(col("id").as("src"), col("scc").as("csrc")), Seq("src"))
      .join(scc.select(col("id").as("dst"), col("scc").as("cdst")), Seq("dst"))
      .select(col("csrc"), col("cdst"))
      .filter(col("csrc") =!= col("cdst")).distinct()).df
    var layer = Pin(scc.select(col("scc")).distinct()
      .withColumn("layer", lit(0L))).df
    var changed = true
    var i = 0
    while (changed) {
      i += 1
      require(i <= maxRounds, s"condensation layering did not converge in $maxRounds rounds")
      val relax = layer.join(ce.withColumnRenamed("csrc", "scc"), Seq("scc"))
        .groupBy(col("cdst").as("scc"))
        .agg(max(col("layer") + 1).as("cand"))
      val nxt = Pin(layer.join(relax, Seq("scc"), "left_outer")
        .select(col("scc"),
          greatest(col("layer"), coalesce(col("cand"), lit(0L))).as("layer"))).df
      changed = !nxt.join(layer.withColumnRenamed("layer", "old"), Seq("scc"))
        .filter(col("layer") =!= col("old")).isEmpty
      layer = nxt
    }
    scc.join(layer, Seq("scc")).select(col("id"), col("scc"), col("layer"))
  }
}
