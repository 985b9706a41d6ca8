package graft.sample

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Web bowtie decomposition (Broder et al., "Graph structure in the web",
  * WWW'00 §3): partition a directed graph into
  *
  *   CORE     — the largest SCC
  *   IN       — reaches CORE, not reachable from it
  *   OUT      — reachable from CORE, does not reach it
  *   TUBE     — on an IN→OUT path avoiding CORE
  *   TENDRIL  — hangs off IN (reachable from IN) or leads into OUT
  *              (reaches OUT) without the other end
  *   DISC     — none of the above
  *
  * — the canonical macro-structure report of a crawl (the original paper
  * measured ~28% CORE / 21% IN / 21% OUT on the 1999 AltaVista crawl).
  *
  * Composition of the engine's existing primitives: [[Scc.compute]] for
  * the core (coloring/peel — keyed joins, O(condensation-depth) rounds),
  * then four multi-source semi-naive reachability sweeps (forward/backward
  * from CORE, forward from IN, backward from OUT). Each sweep is one
  * keyed join + anti per round, rounds bounded by the graph diameter,
  * frontier/visited state pinned so lineage never grows — the
  * same 100-TB shape as ConnectedComponents/Scc. Nothing is ever
  * collected to the driver; region labels fall out of anti-join algebra
  * over the five node sets.
  */
object Bowtie {

  /** edges(src, dst), nodes(id) → (id, region). Every node appears exactly
    * once. Ties for the largest SCC break on the max scc id (deterministic
    * at any parallelism). */
  def regions(edges0: DataFrame, nodes0: DataFrame, maxRounds: Int = 64): DataFrame = {
    val edges = Pin(edges0.select("src", "dst").distinct()
      .filter(col("src") =!= col("dst"))).df
    val nodes = Pin(nodes0.select(col("id")).distinct()).df

    val scc = Pin(Scc.compute(edges, nodes, maxRounds)).df
    // largest SCC, ties → max id: one aggregate, one driver row
    val coreRow = scc.groupBy(col("scc")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc").desc).limit(1).head()
    val coreId = coreRow.getString(0)
    val core = Pin(scc.filter(col("scc") === coreId).select(col("id"))).df

    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    val fwdCore = reach(edges, core, maxRounds)
    val bwdCore = reach(rev, core, maxRounds)
    val outSet = Pin(fwdCore.join(core, Seq("id"), "anti")).df
    val inSet = Pin(bwdCore.join(core, Seq("id"), "anti")).df
    val rest = Pin(nodes.join(core, Seq("id"), "anti")
      .join(outSet, Seq("id"), "anti")
      .join(inSet, Seq("id"), "anti")).df
    val fromIn = Pin(reach(edges, inSet, maxRounds).join(rest, Seq("id"), "left_semi")).df
    val toOut = Pin(reach(rev, outSet, maxRounds).join(rest, Seq("id"), "left_semi")).df

    def tag(s: DataFrame, r: String) = s.select(col("id"), lit(r).as("region"))
    val tube = fromIn.join(toOut, Seq("id"), "left_semi")
    val tendril = fromIn.join(toOut, Seq("id"), "anti")
      .unionAll(toOut.join(fromIn, Seq("id"), "anti"))
    val disc = rest.join(fromIn, Seq("id"), "anti").join(toOut, Seq("id"), "anti")
    tag(core, "CORE")
      .unionAll(tag(inSet, "IN"))
      .unionAll(tag(outSet, "OUT"))
      .unionAll(tag(tube, "TUBE"))
      .unionAll(tag(tendril, "TENDRIL"))
      .unionAll(tag(disc, "DISC"))
  }

  /** Multi-source reachability (seeds INCLUDED): semi-naive — each round
    * expands only the previous frontier and anti-joins the visited set, so
    * per-round work is O(|frontier ⋈ edges|), not O(|reached|). */
  private def reach(edges: DataFrame, seeds: DataFrame, maxRounds: Int): DataFrame = {
    val seeded = Pin(seeds.select(col("id")))
    var visited = seeded.df
    var frontier = seeded
    var round = 0
    while (frontier.rows > 0) {
      round += 1
      require(round <= maxRounds, s"reachability did not converge in $maxRounds rounds")
      frontier = Pin(edges.join(frontier.df.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "anti"))
      if (frontier.rows > 0)
        visited = Pin(visited.unionAll(frontier.df)).df
    }
    visited
  }
}
