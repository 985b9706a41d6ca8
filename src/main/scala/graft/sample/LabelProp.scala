package graft.sample

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan, Albert &
  * Kumara, "Near linear time algorithm to detect community structures in
  * large-scale networks", Phys. Rev. E 76, 2007) over an undirected edge
  * set — community structure is the third sampler-quality axis next to
  * degrees (`smp_rn_degdist`) and clustering (`kg_tri_counts`).
  *
  * The SYNCHRONOUS variant with a total-order tie-break is used
  * deliberately: per round every node adopts the most frequent label among
  * its neighbors' previous-round labels (ties → smallest label), so a
  * K-round run is a pure function of the edge set — reproducible across
  * partitionings and replayable by the DuckDB oracle round for round. (The
  * paper's asynchronous variant converges faster but is visit-order
  * dependent — unacceptable for a verified distributed operator;
  * synchronous LPA can oscillate on bipartite structures, which a fixed
  * round budget sidesteps — callers read the label histogram, not a
  * convergence promise.)
  *
  * Per round: one labels⋈edges equi-join + one two-key count aggregate +
  * one min-of-struct pick aggregate (both map-side combinable, no window
  * sort) — scales like the frontier-expansion joins of the samplers.
  * Labels are pinned per round (bounded lineage). Only
  * edge-incident nodes appear (same contract as ConnectedComponents).
  */
object LabelProp {

  /** `(id, lbl)` after `rounds` synchronous sweeps; initial label = own id. */
  def run(und0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds=$rounds")
    val und = Pin(und0).df
    val sym = und.select(col("u"), col("v"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))
    var labels = Pin(sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))).df
    for (_ <- 1 to rounds) {
      labels = Pin(sym
        .join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .groupBy(col("u").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        // max count, then smallest label: min of (-c, lbl) structs
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("id"), col("m.lbl").as("lbl"))).df
    }
    labels
  }

  /** Community sizes — the sampler-quality histogram (label, members). */
  def communitySizes(und: DataFrame, rounds: Int): DataFrame =
    run(und, rounds).groupBy("lbl").agg(count(lit(1)).as("members"))
}
