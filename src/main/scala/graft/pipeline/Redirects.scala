package graft.pipeline

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Terminal-target resolution over a FUNCTIONAL link relation — redirect
  * (3xx) chains, rel=canonical maps, pagination "next" chains: every src
  * has at most one outgoing edge (validated), and each src resolves to
  * the end of its pointer chain.
  *
  * The naive per-hop probe is O(L) sequential joins for a length-L chain
  * — a scale-killer the moment a crawl snapshot carries a pathological
  * chain (the synthetic corpus's own next-chain is length n). Pointer
  * DOUBLING (the Wyllie list-ranking step: f ← f∘f) resolves every chain
  * in ⌈log₂ n⌉+1 rounds of ONE self-equi-join each, carrying exact hop
  * counts along (hops compose additively under composition). Rows whose
  * current target has no outgoing edge are done and frozen; rows still
  * unresolved after the round budget sit on or feed into a CYCLE — the
  * only non-terminating shape a functional graph has — and come back
  * `cyclic = true` with NULL target/hops instead of looping forever.
  * State is one O(n) table, pinned per round to cut the exponential
  * self-join lineage. */
object Redirects {

  /** `f(src, dst)` → `(src, target, hops, cyclic)` for every src of f. */
  def resolveChains(f0: DataFrame): DataFrame = {
    val pinned = Pin(f0.select(col("src"), col("dst")))
    val f = pinned.df
    val dupes = f.groupBy("src").count().filter(col("count") > 1).limit(1).collect()
    require(dupes.isEmpty,
      s"link relation is not functional: src '${dupes.headOption.map(_.get(0)).orNull}' " +
        "has multiple outgoing edges")
    val n = pinned.rows
    val rounds =
      if (n < 2) 0
      else (64 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 1 // ⌈log₂ n⌉ + 1
    val dom = f.select(col("src").as("cur")).distinct()
    var m = Pin(f.select(col("src"), col("dst").as("cur"), lit(1L).as("hops"))
      .join(dom.withColumn("in_dom", lit(true)), Seq("cur"), "left_outer")
      .select(col("src"), col("cur"), col("hops"),
        coalesce(!col("in_dom"), lit(true)).as("done"))).df
    for (_ <- 1 to rounds) {
      val m2 = m.select(col("src").as("j_src"), col("cur").as("j_cur"),
        col("hops").as("j_hops"), col("done").as("j_done"))
      val stepped = m.filter(!col("done"))
        .join(m2, col("cur") === col("j_src"))
        .select(col("src"), col("j_cur").as("cur"),
          (col("hops") + col("j_hops")).as("hops"), col("j_done").as("done"))
      m = Pin(m.filter(col("done")).unionAll(stepped)).df
    }
    m.select(col("src"),
      when(col("done"), col("cur")).as("target"),
      when(col("done"), col("hops")).as("hops"),
      (!col("done")).as("cyclic"))
  }
}
