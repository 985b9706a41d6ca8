package graft.sample

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
  * hyperlinked environment", JACM'99) — the other classic web-link score
  * beside PageRank, and the one that separates DIRECTORY pages (hubs) from
  * CONTENT pages (authorities) on a crawl graph.
  *
  * Power iteration on the adjacency A:
  *   auth ← Aᵀ·hub, normalize ‖auth‖₂ = 1;   hub ← A·auth, normalize.
  * Duplicate edges contribute multiply (bag semantics, like [[PageRank]]);
  * nodes with no in-links hold authority 0, nodes with no out-links hold
  * hub 0 — no smoothing, per the original formulation.
  *
  * Scale shape: the adjacency is cached TWICE, hash-partitioned on `src`
  * and on `dst`, so each half-sweep's score join co-partitions with one
  * copy and only the contribution aggregate shuffles — two O(|E|)
  * exchanges per full iteration, the HITS floor (the two propagation
  * directions key differently; PageRank's one-exchange trick needs a
  * single direction). Score tables are O(|V|) and ride the small side of
  * each join.
  *
  * Normalization is an ACTION (a global Σx²), so it does NOT run per
  * half-sweep: power iteration is scale-invariant (per-sweep vs deferred
  * rescaling yields the identical direction in exact arithmetic), so
  * sweeps stay lazy and the rescale runs every `normalizeEvery`
  * iterations — each segment's whole plan executes exactly ONCE inside
  * its boundary pin, giving 4 driver actions per segment
  * instead of 4 per iteration (the fixture gate is job-floor-bound; data
  * cost is unchanged). `normalizeEvery` bounds the unrescaled growth at
  * λ(AᵀA)^normalizeEvery — with the default 5 even a max-degree-10⁶ web
  * graph stays ≲1e60, far from double overflow.
  */
object Hits {

  /** edges(src, dst) → (id, hub, auth) for every node on either side.
    * `iterations` full (auth + hub) sweeps; HITS converges geometrically
    * in the spectral gap of AᵀA, ~20 suffices on web-shaped graphs. */
  def compute(edges0: DataFrame, iterations: Int = 20,
              normalizeEvery: Int = 5): DataFrame = {
    require(iterations >= 1, "HITS needs at least one iteration")
    require(normalizeEvery >= 1, "normalizeEvery must be >= 1")
    val edges = edges0.select("src", "dst")
    val bySrc = edges.repartition(col("src")).cache()
    val byDst = edges.repartition(col("dst")).cache()
    val srcNodes = bySrc.select(col("src").as("id")).distinct()
    val dstNodes = byDst.select(col("dst").as("id")).distinct()

    def l2normalized(scores0: DataFrame, c: String): DataFrame = {
      // materialize BEFORE the norm action: the segment's lazy plan then
      // executes exactly once, the norm is a scan of the checkpoint, and
      // the next segment plans on top of the checkpointed rows — without
      // this the segment re-executes once for the norm and again for the
      // next boundary (measured 2.5× on the gate)
      val scores = Pin(scores0).df
      val n2 = scores.agg(sum(col(c) * col(c))).head().getDouble(0)
      // an all-zero vector only happens on an empty edge set; guard the
      // division so the fixture edge cases stay NaN-free
      val inv = if (n2 > 0.0) 1.0 / math.sqrt(n2) else 0.0
      scores.select(col("id"), (col(c) * lit(inv)).as(c))
    }

    // hub scores live on src nodes, authority scores on dst nodes
    var hub = srcNodes.select(col("id"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    var i = 0
    while (i < iterations) {
      i += 1
      val boundary = i % normalizeEvery == 0 || i == iterations
      auth = bySrc.join(hub.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("auth"))
      // rescale auth BEFORE the hub update at a boundary, so the hub plan
      // reads the checkpointed auth instead of re-deriving the segment
      if (boundary) auth = l2normalized(auth, "auth")
      hub = byDst.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hub"))
      if (boundary) hub = l2normalized(hub, "hub")
    }

    val ids = srcNodes.unionAll(dstNodes).distinct()
    val out = Pin(ids
      .join(hub, Seq("id"), "left_outer")
      .join(auth, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))).df
    bySrc.unpersist(); byDst.unpersist()
    out
  }
}
