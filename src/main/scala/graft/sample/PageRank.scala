package graft.sample

import graft.core.{Kb, Pin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank as the reference computes it (ontosample/_base.py:41-51 +
  * classic_samplers.py:239-259): ranks start at 1.0, and each sweep sets
  *   pr(v) = d/n + (1−d) · Σ_{u→v} pr(u)/outdeg(u)   with d = 0.15.
  * Dangling mass leaks (no redistribution), duplicate assertions contribute
  * multiply — both preserved here.
  *
  * The reference sweeps in-place (Gauss–Seidel); Spark iterations are
  * synchronous (Jacobi) joins + groupBy-sum converging to the same fixed
  * point — at 100 iterations both sit at the fixed point, and downstream use
  * is a *weighted random* choice, so trajectory differences are immaterial
  * (SURVEY §7.3 #2).
  *
  * Scale shape: after the first sweep, every node with no in-links holds
  * the constant rank d/n forever, so its outgoing contribution is a
  * CONSTANT vector — computed once and added each round. Iterations then
  * run only over the in-linked subgraph (on web-shaped graphs the
  * source-only fraction is large: in the TPC-H KG it is ~80% of nodes and
  * ~97% of edges). Each iteration is one shuffle on `dst`; lineage is
  * truncated with localCheckpoint every `checkpointEvery` iterations.
  */
object PageRank {

  /** `adaptive = false` disables AQE for the duration of the loop (the
    * caller's setting is restored): the sweeps are co-partitioned — the
    * iterating adjacency is cached hash-partitioned on `src` and each
    * sweep's output keeps hash(id) partitioning, so the rank join and the
    * base join run exchange-free and only the mass aggregation shuffles
    * (one exchange per sweep instead of three). AQE's post-shuffle
    * coalescing re-writes partitioning between stages, which silently
    * breaks that reuse AND re-plans every one of the ~2·iterations stages
    * for no information gain (the shape is identical each sweep). On a
    * heavily skewed web graph where one node's in-degree dominates the
    * mass agg, pass `adaptive = true` to trade the extra exchanges for
    * AQE skew-splitting. */
  def compute(kb: Kb, d: Double = 0.15, iterations: Int = 100,
              checkpointEvery: Int = 10, adaptive: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftSessions
    // The AQE choice is scoped to a CLONED session (shared SparkContext and
    // cache, isolated SQLConf) instead of toggling the caller's session
    // conf: queries running concurrently on the caller's session (e.g.
    // ForestFire's warmup Future) keep their own AQE setting, and two
    // concurrent compute() calls cannot restore each other's stale values.
    val caller = kb.spark
    val scoped = GraftSessions.cloneWithConf(caller,
      "spark.sql.adaptive.enabled" -> adaptive.toString)
    GraftSessions.bind(computeInner(
      GraftSessions.bind(kb.nodes, scoped),
      GraftSessions.bind(kb.edges.select(col("src"), col("dst"))
        .withColumn("w", lit(1.0)), scoped),
      d, iterations, checkpointEvery), caller)
  }

  /** WEIGHTED PageRank — the host-quotient / multigraph form: each edge
    * carries a multiplicity/weight `w` and a node's rank flows out in
    * proportion w/Σw(src). Replicating edges by multiplicity is the same
    * chain (PageRankSpec proves equivalence) but is not an option when a
    * host pair carries 10⁹ links — the weighted form keeps the edge table
    * at |distinct pairs|. Unweighted [[compute]] is exactly this with
    * w = 1 (bit-identical arithmetic: pr·1.0/outdeg ≡ pr/outdeg). */
  def computeWeighted(nodes: DataFrame, weightedEdges: DataFrame,
                      d: Double = 0.15, iterations: Int = 100,
                      checkpointEvery: Int = 10, adaptive: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftSessions
    val caller = nodes.sparkSession
    val scoped = GraftSessions.cloneWithConf(caller,
      "spark.sql.adaptive.enabled" -> adaptive.toString)
    GraftSessions.bind(computeInner(
      GraftSessions.bind(nodes, scoped),
      GraftSessions.bind(weightedEdges
        .select(col("src"), col("dst"), col("w").cast("double").as("w")), scoped),
      d, iterations, checkpointEvery), caller)
  }

  /** target rows per sweep-loop shuffle partition (~64 MB of (id, pr)
    * rows): the loop's shuffle width is DERIVED from |E| instead of
    * inheriting the session constant — at fixture scale that collapses
    * every sweep stage to a task or two (the 32-wide stages were pure
    * scheduling overhead over ~135 k rows), at 10¹²-edge scale it yields
    * the 100k-partition widths a real sweep needs. Scoped to the loop's
    * private cloned session, so the caller's conf is untouched. */
  val RowsPerSweepPartition: Long = 2L * 1024 * 1024

  private def computeInner(nodesIn: DataFrame, edgesW0: DataFrame,
                           d: Double, iterations: Int,
                           checkpointEvery: Int): DataFrame = {
    val n = nodesIn.count().toDouble
    // materialize the caller's edge derivation ONCE: it feeds the outdeg
    // aggregate, the adj join and the const/iter split — un-materialized
    // it was re-evaluated 2-3× (for the TPC-H KG: a 6-way union with two
    // lineitem-scale distincts per evaluation; r6 stage evidence)
    val edgesW = Pin(edgesW0)
    val np = math.max(1L,
      math.min(65536L, edgesW.rows / RowsPerSweepPartition)).toInt
    // the session here is the compute()/computeWeighted() PRIVATE clone —
    // setting its shuffle width cannot leak to the caller
    nodesIn.sparkSession.conf.set("spark.sql.shuffle.partitions", np)
    // setup joins: outdeg is an aggregate of the pinned edges, so it
    // broadcasts on its counted size; dstNodes comes out of the adj join
    // and is hinted while the edge table fits. Sweep-loop joins untouched
    // (their co-partitioning is the invariant).
    val outdeg = edgesW.df.groupBy("src").agg(sum(col("w")).as("outdeg"))
    val adj = edgesW.df.select("src", "dst", "w").join(outdeg, Seq("src")).cache()
    val dstNodes = adj.select(col("dst").as("id")).distinct().cache()

    // edges from source-only nodes (pr = d/n from sweep 2 on) vs edges from
    // in-linked nodes (pr evolves). The iterating slice is cached
    // hash-partitioned on src so every sweep's rank join co-partitions.
    val adjIter = adj.join(edgesW.broadcastIfFits(dstNodes.withColumnRenamed("id", "src")),
        Seq("src"), "left_semi")
      .repartition(col("src")).cache()
    val adjConst = adj.join(edgesW.broadcastIfFits(dstNodes.withColumnRenamed("id", "src")),
      Seq("src"), "left_anti")

    def massOf(a: DataFrame, ranks: DataFrame): DataFrame = a
      .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
      .select(col("dst"), (col("pr") * col("w") / col("outdeg")).as("c"))
      .groupBy("dst").agg(sum(col("c")).as("mass"))

    if (iterations == 0) return nodesIn.select(col("id"), lit(1.0).as("pr"))

    // the constant source-only contribution, folded into a per-node base
    // vector so a sweep stays at two shuffles (mass agg + join). The
    // source-only rank is a SCALAR (1.0 at sweep 1, d/n after), so the
    // rank join of the general massOf constant-folds away — one less join
    // inside each base build, same per-row arithmetic (lit(r)/outdeg sums
    // over the identical groups).
    def baseWith(r: Double): DataFrame = dstNodes
      .join(adjConst.select(col("dst"), (lit(r) * col("w") / col("outdeg")).as("c"))
          .groupBy("dst").agg(sum(col("c")).as("mass"))
          .withColumnRenamed("dst", "id"),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("mass"), lit(0.0)).as("cmass"))

    def sweep(ranksAll: DataFrame, base: DataFrame): DataFrame = {
      val m0 = massOf(adjIter, ranksAll)
      base.join(m0.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"), (lit(d / n) + lit(1 - d) *
          (col("cmass") + coalesce(col("mass"), lit(0.0)))).as("pr"))
    }

    // sweep 1: source-only nodes contribute at the init value 1.0; its
    // base is consumed exactly ONCE, so it is left lazy — a checkpoint
    // here was a pure scheduling barrier (the fixed setup phase is
    // job-count bound at small scale, like the walk step floor)
    val init = nodesIn.select(col("id"), lit(1.0).as("pr"))
    var ranks = sweep(init, baseWith(1.0)).localCheckpoint(true)

    // from sweep 2 on they sit at d/n forever; reused every sweep →
    // checkpoint-materialized once
    val base = baseWith(d / n).localCheckpoint(true)

    var i = 1
    while (i < iterations) {
      val next = sweep(ranks, base)
      ranks = if ((i + 1) % checkpointEvery == 0 || i + 1 == iterations)
        next.localCheckpoint(true) else next
      i += 1
    }

    // final ranks: evolving dst-set ranks ∪ constant d/n source-only nodes
    val sourceOnly = nodesIn.join(dstNodes, Seq("id"), "left_anti")
      .select(col("id"), lit(d / n).as("pr"))
    val out = ranks.unionAll(sourceOnly).localCheckpoint(true)
    adj.unpersist(); adjIter.unpersist(); dstNodes.unpersist()
    out
  }

  /** Residual-stopped PageRank from an ARBITRARY init vector — the
    * incremental-maintenance primitive: after a recrawl changeset lands
    * ([[graft.pipeline.Materialize.changeset]] shape), re-rank the updated
    * graph WARM-STARTED from the previous fixed point instead of from 1.0.
    * The fixed point of the Jacobi iteration is unique (the iteration
    * matrix has spectral radius ≤ 1−d < 1), so the warm start changes only
    * HOW MANY sweeps are needed, never what they converge to — for a small
    * edge delta the old ranks are already near the new fixed point and the
    * sweep count drops by the contraction-rate log of the initial error
    * (PrIncrementalProbe on the cyclic web link graph, 5% hash-planted
    * edge delta, tol 1e-9: cold 52 → warm 27 sweeps at sf0.1, 48 → 28 at
    * sf0.01, fixed points L1-equal to ~1e-9. A depth-bounded DAG like the
    * TPC-H KG converges exactly in depth+2 sweeps either way — warm
    * starts pay on graphs with cycles, i.e. the web).
    *
    * Stops when the L1 residual Σ|pr_{t+1} − pr_t| ≤ tol (residual, not
    * true-error — the standard practical criterion; tol/(d) bounds the
    * true L1 error by the same contraction argument). Each sweep is the
    * same two-shuffle shape as [[compute]] plus one co-partitioned
    * residual aggregate; the loop localCheckpoints every sweep because the
    * residual job materializes the ranks anyway.
    *
    * Returns (ranks, sweeps run). `init` rows are (id, pr); nodes missing
    * from it start at 1.0 (so an empty init IS the cold start — new nodes
    * from the changeset need no special casing). */
  def computeFrom(kb: Kb, init: DataFrame, d: Double = 0.15,
                  tol: Double = 1e-9, maxSweeps: Int = 200,
                  adaptive: Boolean = false): (DataFrame, Int) = {
    import org.apache.spark.sql.graftshim.GraftSessions
    val caller = kb.spark
    val scoped = GraftSessions.cloneWithConf(caller,
      "spark.sql.adaptive.enabled" -> adaptive.toString)
    val nodes = GraftSessions.bind(kb.nodes.select("id"), scoped)
    val edgesW = GraftSessions.bind(
      kb.edges.select(col("src"), col("dst")).withColumn("w", lit(1.0)), scoped)
    val initB = GraftSessions.bind(init.select(col("id"), col("pr")), scoped)
    val n = nodes.count().toDouble
    val outdeg = edgesW.groupBy("src").agg(sum(col("w")).as("outdeg"))
    val adj = edgesW.join(outdeg, Seq("src")).repartition(col("src")).cache()
    var ranks = nodes.join(initB, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("pr"), lit(1.0)).as("pr"))
      .localCheckpoint(true)
    var sweeps = 0
    var resid = Double.MaxValue
    while (resid > tol && sweeps < maxSweeps) {
      val mass = adj.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("pr") * col("w") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      val next = ranks.select(col("id"))
        .join(mass.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"), (lit(d / n) + lit(1 - d) *
          coalesce(col("mass"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
      resid = ranks.withColumnRenamed("pr", "pr0").join(next, Seq("id"))
        .agg(sum(abs(col("pr") - col("pr0")))).first().getDouble(0)
      ranks = next
      sweeps += 1
    }
    adj.unpersist()
    (GraftSessions.bind(ranks, caller), sweeps)
  }

  /** Personalized PageRank (Jeh & Widom, "Scaling personalized web
    * search", WWW'03 — the random surfer teleports to the SEED set, not
    * uniformly): pr(v) = d·s(v) + (1−d)·Σ_{u→v} pr(u)/outdeg(u) with
    * s(v) = 1/|seeds| on seeds, 0 elsewhere; init = s. Mass leaks through
    * dangling nodes exactly like [[compute]] (Σ pr ≤ 1), and nodes the
    * seeds cannot reach stay at 0 — the locality that makes PPR the
    * standard seed-biased sampling/expansion score over a KG.
    *
    * Scale shape: same per-sweep cost as [[compute]] — the adjacency is
    * cached hash-partitioned on `src` and co-partitions with each sweep's
    * output, so only the mass aggregation shuffles; the teleport vector
    * is a broadcast IN-list (seed sets are user-scale, not graph-scale). */
  def personalized(kb: Kb, seeds: Seq[String], d: Double = 0.15,
                   iterations: Int = 30, checkpointEvery: Int = 10): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    val tele = when(col("id").isin(seeds: _*), lit(1.0 / seeds.size)).otherwise(lit(0.0))
    val outdeg = kb.edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = kb.edges.select("src", "dst").join(outdeg, Seq("src"))
      .repartition(col("src")).cache()
    val base = kb.nodes.select(col("id"), tele.as("s")).localCheckpoint(true)
    var ranks = base.select(col("id"), col("s").as("pr"))
    var i = 0
    while (i < iterations) {
      val mass = adj.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      val next = base.join(mass.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"), (lit(d) * col("s") +
          lit(1 - d) * coalesce(col("mass"), lit(0.0))).as("pr"))
      i += 1
      ranks = if (i % checkpointEvery == 0 || i == iterations)
        next.localCheckpoint(true) else next
    }
    adj.unpersist()
    ranks
  }
}
