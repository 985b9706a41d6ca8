package graft.sample

import graft.core.{Kb, LocalGraph, Pin, Pinned}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSessions
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

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
  * One sweep loop serves every entry point. Each sweep sets
  *   pr'(v) = tele(v) + (1−d) · Σ_{u→v} pr(u) · w/outdeg(u)
  * and the entry points differ only in the teleport vector `tele`, the
  * start vector and the stop rule:
  *   - [[compute]], [[computeWeighted]]: tele = d/n, start 1.0, a fixed
  *     sweep count;
  *   - [[personalized]]: tele = d·s(v), start s, a fixed sweep count;
  *   - [[computeFrom]]: tele = d/n, start from a given vector, stopped at
  *     an L1 residual.
  *
  * The loop has two step forms, chosen by the one broadcast envelope
  * ([[graft.core.Pinned.fits]]). When the pinned edges, the node ids and
  * any init rows all fit, the sweeps run on the driver as plain array
  * sweeps over an in-link CSR of dense ids (the flat layout
  * [[graft.core.LocalGraph]] uses): the whole call is those pin jobs and a
  * local relation back in the caller's session — no cache and no sweep
  * pin. Its sums run in an order fixed by the edge multiset, so its ranks are
  * bit-identical at any parallelism; the Spark form's Jacobi sums run in
  * shuffle order, so the two forms agree to rounding (PageRankSpec holds
  * them within 1e-12·(1+pr) and to the same residual-stop sweep count).
  *
  * Above the envelope each sweep is Spark plans. The uniform teleport and
  * start are literal columns, so their lookups constant-fold out of the
  * plan. Scale shape: from the first sweep on, every node with no
  * in-links holds exactly tele(v), so its outgoing contribution is a
  * CONSTANT vector — computed once and added each round. Iterations then
  * run only over the in-linked subgraph (on web-shaped graphs the
  * source-only fraction is large: in the TPC-H KG it is ~80% of nodes and
  * ~97% of edges). Each sweep is one shuffle on `dst`; lineage is
  * truncated with a pin every 10 sweeps, and every sweep under a residual
  * stop (the residual job reads the sweep anyway).
  *
  * That form runs with AQE off, in a CLONED session (shared SparkContext
  * and cache, isolated SQLConf), so queries running concurrently on the
  * caller's session keep their own settings. The sweeps are
  * co-partitioned — the iterating adjacency is cached hash-partitioned on
  * `src` and each sweep's output keeps hash(id) partitioning, so the rank
  * join and the base join run exchange-free and only the mass aggregation
  * shuffles (one exchange per sweep instead of three). AQE's post-shuffle
  * coalescing re-writes partitioning between stages, which breaks that
  * reuse and re-plans every one of the ~2·sweeps stages for no information
  * gain (the shape is identical each sweep). */
object PageRank {

  /** Reference PageRank: `iterations` sweeps from 1.0, teleport d/n. */
  def compute(kb: Kb, d: Double = 0.15, iterations: Int = 100): DataFrame =
    sweepLoop(kb.nodes, unitWeights(kb), d, Nil, None, iterations, None)._1

  /** WEIGHTED PageRank — the host-quotient / multigraph form: each edge
    * carries a multiplicity/weight `w` and a node's rank flows out in
    * proportion w/Σw(src). Replicating edges by multiplicity is the same
    * chain (PageRankSpec proves equivalence) but is not an option when a
    * host pair carries 10⁹ links — the weighted form keeps the edge table
    * at |distinct pairs|. Unweighted [[compute]] is exactly this with
    * w = 1 (bit-identical arithmetic: pr·1.0/outdeg ≡ pr/outdeg). */
  def computeWeighted(nodes: DataFrame, weightedEdges: DataFrame,
                      d: Double = 0.15, iterations: Int = 100): DataFrame =
    sweepLoop(nodes, weightedEdges.select(col("src"), col("dst"),
      col("w").cast("double").as("w")), d, Nil, None, iterations, None)._1

  /** Residual-stopped PageRank from an ARBITRARY init vector — the
    * incremental-maintenance primitive: after a recrawl changeset lands
    * ([[graft.pipeline.Materialize.changeset]] shape), re-rank the updated
    * graph WARM-STARTED from the previous fixed point instead of from 1.0.
    * The fixed point of the Jacobi iteration is unique (the iteration
    * matrix has spectral radius ≤ 1−d < 1), so the warm start changes only
    * HOW MANY sweeps are needed, never what they converge to — for a small
    * edge delta the old ranks are already near the new fixed point and the
    * sweep count drops by the contraction-rate log of the initial error
    * (the fe_pr_incremental query gates it on the cyclic web link graph
    * with a 5% hash-planted edge delta: strictly fewer and ≥ 25% fewer warm
    * sweeps, same fixed point. A depth-bounded DAG like the TPC-H KG
    * converges exactly in depth+2 sweeps either way — warm starts pay on
    * graphs with cycles, i.e. the web).
    *
    * Stops when the L1 residual Σ|pr_{t+1} − pr_t| ≤ tol (residual, not
    * true-error — the standard practical criterion; tol/(d) bounds the
    * true L1 error by the same contraction argument) or after `maxSweeps`.
    *
    * Returns (ranks, sweeps run). `init` rows are (id, pr); nodes missing
    * from it start at 1.0 (so an empty init IS the cold start — new nodes
    * from the changeset need no special casing). */
  def computeFrom(kb: Kb, init: DataFrame, d: Double = 0.15,
                  tol: Double = 1e-9, maxSweeps: Int = 200): (DataFrame, Int) =
    sweepLoop(kb.nodes, unitWeights(kb), d, Nil, Some(init), maxSweeps, Some(tol))

  /** Personalized PageRank (Jeh & Widom, "Scaling personalized web
    * search", WWW'03 — the random surfer teleports to the SEED set, not
    * uniformly): pr(v) = d·s(v) + (1−d)·Σ_{u→v} pr(u)/outdeg(u) with
    * s(v) = 1/|seeds| on seeds, 0 elsewhere; init = s. Mass leaks through
    * dangling nodes exactly like [[compute]] (Σ pr ≤ 1), and nodes the
    * seeds cannot reach stay at 0 — the locality that makes PPR the
    * standard seed-biased sampling/expansion score over a KG. The
    * teleport vector is an IN-list (seed sets are user-scale, not
    * graph-scale). */
  def personalized(kb: Kb, seeds: Seq[String], d: Double = 0.15,
                   iterations: Int = 30): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    sweepLoop(kb.nodes, unitWeights(kb), d, seeds, None, iterations, None)._1
  }

  /** target rows per sweep-loop shuffle partition (~64 MB of (id, pr)
    * rows): the loop's shuffle width is DERIVED from |E| instead of
    * inheriting the session constant — at fixture scale that collapses
    * every sweep stage to a task or two (the 32-wide stages were pure
    * scheduling overhead over ~135 k rows), at 10¹²-edge scale it yields
    * the 100k-partition widths a real sweep needs. Scoped to the loop's
    * private cloned session, so the caller's conf is untouched. */
  val RowsPerSweepPartition: Long = 2L * 1024 * 1024

  /** sweeps between materializations under a fixed sweep count */
  private val MaterializeEvery = 10

  private def unitWeights(kb: Kb): DataFrame =
    kb.edges.select(col("src"), col("dst")).withColumn("w", lit(1.0))

  /** The sweep loop over `edges0`, a `(src, dst, w)` frame. `seeds` empty
    * is the uniform teleport d/n, else d·s(v); the start is `init` (1.0
    * where missing) when given, else 1.0 or s. It runs `sweeps` sweeps, or
    * fewer when the L1 residual reaches `tol`. Returns (ranks, sweeps run).
    *
    * The edges are pinned with their rows; while each pin fits the
    * envelope and holds no null, the node ids and then the init rows are
    * pinned the same way, and the sweeps run on the driver
    * ([[localLoop]]). Otherwise the Spark form ([[sparkLoop]]) runs over
    * the pins taken so far. The pins run in the Spark form's AQE-off
    * session clone: under AQE every exchange of an un-materialized input
    * derivation would run as a job of its own. */
  private def sweepLoop(nodes0: DataFrame, edges0: DataFrame, d: Double,
                        seeds: Seq[String], init: Option[DataFrame],
                        sweeps: Int, tol: Option[Double]): (DataFrame, Int) = {
    require(sweeps >= 0, s"sweeps=$sweeps")
    val caller = nodes0.sparkSession
    val scoped = GraftSessions.cloneWithConf(caller, "spark.sql.adaptive.enabled" -> "false")
    def bound(df: DataFrame) = GraftSessions.bind(df, scoped)
    val nodeIds = bound(nodes0.select("id"))
    val typed = Seq(edges0.schema("src"), edges0.schema("dst"), nodeIds.schema("id"))
        .forall(_.dataType == StringType) && edges0.schema("w").dataType == DoubleType &&
      init.forall(_.schema("id").dataType == StringType)
    val (edges, edgeRows) = if (typed) pinRows(bound(edges0)) else (Pin(bound(edges0)), None)
    val nodes = edgeRows.map(_ => pinRows(nodeIds))
    val starts = for (rows <- init; _ <- nodes.flatMap(_._2))
      yield pinRows(bound(rows.select(col("id"), coalesce(col("pr"), lit(1.0)).as("pr"))))
    val local = for {
      es <- edgeRows
      ns <- nodes.flatMap(_._2)
      // Some(None) without an init; None when its rows are not held
      is <- if (init.isEmpty) Some(None) else starts.flatMap(_._2).map(Some(_))
      out <- localLoop(caller, ns.map(_.getString(0)), es, is, d, seeds, sweeps, tol)
    } yield out
    local.getOrElse(sparkLoop(scoped, caller, nodes.fold(nodeIds)(_._1.df),
      nodes.map(_._1.rows), edges, d, seeds, starts.map(_._1.df).orElse(init.map(bound)),
      sweeps, tol))
  }

  /** [[Pin.withRows]], keeping the rows only when none holds a null: a null
    * id or weight has join semantics the Spark form owns. */
  private def pinRows(df: DataFrame): (Pinned, Option[Array[Row]]) = {
    val (p, rows) = Pin.withRows(df)
    (p, rows.filterNot(_.exists(_.anyNull)))
  }

  /** The sweeps on the driver over the collected rows: `nodeIds` one per
    * node row, `edges` as `(src, dst, w)`, `init` as `(id, pr)` with pr
    * already defaulted to 1.0. Every id is a dense int of
    * [[LocalGraph.dictionary]]; the edges form an in-link CSR sorted by
    * (dst, src, w), so each node's in-contributions, and each outdeg = Σw,
    * are summed in one order fixed by the edge multiset alone — the ranks
    * are bit-identical however the rows were partitioned.
    *
    * It mirrors the Spark form row for row: n is the node-row count;
    * duplicate edges and duplicate start rows contribute multiply;
    * dangling mass leaks; a source-only endpoint contributes its start
    * value at sweep 1 under a column start (1.0 or s, node row or not),
    * its start rows' sum under an init, and tele after; the residual
    * sweeps over the previous rows (the start rows at sweep 1, the dst rows
    * after); the output is every dst plus the node rows that are no dst,
    * those at tele — or the start rows when `sweeps` is 0. None, for the
    * Spark form, when a source's Σw is 0 (its w/outdeg divides by zero). */
  private def localLoop(spark: SparkSession, nodeIds: Array[String], edges: Array[Row],
                        init: Option[Array[Row]], d: Double, seeds: Seq[String],
                        sweeps: Int, tol: Option[Double]): Option[(DataFrame, Int)] = {
    val (ids, dense) = LocalGraph.dictionary(
      nodeIds ++ edges.map(_.getString(0)) ++ edges.map(_.getString(1)))
    val n = ids.length
    val (src, dst, w) = (edges.map(r => dense(r.getString(0))),
      edges.map(r => dense(r.getString(1))), edges.map(_.getDouble(2)))
    val order = Array.range(0, edges.length).sortWith { (a, b) =>
      if (dst(a) != dst(b)) dst(a) < dst(b)
      else if (src(a) != src(b)) src(a) < src(b)
      else java.lang.Double.compare(w(a), w(b)) < 0
    }
    val inOff = new Array[Int](n + 1)
    dst.foreach(v => inOff(v + 1) += 1)
    for (v <- 1 to n) inOff(v) += inOff(v - 1)
    val (inSrc, inW) = (order.map(src), order.map(w))
    val outdeg = new Array[Double](n)
    for (e <- inSrc.indices) outdeg(inSrc(e)) += inW(e)
    if (inSrc.exists(outdeg(_) == 0.0)) return None
    val dsts = (0 until n).filter(v => inOff(v + 1) > inOff(v)).toArray
    val isDst = new Array[Boolean](n)
    dsts.foreach(isDst(_) = true)

    val seedSet = seeds.toSet
    val s = ids.map(id => if (seedSet(id)) 1.0 / seeds.size else 0.0)
    val tele = if (seeds.isEmpty) Array.fill(n)(d / nodeIds.length.toDouble) else s.map(d * _)
    // the column start (1.0 or s) and the start rows, (dense id, pr): one
    // per node row, or one per node row and matching init row (1.0 when
    // none matches)
    val start = if (seeds.isEmpty) Array.fill(n)(1.0) else s
    val startRows: Array[(Int, Double)] = init match {
      case None => nodeIds.map(dense).map(i => (i, start(i)))
      case Some(rows) =>
        val byId = rows.groupMap(_.getString(0))(_.getDouble(1))
        nodeIds.flatMap(id => byId.getOrElse(id, Array(1.0)).map(dense(id) -> _))
    }
    // x(u): what source u spreads over its out-edges in the next sweep
    val x = new Array[Double](n)
    if (init.isEmpty) for (u <- 0 until n if !isDst(u)) x(u) = start(u)
    for ((u, pr) <- startRows if isDst(u) || init.isDefined) x(u) += pr

    val next = new Array[Double](n)
    var t = 0
    var resid = Double.MaxValue
    while (t < sweeps && tol.forall(resid > _)) {
      for (v <- dsts) {
        var mass = 0.0
        for (e <- inOff(v) until inOff(v + 1)) mass += x(inSrc(e)) * inW(e) / outdeg(inSrc(e))
        next(v) = tele(v) + (1 - d) * mass
      }
      if (tol.isDefined) resid =
        if (t == 0) startRows.map { case (u, pr) =>
          math.abs((if (isDst(u)) next(u) else tele(u)) - pr) }.sum
        else dsts.map(v => math.abs(next(v) - x(v))).sum
      for (u <- 0 until n) x(u) = if (isDst(u)) next(u) else tele(u)
      t += 1
    }

    val ranks =
      if (t == 0) startRows.map { case (u, pr) => Row(ids(u), pr) }
      else dsts.map(v => Row(ids(v), next(v)))
    val rows = if (sweeps == 0) ranks
      else ranks ++ nodeIds.map(dense).filterNot(isDst).map(u => Row(ids(u), tele(u)))
    Some((Pin.local(spark, rows, RankSchema), t))
  }

  private val RankSchema = StructType(Seq(StructField("id", StringType),
    StructField("pr", DoubleType, nullable = false)))

  /** The sweeps as Spark plans over the pinned edges in `scoped`, a
    * session clone with AQE off that every input is bound to; the ranks
    * come back in the `caller`'s session. `nodes` holds the node ids, `n`
    * their row count when already counted. */
  private def sparkLoop(scoped: SparkSession, caller: SparkSession, nodes: DataFrame,
                        n: Option[Long], edgesW: Pinned, d: Double,
                        seeds: Seq[String], init: Option[DataFrame],
                        sweeps: Int, tol: Option[Double]): (DataFrame, Int) = {
    val s: Column => Column = id =>
      when(id.isin(seeds: _*), lit(1.0 / seeds.size)).otherwise(lit(0.0))
    val tele: Column => Column =
      if (seeds.isEmpty) { val t = d / n.getOrElse(nodes.count()).toDouble; _ => lit(t) }
      else id => lit(d) * s(id)

    // the caller's edge derivation is materialized ONCE by the pin: it
    // feeds the outdeg aggregate, the adj join and the const/iter split —
    // un-materialized it was re-evaluated 2-3× (for the TPC-H KG: a 6-way
    // union with two lineitem-scale distincts per evaluation; r6 stage
    // evidence)
    scoped.conf.set("spark.sql.shuffle.partitions",
      math.max(1L, math.min(65536L, edgesW.rows / RowsPerSweepPartition)))

    // a per-node vector: a column over the node id, or (id, pr) rows
    val start: Either[Column => Column, DataFrame] = init match {
      case Some(rows) => Right(Pin(nodes
        .join(rows.select(col("id"), col("pr")), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("pr"), lit(1.0)).as("pr"))).df)
      case None => Left(if (seeds.isEmpty) _ => lit(1.0) else s)
    }
    val startRows = start.fold(f => nodes.select(col("id"), f(col("id")).as("pr")), identity)
    if (sweeps == 0) return (GraftSessions.bind(startRows, caller), 0)

    // setup joins: outdeg is an aggregate of the pinned edges, so it
    // broadcasts on its counted size; dstNodes comes out of the adj join
    // and is hinted while the edge table fits. Sweep-loop joins untouched
    // (their co-partitioning is the invariant).
    val outdeg = edgesW.df.groupBy("src").agg(sum(col("w")).as("outdeg"))
    val adj = edgesW.df.select("src", "dst", "w").join(outdeg, Seq("src")).cache()
    val dstNodes = adj.select(col("dst").as("id")).distinct().cache()

    // edges from source-only nodes (pr = tele from sweep 1 on) vs edges
    // from in-linked nodes (pr evolves). The iterating slice is cached
    // hash-partitioned on src so every sweep's rank join co-partitions.
    val adjIter = adj.join(edgesW.broadcastIfFits(dstNodes.withColumnRenamed("id", "src")),
        Seq("src"), "left_semi")
      .repartition(col("src")).cache()
    val adjConst = adj.join(edgesW.broadcastIfFits(dstNodes.withColumnRenamed("id", "src")),
      Seq("src"), "left_anti")

    // Σ_{u→v} pr(u)·w/outdeg(u) over the edges `a`; a column pr joins
    // nothing (a literal constant-folds into the per-row arithmetic)
    def massOf(a: DataFrame, pr: Either[Column => Column, DataFrame]): DataFrame = pr
      .fold(f => a.withColumn("pr", f(col("src"))),
        ranks => a.join(ranks.withColumnRenamed("id", "src"), Seq("src")))
      .select(col("dst"), (col("pr") * col("w") / col("outdeg")).as("c"))
      .groupBy("dst").agg(sum(col("c")).as("mass"))

    // the source-only contribution, folded into a per-node base vector so
    // a sweep stays at two shuffles (mass agg + join)
    def baseOf(pr: Either[Column => Column, DataFrame]): DataFrame = dstNodes
      .join(massOf(adjConst, pr).withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("mass"), lit(0.0)).as("cmass"))

    def sweep(ranks: DataFrame, base: DataFrame): DataFrame = base
      .join(massOf(adjIter, Right(ranks)).withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
      .select(col("id"), (tele(col("id")) + lit(1 - d) *
        (col("cmass") + coalesce(col("mass"), lit(0.0)))).as("pr"))

    // Σ|next − prev| over every node; a node missing from `next` is
    // source-only and holds tele
    def residual(prev: DataFrame, next: DataFrame): Double = prev
      .withColumnRenamed("pr", "pr0").join(next, Seq("id"), "left_outer")
      .agg(coalesce(sum(abs(coalesce(col("pr"), tele(col("id"))) - col("pr0"))), lit(0.0)))
      .first().getDouble(0)

    // sweep 1 reads the start vector through a base of its own, consumed
    // once, so it stays lazy and the sweep is materialized on its own; from
    // sweep 2 on the source-only nodes sit at tele, and that base is reused
    // every sweep → pinned once
    lazy val base = Pin(baseOf(Left(tele))).df
    var ranks = startRows
    var t = 0
    var resid = Double.MaxValue
    while (t < sweeps && tol.forall(resid > _)) {
      val next = sweep(ranks, if (t == 0) baseOf(start) else base)
      t += 1
      val pinned = if (tol.isDefined || t == 1 || t % MaterializeEvery == 0 || t == sweeps)
        Pin(next).df else next
      if (tol.isDefined) resid = residual(ranks, pinned)
      ranks = pinned
    }

    // final ranks: evolving dst-set ranks ∪ source-only nodes at tele
    val sourceOnly = nodes.join(dstNodes, Seq("id"), "left_anti")
      .select(col("id"), tele(col("id")).as("pr"))
    val out = Pin(ranks.unionAll(sourceOnly)).df
    adj.unpersist(); adjIter.unpersist(); dstNodes.unpersist()
    (GraftSessions.bind(out, caller), t)
  }
}
