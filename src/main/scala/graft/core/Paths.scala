package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SPARQL 1.1 property-path evaluation over the (src, pred, dst) edge
  * table — the navigational companion of [[Bgp]] (Pérez, Arenas &
  * Gutierrez, "nSPARQL: a navigational language for RDF", JWS 2010; the
  * W3C path algebra). Closure-free operators follow the spec's BAG
  * semantics (a path expression without `+`/`*` is equivalent to the BGP
  * with the intermediate variables projected out, duplicates retained);
  * the transitive closure is DISTINCT-pairs by spec and is offered in its
  * scale-sane bound-subject form: reachability FROM a seed set, not the
  * all-pairs closure (which is O(|V|^2) output and never what a 100-TB
  * query means).
  *
  * Plan shapes: `pairs` folds to scans-with-pushed-predicate-filters
  * joined on the chain variable — exactly the BGP shape, so AQE picks the
  * physical join per size. `closureFrom` is semi-naive BFS (the Datalog
  * evaluation strategy): the step relation is materialized ONCE
  * (`Pin`), each round is one keyed equi-join (frontier ⋈ step)
  * + one anti-join against the reach set, both map-side prunable; rounds
  * = graph eccentricity from the seeds, the same bound as the CC/k-core
  * loops. Lineage is truncated per round so paper-length closures keep a
  * flat plan.
  */
sealed trait PathExpr
object PathExpr {
  /** One predicate hop. */
  final case class Pred(p: String) extends PathExpr
  /** Inverse path (`^e`). */
  final case class Inv(e: PathExpr) extends PathExpr
  /** Sequence (`a/b`). */
  final case class PSeq(a: PathExpr, b: PathExpr) extends PathExpr
  /** Alternation (`a|b`). */
  final case class Alt(a: PathExpr, b: PathExpr) extends PathExpr
  /** Zero-or-one (`e?`): the zero-length path relates every term of the
    * graph's active domain to itself, so evaluation is DISTINCT by spec
    * (ZeroOrOnePath, SPARQL 1.1 §18.4) — unlike the bag-semantics
    * closure-free operators. */
  final case class ZeroOrOne(e: PathExpr) extends PathExpr
  /** Negated property set `!(p1|…|pn)` — one hop over any predicate NOT
    * in the set; `inv = true` is the inverse form `!(^p1|…|^pn)` (the
    * spec splits a mixed set into exactly this forward|inverse pair). */
  final case class NegSet(preds: Seq[String], inv: Boolean = false) extends PathExpr
}

object Paths {
  import PathExpr._

  /** (s, o) pairs of the closure-free path `e` — bag semantics. Inverse
    * is pushed down to the leaves (^(a/b) = ^b/^a, ^(a|b) = ^a|^b) so an
    * inverted sequence still plans as forward equi-joins over
    * predicate-filtered scans. */
  def pairs(edges: DataFrame, e: PathExpr): DataFrame = e match {
    case Pred(p) =>
      edges.filter(col("pred") === p).select(col("src").as("s"), col("dst").as("o"))
    case Inv(Pred(p)) =>
      edges.filter(col("pred") === p).select(col("dst").as("s"), col("src").as("o"))
    case Inv(Inv(x))    => pairs(edges, x)
    case Inv(PSeq(a, b)) => pairs(edges, PSeq(Inv(b), Inv(a)))
    case Inv(Alt(a, b))  => pairs(edges, Alt(Inv(a), Inv(b)))
    case Inv(ZeroOrOne(x)) => pairs(edges, ZeroOrOne(Inv(x))) // identity is symmetric
    case Inv(NegSet(ps, i)) => pairs(edges, NegSet(ps, !i))
    case PSeq(a, b) =>
      val pa = pairs(edges, a).withColumnRenamed("o", "m")
      val pb = pairs(edges, b).withColumnRenamed("s", "m")
      pa.join(pb, "m").select(col("s"), col("o"))
    case Alt(a, b) =>
      pairs(edges, a).unionAll(pairs(edges, b))
    case ZeroOrOne(x) =>
      // identity over the active domain (every term in the edge table) ∪
      // pairs(x), DISTINCT per spec. One extra scan for the term set —
      // both branches prune to (src, dst) / the x-relevant predicates.
      terms(edges).select(col("t").as("s"), col("t").as("o"))
        .unionAll(pairs(edges, x)).distinct()
    case NegSet(ps, false) =>
      edges.filter(!col("pred").isin(ps: _*))
        .select(col("src").as("s"), col("dst").as("o"))
    case NegSet(ps, true) =>
      edges.filter(!col("pred").isin(ps: _*))
        .select(col("dst").as("s"), col("src").as("o"))
  }

  /** The graph's active domain: every term appearing as subject or object. */
  private def terms(edges: DataFrame): DataFrame =
    edges.select(col("src").as("t")).unionAll(edges.select(col("dst").as("t"))).distinct()

  /** Nodes reachable from `sources` via 1..n applications of `e` (SPARQL
    * `e+` with the subject side bound to a seed set), with the BFS level
    * of FIRST reach as `dist` — distinct semantics per spec. The step
    * relation is deduplicated before the loop (closure output is a set,
    * and the dedup bounds every round's join fan-out by |step|, not the
    * bag multiplicity). Raises if the frontier has not emptied after
    * `maxRounds` — a closure that has not converged is a wrong answer,
    * not a slow one. */
  def closureFrom(
      edges: DataFrame,
      e: PathExpr,
      sources: Seq[String],
      maxRounds: Int = 64,
      depthLimit: Option[Int] = None,
      includeZero: Boolean = false): DataFrame = {
    require(sources.nonEmpty, "closureFrom needs at least one seed")
    require(depthLimit.forall(_ >= 1), "depthLimit must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val step = Pin(pairs(edges, e).distinct()).df
    try {
      val seed = sources.toDF("node")
      // includeZero = SPARQL `e*`: the seeds themselves are reachable by
      // the zero-length path at dist 0 — a seed re-reached through a cycle
      // keeps MIN dist 0 because the anti-join below already knows it
      val zero = seed.withColumn("dist", lit(0))
      val hop1 = step.join(broadcast(seed), step("s") === seed("node"))
        .select(step("o").as("node")).distinct()
        .withColumn("dist", lit(1))
      var frontier = Pin(
        if (includeZero) hop1.join(zero.select("node"), Seq("node"), "left_anti") else hop1)
      var reach = if (includeZero) zero.unionAll(frontier.df) else frontier.df
      var round = 1
      var done = frontier.rows == 0
      // depthLimit = bounded BFS (crawl-to-depth-D semantics): stop
      // expanding once dist == D instead of raising on non-convergence —
      // an unconverged CRAWL is the normal case, unlike a closure
      while (!done && depthLimit.forall(round < _)) {
        round += 1
        require(round <= maxRounds, s"closure did not converge in $maxRounds rounds")
        val next = step.join(frontier.df, step("s") === frontier.df("node"))
          .select(step("o").as("node")).distinct()
        val fresh = Pin(next.join(reach, Seq("node"), "left_anti")
          .withColumn("dist", lit(round)))
        if (fresh.rows == 0) done = true
        else {
          reach = Pin(reach.unionAll(fresh.df)).df
          frontier = fresh
        }
      }
      reach
    } finally step.unpersist()
  }

  /** Weighted multi-source shortest paths — Bellman-Ford as iterative
    * frontier relaxation, the cost-aware sibling of [[closureFrom]]'s BFS
    * (Malewicz et al., "Pregel", SIGMOD 2010 §5.2 — SSSP is the canonical
    * vertex-program, re-expressed here as keyed joins). Input edges carry a
    * NON-NEGATIVE integer `weight` (exact-integer costs keep the gate
    * surface off float summation order); output is (node, dist) for every
    * node reachable from the seed set, dist = min total weight, seeds at 0.
    *
    * Plan per round: frontier ⋈ edges on src (the only exchange touching
    * the edge table — the edge side is materialized once and re-read), a
    * min aggregate over the relaxed candidates, then a join against the
    * current dist table keeping STRICT improvements only — the semi-naive
    * delta, so a converged region stops generating work even while a far
    * region still relaxes. Rounds ≤ longest shortest path in HOPS (not
    * weight), the same eccentricity bound as BFS; each round is pinned
    * so lineage stays flat and the loop reads the pin's counted rows.
    * Non-convergence inside `maxRounds` raises rather than returning
    * partial distances (with non-negative weights a round count above |V|
    * means the input violated the contract). */
  def weightedSssp(
      edges: DataFrame,
      sources: Seq[String],
      maxRounds: Int = 64): DataFrame = {
    require(sources.nonEmpty, "weightedSssp needs at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val step = Pin(edges.select(col("src"), col("dst"),
        col("weight").cast("long").as("weight"))).df
    try {
      val seeded = Pin(sources.distinct.toDF("node").withColumn("dist", lit(0L)))
      var dist = seeded.df
      var frontier = seeded
      var round = 0
      while (frontier.rows > 0) {
        round += 1
        require(round <= maxRounds,
          s"SSSP did not converge in $maxRounds rounds — negative weights " +
            "or a hop-diameter above the bound")
        val relaxed = step.join(frontier.df, step("src") === frontier.df("node"))
          .select(col("dst").as("node"),
            (col("dist") + col("weight")).as("cand"))
          .groupBy(col("node")).agg(min(col("cand")).as("cand"))
        // strict improvements only: the semi-naive frontier
        val improved = Pin(relaxed.join(dist, Seq("node"), "left")
          .filter(col("dist").isNull || col("cand") < col("dist"))
          .select(col("node"), col("cand").as("dist")))
        if (improved.rows > 0) {
          dist = Pin(dist.join(improved.df.select(col("node")), Seq("node"), "left_anti")
            .unionAll(improved.df)).df
        }
        frontier = improved
      }
      dist
    } finally step.unpersist()
  }
}
