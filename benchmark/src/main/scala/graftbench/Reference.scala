package graftbench

import graft.expr.{ClassExpr, Exists, HasValue, Named}
import scala.collection.mutable

/** Driver-side reference results over a collected KB, computed by plain
  * loops and independent of the engine's operators. The checks compare
  * the engine's outputs with these, so every run of every seed is checked,
  * the first one included. Inputs are the benchmark's small KBs (a few
  * thousand nodes); nothing here runs on Spark. */
object Reference {

  /** Undirected simple edge set of one predicate: (u, v) with u < v. */
  def undirected(edges: Seq[(String, String, String)], pred: String): Set[(String, String)] =
    edges.collect { case (s, p, d) if p == pred && s != d => if (s < d) (s, d) else (d, s) }.toSet

  def adjacency(und: Set[(String, String)]): Map[String, Seq[String]] =
    und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sorted }

  /** Jacobi PageRank from pr = 1 for every node: pr'(v) = d/n + (1 − d) ·
    * Σ over edges u→v of pr(u) / outdeg(u), `iterations` sweeps; each edge
    * row counts once (parallel edges add up); rank flowing out of nodes
    * without out-edges is dropped. */
  def pageRank(nodes: Seq[String], edges: Seq[(String, String)], d: Double,
               iterations: Int): Map[String, Double] = {
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val src = edges.map(e => idx(e._1)).toArray
    val dst = edges.map(e => idx(e._2)).toArray
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)
    var pr = Array.fill(n)(1.0)
    (1 to iterations).foreach { _ =>
      val mass = new Array[Double](n)
      src.indices.foreach(i => mass(dst(i)) += pr(src(i)) / outdeg(src(i)))
      pr = mass.map(m => d / n + (1 - d) * m)
    }
    nodes.zip(pr).toMap
  }

  /** Truncated BFS with shortest-path counts from every source:
    * (src, node, dist, sigma) for each node within `maxR` hops. */
  def spCounts(adj: Map[String, Seq[String]], sources: Seq[String],
               maxR: Int): Seq[(String, String, Int, Long)] =
    sources.flatMap { s =>
      val settled = mutable.LinkedHashMap(s -> (0, 1L))
      var frontier = Map(s -> 1L)
      (1 to maxR).foreach { r =>
        val next = mutable.Map.empty[String, Long]
        for ((u, sigma) <- frontier; v <- adj.getOrElse(u, Nil) if !settled.contains(v))
          next(v) = next.getOrElse(v, 0L) + sigma
        next.foreach { case (v, sigma) => settled(v) = (r, sigma) }
        frontier = next.toMap
      }
      settled.map { case (v, (dist, sigma)) => (s, v, dist, sigma) }
    }

  /** Link-prediction candidates: non-adjacent pairs (u < w) with at least
    * `minSupport` common neighbours z of degree ≤ `maxZDeg`; cn is the count
    * of such z, ra_micros the sum of 1,000,000 div deg(z). */
  def linkPred(und: Set[(String, String)], maxZDeg: Int,
               minSupport: Int): Seq[(String, String, Long, Long)] = {
    val adj = adjacency(und)
    val acc = mutable.Map.empty[(String, String), (Long, Long)]
    adj.foreach { case (_, nbrs) =>
      if (nbrs.size <= maxZDeg) {
        val ra = 1000000L / nbrs.size
        for (i <- nbrs.indices; j <- i + 1 until nbrs.size) {
          val key = (nbrs(i), nbrs(j))
          val (cn, r) = acc.getOrElse(key, (0L, 0L))
          acc(key) = (cn + 1, r + ra)
        }
      }
    }
    acc.toSeq.collect { case ((u, w), (cn, ra)) if cn >= minSupport && !und((u, w)) => (u, w, cn, ra) }
  }

  /** Item pairs (u < v) that share a basket: the one-mode projection of
    * the `pred` edges onto their targets. */
  def cooccurrence(edges: Seq[(String, String, String)], pred: String): Set[(String, String)] =
    edges.collect { case (s, p, d) if p == pred => (s, d) }.distinct.groupBy(_._1).values
      .flatMap { items =>
        val xs = items.map(_._2).sorted
        for (i <- xs.indices; j <- i + 1 until xs.size) yield (xs(i), xs(j))
      }.toSet

  /** Newman modularity of a node → community assignment. */
  def modularity(und: Set[(String, String)], comm: Map[String, String]): Double = {
    val m = und.size.toDouble
    val deg = mutable.Map.empty[String, Long].withDefaultValue(0L)
    und.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
    val inside = und.count { case (u, v) => comm(u) == comm(v) }
    val tot = deg.toSeq.groupBy { case (id, _) => comm(id) }.values.map(_.map(_._2).sum.toDouble)
    inside / m - tot.map(t => (t / (2 * m)) * (t / (2 * m))).sum
  }

  /** Instances of the class-expression forms the LP pool uses. */
  def instances(ce: ClassExpr, edges: Seq[(String, String, String)],
                types: Seq[(String, String)], subClassesOf: String => Set[String]): Set[String] =
    ce match {
      case HasValue(r, x) => edges.collect { case (s, p, d) if p == r && d == x => s }.toSet
      case Named(c) =>
        val cs = subClassesOf(c)
        types.collect { case (node, cls) if cs(cls) => node }.toSet
      case Exists(r, f) =>
        val filler = instances(f, edges, types, subClassesOf)
        edges.collect { case (s, p, d) if p == r && filler(d) => s }.toSet
      case other => throw new IllegalArgumentException(s"no reference for $other")
    }

  /** (tp, fn, fp, tn) of a retrieval against explicit positives and negatives */
  def confusion(retrieved: Set[String], pos: Seq[String], neg: Seq[String]): (Long, Long, Long, Long) = {
    val tp = pos.count(retrieved).toLong
    val fp = neg.count(retrieved).toLong
    (tp, pos.size - tp, fp, neg.size - fp)
  }
}
