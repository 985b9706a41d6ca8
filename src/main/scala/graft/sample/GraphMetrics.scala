package graft.sample

import graft.core.{LocalGraph, Pin}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Exact distributed triangle counting + clustering metrics — the standard
  * structure-preservation measures of the sampling literature (Leskovec &
  * Faloutsos KDD'06 grade samplers on clustering-coefficient agreement, the
  * property `smp_rn_degdist` covers for degrees).
  *
  * Algorithm: degree-ordered edge orientation, then wedge join + closing-edge
  * join (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11). Orienting every edge from its lower (degree, id) endpoint
  * to its higher one bounds any node's out-degree by O(√m), so the wedge
  * fan-out — the quadratic hazard a naive neighbor self-join has on hub
  * nodes — is O(m^1.5) TOTAL regardless of skew: the web-scale shape. All
  * joins are key-equi (Catalyst shuffle-hash/SMJ with AQE skew handling);
  * nothing is windowed, nothing collects.
  *
  * Everything is exact integer arithmetic (counts, not coefficients), so the
  * DuckDB oracle can replay it hash-identically; callers derive the float
  * clustering coefficient `2·tri/(deg·(deg−1))` / transitivity `3·T/W`
  * downstream where cross-engine libm rounding can't bite the gate.
  */
object GraphMetrics {

  /** Shared-source co-occurrence projection: an undirected `(u, v)` edge
    * (u < v, distinct) between every pair of `dst` values sharing a `src`
    * in the given predicate's edge set — e.g. parts co-contained in an
    * order. Per-src cost is C(k,2); web-scale callers cap or sample
    * pathological baskets upstream (TPC-H orders hold ≤ 7 parts, so the
    * projection here is linear-ish in lineitem).
    */
  def cooccurrence(edges: DataFrame, pred: String): DataFrame = {
    // one materialization for the two wedge-join sides (the projection
    // carries a distinct — an un-materialized e runs it twice); pinned, so
    // one side broadcasts while e fits the threshold
    val e = Pin(edges.filter(col("pred") === pred)
      .select(col("src"), col("dst")).distinct()).df
    val pairs = e.as("a").join(e.as("b"),
      col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"))
    pairs.distinct()
  }

  /** Frequent co-occurring pairs with minimum support — the market-basket
    * pair miner (the length-2 case of Apriori/FP-growth, which covers
    * most production "frequently bought/linked together" features). Same
    * wedge join as [[cooccurrence]] but COUNTING baskets per pair instead
    * of collapsing them, with the support threshold pruning the long tail
    * at the aggregate. `maxBasketSize` drops baskets above the cap BEFORE
    * the quadratic fan-out (a 10⁶-item basket contributes 5·10¹¹ pairs
    * and zero signal — the standard hub mitigation, same story as
    * linkPredFeatures' maxZDeg). */
  def frequentPairs(
      edges: DataFrame,
      pred: String,
      minSupport: Long,
      maxBasketSize: Int = 1024): DataFrame = {
    // materialized once: consumed by the size filter and both join sides
    val e = Pin(edges.filter(col("pred") === pred)
      .select(col("src"), col("dst")).distinct()).df
    val ok = e.groupBy("src").agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBasketSize).select(col("src"))
    val bounded = e.join(ok, Seq("src"), "left_semi")
    bounded.as("a").join(bounded.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("u"), col("b.dst").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Canonical undirected `(u, v)` u<v edge set of one predicate's
    * directed edge list — self-loops dropped, duplicates collapsed. The
    * bipartite `contains` graph itself (orders ↔ parts), as opposed to
    * [[cooccurrence]]'s one-sided projection of it. */
  def undirected(edges: DataFrame, pred: String): DataFrame =
    edges.filter(col("pred") === pred && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()

  /** Undirected degree per node of a `(u, v)` u<v edge set. */
  def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Orient `(u, v)` from the lower (deg, id) endpoint to the higher; the
    * output carries the head's degree so the wedge join can order heads
    * without a third degree join. The (deg, id) order is total (id breaks
    * ties), so each undirected edge appears exactly once.
    */
  private def orient(und: DataFrame, deg: DataFrame): DataFrame = {
    val e = und
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), Seq("u"))
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), Seq("v"))
    val uLower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    e.select(
      when(uLower, col("u")).otherwise(col("v")).as("a"),
      when(uLower, col("v")).otherwise(col("u")).as("b"),
      when(uLower, col("dv")).otherwise(col("du")).as("bd"))
  }

  /** One row `(x, y, z)` per triangle, each counted exactly once
    * (x = the (deg,id)-lowest corner; y, z its ordered partners).
    *
    * The edge list is consumed three times (degrees, orientation, wedge
    * close) and the oriented list three more (both wedge sides + the
    * closing probe), so both are pinned once (the same bounded-lineage
    * trade as the CC rounds) instead of re-deriving a possibly-expensive
    * upstream projection per consumer. */
  def triangleRows(und0: DataFrame): DataFrame = {
    val und = Pin(und0).df
    val o = Pin(orient(und, degrees(und))).df
    // wedge at a: ordered out-neighbor pairs (b1 < b2 by (deg, id)); the
    // closing undirected edge {b1, b2} — if present — is oriented b1→b2 by
    // the same total order, so ONE equi-join against o closes the wedge
    val wedges = o.as("e1").join(o.as("e2"),
      col("e1.a") === col("e2.a") &&
        (col("e1.bd") < col("e2.bd") ||
          (col("e1.bd") === col("e2.bd") && col("e1.b") < col("e2.b"))))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    wedges.join(o.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
      .select(col("x"), col("y"), col("z"))
  }

  /** Per-node triangle participation: `(id, tri_cnt)` for every node in at
    * least one triangle. */
  def triangleCounts(und: DataFrame): DataFrame =
    triangleRows(und)
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_cnt"))

  /** Per-node local clustering coefficient (Watts–Strogatz): for every node
    * with deg ≥ 2, cc = 2·tri / (deg·(deg−1)). Integer deg/tri are carried
    * alongside the one IEEE double division so the oracle compares
    * bit-equal. Same two-shuffle budget as [[triangleCounts]] plus one
    * co-keyed left join on `id` — no new scan of the edge table. */
  def localClustering(und0: DataFrame): DataFrame = {
    val und = Pin(und0).df
    degrees(und).filter(col("deg") >= 2)
      .join(triangleCounts(und), Seq("id"), "left")
      .na.fill(0L, Seq("tri_cnt"))
      .select(col("id"), col("deg"), col("tri_cnt"),
        (col("tri_cnt") * lit(2.0) / (col("deg") * (col("deg") - 1))).as("cc"))
  }

  /** DOULION sampled triangle moments (Tsourakakis et al., KDD 2009) — the
    * 100-TB approximate path next to the exact [[globalMetrics]]: keep an
    * edge iff the first 12 md5 hex chars of (seed|u|v) compare below
    * `keepBelowHex` (lexicographic on hex = numeric on the 48-bit draw, so
    * keep probability p = keepBelowHex/16^12 — portable to the oracle
    * verbatim, no libm), then count triangles of the sparsified graph.
    * Returns ONE row of exact integers `(kept_edges, tri_sampled)`; the
    * estimator T̂ = tri_sampled/p³ (unbiased, loc. cit. §3) is the
    * caller's one float, strictly downstream. The sample never
    * materializes off-plan: the filter is codegen on the scan feeding the
    * same degree-oriented wedge-close join as the exact count, so cost
    * scales with p²·|E| wedges instead of |E| — at web scale run p ≈ 0.1
    * for a ~100× wedge-work cut at ~1% relative error on 10⁹+ triangles. */
  def sampledTriangleMoments(und0: DataFrame, keepBelowHex: String,
                             seed: Long = 23L): DataFrame = {
    require(keepBelowHex.length == 12, s"need 12 hex chars, got '$keepBelowHex'")
    val kept = Pin(und0.filter(
      substring(md5(concat_ws("|", lit(seed.toString), col("u"), col("v"))), 1, 12)
        < lit(keepBelowHex))).df
    triangleRows(kept).agg(count(lit(1)).as("tri_sampled"))
      .crossJoin(kept.agg(count(lit(1)).as("kept_edges")))
      .select(col("kept_edges"), col("tri_sampled"))
  }

  /** Maximal independent set via Luby-style deterministic-priority rounds
    * (Luby, SIAM J. Comput. 1986, the priority variant): each node's
    * priority is the md5 of (seed|id) with the id appended — a total
    * order even under digest collision — and a round admits every still-
    * active node whose priority is a strict local minimum among its
    * ACTIVE neighbors, then retires winners and their neighbors. O(log n)
    * rounds w.h.p.; each round is one neighbor-min aggregate plus
    * semi/anti prunes of the (pinned) active tables — no global
    * sort, no driver data. Returns `(id, mis_round)` for the members;
    * independence and maximality are structural (every admitted node
    * beat all active neighbors; every retired non-member lost to an
    * admitted neighbor). Nodes = edge endpoints (isolated nodes are
    * trivially in any MIS — add them downstream if the caller tracks
    * them). Raises past maxRounds instead of truncating. */
  def maximalIndependentSet(und0: DataFrame, seed: Long = 11L,
                            maxRounds: Int = 40): DataFrame =
    priorityRounds(und0, seed, maxRounds, "mis_round", retireCovered = true)

  /** The priority-round loop of [[maximalIndependentSet]] and
    * [[greedyColoring]]: per round every active node whose md5(seed|id)+id
    * priority is below all its active neighbors' wins and is emitted with
    * the round in `roundCol`; winners retire (with `retireCovered`, their
    * neighbors too) and the edge set is pruned to the active nodes. The
    * loop stops on the active pin's counted rows. An empty input yields
    * `(id typed as und0's u, roundCol int)` with no rows. */
  private def priorityRounds(und0: DataFrame, seed: Long, maxRounds: Int,
                             roundCol: String, retireCovered: Boolean): DataFrame = {
    val spark = und0.sparkSession
    var edges = Pin(und0.select(col("u"), col("v"))).df
    var active = Pin(edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id"))).distinct()
      .withColumn("prio",
        concat(md5(concat_ws("|", lit(seed.toString), col("id"))), col("id"))))
    var out = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("id", und0.schema("u").dataType),
      StructField(roundCol, IntegerType, nullable = false))))
    var round = 0
    while (active.rows > 0) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"priority rounds ($roundCol) not converged after $maxRounds rounds")
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .unionAll(edges.select(col("v").as("a"), col("u").as("b")))
      val nbrMin = sym
        .join(active.df.select(col("id").as("b"), col("prio").as("bp")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("bp")).as("nmin"))
      val winners = Pin(active.df.join(nbrMin, Seq("id"), "left_outer")
        .filter(col("nmin").isNull || col("prio") < col("nmin"))
        .select(col("id"), lit(round).as(roundCol))).df
      val retired =
        if (!retireCovered) winners.select(col("id"))
        else winners.select(col("id")).unionAll(
          sym.join(winners.select(col("id").as("a")), Seq("a"), "left_semi")
            .select(col("b").as("id"))).distinct()
      active = Pin(active.df.join(retired, Seq("id"), "left_anti"))
      edges = Pin(edges
        .join(active.df.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(active.df.select(col("id").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))).df
      out = if (round == 1) winners else out.unionAll(winners)
    }
    out
  }

  /** Greedy distance-1 graph coloring by iterated priority minima — the
    * Jones–Plassmann schedule (Jones & Plassmann, "A parallel graph
    * coloring heuristic", SIAM JSC 1993) with color = the round a vertex
    * wins: per round every UNCOLORED vertex whose md5(seed|id)+id
    * priority is the strict minimum among its uncolored neighbors takes
    * color r; ONLY winners retire (unlike [[maximalIndependentSet]],
    * which also retires the covered neighborhood — same machinery, one
    * fewer prune). Proper by construction: adjacent vertices can never
    * win the same round (one of them is not the local minimum), and
    * every round colors at least the global minimum, so colors are the
    * contiguous 1..R. The color classes ARE a conflict-free parallel
    * schedule — the standard way to serialize conflicting updates
    * (canonical-map writes to shared entities, Gauss-Seidel-style
    * sweeps) into independent waves. Per round: one neighbor-min
    * aggregate + one anti-join, O(longest decreasing-priority path)
    * rounds — expected O(log n) for hash priorities (the JP analysis);
    * raises past `maxRounds`. */
  def greedyColoring(und0: DataFrame, seed: Long = 11L,
                     maxRounds: Int = 96): DataFrame =
    priorityRounds(und0, seed, maxRounds, "color", retireCovered = false)

  /** Global structure metrics as exact integers: total triangles T and
    * wedges W = Σ deg·(deg−1)/2. Transitivity = 3T/W, derived by callers. */
  def globalMetrics(und0: DataFrame): DataFrame = {
    val und = Pin(und0).df
    val t = triangleRows(und).agg(count(lit(1)).as("triangles"))
    val w = degrees(und)
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("wedges"))
    t.crossJoin(w)
  }

  /** Transitivity (global clustering coefficient) 3T/W as a Double — the
    * sampler-quality scalar compared original-vs-sample in specs. */
  def transitivity(und: DataFrame): Double = {
    val r = globalMetrics(und).collect()(0)
    val w = r.getLong(1)
    if (w == 0L) 0.0 else 3.0 * r.getLong(0) / w
  }

  /** Exact integer moments for degree assortativity (Newman, "Assortative
    * Mixing in Networks", PRL 89, 2002): over the 2m ORDERED endpoint
    * pairs of the undirected edge set, with j = deg(src), k = deg(dst),
    * emits (pairs, Σj, Σk, Σjk, Σjj, Σkk) — everything the Pearson
    * coefficient r = (mΣjk − ΣjΣk) / √((mΣjj − Σj²)(mΣkk − Σk²)) needs,
    * with the float division/sqrt strictly downstream of the gate. Σj = Σk
    * by symmetry; both are emitted so the oracle equality checks the
    * symmetry too. One degree join per endpoint + a single aggregate. */
  def degreeMomentRow(und0: DataFrame): DataFrame = {
    val und = Pin(und0).df
    val deg = degrees(und)
    val sym = und.select(col("u"), col("v"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))
    sym
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "j"), Seq("u"))
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "k"), Seq("v"))
      .agg(count(lit(1)).as("pairs"),
        sum(col("j")).as("sum_j"), sum(col("k")).as("sum_k"),
        sum(col("j") * col("k")).as("sum_jk"),
        sum(col("j") * col("j")).as("sum_jj"),
        sum(col("k") * col("k")).as("sum_kk"))
  }

  /** Exact integer moments for the Newman modularity of a node partition
    * (Newman & Girvan, "Finding and evaluating community structure in
    * networks", PRE 69, 2004): over the undirected edge set and a
    * `labels(id, lbl)` assignment (e.g. [[LabelProp.run]]'s output), emits
    * one row (m, intra, sum_comm_deg_sq) where m = |E|, intra = edges with
    * both endpoints in the same community, and sum_comm_deg_sq =
    * Σ_c (Σ_{i∈c} deg i)². Q = intra/m − sum_comm_deg_sq/(4m²) is strictly
    * downstream float arithmetic (same exact-integer gate philosophy as
    * [[degreeMomentRow]]). Plan: two label joins on the edge endpoints +
    * one degree-label join and two aggregates — every join keys on a node
    * id, so at 100 TB they are plain shuffle-hash joins AQE sizes; no
    * iteration, no window. */
  def modularityMoments(und0: DataFrame, labels: DataFrame): DataFrame = {
    val und = Pin(und0).df
    val lu = labels.select(col("id").as("u"), col("lbl").as("lu"))
    val lv = labels.select(col("id").as("v"), col("lbl").as("lv"))
    val intra = und.join(lu, Seq("u")).join(lv, Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("lu") === col("lv"), 1L).otherwise(0L)).as("intra"))
    val commDegSq = degrees(und).join(labels, Seq("id"))
      .groupBy("lbl").agg(sum(col("deg")).as("cd"))
      .agg(sum(col("cd") * col("cd")).as("sum_comm_deg_sq"))
    intra.crossJoin(commDegSq)
  }

  /** k-truss: the maximal subgraph in which every edge closes at least
    * k−2 triangles (Cohen, "Trusses: cohesive subgraphs for social
    * network analysis", 2008) — the edge-strength analogue of [[kCore]]
    * (every k-truss is inside the (k−1)-core, but survives hub-chained
    * noise the core keeps). Iterative peel: each round is ONE triangle
    * enumeration ([[triangleRows]]'s orientation + wedge-close joins), a
    * support aggregate keyed on the canonical (u, v) edge, and the
    * threshold filter; an edge in no triangle has no support row and
    * drops implicitly. Converged when no edge dropped — the round op is
    * idempotent at the fixpoint, so the oracle replays it as a fixed
    * unroll. Rounds are O(peel depth); each is the triangle-count plan
    * (the 100-TB refinement — recount only edges whose triangles were
    * touched — changes the constant, not the shape). Returns the
    * surviving edges with their in-truss support `(u, v, sup)`. */
  def kTruss(und0: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 3, s"k=$k")
    val in = Pin(und0.select(col("u"), col("v")))
    var und = in.df
    var n = in.rows
    var rounds = 0
    var sup = und.withColumn("sup", lit(0L)).limit(0)
    var done = n == 0L
    while (!done) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(s"k-truss peel not converged after $maxRounds rounds")
      val tri = triangleRows(und)
      val triEdges = tri
        .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
        .unionAll(tri.select(least(col("x"), col("z")).as("u"), greatest(col("x"), col("z")).as("v")))
        .unionAll(tri.select(least(col("y"), col("z")).as("u"), greatest(col("y"), col("z")).as("v")))
      val kept = Pin(triEdges.groupBy("u", "v").agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= k - 2))
      done = kept.rows == n
      n = kept.rows
      sup = kept.df
      und = sup.select(col("u"), col("v"))
    }
    sup
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (iterative peel — the distributed-round form of Batagelj & Zaveršnik's
    * algorithm; Seidman, "Network structure and minimum degree", Social
    * Networks 1983). Per round: one degree aggregate + two semi-join prunes
    * of the edge set; converged when no edge is removed (⟺ every incident
    * node already has deg ≥ k — peeling is idempotent at the fixpoint,
    * which is what lets the oracle replay it as a fixed unroll). Rounds are
    * O(peel depth); each is shuffle-linear in the surviving edges. Returns
    * `(id, deg)` — core members with their in-core degree. */
  def kCore(und0: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k=$k")
    var und = Pin(und0)
    var rounds = 0
    var done = und.rows == 0L
    while (!done) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(s"k-core peel not converged after $maxRounds rounds")
      val keep = degrees(und.df).filter(col("deg") >= k).select("id")
      val pruned = Pin(und.df
        .join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      done = pruned.rows == und.rows
      und = pruned
    }
    degrees(und.df).filter(col("deg") >= k)
  }

  /** Exact neighborhood function (Palmer, Gibbons & Faloutsos, "ANF: a
    * fast and scalable tool for data mining in massive graphs", KDD'02 —
    * the exact quantity their sketch approximates): for every node v and
    * radius r = 1..R, `reach_cnt` = |{w ≠ v : dist(v, w) ≤ r}| over the
    * undirected `(u, v)` u<v edge set. Per round one equi-join of the
    * current reach set against the symmetrized edges + a distinct — the
    * reach set is pinned once per round (the CC rounds' bounded-lineage
    * trade). Exact distinct state is O(Σ|B(v,r)|)
    * rows — the gate-scale, oracle-replayable form (a fixed unroll of the
    * same recurrence); at 100 TB the state itself is the bottleneck, which
    * is what [[hyperBall]] solves with O(|V|·2^logm) mergeable registers. */
  def neighborhoodExact(und0: DataFrame, maxR: Int): DataFrame = {
    require(maxR >= 1, s"maxR=$maxR")
    val und = Pin(und0).df
    val sym = Pin(und.select(col("u"), col("v"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))).df
    var reach = Pin(sym.select(col("u").as("id"), col("v").as("w"))).df
    var out = reach.groupBy("id")
      .agg(count(lit(1)).as("reach_cnt")).withColumn("r", lit(1))
    for (r <- 2 to maxR) {
      reach = Pin(reach.unionAll(
          reach.join(sym.withColumnRenamed("u", "w"), Seq("w"))
            .filter(col("v") =!= col("id"))
            .select(col("id"), col("v").as("w")))
        .distinct()).df
      out = out.unionAll(reach.groupBy("id")
        .agg(count(lit(1)).as("reach_cnt")).withColumn("r", lit(r)))
    }
    out.select(col("id"), col("r"), col("reach_cnt"))
  }

  /** Bounded-radius harmonic centrality (Boldi & Vigna, "Axioms for
    * centrality", Internet Mathematics 2014 — the centrality that is
    * well-defined on disconnected graphs, where closeness is not):
    * H_R(v) = Σ_{0<d(v,u)≤R} 1/d(v,u), emitted as EXACT integer
    * micro-units ×lcm(1..maxR) so the gate compares integers and the
    * one float division stays with the caller. Derived from
    * [[neighborhoodExact]]'s cumulative rings by a single weighted
    * aggregate — ring r carries weight L/r − L/(r+1) (closing at L/R),
    * which telescopes to (n_r − n_{r−1})·L/r without ever materializing
    * the ring differences. Shares the BFS distinct-reach plan and its
    * scale ceiling; at 100 TB feed [[hyperBall]] estimates through the
    * same weights instead. */
  def harmonicCentrality(und0: DataFrame, maxR: Int): DataFrame = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (1 to maxR).foldLeft(1L)((a, r) => a / gcd(a, r) * r)
    val wcol = (1 to maxR).foldLeft(lit(0L)) { case (acc, r) =>
      val wt = if (r < maxR) L / r - L / (r + 1) else L / maxR
      when(col("r") === r, lit(wt)).otherwise(acc)
    }
    neighborhoodExact(und0, maxR)
      .select(col("id"), (col("reach_cnt") * wcol).as("c"))
      .groupBy("id").agg(sum(col("c")).as("harmonic_micro"))
  }

  /** HyperBall (Boldi & Vigna, "In-core computation of geometric
    * centralities with HyperBall", ICDM'13 workshops): the neighborhood
    * function via HyperLogLog registers instead of exact reach sets — the
    * 100-TB path. State is O(|V|) rows of 2^logm byte-sized registers; a
    * round is one join + a per-(node, register) MAX — fully mergeable, no
    * distinct over a quadratic reach set. Register init is the standard
    * HLL split of a 64-bit hash (xxhash64 over the node id): low `logm`
    * bits pick the register, ρ = leading-zero rank of the remaining bits.
    * Returns (id, r, est) with the HLL estimate (linear-counting
    * small-range correction included); GraphMetricsSpec bounds the
    * relative error against [[neighborhoodExact]]. Estimates INCLUDE the
    * node itself (|B(v,r)| with v ∈ B — the ANF convention), so exact
    * comparisons add 1 to `reach_cnt`. */
  def hyperBall(und0: DataFrame, maxR: Int, logm: Int = 6, seed: Long = 7L): DataFrame = {
    require(maxR >= 1 && logm >= 4 && logm <= 12, s"maxR=$maxR logm=$logm")
    val m = 1 << logm
    val und = Pin(und0).df
    val sym = Pin(und.select(col("u"), col("v"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))).df
    val nodes = sym.select(col("u").as("id")).distinct()
    // one register row per node: j = low logm hash bits, rho = rank of the
    // leftmost 1-bit of the remaining w = 64 − logm bits (w + 1 if all
    // zero). floor(log2) comes from bin()-string length — exact integer
    // arithmetic, no libm rounding at power-of-two boundaries.
    val w = 64 - logm
    val h = graft.core.Determinism.detHash(seed, col("id"))
    val rest = shiftrightunsigned(h, logm)
    val rho = when(rest === 0, lit(w + 1))
      .otherwise(lit(w) - (length(bin(rest)) - 1)).cast("int")
    val alpha = m match { // standard HLL bias constants
      case 16 => 0.673; case 32 => 0.697; case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    // per node: raw = α·m²/Σ2^(−M_j), with 2^0 contributed by each of the
    // m − nz ABSENT registers (register value 0); small-range correction
    // m·ln(m/zeros) when raw ≤ 2.5m and zero registers remain
    def estimate(rg: DataFrame, r: Int): DataFrame = {
      val s = col("s") + (lit(m) - col("nz"))
      val raw = lit(alpha * m * m) / s
      rg.groupBy("id")
        .agg(sum(pow(lit(2.0), -col("rho").cast("double"))).as("s"),
          count(lit(1)).as("nz"))
        .select(col("id"), lit(r).as("r"),
          when(raw <= 2.5 * m && col("nz") < m,
            round(lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("nz"))), 3))
            .otherwise(round(raw, 3)).as("est"))
    }
    // round r: pull every neighbor's registers, keep per-(id, j) max
    var cur = Pin(nodes.select(col("id"),
      pmod(h, lit(m.toLong)).cast("int").as("j"), rho.as("rho"))).df
    (1 to maxR).map { r =>
      cur = Pin(cur.unionAll(
          cur.join(sym.withColumnRenamed("u", "w").withColumnRenamed("v", "id2"),
              col("id") === col("w"))
            .select(col("id2").as("id"), col("j"), col("rho")))
        .groupBy("id", "j").agg(max(col("rho")).as("rho"))).df
      estimate(cur, r)
    }.reduce(_ unionAll _)
  }

  /** Effective diameter from a neighborhood-function table — (id, r,
    * reach) rows from [[neighborhoodExact]] (`reach_cnt`) or [[hyperBall]]
    * (`est`): the smallest r whose total reachable-pair count covers
    * `frac` of the count at the deepest radius computed (the standard
    * 90%-effective-diameter of the ANF literature, over whatever horizon
    * the caller ran). One maxR-row aggregate — driver-scale. */
  def effectiveDiameter(nf: DataFrame, frac: Double = 0.9): Int = {
    val reach = nf.columns.intersect(Seq("reach_cnt", "est")).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"expected a reach_cnt or est column, got ${nf.columns.mkString(",")}"))
    val perR = nf.groupBy("r").agg(sum(col(reach)).cast("double").as("pairs"))
      .collect().map(row => (row.getInt(0), row.getDouble(1))).sortBy(_._1)
    val target = frac * perR.last._2
    perR.find(_._2 >= target).map(_._1).getOrElse(perR.last._1)
  }

  /** Link-prediction features over non-adjacent pairs (the KG-completion
    * candidate surface): for every pair (u, w), u < w, NOT an edge, with
    * at least `minSupport` common neighbors — `cn` = common-neighbor count
    * and `ra_micros` = Σ_z floor(10⁶ / deg(z)) over common neighbors z,
    * the Resource Allocation index (Zhou, Lü & Zhang, "Predicting missing
    * links via local information", EPJ B 71, 2009) as an EXACT INTEGER in
    * micro-units, so the oracle replays it hash-identically (the float
    * division is downstream, like transitivity). Adamic-Adar's 1/ln deg is
    * deliberately not the gate surface — cross-engine libm.
    *
    * Scale shape: wedge pairs through a hub z cost C(deg z, 2) — the
    * last-reducer hazard — so z is degree-capped at `maxZDeg` (the
    * standard mitigation; capped-out hubs contribute no evidence, which
    * RA already discounts by 1/deg). `minSupport` prunes the quadratic
    * one-shared-neighbor tail before it is ever materialized as output.
    * When the pinned edge set fits the broadcast envelope, its
    * [[graft.core.LocalGraph]] CSR is broadcast and ONE `mapPartitions`
    * over ranges of the smaller endpoint u counts each u's wedges
    * task-side (the Σdeg² output is pinned on the executors, never
    * collected). Above it, joins are key-equi on z and the edge anti-join
    * removes existing edges. Both forms exclude every pair an edge joins,
    * in either stored orientation, and give the same rows. */
  def linkPredFeatures(und0: DataFrame, maxZDeg: Int = 32,
                       minSupport: Int = 2): DataFrame = {
    require(maxZDeg >= 1 && minSupport >= 1, s"maxZDeg=$maxZDeg minSupport=$minSupport")
    // und is pinned: its counted size picks the form, and on the Spark form
    // deg (an aggregate of und), both zok sides of the wedge self-join and
    // the edge anti-join side broadcast on counted sizes while they fit
    val (und, local) = LocalGraph.pin(und0)
    local match {
      case Some(g) => localLinkPred(g, und0.sparkSession, maxZDeg, minSupport)
      case None => sparkLinkPred(und.df, maxZDeg, minSupport)
    }
  }

  private val LpSchema = StructType(Seq(StructField("u", StringType), StructField("w", StringType),
    StructField("cn", LongType), StructField("ra_micros", LongType)))

  /** Each u's wedges over the broadcast CSR, task-side, over contiguous u
    * ranges of about equal wedge work. Entry multiplicities multiply as
    * the Spark form's join rows do: a pair gains mult(u, z)·mult(z, w)
    * counts through z. */
  private def localLinkPred(g: LocalGraph, spark: SparkSession, maxZDeg: Int,
                            minSupport: Int): DataFrame = {
    val sc = spark.sparkContext
    val parts = sc.defaultParallelism
    val work = Array.tabulate(g.n) { u =>
      (g.off(u) until g.off(u + 1)).iterator.map(e => g.degree(g.nbr(e)).toLong)
        .filter(_ <= maxZDeg).sum
    }
    val cum = work.scanLeft(0L)(_ + _)
    val cuts = (0 until parts).map(p => cum.indexWhere(_ >= cum.last * p / parts)) :+ g.n
    val ranges = cuts.zip(cuts.tail).filter { case (lo, hi) => lo < hi }
    g.pinTaskSide(spark, LpSchema) { bc =>
      sc.parallelize(ranges, math.max(1, ranges.size)).mapPartitions { it =>
        val g = bc.value
        val cn = new Array[Long](g.n)
        val ra = new Array[Long](g.n)
        val edge = new Array[Boolean](g.n)
        val touched = new Array[Int](g.n)
        it.flatMap { case (lo, hi) => (lo until hi).iterator.flatMap { u =>
          var t = 0
          for (e <- g.off(u) until g.off(u + 1)) {
            val z = g.nbr(e)
            if (g.degree(z) <= maxZDeg) {
              val r = 1000000L / g.degree(z)
              for (f <- g.off(z) until g.off(z + 1)) {
                val w = g.nbr(f)
                if (w > u) {
                  if (cn(w) == 0) { touched(t) = w; t += 1 }
                  cn(w) += 1
                  ra(w) = Math.addExact(ra(w), r)
                }
              }
            }
          }
          for (e <- g.off(u) until g.off(u + 1)) edge(g.nbr(e)) = true
          val out = (0 until t).iterator.map(touched).filter(w => cn(w) >= minSupport && !edge(w))
            .map(w => Row(g.ids(u), g.ids(w), cn(w), ra(w))).toArray
          for (j <- 0 until t) { cn(touched(j)) = 0; ra(touched(j)) = 0 }
          for (e <- g.off(u) until g.off(u + 1)) edge(g.nbr(e)) = false
          out
        } }
      }
    }
  }

  /** The wedge self-join and edge anti-join as one Spark plan. */
  private def sparkLinkPred(und: DataFrame, maxZDeg: Int, minSupport: Int): DataFrame = {
    val deg = degrees(und)
    val sym = und.select(col("u"), col("v"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))
    // zok feeds BOTH sides of the wedge self-join below: un-materialized,
    // the sym⋈deg subtree (and deg's aggregate over the union) evaluates
    // twice — same single-materialization rule as triangleRows' orient
    val zok = Pin(sym.join(deg.withColumnRenamed("id", "u"), Seq("u"))
      .filter(col("deg") <= maxZDeg)
      .select(col("u").as("z"), col("v").as("n"), col("deg").as("zdeg"))).df
    val pairs = zok.select(col("z"), col("n").as("u"), col("zdeg"))
      .join(zok.select(col("z"), col("n").as("w")), Seq("z"))
      .filter(col("u") < col("w"))
      .groupBy("u", "w")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div zdeg")).as("ra_micros"))
      .filter(col("cn") >= minSupport)
    pairs.join(sym.withColumnRenamed("v", "w"), Seq("u", "w"), "left_anti")
      .select(col("u"), col("w"), col("cn"), col("ra_micros"))
  }

  /** Per-vertex butterfly counts over a BIPARTITE edge set `(u, v)` —
    * counts for the `u` side, pivoting on `v`. A butterfly is the 2×2
    * biclique (Wang et al., "Vertex priority based butterfly counting
    * for large-scale bipartite networks", VLDB'19) — the bipartite
    * analogue of the triangle and the motif under every bipartite
    * clustering coefficient; on an orders↔parts graph it reads "two
    * orders sharing two parts", the co-purchase cohesion signal. For
    * every u-pair sharing c ≥ 2 pivots the pair closes C(c, 2)
    * butterflies, credited to both endpoints. EXACT INTEGER throughout
    * (c·(c−1) div 2 — the product of consecutive integers is even).
    *
    * Scale shape: wedge enumeration pivots on v, costing Σ_v C(deg v, 2)
    * rows before the map-side-combinable (u1, u2) count — the identical
    * hub hazard as triangle wedges, mitigated the same way as
    * [[linkPredFeatures]]: `maxPivotDeg` drops pivots above the cap (a
    * capped hub closes none of its butterflies — documented truncation
    * the oracle mirrors; [[triangleRows]]' degree ORIENTATION cannot
    * apply here because both wedge endpoints live on the opposite side
    * of the pivot). At 100-TB shapes the further lever is the DOULION
    * md5 edge sparsifier ([[sampledTriangleMoments]]' pattern; keep-p
    * estimator 1/p⁴ for 4-edge motifs) — exact counting is reserved for
    * the post-blocking / post-sampling graph. */
  def butterflies(bip0: DataFrame, maxPivotDeg: Int = 64): DataFrame = {
    require(maxPivotDeg >= 2, s"maxPivotDeg=$maxPivotDeg")
    val bip = Pin(bip0.select(col("u"), col("v")).distinct()).df
    val ok = bip.join(
        bip.groupBy("v").agg(count(lit(1)).as("vdeg")), Seq("v"))
      .filter(col("vdeg") <= maxPivotDeg).select(col("u"), col("v"))
    val pairs = ok.select(col("u").as("u1"), col("v"))
      .join(ok.select(col("u").as("u2"), col("v")), Seq("v"))
      .filter(col("u1") < col("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .withColumn("b", expr("c * (c - 1) div 2"))
    pairs.select(col("u1").as("id"), col("b"))
      .unionAll(pairs.select(col("u2").as("id"), col("b")))
      .groupBy("id").agg(sum(col("b")).as("bfly"))
  }

  /** Degree assortativity r as a Double (spec-level; the oracle gates the
    * integer moments above). */
  def assortativity(und: DataFrame): Double = {
    val r = degreeMomentRow(und).collect()(0)
    val (m, sj, sk, sjk, sjj, skk) = (r.getLong(0).toDouble, r.getLong(1).toDouble,
      r.getLong(2).toDouble, r.getLong(3).toDouble, r.getLong(4).toDouble, r.getLong(5).toDouble)
    val den = math.sqrt((m * sjj - sj * sj) * (m * skk - sk * sk))
    if (den == 0.0) 0.0 else (m * sjk - sj * sk) / den
  }

  /** Sampler-quality statistic (Leskovec-Faloutsos KDD'06 §3 evaluate
    * samples by the Kolmogorov-Smirnov distance between degree
    * distributions): KS = max over degree of |CDF_orig − CDF_sample|,
    * one row per side (out/in), rounded to 5. The CDFs are cumulative
    * sums over the DEGREE HISTOGRAMS (≤ max-degree rows — bounded far
    * below the edge count, so the single-partition cumulative window is
    * driver-bounded metadata work, not data work; bucket it à la Ranks if
    * a graph ever has 10⁷ distinct degree values). A full-outer join on
    * degree aligns the two step functions; a missing side's histogram row
    * contributes 0 to its cumulative, which IS its CDF value at that
    * breakpoint. */
  def degreeKs(original: DataFrame, sampled: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hist(e: DataFrame, key: String) =
      e.groupBy(col(key).as("node")).agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n"))
    def ksOf(key: String, name: String): DataFrame = {
      val h1 = hist(original, key).select(col("deg"), col("n").as("n1"))
      val h2 = hist(sampled, key).select(col("deg"), col("n").as("n2"))
      val j = h1.join(h2, Seq("deg"), "full_outer")
        .select(col("deg"),
          coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"))
      val w = Window.orderBy(col("deg")).rowsBetween(Window.unboundedPreceding, 0)
      j.select(col("deg"),
          sum(col("n1")).over(w).as("c1"), sum(col("n2")).over(w).as("c2"),
          sum(col("n1")).over(Window.partitionBy()).as("t1"),
          sum(col("n2")).over(Window.partitionBy()).as("t2"))
        .select(max(abs(col("c1").cast("double") / col("t1")
          - col("c2").cast("double") / col("t2"))).as("ks"))
        .select(lit(name).as("side"), round(col("ks"), 5).as("ks"))
    }
    ksOf("src", "out").unionAll(ksOf("dst", "in"))
  }
}
