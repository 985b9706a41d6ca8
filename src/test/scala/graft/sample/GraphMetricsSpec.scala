package graft.sample

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting / clustering metrics: hand-computed golden graphs
  * (K4, path, bowtie-share), the co-occurrence projection, a brute-force
  * parity sweep on a seeded random graph, and partitioning determinism. */
class GraphMetricsSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private def und(edges: (String, String)*): DataFrame =
    edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .distinct.toDF("u", "v")

  test("K4: 4 triangles, every node in 3, transitivity 1") {
    val g = und(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
    val counts = GraphMetrics.triangleCounts(g).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    val gm = GraphMetrics.globalMetrics(g).collect()(0)
    assert(gm.getLong(0) == 4L) // C(4,3)
    assert(gm.getLong(1) == 12L) // 4 nodes × C(3,2)
    assert(GraphMetrics.transitivity(g) == 1.0)
  }

  test("path graph: one wedge, zero triangles") {
    val g = und(("a","b"),("b","c"))
    assert(GraphMetrics.triangleRows(g).count() == 0L)
    val gm = GraphMetrics.globalMetrics(g).collect()(0)
    assert(gm.getLong(0) == 0L && gm.getLong(1) == 1L)
    assert(GraphMetrics.transitivity(g) == 0.0)
  }

  test("two triangles sharing an edge: per-node counts and transitivity 3/4") {
    val g = und(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"))
    val counts = GraphMetrics.triangleCounts(g).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
    val gm = GraphMetrics.globalMetrics(g).collect()(0)
    assert(gm.getLong(0) == 2L && gm.getLong(1) == 8L)
    assert(GraphMetrics.transitivity(g) == 0.75)
  }

  test("local clustering: K4 all 1.0, bowtie center 1/3, leaves excluded") {
    // K4: every node cc = 1
    val k4 = und(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
    val cc4 = GraphMetrics.localClustering(k4).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(cc4 === Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0))
    // bowtie: two triangles joined at m → deg(m)=4, tri(m)=2, cc = 4/12 = 1/3
    val bow = und(("m","a"),("m","b"),("a","b"),("m","c"),("m","d"),("c","d"))
    val rows = GraphMetrics.localClustering(bow).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows("m") === ((4L, 2L, 1.0 / 3)))
    assert(rows("a") === ((2L, 1L, 1.0)))
    // path graph: middle node has cc 0 (wedge, no triangle); degree-1 ends excluded
    val path = und(("x","y"),("y","z"))
    val pc = GraphMetrics.localClustering(path).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(pc === Map("y" -> 0.0))
  }

  test("cooccurrence projection: a 3-item basket becomes K3, cross-basket dedup") {
    val edges = Seq(
      ("o:1", "contains", "p:1"), ("o:1", "contains", "p:2"), ("o:1", "contains", "p:3"),
      ("o:2", "contains", "p:1"), ("o:2", "contains", "p:2"), // duplicate pair
      ("o:3", "suppliedBy", "s:1"), ("o:3", "suppliedBy", "s:2") // other predicate
    ).toDF("src", "pred", "dst")
    val g = GraphMetrics.cooccurrence(edges, "contains")
    assert(g.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("p:1", "p:2"), ("p:1", "p:3"), ("p:2", "p:3")))
    assert(GraphMetrics.triangleRows(g).count() == 1L)
  }

  /** O(n³) reference on a collected edge set. */
  private def bruteTriangles(edges: Set[(String, String)]): Long = {
    val adj = edges.flatMap(e => Seq(e, (e._2, e._1)))
    val nodes = adj.map(_._1).toSeq.sorted
    (for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      if adj((nodes(i), nodes(j))) && adj((nodes(j), nodes(k))) && adj((nodes(i), nodes(k)))
    } yield 1).size.toLong
  }

  test("seeded random graph: exact parity with the brute-force reference") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 120).map(_ => (s"n${rnd.nextInt(18)}", s"n${rnd.nextInt(18)}"))
      .filter(e => e._1 != e._2)
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val g = edges.toSeq.toDF("u", "v")
    assert(GraphMetrics.triangleRows(g).count() == bruteTriangles(edges))
    // per-node sums: every triangle contributes 3 participations
    val perNode = GraphMetrics.triangleCounts(g).agg(sum("tri_cnt")).collect()(0).getLong(0)
    assert(perNode == 3 * bruteTriangles(edges))
  }

  test("partitioning does not change any count") {
    val g = und(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"),("d","e"),("c","e"))
    val wide = g.repartition(7, xxhash64(col("u"), col("v")))
    assert(GraphMetrics.triangleCounts(g).collect().toSet ==
      GraphMetrics.triangleCounts(wide).collect().toSet)
    assert(GraphMetrics.globalMetrics(g).collect().toSeq ==
      GraphMetrics.globalMetrics(wide).collect().toSeq)
  }

  test("assortativity: star graph moments by hand, r = -1") {
    val g = und(("h","a"),("h","b"),("h","c"))
    val r = GraphMetrics.degreeMomentRow(g).collect()(0)
    // 6 ordered pairs; degrees h=3, leaves=1: j values {3,3,3,1,1,1}
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 12L, 12L)))
    assert(r.getLong(3) == 18L) // Σjk = 6 × (3·1)
    assert(r.getLong(4) == 30L && r.getLong(5) == 30L) // Σjj = 3·9 + 3·1
    assert(math.abs(GraphMetrics.assortativity(g) - (-1.0)) < 1e-12)
  }

  test("assortativity: regular graph is degenerate (r = 0 by convention)") {
    // 4-cycle: every degree 2 — zero variance
    val g = und(("a","b"),("b","c"),("c","d"),("d","a"))
    assert(GraphMetrics.assortativity(g) == 0.0)
  }

  test("modularity moments: two bridged triangles by hand; one-community Q = 0") {
    // triangles {a,b,c} and {d,e,f} bridged by (c,d): m = 7, the natural
    // 2-community split keeps 6 intra edges; per-community degree sums are
    // 7 and 7 → Q = 6/7 − 98/196 = 5/14
    val g = und(("a","b"),("b","c"),("a","c"),("d","e"),("e","f"),("d","f"),("c","d"))
    val lbl = Seq("a" -> "1", "b" -> "1", "c" -> "1",
      "d" -> "2", "e" -> "2", "f" -> "2").toDF("id", "lbl")
    val r = GraphMetrics.modularityMoments(g, lbl).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((7L, 6L, 98L)))
    assert(math.abs((6.0 / 7 - 98.0 / (4 * 49)) - 5.0 / 14) < 1e-12)
    // everything in one community: intra = m and sum_comm_deg_sq = (2m)²,
    // so Q = 1 − 1 = 0 — the standard degenerate-partition check
    val one = GraphMetrics.modularityMoments(g,
      Seq("a", "b", "c", "d", "e", "f").map(_ -> "x").toDF("id", "lbl")).collect()(0)
    assert((one.getLong(0), one.getLong(1), one.getLong(2)) == ((7L, 7L, 196L)))
  }

  test("k-truss: pendant drops, shared-edge cascade empties, K4 survives") {
    // triangle {a,b,c} + pendant (c,d): 3-truss keeps exactly the triangle
    // (every edge sup 1), the pendant has no support row and drops
    val g1 = und(("a","b"),("b","c"),("a","c"),("c","d"))
    val t3 = GraphMetrics.kTruss(g1, 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(t3 === Set(("a","b",1L), ("a","c",1L), ("b","c",1L)))
    // two triangles sharing (b,c): the shared edge starts at sup 2 but its
    // support lives on sup-1 edges — the 4-truss peel must CASCADE to empty
    val g2 = und(("a","b"),("b","c"),("a","c"),("b","d"),("c","d"))
    assert(GraphMetrics.kTruss(g2, 4).count() === 0L)
    // K4 + triangle {c,d,e} hanging off it: 4-truss peels the appendage
    // (sup-1 edges) and keeps exactly K4 with every edge at sup 2
    val g3 = und(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("c","e"),("d","e"))
    val t4 = GraphMetrics.kTruss(g3, 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(t4 === Set(("a","b",2L), ("a","c",2L), ("a","d",2L),
      ("b","c",2L), ("b","d",2L), ("c","d",2L)))
    // k above anything present → empty; empty input → empty
    assert(GraphMetrics.kTruss(g3, 5).count() === 0L)
    assert(GraphMetrics.kTruss(g3.limit(0), 3).count() === 0L)
  }

  test("harmonic centrality: path-graph micro-units by hand at R=2 and R=3, disconnected ok") {
    // path a-b-c-d plus the disconnected pair e-f
    val g = und(("a","b"),("b","c"),("c","d"),("e","f"))
    def microsAt(r: Int) = GraphMetrics.harmonicCentrality(g, r).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // R=2, L=2: H(a)=1+1/2 → 3; H(b)=1+1+1/2 → 5; H(e)=1 → 2
    assert(microsAt(2) === Map("a" -> 3L, "b" -> 5L, "c" -> 5L, "d" -> 3L,
      "e" -> 2L, "f" -> 2L))
    // R=3, L=6: H(a)=1+1/2+1/3 → 11; H(b)=1+1+1/2 → 15; H(e)=1 → 6
    assert(microsAt(3) === Map("a" -> 11L, "b" -> 15L, "c" -> 15L, "d" -> 11L,
      "e" -> 6L, "f" -> 6L))
  }

  test("MIS: independence + maximality invariants, triangle singleton, determinism") {
    val g = und(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("c","e"),("d","e"),("f","g"))
    val mis = GraphMetrics.maximalIndependentSet(g)
    val members = mis.collect().map(_.getString(0)).toSet
    val es = g.collect().map(r => (r.getString(0), r.getString(1)))
    // independence: no edge inside the set
    assert(!es.exists { case (u, v) => members(u) && members(v) })
    // maximality: every non-member has a member neighbor
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSet
    assert((nodes -- members).forall(n => es.exists { case (u, v) =>
      (u == n && members(v)) || (v == n && members(u)) }))
    // K4 contributes exactly one member; disjoint f-g edge exactly one
    assert(members.count(Set("a","b","c","d")) === 1)
    assert(members.count(Set("f","g")) === 1)
    // a lone triangle yields a single member
    assert(GraphMetrics.maximalIndependentSet(
      und(("x","y"),("y","z"),("x","z"))).count() === 1L)
    // deterministic across runs and partitionings
    val again = GraphMetrics.maximalIndependentSet(g.repartition(7))
      .collect().map(_.getString(0)).toSet
    assert(again === members)
  }

  test("DOULION moments: keep-all equals exact, keep-none empty, filter deterministic") {
    val g = und(("a","b"),("b","c"),("a","c"),("c","d"),("b","d"))
    // 'g' sorts above every hex digit → keep-all reproduces the exact count
    val all = GraphMetrics.sampledTriangleMoments(g, "g00000000000").collect()(0)
    assert((all.getLong(0), all.getLong(1)) === ((5L, 2L)))
    val none = GraphMetrics.sampledTriangleMoments(g, "000000000000").collect()(0)
    assert((none.getLong(0), none.getLong(1)) === ((0L, 0L)))
    // mid threshold: deterministic across partitionings, kept ≤ |E|
    val a = GraphMetrics.sampledTriangleMoments(g, "800000000000").collect()(0)
    val b = GraphMetrics.sampledTriangleMoments(g.repartition(5), "800000000000").collect()(0)
    assert((a.getLong(0), a.getLong(1)) === ((b.getLong(0), b.getLong(1))))
    assert(a.getLong(0) <= 5L)
    intercept[IllegalArgumentException](GraphMetrics.sampledTriangleMoments(g, "ff"))
  }

  test("k-core: chain peels away, K4 survives as its own 3-core, cascade works") {
    // K4 on a..d plus a pendant chain d-e-f: 3-core = K4 exactly; the
    // chain must cascade (f drops, THEN e drops)
    val g = und(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("d","e"),("e","f"))
    val core = GraphMetrics.kCore(g, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // 1-core keeps everything; 5-core of K4 is empty
    assert(GraphMetrics.kCore(g, k = 1).count() == 6L)
    assert(GraphMetrics.kCore(g, k = 5).count() == 0L)
  }

  test("k-core: partitioning invariance") {
    val g = und(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"),("d","e"))
    val wide = g.repartition(5, xxhash64(col("v")))
    assert(GraphMetrics.kCore(g, 2).collect().toSet ==
      GraphMetrics.kCore(wide, 2).collect().toSet)
  }

  test("k-core: a peel round's pin is its only action; counted stats keep its joins off SMJ") {
    // a path of n edges loses its two end edges per 2-core round: ⌈n/2⌉
    // peel rounds plus one that removes nothing. A round is one pin: its
    // jobs are the pin's and the AQE stages under it (a bare checkpoint
    // plus count() ran 5 per round on this input)
    def chain(n: Int) = (0 until n).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("u", "v")
    val sc = s.sparkContext
    def jobs(n: Int) = org.apache.spark.graftshim.JobCount(sc)(GraphMetrics.kCore(chain(n), 2).collect())
    val (short, jShort) = jobs(6)   // 4 rounds
    val (long, jLong) = jobs(10)    // 6 rounds
    assert(short.isEmpty && long.isEmpty)
    assert(jLong - jShort <= 2 * 3, s"two more rounds ran ${jLong - jShort} more jobs")
  }

  test("sampler-quality usage: transitivity of a sample is comparable to the original") {
    val kb = graft.fixtures.HepatitisLikeKb.kb(s)
    // "knows" has a hub (p1 knows 2..30) — the projection is non-trivial
    val g = GraphMetrics.cooccurrence(kb.edges, "knows")
    assert(g.count() > 0)
    val t = GraphMetrics.transitivity(g)
    assert(t >= 0.0 && t <= 1.0)
  }

  test("neighborhoodExact: path a-b-c-d hand-traced at every radius") {
    val g = und(("a","b"),("b","c"),("c","d"))
    val nf = GraphMetrics.neighborhoodExact(g, 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(nf(("a",1)) == 1 && nf(("a",2)) == 2 && nf(("a",3)) == 3)
    assert(nf(("b",1)) == 2 && nf(("b",2)) == 3 && nf(("b",3)) == 3)
    assert(nf(("c",1)) == 2 && nf(("c",2)) == 3 && nf(("c",3)) == 3)
    assert(nf(("d",1)) == 1 && nf(("d",2)) == 2 && nf(("d",3)) == 3)
    // saturated: radius beyond the diameter adds nothing
    assert(nf.size == 12)
  }

  test("neighborhoodExact: partitioning invariance") {
    val g = und(("a","b"),("b","c"),("c","d"),("d","a"),("b","d"))
    val wide = g.repartition(7, xxhash64(col("u")))
    assert(GraphMetrics.neighborhoodExact(g, 2).collect().toSet ==
      GraphMetrics.neighborhoodExact(wide, 2).collect().toSet)
  }

  test("hyperBall tracks the exact neighborhood function within HLL error") {
    val edges = graft.sources.TpchKg.load(s, "/root/testdata/sf0.001").edges
    val g = GraphMetrics.undirected(edges, "contains").localCheckpoint(true)
    val exact = GraphMetrics.neighborhoodExact(g, 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val est = GraphMetrics.hyperBall(g, 2, logm = 6).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(est.keySet == exact.keySet)
    // hyperBall counts include the node itself (ANF convention): compare
    // against exact + 1; m = 64 registers in the linear-counting regime
    // give well under 15% mean relative error
    val relErrs = exact.toSeq.map { case (k, cnt) =>
      math.abs(est(k) - (cnt + 1)) / (cnt + 1).toDouble
    }
    val mean = relErrs.sum / relErrs.size
    assert(mean < 0.15, f"mean relative error $mean%.3f")
    // estimates are monotone in r for every node, like the exact counts
    exact.keys.filter(_._2 == 1).foreach { case (id, _) =>
      assert(est((id, 2)) >= est((id, 1)) - 1e-9)
    }
  }

  test("effectiveDiameter from the exact table and the HLL table") {
    val g = und(("a","b"),("b","c"),("c","d"))
    val nf = GraphMetrics.neighborhoodExact(g, 3)
    // pair totals by radius: 6, 10, 12 → 90% of 12 needs r=3, 80% r=2
    assert(GraphMetrics.effectiveDiameter(nf, 0.9) == 3)
    assert(GraphMetrics.effectiveDiameter(nf, 0.8) == 2)
    val hb = GraphMetrics.hyperBall(g, 3)
    val d = GraphMetrics.effectiveDiameter(hb, 0.9)
    assert(d >= 1 && d <= 3)
  }

  test("linkPredFeatures: square graph — the two diagonals, hand-traced") (bothForms {
    val g = und(("a","b"),("b","c"),("c","d"),("d","a"))
    val lp = GraphMetrics.linkPredFeatures(g, maxZDeg = 32, minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // (a,c) via b and d, (b,d) via a and c; every z has degree 2
    assert(lp.toSet == Set(("a","c",2L,1000000L), ("b","d",2L,1000000L)))
  })

  test("linkPredFeatures: existing edges excluded, hub cap silences capped wedges") (bothForms {
    // star h-x1..x5 plus edge x1-x2: with minSupport=1 the (x_i, x_j)
    // pairs via h remain except the (x1, x2) edge; ra = floor(1e6/5)
    val star = und(("h","x1"),("h","x2"),("h","x3"),("h","x4"),("h","x5"),("x1","x2"))
    val lp1 = GraphMetrics.linkPredFeatures(star, maxZDeg = 32, minSupport = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(lp1.length == 9) // C(5,2) − the x1-x2 edge
    assert(lp1.forall(t => t._3 == 1L && t._4 == 200000L))
    assert(!lp1.exists(t => t._1 == "x1" && t._2 == "x2"))
    // capping the hub out (deg 5 > 2) removes all its wedge evidence
    assert(GraphMetrics.linkPredFeatures(star, maxZDeg = 2, minSupport = 1)
      .collect().isEmpty)
  })

  test("MIS and coloring of an empty edge set: typed empty frames, id typed as u") {
    import org.apache.spark.sql.types._
    for (g <- Seq(Seq.empty[(String, String)].toDF("u", "v"), Seq.empty[(Long, Long)].toDF("u", "v"))) {
      def schema(roundCol: String) = StructType(Seq(StructField("id", g.schema("u").dataType),
        StructField(roundCol, IntegerType, nullable = false)))
      val mis = GraphMetrics.maximalIndependentSet(g)
      val colors = GraphMetrics.greedyColoring(g)
      assert(mis.schema === schema("mis_round") && mis.collect().isEmpty)
      assert(colors.schema === schema("color") && colors.collect().isEmpty)
    }
  }

  test("greedyColoring: proper, complete, contiguous colors, deterministic") {
    val rnd = new scala.util.Random(7)
    val es = (0 until 200).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter(p => p._1 != p._2)
      .map(p => if (p._1 < p._2) p else p.swap).distinct
    val g = es.toDF("u", "v")
    val c = GraphMetrics.greedyColoring(g).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
    assert(c.keySet === nodes.toSet)                       // complete
    es.foreach { case (u, v) =>
      assert(c(u) != c(v), s"edge $u-$v monochromatic") }  // proper
    val used = c.values.toSet
    assert(used === (1 to used.max).toSet)                 // contiguous
    // K3 needs exactly 3 colors; a single edge 2
    val k3 = GraphMetrics.greedyColoring(
      Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("u", "v")).collect()
      .map(r => r.getInt(1)).toSet
    assert(k3 === Set(1, 2, 3))
    val p1 = GraphMetrics.greedyColoring(g.repartition(1)).collect().toSet
    val p7 = GraphMetrics.greedyColoring(g.repartition(7)).collect().toSet
    assert(p1 === p7)
  }

  test("butterflies: K2,2 one each; K2,3 C(3,2)=3 each; K3,2 two each") {
    def bip(es: (String, String)*): DataFrame = es.toSeq.toDF("u", "v")
    def m(df: DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k22 = bip(("a","x"),("a","y"),("b","x"),("b","y"))
    assert(m(GraphMetrics.butterflies(k22)) == Map("a" -> 1L, "b" -> 1L))
    val k23 = bip(("a","x"),("a","y"),("a","z"),("b","x"),("b","y"),("b","z"))
    assert(m(GraphMetrics.butterflies(k23)) == Map("a" -> 3L, "b" -> 3L))
    // K3,2: three u-pairs, each sharing both pivots → C(2,2)=1 butterfly
    // per pair; each vertex sits in two of the three pairs
    val k32 = bip(("a","x"),("a","y"),("b","x"),("b","y"),("c","x"),("c","y"))
    assert(m(GraphMetrics.butterflies(k32)) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // a wedge closes nothing; duplicate input edges don't inflate
    val wedge = bip(("a","x"),("b","x"),("a","x"))
    assert(GraphMetrics.butterflies(wedge).collect().isEmpty)
  }

  test("butterflies: pivot cap truncates, partitioning invariance") {
    val s2 = spark
    import s2.implicits._
    // two butterflies through pivots x (deg 2) and h (deg 3): capping at
    // 2 keeps only the x wedges → pair (a,b) has c=1 → no butterfly
    val g = Seq(("a","x"),("b","x"),("a","h"),("b","h"),("c","h")).toDF("u","v")
    val full = GraphMetrics.butterflies(g, maxPivotDeg = 64).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full == Map("a" -> 1L, "b" -> 1L)) // (a,b) share x,h → C(2,2)=1
    assert(GraphMetrics.butterflies(g, maxPivotDeg = 2).collect().isEmpty)
    val p1 = GraphMetrics.butterflies(g.repartition(1)).collect().toSet
    val p7 = GraphMetrics.butterflies(g.repartition(7)).collect().toSet
    assert(p1 == p7)
    intercept[IllegalArgumentException](GraphMetrics.butterflies(g, maxPivotDeg = 1))
  }

  test("frequentPairs: brute-force parity on a seeded random basket set") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).flatMap { b =>
      // baskets of size 0-6 with possible repeats (distinct() must collapse)
      Seq.fill(rnd.nextInt(7))((s"b$b", s"i${rnd.nextInt(15)}"))
    }
    val got = GraphMetrics.frequentPairs(
        edges.toDF("src", "dst").withColumn("pred", lit("p")),
        "p", minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = edges.distinct.groupBy(_._1).values.toSeq
      .flatMap { basket =>
        val items = basket.map(_._2).distinct.sorted
        for (i <- items.indices; j <- i + 1 until items.size)
          yield (items(i), items(j))
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2L)
    assert(got === expected)
  }

  test("frequentPairs: support counts baskets, threshold and cap load-bearing") {
    // baskets: o1{p1,p2,p3}, o2{p1,p2}, o3{p1,p2}, o4{p3,p4}
    val edges = Seq(
      ("o1","p1"),("o1","p2"),("o1","p3"),
      ("o2","p1"),("o2","p2"),
      ("o3","p1"),("o3","p2"),
      ("o4","p3"),("o4","p4"))
      .toDF("src", "dst").withColumn("pred", lit("contains"))
    val fp = GraphMetrics.frequentPairs(edges, "contains", minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fp === Map(("p1", "p2") -> 3L)) // (p1,p3)/(p2,p3)/(p3,p4) have support 1
    // basket cap: dropping o1 (size 3 > 2) removes its contribution only
    val capped = GraphMetrics.frequentPairs(edges, "contains",
      minSupport = 2L, maxBasketSize = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped === Map(("p1", "p2") -> 2L))
  }

  test("degree KS: identical graphs 0; dropping the hub side is detected; bounds hold") {
    val g = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"),
      ("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val same = GraphMetrics.degreeKs(g, g)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(same === Map("out" -> 0.0, "in" -> 0.0))
    // sample = the graph minus the hub's edges: the out-degree-4 bucket
    // vanishes, so KS_out must be strictly positive and ≤ 1
    val noHub = g.filter($"src" =!= "h")
    val ks = GraphMetrics.degreeKs(g, noHub)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ks("out") > 0.0 && ks("out") <= 1.0)
    // exact check: orig out-degrees {h:4, a:1, b:1, c:1} → CDF(1)=3/4;
    // sample out-degrees {a:1, b:1, c:1} → CDF(1)=1; KS_out = 1/4
    assert(ks("out") === 0.25)
  }
}
