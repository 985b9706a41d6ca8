package graft.sample

import graft.SparkSpec
import graft.core.Kb
import graft.fixtures.HepatitisLikeKb

/** The reference's sampler test suite (tests/test_sampling.py) ported 1:1
  * onto the deterministic hepatitis-like fixture (FIXTURES.md F3):
  * exact node counts (50; walks 2), RE ∈ {n, n+1}, LP retention, and the
  * dpp = fraction-removed quirk. */
class SamplerSpec extends SparkSpec {

  lazy val kb: Kb = HepatitisLikeKb.kb(spark).cache()
  val lp = HepatitisLikeKb.lp

  private def nodeCount(s: Kb): Long = s.nodes.count()
  private def nodeSet(s: Kb): Set[String] = ids(s.nodes)
  private def edgesValid(s: Kb): Unit = {
    // every retained edge must have both endpoints retained and exist in the original
    val sampled = nodeSet(s)
    val orig = HepatitisLikeKb.edgeList.map(e => (e.src, e.pred, e.dst)).toSet
    val kept = s.edges.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    kept.foreach { case e @ (src, _, dst) =>
      assert(orig.contains(e), s"edge $e not in original")
      assert(sampled.contains(src) && sampled.contains(dst), s"dangling edge $e")
    }
  }

  // ---- classic (test_sampling.py:16-49) ----

  test("rn: exactly 50 nodes, induced edges") {
    val s = new RandomNodeSampler(kb, seed = 1).sample(50)
    assert(nodeCount(s) === 50); edgesValid(s)
    // induced property: every original edge between sampled nodes is kept
    val sampled = nodeSet(s)
    val expected = HepatitisLikeKb.edgeList
      .filter(e => sampled(e.src) && sampled(e.dst)).map(e => (e.src, e.pred, e.dst)).toSet
    assert(s.edges.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet === expected)
  }

  test("re: 50 or 51 nodes") {
    val s = new RandomEdgeSampler(kb, seed = 2).sample(50)
    assert(Set(50L, 51L).contains(nodeCount(s))); edgesValid(s)
  }

  test("rw: exactly 2 nodes") {
    val s = new WalkSampler(kb, seed = 3).sample(2)
    assert(nodeCount(s) === 2); edgesValid(s)
  }

  test("rwj: exactly 50 nodes") {
    val s = new WalkSampler(kb, seed = 4, jumpProb = Some(0.1)).sample(50)
    assert(nodeCount(s) === 50); edgesValid(s)
  }

  test("rwp: exactly 2 nodes") {
    val s = new WalkSampler(kb, seed = 5, prioritized = true, prIterations = 20).sample(2)
    assert(nodeCount(s) === 2); edgesValid(s)
  }

  test("rwjp: exactly 50 nodes") {
    val s = new WalkSampler(kb, seed = 6, jumpProb = Some(0.1), prioritized = true,
      prIterations = 20).sample(50)
    assert(nodeCount(s) === 50); edgesValid(s)
  }

  test("ff: exactly 50 nodes") {
    val s = new ForestFireSampler(kb, seed = 7).sample(50)
    assert(nodeCount(s) === 50); edgesValid(s)
  }

  // threshold -1 keeps this draw on the per-step path the gate is part of
  test("rwj: bucketed neighbor cache (100-TB gate forced on) is byte-identical") { noBroadcast {
    def run(minEdges: Long) = {
      val s = new WalkSampler(kb, seed = 4, jumpProb = Some(0.1),
        bucketMinNodes = minEdges, walkBuckets = 8).sample(50)
      (nodeSet(s),
        s.edges.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
    }
    val natural = run(Long.MaxValue) // gate can never fire
    val bucketed = run(0L)           // gate always fires
    assert(natural === bucketed)
  }}

  test("rwp: bucketed neighbor cache carries the rank weights identically") {
    def run(minEdges: Long) = {
      val s = new WalkSampler(kb, seed = 6, prioritized = true, prIterations = 20,
        jumpProb = Some(0.1), bucketMinNodes = minEdges, walkBuckets = 8).sample(50)
      nodeSet(s)
    }
    assert(run(Long.MaxValue) === run(0L))
  }

  // ---- LPC (test_sampling.py:53-113): 50 nodes, ALL LP retained ----

  test("rn-lpc: 50 nodes, all LP retained") {
    val s = new RandomNodeSampler(kb, seed = 8, lpSeeds = lp, lpc = true).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("re-lpc: 50/51 nodes, all LP retained") {
    val s = new RandomEdgeSampler(kb, seed = 9, lpSeeds = lp, lpc = true).sample(50)
    assert(Set(50L, 51L).contains(nodeCount(s)))
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("rwj-lpc: 50 nodes, all LP retained") {
    val s = new WalkSampler(kb, seed = 10, jumpProb = Some(0.1), lpSeeds = lp, lpc = true).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("rw-lpc small sample retains ≥1 LP") {
    val s = new WalkSampler(kb, seed = 11, lpSeeds = lp, lpc = true).sample(4)
    assert(nodeCount(s) === 4)
    assert(nodeSet(s).intersect(lp.toSet).nonEmpty)
  }

  test("rwp-lpc small sample retains ≥1 LP") {
    val s = new WalkSampler(kb, seed = 12, prioritized = true, lpSeeds = lp, lpc = true,
      prIterations = 20).sample(4)
    assert(nodeCount(s) === 4)
    assert(nodeSet(s).intersect(lp.toSet).nonEmpty)
  }

  test("rwjp-lpc: 50 nodes, all LP retained") {
    val s = new WalkSampler(kb, seed = 13, jumpProb = Some(0.1), prioritized = true,
      lpSeeds = lp, lpc = true, prIterations = 20).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("ff-lpc: 50 nodes, all LP retained") {
    val s = new ForestFireSampler(kb, seed = 14, lpSeeds = lp).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  // ---- LPF (test_sampling.py:117-167) ----

  test("rn-lpf: 50 nodes, all LP retained") {
    val s = new RandomNodeSampler(kb, seed = 15, lpSeeds = lp).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("re-lpf: 50/51 nodes, all LP retained") {
    val s = new RandomEdgeSampler(kb, seed = 16, lpSeeds = lp).sample(50)
    assert(Set(50L, 51L).contains(nodeCount(s)))
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("rw-lpf small sample retains ≥1 LP") {
    val s = new WalkSampler(kb, seed = 17, lpSeeds = lp).sample(4)
    assert(nodeCount(s) === 4)
    assert(nodeSet(s).intersect(lp.toSet).nonEmpty)
  }

  test("rwj-lpf: 50 nodes, all LP retained") {
    val s = new WalkSampler(kb, seed = 18, jumpProb = Some(0.1), lpSeeds = lp).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  test("rwp-lpf small sample retains ≥1 LP") {
    val s = new WalkSampler(kb, seed = 19, prioritized = true, lpSeeds = lp,
      prIterations = 20).sample(4)
    assert(nodeCount(s) === 4)
    assert(nodeSet(s).intersect(lp.toSet).nonEmpty)
  }

  test("rwjp-lpf: 50 nodes, all LP retained") {
    val s = new WalkSampler(kb, seed = 20, jumpProb = Some(0.1), prioritized = true,
      lpSeeds = lp, prIterations = 20).sample(50)
    assert(nodeCount(s) === 50)
    assert(lp.toSet.subsetOf(nodeSet(s)))
  }

  // ---- dpp quirk (test_sampling.py:171-190): sample(5, 0.5) leaves exactly
  // 5 of the 10 dp values on the target node ----

  test("dp sampling: dpp=0.5 removes int(0.5·10)=5 of 10 values") {
    val target = HepatitisLikeKb.dpNode
    val s = new RandomNodeSampler(kb, seed = 21, lpSeeds = Seq(target)).sample(5, 0.5)
    val cnt = s.attrs.filter(org.apache.spark.sql.functions.col("node") === target).count()
    assert(cnt === 5)
    val s2 = new WalkSampler(kb, seed = 22, lpSeeds = Seq(target)).sample(5, 0.5)
    val cnt2 = s2.attrs.filter(org.apache.spark.sql.functions.col("node") === target).count()
    assert(cnt2 === 5)
  }

  test("dpp=1.0 is a keep-all no-op; dpp=0 keeps all") {
    val s = new RandomNodeSampler(kb, seed = 23, lpSeeds = Seq(HepatitisLikeKb.dpNode)).sample(5, 1.0)
    assert(s.attrs.filter(org.apache.spark.sql.functions.col("node") === HepatitisLikeKb.dpNode).count() === 10)
  }

  test("determinism: same seed ⇒ identical sample") {
    val a = nodeSet(new RandomNodeSampler(kb, seed = 99).sample(30))
    val b = nodeSet(new RandomNodeSampler(kb, seed = 99).sample(30))
    assert(a === b)
    val c = nodeSet(new ForestFireSampler(kb, seed = 99).sample(30))
    val d = nodeSet(new ForestFireSampler(kb, seed = 99).sample(30))
    assert(c === d)
  }

  // threshold -1 keeps this draw on the per-step path the gate is part of
  test("ff: a large draw crosses the broadcast anti-join gate (smoke)") { noBroadcast {
    // burned.size > ForestFireSampler.BurnedInListMax (4096) switches the
    // per-round unburnt filter from a growing IN-list to a broadcast
    // anti-join; the draw must stay round-bound, not quadratic in n
    val big = graft.sources.TpchKg.load(spark, "/root/testdata/sf0.01")
    val n = 6000
    val t0 = System.nanoTime()
    val drawn = new ForestFireSampler(big, seed = 11).draw(n)
    assert(drawn.sampledNodes.count() === n)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 300.0, f"large FF draw took $sec%.0f s — IN-list gating suspect")
  }}

  test("check_input rejects oversized n and bad dpp") {
    intercept[IllegalArgumentException] { new RandomNodeSampler(kb).sample(100000) }
    intercept[IllegalArgumentException] { new RandomNodeSampler(kb).sample(5, 1.5) }
  }

  test("pagerank: positive, deterministic, leaky sum") {
    val pr = PageRank.compute(kb, iterations = 30)
    val rows = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.values.forall(_ > 0))
    assert(rows.values.sum <= kb.nodes.count().toDouble) // mass leaks, never grows
    val pr2 = PageRank.compute(kb, iterations = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows === pr2)
    // hub p1 collects more rank than a leaf therapy node's source
    assert(rows("s1") > 0)
  }
}
