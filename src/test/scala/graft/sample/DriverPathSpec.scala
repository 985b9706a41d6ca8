package graft.sample

import graft.SparkSpec
import graft.core.{Kb, Pin}
import graft.fixtures.HepatitisLikeKb
import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.functions.col

/** The walk and fire samplers run a draw on the driver when their pinned
  * graph fits the broadcast envelope, and one Spark job per step above it.
  * The two forms must give the same draw: sampled ids in order, the
  * traversed edge set and the step count, for every unweighted walker
  * (RW, RWJ and their LP-first and LP-centralized variants) and for both
  * fire samplers, on the fixture KB and on the sf0.001 TPC-H KG. Threshold
  * -1 forces the per-step form. */
class DriverPathSpec extends SparkSpec {

  // tables materialized up front, so a draw's job count is its own; pinned
  // rather than cached, so no cache entry reshapes other suites' plans
  private def pinned(kb: Kb): Kb = kb.copy(nodes = Pin(kb.nodes).df, edges = Pin(kb.edges).df)
  lazy val fixture: Kb = pinned(HepatitisLikeKb.kb(spark))
  lazy val tpch: Kb = pinned(graft.sources.TpchKg.load(spark, "/root/testdata/sf0.001"))
  lazy val tpchLp: Seq[String] = tpch.nodes.filter(col("id").startsWith("c:"))
    .orderBy(col("id")).limit(4).collect().map(_.getString(0)).toSeq

  private type Make = (Kb, Seq[String], Long) => GraphSampler
  private val samplers: Seq[(String, Make)] = Seq(
    "rw" -> ((kb, _, s) => new WalkSampler(kb, s)),
    "rwj" -> ((kb, _, s) => new WalkSampler(kb, s, jumpProb = Some(0.1))),
    "rw-lpf" -> ((kb, lp, s) => new WalkSampler(kb, s, lpSeeds = lp)),
    "rwj-lpf" -> ((kb, lp, s) => new WalkSampler(kb, s, jumpProb = Some(0.1), lpSeeds = lp)),
    "rw-lpc" -> ((kb, lp, s) => new WalkSampler(kb, s, lpSeeds = lp, lpc = true)),
    "rwj-lpc" -> ((kb, lp, s) =>
      new WalkSampler(kb, s, jumpProb = Some(0.1), lpSeeds = lp, lpc = true)),
    "ff" -> ((kb, _, s) => new ForestFireSampler(kb, s)),
    "ff-lpc" -> ((kb, lp, s) => new ForestFireSampler(kb, s, lpSeeds = lp)))

  private def steps(s: GraphSampler): Int = (s match {
    case w: WalkSampler => w.lastStats
    case f: ForestFireSampler => f.lastStats
  }).get.steps

  /** (sampled ids in order, traversed edges, steps, jobs of the draw) */
  private def run(make: Make, kb: Kb, lp: Seq[String], seed: Long, n: Int) = {
    val sampler = make(kb, lp, seed)
    val (drawn, jobs) = JobCount(spark.sparkContext)(sampler.draw(n))
    val ids = drawn.sampledNodes.collect().map(_.getString(0)).toSeq
    val edges = drawn.selectedEdges.map(_.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
    (ids, edges, steps(sampler), jobs)
  }

  for ((kbName, n) <- Seq("fixture" -> 50, "sf0.001" -> 100); ((name, make), i) <- samplers.zipWithIndex)
    test(s"$name on $kbName: the driver draw equals the per-step draw in ≤ 4 jobs") {
      val (kb, lp) = if (kbName == "fixture") (fixture, HepatitisLikeKb.lp) else (tpch, tpchLp)
      val seed = 31L + i
      val (ids, edges, st, jobs) = run(make, kb, lp, seed, n)
      val (ids0, edges0, st0, jobs0) = noBroadcast(run(make, kb, lp, seed, n))
      assert(ids.size === n)
      assert(ids === ids0)
      assert(edges === edges0)
      assert(st === st0)
      assert(jobs <= 4, s"driver draw ran $jobs jobs")
      assert(jobs0 >= st0, s"per-step draw ran $jobs0 jobs for $st0 steps")
    }

  test("a prioritized walker keeps the per-step path at the default threshold") {
    val ranks = PageRank.compute(fixture, iterations = 5)
    ranks.count()
    val sampler = new WalkSampler(fixture, seed = 5, jumpProb = Some(0.1), prioritized = true,
      prRanks = Some(ranks))
    val (drawn, jobs) = JobCount(spark.sparkContext)(sampler.draw(50))
    assert(drawn.sampledNodes.count() === 50)
    val st = sampler.lastStats.get.steps
    assert(jobs > 4 && jobs >= st, s"$jobs jobs for $st steps")
  }
}
