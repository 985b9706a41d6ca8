package graft.sample

import graft.SparkSpec
import graft.core.{Kb, Pin, PropMeta}
import graft.fixtures.HepatitisLikeKb
import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.GraftPin
import org.apache.spark.sql.functions.col

/** The walk and fire samplers run a draw on the driver when their pinned
  * graph fits the broadcast envelope, and one Spark job per step above it.
  * The two forms must give the same draw: sampled ids in order, the
  * traversed edge set and the step count, for every unweighted walker
  * (RW, RWJ and their LP-first and LP-centralized variants) and for both
  * fire samplers, on the fixture KB and on the sf0.001 TPC-H KG. Threshold
  * -1 forces the per-step form.
  *
  * `Samplers.finalizeSample` restricts the KB to a drawn sample in one of
  * three forms: a filter over a cached KB's driver image when the sample
  * and the KB's four tables fit the envelope, IN-set filters over the
  * driver-held sample ids when only the sample fits, distinct +
  * semi-joins above it. All three must give the same nodes, edges,
  * attributes, types and pruned property declarations, for every sampler
  * on the fixture KB and on sf0.001, at dpp 1.0 and 0.5: "both finalize
  * forms" holds the IN-set form (at a threshold between the sample's and
  * the KB's size) to the semi-join form, and the image form is held to the
  * IN-set form row for row, in the same order. An uncached KB builds no
  * image: a walk or fire sample from it finalizes and collects in ≤ 4
  * jobs, as the IN-set form alone did, and so does a cached KB's first
  * finalize, which builds the image. Once a KB holds its image, a walk or
  * fire sample finalizes and collects with no Spark job, a RandomNode
  * sample with one (its draw); above the envelope no full-table collect
  * runs. */
class DriverPathSpec extends SparkSpec {

  // tables materialized up front, so a draw's or a finalize's job count is
  // its own; pinned rather than cached, so no cache entry reshapes other
  // suites' plans
  private def pinned(kb: Kb): Kb = kb.copy(nodes = Pin(kb.nodes).df, edges = Pin(kb.edges).df,
    attrs = Pin(kb.attrs).df, types = Pin(kb.types).df)
  lazy val fixture: Kb = pinned(HepatitisLikeKb.kb(spark))
  lazy val tpch: Kb = pinned(graft.sources.TpchKg.load(spark, "/root/testdata/sf0.001"))
  // the same KBs pinned apart and cached, as a sampling user keeps a KB
  // it draws many samples from: these hold their driver image
  lazy val fixtureKept: Kb = pinned(HepatitisLikeKb.kb(spark)).cache()
  lazy val tpchKept: Kb = pinned(graft.sources.TpchKg.load(spark, "/root/testdata/sf0.001")).cache()
  lazy val tpchLp: Seq[String] = tpch.nodes.filter(col("id").startsWith("c:"))
    .orderBy(col("id")).limit(4).collect().map(_.getString(0)).toSeq
  // ranks for the prioritized walkers, computed once rather than per sampler
  lazy val fixtureRanks: DataFrame = PageRank.compute(fixture, iterations = 5).localCheckpoint(true)

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

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private type Snapshot = (Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]], Seq[PropMeta])

  /** the finalized KB's rows in order, plus its pruned property declarations */
  private def snapshot(kb: Kb): Snapshot =
    (rows(kb.nodes), rows(kb.edges), rows(kb.attrs), rows(kb.types), kb.tbox.props)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  // (KB, sampler, n): every sampler on both KBs, the benchmark's five
  // requests at their benchmark sizes
  private val benchSizes = Map("RandomNodeSampler" -> 500, "RandomEdgeSampler" -> 500)
  private val cases: Seq[(String, String, Int)] =
    Samplers.allNames.map(name => ("fixture", name, 50)) ++
      Samplers.allNames.map(name => ("sf0.001", name, benchSizes.getOrElse(name, 100)))

  lazy val tpchRanks: DataFrame = PageRank.compute(tpch, iterations = 5).localCheckpoint(true)

  private def kbOf(kbName: String): (Kb, Seq[String]) =
    if (kbName == "fixture") (fixtureKept, HepatitisLikeKb.lp) else (tpchKept, tpchLp)

  // each case's draw, pinned so every form reads the same rows at their
  // counted size, and its IN-set snapshot per dpp: both test families use them
  private val draws = scala.collection.mutable.Map.empty[Int, Drawn]
  private val inSets = scala.collection.mutable.Map.empty[(Int, Double), Snapshot]

  private def drawnFor(i: Int): Drawn = draws.getOrElseUpdate(i, {
    val (kbName, name, n) = cases(i)
    val (kb, lp) = kbOf(kbName)
    val ranks =
      if (!name.contains("Prioritization")) None
      else if (kbName == "fixture") Some(fixtureRanks) else Some(tpchRanks)
    val d = Samplers.byName(name, kb, lp, 17L + i, prRanks = ranks).draw(n)
    Drawn(Pin(d.sampledNodes).df, d.selectedEdges.map(Pin(_).df))
  })

  /** the IN-set form, at a threshold that the sample fits and the KB's
    * four tables together do not */
  private def inSetFor(i: Int, dpp: Double): Snapshot = inSets.getOrElseUpdate((i, dpp), {
    val (kbName, name, _) = cases(i)
    val kb = kbOf(kbName)._1
    val drawn = drawnFor(i)
    val kbBytes = kb.imageBytes.get
    val sampleBytes = GraftPin.estimate(drawn.sampledNodes)._1
    assert(sampleBytes < kbBytes, s"$name: sample $sampleBytes bytes, KB $kbBytes")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> (kbBytes - 1).toString) {
      val s = Samplers.finalizeSample(kb, drawn, dpp, 17L + i)
      assert(plan(s.nodes).contains("INSET") && !plan(s.nodes).contains("Join"),
        s"$name: IN-set form:\n${plan(s.nodes)}")
      val snap = snapshot(s)
      assert(snap._1.nonEmpty, s"$name: empty sample")
      snap
    }
  })

  for (((kbName, name, _), i) <- cases.zipWithIndex)
    test(s"$name on $kbName: both finalize forms give the same KB at dpp 1.0 and 0.5") {
      for (dpp <- Seq(1.0, 0.5)) {
        val expected = inSetFor(i, dpp)
        val joined = noBroadcast {
          val s = Samplers.finalizeSample(kbOf(kbName)._1, drawnFor(i), dpp, 17L + i)
          assert(plan(s.nodes).contains("LeftSemi"), s"$name: semi-join form:\n${plan(s.nodes)}")
          snapshot(s)
        }
        for ((t, a, b) <- Seq(("nodes", expected._1, joined._1), ("edges", expected._2, joined._2),
            ("attrs", expected._3, joined._3), ("types", expected._4, joined._4)))
          assert(b.toSet === a.toSet && b.size === a.size, s"$name dpp $dpp: $t, semi-join vs IN-set")
        assert(joined._5 === expected._5, s"$name dpp $dpp: tbox props")
      }
    }

  for (((kbName, name, _), i) <- cases.zipWithIndex)
    test(s"$name on $kbName: the image finalize equals the IN-set finalize row for row at dpp 1.0 and 0.5") {
      assert(kbOf(kbName)._1.imageIfFits.isDefined, s"$kbName: the KB fits the envelope")
      for (dpp <- Seq(1.0, 0.5)) {
        val s = Samplers.finalizeSample(kbOf(kbName)._1, drawnFor(i), dpp, 17L + i)
        assert(s.nodes.isLocal && s.edges.isLocal && s.types.isLocal, s"$name: image form:\n${plan(s.nodes)}")
        val image = snapshot(s)
        val expected = inSetFor(i, dpp)
        for ((t, a, b) <- Seq(("nodes", expected._1, image._1), ("edges", expected._2, image._2),
            ("attrs", expected._3, image._3), ("types", expected._4, image._4)))
          assert(b === a, s"$name dpp $dpp: $t, image vs IN-set (rows in order)")
        assert(image._5 === expected._5, s"$name dpp $dpp: tbox props")
      }
    }

  /** finalize plus the benchmark's node and edge collects, jobs counted,
    * once `kb` holds its image */
  private def finalizeJobs(kb: Kb, name: String, n: Int, cached: Boolean = false): Int = {
    val lp = if (kb eq fixtureKept) HepatitisLikeKb.lp else tpchLp
    val drawn = Samplers.byName(name, kb, lp, seed = 9L).draw(n)
    assert(kb.imageIfFits.isDefined)
    val (s, jobs) = JobCount(spark.sparkContext) {
      val s0 = Samplers.finalizeSample(kb, drawn, seed = 9L)
      val s = if (cached) s0.cache() else s0
      s.nodes.collect()
      s.edges.select("src", "dst").collect()
      s
    }
    assert(s.nodes.isLocal && s.edges.isLocal && s.attrs.isLocal && s.types.isLocal)
    if (cached) s.unpersist()
    jobs
  }

  for ((kbName, name) <- Seq("fixture", "sf0.001").flatMap(k =>
      Seq(k -> "ForestFireSampler", k -> "RandomWalkerJumpsSampler")))
    test(s"$name on $kbName: finalize plus the node and edge collects run ≤ 4 jobs") {
      // a fresh, uncached instance: it never builds an image
      val kb = (if (kbName == "fixture") fixture else tpch).copy()
      val drawn = Samplers.byName(name, kb, seed = 9L).draw(if (kbName == "fixture") 50 else 100)
      for (_ <- 1 to 2) {
        val (_, jobs) = JobCount(spark.sparkContext) {
          val s = Samplers.finalizeSample(kb, drawn, seed = 9L)
          (s.nodes.collect(), s.edges.select("src", "dst").collect())
        }
        assert(jobs <= 4, s"finalize + collects ran $jobs jobs")
        assert(!kb.imageBuilt, "an uncached KB builds no image")
      }
    }

  for ((kbName, name) <- Seq("fixture", "sf0.001").flatMap(k =>
      Seq(k -> "ForestFireSampler", k -> "RandomWalkerJumpsSampler")))
    test(s"$name on $kbName: a cached KB's first finalize, which builds its image, runs ≤ 4 jobs with the collects") {
      val kb = (if (kbName == "fixture") fixtureKept else tpchKept).copy() // a fresh instance: no image yet
      val drawn = Samplers.byName(name, kb, seed = 9L).draw(if (kbName == "fixture") 50 else 100)
      kb.nodes.count(); kb.edges.count(); kb.attrs.count(); kb.types.count() // the cache, filled
      val (s, jobs) = JobCount(spark.sparkContext) {
        val s = Samplers.finalizeSample(kb, drawn, seed = 9L)
        s.nodes.collect(); s.edges.select("src", "dst").collect()
        s
      }
      info(s"first finalize + collects: $jobs jobs")
      assert(kb.imageBuilt && s.nodes.isLocal && s.edges.isLocal)
      assert(jobs <= 4, s"finalize + collects ran $jobs jobs")
    }

  for (kbName <- Seq("fixture", "sf0.001"); name <- Seq("ForestFireSampler",
      "ForestFireSamplerLPCentralized", "RandomWalkSampler", "RandomWalkerJumpsSampler",
      "RandomWalkerJumpsSamplerLPFirst", "RandomWalkSamplerLPCentralized"))
    test(s"$name on $kbName: with the KB's image, finalize plus the collects run no job") {
      val kb = if (kbName == "fixture") fixtureKept else tpchKept
      val jobs = finalizeJobs(kb, name, if (kbName == "fixture") 50 else 100)
      assert(jobs === 0, s"finalize + collects ran $jobs jobs")
    }

  test("a cached image-form sample (the LP-aware request) still collects with no job") {
    for (kb <- Seq(fixtureKept, tpchKept)) {
      val jobs = finalizeJobs(kb, "ForestFireSamplerLPCentralized", 50, cached = true)
      assert(jobs === 0, s"finalize + cache + collects ran $jobs jobs")
    }
  }

  test("RandomNodeSampler with the KB's image: finalize plus the collects run ≤ 1 job") {
    for ((kb, n) <- Seq(fixtureKept -> 50, tpchKept -> 500)) {
      val jobs = finalizeJobs(kb, "RandomNodeSampler", n)
      assert(jobs <= 1, s"finalize + collects ran $jobs jobs")
    }
  }

  test("above the envelope no full-table collect runs: no image is built") {
    val drawn = Samplers.byName("ForestFireSampler", tpchKept, seed = 9L).draw(100)
    for (kbMinusOne <- Seq(true, false)) {
      val kb = tpchKept.copy() // a fresh cached instance: no image yet
      val threshold = if (kbMinusOne) (kb.imageBytes.get - 1).toString else "-1"
      val s = withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        Seq.fill(2) {
          val s = Samplers.finalizeSample(kb, drawn, seed = 9L)
          s.nodes.collect()
          s.edges.select("src", "dst").collect()
          s
        }.last
      }
      assert(!kb.imageBuilt, s"threshold $threshold: the image was built")
      assert(!s.nodes.isLocal && !s.edges.isLocal, s"threshold $threshold: not the image form")
    }
  }
}
