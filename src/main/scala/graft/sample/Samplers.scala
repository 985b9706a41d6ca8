package graft.sample

import graft.core.{Determinism, Kb, Pin}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What a sampling pass produces before materialization: the sampled node
  * set and (unless the sampler is induced-subgraph-style) the edges it
  * traversed (reference `_sampled_nodes_edges`, ontosample/_base.py:67). */
final case class Drawn(
    sampledNodes: DataFrame,            // id
    selectedEdges: Option[DataFrame])   // src, pred, dst; None ⇒ include_all_edges

/** What the most recent draw of a step-wise sampler took: walk steps or
  * forest-fire burn rounds. */
final case class DrawStats(steps: Int)

/** Shared sampler machinery (reference ontosample/_base.py).
  *
  * Determinism contract: every random draw derives from (data key, seed) via
  * Determinism — outputs are identical at any parallelism. The counts /
  * LP-retention invariants of the reference's tests are the parity surface
  * (its own RNG is unseeded; see SURVEY §2.5 determinism policy).
  */
object Samplers {

  /** get_subgraph_by_remove (reference _base.py:158-196), purely
    * functionally: derive nodes'/edges'/attrs'/types' by [[Kb.restrictedTo]];
    * apply the dpp quirk; prune unused data-property declarations. When the
    * restriction comes back as local relations (the KB's driver image),
    * the selected-edge probe and the pruning run on the driver as well, so
    * a walk or fire sample at dpp 1.0 is finalized and collected with no
    * Spark job.
    *
    * dpp semantics (reference _base.py:264-276, SURVEY M2): dpp is the
    * fraction REMOVED per node — nr_to_remove = int(dpp·cnt) — and
    * dpp == 1.0 short-circuits to keep-all (guards `< 1` at :187,191).
    */
  def finalizeSample(kb: Kb, drawn: Drawn, dpp: Double = 1.0, seed: Long = 42L): Kb = {
    require(dpp >= 0 && dpp <= 1, "data properties percentage must be within [0,1]")
    // edge retention (J3/J4): either induced subgraph or sampler-selected
    // edges; both endpoint-filtered (removing a node removes its incident
    // assertions, _base.py:178-180)
    val base = kb.restrictedTo(drawn.sampledNodes)
    val edges = drawn.selectedEdges match {
      case None => base.edges // include_all_edges=True: induced
      case Some(sel) =>
        // under the envelope the selected edges are de-duplicated on the
        // driver: probed there when the restricted edges are local too (the
        // image form), else probed as a local relation; above it distinct'ed
        val triples = sel.select("src", "pred", "dst")
        Pin.collectIfFits(triples) match {
          case Some(rows) if base.edges.isLocal =>
            // a null key matches nothing, as in the semi-join
            val selected = rows.filterNot(_.anyNull).map(_.toSeq).toSet
            Pin.local(kb.spark, base.edges.collect().filter(r => selected(r.toSeq)), base.edges.schema)
          case Some(rows) =>
            base.edges.join(Pin.local(kb.spark, rows.distinct, triples.schema), Seq("src", "pred", "dst"), "left_semi")
          case None =>
            base.edges.join(triples.distinct(), Seq("src", "pred", "dst"), "left_semi")
        }
    }
    val attrs =
      if (dpp >= 1.0) base.attrs // reference no-op quirk at dpp=1.0
      else {
        val w = Window.partitionBy(col("node"))
        val order = Window.partitionBy(col("node"))
          .orderBy(Determinism.detHash(seed ^ 0x5A5A, col("node"), col("prop"), col("lexical")),
            col("prop"), col("lexical"))
        base.attrs
          .withColumn("cnt", count(lit(1)).over(w))
          .withColumn("rn", row_number().over(order))
          // keep cnt - int(dpp*cnt) values per node (int() truncates)
          .filter(col("rn") <= col("cnt") - (col("cnt") * lit(dpp)).cast("long"))
          .drop("cnt", "rn")
      }
    Kb(base.nodes, edges, attrs, base.types, kb.tbox)
      .pruneUnusedDataProps() // runs regardless of dpp (_base.py:189)
  }

  /** nodes with a deterministic uniform order column `ord` (+ tiebreak by
    * id). With `keyed` (id, k) present, the portable LCG order is used so an
    * external SQL oracle can reproduce the draw. */
  def withOrd(nodes: DataFrame, seed: Long, keyed: Option[DataFrame]): DataFrame =
    keyed match {
      case Some(k) =>
        nodes.join(k, Seq("id")).select(col("id"),
          Determinism.lcg(col("k"), seed).as("ord"))
      case None =>
        nodes.select(col("id"), Determinism.detHash(seed, col("id")).as("ord"))
    }

  /** LPC tier table (reference lpc_samplers.py:34-49): tier 0 = LP nodes,
    * 1 = out-neighbors of LP, 2 = out-neighbors of tier 1, 3 = everything
    * else. Two frontier joins — LP sets are small, so both broadcast. */
  def lpcTiers(kb: Kb, lp: Seq[String]): DataFrame = {
    val spark = kb.spark
    val t0 = spark.createDataset(lp)(Encoders.STRING).toDF("id")
    def hop(of: DataFrame) = kb.edges
      .join(broadcast(of.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
    val t1 = hop(t0)
    val t2 = hop(t1)
    val tiered = t0.select(col("id"), lit(0).as("tier"))
      .unionAll(t1.select(col("id"), lit(1).as("tier")))
      .unionAll(t2.select(col("id"), lit(2).as("tier")))
      .groupBy("id").agg(min(col("tier")).as("tier"))
    kb.nodes.join(tiered, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("tier"), lit(3)).as("tier"))
  }

  /** check_input (reference _base.py:224-233). */
  def checkInput(totalNodes: Long, nodesNumber: Int, dpp: Double): Unit = {
    if (nodesNumber > totalNodes)
      throw new IllegalArgumentException(
        s"The number of nodes is too large (total nodes: $totalNodes)")
    if (dpp > 1 || dpp < 0)
      throw new IllegalArgumentException(
        "Data properties sample percentage must be a value between 1 and 0")
  }

  /** Registry: the reference's 20 exported sampler classes
    * (ontosample/classic_samplers.py, lpf_samplers.py, lpc_samplers.py) by
    * name. LP-first / LP-centralized variants are policy configurations of
    * the four engines (SURVEY §2.5 R8-R20). */
  def byName(name: String, kb: Kb, lp: Seq[String] = Nil, seed: Long = 42L,
             keyed: Option[DataFrame] = None,
             prRanks: Option[DataFrame] = None): GraphSampler = name match {
    case "RandomNodeSampler" => new RandomNodeSampler(kb, seed, keyed)
    case "RandomEdgeSampler" => new RandomEdgeSampler(kb, seed, keyed)
    case "RandomWalkSampler" => new WalkSampler(kb, seed)
    case "RandomWalkerJumpsSampler" => new WalkSampler(kb, seed, jumpProb = Some(0.1))
    case "RandomWalkerWithPrioritizationSampler" =>
      new WalkSampler(kb, seed, prioritized = true, prRanks = prRanks)
    case "RandomWalkerJumpsWithPrioritizationSampler" =>
      new WalkSampler(kb, seed, jumpProb = Some(0.1), prioritized = true, prRanks = prRanks)
    case "ForestFireSampler" => new ForestFireSampler(kb, seed)
    // LP-first (lpf_samplers.py): seed/prefer LP nodes
    case "RandomNodeSamplerLPFirst" => new RandomNodeSampler(kb, seed, keyed, lpSeeds = lp)
    case "RandomEdgeSamplerLPFirst" => new RandomEdgeSampler(kb, seed, keyed, lpSeeds = lp)
    case "RandomWalkSamplerLPFirst" => new WalkSampler(kb, seed, lpSeeds = lp)
    case "RandomWalkerJumpsSamplerLPFirst" => new WalkSampler(kb, seed, jumpProb = Some(0.1), lpSeeds = lp)
    case "RandomWalkerWithPrioritizationSamplerLPFirst" =>
      new WalkSampler(kb, seed, prioritized = true, lpSeeds = lp, prRanks = prRanks)
    case "RandomWalkerJumpsWithPrioritizationSamplerLPFirst" =>
      new WalkSampler(kb, seed, jumpProb = Some(0.1), prioritized = true, lpSeeds = lp,
        prRanks = prRanks)
    // LP-centralized (lpc_samplers.py): restrict exploration to LP tiers
    case "RandomNodeSamplerLPCentralized" => new RandomNodeSampler(kb, seed, keyed, lpSeeds = lp, lpc = true)
    case "RandomEdgeSamplerLPCentralized" => new RandomEdgeSampler(kb, seed, keyed, lpSeeds = lp, lpc = true)
    case "RandomWalkSamplerLPCentralized" => new WalkSampler(kb, seed, lpSeeds = lp, lpc = true)
    case "RandomWalkerJumpsSamplerLPCentralized" =>
      new WalkSampler(kb, seed, jumpProb = Some(0.1), lpSeeds = lp, lpc = true)
    case "RandomWalkerWithPrioritizationSamplerLPCentralized" =>
      new WalkSampler(kb, seed, prioritized = true, lpSeeds = lp, lpc = true, prRanks = prRanks)
    case "RandomWalkerJumpsWithPrioritizationSamplerLPCentralized" =>
      new WalkSampler(kb, seed, jumpProb = Some(0.1), prioritized = true, lpSeeds = lp,
        lpc = true, prRanks = prRanks)
    case "ForestFireSamplerLPCentralized" => new ForestFireSampler(kb, seed, lpSeeds = lp)
    case other => throw new IllegalArgumentException(s"unknown sampler $other")
  }

  val allNames: Seq[String] = Seq(
    "RandomNodeSampler", "RandomEdgeSampler", "RandomWalkSampler",
    "RandomWalkerJumpsSampler", "RandomWalkerWithPrioritizationSampler",
    "RandomWalkerJumpsWithPrioritizationSampler", "ForestFireSampler",
    "RandomNodeSamplerLPFirst", "RandomEdgeSamplerLPFirst", "RandomWalkSamplerLPFirst",
    "RandomWalkerJumpsSamplerLPFirst", "RandomWalkerWithPrioritizationSamplerLPFirst",
    "RandomWalkerJumpsWithPrioritizationSamplerLPFirst",
    "RandomNodeSamplerLPCentralized", "RandomEdgeSamplerLPCentralized",
    "RandomWalkSamplerLPCentralized", "RandomWalkerJumpsSamplerLPCentralized",
    "RandomWalkerWithPrioritizationSamplerLPCentralized",
    "RandomWalkerJumpsWithPrioritizationSamplerLPCentralized",
    "ForestFireSamplerLPCentralized")
}

/** Common contract (reference Sampler.sample signature). */
trait GraphSampler {
  /** Draw the sample (nodes + traversed edges) without materializing. */
  def draw(nodesNumber: Int): Drawn
  /** sample(n, dpp) → new KB (reference contract). */
  def sample(nodesNumber: Int, dpp: Double = 1.0): Kb
}
