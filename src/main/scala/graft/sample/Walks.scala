package graft.sample

import graft.core.{Determinism, Kb, Pin, Pinned}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The random-walk sampler family (reference classic_samplers.py:106-334 +
  * the LPF/LPC variants), one engine:
  *
  *  - RW   (jumpProb=None, prioritized=false)
  *  - RWJ  (jumpProb=Some(p)): Bernoulli(p) teleport each step
  *  - RWP  (prioritized=true): neighbor chosen with prob ∝ PageRank
  *    (reference get_prioritized_neighbor is a *weighted random* choice,
  *    _base.py:105 — not argmax)
  *  - RWJP (both)
  *  - LPFirst: walkers start on the LP nodes (lpf_samplers.py:68-85)
  *  - LPCentralized: teleports restricted to the LP tier set, escalating
  *    LP → 1-hop → 2-hop → all when stalled 0.05·|V| steps
  *    (lpc_samplers.py:89-116,158-169)
  *
  * Split of state: the WALK state — B walker positions, first-visit
  * order, traversed edges — is inherently O(B·steps) and lives on the
  * driver, in one loop. Only the step that expands walker positions into
  * picks and teleport landings has two forms (a step is a pick from the
  * frontier ⋈ edges join, which never has to be materialized): when the
  * graph fits the broadcast envelope the draw takes its rows from the
  * pins' own jobs and replays every step on the driver ([[LocalSteps]]);
  * above it, each step is one Spark job over literal frontier data
  * ([[SparkSteps]]). Both forms give the same sample.
  *
  * The reference's single walker is sequential by nature; the parity
  * contract is its tests' invariants — exact node counts, LP retention —
  * enforced by the deterministic arrival-order trim (SURVEY §7.3 #1). All
  * randomness is keyed by (walker, step, data) under the seed: identical
  * output at any parallelism.
  *
  * Dead ends teleport uniformly and record no edge
  * (classic_samplers.py:121-127: Neighbor(None, random)).
  */
final class WalkSampler(
    kb: Kb, seed: Long = 42L, jumpProb: Option[Double] = None,
    prioritized: Boolean = false, lpSeeds: Seq[String] = Nil, lpc: Boolean = false,
    walkers: Int = 16, maxSteps: Int = 2000, prIterations: Int = 100,
    prRanks: Option[org.apache.spark.sql.DataFrame] = None)
  extends GraphSampler {

  import WalkSampler.{StepOut, WalkSteps}

  /** stats of the most recent draw (steps taken) — evidence surface for
    * the benchmark; None until draw() runs */
  @volatile var lastStats: Option[DrawStats] = None

  /** the sampler's working tables, each pinned ONCE per sampler. A
    * prioritized draw otherwise evaluates the caller's full edge
    * derivation up to three times — PageRank adjacency, the neighbor
    * table, and the finalize semi-joins (for the TPC-H KG each evaluation
    * re-runs a 6-way union with two lineitem-scale distincts; r6 stage
    * evidence) — and the per-step cached scans sit on the same
    * materialized rows. An unweighted sampler's pins also return their
    * rows when they fit the envelope ([[Pin.withRows]]): both present
    * picks the driver step form, at no collect job of its own. Lazy: built
    * on first draw()/sample() use. */
  private def pin(df: DataFrame): (Pinned, Option[Array[Row]]) =
    if (prioritized) (Pin(df), None) else Pin.withRows(df)
  private lazy val (nodesPin, nodeRows) = pin(kb.nodes)
  private lazy val (edgesPin, edgeRows) = pin(kb.edges)
  private lazy val kbW: Kb = kb.copy(nodes = nodesPin.df, edges = edgesPin.df)

  def draw(n: Int): Drawn = {
    val kb = kbW // shadow: every table consumer below reads the pins
    val spark = kb.spark
    val nTotal = nodesPin.rows

    // The step that turns walker positions into picks and teleport
    // landings has two forms. When both pinned tables fit the broadcast
    // envelope, the draw replays every step's picks on the driver over
    // the rows the pins returned; otherwise each step is one Spark job. A
    // prioritized pick is a floating-point window sum whose addition
    // order Spark does not fix, so it always takes the Spark form (its
    // pins return no rows).
    val steps: WalkSteps = (nodeRows, edgeRows) match {
      case (Some(nr), Some(er)) => new LocalSteps(nr, er)
      case _ => new SparkSteps(kb, nTotal)
    }
    val tierCum = steps.tierCum

    // walkers: all LP nodes when given; else the first min(walkers, n)
    // nodes of the deterministic permutation (the reference starts at the
    // arbitrary first node of set-iteration order, classic_samplers.py:116)
    val starts: Seq[(Long, String)] =
      (if (lpSeeds.nonEmpty) lpSeeds else steps.firstInOrder(math.max(1, math.min(walkers, n))))
        .zipWithIndex.map { case (id, i) => (i.toLong, id) }

    // driver-side walk state (O(walkers · steps))
    var frontier: Seq[(Long, String)] = starts
    val firstVisit = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Long)]
    starts.sortBy(_._1).foreach { case (w, id) =>
      if (!firstVisit.contains(id)) firstVisit(id) = (0, w)
    }
    val edgeLog = scala.collection.mutable.LinkedHashSet.empty[(String, String, String)]

    var step = 0
    var lastCount = firstVisit.size
    var stall = 0L
    var esc = if (lpc) 0 else 3
    // reference stalls 0.05·|V| steps before escalating
    // (lpc_samplers.py:89,158) — calibrated to its in-memory micro-steps.
    // A batch engine escalates once the current exploration tier is
    // saturated: after ~2·|tier| no-progress teleports the tier is
    // exhausted with overwhelming probability. Invariants (LP retention,
    // exact counts) are unaffected; only time-to-escalate differs.
    def stallThreshold: Long = math.max(1L,
      math.min((0.05 * nTotal).toLong, math.max(10L, 2L * tierCum(esc))))

    while (firstVisit.size < n && step < maxSteps) {
      step += 1
      // the jump draw is a pure function of (seed, step, walker) — all
      // driver state — so the split is made HERE with the byte-exact JVM
      // mirror of the old in-plan Bernoulli column (DeterminismSpec
      // fuzzes the parity): the picks broadcast shrinks to the stepping
      // walkers and the jump branch needs no per-step filter subtree
      val (jumpFront, stepFront) = jumpProb match {
        case Some(p) => frontier.partition { case (w, _) =>
          Determinism.detRandJvm(seed + 3 * step, w) < p }
        case None => (Seq.empty[(Long, String)], frontier)
      }
      // teleport landing ranks of EVERY walker — jumpers (teleport always
      // applies) AND stepping walkers (whose landing is only a FALLBACK,
      // used iff the walker dead-ended). The rank is a pure function of
      // (seed + 11·step, walker), so a fallback row for a walker that
      // picked is simply discarded below. Jumpers and dead-ends are
      // disjoint walker sets, so the shared key never collides.
      val allowed = tierCum(esc)
      val tele = (jumpFront ++ stepFront).map { case (w, _) =>
        (w, Determinism.pmodJvm(Determinism.detHashJvm(seed + 11 * step, w), allowed) + 1) }
      val rows = steps.step(step, stepFront, tele)
      val picked = rows.iterator.filter(_.viaEdge).map(_.walker).toSet
      val jumped = jumpFront.iterator.map(_._1).toSet
      // keep: all picks; teleports of jumpers; fallback teleports of
      // dead-ended walkers (stepped but produced no pick). A walker
      // dead-ends iff it neither jumped nor produced a pick (a stepping
      // walker with any candidate always picks).
      val stepOut = rows.filter(o =>
        o.viaEdge || jumped(o.walker) || !picked(o.walker)).sortBy(_.walker)

      frontier = stepOut.map(o => (o.walker, o.next))
      stepOut.foreach { o =>
        if (o.viaEdge) edgeLog += ((o.src, o.pred, o.dst))
        if (firstVisit.size < n && !firstVisit.contains(o.next))
          firstVisit(o.next) = (step, o.walker)
      }

      // LPC stall escalation (lpc_samplers.py:166-169)
      if (lpc) {
        if (firstVisit.size == lastCount) stall += 1 else stall = 0
        if (stall >= stallThreshold && esc < 3) { esc += 1; stall = 0 }
        lastCount = firstVisit.size
      }
    }

    lastStats = Some(DrawStats(step))
    steps.release()
    // arrival-order trim to exactly n (insertion order of the LinkedHashMap
    // already is (step, walker) order; keep first n)
    val sampled = firstVisit.keysIterator.take(n).toSeq
    val sampledDf = spark.createDataset(sampled)(Encoders.STRING).toDF("id")
    val edgesDf = spark.createDataset(edgeLog.toSeq)(
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .toDF("src", "pred", "dst")
    Drawn(sampledDf, Some(edgesDf))
  }

  def sample(n: Int, dpp: Double = 1.0): Kb = {
    Samplers.checkInput(kb.nodes.count(), n, dpp)
    Samplers.finalizeSample(kbW, draw(n), dpp, seed)
  }

  /** The teleport index and the neighbor table as cached Spark tables;
    * every step is one Spark job. The per-step neighbor expansion is a
    * broadcast-frontier ⋈ edges join with per-walker seeded window picks;
    * teleports join the cached node index. Lineage never grows, so no
    * mid-loop checkpointing is needed. */
  private final class SparkSteps(kb: Kb, nTotal: Long) extends WalkSteps {
    private val spark = kb.spark

    // teleport index: tier-ordered for LPC (tier 0 first), hash-random
    // otherwise; trn ∈ [1, N] dense — a teleport is a join on a drawn rank.
    // Ranked via bucketed two-pass (tier × top hash bits → offsets +
    // partitioned window), NOT a global orderBy window: that would be a
    // single-task sort of the whole node table at scale.
    private val tiers =
      (if (lpc) Samplers.lpcTiers(kb, lpSeeds)
       else kb.nodes.select(col("id"), lit(0).as("tier"))).cache()
    private val teleHash = Determinism.detHash(seed ^ 0x77, col("id"))
    private val nodesIdx = graft.core.Ranks.rankByBucketedOrder(
        tiers.select(col("id"), col("tier")),
        col("tier") * 64 + graft.core.Ranks.signedRangeBucket(teleHash, 6),
        Seq(teleHash, col("id")), "trn")
      .cache()
    val tierCum: Array[Long] =
      if (lpc) {
        val counts = nodesIdx.groupBy("tier").agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        (0 to 3).map(t => (0 to t).map(counts.getOrElse(_, 0L)).sum).toArray
      } else Array(nTotal, nTotal, nTotal, nTotal)

    // prRanks lets a caller running SEVERAL prioritized samplers over the
    // same graph compute the (identical) rank table once and share it.
    // PageRank.compute returns materialized ranks (the in-linked ranks ∪
    // the source-only nodes at d/n) in the caller's session — a local
    // relation when its graph fits the broadcast envelope, the sweep
    // loop's final pin above it — so this projection is a
    // cheap scan.
    //
    // The rank table is joined INTO the neighbor table ONCE per draw (one
    // O(|E|) dst-keyed join, amortized over up to maxSteps steps) rather
    // than probed per step: the r3 broadcast(cand)→ranks BHJ killed the
    // per-step exchange but still SCANNED the whole O(|V|) cached rank
    // table every step — up to maxSteps=2000 full scans per draw at 100×
    // scale. With weights riding on the edges, each step reads ONLY the
    // cached neighbor table and no rank probe exists at all.
    //
    // (A hash(src)-bucketed variant of that cache with per-step
    // frontier-bucket pruning — ForestFire's pattern — was built and
    // MEASURED here: with walkers=64 over any practical bucket count the
    // frontier hits nearly every bucket every step, so the filter prunes
    // ~nothing while the bucketed repartition costs cache balance and
    // parallelism — smp_rwj_200 6.3→7.5 s, smp_rwp_200 16.8→21.5 s in
    // same-box A/B at sf0.1. The cache keeps natural partitioning, and the
    // entry stays plan-shared with other edge-table consumers.)
    private val ranks =
      if (prioritized)
        prRanks.getOrElse(PageRank.compute(kb, iterations = prIterations))
          .select(col("id").as("dst"), col("pr").as("w"))
      else null
    private val nbrs = WalkSampler.neighborTable(kb, Option(ranks)).cache()
    // per-step SCAN width, derived from graph size (nTotal, the counted
    // proxy): the cache keeps its natural partitioning — for the TPC-H KG
    // a 68-partition union whose per-step scans cost ~68 near-empty task
    // dispatches (the dominant share of the measured ~0.9 s step jobs;
    // r6 stage walls) — and the entries stay plan-shared with
    // finalize/other consumers, but each step reads it through a coalesce
    // sized so a task holds ~10⁵ rows. Narrowing is a pure scan transform:
    // join/pick results are byte-identical.
    private val scanParts = math.max(1, math.min(1024,
      (nTotal / WalkSampler.ScanRowsPerPartition).toInt))
    private val nbrsScan = nbrs.coalesce(scanParts)
    private val idxScan = nodesIdx.coalesce(scanParts)

    def firstInOrder(k: Int): Seq[String] =
      nodesIdx.orderBy(col("trn")).limit(k).collect().map(_.getString(0)).toSeq

    private val stepEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong)
    private val outEnc = Encoders.product[StepOut]
    private val longPairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

    // Per-step wall is dominated by a scheduling FLOOR (sequential jobs ×
    // local-mode job latency), not data volume: r6 measured it invariant
    // under shuffle width (32 → 8), AQE on/off, and across passes (so not
    // codegen compilation either). A step therefore runs the MINIMUM job
    // chain: ONE job — picks unioned with the teleport landings of every
    // walker. Folding the dead-end lookup into the same union removes one
    // SEQUENTIAL job-launch latency from every step with a dead end —
    // frequent on KGs with sink tiers (parts/regions) — for the price of a
    // tiny always-on cached-index join branch that runs concurrently with
    // the picks branch inside the one job. The data-proportional work per
    // step is the single cached-table scan.
    def step(step: Int, stepFront: Seq[(Long, String)], tele: Seq[(Long, Long)]): Seq[StepOut] = {
      // per-step draw seeds ride as DATA COLUMNS of the tiny frontier
      // relation, not literals: xxhash64 over a column holding the same
      // long is value-identical to the literal form, and with them the
      // step plan — and its generated codegen source — is byte-stable
      // across steps. With literal seeds every step paid a fresh
      // whole-stage-codegen compile (the dominant share of the measured
      // ~0.9 s step jobs at sf0.1; r6 job walls).
      val psV = seed + 5 * step
      val usV = seed + 7 * step
      val stepping = spark.createDataset(
          stepFront.map { case (w, c) => (w, c, psV, usV) })(stepEnc)
        .toDF("walker", "cur", "ps", "us")
      val cand = broadcast(stepping).join(nbrsScan, stepping("cur") === nbrsScan("src"))
        .select(Seq(col("walker"), col("ps"), col("us"), col("src"), col("pred"), col("dst")) ++
          (if (prioritized) Seq(col("w")) else Nil): _*)
      val pickHash = Determinism.detHashC(col("ps"), col("walker"), col("pred"), col("dst"))
      val picks =
        if (!prioritized) {
          val w = Window.partitionBy(col("walker")).orderBy(pickHash, col("pred"), col("dst"))
          cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        } else {
          // weighted choice ∝ pagerank of the neighbor (reference
          // _base.py:96-106); `w` rides on the candidate edges from the
          // draw-start rank join above — identical weights, same windowed
          // inverse-CDF pick, zero per-step rank-table work.
          val ww = Window.partitionBy(col("walker"))
          val wo = ww.orderBy(pickHash, col("pred"), col("dst"))
          cand
            .withColumn("cum", sum(col("w")).over(wo.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("tot", sum(col("w")).over(ww))
            .withColumn("u", Determinism.detRandC(col("us"), col("walker")))
            .filter(col("cum") >= col("u") * col("tot"))
            .withColumn("rn", row_number().over(Window.partitionBy(col("walker")).orderBy(col("cum"))))
            .filter(col("rn") === 1)
            .select(col("walker"), col("src"), col("pred"), col("dst"))
        }

      // teleports: the driver-computed landing ranks join the cached node
      // index. The plan carries no per-step literals, so it stays
      // byte-stable across steps (codegen-cache friendly).
      val picksOut = picks
        .select(col("walker"), col("dst").as("next"), col("src"), col("pred"),
          col("dst"), lit(true).as("viaEdge"))
      val withTele =
        if (tele.isEmpty) picksOut
        else picksOut.unionAll(
          broadcast(spark.createDataset(tele)(longPairEnc).toDF("walker", "trn"))
            .join(idxScan.select("id", "trn"), Seq("trn"))
            .select(col("walker"), col("id").as("next"), lit("").as("src"),
              lit("").as("pred"), lit("").as("dst"), lit(false).as("viaEdge")))
      withTele.as[StepOut](outEnc).collect().toSeq
    }

    def release(): Unit = {
      nodesIdx.unpersist()
      tiers.unpersist()
      nbrs.unpersist()
    }
  }

  /** The same teleport index and picks over the rows of the two pinned
    * tables — at most one broadcast envelope of rows each, returned by the
    * pins' own jobs. Replays the Spark form byte for byte: the index order
    * is (tier, teleHash, id) because the rank bucket is monotone in the
    * hash, and a pick is the minimum of (xxhash64(ps, walker, pred, dst),
    * pred, dst) with strings compared as Spark compares them. */
  private final class LocalSteps(nodeRows: Array[Row], edgeRows: Array[Row]) extends WalkSteps {
    private val adj: Map[String, Array[(String, String)]] =
      edgeRows.groupBy(_.getAs[String]("src"))
        .map { case (src, rs) => src -> rs.map(r => (r.getAs[String]("pred"), r.getAs[String]("dst"))) }
    private val nodes: Array[String] = nodeRows.map(_.getAs[String]("id"))

    // LPC tiers (Samplers.lpcTiers): 0 = LP, 1 / 2 = out-neighbors of the
    // previous tier, 3 = everything else
    private val tier: String => Int =
      if (!lpc) _ => 0
      else {
        def hop(of: Set[String]) =
          of.iterator.flatMap(s => adj.getOrElse(s, Array.empty[(String, String)]).iterator.map(_._2)).toSet
        val t0 = lpSeeds.toSet
        val t1 = hop(t0)
        val t2 = hop(t1)
        id => if (t0(id)) 0 else if (t1(id)) 1 else if (t2(id)) 2 else 3
      }
    private val tiered: Array[(Int, String)] = nodes.map(id => (tier(id), id))
    private val index: Array[String] = tiered
      .map { case (t, id) => (t, Determinism.detHashJvm(seed ^ 0x77, id), id) }
      .sorted(Ordering.Tuple3(Ordering.Int, Ordering.Long, Determinism.utf8Order))
      .map(_._3)
    val tierCum: Array[Long] =
      if (lpc) (0 to 3).map(t => tiered.count(_._1 <= t).toLong).toArray
      else Array.fill(4)(nodes.length.toLong)

    def firstInOrder(k: Int): Seq[String] = index.take(k).toSeq

    private val pickOrder =
      Ordering.Tuple3(Ordering.Long, Determinism.utf8Order, Determinism.utf8Order)

    def step(step: Int, stepFront: Seq[(Long, String)], tele: Seq[(Long, Long)]): Seq[StepOut] = {
      val ps = seed + 5 * step
      val picks = stepFront.flatMap { case (w, cur) =>
        adj.get(cur).map { cands =>
          val (pred, dst) = cands.minBy { case (p, d) => (Determinism.detHashJvm(ps, w, p, d), p, d) }(pickOrder)
          StepOut(w, dst, cur, pred, dst, viaEdge = true)
        }
      }
      picks ++ tele.map { case (w, trn) =>
        StepOut(w, index((trn - 1).toInt), "", "", "", viaEdge = false) }
    }

    def release(): Unit = ()
  }
}

object WalkSampler {
  /** one walker-step result row (top-level for encoder derivation) */
  final case class StepOut(walker: Long, next: String,
                           src: String, pred: String, dst: String, viaEdge: Boolean)

  /** Target rows per task for the per-step cached-table scans: the
    * coalesce width is |V|/this (capped at 1024) — ~1 task at fixture
    * scale (68 near-empty task dispatches per step otherwise), ~10⁵-row
    * tasks on large graphs. */
  val ScanRowsPerPartition: Long = 131072L

  /** One step form of the walk loop: the teleport index and the
    * frontier → picks expansion. `step` returns a pick for every stepping
    * walker that has an out-edge and a landing for every (walker, rank) in
    * `tele`; the loop keeps the ones that apply. */
  private[sample] trait WalkSteps {
    def tierCum: Array[Long]
    def firstInOrder(k: Int): Seq[String]
    def step(step: Int, stepFront: Seq[(Long, String)], tele: Seq[(Long, Long)]): Seq[StepOut]
    def release(): Unit
  }

  /** The per-draw neighbor table: ranks pre-joined onto edges when
    * prioritized (one O(|E|) join per draw; every step then reads ONLY
    * this table — no per-step rank probe), plain edges otherwise. Natural
    * partitioning is kept deliberately: a bucketed repartition was
    * measured strictly slower (see the SparkSteps comment). Exposed so
    * PlanShapeSpec audits the exact shape the engine caches. Callers cache
    * the result. */
  private[graft] def neighborTable(
      kb: graft.core.Kb,
      ranks: Option[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    ranks match {
      case Some(r) => kb.edges.select(col("src"), col("pred"), col("dst"))
        .join(r, Seq("dst"))
        .select(col("src"), col("pred"), col("dst"), col("w"))
      // verbatim kb.edges (no no-op Project): the cache entry then shares
      // its canonical plan with every other consumer of the edge table
      case None => kb.edges
    }
  }
}
