package graft.sample

import graft.core.{Determinism, Kb, Pin}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ForestFireSampler (reference classic_samplers.py:337-420): ignite a
  * random node; burning a node records ALL its outgoing edges
  * (classic_samplers.py:377 stores the full neighbor set) and burns
  * min(geometric(p=0.4), |unvisited nbrs|) random neighbors next; when the
  * fire dies and the sample is still short, re-ignite at a random unburned
  * node (:392-398). Because every sampled node is burned with its full edge
  * list, the materialized edge set equals the induced subgraph on the
  * sample — finalize uses the induced path.
  *
  * Split of state: the burn bookkeeping is O(sample) and lives on the
  * driver, in one loop — the sample is being collected anyway. Only the
  * step that spreads a frontier to the neighbors it burns next, and the
  * ignition pool it reads, have two forms: when the graph fits the
  * broadcast envelope the draw takes its rows from the pins' own jobs and
  * runs every round on the driver ([[LocalBurns]]); above it, each round
  * is one Spark job over literal frontier data ([[SparkBurns]]). Both
  * forms give the same sample. The reference's backlog deque (maxlen 100,
  * hop 10) is a sequential artifact replaced by re-ignition; the tested
  * invariants (exact n, LP retention) are preserved by the deterministic
  * (round, hash) trim.
  *
  * LPCentralized (lpc_samplers.py:270-316): the first fire's queue is the
  * LP node list.
  */
final class ForestFireSampler(
    kb: Kb, seed: Long = 42L, p: Double = 0.4, lpSeeds: Seq[String] = Nil,
    maxRounds: Int = 10000) extends GraphSampler {

  import ForestFireSampler.{Buckets, Burns}

  /** burn rounds of the most recent draw; None until draw() runs */
  @volatile var lastStats: Option[DrawStats] = None

  def draw(n: Int): Drawn = {
    val spark = kb.spark
    val (nodes, nodeRows) = Pin.withRows(kb.nodes)
    val (edges, edgeRows) = Pin.withRows(kb.edges)
    val burns: Burns = (nodeRows, edgeRows) match {
      case (Some(nr), Some(er)) => new LocalBurns(nr, er, n)
      case _ => new SparkBurns(nodes.df, edges.df, n)
    }

    // driver-side burn state: insertion order = (round, in-round hash) order
    val burned = scala.collection.mutable.LinkedHashSet.empty[String]
    // restart batch mirrors the reference's restart_hop_size=10 (it pops up
    // to 10 backlog nodes when the queue dies, classic_samplers.py:369-372)
    def ignite(k: Int = 10, excl: Set[String] = Set.empty): Seq[String] =
      burns.ignitionPool.iterator.filterNot(id => burned.contains(id) || excl(id)).take(k).toSeq

    var frontier: Seq[String] = if (lpSeeds.nonEmpty) lpSeeds else ignite(1)
    var round = 0
    while (burned.size < n && round < maxRounds && frontier.nonEmpty) {
      round += 1
      // burn the frontier (bounded by n — stop admitting once full)
      frontier.foreach(id => if (burned.size < n) burned += id)
      if (burned.size >= n) {
        frontier = Nil
      } else {
        // ≤ Σ geometric caps ids; dedup + order on the driver
        val next = burns.spread(round, frontier, burned).distinct
          .sortBy(dst => (Determinism.detHashJvm(seed + 23 * round, dst), dst))

        // Concurrent fires: the reference restarts a dying fire from its
        // visited-nodes backlog / a fresh random node, one fire at a time
        // (classic_samplers.py:365-398 — a sequential-runtime artifact).
        // The level-synchronous engine equivalent lights the replacement
        // ignition points IN THE SAME ROUND whenever the surviving frontier
        // drops below the target hop, instead of spending a whole
        // fixed-cost Spark job on a 1-node frontier. The hop scales with
        // the remaining budget (10..64): burn trajectory stays
        // fire-shaped, round count stays O(n / mean-burst) — this is what
        // keeps the loop job-latency-bound rather than round-bound at any
        // data scale. Invariants (exact n, LP retention, valid induced
        // edges, determinism per seed) are unchanged.
        val hop = math.max(16, math.min(96, (n - burned.size) / 6))
        frontier =
          if (next.size >= hop) next
          else next ++ ignite(hop - next.size, excl = next.toSet)
      }
    }

    lastStats = Some(DrawStats(round))
    burns.release()
    val sampledDf = spark.createDataset(burned.toSeq.take(n))(Encoders.STRING).toDF("id")
    Drawn(sampledDf, selectedEdges = None) // induced: see class doc
  }

  def sample(n: Int, dpp: Double = 1.0): Kb = {
    Samplers.checkInput(kb.nodes.count(), n, dpp)
    Samplers.finalizeSample(kb, draw(n), dpp, seed)
  }

  /** Deterministic permutation for (re-)ignition picks: the first n + 1000
    * nodes in (hash, id) order — burned ≤ n, so ≥ 1000 unburned candidates
    * remain. */
  private def poolSize(n: Int) = n + 1000

  /** The neighbor table as a cached Spark table; every round is one job.
    * The neighbor expansion is a frontier ⋈ edges scan with per-source
    * geometric caps (window rank). */
  private final class SparkBurns(nodes: DataFrame, edges: DataFrame, n: Int) extends Burns {
    private val spark = nodes.sparkSession
    private def bkt(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(Buckets)).cast("int")
    private def bucketOf(id: String): Int =
      Determinism.pmodJvm(Determinism.xxhashJvm(id), Buckets).toInt

    // (src, dst) neighbor pairs deduplicated ONCE outside the burn loop
    // (multi-predicate edges would otherwise force a distinct — a shuffle —
    // inside every round), BUCKETED by hash(src) and cached clustered by
    // bucket: each round filters to the frontier's buckets (driver-computed
    // with the xxhash64 mirror), so the cached scan batch-prunes to
    // ~|frontier buckets|/16 of the edge table instead of re-scanning all
    // of it every round — the 100×-scale fix for level-synchronous
    // burning. The filter is a superset of the join, so results are
    // unchanged.
    private val neighbors = edges.select(col("src"), col("dst")).distinct()
      .withColumn("bkt", bkt(col("src")))
      .repartition(Buckets, col("bkt"))
      .cache()
    // materialize the cache concurrently with the ignition-pool collect
    // below — the two startup jobs are independent and together dominate
    // the first round's latency
    private val warmup = scala.concurrent.Future(neighbors.count())(
      scala.concurrent.ExecutionContext.global)

    // collected lazily (an LP-seeded fire may never re-ignite)
    lazy val ignitionPool: Array[String] = nodes
      .orderBy(Determinism.detHash(seed ^ 0x55, col("id")), col("id"))
      .limit(poolSize(n))
      .select(col("id"))
      .collect().map(_.getString(0))

    def spread(round: Int, frontier: Seq[String], burned: scala.collection.Set[String]): Seq[String] = {
      val frontierBuckets = frontier.map(bucketOf).distinct
      // frontier (≤ n ids) and burned (≤ n ids) ride as codegen IN-lists
      // instead of two per-round broadcast joins: each round is then a
      // single bucket-pruned cached scan + one small window shuffle — no
      // broadcast build/cleanup jobs. Both sets are bounded by n, so the
      // literal lists stay driver-scale by construction.
      val g = Determinism.detGeometric(p, seed + 17 * round, col("src"))
      val w = Window.partitionBy(col("src"))
        .orderBy(Determinism.detHash(seed + 19 * round, col("src"), col("dst")), col("dst"))
      // burned-set filter: IN-list while small (single bucket-pruned scan,
      // no broadcast build/cleanup jobs — what keeps small draws
      // job-latency-bound), but an IN-list embeds an O(|burned|) literal
      // set in EVERY round's plan — O(rounds·n) cumulative driver /
      // plan-serialization work. Above the threshold (large draws, e.g.
      // a 10%-of-KB EvalTable sample) switch to a broadcast anti-join:
      // one broadcast of the burned ids per round, plan size O(1).
      val candidates = neighbors
        .filter(col("bkt").isInCollection(frontierBuckets) &&
          col("src").isInCollection(frontier))
      val unburnt =
        if (burned.size <= ForestFireSampler.BurnedInListMax)
          candidates.filter(!col("dst").isInCollection(burned.toSeq))
        else
          candidates.join(
            broadcast(spark.createDataset(burned.toSeq)(Encoders.STRING).toDF("dst")),
            Seq("dst"), "left_anti")
      unburnt
        // pre-partition the (tiny) candidate set on the window key with 8
        // partitions: the window reuses this distribution instead of a
        // 32-partition default exchange — 24 fewer sub-ms tasks per round
        .repartition(8, col("src"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= g)
        .select(col("dst"))
        .collect().map(_.getString(0)).toSeq
    }

    def release(): Unit = {
      scala.concurrent.Await.ready(warmup, scala.concurrent.duration.Duration.Inf)
      neighbors.unpersist()
    }
  }

  /** The same ignition pool and burn picks over the rows of the two
    * pinned tables — at most one broadcast envelope of rows each, returned
    * by the pins' own jobs and held for this draw only. Replays the Spark
    * form byte for byte: a source burns its first geometric(p) unburned
    * neighbors in (xxhash64(seed', src, dst), dst) order, with strings
    * compared as Spark compares them. */
  private final class LocalBurns(nodeRows: Array[Row], edgeRows: Array[Row], n: Int)
      extends Burns {
    private val nbrs: Map[String, Array[String]] =
      edgeRows.groupBy(_.getAs[String]("src"))
        .map { case (src, rs) => src -> rs.map(_.getAs[String]("dst")).distinct }

    lazy val ignitionPool: Array[String] =
      nodeRows.map(_.getAs[String]("id"))
        .map(id => (Determinism.detHashJvm(seed ^ 0x55, id), id))
        .sorted(Ordering.Tuple2(Ordering.Long, Determinism.utf8Order))
        .take(poolSize(n)).map(_._2)

    private val order = Ordering.Tuple2(Ordering.Long, Determinism.utf8Order)

    def spread(round: Int, frontier: Seq[String], burned: scala.collection.Set[String]): Seq[String] =
      frontier.distinct.flatMap { src =>
        nbrs.getOrElse(src, Array.empty[String]).filterNot(burned)
          .sortBy(dst => (Determinism.detHashJvm(seed + 19 * round, src, dst), dst))(order)
          .take(Determinism.detGeometricJvm(p, seed + 17 * round, src))
      }

    def release(): Unit = ()
  }
}

object ForestFireSampler {
  /** Max burned-set size embedded as a per-round IN-list before switching
    * to a broadcast anti-join (see the burn loop). */
  val BurnedInListMax: Int = 4096

  // 16 buckets: pruning granularity vs per-round task count — every round
  // schedules one task per cached bucket partition (pruned ones finish in
  // ~ms but still schedule), so 64 buckets cost ~3× more scheduling than
  // they save in skipped bytes at any scale where the loop is job-latency
  // bound. At 100× data the per-bucket byte volume grows, not the task
  // count — the trade stays right.
  private val Buckets = 16

  /** One step form of the burn loop: the ignition pool and the frontier →
    * next-burn expansion. `spread` returns, for every distinct frontier
    * source, its first geometric(p) unburned neighbors (duplicates across
    * sources allowed; the loop dedups and orders them). */
  private trait Burns {
    def ignitionPool: Array[String]
    def spread(round: Int, frontier: Seq[String], burned: scala.collection.Set[String]): Seq[String]
    def release(): Unit
  }
}
