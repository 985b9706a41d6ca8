package graft.sample

import graft.core.{LocalGraph, Pin}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Synchronous modularity-gain community moves — the local-move phase of
  * Louvain (Blondel et al., "Fast unfolding of communities in large
  * networks", J. Stat. Mech. 2008) in the deterministic synchronous form
  * distributed implementations use (Que et al. IPDPS'15 parallel Louvain):
  * per round EVERY node evaluates, against the PREVIOUS round's
  * assignment, the modularity gain of joining each neighbor community vs
  * staying, and all moves apply at once. Visit-order-dependent sequential
  * Louvain is unacceptable for a verified distributed operator (same
  * argument as [[LabelProp]]); the synchronous variant is a pure function
  * of the edge set, replayable round for round by the DuckDB oracle. The
  * known synchronous pathology (two nodes swapping communities forever)
  * is sidestepped by the fixed round budget plus the strict-improvement
  * move rule — callers read the assignment, not a convergence promise.
  *
  * Modularity arithmetic is EXACT-INTEGER (the degreeMomentRow /
  * modularityMoments philosophy): for node i and candidate community c,
  * ΔQ(i→c) differs from ΔQ(i→c′) by a positive multiple of
  * score(c) = 2m·k_{i,in}(c) − k_i·Σtot′(c), where k_{i,in}(c) counts
  * i's edges into c, Σtot′(c) is the community's total degree EXCLUDING
  * i, and m = |E|. All three are integers; the pick compares scores
  * exactly (no float Q ever enters the decision). Magnitudes: ≤ 2m·k_max
  * — fits a BIGINT for any graph whose edge count fits one (move both
  * factors to decimal(38,0) beyond ~10⁹ edges, same note as
  * [[DeepWalk]]'s PPMI comparison).
  *
  * Per round, in one of two step forms over the pinned loop-free edge
  * set. When the pin fits the broadcast envelope, the rounds run on the
  * driver over the pin's [[graft.core.LocalGraph]] CSR — int arrays
  * indexed by dense id, the whole call the one pin job and a |V|-row
  * local frame back. Above it, each round is Spark plans: one
  * assignment⋈edges join, one (i, community) count, one Σtot aggregate
  * joined back, and one min-of-struct pick — every stage keyed on a node
  * or community id, map-side combinable, no window sort, so a hub never
  * sorts its neighbor list. Ties prefer STAYING, then the smallest
  * community id in Spark's string order (total order → byte-identical at
  * any parallelism and on both forms).
  */
object Louvain {

  /** `(id, community)` after `rounds` synchronous local-move sweeps over
    * the undirected `(u, v)` edge set; initial community = own id. Only
    * edge-incident nodes appear (the ConnectedComponents contract). */
  def run(und0: DataFrame, rounds: Int): DataFrame =
    core(und0.select(col("u"), col("v")).withColumn("w", lit(1L)), rounds)

  /** WEIGHTED local moves over `(u, v, w)` — the standard Louvain
    * generalization (Blondel et al. '08 §2 is stated for weighted
    * graphs): m = Σw, k_i = Σ incident w, k_{i,in}(c) = Σ w into c —
    * the same exact-integer score 2m·k_in − k·Σtot′ with weighted sums
    * in every role. With w ≡ 1 this IS [[run]] (bit-identical
    * arithmetic). Natural input here: [[GraphMetrics.frequentPairs]]'
    * co-purchase support weights — communities form on how OFTEN parts
    * co-occur, not merely whether. */
  def runWeighted(wund0: DataFrame, rounds: Int): DataFrame =
    core(wund0.select(col("u"), col("v"), col("w").cast("long").as("w")), rounds)

  private def core(wund: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds=$rounds")
    // self-loops would silently corrupt deg, twoM and kin(own community);
    // callers pass loop-free projections — drop any defensively (same
    // guard as Boruvka.minimumSpanningForest)
    val (und, local) = LocalGraph.pin(wund.filter(col("u") =!= col("v")), weight = Some("w"))
    val moves: Moves = local
      .map(g => new LocalMoves(und.df.sparkSession, g): Moves)
      .getOrElse(new SparkMoves(und.df))
    for (_ <- 1 to rounds) moves.round()
    moves.result
  }

  /** One step form of the round loop: a synchronous sweep that replaces
    * the assignment, and the `(id, community)` frame of the current one. */
  private trait Moves {
    def round(): Unit
    def result: DataFrame
  }

  /** The rounds as Spark plans over the pinned, loop-free edge frame. */
  private final class SparkMoves(und: DataFrame) extends Moves {
    // lazy union over the materialized und — the swapped half is a map
    // over checkpointed rows, cheaper than a second materialization job
    private val sym = und.unionAll(
        und.select(col("v").as("u"), col("u").as("v"), col("w")))
    private val deg = Pin(sym.groupBy(col("u").as("id")).agg(sum(col("w")).as("k")))
    // 2m = Σ_id k(id): every edge weight appears once per endpoint in sym,
    // so the degree table already carries the edge-mass total — reading it
    // from the 20k-row deg frame replaces a second full scan of und
    private val twoM = deg.df.agg(coalesce(sum(col("k")), lit(0L))).head().getLong(0)
    // deg and comm are pinned, so joins against them (or projections of
    // them) broadcast on their counted size; the Σtot/size/k2 sides come
    // out of joins and take deg's fit as the |V|-bounded envelope
    private var comm = Pin(deg.df.select(col("id"), col("id").as("c"))).df

    def round(): Unit = {
      // ONE community aggregate carries both Σtot (scored join) and the
      // member count (singleton-swap guard) — was two separate
      // shuffles + an extra join per round
      val cstats = comm.join(deg.df, Seq("id"))
        .groupBy("c").agg(sum(col("k")).as("stot"), count(lit(1)).as("n"))
      val stot = cstats.select(col("c"), col("stot"))
      // k_{i,in}(c): i's edge WEIGHT into each neighbor community under
      // the previous assignment (self excluded by construction: und has
      // no self-loops, so no (i, i) row contributes)
      // kin stays LAZY although k2 feeds both stay and moves: under the
      // broadcast joins its re-evaluation is a map-side scan + aggregate,
      // measured cheaper than a per-round checkpoint job (A/B: 4.5 s bc
      // lazy vs 5.4 s bc + ckpt for the 2-round loop at sf0.1)
      val kin = sym
        .join(comm.select(col("id").as("v"), col("c")), Seq("v"))
        .groupBy(col("u").as("id"), col("c"))
        .agg(sum(col("w")).as("kin"))
      // candidates = the node's own community (ALWAYS present — kin(own)
      // is 0 when no neighbor shares it) ∪ neighbor communities; stay
      // rows carry flag 0 so exact ties prefer staying
      val own = comm.select(col("id"), col("c").as("oc"))
      val k2 = kin.join(own, Seq("id"))
      val stay = own
        .join(deg.broadcastIfFits(
            k2.filter(col("c") === col("oc")).select(col("id"), col("kin"))),
          Seq("id"), "left_outer")
        .select(col("id"), col("oc").as("c"),
          coalesce(col("kin"), lit(0L)).as("kin"), lit(0).as("flag"))
      // singleton-swap guard (Lu, Halappanavar & Kalyanaraman, "Parallel
      // heuristics for scalable community detection", Par. Comp. 2015
      // §4.3): two singleton nodes that each see positive gain in the
      // OTHER's community would swap forever under synchronous updates;
      // a singleton may therefore only move into another singleton
      // community with a SMALLER id (one of the two moves survives, the
      // pair merges next round)
      val sizes = cstats.select(col("c"), col("n"))
      val moves = k2.filter(col("c") =!= col("oc"))
        .join(deg.broadcastIfFits(sizes.select(col("c"), col("n").as("tn"))), Seq("c"))
        .join(deg.broadcastIfFits(sizes.select(col("c").as("oc"), col("n").as("on"))),
          Seq("oc"))
        .filter(!(col("on") === 1 && col("tn") === 1 && col("c") > col("oc")))
        .select(col("id"), col("c"), col("kin"), lit(1).as("flag"))
      val cand = stay.unionAll(moves)
      val scored = cand
        .join(deg.broadcastIfFits(stot), Seq("c"))
        .join(deg.df, Seq("id"))
        // Σtot′ excludes the moving node itself from its own community
        .select(col("id"), col("c"), col("flag"),
          (lit(twoM) * col("kin") - col("k") *
            (col("stot") - when(col("flag") === 0, col("k")).otherwise(lit(0L))))
            .as("score"))
      comm = Pin(scored.groupBy("id")
        .agg(min(struct((-col("score")).as("ns"), col("flag"), col("c"))).as("m"))
        .select(col("id"), col("m.c").as("c"))).df
    }

    def result: DataFrame = comm.select(col("id"), col("c").as("community"))
  }

  /** The same rounds over the collected CSR, on the driver: int arrays
    * indexed by dense id, so a community id is its node's dense id and the
    * smallest-id tie break is an int compare. Replays the Spark form
    * exactly: every sum, product and negation is the ANSI long operation
    * Spark runs (an overflow throws on both paths), and the pick is the
    * minimum of (−score, flag, c). */
  private final class LocalMoves(spark: SparkSession, g: LocalGraph) extends Moves {
    private val n = g.n
    private val k: Array[Long] = Array.tabulate(n) { i =>
      var s = 0L
      for (e <- g.off(i) until g.off(i + 1)) s = Math.addExact(s, g.wt(e))
      s
    }
    private val twoM = k.foldLeft(0L)(Math.addExact)
    private var comm: Array[Int] = Array.range(0, n)

    def round(): Unit = {
      val stot = new Array[Long](n)
      val size = new Array[Int](n)
      for (i <- 0 until n) {
        stot(comm(i)) = Math.addExact(stot(comm(i)), k(i))
        size(comm(i)) += 1
      }
      def score(kin: Long, ki: Long, st: Long): Long =
        Math.subtractExact(Math.multiplyExact(twoM, kin), Math.multiplyExact(ki, st))
      val kin = new Array[Long](n)
      val seen = new Array[Boolean](n)
      val touched = new Array[Int](n)
      val next = new Array[Int](n)
      for (i <- 0 until n) {
        var t = 0
        for (e <- g.off(i) until g.off(i + 1)) {
          val c = comm(g.nbr(e))
          if (!seen(c)) { seen(c) = true; touched(t) = c; t += 1 }
          kin(c) = Math.addExact(kin(c), g.wt(e))
        }
        val oc = comm(i)
        // the stay candidate (flag 0) wins every exact tie; a move must
        // beat it, and among equal moves the smallest community wins
        var best = Math.negateExact(score(kin(oc), k(i), Math.subtractExact(stot(oc), k(i))))
        var bestC = oc
        for (j <- 0 until t) {
          val c = touched(j)
          if (c != oc && !(size(oc) == 1 && size(c) == 1 && c > oc)) {
            val ns = Math.negateExact(score(kin(c), k(i), stot(c)))
            if (ns < best || (ns == best && bestC != oc && c < bestC)) { best = ns; bestC = c }
          }
        }
        next(i) = bestC
        for (j <- 0 until t) { kin(touched(j)) = 0L; seen(touched(j)) = false }
      }
      comm = next
    }

    def result: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(Array.tabulate(n)(i => Row(g.ids(i), g.ids(comm(i)))): _*),
      StructType(Seq(StructField("id", StringType), StructField("community", StringType))))
  }
}
