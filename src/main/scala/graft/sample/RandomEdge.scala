package graft.sample

import graft.core.{Determinism, Kb, Pin}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RandomEdgeSampler (reference classic_samplers.py:49-103): repeatedly pick
  * a random node, then a random outgoing edge of it; both endpoints join the
  * sample; stop at ≥ n distinct nodes (can land on n+1 — the reference's own
  * test allows {n, n+1}, tests/test_sampling.py:24); when the edge pool
  * can't reach n (reference detects this via RecursionError) fall back to
  * RandomNode fill — filled nodes carry no selected edges
  * (classic_samplers.py:89-101).
  *
  * Spark shape (no driver loop): (1) one deterministic edge pick per source
  * (window rank 1); (2) each pick gets a position `pos` from its source's
  * random order; (3) a node's first-occurrence position fo = min pos over
  * picks touching it; (4) the n-th smallest fo is the cutoff p*; the sample
  * is {fo ≤ p*} and the selected edges are the picks with pos ≤ p* — exactly
  * the prefix of the sequential process, computed with one window + two
  * aggregates. A pick introduces ≤ 2 nodes and positions are unique per
  * source, so |sample| ∈ {n, n+1} like the reference.
  *
  * LPFirst (lpf_samplers.py:46-55): LP nodes consumed as edge sources first
  * → their picks order first and LP nodes are pre-inserted.
  * LPCentralized (lpc_samplers.py:57-116): exploration prefers the LP
  * neighborhood → positions are ordered by (source tier, random).
  */
final class RandomEdgeSampler(
    kb: Kb, seed: Long = 42L, keyed: Option[DataFrame] = None,
    lpSeeds: Seq[String] = Nil, lpc: Boolean = false) extends GraphSampler {

  def draw(n: Int): Drawn = {
    val spark = kb.spark
    // (1) one random outgoing edge per source (reference: uniform choice
    // among the node's neighbors)
    val pickW = Window.partitionBy(col("src"))
      .orderBy(Determinism.detHash(seed ^ 0x11, col("src"), col("pred"), col("dst")),
        col("pred"), col("dst"))
    val picked = kb.edges.withColumn("prn", row_number().over(pickW))
      .filter(col("prn") === 1).drop("prn")

    // (2) position of a pick = (bias tier, random order of its source, the
    // source id) as one lexicographically-ordered struct — a TOTAL order
    // because the source is unique per pick, so no two picks can tie at the
    // cutoff (a truncated numeric position collided across sources ~|V|²/2^30
    // times and could nondeterministically exceed the {n, n+1} bound)
    val srcOrd = Samplers.withOrd(kb.nodes, seed, keyed)
      .select(col("id").as("src"), col("ord").as("o"))
    def pos(g: org.apache.spark.sql.Column) =
      struct(g.as("g"), col("o"), col("src").as("s")).as("pos")
    // both draw frames are pinned: the lazy Drawn below reads the
    // checkpoints, so finalize's actions never re-derive the picks, and no
    // cache entry outlives the draw
    val posEdges = Pin {
      val base = picked.join(srcOrd, Seq("src"))
      if (lpc) {
        val tiers = Samplers.lpcTiers(kb, lpSeeds).select(col("id").as("src"), col("tier"))
        base.join(tiers, Seq("src"))
          .select(col("src"), col("pred"), col("dst"), pos(col("tier").cast("long")))
      } else if (lpSeeds.nonEmpty) {
        val lpDf = spark.createDataset(lpSeeds)(Encoders.STRING).toDF("src")
          .withColumn("pre", lit(0L))
        base.join(broadcast(lpDf), Seq("src"), "left_outer")
          .select(col("src"), col("pred"), col("dst"), pos(coalesce(col("pre"), lit(1L))))
      } else base.select(col("src"), col("pred"), col("dst"), pos(lit(0L)))
    }.df

    // (3) first-occurrence position per node; LP nodes pre-inserted below
    // every real position
    val endpoints = posEdges.select(col("src").as("id"), col("pos"))
      .unionAll(posEdges.select(col("dst").as("id"), col("pos")))
    val withLp =
      if (lpSeeds.isEmpty) endpoints
      else endpoints.unionAll(
        spark.createDataset(lpSeeds)(Encoders.STRING).toDF("id")
          .select(col("id"), struct(lit(-1L).as("g"), lit(Long.MinValue).as("o"),
            lit("").as("s")).as("pos")))
    val foPin = Pin(withLp.groupBy("id").agg(min(col("pos")).as("fo")))
    val fo = foPin.df

    val reachable = foPin.rows
    if (reachable >= n) {
      // (4) cutoff = n-th smallest fo (TakeOrdered on the struct order; the
      // 1-row cutoff broadcast-joins into both prefix filters)
      val pStar = fo.orderBy(col("fo")).limit(n)
        .agg(max(col("fo")).as("ps"))
      Drawn(fo.join(broadcast(pStar), col("fo") <= col("ps")).select("id"),
        Some(posEdges.join(broadcast(pStar), col("pos") <= col("ps"))
          .select("src", "pred", "dst")))
    } else {
      // fallback: RandomNode fill (reference classic_samplers.py:89-101);
      // filled nodes keep no edges
      val fill = Samplers.withOrd(kb.nodes.join(fo, Seq("id"), "left_anti"), seed ^ 0x33, keyed = None)
        .orderBy(col("ord"), col("id")).select("id").limit(n - reachable.toInt)
      Drawn(fo.select("id").unionAll(fill),
        Some(posEdges.select("src", "pred", "dst")))
    }
  }

  def sample(n: Int, dpp: Double = 1.0): Kb = {
    Samplers.checkInput(kb.nodes.count(), n, dpp)
    Samplers.finalizeSample(kb, draw(n), dpp, seed)
  }
}
