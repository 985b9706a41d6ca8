package graft.sample

import graft.core.{LocalGraph, Pin}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** k-source betweenness centrality (Brandes, "A faster algorithm for
  * betweenness centrality", J. Math. Sociology 2001, in the sampled
  * k-source form of Brandes & Pich 2007 / Riondato & Kornaropoulos
  * WSDM'14): run a multi-source BFS that counts shortest paths, then
  * accumulate pair dependencies backward level by level. Exact
  * betweenness is O(n·m) — never at web scale; the k-source estimator
  * (scaled by n/k) is the standard trade and the sampling error bound
  * is Riondato's VC one. The truncated radius `maxR` is the second
  * standard trade (ego-betweenness family): paths longer than maxR
  * contribute nothing, which at web diameters ≈ 16-20 loses little.
  *
  * The VERIFIED surface is [[spCounts]] — per (source, node) BFS
  * distance and shortest-path count σ, both EXACT INTEGERS, replayed
  * round for round by the DuckDB oracle. The float dependency
  * accumulation ([[accumulate]]) is strictly downstream and spec-pinned
  * against hand-computed Brandes values (same split as PageRank's
  * naive-reference spec vs the integer gates).
  *
  * Scale shape: the forward pass takes one of two forms over the pinned
  * edge set. When the pin fits the broadcast envelope, its rows come
  * back with the pin job as a [[graft.core.LocalGraph]] CSR that is
  * broadcast, and ONE `mapPartitions` over the sources (grouped by id with their
  * multiplicity) runs each source's BFS task-side; the k·|V| output rows
  * are pinned on the executors and never reach the driver. Above it, the
  * pass is one frontier⋈edges join + one (src, node)-keyed sum per level
  * — the [[Walks]] frontier-expansion shape, k sources riding ONE plan as
  * extra rows, not k jobs. Both forms count paths with ANSI long sums
  * (an overflow throws on both) and give the same rows. The backward
  * pass is the same join against the settled table filtered to
  * one level, σ already materialized. σ magnitudes: ≤ (max deg)^maxR
  * per pair — int64 to deg ~10⁴ at maxR 4; move σ to decimal(38,0)
  * beyond (the [[Louvain]] note).
  */
object Betweenness {

  /** Multi-source truncated BFS with shortest-path counting:
    * `(src, node, dist, sigma)` for every node within `maxR` hops of a
    * source — dist the BFS level, σ the number of distinct shortest
    * src→node paths. Runs EXACTLY `maxR` rounds (truncation is part of
    * the estimator's definition, so the oracle unrolls the same fixed
    * count — no fixpoint argument needed). */
  def spCounts(und0: DataFrame, sources: DataFrame, maxR: Int): DataFrame = {
    require(maxR >= 0, s"maxR=$maxR")
    val edges = und0.select(col("u"), col("v"))
    val (und, local) =
      if (sources.schema("id").dataType == StringType) LocalGraph.pin(edges) else (Pin(edges), None)
    local match {
      case Some(g) => localCounts(g, sources, maxR)
      case None => sparkCounts(und.df, sources, maxR)
    }
  }

  private val SpSchema = StructType(Seq(StructField("src", StringType),
    StructField("node", StringType), StructField("dist", IntegerType), StructField("sigma", LongType)))

  /** Every source's BFS over the broadcast CSR, task-side. A source listed
    * m times seeds m level-0 rows and m paths into level 1, as m frontier
    * rows do in the Spark form; a source that is no endpoint keeps its
    * level-0 rows only. */
  private def localCounts(g: LocalGraph, sources: DataFrame, maxR: Int): DataFrame = {
    val spark = sources.sparkSession
    val bySource = sources.select(col("id")).rdd.map(r => (r.getString(0), 1L))
      .reduceByKey(_ + _, spark.sparkContext.defaultParallelism)
    g.pinTaskSide(spark, SpSchema) { bc =>
      bySource.mapPartitions { it =>
        val g = bc.value
        val dist = Array.fill(g.n)(-1)
        val sigma = new Array[Long](g.n)
        it.flatMap { case (src, m) =>
          val out = Seq.fill(m.toInt)(Row(src, src, 0, 1L)).toBuffer
          val s = if (src == null) -1 else g.index(src)
          if (s >= 0) {
            dist(s) = 0
            sigma(s) = m
            val reached = scala.collection.mutable.ArrayBuffer(s)
            var frontier = Seq(s)
            for (r <- 1 to maxR if frontier.nonEmpty) {
              val next = scala.collection.mutable.ArrayBuffer.empty[Int]
              for (u <- frontier; e <- g.off(u) until g.off(u + 1)) {
                val v = g.nbr(e)
                if (dist(v) < 0) { dist(v) = r; sigma(v) = 0L; next += v }
                if (dist(v) == r) sigma(v) = Math.addExact(sigma(v), sigma(u))
              }
              next.foreach(v => out += Row(src, g.ids(v), r, sigma(v)))
              reached ++= next
              frontier = next.toSeq
            }
            reached.foreach(v => dist(v) = -1)
          }
          out
        }
      }
    }
  }

  /** The forward pass as one Spark plan per level. */
  private def sparkCounts(und: DataFrame, sources: DataFrame, maxR: Int): DataFrame = {
    // sym stays a LAZY union over the materialized und: re-deriving the
    // swapped half is a map over checkpointed rows, cheaper than a second
    // materialization job (the round loop is job-launch-bound at small
    // scale; at large scale the bytes scanned are identical either way)
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    // every level frame is pinned, so the frontier and the settled union
    // (a sum of counted sizes) broadcast into the sym scan while they fit
    // the threshold; a 100-TB k-source run outgrows it after a round or two
    // and falls back to the shuffled joins it needs
    var settled = Pin(sources.select(col("id").as("src"), col("id").as("node"),
      lit(0).as("dist"), lit(1L).as("sigma"))).df
    var frontier = settled
    for (r <- 1 to maxR) {
      val nxt = Pin(frontier
        .join(sym.withColumnRenamed("u", "node"), Seq("node"))
        .select(col("src"), col("v").as("node"), col("sigma"))
        .join(settled.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
        .groupBy("src", "node").agg(sum(col("sigma")).as("sigma"))
        .select(col("src"), col("node"), lit(r).as("dist"), col("sigma"))).df
      // settled is a lazy union of ALREADY-materialized level frames: the
      // per-round anti-join scans the same settled bytes either way, and
      // dropping the union re-checkpoint halves the round's job count
      settled = settled.unionAll(nxt)
      frontier = nxt
    }
    settled
  }

  /** Brandes backward accumulation over a [[spCounts]] table: pair
    * dependency δ(s,v) = Σ_{w ∈ succ(v)} σ(s,v)/σ(s,w) · (1 + δ(s,w)),
    * summed over sources per node, sources themselves excluded. Float —
    * spec-pinned, not an oracle surface. `scaleNumer/scaleDenom` apply
    * the n/k estimator scaling. */
  def accumulate(und0: DataFrame, sp0: DataFrame,
                 scaleNumer: Long = 1L, scaleDenom: Long = 1L): DataFrame = {
    require(scaleNumer >= 1 && scaleDenom >= 1, "bad scale")
    val und = Pin(und0.select(col("u"), col("v"))).df
    val sym = Pin(und.unionAll(und.select(col("v").as("u"), col("u").as("v")))).df
    val pinned = Pin(sp0)
    val sp = pinned.df
    // empty seed set / empty graph: max(dist) would be NULL and the getInt
    // below an opaque NPE — return the empty (id, bc) frame instead
    if (pinned.rows == 0)
      return sp.select(col("node").as("id"), lit(0.0).as("bc")).limit(0)
    val maxR = sp.agg(max(col("dist"))).head().getInt(0)
    // δ rows start all-zero at the deepest level; walk levels upward
    var delta = Pin(sp.filter(col("dist") === maxR)
      .select(col("src"), col("node"), col("sigma"),
        lit(0.0).as("delta"))).df
    for (r <- (maxR - 1) to 0 by -1) {
      val lvl = sp.filter(col("dist") === r)
      // v at level r pulls from adjacent w at level r+1 (w's δ just final)
      val pulled = delta.filter(col("sigma") > 0)
        .select(col("src"), col("node").as("w"),
          col("sigma").as("wsig"), col("delta").as("wdelta"))
        .join(sym.select(col("u").as("node"), col("v").as("w")), Seq("w"))
        .join(lvl.select(col("src"), col("node"), col("sigma")),
          Seq("src", "node"))
        .groupBy("src", "node", "sigma")
        .agg(sum(col("sigma").cast("double") / col("wsig") *
          (lit(1.0) + col("wdelta"))).as("delta"))
        .select(col("src"), col("node"), col("sigma"), col("delta"))
      val zero = lvl.join(pulled.select(col("src"), col("node")),
          Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), col("sigma"), lit(0.0).as("delta"))
      delta = Pin(delta.unionAll(pulled).unionAll(zero)).df
    }
    delta.filter(col("src") =!= col("node"))
      .groupBy(col("node").as("id"))
      .agg((sum(col("delta")) * scaleNumer / scaleDenom).as("bc"))
  }

  /** k-source estimate end to end: σ-BFS forward, δ backward, scaled by
    * |V|/|sources| (Brandes & Pich 2007). */
  def estimate(und: DataFrame, sources: DataFrame, maxR: Int): DataFrame = {
    val n = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id"))).distinct().count()
    val k = sources.count()
    accumulate(und, spCounts(und, sources, maxR), n, k)
  }

  /** Truncated Katz prestige (Katz, "A new status index derived from
    * sociometric analysis", Psychometrika 1953) as an EXACT INTEGER:
    * katz(v) = Σ_{k=1..K} β^k · walks_k(v) with β = 1/2, where
    * walks_k(v) counts directed walks of length k ending at v over the
    * DISTINCT (src, dst) simple graph. Scaling by 2^K clears every
    * denominator — katz_scaled(v) = Σ_k walks_k(v) · 2^(K−k) — so no
    * division (and no libm) exists anywhere: the full ranking is
    * hash-replayable, unlike eigen-solver Katz. Truncation at K is the
    * standard distributed trade (β^k damps the tail the truncation
    * drops); K=4·β=1/2 keeps walk counts ≤ deg_max⁴ — int64 to
    * deg ~10⁴, decimal(38,0) beyond (the [[Louvain]] note). Per round:
    * one edges⋈counts join + one dst-keyed map-side-combinable sum —
    * the [[spCounts]] shape without the settled anti-join. */
  def katzScaled(edges0: DataFrame, nodes0: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 62, s"k=$k")
    val e = Pin(edges0.select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst"))).df
    var t = Pin(nodes0.select(col("id")).distinct()
      .withColumn("t", lit(1L))).df
    var acc: DataFrame = null
    for (r <- 1 to k) {
      t = Pin(e.join(t.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("t")).as("t"))).df
      val w = t.select(col("id"), (col("t") * (1L << (k - r))).as("w"))
      acc = if (acc == null) w else acc.unionAll(w)
    }
    nodes0.select(col("id")).distinct()
      .join(acc.groupBy("id").agg(sum(col("w")).as("katz_scaled")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("katz_scaled"), lit(0L)).as("katz_scaled"))
  }
}
