package graftbench

import graft.core.Kb
import graft.expr.{ClassExpr, Exists, HasValue, Named}
import graft.lp.{Accuracy, EncodedLp, F1, LearningProblem, Lp, LpJson}
import graft.sample.{Betweenness, GraphMetrics, Louvain, PageRank, Samplers, WalkSampler}
import graft.sources.TpchKg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class Collected(nodes: Seq[String], edges: Seq[(String, String, String)],
                           types: Seq[(String, String)])

/** lp_sample — the sampling user, over one cached TPC-H-shaped KB. A
  * round is one sample request per sampler, the LP part of an
  * evaluation-table cell on the LP-aware sample — trim the learning problem
  * (LP) to it, fit the best hypothesis of a fixed pool on it, score the
  * winner on the full KB — and the iterative whole-graph operators. The
  * LP's positives are customers of two seed-chosen nations, its negatives
  * customers of the other nations, so no hypothesis of the pool separates
  * them exactly; spcounts sources are seed-chosen orders. Every output is
  * checked against a [[Reference]] result computed on the driver from the
  * collected KB. */
final class LpSample(sf: Double, samplers: Seq[(String, String, Int)], prIterations: Int,
                     sourceEvery: Int) extends Workload {
  import LpSample._
  def latencyName = "sample_p50_s"
  def itemsName = "sampled_nodes_per_s"

  private var kb: Kb = _
  private var lp: Lp = _
  private var pool: Seq[(String, ClassExpr)] = Nil
  private var fullElp: EncodedLp = _
  private var sources: DataFrame = _
  private var sourceIds: Seq[String] = Nil

  /** the seed's TPC-H-shaped tables, derived into a KB by `TpchKg.load`
    * and cached */
  def setup(ctx: Ctx): Unit = {
    val dir = ctx.fresh("tpch")
    Gen.tpch(ctx.spark, ctx.seed, sf, dir)
    ctx.span("sources.load") {
      kb = TpchKg.load(ctx.spark, dir).cache()
      kb.nodes.count()
      kb.edges.count()
    }
    val a = java.lang.Math.floorMod(ctx.seed, 25L).toInt
    val b = (a + 1 + java.lang.Math.floorMod(ctx.seed / 25, 24L).toInt) % 25
    def customers(inNations: Boolean, n: Int, nations: Int*): Seq[String] =
      kb.edges.filter(col("pred") === "inNation" && col("src").startsWith("c:") &&
          (col("dst").isin(nations.map(x => s"n:$x"): _*) === lit(inNations)))
        .orderBy(xxhash64(lit(ctx.seed), col("src")), col("src"))
        .limit(n).collect().map(_.getString(0)).toSeq
    lp = Lp(customers(true, 4, a) ++ customers(true, 4, b), customers(false, 8, a, b))
    pool = Seq(
      "in_nation_a" -> HasValue("inNation", s"n:$a"),
      "in_nation_b" -> HasValue("inNation", s"n:$b"),
      "customer" -> Named("Customer"),
      "in_region_a" -> Exists("inNation", HasValue("inRegion", s"r:${a % 5}")))
    fullElp = LearningProblem.encode(kb, lp, seed = ctx.seed)
    sources = kb.nodes.filter(col("id").startsWith("o:") &&
      Gen.bucket(ctx.seed, 71, col("id"), sourceEvery.toLong) === 0).cache()
    sourceIds = sources.select("id").collect().map(_.getString(0)).toSeq
    // warm-up: one small sample request, finalized and collected, so the
    // measured requests do not pay the first use of the finalize plans
    val warm = Samplers.finalizeSample(kb,
      Samplers.byName("RandomNodeSampler", kb, seed = ctx.seed).draw(WarmupNodes), seed = ctx.seed)
    warm.nodes.collect()
    warm.edges.select("src", "dst").collect()
  }

  /** The KB collected to the driver, for the reference results the checks
    * compare with; first used by a check, after the set-up. */
  private lazy val collected: Collected = Collected(
    kb.nodes.collect().map(_.getString(0)).toSeq,
    kb.edges.select("src", "pred", "dst").collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq,
    kb.types.select("node", "cls").collect().map(r => (r.getString(0), r.getString(1))).toSeq)

  def runRound(ctx: Ctx, r: Int, rec: Recorder): Unit = {
    samples(ctx, rec)
    graphOps(ctx, rec)
  }

  /** One sample request per sampler (draw, finalize, sample collected),
    * then the LP part of an evaluation cell on the LP-aware sampler's sample. */
  private def samples(ctx: Ctx, rec: Recorder): Unit = {
    var lpSample: Kb = null
    samplers.foreach { case (short, name, n) =>
      val lpAware = short.endsWith("_lpc")
      rec.op(short, latency = true) {
        val sampler = Samplers.byName(name, kb, lp = lp.pos ++ lp.neg, seed = ctx.seed)
        val drawn = ctx.span(s"sample.draw.$short") { sampler.draw(n) }
        // the finalized sample is forced by collecting its node ids and
        // edges (a few hundred rows); the check below reads them
        val sampled = ctx.span("sample.finalize") {
          val s = Samplers.finalizeSample(kb, drawn, seed = ctx.seed)
          val s2 = if (lpAware) s.cache() else s
          (s2, s2.nodes.collect().map(_.getString(0)).toSet,
            s2.edges.select("src", "dst").collect().map(e => (e.getString(0), e.getString(1))))
        }
        sampler match {
          case w: WalkSampler => w.lastStats.foreach { st =>
            ctx.tracer.count(s"sample.draw.$short.steps", st.steps, 1)
            // byName builds walk samplers with the engine's default 16 walkers
            ctx.tracer.count(s"sample.draw.$short.node_yield", n, st.steps * 16.0)
          }
          case _ =>
        }
        sampled
      } { case (sKb, ids, edges) =>
        rec.items += n
        if (lpAware) lpSample = sKb
        // RandomEdge adds both endpoints of its last edge, so it may land
        // on n + 1 (the reference's own contract, tests/test_sampling.py:24)
        val sizeOk = ids.size == n || (short == "re" && ids.size == n + 1)
        val missingLp = if (lpAware) (lp.pos ++ lp.neg).count(!ids(_)) else 0
        val dangling = edges.count { case (a, b) => !ids(a) || !ids(b) }
        if (!sizeOk) Some(s"sample has ${ids.size} nodes, asked for $n")
        else if (missingLp > 0) Some(s"$missingLp LP individuals dropped by an LP-aware sampler")
        else if (dangling > 0) Some(s"$dangling sampled edges leave the sample")
        else None
      }
    }
    if (lpSample != null) rec.op("lp_cell") {
      val elpS = ctx.span("lp.encode") {
        val trimmed = LpJson.restrictToSample(lp, lpSample, ctx.seed)
        LearningProblem.encode(lpSample, trimmed, seed = ctx.seed)
      }
      // best F1 of the pool on the sample, ties to the earliest entry
      val winner = ctx.span("lp.fit") {
        val q = LearningProblem.evaluateConceptsBatch(lpSample, pool.map(_._2), F1, elpS).map(_._2)
        pool(q.indices.minBy(i => (-q(i), i)))
      }
      (winner._1, ctx.span("lp.score") {
        LearningProblem.evaluateConceptAll(kb, winner._2, Seq(F1, Accuracy), fullElp)
      })
    } { case (name, scores) =>
      lpSample.unpersist()
      val c = collected
      val retrieved = Reference.instances(pool.toMap.apply(name), c.edges, c.types, kb.tbox.subClassesOf)
      val (tp, fn, fp, tn) = Reference.confusion(retrieved, lp.pos, lp.neg)
      val expected =
        if (retrieved.isEmpty) Seq((false, 0.0), (false, 0.0))
        else Seq(F1.score2(tp, fn, fp, tn), Accuracy.score2(tp, fn, fp, tn))
      if (scores != expected) Some(s"$name scores F1/accuracy $scores on the full KB, expected $expected")
      else None
    }
  }

  private def graphOps(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def contains = GraphMetrics.undirected(kb.edges, "contains")
    def sameRows(name: String, fp: (Long, Long), expected: DataFrame): Option[String] = {
      val want = Bench.fingerprint(expected)
      if (fp == want) None else Some(s"$name (rows, checksum) $fp, expected $want")
    }

    rec.op("pagerank") {
      ctx.span("sample.pagerank") {
        PageRank.compute(kb, d = Damping, iterations = prIterations).collect()
          .map(r => r.getString(0) -> r.getDouble(1))
      }
    } { ranks =>
      val c = collected
      val want = Reference.pageRank(c.nodes, c.edges.map(e => (e._1, e._3)), Damping, prIterations)
      val got = ranks.toMap
      val off = want.count { case (id, pr) => got.get(id).forall(g => math.abs(g - pr) > 1e-9 * (1 + pr)) }
      if (ranks.length != want.size || got.size != want.size)
        Some(s"pagerank ranked ${ranks.length} rows (${got.size} distinct) of ${want.size} nodes")
      else if (off > 0) Some(s"pagerank: $off of ${want.size} ranks differ from the reference")
      else None
    }

    rec.op("louvain") {
      ctx.span("sample.louvain") {
        Louvain.run(GraphMetrics.cooccurrence(kb.edges, "contains"), rounds = 2).collect()
          .map(r => r.getString(0) -> r.getString(1))
      }
    } { comm =>
      val und = Reference.cooccurrence(collected.edges, "contains")
      val ids = und.flatMap { case (u, v) => Seq(u, v) }
      val got = comm.toMap
      if (comm.length != ids.size || got.keySet != ids)
        Some(s"louvain assigned ${comm.length} rows (${got.size} distinct), the graph has ${ids.size} nodes")
      else if (!got.values.forall(ids))
        Some("louvain: a community label is not a node of the graph")
      else {
        val q = Reference.modularity(und, got)
        val q0 = Reference.modularity(und, ids.map(i => i -> i).toMap)
        if (q > q0) None else Some(f"louvain modularity $q%.4f, singletons $q0%.4f")
      }
    }

    rec.op("spcounts") {
      ctx.span("sample.spcounts") { Bench.fingerprint(Betweenness.spCounts(contains, sources, SpHops)) }
    } { fp =>
      val und = Reference.undirected(collected.edges, "contains")
      sameRows("spcounts", fp,
        Reference.spCounts(Reference.adjacency(und), sourceIds, SpHops).toDF("src", "node", "dist", "sigma"))
    }

    rec.op("linkpred") {
      ctx.span("sample.linkpred") {
        Bench.fingerprint(GraphMetrics.linkPredFeatures(contains, maxZDeg = MaxZDeg, minSupport = MinSupport))
      }
    } { fp =>
      val und = Reference.undirected(collected.edges, "contains")
      sameRows("linkpred", fp, Reference.linkPred(und, MaxZDeg, MinSupport).toDF("u", "w", "cn", "ra_micros"))
    }
  }
}

object LpSample {
  val Damping = 0.15
  val SpHops = 4
  val MaxZDeg = 32
  val MinSupport = 2
  val WarmupNodes = 50
}
