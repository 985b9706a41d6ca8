package graft.queries

import graft.core.{Determinism, Pin}
import graft.sample._
import graft.sources.{TpchKg, TpchKgSql}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sampler surface for the correctness gate.
  *
  * RandomNode uses the SQL-portable LCG order, so its node set, its induced
  * edge set, the LPC tiering, and the dpp attribute retention are all
  * EXACTLY reproduced by the DuckDB oracle. The iterative samplers
  * (edge/walk/fire) are seeded-random; their contract is the reference
  * test-suite invariants (exact counts, LP retention, edge validity),
  * emitted as boolean rows against a constant oracle — the same assertions
  * the reference's own tests make (tests/test_sampling.py).
  */
object SamplerQueries {

  type Q = (SparkSession, String) => DataFrame

  private val Seed = 42L
  private def lpOf(s: SparkSession, d: String): Seq[String] = Seq("c:1", "c:2", "s:1", "s:2")

  /** Shared fixture for the TransE gates: the geography slice
    * (customer/supplier → nation → region), k=1 corruptions, and the
    * 2-epoch trained model. */
  private def transeSlice(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val kb = TpchKg.load(s, d)
    val nodes = kb.nodes.filter(
      substring(col("id"), 1, 2).isin("c:", "s:", "n:", "r:"))
    val edges = kb.edges.filter(col("pred").isin("inNation", "inRegion"))
    val neg = Pin(KgeNegatives.negatives(nodes, edges, k = 1, seed = Seed)).df
    val (ent, rel) = Transe.train(nodes, edges, neg, TranseGateCfg)
    (edges, neg, ent, rel)
  }

  private val TranseGateCfg = Transe.Config(dim = 4, margin = 4L, lr = 1L,
    initBound = 8L, clamp = 64L, epochs = 2, seed = Seed)

  private def rnSampler(s: SparkSession, d: String, lpc: Boolean) = {
    val kb = TpchKg.load(s, d)
    new RandomNodeSampler(kb, Seed, keyed = Some(TpchKg.nodesWithKey(s, d)),
      lpSeeds = if (lpc) lpOf(s, d) else Nil, lpc = lpc)
  }

  def queries: Map[String, Q] = Map(
    "smp_rn_nodes" -> ((s, d) => rnSampler(s, d, lpc = false).sample(50).nodes),
    // n=500 so the induced edge set is non-trivially non-empty — a 50-node
    // uniform sample of an 18k-node KG induces no edges, which would make
    // this oracle row vacuous (0 = 0)
    "smp_rn_edges" -> ((s, d) => rnSampler(s, d, lpc = false).sample(500).edges),
    "smp_rn_lpc_nodes" -> ((s, d) => rnSampler(s, d, lpc = true).sample(50).nodes),
    // sampler-quality metric (Leskovec-Faloutsos KDD'06): KS distance
    // between original and sampled degree distributions, per side — the
    // seeded RN sample replays in SQL, so the statistic oracles exactly
    "smp_rn_ks" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      GraphMetrics.degreeKs(kb.edges,
        rnSampler(s, d, lpc = false).sample(500).edges)
    }),
    // dpp contract at scale: per-node attr count after dpp=0.5 equals
    // cnt - int(0.5·cnt) of the original (reference _base.py:273)
    "smp_rn_dpp_counts" -> ((s, d) =>
      rnSampler(s, d, lpc = false).sample(50, 0.5).attrs
        .groupBy("node").agg(count(lit(1)).as("n_attrs"))),
    "smp_invariants" -> ((s, d) => invariants(s, d)),
    // Sampler-quality surface (the sampling literature's standard check,
    // e.g. Leskovec & Faloutsos KDD'06: how well a sample preserves the
    // degree distribution): total-degree histogram of the induced sampled
    // subgraph joined against the original's, one row per degree. Exactly
    // reproducible because RandomNode's node set is SQL-portable. Two
    // keyed aggregations per side — scales like a groupBy.
    "smp_rn_degdist" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val sampled = rnSampler(s, d, lpc = false).sample(500)
      def hist(edges: DataFrame) = edges
        .select(col("src").as("id")).unionAll(edges.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n"))
      hist(kb.edges).withColumnRenamed("n", "n_orig")
        .join(hist(sampled.edges).withColumnRenamed("n", "n_sample"),
          Seq("deg"), "full_outer")
        .select(col("deg"),
          coalesce(col("n_orig"), lit(0L)).as("n_orig"),
          coalesce(col("n_sample"), lit(0L)).as("n_sample"))
    }),
    // DeepWalk corpus generation over the KG: 2 truncated walks of length 5
    // from each of the 500 LCG-selected start nodes, every pick replayed by
    // the oracle via the shared md5 hash (sample CTE = the smp_rn order)
    "smp_deepwalk_corpus" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val starts = rnSampler(s, d, lpc = false).draw(500).sampledNodes
      DeepWalk.corpus(kb, starts, reps = 2, steps = 5, seed = Seed)
    }),
    // node2vec second-order biased walks (return/in-out weights 1/4/16),
    // every integer-inverse-CDF pick replayed by the oracle
    "smp_node2vec_corpus" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val starts = rnSampler(s, d, lpc = false).draw(500).sampledNodes
      Node2Vec.corpus(kb, starts, reps = 2, steps = 5,
        wReturn = 1, wNear = 4, wFar = 16, seed = Seed)
    }),
    // skip-gram (center, context, cnt) pairs within ±2 steps over the same
    // walk corpus — the word2vec-style KG-embedding training input
    "smp_skipgram_pairs" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val starts = rnSampler(s, d, lpc = false).draw(500).sampledNodes
      DeepWalk.skipGramPairs(
        DeepWalk.corpus(kb, starts, reps = 2, steps = 5, seed = Seed), window = 2)
    }),
    // PPMI association weights over the same pairs — the count-based
    // KG-embedding input (exact num/den integers; the float log is
    // downstream of the gate)
    "smp_ppmi_pairs" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val starts = rnSampler(s, d, lpc = false).draw(500).sampledNodes
      DeepWalk.ppmiPairs(DeepWalk.skipGramPairs(
        DeepWalk.corpus(kb, starts, reps = 2, steps = 5, seed = Seed), window = 2))
    }),
    // filtered KGE negative sampling (Bordes et al. NeurIPS'13 corruption
    // protocol): per edge and draw i<2, corrupt head/tail by md5 parity
    // with an md5-rank-indexed uniform node draw, minus true triples —
    // every draw oracle-replayed byte-identically
    "smp_kge_negatives" -> ((s, d) =>
      KgeNegatives.negatives(TpchKg.load(s, d), k = 2, seed = Seed)),
    // in-engine TransE training (integer-exact full-batch subgradient
    // descent, 2 epochs, d=4) on the geography slice (inNation/inRegion);
    // the FULL final model — every entity and relation coordinate — must
    // hash-match the DuckDB replay of init + both epochs
    "smp_transe_emb" -> ((s, d) => {
      val (_, _, ent, rel) = transeSlice(s, d)
      ent.select(lit("e").as("kind"), col("id"),
          posexplode(col("emb")).as(Seq("i", "v")))
        .unionAll(rel.select(lit("r").as("kind"), col("pred"),
          posexplode(col("remb")).as(Seq("i", "v"))))
    }),
    // the trained model pushed through the SAME filtered ranking protocol
    // as smp_kge_eval — score = −L1 energy, exact-integer MR/MRR/Hits
    "smp_transe_eval" -> ((s, d) => {
      val (edges, neg, ent, rel) = transeSlice(s, d)
      KgeEval.metrics(Transe.transeScored(edges, neg, ent, rel))
    }),
    // filtered ranking eval (Bordes et al. filtered setting): each distinct
    // positive ranked against its corruptions under the frequency-baseline
    // scorer; ONE exact-integer row (rank/reciprocal-rank sums, Hits@1/3)
    "smp_kge_eval" -> ((s, d) =>
      KgeEval.rankingEval(TpchKg.load(s, d), k = 2, seed = Seed)),
    // Metropolis-Hastings RW (beyond-reference; Gjoka INFOCOM'10):
    // property row — exact node count, traversed edges ⊆ E in original
    // orientation, and the OPERATOR'S POINT: the MH-corrected sample's
    // mean (symmetrized) degree sits below HALF the plain RW's on the
    // same graph/seed — the hub bias the correction removes (MhrwProbe
    // measures the actual ratio at 4.2-4.9× across seeds at sf0.01)
    "smp_mhrw_props" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val mh = new MhrwSampler(kb, seed = 47).draw(200)
      val rw = new WalkSampler(kb, seed = 47).draw(200)
      val e = kb.edges.select(col("src"), col("pred"), col("dst"))
      val deg = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      def meanDeg(ids: org.apache.spark.sql.DataFrame): Double =
        ids.join(deg, Seq("id")).agg(avg(col("deg"))).head().getDouble(0)
      val badEdges = mh.selectedEdges.get
        .join(e, Seq("src", "pred", "dst"), "left_anti").count()
      val row = (mh.sampledNodes.count() == 200L, badEdges == 0L,
        meanDeg(mh.sampledNodes) * 2.0 < meanDeg(rw.sampledNodes))
      s.createDataset(Seq(row))(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaBoolean,
          org.apache.spark.sql.Encoders.scalaBoolean,
          org.apache.spark.sql.Encoders.scalaBoolean))
        .toDF("count_ok", "edges_ok", "deg_unbiased")
    }),
    "smp_pagerank_props" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val pr = PageRank.compute(kb, iterations = 30)
      val n = kb.nodes.count()
      pr.agg(
        (count(lit(1)) === n).as("count_ok"),
        (sum(col("pr")) <= n.toDouble).as("mass_leaky"),
        (min(col("pr")) > 0.0).as("positive"))
    }),
    // personalized PageRank (Jeh-Widom): teleport to 5 md5-lowest seeds
    // (string-keyed portable order — node ids don't LCG);
    // property row — total mass leaks to ≤ 1, seeds all positive, and the
    // seed set's mass SHARE strictly exceeds the uniform |S|/n share (the
    // locality that distinguishes PPR from global PageRank)
    "smp_ppr_props" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val n = kb.nodes.count()
      val seeds = kb.nodes
        .orderBy(Determinism.md5Int(col("id")), col("id")).limit(5)
        .collect().map(_.getString(0)).toSeq
      val ppr = PageRank.personalized(kb, seeds, iterations = 15)
      ppr.agg(
        (count(lit(1)) === n).as("count_ok"),
        (sum(col("pr")) <= 1.0 + 1e-9).as("mass_leaky"),
        (min(when(col("id").isin(seeds: _*), col("pr"))) > 0.0).as("seeds_positive"),
        (sum(when(col("id").isin(seeds: _*), col("pr")).otherwise(lit(0.0))) / sum(col("pr"))
          > seeds.size.toDouble / n).as("seed_share_exceeds_uniform"))
    }),
    // GraphSAGE layer-wise fan-out sampling (Hamilton et al. NeurIPS'17):
    // every ~997th order seeds a 2-layer block, ≤4 neighbors at layer 1
    // and ≤3 at layer 2, both directions candidates. The md5 choice rule
    // is engine-portable, so this is a FULL exact oracle (every sampled
    // edge recomputed in DuckDB), not a property row — and the engine
    // side computes top-f with the bounded-state MinKStrings aggregate
    // (hub-proof, no per-node sort), proving the two mechanisms agree
    "smp_gnn_fanout" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val seeds = kb.nodes.filter(col("id").startsWith("o:") &&
        expr("CAST(substr(id, 3) AS BIGINT) % 997 = 0"))
      GnnSampling.fanoutSample(kb.edges, seeds, Seq(4, 3))
    }))

  /** Run ALL 20 registry samplers (Samplers.allNames — the reference's full
    * exported surface); emit the reference-test invariants as booleans
    * (constant oracle). The prioritized walkers share ONE 10-sweep rank
    * table (prIterations' convergence is not what these rows exercise; the
    * weighted pick distribution is), and the RandomEdge engine may land on
    * n+1 nodes (an edge adds two endpoints — the reference's own tests
    * allow the same slack). */
  private def invariants(s: SparkSession, d: String): DataFrame = {
    val kb = TpchKg.load(s, d).cache()
    val lp = lpOf(s, d)
    val n = 25
    val pr10 = PageRank.compute(kb, iterations = 10)
    val lpDf = s.createDataset(lp)(org.apache.spark.sql.Encoders.STRING).toDF("id")
    // the 20 samplers are independent (per-sampler data-keyed seeds, shared
    // read-only kb cache + rank table), and the iterative ones are
    // job-latency-bound driver loops — running FOUR at a time interleaves
    // their small jobs on the scheduler and cuts the gate's wall time ~3×
    // without touching any output (each row is deterministic in isolation)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rows =
      try {
        val futures = Samplers.allNames.map { name =>
          scala.concurrent.Future {
            invariantRow(s, kb, lpDf, lp, n, pr10, name)
          }(ec)
        }
        futures.map(f =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
        // all futures complete here, so shutdownNow only ever cancels work
        // when a row FAILED — then queued samplers must not keep submitting
        // jobs, and the non-daemon threads must die so the JVM can exit
      } finally pool.shutdownNow()
    val schema = StructType(Seq(
      StructField("sampler", StringType, nullable = false),
      StructField("count_ok", BooleanType, nullable = false),
      StructField("lp_ok", BooleanType, nullable = false),
      StructField("edges_ok", BooleanType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList[Row](scala.jdk.CollectionConverters
      .SeqHasAsJava(rows).asJava), schema)
  }

  private def invariantRow(s: SparkSession, kb: graft.core.Kb, lpDf: DataFrame,
                           lp: Seq[String], n: Int, pr10: DataFrame,
                           name: String): Row = {
    val plusOneAllowed = name.startsWith("RandomEdge")
    val sampled = Samplers
      .byName(name, kb, lp = if (name.contains("LP")) lp else Nil,
        seed = Seed, prRanks = Some(pr10))
      .sample(n)
    val cnt = sampled.nodes.count()
    val countOk = cnt == n || (plusOneAllowed && cnt == n + 1)
    val lpRetained =
      if (name.contains("LP")) lpDf.join(sampled.nodes, Seq("id"), "left_anti").isEmpty
      else true
    // every kept edge exists in the original and has both endpoints sampled
    val edgesOk = sampled.edges
      .join(kb.edges, Seq("src", "pred", "dst"), "left_anti").isEmpty &&
      sampled.edges.join(sampled.nodes.withColumnRenamed("id", "src"), Seq("src"), "left_anti").isEmpty &&
      sampled.edges.join(sampled.nodes.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti").isEmpty
    Row(name, countOk, lpRetained, edgesOk)
  }

  /** byte-exact replay of KgeNegatives.negatives(k=2, seed=42) as CTEs
    * ending in `fneg(src, pred, dst, i, neg_src, neg_dst)` — shared by the
    * negatives gate and the ranking-eval gate built on top of it */
  private val kgeNegCtes: String = {
    val keyC = "'42|c|' || CAST(g.i AS VARCHAR) || '|' || e.src || '|' || e.pred || '|' || e.dst"
    val keyD = "'42|d|' || CAST(g.i AS VARCHAR) || '|' || e.src || '|' || e.pred || '|' || e.dst"
    s"""nidx AS MATERIALIZED (
       |  SELECT id, row_number() OVER (
       |    ORDER BY ${Determinism.md5IntDuck("id")}, id) - 1 AS draw FROM nodes),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |draws AS MATERIALIZED (
       |  SELECT e.src, e.pred, e.dst, g.i,
       |    (${Determinism.md5IntDuck(keyC)}) % 2 AS corrupt_head,
       |    (${Determinism.md5IntDuck(keyD)}) % nn.n AS draw
       |  FROM edges e CROSS JOIN generate_series(0, 1) g(i) CROSS JOIN nn),
       |neg AS MATERIALIZED (
       |  SELECT d.src, d.pred, d.dst, CAST(d.i AS INT) AS i,
       |    CASE WHEN d.corrupt_head = 1 THEN x.id ELSE d.src END AS neg_src,
       |    CASE WHEN d.corrupt_head = 1 THEN d.dst ELSE x.id END AS neg_dst
       |  FROM draws d JOIN nidx x ON x.draw = d.draw),
       |fneg AS MATERIALIZED (
       |  SELECT src, pred, dst, i, neg_src, neg_dst FROM neg
       |  WHERE (neg_src <> src OR neg_dst <> dst)
       |    AND NOT EXISTS (SELECT 1 FROM edges t
       |      WHERE t.src = neg.neg_src AND t.pred = neg.pred AND t.dst = neg.neg_dst))""".stripMargin
  }

  /** DuckDB replay of the TransE gate: geography-slice corruptions (k=1),
    * md5-keyed integer init, and `epochs` full-batch integer-subgradient
    * epochs — generated per epoch so the two sides cannot drift. Embedding
    * state is carried as (id, i, v) ROWS (the oracle-friendly unpivot of
    * the engine's array columns). */
  private def transeCtes(epochs: Int): String = {
    val cfg = TranseGateCfg
    val mod = 2 * cfg.initBound + 1
    val keyC = "'42|c|' || CAST(g.i AS VARCHAR) || '|' || e.src || '|' || e.pred || '|' || e.dst"
    val keyD = "'42|d|' || CAST(g.i AS VARCHAR) || '|' || e.src || '|' || e.pred || '|' || e.dst"
    val keyE = "'42|e|' || tn.id || '|' || CAST(g.i AS VARCHAR)"
    val keyR = "'42|r|' || p.pred || '|' || CAST(g.i AS VARCHAR)"
    val sgn = (c: String) =>
      s"CASE WHEN $c > 0 THEN 1 WHEN $c < 0 THEN -1 ELSE 0 END"
    val slice =
      s"""tn AS MATERIALIZED (
         |  SELECT id FROM nodes WHERE substr(id, 1, 2) IN ('c:', 's:', 'n:', 'r:')),
         |te AS MATERIALIZED (
         |  SELECT src, pred, dst FROM edges WHERE pred IN ('inNation', 'inRegion')),
         |tnidx AS MATERIALIZED (
         |  SELECT id, row_number() OVER (
         |    ORDER BY ${Determinism.md5IntDuck("id")}, id) - 1 AS draw FROM tn),
         |tnn AS (SELECT COUNT(*) AS n FROM tn),
         |tdraws AS MATERIALIZED (
         |  SELECT e.src, e.pred, e.dst, g.i,
         |    (${Determinism.md5IntDuck(keyC)}) % 2 AS corrupt_head,
         |    (${Determinism.md5IntDuck(keyD)}) % tnn.n AS draw
         |  FROM te e CROSS JOIN generate_series(0, 0) g(i) CROSS JOIN tnn),
         |tneg AS (
         |  SELECT d.src, d.pred, d.dst, CAST(d.i AS INT) AS pi,
         |    CASE WHEN d.corrupt_head = 1 THEN x.id ELSE d.src END AS neg_src,
         |    CASE WHEN d.corrupt_head = 1 THEN d.dst ELSE x.id END AS neg_dst
         |  FROM tdraws d JOIN tnidx x ON x.draw = d.draw),
         |tfneg AS MATERIALIZED (
         |  SELECT src, pred, dst, pi, neg_src, neg_dst FROM tneg
         |  WHERE (neg_src <> src OR neg_dst <> dst)
         |    AND NOT EXISTS (SELECT 1 FROM te t
         |      WHERE t.src = tneg.neg_src AND t.pred = tneg.pred AND t.dst = tneg.neg_dst)),
         |e0 AS MATERIALIZED (
         |  SELECT tn.id, g.i, (${Determinism.md5IntDuck(keyE)}) % $mod - ${cfg.initBound} AS v
         |  FROM tn CROSS JOIN generate_series(0, ${cfg.dim - 1}) g(i)),
         |r0 AS MATERIALIZED (
         |  SELECT p.pred, g.i, (${Determinism.md5IntDuck(keyR)}) % $mod - ${cfg.initBound} AS v
         |  FROM (SELECT DISTINCT pred FROM te) p
         |  CROSS JOIN generate_series(0, ${cfg.dim - 1}) g(i))""".stripMargin
    val pairCols = "src, pred, dst, neg_src, neg_dst, pi"
    val epochCtes = (1 to epochs).map { k =>
      val (ep, rp) = (s"e${k - 1}", s"r${k - 1}")
      s"""pd$k AS MATERIALIZED (
         |  SELECT p.src, p.pred, p.dst, p.neg_src, p.neg_dst, p.pi, eh.i AS di,
         |         eh.v + r.v - et.v AS dpos, nh.v + r.v - nt.v AS dneg
         |  FROM tfneg p
         |  JOIN $ep eh ON eh.id = p.src
         |  JOIN $ep et ON et.id = p.dst AND et.i = eh.i
         |  JOIN $ep nh ON nh.id = p.neg_src AND nh.i = eh.i
         |  JOIN $ep nt ON nt.id = p.neg_dst AND nt.i = eh.i
         |  JOIN $rp r ON r.pred = p.pred AND r.i = eh.i),
         |f$k AS (
         |  SELECT $pairCols, SUM(ABS(dpos)) AS fpos, SUM(ABS(dneg)) AS fneg
         |  FROM pd$k GROUP BY 1, 2, 3, 4, 5, 6),
         |v$k AS MATERIALIZED (
         |  SELECT d.*, ${sgn("d.dpos")} AS spos, ${sgn("d.dneg")} AS sneg
         |  FROM pd$k d JOIN f$k f USING ($pairCols)
         |  WHERE ${cfg.margin} + f.fpos - f.fneg > 0),
         |ed$k AS (
         |  SELECT id, di, SUM(dv) AS dv FROM (
         |    SELECT src AS id, di, -spos * ${cfg.lr} AS dv FROM v$k
         |    UNION ALL SELECT dst, di, spos * ${cfg.lr} FROM v$k
         |    UNION ALL SELECT neg_src, di, sneg * ${cfg.lr} FROM v$k
         |    UNION ALL SELECT neg_dst, di, -sneg * ${cfg.lr} FROM v$k
         |  ) u GROUP BY 1, 2),
         |e$k AS MATERIALIZED (
         |  SELECT e.id, e.i,
         |         GREATEST(LEAST(e.v + COALESCE(d.dv, 0), ${cfg.clamp}), -${cfg.clamp}) AS v
         |  FROM $ep e LEFT JOIN ed$k d ON d.id = e.id AND d.di = e.i),
         |rd$k AS (
         |  SELECT pred, di, SUM((sneg - spos) * ${cfg.lr}) AS dv FROM v$k GROUP BY 1, 2),
         |r$k AS MATERIALIZED (
         |  SELECT r.pred, r.i,
         |         GREATEST(LEAST(r.v + COALESCE(d.dv, 0), ${cfg.clamp}), -${cfg.clamp}) AS v
         |  FROM $rp r LEFT JOIN rd$k d ON d.pred = r.pred AND d.di = r.i)""".stripMargin
    }
    (slice +: epochCtes).mkString(",\n")
  }

  private val lcgOrder = Determinism.lcgDuck("k", Seed)
  private val sampleCte =
    s"sample AS (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 50)"

  def oracleSql: Map[String, String] = Map(
    "smp_rn_nodes" -> TpchKgSql.withKg(s"$sampleCte SELECT id FROM sample", inCte = true),
    "smp_rn_edges" -> TpchKgSql.withKg(
      s"""sample AS (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500)
         |SELECT src, pred, dst FROM edges
         |WHERE src IN (SELECT id FROM sample) AND dst IN (SELECT id FROM sample)""".stripMargin,
      inCte = true),
    "smp_rn_ks" -> TpchKgSql.withKg(
      s"""sample AS (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500),
         |se AS (SELECT src, dst FROM edges
         |       WHERE src IN (SELECT id FROM sample) AND dst IN (SELECT id FROM sample)),
         |ho AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n1 FROM (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src) g GROUP BY deg),
         |so AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n2 FROM (SELECT src, COUNT(*) AS deg FROM se GROUP BY src) g GROUP BY deg),
         |hi AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n1 FROM (SELECT dst, COUNT(*) AS deg FROM edges GROUP BY dst) g GROUP BY deg),
         |si AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n2 FROM (SELECT dst, COUNT(*) AS deg FROM se GROUP BY dst) g GROUP BY deg),
         |jo AS (SELECT COALESCE(ho.deg, so.deg) AS deg, COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
         |       FROM ho FULL OUTER JOIN so ON ho.deg = so.deg),
         |ji AS (SELECT COALESCE(hi.deg, si.deg) AS deg, COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
         |       FROM hi FULL OUTER JOIN si ON hi.deg = si.deg),
         |co AS (SELECT SUM(n1) OVER (ORDER BY deg) AS c1, SUM(n2) OVER (ORDER BY deg) AS c2,
         |              SUM(n1) OVER () AS t1, SUM(n2) OVER () AS t2 FROM jo),
         |ci AS (SELECT SUM(n1) OVER (ORDER BY deg) AS c1, SUM(n2) OVER (ORDER BY deg) AS c2,
         |              SUM(n1) OVER () AS t1, SUM(n2) OVER () AS t2 FROM ji)
         |SELECT 'out' AS side, ROUND(MAX(ABS(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) - CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE))), 5) AS ks FROM co
         |UNION ALL
         |SELECT 'in', ROUND(MAX(ABS(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) - CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE))), 5) FROM ci""".stripMargin,
      inCte = true),
    "smp_rn_lpc_nodes" -> TpchKgSql.withKg(
      s"""lp AS (SELECT * FROM (VALUES ('c:1'), ('c:2'), ('s:1'), ('s:2')) t(id)),
         |t1 AS (SELECT DISTINCT e.dst AS id FROM edges e WHERE e.src IN (SELECT id FROM lp)),
         |t2 AS (SELECT DISTINCT e.dst AS id FROM edges e WHERE e.src IN (SELECT id FROM t1)),
         |tiers AS (
         |  SELECT n.id, COALESCE(MIN(t.tier), 3) AS tier FROM nodesk n
         |  LEFT JOIN (
         |    SELECT id, 0 AS tier FROM lp
         |    UNION ALL SELECT id, 1 FROM t1
         |    UNION ALL SELECT id, 2 FROM t2) t ON t.id = n.id
         |  GROUP BY n.id)
         |SELECT n.id FROM nodesk n JOIN tiers t ON t.id = n.id
         |ORDER BY t.tier, $lcgOrder, n.id LIMIT 50""".stripMargin, inCte = true),
    "smp_rn_degdist" -> TpchKgSql.withKg(
      s"""sample AS (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500),
         |se AS (SELECT src, pred, dst FROM edges
         |       WHERE src IN (SELECT id FROM sample) AND dst IN (SELECT id FROM sample)),
         |ho AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_orig FROM (
         |         SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |           SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges) u
         |         GROUP BY id) d GROUP BY deg),
         |hs AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_sample FROM (
         |         SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |           SELECT src AS id FROM se UNION ALL SELECT dst FROM se) u
         |         GROUP BY id) d GROUP BY deg)
         |SELECT COALESCE(ho.deg, hs.deg) AS deg,
         |       COALESCE(n_orig, 0) AS n_orig,
         |       COALESCE(n_sample, 0) AS n_sample
         |FROM ho FULL OUTER JOIN hs ON ho.deg = hs.deg""".stripMargin,
      inCte = true),
    "smp_rn_dpp_counts" -> TpchKgSql.withKg(
      s"""$sampleCte
         |SELECT node, n - CAST(FLOOR(0.5 * n) AS BIGINT) AS n_attrs FROM (
         |  SELECT node, COUNT(*) AS n FROM attrs
         |  WHERE node IN (SELECT id FROM sample) GROUP BY node) c""".stripMargin,
      inCte = true),
    "smp_invariants" ->
      ("""SELECT * FROM (VALUES
        |""".stripMargin +
        graft.sample.Samplers.allNames
          .map(n => s"  ('$n', TRUE, TRUE, TRUE)").mkString(",\n") +
        "\n) t(sampler, count_ok, lp_ok, edges_ok)"),
    "smp_deepwalk_corpus" -> TpchKgSql.withKg(
      s"""starts AS MATERIALIZED (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500),
         |${DeepWalk.oracleCtes(reps = 2, steps = 5, seed = Seed)}
         |${DeepWalk.oracleSelect(steps = 5)}""".stripMargin, inCte = true),
    "smp_node2vec_corpus" -> TpchKgSql.withKg(
      s"""starts AS MATERIALIZED (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500),
         |${Node2Vec.oracleCtes(reps = 2, steps = 5, wReturn = 1, wNear = 4, wFar = 16, seed = Seed)}
         |${Node2Vec.oracleSelect(steps = 5)}""".stripMargin, inCte = true),
    "smp_skipgram_pairs" -> TpchKgSql.withKg(
      s"""starts AS MATERIALIZED (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500),
         |${DeepWalk.oracleCtes(reps = 2, steps = 5, seed = Seed)},
         |corpus AS MATERIALIZED (
         |${DeepWalk.oracleSelect(steps = 5)})
         |SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM corpus a JOIN corpus b
         |  ON a.walk_id = b.walk_id AND a.step <> b.step AND abs(a.step - b.step) <= 2
         |GROUP BY 1, 2""".stripMargin, inCte = true),
    "smp_ppmi_pairs" -> TpchKgSql.withKg(
      s"""starts AS MATERIALIZED (SELECT id FROM nodesk ORDER BY $lcgOrder, id LIMIT 500),
         |${DeepWalk.oracleCtes(reps = 2, steps = 5, seed = Seed)},
         |corpus AS MATERIALIZED (
         |${DeepWalk.oracleSelect(steps = 5)}),
         |pairs AS MATERIALIZED (
         |SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM corpus a JOIN corpus b
         |  ON a.walk_id = b.walk_id AND a.step <> b.step AND abs(a.step - b.step) <= 2
         |GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM pairs),
         |rs AS MATERIALIZED (SELECT center, CAST(SUM(cnt) AS BIGINT) AS center_sum FROM pairs GROUP BY 1),
         |cs AS MATERIALIZED (SELECT context, CAST(SUM(cnt) AS BIGINT) AS context_sum FROM pairs GROUP BY 1)
         |SELECT p.center, p.context, p.cnt,
         |       CAST(p.cnt * t.total AS BIGINT) AS num,
         |       CAST(r.center_sum * c.context_sum AS BIGINT) AS den
         |FROM pairs p CROSS JOIN tot t
         |JOIN rs r ON r.center = p.center
         |JOIN cs c ON c.context = p.context
         |WHERE p.cnt * t.total > r.center_sum * c.context_sum""".stripMargin,
      inCte = true),
    "smp_kge_negatives" -> TpchKgSql.withKg(
      s"""$kgeNegCtes
         |SELECT src, pred, dst, i, neg_src, neg_dst FROM fneg""".stripMargin,
      inCte = true),
    // filtered ranking eval over the SAME corruption draw: frequency-
    // baseline scores, per-positive rank window (score desc, candidate-id
    // tiebreak), exact-integer MR/MRR/Hits sums — rr uses per-query
    // truncating integer division in BOTH engines
    "smp_transe_emb" -> TpchKgSql.withKg(
      s"""${transeCtes(2)}
         |SELECT 'e' AS kind, id, CAST(i AS INT) AS i, CAST(v AS BIGINT) AS v FROM e2
         |UNION ALL
         |SELECT 'r', pred, CAST(i AS INT), CAST(v AS BIGINT) FROM r2""".stripMargin,
      inCte = true),
    "smp_transe_eval" -> TpchKgSql.withKg(
      s"""${transeCtes(2)},
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT src, pred, dst, neg_src AS cand_src, neg_dst AS cand_dst, 0 AS is_pos FROM tfneg
         |  UNION ALL SELECT DISTINCT src, pred, dst, src, dst, 1 FROM te),
         |csc AS MATERIALIZED (
         |  SELECT c.src, c.pred, c.dst, c.cand_src, c.cand_dst, c.is_pos,
         |         -SUM(ABS(eh.v + r.v - et.v)) AS score
         |  FROM cand c
         |  JOIN e2 eh ON eh.id = c.cand_src
         |  JOIN e2 et ON et.id = c.cand_dst AND et.i = eh.i
         |  JOIN r2 r ON r.pred = c.pred AND r.i = eh.i
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |crk AS (SELECT *, row_number() OVER (
         |    PARTITION BY src, pred, dst
         |    ORDER BY score DESC, cand_src, cand_dst) AS cand_rank FROM csc)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST(SUM(cand_rank) AS BIGINT) AS rank_sum,
         |       CAST(SUM(1000000 // cand_rank) AS BIGINT) AS rr_sum_micros,
         |       CAST(SUM(CASE WHEN cand_rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
         |       CAST(SUM(CASE WHEN cand_rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits3
         |FROM crk WHERE is_pos = 1""".stripMargin,
      inCte = true),
    "smp_kge_eval" -> TpchKgSql.withKg(
      s"""$kgeNegCtes,
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT src, pred, dst, neg_src AS cand_src, neg_dst AS cand_dst, 0 AS is_pos FROM fneg
         |  UNION ALL SELECT DISTINCT src, pred, dst, src, dst, 1 FROM edges),
         |sp AS (SELECT src AS cand_src, pred, COUNT(*) AS n_sp FROM edges GROUP BY 1, 2),
         |po AS (SELECT pred, dst AS cand_dst, COUNT(*) AS n_po FROM edges GROUP BY 1, 2),
         |scored AS MATERIALIZED (
         |  SELECT c.src, c.pred, c.dst, c.cand_src, c.cand_dst, c.is_pos,
         |         COALESCE(sp.n_sp, 0) + COALESCE(po.n_po, 0) AS score
         |  FROM cand c
         |  LEFT JOIN sp ON sp.cand_src = c.cand_src AND sp.pred = c.pred
         |  LEFT JOIN po ON po.pred = c.pred AND po.cand_dst = c.cand_dst),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY src, pred, dst
         |    ORDER BY score DESC, cand_src, cand_dst) AS cand_rank FROM scored)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST(SUM(cand_rank) AS BIGINT) AS rank_sum,
         |       CAST(SUM(1000000 // cand_rank) AS BIGINT) AS rr_sum_micros,
         |       CAST(SUM(CASE WHEN cand_rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
         |       CAST(SUM(CASE WHEN cand_rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits3
         |FROM rk WHERE is_pos = 1""".stripMargin,
      inCte = true),
    "smp_mhrw_props" ->
      "SELECT TRUE AS count_ok, TRUE AS edges_ok, TRUE AS deg_unbiased",
    "smp_pagerank_props" ->
      "SELECT TRUE AS count_ok, TRUE AS mass_leaky, TRUE AS positive",
    "smp_ppr_props" ->
      ("SELECT TRUE AS count_ok, TRUE AS mass_leaky, TRUE AS seeds_positive, " +
        "TRUE AS seed_share_exceeds_uniform"),
    "smp_gnn_fanout" -> TpchKgSql.withKg(
      """seeds AS (SELECT id FROM nodes
        |          WHERE id LIKE 'o:%' AND CAST(substr(id, 3) AS BIGINT) % 997 = 0),
        |sym AS MATERIALIZED (
        |  SELECT src AS node, pred, dst AS nbr, 'f' AS dir FROM edges
        |  UNION ALL
        |  SELECT dst, pred, src, 'r' FROM edges),
        |c1 AS (
        |  SELECT sym.node, sym.pred, sym.nbr, sym.dir,
        |         ROW_NUMBER() OVER (PARTITION BY sym.node ORDER BY
        |           md5('42|1|' || sym.dir || '|' || sym.node || '|' || sym.pred || '|' || sym.nbr)
        |             || chr(1) || sym.pred || chr(1) || sym.nbr || chr(1) || sym.dir) AS rn
        |  FROM sym JOIN seeds ON seeds.id = sym.node),
        |s1 AS MATERIALIZED (SELECT node, pred, nbr, dir FROM c1 WHERE rn <= 4),
        |f1 AS (SELECT DISTINCT nbr AS id FROM s1),
        |c2 AS (
        |  SELECT sym.node, sym.pred, sym.nbr, sym.dir,
        |         ROW_NUMBER() OVER (PARTITION BY sym.node ORDER BY
        |           md5('42|2|' || sym.dir || '|' || sym.node || '|' || sym.pred || '|' || sym.nbr)
        |             || chr(1) || sym.pred || chr(1) || sym.nbr || chr(1) || sym.dir) AS rn
        |  FROM sym JOIN f1 ON f1.id = sym.node),
        |s2 AS (SELECT node, pred, nbr, dir FROM c2 WHERE rn <= 3)
        |SELECT 1 AS layer, node, pred, nbr, dir FROM s1
        |UNION ALL
        |SELECT 2, node, pred, nbr, dir FROM s2""".stripMargin,
      inCte = true))
}
