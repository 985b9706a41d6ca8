package graft.queries

import graft.expr._
import graft.lp._
import graft.sources.{TpchKg, TpchKgSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.Determinism

/** Class-expression retrieval (SURVEY §2.7) + learning-problem encoding and
  * metric scoring (§2.4 A3/A4, §2.6), each with an exact DuckDB oracle. */
object CeQueries {

  type Q = (SparkSession, String) => DataFrame

  private def eval(ce: ClassExpr): Q = (s, d) => Eval(TpchKg.load(s, d), ce)

  private val agentClosure = TpchKg.tbox.subClassesOf("Agent").toSeq.sorted
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** region-membership LP shared by lp_best_hypotheses / lp_search_tree:
    * pos = every agent in a region-r:0 nation, neg = the suppliers of
    * region r:1 */
  private def regionLp(kb: graft.core.Kb): (Seq[String], Seq[String]) = {
    def regionAgents(r: String) = kb.edges.filter(col("pred") === "inNation")
      .join(kb.edges.filter(col("pred") === "inRegion" && col("dst") === r)
        .select(col("src").as("nat")), col("dst") === col("nat"), "left_semi")
      .select(col("src")).distinct()
    (regionAgents("r:0").collect().map(_.getString(0)).toSeq.sorted,
      regionAgents("r:1").filter(col("src").startsWith("s:"))
        .collect().map(_.getString(0)).toSeq.sorted)
  }

  /** candidate pool for the lp_eval_table experiment: winner selection must
    * be non-trivial (the trivial pool head loses) and every retrieval is
    * expressible in the DuckDB oracle */
  private val evalTablePool: Seq[(String, ClassExpr)] = Seq(
    "Supplier" -> Named("Supplier"),
    "∃inNation.{n:1}" -> HasValue("inNation", "n:1"),
    "Customer" -> Named("Customer"))

  def queries: Map[String, Q] = Map(
    "ce_named_agent" -> eval(Named("Agent")),
    "ce_and_hasvalue" -> eval(And(Seq(Named("Customer"), HasValue("inNation", "n:7")))),
    "ce_or" -> eval(Or(Seq(Named("Nation"), Named("Region")))),
    "ce_not" -> eval(And(Seq(Named("Agent"), Not(Named("Customer"))))),
    "ce_exists_nested" -> eval(
      Exists("placedBy", Exists("inNation", HasValue("inRegion", "r:2")))),
    "ce_forall" -> eval(
      And(Seq(Named("Order"), ForAll("contains", DataCompare("psize", "<=", 25.0))))),
    "ce_mincard" -> eval(MinCard(5, "contains", Named("Part"))),
    "ce_maxcard" -> eval(And(Seq(Named("Order"), MaxCard(2, "contains", Top)))),
    "ce_exactcard" -> eval(ExactCard(1, "suppliedBy", Named("Supplier"))),
    "ce_data" -> eval(And(Seq(Named("Customer"), DataCompare("acctbal", ">", 5000.0)))),
    // data-∀ with the OWA vacuous pass: every node without a psize
    // assertion is a member, plus parts whose every psize ≤ 25
    "ce_data_forall" -> eval(DataForAll("psize", "<=", 25.0)),
    // boolean / time typed compares over the F11 typed-cast columns
    "ce_data_bool" -> eval(And(Seq(Named("Order"), DataBoolHasValue("urgent", value = true)))),
    "ce_data_time" -> eval(DataTimeCompare("orderdate", "<", "1993-01-01")),
    // inverse-role restrictions: ∃inNation⁻.Customer = nations with ≥1
    // customer; ∀placedBy⁻ = customers all of whose orders stay under the
    // bound (vacuous pass for customers with no orders)
    "ce_exists_inverse" -> eval(ExistsInverse("inNation", Named("Customer"))),
    "ce_forall_inverse" -> eval(And(Seq(Named("Customer"),
      ForAllInverse("placedBy", DataCompare("totalprice", "<", 200000.0))))),
    "lp_encode_diff" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val keys = TpchKg.table(s, d, "customer")
        .filter(col("c_custkey") % 100 === 1 || col("c_custkey") % 100 === 2)
        .select(col("c_custkey")).collect().map(_.getLong(0)).sorted
      val (posK, negK) = keys.partition(_ % 100 == 1)
      val lp = Lp(posK.map("c:" + _), negK.map("c:" + _))
      LearningProblem.encode(kb, lp).kbDiff
    }),
    "lp_encode_negsample" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val posK = TpchKg.table(s, d, "customer")
        .filter(col("c_custkey") % 100 === 1)
        .select(col("c_custkey")).collect().map(_.getLong(0)).sorted
      val lp = Lp(posK.map("c:" + _), Nil)
      LearningProblem.encode(kb, lp, keyed = Some(TpchKg.nodesWithKey(s, d)), seed = 7L).kbNeg
    }),
    "lp_eval_metrics" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val inN = kb.edges.filter(col("pred") === "inNation")
      val pos = inN.filter(col("dst").isin("n:1", "n:2") && col("src").startsWith("c:"))
        .select("src").distinct().collect().map(_.getString(0)).toSeq.sorted
      val neg = inN.filter(col("dst") === "n:1" && col("src").startsWith("s:"))
        .select("src").distinct().collect().map(_.getString(0)).toSeq.sorted
      // sf0.001 has no nation-1 supplier: neg is empty and encode samples
      // |pos| negatives (reference knowledge_base.py:686-688) in the
      // portable LCG order the oracle mirrors
      val elp = LearningProblem.encode(kb, Lp(pos, neg), keyed = Some(TpchKg.nodesWithKey(s, d)))
      val retrieved = Eval(kb, HasValue("inNation", "n:1"))
      val (tp, fn, fp, tn) = LearningProblem.confusion(retrieved, elp)
      val rows = Seq((tp, fn, fp, tn,
        F1.score2(tp, fn, fp, tn)._2,
        Accuracy.score2(tp, fn, fp, tn)._2,
        Precision.score2(tp, fn, fp, tn)._2,
        Recall.score2(tp, fn, fp, tn)._2,
        WeightedAccuracy.score2(tp, fn, fp, tn)._2))
      s.createDataFrame(rows).toDF(
        "tp", "fn", "fp", "tn", "f1", "accuracy", "precision", "recall", "wacc")
    }),
    // the reference's evaluation-table experiment: sample 10% × 2 iterations
    // with the portable-LCG RandomNodeSampler, fit = argmax-F1 pool candidate
    // on (sampled KB, trimmed LP), then score the winner on the ORIGINAL
    // graph with the FULL LP (evaluation_table_generator.py:170-185) — the
    // whole pipeline is deterministic, so the oracle reproduces the exact
    // mean/σ of both F1 and Accuracy in SQL
    "lp_eval_table" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val inN = kb.edges.filter(col("pred") === "inNation")
      val pos = inN.filter(col("dst").isin("n:1", "n:2") && col("src").startsWith("c:"))
        .select("src").distinct().collect().map(_.getString(0)).toSeq.sorted
      val neg = (inN.filter(col("dst") === "n:3" && col("src").startsWith("c:"))
        .select("src").distinct().collect().map(_.getString(0)) ++
        inN.filter(col("src").startsWith("s:"))
          .select("src").distinct().collect().map(_.getString(0)))
        .distinct.toSeq.sorted
      EvalTable.run(kb,
        Seq(("cust_n1n2", Lp(pos, neg), evalTablePool)),
        Seq("RandomNodeSampler"),
        fraction = 0.10, iterations = 2,
        keyed = Some(TpchKg.nodesWithKey(s, d)),
        requirePosSurvives = true)
    }),
    // T1 best-hypotheses: score a candidate pool with F1 against an LP,
    // return get_top_n(3, 'quality') (reference search.py:620-638)
    "lp_best_hypotheses" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val (pos, neg) = regionLp(kb)
      val elp = LearningProblem.encode(kb, Lp(pos, neg))
      val cands: Seq[(String, ClassExpr)] = Seq(
        "Customer" -> Named("Customer"),
        "Supplier" -> Named("Supplier"),
        "Agent" -> Named("Agent"),
        "∃inNation.∃inRegion.{r:0}" ->
          Exists("inNation", HasValue("inRegion", "r:0")),
        "Order" -> Named("Order"))
      val scored = cands.map { case (nm, ce) =>
        (nm, LearningProblem.evaluateConcept(kb, ce, F1, elp)._2)
      }
      Hypotheses.topN(s.createDataFrame(scored).toDF("concept", "quality"), 3)
    }),
    // T2 SearchTreePriorityQueue (reference search.py:511-665) end-to-end:
    // root ⊤, a batch of named-class refinements (one Spark job scores all
    // six — Region/Part/Order are weak, quality 0, and never enter the
    // tree), expand the most promising with three restriction candidates
    // (∃inNation.∃inRegion.{r:0} is the goal, F1 = 1; the r:1 twin is
    // weak), then get_top_n(5, 'quality'). Every registration decision and
    // score is reproduced by the oracle from the base tables.
    "lp_search_tree" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val (pos, neg) = regionLp(kb)
      val elp = LearningProblem.encode(kb, Lp(pos, neg))
      val tree = new SearchTreePriorityQueue(kb, elp, F1)
      val root = tree.addRoot(Top)
      tree.addNodes(Seq(Named("Agent"), Named("Customer"), Named("Supplier"),
        Named("Order"), Named("Part"), Named("Region")), root)
      val mp = tree.getMostPromising()
      val l2 = tree.addNodes(Seq(
        Exists("inNation", HasValue("inRegion", "r:0")),
        Exists("inNation", HasValue("inRegion", "r:1")),
        And(Seq(Named("Customer"), Exists("inNation", HasValue("inRegion", "r:0"))))), mp)
      require(l2.head.contains(true), "goal concept not flagged")
      val top = tree.getTopN(5, "quality")
      s.createDataFrame(top.map(n => (n.render, n.quality, n.len, n.individualsCount)))
        .toDF("concept", "quality", "len", "individuals")
    }),
    // the evaluation-table experiment with the NATIVE learner as the fit
    // stage (the role the reference hands to EvoLearner/CELOE,
    // evaluation_table_generator.py:148-156): sample 10% × 2 iterations,
    // Learner.fit on the sampled graph with the trimmed LP, score the
    // winner on the ORIGINAL graph with the full LP. LP pos = agents /
    // neg = orders: agents are frequent enough that every sample at every
    // sf keeps both sides non-empty (a suppliers-pos variant broke at
    // sf0.001 — 10 suppliers, none sampled), and the learner provably
    // reaches the goal `Agent` on the first expansion of ⊤ (its sampled
    // retrieval IS the trimmed pos, no sampled order is an agent). The
    // recorded winner trace is asserted to catch any search deviation.
    "lp_eval_table_learner" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val pos = kb.types.filter(col("cls").isin("Customer", "Supplier"))
        .select("node").collect().map(_.getString(0)).toSeq.sorted
      val neg = kb.types.filter(col("cls") === "Order")
        .select("node").collect().map(_.getString(0)).toSeq.sorted
      val winners = scala.collection.mutable.Buffer.empty[String]
      val f = EvalTable.learnerFit()
      val recording: EvalTable.FitFn = (k, e) => {
        val w = f(k, e); winners += w._1; w
      }
      val out = EvalTable.run(kb,
        Seq(("agents", Lp(pos, neg), Nil)),
        Seq("RandomNodeSampler"),
        fraction = 0.10, iterations = 2,
        keyed = Some(TpchKg.nodesWithKey(s, d)),
        fit = Some(recording),
        requirePosSurvives = true)
      require(winners.toSeq == Seq("Agent", "Agent"),
        s"unexpected learner winners: $winners")
      out
    }),
    // best-first refinement learner end-to-end (engine extension — see
    // lp/Refine.scala): LP pos = suppliers / neg = customers. The
    // deterministic trace: iter 1 expands ⊤ (registers Agent and
    // ∃inNation.⊤; Order/Part/Place and the other restrictions are weak),
    // iter 2 expands Agent (best unexpanded by heuristic-then-render) and
    // its direct subclass Supplier is the goal. The oracle recomputes every
    // registered node's F1 from the base tables and applies the same
    // (quality desc, render) top-3.
    "lp_refine_fit" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val pos = kb.types.filter(col("cls") === "Supplier")
        .select("node").collect().map(_.getString(0)).toSeq.sorted
      val neg = kb.types.filter(col("cls") === "Customer")
        .select("node").collect().map(_.getString(0)).toSeq.sorted
      val elp = LearningProblem.encode(kb, Lp(pos, neg))
      val fit = Learner.fit(kb, elp)
      require(fit.goalFound && fit.iterations == 2,
        s"unexpected search trace: goal=${fit.goalFound} iters=${fit.iterations}")
      s.createDataFrame(fit.best.map(n => (n.render, n.quality, n.len)))
        .toDF("concept", "quality", "len")
    }),
    // the refinement learner with the FULL dialect switched on
    // (RefineConfig: negation, cardinality, inverse roles, boolean data
    // properties from the F13 typed enumerator, and an explicit numeric
    // split ladder): LP pos = urgent orders / neg = the other orders. The
    // deterministic trace: ⊤ scores 2P/(P+1) < 1, iteration 1 expands it,
    // and the atom batch contains ∃urgent.{true} — the goal (its retrieval
    // IS the positive set). The search registers ⊤ plus every non-weak
    // atom; the oracle recomputes all 30 candidates' F1 from the base
    // tables, filters quality > 0 (the weak-rejection rule), and applies
    // the same (quality desc, render) top-3 — so every new dialect form's
    // score, the weak-node behavior, and the tie-break order are all
    // driver-verified.
    "lp_refine_fit_data" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val urgent = kb.attrs.filter(col("prop") === "urgent")
      val pos = urgent.filter(col("lexical") === "true")
        .select("node").collect().map(_.getString(0)).toSeq.sorted
      val neg = urgent.filter(col("lexical") === "false")
        .select("node").collect().map(_.getString(0)).toSeq.sorted
      val elp = LearningProblem.encode(kb, Lp(pos, neg))
      val cfg = RefineConfig(negation = true, cardinality = true, inverse = true,
        boolProps = kb.booleanDataProperties,
        dataSplits = Map("totalprice" -> Seq(100000.0)))
      val fit = Learner.fit(kb, elp, config = cfg)
      require(fit.goalFound && fit.iterations == 1 &&
        fit.best.head.render == "∃urgent.{true}",
        s"unexpected search trace: goal=${fit.goalFound} iters=${fit.iterations} " +
          s"best=${fit.best.headOption.map(_.render)}")
      s.createDataFrame(fit.best.map(n => (n.render, n.quality, n.len)))
        .toDF("concept", "quality", "len")
    }),
    // ρ with ⊔ and ≤n switched on (round-5 dialect growth): LP pos =
    // customers ∪ parts (no shared named class), neg = suppliers. The
    // deterministic trace: iter 1 expands ⊤ — atoms under maxLen 4 are the
    // 4 roots, 5 ∃r.⊤, 6 root-pair unions, and 5 ≤5 r.⊤; (Agent ⊔ Part)
    // retrieves all positives with only the suppliers as fp, and the
    // 0.98592 tie with ⊤ and the all-but-some-orders ≤5 atoms breaks on
    // '(' < '≤' < '⊤', so iter 2 expands it and refines its Agent
    // disjunct to the goal (Customer ⊔ Part). The oracle recomputes all
    // 23 candidate scores (incl. the ≤ retrievals) from the base tables,
    // mirrors weak rejection with quality > 0, and applies the same
    // (quality desc, render) top-3.
    "lp_refine_fit_union" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      def cls(c: String) = kb.types.filter(col("cls") === c)
        .select("node").collect().map(_.getString(0)).toSeq
      val pos = (cls("Customer") ++ cls("Part")).sorted
      val neg = cls("Supplier").sorted
      val elp = LearningProblem.encode(kb, Lp(pos, neg))
      val cfg = RefineConfig(union = true, maxCardinality = true)
      val fit = Learner.fit(kb, elp, maxLen = 4, config = cfg)
      require(fit.goalFound && fit.iterations == 2 &&
        fit.best.head.render == "(Customer ⊔ Part)",
        s"unexpected search trace: goal=${fit.goalFound} iters=${fit.iterations} " +
          s"best=${fit.best.headOption.map(_.render)}")
      s.createDataFrame(fit.best.map(n => (n.render, n.quality, n.len)))
        .toDF("concept", "quality", "len")
    }),
    // the split-ladder helper's portability claim, driver-verified: the
    // exact rank-based rungs (sorted distinct values at floor(i·m/k))
    // must be reproducible by plain SQL — DuckDB recomputes them with
    // ROW_NUMBER over the same attrs table
    "lp_splits" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val rungs = Refine.splitsFor(kb, "acctbal", 4)
      s.createDataFrame(rungs.zipWithIndex.map { case (v, i) => (i + 1, v) })
        .toDF("rung", "value")
    }),
    // get_top_n keyed on LENGTH, with the engine computing concept_len
    // from the ClassExpr (reference knowledge_base.py:512-524)
    "lp_best_hyp_length" -> ((s, d) => {
      val cands: Seq[ClassExpr] = Seq(
        Named("Customer"),
        Not(Named("Customer")),
        MinCard(5, "contains", Named("Part")),
        Exists("inNation", HasValue("inRegion", "r:0")),
        And(Seq(Named("Customer"), DataCompare("acctbal", ">", 5000.0))))
      val rows = cands.map(ce => (ClassExpr.render(ce), ClassExpr.length(ce)))
      Hypotheses.topN(s.createDataFrame(rows).toDF("concept", "len"), 3, key = "length")
    }))

  def oracleSql: Map[String, String] = Map(
    "ce_named_agent" -> TpchKgSql.withKg(
      s"SELECT DISTINCT node AS id FROM types WHERE cls IN ${inList(agentClosure)}"),
    "ce_and_hasvalue" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM types WHERE cls = 'Customer'
        |INTERSECT
        |SELECT DISTINCT src FROM edges WHERE pred = 'inNation' AND dst = 'n:7'""".stripMargin),
    "ce_or" -> TpchKgSql.withKg(
      "SELECT DISTINCT node AS id FROM types WHERE cls IN ('Nation', 'Region')"),
    "ce_not" -> TpchKgSql.withKg(
      s"""SELECT DISTINCT node AS id FROM types WHERE cls IN ${inList(agentClosure)}
         |INTERSECT
         |(SELECT id FROM nodes EXCEPT SELECT DISTINCT node FROM types WHERE cls = 'Customer')""".stripMargin),
    "ce_exists_nested" -> TpchKgSql.withKg(
      """SELECT DISTINCT e1.src AS id FROM edges e1
        |WHERE e1.pred = 'placedBy' AND e1.dst IN (
        |  SELECT e2.src FROM edges e2 WHERE e2.pred = 'inNation' AND e2.dst IN (
        |    SELECT e3.src FROM edges e3 WHERE e3.pred = 'inRegion' AND e3.dst = 'r:2'))""".stripMargin),
    "ce_forall" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM types WHERE cls = 'Order'
        |INTERSECT
        |(SELECT id FROM nodes
        | EXCEPT
        | SELECT e.src FROM edges e WHERE e.pred = 'contains' AND e.dst IN (
        |   SELECT id FROM nodes
        |   EXCEPT
        |   SELECT node FROM attrs WHERE prop = 'psize' AND CAST(lexical AS DOUBLE) <= 25.0))""".stripMargin),
    "ce_mincard" -> TpchKgSql.withKg(
      """SELECT src AS id FROM edges
        |WHERE pred = 'contains' AND dst IN (SELECT node FROM types WHERE cls = 'Part')
        |GROUP BY src HAVING COUNT(*) >= 5""".stripMargin),
    "ce_maxcard" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM types WHERE cls = 'Order'
        |INTERSECT
        |(SELECT id FROM nodes EXCEPT
        | SELECT src FROM edges WHERE pred = 'contains' GROUP BY src HAVING COUNT(*) > 2)""".stripMargin),
    "ce_exactcard" -> TpchKgSql.withKg(
      """SELECT src AS id FROM edges
        |WHERE pred = 'suppliedBy' AND dst IN (SELECT node FROM types WHERE cls = 'Supplier')
        |GROUP BY src HAVING COUNT(*) = 1""".stripMargin),
    "ce_data" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM types WHERE cls = 'Customer'
        |INTERSECT
        |SELECT DISTINCT node FROM attrs WHERE prop = 'acctbal' AND CAST(lexical AS DOUBLE) > 5000.0""".stripMargin),
    "ce_data_forall" -> TpchKgSql.withKg(
      """SELECT id FROM nodes
        |EXCEPT
        |SELECT node FROM attrs WHERE prop = 'psize' AND NOT (CAST(lexical AS DOUBLE) <= 25.0)""".stripMargin),
    "ce_data_bool" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM types WHERE cls = 'Order'
        |INTERSECT
        |SELECT DISTINCT node FROM attrs WHERE prop = 'urgent' AND CAST(lexical AS BOOLEAN) = TRUE""".stripMargin),
    "ce_data_time" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM attrs
        |WHERE prop = 'orderdate' AND CAST(lexical AS TIMESTAMP) < TIMESTAMP '1993-01-01'""".stripMargin),
    "ce_exists_inverse" -> TpchKgSql.withKg(
      """SELECT DISTINCT dst AS id FROM edges WHERE pred = 'inNation'
        |AND src IN (SELECT node FROM types WHERE cls = 'Customer')""".stripMargin),
    "ce_forall_inverse" -> TpchKgSql.withKg(
      """SELECT DISTINCT node AS id FROM types WHERE cls = 'Customer'
        |INTERSECT
        |(SELECT id FROM nodes
        | EXCEPT
        | SELECT e.dst FROM edges e WHERE e.pred = 'placedBy' AND e.src IN (
        |   SELECT id FROM nodes
        |   EXCEPT
        |   SELECT DISTINCT node FROM attrs WHERE prop = 'totalprice' AND CAST(lexical AS DOUBLE) < 200000.0))""".stripMargin),
    "lp_encode_diff" -> TpchKgSql.withKg(
      """SELECT id FROM nodes
        |EXCEPT
        |SELECT 'c:' || CAST(c_custkey AS VARCHAR) FROM customer WHERE c_custkey % 100 IN (1, 2)""".stripMargin),
    "lp_encode_negsample" -> TpchKgSql.withKg(
      s"""SELECT id FROM (
         |  SELECT id, row_number() OVER (ORDER BY ${Determinism.lcgDuck("k", 7L)}, id) AS rn
         |  FROM nodesk) r
         |WHERE rn <= (SELECT COUNT(*) FROM customer WHERE c_custkey % 100 = 1)""".stripMargin),
    "lp_eval_metrics" -> TpchKgSql.withKg(
      s"""retrieved AS (SELECT DISTINCT src AS id FROM edges WHERE pred = 'inNation' AND dst = 'n:1'),
        |pos AS (SELECT DISTINCT src AS id FROM edges WHERE pred = 'inNation' AND dst IN ('n:1','n:2') AND src LIKE 'c:%'),
        |neg0 AS (SELECT DISTINCT src AS id FROM edges WHERE pred = 'inNation' AND dst = 'n:1' AND src LIKE 's:%'),
        |neg AS (SELECT id FROM neg0
        |  UNION ALL
        |  SELECT id FROM (
        |    SELECT id, row_number() OVER (ORDER BY ${Determinism.lcgDuck("k", 42L)}, id) AS rn
        |    FROM nodesk) r
        |  WHERE rn <= (SELECT COUNT(*) FROM pos) AND NOT EXISTS (SELECT 1 FROM neg0)),
        |c AS (SELECT
        |  CAST((SELECT COUNT(*) FROM pos WHERE id IN (SELECT id FROM retrieved)) AS BIGINT) AS tp,
        |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN (SELECT id FROM retrieved)) AS BIGINT) AS fn,
        |  CAST((SELECT COUNT(*) FROM neg WHERE id IN (SELECT id FROM retrieved)) AS BIGINT) AS fp,
        |  CAST((SELECT COUNT(*) FROM neg WHERE id NOT IN (SELECT id FROM retrieved)) AS BIGINT) AS tn)
        |SELECT tp, fn, fp, tn,
        |  ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))
        |        / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) AS f1,
        |  ROUND(CAST(tp+tn AS DOUBLE) / (tp+tn+fp+fn), 5) AS accuracy,
        |  ROUND(CAST(tp AS DOUBLE) / (tp+fp), 5) AS precision,
        |  ROUND(CAST(tp AS DOUBLE) / (tp+fn), 5) AS recall,
        |  ROUND(((CAST(tp AS DOUBLE)/(tp+fn)) + (CAST(tn AS DOUBLE)/(fp+tn)))
        |        / ((CAST(tp AS DOUBLE)/(tp+fn)) + (CAST(tn AS DOUBLE)/(fp+tn))
        |           + (CAST(fp AS DOUBLE)/(fp+tn)) + (CAST(fn AS DOUBLE)/(tp+fn))), 5) AS wacc
        |FROM c""".stripMargin, inCte = true),
    // exact mirror of the whole EvalTable pipeline: per iteration i the RN
    // sample is the LCG top-10% (seed 42+i), the LP trims to the sample, the
    // 3-candidate pool is F1-scored on the SAMPLED graph (induced edges /
    // restricted types), the argmax (tie → lowest pool index) wins, and the
    // winner is scored on the ORIGINAL graph with the FULL LP — exactly
    // evaluation_table_generator.py:170-185
    "lp_eval_table" -> {
      val f1Case = "CASE WHEN tp = 0 THEN 0.0 ELSE " +
        "ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))" +
        " / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END"
      def iter(i: Int): String = {
        val ord = Determinism.lcgDuck("k", 42L + i)
        s"""samp$i AS (SELECT id FROM (
           |  SELECT id, row_number() OVER (ORDER BY $ord, id) AS rn FROM nodesk) r
           |  WHERE rn <= (SELECT CAST(FLOOR(COUNT(*) * 0.10) AS BIGINT) FROM nodes)),
           |tpos$i AS (SELECT id FROM pos WHERE id IN (SELECT id FROM samp$i)),
           |tneg$i AS (SELECT id FROM neg WHERE id IN (SELECT id FROM samp$i)),
           |ret$i AS (
           |  SELECT 0 AS idx, node AS id FROM types
           |    WHERE cls = 'Supplier' AND node IN (SELECT id FROM samp$i)
           |  UNION ALL
           |  SELECT 1, src FROM (
           |    SELECT DISTINCT src FROM edges WHERE pred = 'inNation' AND dst = 'n:1'
           |      AND src IN (SELECT id FROM samp$i)
           |      AND EXISTS (SELECT 1 FROM samp$i WHERE id = 'n:1')) q1
           |  UNION ALL
           |  SELECT 2, node FROM types
           |    WHERE cls = 'Customer' AND node IN (SELECT id FROM samp$i)),
           |fit$i AS (
           |  SELECT cand.idx, COALESCE(tpj.n, 0) AS tp,
           |    (SELECT COUNT(*) FROM tpos$i) - COALESCE(tpj.n, 0) AS fn,
           |    COALESCE(fpj.n, 0) AS fp
           |  FROM (VALUES (0), (1), (2)) cand(idx)
           |  LEFT JOIN (SELECT idx, COUNT(*) AS n FROM ret$i r
           |    JOIN tpos$i t ON t.id = r.id GROUP BY idx) tpj ON tpj.idx = cand.idx
           |  LEFT JOIN (SELECT idx, COUNT(*) AS n FROM ret$i r
           |    JOIN tneg$i t ON t.id = r.id GROUP BY idx) fpj ON fpj.idx = cand.idx),
           |win$i AS (SELECT idx FROM (SELECT idx, $f1Case AS q FROM fit$i) s
           |  ORDER BY q DESC, idx LIMIT 1)""".stripMargin
      }
      TpchKgSql.withKg(
        s"""pos AS (SELECT DISTINCT src AS id FROM edges
           |  WHERE pred = 'inNation' AND dst IN ('n:1', 'n:2') AND src LIKE 'c:%'),
           |neg AS (SELECT DISTINCT src AS id FROM edges
           |  WHERE pred = 'inNation' AND ((dst = 'n:3' AND src LIKE 'c:%') OR src LIKE 's:%')),
           |${iter(0)},
           |${iter(1)},
           |retF AS (
           |  SELECT 0 AS idx, node AS id FROM types WHERE cls = 'Supplier'
           |  UNION ALL SELECT 1, src FROM (
           |    SELECT DISTINCT src FROM edges WHERE pred = 'inNation' AND dst = 'n:1') q
           |  UNION ALL SELECT 2, node FROM types WHERE cls = 'Customer'),
           |fullsc AS (
           |  SELECT cand.idx, COALESCE(tpj.n, 0) AS tp,
           |    (SELECT COUNT(*) FROM pos) - COALESCE(tpj.n, 0) AS fn,
           |    COALESCE(fpj.n, 0) AS fp,
           |    (SELECT COUNT(*) FROM neg) - COALESCE(fpj.n, 0) AS tn,
           |    COALESCE(rc.n, 0) AS rcount
           |  FROM (VALUES (0), (1), (2)) cand(idx)
           |  LEFT JOIN (SELECT idx, COUNT(*) AS n FROM retF r
           |    JOIN pos p ON p.id = r.id GROUP BY idx) tpj ON tpj.idx = cand.idx
           |  LEFT JOIN (SELECT idx, COUNT(*) AS n FROM retF r
           |    JOIN neg g ON g.id = r.id GROUP BY idx) fpj ON fpj.idx = cand.idx
           |  LEFT JOIN (SELECT idx, COUNT(*) AS n FROM retF GROUP BY idx) rc
           |    ON rc.idx = cand.idx),
           |fullq AS (
           |  SELECT idx,
           |    CASE WHEN rcount = 0 THEN 0.0 ELSE $f1Case END AS f1,
           |    CASE WHEN rcount = 0 THEN 0.0
           |      ELSE ROUND(CAST(tp + tn AS DOUBLE) / (tp + tn + fp + fn), 5) END AS acc
           |  FROM fullsc),
           |it AS (SELECT (SELECT idx FROM win0) AS widx
           |  UNION ALL SELECT (SELECT idx FROM win1)),
           |sc AS (SELECT f.f1, f.acc FROM it JOIN fullq f ON f.idx = it.widx),
           |m AS (SELECT AVG(f1) AS mf1, AVG(acc) AS macc FROM sc)
           |SELECT 'RandomNodeSampler' AS sampler, 'cust_n1n2' AS lp,
           |  ROUND((SELECT mf1 FROM m), 5) AS mean_f1,
           |  ROUND(SQRT(AVG((f1 - (SELECT mf1 FROM m)) * (f1 - (SELECT mf1 FROM m)))), 5) AS sd_f1,
           |  ROUND((SELECT macc FROM m), 5) AS mean_acc,
           |  ROUND(SQRT(AVG((acc - (SELECT macc FROM m)) * (acc - (SELECT macc FROM m)))), 5) AS sd_acc,
           |  CAST(2 AS INT) AS iterations
           |FROM sc""".stripMargin, inCte = true)
    },
    "lp_best_hypotheses" -> {
      def scoredRow(name: String, ret: String) =
        s"""SELECT '$name' AS concept,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id IN ($ret)) AS BIGINT) AS tp,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN ($ret)) AS BIGINT) AS fn,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id IN ($ret)) AS BIGINT) AS fp""".stripMargin
      val rows = Seq(
        scoredRow("Customer", "SELECT node FROM types WHERE cls = 'Customer'"),
        scoredRow("Supplier", "SELECT node FROM types WHERE cls = 'Supplier'"),
        scoredRow("Agent", s"SELECT node FROM types WHERE cls IN ${inList(agentClosure)}"),
        scoredRow("∃inNation.∃inRegion.{r:0}",
          "SELECT src FROM edges WHERE pred = 'inNation' AND dst IN " +
            "(SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:0')"),
        scoredRow("Order", "SELECT node FROM types WHERE cls = 'Order'"))
        .mkString("\nUNION ALL\n")
      TpchKgSql.withKg(
        s"""pos AS (SELECT DISTINCT e.src AS id FROM edges e WHERE e.pred = 'inNation'
           |  AND e.dst IN (SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:0')),
           |neg AS (SELECT DISTINCT e.src AS id FROM edges e WHERE e.pred = 'inNation'
           |  AND e.src LIKE 's:%'
           |  AND e.dst IN (SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:1')),
           |scored AS (
           |$rows)
           |SELECT concept, quality FROM (
           |  SELECT concept, CASE WHEN tp = 0 THEN 0.0
           |    ELSE ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))
           |         / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END AS quality
           |  FROM scored) q
           |ORDER BY quality DESC, concept LIMIT 3""".stripMargin, inCte = true)
    },
    // T2 mirror: score all ten candidates the tree saw; `WHERE quality > 0`
    // reproduces the weak-node registration rule (search.py:593-594 — a
    // quality-0 candidate never enters `nodes`, so it can't reach
    // get_top_n); top-5 by quality desc, render asc — the tree's
    // deterministic tiebreak
    "lp_search_tree" -> {
      val r0 = "SELECT src AS id FROM edges WHERE pred = 'inNation' AND dst IN " +
        "(SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:0')"
      val r1 = "SELECT src AS id FROM edges WHERE pred = 'inNation' AND dst IN " +
        "(SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:1')"
      def cls(c: String) = s"SELECT node AS id FROM types WHERE cls = '$c'"
      def cand(name: String, len: Int, ret: String) =
        s"""SELECT '$name' AS concept, CAST($len AS INT) AS len,
           |  CAST((SELECT COUNT(DISTINCT x.id) FROM ($ret) x) AS BIGINT) AS individuals,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS tp,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fn,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fp""".stripMargin
      val rows = Seq(
        cand("⊤", 1, "SELECT id FROM nodes"),
        cand("Agent", 1, s"SELECT node AS id FROM types WHERE cls IN ${inList(agentClosure)}"),
        cand("Customer", 1, cls("Customer")),
        cand("Supplier", 1, cls("Supplier")),
        cand("Order", 1, cls("Order")),
        cand("Part", 1, cls("Part")),
        cand("Region", 1, cls("Region")),
        cand("∃inNation.∃inRegion.{r:0}", 5, r0),
        cand("∃inNation.∃inRegion.{r:1}", 5, r1),
        cand("(Customer ⊓ ∃inNation.∃inRegion.{r:0})", 7,
          s"SELECT id FROM ($r0) a WHERE id IN (${cls("Customer")})"))
        .mkString("\nUNION ALL\n")
      TpchKgSql.withKg(
        s"""pos AS (SELECT DISTINCT e.src AS id FROM edges e WHERE e.pred = 'inNation'
           |  AND e.dst IN (SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:0')),
           |neg AS (SELECT DISTINCT e.src AS id FROM edges e WHERE e.pred = 'inNation'
           |  AND e.src LIKE 's:%'
           |  AND e.dst IN (SELECT src FROM edges WHERE pred = 'inRegion' AND dst = 'r:1')),
           |scored AS (
           |$rows)
           |SELECT concept, quality, len, individuals FROM (
           |  SELECT concept, CASE WHEN tp = 0 THEN 0.0
           |    ELSE ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))
           |         / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END AS quality,
           |    len, individuals FROM scored) q
           |WHERE quality > 0
           |ORDER BY quality DESC, concept LIMIT 5""".stripMargin, inCte = true)
    },
    // two-graph learner experiment: the winner is `Agent` each iteration
    // (asserted engine-side), so mean/σ reduce to Agent's original-graph
    // F1/Accuracy — derived from the base tables, not hardcoded
    "lp_eval_table_learner" -> {
      val f1Case = "CASE WHEN tp = 0 THEN 0.0 ELSE " +
        "ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))" +
        " / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END"
      TpchKgSql.withKg(
        s"""pos AS (SELECT node AS id FROM types WHERE cls IN ('Customer', 'Supplier')),
           |neg AS (SELECT node AS id FROM types WHERE cls = 'Order'),
           |ret AS (SELECT node AS id FROM types WHERE cls IN ${inList(agentClosure)}),
           |c AS (SELECT
           |  CAST((SELECT COUNT(*) FROM pos WHERE id IN (SELECT id FROM ret)) AS BIGINT) AS tp,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN (SELECT id FROM ret)) AS BIGINT) AS fn,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id IN (SELECT id FROM ret)) AS BIGINT) AS fp,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id NOT IN (SELECT id FROM ret)) AS BIGINT) AS tn)
           |SELECT 'RandomNodeSampler' AS sampler, 'agents' AS lp,
           |  $f1Case AS mean_f1, CAST(0.0 AS DOUBLE) AS sd_f1,
           |  ROUND(CAST(tp + tn AS DOUBLE) / (tp + tn + fp + fn), 5) AS mean_acc,
           |  CAST(0.0 AS DOUBLE) AS sd_acc, CAST(2 AS INT) AS iterations
           |FROM c""".stripMargin, inCte = true)
    },
    // learner mirror: the five concepts the deterministic search registers
    // (see the query comment), F1-scored from base tables, top-3 by
    // (quality desc, render) — ties at 2P/(2P+C) break on the '(' < 'A'
    // < '∃' < '⊤' render order, same as the engine's
    "lp_refine_fit" -> {
      def cand(name: String, len: Int, ret: String) =
        s"""SELECT '$name' AS concept, CAST($len AS INT) AS len,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS tp,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fn,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fp""".stripMargin
      val inNat = "SELECT DISTINCT src AS id FROM edges WHERE pred = 'inNation'"
      val agents = s"SELECT node AS id FROM types WHERE cls IN ${inList(agentClosure)}"
      val rows = Seq(
        cand("⊤", 1, "SELECT id FROM nodes"),
        cand("Agent", 1, agents),
        cand("∃inNation.⊤", 3, inNat),
        cand("Supplier", 1, "SELECT node AS id FROM types WHERE cls = 'Supplier'"),
        cand("(Agent ⊓ ∃inNation.⊤)", 5,
          s"SELECT id FROM ($agents) a WHERE id IN ($inNat)"))
        .mkString("\nUNION ALL\n")
      TpchKgSql.withKg(
        s"""pos AS (SELECT node AS id FROM types WHERE cls = 'Supplier'),
           |neg AS (SELECT node AS id FROM types WHERE cls = 'Customer'),
           |scored AS (
           |$rows)
           |SELECT concept, quality, len FROM (
           |  SELECT concept, CASE WHEN tp = 0 THEN 0.0
           |    ELSE ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))
           |         / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END AS quality,
           |    len FROM scored) q
           |WHERE quality > 0
           |ORDER BY quality DESC, concept LIMIT 3""".stripMargin, inCte = true)
    },
    // full-dialect learner mirror: ⊤ plus ALL 29 atoms of the extended
    // ρ(⊤) (4 roots, 5 ∃r.⊤, 6 ¬leaf, 5 ≥2 r.⊤, 5 ∃r⁻.⊤, 2 boolean
    // hasValue, 2 numeric-split compares), each F1-scored from the base
    // tables; WHERE quality > 0 reproduces weak-node rejection and the
    // top-3 applies the engine's (quality desc, render) tiebreak
    "lp_refine_fit_data" -> {
      def cand(name: String, len: Int, ret: String) =
        s"""SELECT '$name' AS concept, CAST($len AS INT) AS len,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS tp,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fn,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fp""".stripMargin
      val placeClosure = TpchKg.tbox.subClassesOf("Place").toSeq.sorted
      def cls(c: String) = s"SELECT node AS id FROM types WHERE cls = '$c'"
      def clsIn(cs: Seq[String]) = s"SELECT node AS id FROM types WHERE cls IN ${inList(cs)}"
      def notCls(c: String) = s"SELECT id FROM nodes EXCEPT SELECT node FROM types WHERE cls = '$c'"
      def existsTop(r: String) = s"SELECT DISTINCT src AS id FROM edges WHERE pred = '$r'"
      def minCard2(r: String) =
        s"SELECT src AS id FROM edges WHERE pred = '$r' GROUP BY src HAVING COUNT(*) >= 2"
      def invTop(r: String) = s"SELECT DISTINCT dst AS id FROM edges WHERE pred = '$r'"
      def boolHas(v: String) =
        s"SELECT DISTINCT node AS id FROM attrs WHERE prop = 'urgent' AND lexical = '$v'"
      def priceCmp(op: String) =
        s"SELECT DISTINCT node AS id FROM attrs WHERE prop = 'totalprice' AND CAST(lexical AS DOUBLE) $op 100000.0"
      val roles = Seq("contains", "inNation", "inRegion", "placedBy", "suppliedBy")
      val leaves = Seq("Customer", "Nation", "Order", "Part", "Region", "Supplier")
      val rows = (Seq(
        cand("⊤", 1, "SELECT id FROM nodes"),
        cand("Agent", 1, clsIn(agentClosure)),
        cand("Order", 1, cls("Order")),
        cand("Part", 1, cls("Part")),
        cand("Place", 1, clsIn(placeClosure))) ++
        roles.map(r => cand(s"∃$r.⊤", 3, existsTop(r))) ++
        leaves.map(c => cand(s"¬$c", 2, notCls(c))) ++
        roles.map(r => cand(s"≥2 $r.⊤", 4, minCard2(r))) ++
        roles.map(r => cand(s"∃$r⁻.⊤", 4, invTop(r))) ++
        Seq(
          cand("∃urgent.{true}", 3, boolHas("true")),
          cand("∃urgent.{false}", 3, boolHas("false")),
          cand("∃totalprice.(>= 100000.0)", 3, priceCmp(">=")),
          cand("∃totalprice.(<= 100000.0)", 3, priceCmp("<="))))
        .mkString("\nUNION ALL\n")
      TpchKgSql.withKg(
        s"""pos AS (SELECT node AS id FROM attrs WHERE prop = 'urgent' AND lexical = 'true'),
           |neg AS (SELECT node AS id FROM attrs WHERE prop = 'urgent' AND lexical = 'false'),
           |scored AS (
           |$rows)
           |SELECT concept, quality, len FROM (
           |  SELECT concept, CASE WHEN tp = 0 THEN 0.0
           |    ELSE ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))
           |         / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END AS quality,
           |    len FROM scored) q
           |WHERE quality > 0
           |ORDER BY quality DESC, concept LIMIT 3""".stripMargin, inCte = true)
    },
    // union/max-cardinality learner mirror: ⊤ + the 20 extended-ρ(⊤)
    // atoms (4 roots, 5 ∃r.⊤, 6 root-pair ⊔, 5 ≤5 r.⊤) + the 2 unions
    // iteration 2 registers, each F1-scored from the base tables;
    // quality > 0 reproduces weak rejection, top-3 the engine tiebreak
    "lp_refine_fit_union" -> {
      def cand(name: String, len: Int, ret: String) =
        s"""SELECT '$name' AS concept, CAST($len AS INT) AS len,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS tp,
           |  CAST((SELECT COUNT(*) FROM pos WHERE id NOT IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fn,
           |  CAST((SELECT COUNT(*) FROM neg WHERE id IN (SELECT id FROM ($ret) y)) AS BIGINT) AS fp""".stripMargin
      val placeClosure = TpchKg.tbox.subClassesOf("Place").toSeq.sorted
      def clsIn(cs: Seq[String]) = s"SELECT node AS id FROM types WHERE cls IN ${inList(cs)}"
      def cls(c: String) = s"SELECT node AS id FROM types WHERE cls = '$c'"
      def existsTop(r: String) = s"SELECT DISTINCT src AS id FROM edges WHERE pred = '$r'"
      def maxCard5(r: String) =
        s"""SELECT id FROM nodes EXCEPT
           |SELECT src FROM edges WHERE pred = '$r' GROUP BY src HAVING COUNT(*) > 5""".stripMargin
      val roles = Seq("contains", "inNation", "inRegion", "placedBy", "suppliedBy")
      val rootRet: Map[String, String] = Map(
        "Agent" -> clsIn(agentClosure), "Order" -> cls("Order"),
        "Part" -> cls("Part"), "Place" -> clsIn(placeClosure))
      val roots = Seq("Agent", "Order", "Part", "Place")
      val rows = (Seq(cand("⊤", 1, "SELECT id FROM nodes")) ++
        roots.map(c => cand(c, 1, rootRet(c))) ++
        roles.map(r => cand(s"∃$r.⊤", 3, existsTop(r))) ++
        (for {
          (a, i) <- roots.zipWithIndex
          b <- roots.drop(i + 1)
        } yield cand(s"($a ⊔ $b)", 3, s"${rootRet(a)} UNION ${rootRet(b)}")) ++
        roles.map(r => cand(s"≤5 $r.⊤", 4, maxCard5(r))) ++
        Seq(
          cand("(Customer ⊔ Part)", 3, s"${cls("Customer")} UNION ${cls("Part")}"),
          cand("(Part ⊔ Supplier)", 3, s"${cls("Part")} UNION ${cls("Supplier")}")))
        .mkString("\nUNION ALL\n")
      TpchKgSql.withKg(
        s"""pos AS (SELECT node AS id FROM types WHERE cls IN ('Customer', 'Part')),
           |neg AS (SELECT node AS id FROM types WHERE cls = 'Supplier'),
           |scored AS (
           |$rows)
           |SELECT concept, quality, len FROM (
           |  SELECT concept, CASE WHEN tp = 0 THEN 0.0
           |    ELSE ROUND(2 * ((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn)))
           |         / ((CAST(tp AS DOUBLE)/(tp+fp)) + (CAST(tp AS DOUBLE)/(tp+fn))), 5) END AS quality,
           |    len FROM scored) q
           |WHERE quality > 0
           |ORDER BY quality DESC, concept LIMIT 3""".stripMargin, inCte = true)
    },
    // rank-based rungs in plain SQL: ROW_NUMBER over sorted distinct
    // values, keep indices floor(i·m/4) for i = 1..3 (integer division)
    "lp_splits" -> TpchKgSql.withKg(
      """dv AS (SELECT DISTINCT CAST(lexical AS DOUBLE) AS v FROM attrs WHERE prop = 'acctbal'),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS idx, COUNT(*) OVER () AS m FROM dv)
        |SELECT CAST(t.i AS INT) AS rung, r.v AS value
        |FROM r JOIN (VALUES (1), (2), (3)) t(i) ON r.idx = (t.i * r.m) // 4
        |ORDER BY rung""".stripMargin, inCte = true),
    // hand-counted owlapy lengths: Customer=1, ¬Customer=2,
    // ≥5 contains.Part=4, ∃inNation.∃inRegion.{r:0}=5,
    // (Customer ⊓ ∃acctbal.(> 5000.0))=5; top-3 by length desc
    "lp_best_hyp_length" ->
      """SELECT * FROM (VALUES
        |  ('(Customer ⊓ ∃acctbal.(> 5000.0))', CAST(5 AS INT)),
        |  ('∃inNation.∃inRegion.{r:0}', CAST(5 AS INT)),
        |  ('≥5 contains.Part', CAST(4 AS INT))
        |) t(concept, len)""".stripMargin)

  // helper lives in TpchKgSql; see withKg(body, inCte)
}
