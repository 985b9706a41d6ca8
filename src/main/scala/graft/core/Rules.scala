package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Horn-rule mining over the materialized KG — the knowledge-completion
  * pass of a construction pipeline (Galárraga et al., "AMIE: Association
  * rule mining under incomplete evidence in ontological knowledge bases",
  * WWW'13): discover chain rules  p1(x,z) ∧ p2(z,y) ⇒ p3(x,y)  with
  * support and both confidence forms. A freshly extracted web KG is
  * incomplete by construction; its high-confidence compositions are what
  * link-prediction / completion runs on, and a PLANTED composition
  * (materialize p1∘p2 as its own predicate, re-mine, expect confidence 1)
  * is the end-to-end self-check the oracle gate uses.
  *
  * Measures (AMIE §3, PCA = partial-completeness assumption):
  *  - body_n(p1,p2)        = |{(x,y) : ∃z body}|          (distinct pairs)
  *  - support(p1,p2,p3)    = |{(x,y) body ∧ p3(x,y)}|
  *  - pca_n(p1,p2,p3)      = |{(x,y) body ∧ ∃y' p3(x,y')}| (PCA denominator:
  *    only subjects KNOWN to emit p3 count as counter-evidence)
  *  - conf = support/body_n, pca_conf = support/pca_n — both reported as
  *    exact integer micro-units; floats never touch the gate surface.
  *
  * Plan shape — AMIE's counting queries as three joins, no per-rule
  * re-scans: ONE z-equi-join builds all wedges for every (p1,p2)
  * simultaneously, distinct to body pairs; ONE x-equi-join against the
  * (x, p3) emitter dim expands each body to its candidate heads (bounded
  * by the predicate vocabulary, not the data); ONE left equi-join against
  * the triple set marks hits. The wedge join is the only quadratic
  * hazard: wedges through z cost din(z)·dout(z), so z is capped by that
  * PRODUCT (`maxWedge`) — a high-in/low-out hub (a supplier with 10⁵
  * orders but one nation edge) is linear and sails through, while a
  * true product hub is excluded and logged by the spec's binding case.
  * Input follows the edge table's distinct-triple invariant.
  */
object Rules {

  def mineChains(edges: DataFrame, maxWedge: Long = 1L << 20,
                 minSupport: Long = 2L): DataFrame = {
    require(maxWedge >= 1 && minSupport >= 1, s"maxWedge=$maxWedge minSupport=$minSupport")
    val e = Pin(edges.select(col("src"), col("pred"), col("dst"))).df
    val din = e.groupBy(col("dst").as("z")).agg(count(lit(1)).as("din"))
    val dout = e.groupBy(col("src").as("z")).agg(count(lit(1)).as("dout"))
    val zok = din.join(dout, Seq("z"))
      .filter(col("din") * col("dout") <= maxWedge).select("z")
    val bodies = Pin(e.select(col("src").as("x"), col("pred").as("p1"), col("dst").as("z"))
      .join(zok, Seq("z"))
      .join(e.select(col("src").as("z"), col("pred").as("p2"), col("dst").as("y")), Seq("z"))
      .select("p1", "p2", "x", "y").distinct()).df
    val px = e.select(col("src").as("x"), col("pred").as("p3")).distinct()
    val heads = e.select(col("src").as("x"), col("pred").as("p3"),
      col("dst").as("y"), lit(1L).as("hit"))
    val cand = bodies.join(px, Seq("x")).join(heads, Seq("x", "p3", "y"), "left")
    val rules = cand.groupBy("p1", "p2", "p3")
      .agg(count(lit(1)).as("pca_n"),
        sum(coalesce(col("hit"), lit(0L))).as("support"))
      .filter(col("support") >= minSupport)
    val bn = bodies.groupBy("p1", "p2").agg(count(lit(1)).as("body_n"))
    rules.join(bn, Seq("p1", "p2"))
      .select(col("p1"), col("p2"), col("p3"),
        col("body_n"), col("pca_n"), col("support"),
        expr("1000000 * support div body_n").as("conf_micro"),
        expr("1000000 * support div pca_n").as("pca_conf_micro"))
  }

  /** Rule APPLICATION — AMIE's completion step: for every mined chain
    * rule at pca_conf ≥ `minPcaConfMicro`, derive the head pairs its body
    * produces over `edges` and keep those NOT already in the KG, each
    * carrying the best confidence among the rules deriving it. These are
    * the completion candidates a curation queue (or a downstream
    * embedding re-ranker) consumes.
    *
    * Plan shape: the selected rule set is vocabulary-scale (broadcast by
    * AQE into both predicate joins); the z-equi-join is the only fan-out
    * and is restricted to the selected rules' body predicates (the miner
    * already excluded product hubs via `maxWedge`, and a rule whose body
    * explodes quadratically would not have cleared minSupport counting in
    * the first place); dedup + max-conf is one keyed aggregate; known
    * facts drop via one full-key anti-join. */
  def applyChains(edges: DataFrame, rules: DataFrame,
                  minPcaConfMicro: Long = 900000L): DataFrame = {
    val sel = rules.filter(col("pca_conf_micro") >= minPcaConfMicro)
      .select("p1", "p2", "p3", "pca_conf_micro")
    val e = edges.select(col("src"), col("pred"), col("dst"))
    val derived = sel
      .join(e.select(col("src").as("x"), col("pred").as("p1"), col("dst").as("z")), Seq("p1"))
      .join(e.select(col("src").as("z"), col("pred").as("p2"), col("dst").as("y")), Seq("z", "p2"))
      .groupBy(col("x"), col("p3"), col("y"))
      .agg(max(col("pca_conf_micro")).as("conf_micro"))
    derived.join(
      e.select(col("src").as("x"), col("pred").as("p3"), col("dst").as("y")),
      Seq("x", "p3", "y"), "left_anti")
      .select(col("x").as("subj"), col("p3").as("pred"), col("y").as("obj"),
        col("conf_micro"))
  }

  /** Materialize the composition p1∘p2 as a derived predicate `as` —
    * the planted-rule helper (and the generic property-path single-step
    * as a persistent edge set): distinct (x, as, y) with ∃z p1(x,z) ∧
    * p2(z,y). One z-equi-join + distinct. */
  def compose(edges: DataFrame, p1: String, p2: String, as: String): DataFrame =
    edges.filter(col("pred") === p1)
      .select(col("src").as("x"), col("dst").as("z"))
      .join(edges.filter(col("pred") === p2)
        .select(col("src").as("z"), col("dst").as("y")), Seq("z"))
      .select(col("x").as("src"), lit(as).as("pred"), col("y").as("dst"))
      .distinct()

  /** RELATION ALIGNMENT (PARIS, Suchanek-Abiteboul-Senellart VLDB'12 §5.2;
    * AMIE's length-1 rules p(x,y) ⇒ q(x,y) / q(y,x)) — the schema-level
    * axis of KG fusion: when two sources name the same relation
    * differently (or inversely), the evidence is their PAIR-SET overlap.
    * For every ordered predicate pair (p, q), p ≠ q, in both directions:
    *
    *  - fwd: support = |pairs(p) ∩ pairs(q)|, inv: |pairs(p) ∩ pairs(q)⁻¹|
    *  - p_n = |pairs(p)| (CWA denominator)
    *  - pca_n = |{(x,y) ∈ p : x emits q}| (fwd) / |{… : x is a q-object}|
    *    (inv) — AMIE's partial-completeness: only heads KNOWN to the other
    *    relation count as counter-evidence
    *
    * conf = support/p_n and pca_conf = support/pca_n reported as exact
    * integer micro-units (floats never touch the gate). Plan: per
    * direction ONE (src,dst)-keyed self-equi-join (distinct-triple input
    * ⇒ output rows are unique per (pair, p, q) — no pre-distinct needed),
    * one broadcast-size emitter dim for pca, two keyed aggregates over the
    * predicate-pair domain (vocabulary², tiny). The pair join is dense
    * only where relations genuinely overlap — disjoint id spaces
    * contribute nothing. */
  def alignRelations(edges: DataFrame, minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, s"minSupport=$minSupport")
    val e = Pin(edges.select(col("src"), col("pred"), col("dst"))).df
    val pn = e.groupBy(col("pred").as("p")).agg(count(lit(1)).as("p_n"))

    def direction(right: DataFrame, dir: String, emitters: DataFrame) = {
      val sup = e.select(col("src"), col("dst"), col("pred").as("p"))
        .join(right, Seq("src", "dst"))
        .filter(col("p") =!= col("q"))
        .groupBy("p", "q").agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSupport)
      val pca = e.select(col("src"), col("pred").as("p"))
        .join(emitters, Seq("src"))
        .filter(col("p") =!= col("q"))
        .groupBy("p", "q").agg(count(lit(1)).as("pca_n"))
      sup.join(pca, Seq("p", "q")).withColumn("direction", lit(dir))
    }

    val fwd = direction(
      e.select(col("src"), col("dst"), col("pred").as("q")), "fwd",
      e.select(col("src"), col("pred").as("q")).distinct())
    val inv = direction(
      e.select(col("dst").as("src"), col("src").as("dst"), col("pred").as("q")), "inv",
      e.select(col("dst").as("src"), col("pred").as("q")).distinct())
    fwd.unionAll(inv).join(pn, Seq("p"))
      .select(col("p"), col("q"), col("direction"),
        col("support"), col("p_n"), col("pca_n"),
        expr("1000000 * support div p_n").as("conf_micro"),
        expr("1000000 * support div pca_n").as("pca_conf_micro"))
  }

  /** CLASS ALIGNMENT (PARIS §5.1 — the third fusion axis beside instance
    * and relation alignment): for every ordered class pair (a, b), a ≠ b,
    * the instance-overlap subsumption evidence  conf(a ⊑ b) =
    * |inst(a) ∩ inst(b)| / |inst(a)|  — 10⁶ micro-units both ways means
    * equivalence, one-sided means subclass. types(node, cls) is assumed
    * distinct (the Kb invariant). Plan: ONE node-keyed self-equi-join +
    * one aggregate over the class-pair domain (class vocabulary², tiny) +
    * a broadcast |inst| dim — multi-typed nodes are exactly the join's
    * fan-out, mono-typed KGs produce nothing. */
  def alignClasses(types: DataFrame, minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, s"minSupport=$minSupport")
    val t = types.select(col("node"), col("cls"))
    val an = t.groupBy(col("cls").as("a")).agg(count(lit(1)).as("a_n"))
    t.select(col("node"), col("cls").as("a"))
      .join(t.select(col("node"), col("cls").as("b")), Seq("node"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .join(an, Seq("a"))
      .select(col("a"), col("b"), col("support"), col("a_n"),
        expr("1000000 * support div a_n").as("conf_micro"))
  }
}
