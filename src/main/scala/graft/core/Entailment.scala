package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RDFS entailment materialization over the split fact tables — the
  * forward-chaining closure a KG-construction pipeline runs once after
  * canonicalization so every downstream consumer (samplers, concept
  * learners, SPARQL-ish queries) sees inferred types without re-deriving
  * them per query. Covers the ρDF core (Muñoz, Pérez & Gutierrez,
  * "Simple and efficient minimal RDFS", JWS 2009) over instance data:
  *
  *   - rdfs7  (p ⊑ q):      edge/attr asserted via p is entailed via q
  *   - rdfs2  (domain):     (s, p, o) ∧ domain(p, C) ⟹ type(s, C)
  *   - rdfs3  (range):      (s, p, o) ∧ range(p, C)  ⟹ type(o, C)
  *   - rdfs9/11 (A ⊑ B):    type(x, A) ⟹ type(x, B), ⊑ transitive
  *
  * The TBox is driver-scale metadata (Schemas.scala Tbox note), so BOTH
  * closures — subPropertyOf and subClassOf — are tiny driver fixpoints
  * broadcast into the fact tables. With a static TBox the rule set
  * stratifies (ter Horst, "Completeness, decidability and complexity of
  * entailment for RDF Schema…", JWS 2005): close property assertions
  * under ⊑p first, apply domain/range to the closed assertions, then
  * close types under ⊑c — ONE pass, no instance-level iteration. The
  * plan is therefore unions + broadcast hash joins with exactly one
  * exchange of its own (the final set-semantics aggregate on
  * (node, cls)) — the 100-TB shape: no fixpoint loop ever touches the
  * O(|E|) tables. The raw-types subtree appears twice in the plan
  * (raw ∪ raw⋈⊑c): deliberately NOT checkpointed — at scale that is two
  * pipelined scans of the fact tables, strictly cheaper than
  * materializing an O(|facts|) intermediate.
  */
object Entailment {

  /** Transitive closure of a driver-scale strict partial order given as
    * (sub, sup) pairs — the ⊑ fixpoint both rule groups broadcast. */
  def closure(pairs: Seq[(String, String)]): Seq[(String, String)] = {
    var clo = pairs.toSet
    var grew = true
    while (grew) {
      val next = clo ++ (for {
        (a, b) <- clo; (c, d) <- clo if b == c
      } yield (a, d))
      grew = next.size != clo.size
      clo = next
    }
    clo.toSeq.sorted
  }

  /** The entailed type table (node, cls), DISTINCT — asserted types plus
    * everything rdfs2/3/7/9/11 derive. Safe to feed back into a Kb (the
    * operator is idempotent: entailedTypes(kb.copy(types = out)) == out). */
  def entailedTypes(kb: Kb): DataFrame = {
    val spark = kb.spark
    import spark.implicits._

    // rdfs7: close the property-assertion tables under the subPropertyOf
    // closure. The closure rides a broadcast; an empty TBox relation
    // short-circuits to the asserted tables (no join in the plan at all).
    val spClo = closure(kb.tbox.subProp)
    val edges0 = kb.edges.select(col("src"), col("pred"), col("dst"))
    val attrs0 = kb.attrs.select(col("node"), col("prop"))
    val (edges, attrs) =
      if (spClo.isEmpty) (edges0, attrs0)
      else {
        val sp = broadcast(spClo.toDF("p", "q"))
        (edges0.unionAll(
           edges0.join(sp, edges0("pred") === sp("p"))
             .select(col("src"), col("q").as("pred"), col("dst"))),
         attrs0.unionAll(
           attrs0.join(sp, attrs0("prop") === sp("p"))
             .select(col("node"), col("q").as("prop"))))
      }

    // rdfs2/rdfs3 over the ⊑p-closed assertions; empty-domain props (the
    // TBox's "any domain" marker) contribute nothing by construction.
    val objDom = kb.tbox.objectProps.filter(_.domain.nonEmpty).map(p => (p.prop, p.domain))
    val objRng = kb.tbox.objectProps.filter(_.range.nonEmpty).map(p => (p.prop, p.range))
    val dataDom = kb.tbox.dataProps.filter(_.domain.nonEmpty).map(p => (p.prop, p.domain))
    def rule(facts: DataFrame, keyCol: String, outCol: String,
             tb: Seq[(String, String)]): Seq[DataFrame] =
      if (tb.isEmpty) Nil
      else {
        val t = broadcast(tb.toDF("p", "cls"))
        Seq(facts.join(t, facts(keyCol) === t("p"))
          .select(col(outCol).as("node"), col("cls")))
      }
    val derived =
      rule(edges, "pred", "src", objDom) ++
        rule(edges, "pred", "dst", objRng) ++
        rule(attrs, "prop", "node", dataDom)
    val raw = derived.foldLeft(kb.types.select(col("node"), col("cls")))(_ unionAll _)

    // rdfs9 + rdfs11: one broadcast join against the ⊑c closure covers
    // every superclass level at once — no per-level rounds.
    val scClo = closure(kb.tbox.subClass)
    val withSup =
      if (scClo.isEmpty) raw
      else {
        val sc = broadcast(scClo.toDF("sub", "sup"))
        raw.unionAll(raw.join(sc, raw("cls") === sc("sub"))
          .select(col("node"), col("sup").as("cls")))
      }
    withSup.distinct()
  }

  /** OWL-RL property-semantics closure of the EDGE table — the companion
    * of [[entailedTypes]] for object assertions, covering the
    * instance-data rules whose closure needs NO instance-level fixpoint
    * under a static driver-scale schema (W3C OWL 2 RL/RDF, table 5):
    *
    *   - prp-symp       p symmetric:       (s, p, o) ⟹ (o, p, s)
    *   - prp-inv1/2     p owl:inverseOf q: (s, p, o) ⟺ (o, q, s)
    *   - prp-spo1       p ⊑ q:             (s, p, o) ⟹ (s, q, o)
    *
    * Stratified symmetric → inverse → ⊑p (each rule group fires on the
    * previous stratum's output), which IS the fixpoint as long as no
    * DERIVED predicate — a ⊑-superproperty or an inverse target — itself
    * carries a symmetric/inverse axiom; that precondition is validated
    * up front so a schema needing true iteration fails LOUDLY instead of
    * under-deriving. (prp-trp, transitivity, is out of THIS one-pass
    * operator because it IS an instance-level fixpoint —
    * [[transitiveClosure]] materializes it, `Paths.closureFrom` is the
    * bounded seeded form.) Plan: unions of projections of ONE edge scan with
    * driver-broadcast axiom tables, a single distinct exchange for set
    * semantics — the same no-iteration 100-TB shape as entailedTypes. */
  def entailedEdges(edges0: DataFrame,
                    subPropertyOf: Seq[(String, String)] = Nil,
                    inverseOf: Seq[(String, String)] = Nil,
                    symmetric: Seq[String] = Nil): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val spClo = closure(subPropertyOf)
    val superProps = spClo.map(_._2).toSet
    val invPreds = inverseOf.flatMap(p => Seq(p._1, p._2))
    // one-pass soundness: a predicate DERIVABLE by a later stratum must
    // not re-trigger an earlier rule group — no symmetric pred touching
    // an inverse axiom or derivable by ⊑, no ⊑-superproperty in an
    // inverse axiom, no predicate in two distinct inverse pairs
    val recursing =
      (superProps ++ invPreds).intersect(symmetric.toSet) ++
        superProps.intersect(invPreds.toSet) ++
        invPreds.groupBy(identity).collect { case (p, xs) if xs.size > 1 => p }
    require(recursing.isEmpty,
      s"predicates ${recursing.toSeq.sorted} make the stratified one-pass " +
        "closure incomplete — this schema needs an iterative closure")

    val e0 = edges0.select(col("src"), col("pred"), col("dst"))
    val sym =
      if (symmetric.isEmpty) e0
      else e0.unionAll(e0
        .join(broadcast(symmetric.toDF("p")), e0("pred") === col("p"), "left_semi")
        .select(col("dst").as("src"), col("pred"), col("src").as("dst")))
    val inv =
      if (inverseOf.isEmpty) sym
      else {
        val both = inverseOf ++ inverseOf.map(_.swap)
        val iv = broadcast(both.toDF("p", "q"))
        sym.unionAll(sym.join(iv, sym("pred") === iv("p"))
          .select(col("dst").as("src"), col("q").as("pred"), col("src").as("dst")))
      }
    val sup =
      if (spClo.isEmpty) inv
      else {
        val sp = broadcast(spClo.toDF("p", "q"))
        inv.unionAll(inv.join(sp, inv("pred") === sp("p"))
          .select(col("src"), col("q").as("pred"), col("dst")))
      }
    sup.distinct()
  }

  /** OWL-RL prp-trp — ALL-PAIRS transitive closure of one predicate's edge
    * relation (the rule [[entailedEdges]] deliberately excludes because it
    * IS an instance-level fixpoint). `Paths.closureFrom` is the bounded
    * seeded form; this is the materialization form a pipeline runs once so
    * downstream consumers read `p+` as a plain table.
    *
    * PATH DOUBLING (R ← R ∪ R∘R), not semi-naive frontier expansion:
    * semi-naive needs O(diameter) rounds and the web relations worth
    * closing — redirect/pagination `next` chains, nested-category
    * partOf — chain hundreds deep, so at cluster scale (where every round
    * is a full shuffle BARRIER) doubling's O(log diameter) rounds win even
    * though each round's join is denser. Each round is ONE self-equi-join
    * on the mid column + a distinct, pinned so the convergence test reads
    * the pin's counted rows and the next round's two scans re-read
    * materialized rows instead of re-running the whole chain. Cycles saturate instead of
    * looping: closure of a cycle contains (x, x) — e+ semantics, no
    * reflexive padding for nodes not on a cycle.
    *
    * 100-TB note: the output is Θ(reachable pairs) — quadratic in
    * component size for dense reachability. That is inherent to
    * MATERIALIZING p+ (the operator's contract), not to the plan; bound
    * the input to the predicate slice being closed (callers pass one
    * predicate's edges, never the whole KG) and prefer `Paths.closureFrom`
    * when only seeded reachability is needed. Non-convergence within
    * `maxRounds` raises — a silent cap would return a WRONG (partial)
    * closure. */
  def transitiveClosure(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    var cur = Pin(edges.select(col("src"), col("dst")).distinct())
    var round = 0
    while (true) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"transitive closure not converged after $maxRounds doubling rounds " +
            s"(diameter > ${BigInt(2).pow(maxRounds)})")
      val next = Pin(cur.df.unionAll(
          cur.df.select(col("src"), col("dst").as("mid"))
            .join(cur.df.select(col("src").as("mid"), col("dst")), Seq("mid"))
            .select(col("src"), col("dst")))
        .distinct())
      if (next.rows == cur.rows) return next.df
      cur = next
    }
    cur.df // unreachable
  }

  /** TRANSITIVE REDUCTION of a DAG relation — the inverse hygiene pass of
    * [[transitiveClosure]]: drop every edge (u, v) that a longer u→v path
    * already implies (Aho, Garey & Ullman, SIAM JC 1972: unique for a
    * DAG). This is what keeps a materialized subsumption/partOf relation
    * MINIMAL after fusion merges several sources that each shipped parts
    * of the closure — without it, the redundant edges multiply every
    * downstream path query.
    *
    * One closure + ONE 2-hop self-join: an edge is redundant iff a 2-hop
    * witness exists IN THE CLOSURE (any longer path contracts to one —
    * this is why the witness join runs on tc, not on the input). Cost is
    * Θ(closure pairs) like the closure itself (same 100-TB note: reduce
    * predicate slices, not the whole KG). Cycles make reduction
    * non-unique, so a cyclic input RAISES — condense with
    * [[graft.sample.Scc]] first. A transitively closed input comes back
    * as its unique minimal generator (ReductionSpec: closure ∘ reduction
    * = identity on closed DAGs, reduction ∘ closure = reduction). */
  def transitiveReduction(edges0: DataFrame, maxRounds: Int = 20): DataFrame = {
    val e = Pin(edges0.select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst"))).df
    val tc = Pin(transitiveClosure(e, maxRounds)).df
    if (!tc.filter(col("src") === col("dst")).isEmpty)
      throw new IllegalStateException(
        "transitive reduction needs a DAG — condense cycles (Scc) first")
    val wit = tc.select(col("src"), col("dst").as("mid"))
      .join(tc.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .select(col("src"), col("dst")).distinct()
    e.join(wit, Seq("src", "dst"), "left_anti")
  }

  /** OWL-RL prp-fp / prp-ifp — the equality GENERATOR that feeds
    * [[sameAsRewrite]]: a FUNCTIONAL property p with p(x, y₁) ∧ p(x, y₂)
    * entails y₁ sameAs y₂ (prp-fp); an INVERSE-functional property with
    * p(x₁, y) ∧ p(x₂, y) entails x₁ sameAs x₂ (prp-ifp — the classic
    * identity-key rule: same email ⇒ same person). Candidate predicates
    * come from data ([[KgStats.functionality]] scores) or the schema.
    *
    * Output: canonical u < v sameAs pairs, DISTINCT — exactly the input
    * shape `ConnectedComponents.run` takes, so the full equality loop is
    * functionalSameAs → CC → sameAsRewrite. Plan: per predicate ONE
    * key-side self-equi-join (src for fp, dst for ifp) with the y₁ < y₂
    * canonicalization as a row-local filter; a key asserting k values
    * fans out k², which is the rule's semantics — screen predicates by
    * functionality score first so near-functional keys (the intended
    * input) keep the join linear-ish. */
  def functionalSameAs(edges: DataFrame,
                       functional: Seq[String] = Nil,
                       inverseFunctional: Seq[String] = Nil): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("pred"), col("dst"))
    def pairsOn(preds: Seq[String], key: String, value: String): Seq[DataFrame] =
      if (preds.isEmpty) Nil
      else {
        val sel = e.join(broadcast(preds.toDF("pred")), Seq("pred"), "left_semi")
        Seq(sel.select(col("pred"), col(key).as("k"), col(value).as("a"))
          .join(sel.select(col("pred"), col(key).as("k"), col(value).as("b")),
            Seq("pred", "k"))
          .filter(col("a") < col("b"))
          .select(col("a").as("src"), col("b").as("dst")))
      }
    val all = pairsOn(functional, "src", "dst") ++
      pairsOn(inverseFunctional, "dst", "src")
    require(all.nonEmpty, "no functional or inverse-functional predicates given")
    all.reduce(_ unionAll _).distinct()
  }

  /** OWL-RL prp-spo2 — property-chain axioms p₁∘p₂∘…∘pₙ ⊑ r (the rule
    * `entailedEdges` cannot cover because a chain is a JOIN, not a
    * projection): (x₀,p₁,x₁) ∧ (x₁,p₂,x₂) ∧ … ⟹ (x₀, r, xₙ). The classic
    * instances on web KGs are `hasParent∘hasParent ⊑ hasGrandparent` and
    * locality chains like `placedBy∘inNation ⊑ orderNation`.
    *
    * Output is the DERIVED edge set only (src, pred, dst), DISTINCT —
    * callers union with the asserted edges when materializing, which keeps
    * this gate-able on exactly the new entailments. One pass per axiom:
    * chain of length n costs n−1 equi-joins on the mid node, each side a
    * predicate-sliced scan (the `pred = …` filter reaches the parquet scan
    * as a pushed filter; at 10^12 triples a pred-partitioned store makes it
    * partition pruning). Hub-mid skew (a nation mid-node joins every
    * customer×supplier through it) is AQE skew-split territory; the ONE
    * set-semantics exchange is the final distinct. Like [[entailedEdges]],
    * heads that re-trigger other chains would need iteration — rejected up
    * front so an under-derivation cannot pass silently. */
  def propertyChain(edges: DataFrame,
                    chains: Seq[(Seq[String], String)]): DataFrame = {
    require(chains.nonEmpty, "propertyChain needs at least one chain axiom")
    chains.foreach { case (chain, head) =>
      require(chain.length >= 2, s"chain for $head must have length >= 2 " +
        "(length-1 subsumption is prp-spo1 — use entailedEdges)")
    }
    val heads = chains.map(_._2).toSet
    val bodies = chains.flatMap(_._1).toSet
    val recursing = heads.intersect(bodies)
    require(recursing.isEmpty,
      s"chain heads ${recursing.toSeq.sorted} appear in chain bodies — " +
        "this axiom set needs an iterative closure")
    val e = edges.select(col("src"), col("pred"), col("dst"))
    def slice(p: String) = e.filter(col("pred") === p)
    val derived = chains.map { case (chain, head) =>
      val first = slice(chain.head).select(col("src"), col("dst").as("mid"))
      val walked = chain.tail.foldLeft(first) { (acc, p) =>
        acc.join(slice(p).select(col("src").as("mid"), col("dst").as("nxt")),
            Seq("mid"))
          .select(col("src"), col("nxt").as("mid"))
      }
      walked.select(col("src"), lit(head).as("pred"), col("mid").as("dst"))
    }
    derived.reduce(_ unionAll _).distinct()
  }

  /** OWL-RL prp-key — owl:hasKey(C, (k₁ … kₙ)): two instances of class C
    * agreeing on EVERY key property's value are the same individual. The
    * multi-attribute generalization of [[functionalSameAs]]'s prp-ifp (and
    * the sameAs-emitting sibling of `KgStats.keyCollisions`, which stops at
    * collision GROUPS for ER blocking): same (brand, psize) part ⇒ same
    * part. OWL's rule requires a value for every key property — nodes
    * missing any key attribute generate nothing.
    *
    * Plan: one pivot aggregate folds the attr rows to a (node, k₁…kₙ) tuple
    * table (map-side combinable, |C|-sized output), a left-semi broadcast
    * against the class slice, then ONE self-equi-join on the full key tuple
    * with the u < v canonicalization as a row-local filter — output shape
    * identical to [[functionalSameAs]], so the equality loop
    * (CC → sameAsRewrite) consumes it unchanged. A key shared by g nodes
    * fans out g²/2 pairs — the rule's semantics; screen candidate keys
    * with `KgStats.keyCollisions` group sizes first at web scale. */
  def hasKeySameAs(types: DataFrame, attrs: DataFrame, cls: String,
                   keyProps: Seq[String]): DataFrame = {
    require(keyProps.nonEmpty, "hasKeySameAs needs at least one key property")
    val kCols = keyProps.map(p => s"k_$p")
    val aggs = keyProps.zip(kCols).map { case (p, k) =>
      max(when(col("prop") === p, col("lexical"))).as(k)
    }
    val keyed = attrs.filter(col("prop").isin(keyProps: _*))
      .groupBy(col("node")).agg(aggs.head, aggs.tail: _*)
      .filter(kCols.map(col(_).isNotNull).reduce(_ && _))
    val inCls = keyed.join(
      types.filter(col("cls") === cls).select(col("node")),
      Seq("node"), "left_semi")
    val a = inCls.select((col("node").as("a") +: kCols.map(col)): _*)
    val b = inCls.select((col("node").as("b") +: kCols.map(col)): _*)
    a.join(b, kCols).filter(col("a") < col("b"))
      .select(col("a").as("src"), col("b").as("dst")).distinct()
  }

  /** Axiom set for [[inconsistencies]] — the OWL 2 RL "false" rules the
    * engine can check (W3C OWL 2 Profiles §4.3, table 9 rule names). Pairs
    * are directional as declared: `disjointClasses = (C, D)` flags nodes
    * typed BOTH C and D; `disjointProps = (p, q)` flags subject-object
    * pairs asserted under both. */
  final case class ConsistencyAxioms(
      disjointClasses: Seq[(String, String)] = Nil,
      disjointProps: Seq[(String, String)] = Nil,
      asymmetric: Seq[String] = Nil,
      irreflexive: Seq[String] = Nil)

  /** OWL 2 RL inconsistency detection — the FALSITY half of the profile
    * the forward rules ([[entailedTypes]]/[[entailedEdges]]/equality loop)
    * never touch: instead of deriving new facts, these rules derive
    * `false`, i.e. a KG-quality violation report. Covered rules:
    *
    *  - cax-dw  — DisjointClasses(C,D) ∧ x:C ∧ x:D
    *  - prp-pdw — propertyDisjointWith(p,q) ∧ p(x,y) ∧ q(x,y)
    *  - prp-asyp — AsymmetricProperty(p) ∧ p(x,y) ∧ p(y,x)
    *  - prp-irp — IrreflexiveProperty(p) ∧ p(x,x)
    *
    * This is the post-fusion QA pass a web-scale construction pipeline
    * runs AFTER entity canonicalization (merging duplicate entities is
    * exactly what manufactures type clashes and mutual edges) — the
    * OWL-semantic sibling of the SHACL-lite cardinality checks in
    * [[graft.core.Shapes]]. Output rows are (rule, x, y, why): the rule
    * name, the one or two individuals in the clash (x = y for the
    * single-node rules cax-dw / prp-irp), and the axiom rendering.
    *
    * Plan shape per rule: inputs are pre-sliced to the predicates/classes
    * the axioms mention (pushed filters / partition pruning at scale), the
    * axiom lists ride as broadcast joins, and each rule costs at most ONE
    * keyed self-equi-join — on node for cax-dw, on (src,dst) for prp-pdw
    * and the reversed-pair probe of prp-asyp; prp-irp is a row-local
    * filter. The final distinct is the one set-semantics exchange.
    * prp-asyp emits each clashing pair once (x ≤ y canonical — a p(x,x)
    * self-loop under an asymmetric p, which OWL also forbids, emits once
    * as (x,x)). */
  def inconsistencies(types: DataFrame, edges: DataFrame,
                      ax: ConsistencyAxioms): DataFrame = {
    val spark = types.sparkSession
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (ax.disjointClasses.nonEmpty) {
      val pairs = ax.disjointClasses.toDF("c1", "c2")
      val mentioned = ax.disjointClasses.flatMap(p => Seq(p._1, p._2)).distinct
      val t = types.filter(col("cls").isin(mentioned: _*))
      out += t.select(col("node"), col("cls").as("c1"))
        .join(t.select(col("node"), col("cls").as("c2")), Seq("node"))
        .join(broadcast(pairs), Seq("c1", "c2"))
        .select(lit("cax-dw").as("rule"), col("node").as("x"),
          col("node").as("y"), concat(col("c1"), lit("|"), col("c2")).as("why"))
    }
    if (ax.disjointProps.nonEmpty) {
      val pairs = ax.disjointProps.toDF("p1", "p2")
      val mentioned = ax.disjointProps.flatMap(p => Seq(p._1, p._2)).distinct
      val e = edges.filter(col("pred").isin(mentioned: _*))
      out += e.select(col("src"), col("dst"), col("pred").as("p1"))
        .join(e.select(col("src"), col("dst"), col("pred").as("p2")),
          Seq("src", "dst"))
        .join(broadcast(pairs), Seq("p1", "p2"))
        .select(lit("prp-pdw").as("rule"), col("src").as("x"),
          col("dst").as("y"), concat(col("p1"), lit("|"), col("p2")).as("why"))
    }
    if (ax.asymmetric.nonEmpty) {
      val e = edges.filter(col("pred").isin(ax.asymmetric: _*))
        .select(col("pred"), col("src"), col("dst"))
      out += e
        .join(e.select(col("pred"), col("dst").as("src"), col("src").as("dst")),
          Seq("pred", "src", "dst"))
        .filter(col("src") <= col("dst"))
        .select(lit("prp-asyp").as("rule"), col("src").as("x"),
          col("dst").as("y"), col("pred").as("why"))
    }
    if (ax.irreflexive.nonEmpty) {
      out += edges
        .filter(col("pred").isin(ax.irreflexive: _*) && col("src") === col("dst"))
        .select(lit("prp-irp").as("rule"), col("src").as("x"),
          col("dst").as("y"), col("pred").as("why"))
    }
    require(out.nonEmpty, "inconsistencies needs at least one axiom")
    out.reduce(_ unionAll _).distinct()
  }

  /** OWL-RL equality rules (eq-sym, eq-trans, eq-rep-s, eq-rep-o) over a
    * triple table, materialized the only way that survives web scale:
    * REPRESENTATIVE REWRITE, not sameAs-pair explosion. Naively chaining
    * eq-trans + eq-rep multiplies every triple by the size of its
    * subject's AND object's equality clique — a k-clique of aliases (dbpedia
    * sameAs hubs run to hundreds) inflates each fact k² times. Rewriting
    * every id to its clique representative keeps the output ≤ |triples| and
    * IS the closure up to renaming: any entailed triple is recovered by
    * substituting clique members back.
    *
    * `rep` is the (id, rep) map — eq-sym/eq-trans are exactly connected
    * components over the sameAs pair graph, so callers feed
    * `ConnectedComponents.run(sameAsPairs)` (alternating-star / union-find,
    * already size-gated there); this operator is the eq-rep half: two
    * left joins (subject, object) + coalesce + one distinct. The rep map is
    * |aliased ids|-sized — orders of magnitude below the triple table —
    * and pinned, so while it fits the broadcast threshold it rides two
    * BroadcastHashJoins (the fact stream never shuffles before the final
    * distinct); above, the same plan shuffles on the join keys and AQE's
    * skew split handles hub representatives (same gate philosophy as
    * Canonicalize.saltedMapJoin, which is where a pipeline with a
    * measured-skewed alias map should route instead). */
  def sameAsRewrite(triples: DataFrame, rep: DataFrame): DataFrame = {
    val r = Pin(rep.select(col("id"), col("rep"))).df
    val bySubj = triples.select(col("subj"), col("pred"), col("obj"))
      .join(r.withColumnRenamed("id", "subj"), Seq("subj"), "left")
      .select(coalesce(col("rep"), col("subj")).as("subj"), col("pred"), col("obj"))
    bySubj
      .join(r.withColumnRenamed("id", "obj"), Seq("obj"), "left")
      .select(col("subj"), col("pred"), coalesce(col("rep"), col("obj")).as("obj"))
      .distinct()
  }
}
