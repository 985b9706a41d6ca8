package graft.core

import graft.SparkSpec
import org.apache.spark.sql.Encoders

/** RDFS materialization: driver-side ⊑ closure, each rule (rdfs2/3/7/9/11)
  * hand-traced on a literal KB, idempotence, and the empty-TBox
  * short-circuit. */
class EntailmentSpec extends SparkSpec {

  test("closure: chain, diamond, empty") {
    assert(Entailment.closure(Nil) === Nil)
    assert(Entailment.closure(Seq("A" -> "B", "B" -> "C", "C" -> "D")).toSet ===
      Set("A" -> "B", "A" -> "C", "A" -> "D", "B" -> "C", "B" -> "D", "C" -> "D"))
    // diamond: two paths to the same ancestor collapse (it's a set)
    assert(Entailment.closure(Seq("A" -> "B", "A" -> "C", "B" -> "D", "C" -> "D")).toSet ===
      Set("A" -> "B", "A" -> "C", "A" -> "D", "B" -> "D", "C" -> "D"))
  }

  /** n1 -p→ n2 with p ⊑ q, domain(q)=B, range(q)=D; n3 has data prop d with
    * d ⊑ e, domain(e)=A; n4 asserted A; hierarchy A ⊑ B ⊑ C. */
  private def fixture: Kb = {
    val s = spark
    Kb(
      nodes = s.createDataset(Seq("n1", "n2", "n3", "n4"))(Encoders.STRING).toDF("id"),
      edges = s.createDataset(Seq(Edge("n1", "p", "n2")))(Encoders.product[Edge]).toDF(),
      attrs = s.createDataset(Seq(Attr("n3", "d", "5", "xsd:int")))(
        Encoders.product[Attr]).toDF(),
      types = s.createDataset(Seq(TypeAssertion("n4", "A")))(
        Encoders.product[TypeAssertion]).toDF(),
      tbox = Tbox(
        classes = Seq("A", "B", "C", "D"),
        subClass = Seq("A" -> "B", "B" -> "C"),
        subProp = Seq("p" -> "q", "d" -> "e"),
        props = Seq(
          PropMeta("p", "object", "", ""),
          PropMeta("q", "object", "B", "D"),
          PropMeta("d", "data", "", "xsd:int"),
          PropMeta("e", "data", "A", "xsd:int"))))
  }

  private def typeSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("every rule fires: subProp → domain/range → subClass, hand-traced") {
    val got = typeSet(Entailment.entailedTypes(fixture))
    assert(got === Set(
      "n4" -> "A", "n4" -> "B", "n4" -> "C", // asserted + rdfs9/11 chain
      "n1" -> "B", "n1" -> "C",              // p ⊑ q (rdfs7) + domain(q) + B ⊑ C
      "n2" -> "D",                           // p ⊑ q + range(q); D has no parent
      "n3" -> "A", "n3" -> "B", "n3" -> "C")) // d ⊑ e + domain(e) + A ⊑ B ⊑ C
  }

  test("idempotent: entailing the entailed KB adds nothing") {
    val kb = fixture
    val once = Entailment.entailedTypes(kb)
    val twice = Entailment.entailedTypes(kb.copy(types = once))
    assert(typeSet(twice) === typeSet(once))
  }

  test("empty TBox relations short-circuit to the asserted types") {
    val kb = fixture
    val bare = kb.copy(tbox = Tbox(classes = Seq("A"), subClass = Nil,
      props = Seq(PropMeta("p", "object", "", ""))))
    assert(typeSet(Entailment.entailedTypes(bare)) === Set("n4" -> "A"))
  }

  test("entailedEdges: symmetric → inverse → subProp strata, each hand-traced") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "near", "b"), ("b", "owns", "c"), ("d", "ownedBy", "e"))
      .toDF("src", "pred", "dst")
    val got = Entailment.entailedEdges(edges,
      subPropertyOf = Seq(("owns", "controls")),
      inverseOf = Seq(("owns", "ownedBy")),
      symmetric = Seq("near"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      ("a", "near", "b"), ("b", "near", "a"),            // prp-symp
      ("b", "owns", "c"), ("c", "ownedBy", "b"),         // prp-inv1
      ("d", "ownedBy", "e"), ("e", "owns", "d"),         // prp-inv2
      ("b", "controls", "c"), ("e", "controls", "d")))   // prp-spo1, incl. on inverse-derived
    // idempotent at the fixpoint; set semantics dedupe re-derivations
    assert(Entailment.entailedEdges(got.toSeq.toDF("src", "pred", "dst"),
      Seq(("owns", "controls")), Seq(("owns", "ownedBy")), Seq("near"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet === got)
  }

  test("transitiveClosure: a doubling round's pin is its only action") {
    val s = spark
    import s.implicits._
    // a path of n edges closes in ⌈log₂ n⌉ doubling rounds plus one that
    // adds nothing. A round's jobs are its pin's and the AQE stages under
    // it (a bare checkpoint plus count() ran 7 per round on this input)
    def chain(n: Int) = (0 until n).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("src", "dst")
    def jobs(n: Int) = org.apache.spark.graftshim.JobCount(s.sparkContext)(
      Entailment.transitiveClosure(chain(n)).collect())
    val (short, jShort) = jobs(4)    // 3 rounds
    val (long, jLong) = jobs(16)     // 5 rounds
    assert(short.length === 10 && long.length === 16 * 17 / 2)
    assert(jLong - jShort <= 2 * 3, s"two more rounds ran ${jLong - jShort} more jobs")
  }

  test("transitiveClosure: path, cycle, branching — hand-traced; idempotent") {
    val s = spark
    import s.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // 5-node path: all 10 ordered (i, j), i before j
    val path = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e").toDF("src", "dst")
    val pathClo = Entailment.transitiveClosure(path)
    assert(pairs(pathClo) === Set(
      "a" -> "b", "a" -> "c", "a" -> "d", "a" -> "e",
      "b" -> "c", "b" -> "d", "b" -> "e",
      "c" -> "d", "c" -> "e", "d" -> "e"))
    // 3-cycle saturates to ALL 9 ordered pairs including (x, x) — e+
    // semantics: x reaches x via the cycle, no reflexive padding elsewhere
    val cyc = Seq("x" -> "y", "y" -> "z", "z" -> "x").toDF("src", "dst")
    assert(pairs(Entailment.transitiveClosure(cyc)) ===
      (for (a <- Seq("x", "y", "z"); b <- Seq("x", "y", "z")) yield (a, b)).toSet)
    // branching: closure is reachability, not path counting (set semantics)
    val tree = Seq("r" -> "l", "r" -> "m", "l" -> "t", "m" -> "t").toDF("src", "dst")
    assert(pairs(Entailment.transitiveClosure(tree)) ===
      Set("r" -> "l", "r" -> "m", "r" -> "t", "l" -> "t", "m" -> "t"))
    // idempotent: closing the closure adds nothing
    assert(pairs(Entailment.transitiveClosure(pathClo)) === pairs(pathClo))
  }

  test("transitiveClosure: maxRounds raises instead of returning a partial closure") {
    val s = spark
    import s.implicits._
    // an 8-edge chain needs paths of length 8 = 2^3: rounds 1..3 still
    // grow, round 4 confirms — maxRounds = 2 must raise, never truncate
    val chain = (0 until 8).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    intercept[IllegalStateException](
      Entailment.transitiveClosure(chain, maxRounds = 2))
    assert(Entailment.transitiveClosure(chain).count() === 9L * 8 / 2)
  }

  test("transitiveClosure: partitioning-invariant") {
    val s = spark
    import s.implicits._
    val edges = (0 until 40).map(i => (s"v${i % 13}", s"v${(i * 7 + 3) % 13}"))
      .toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Entailment.transitiveClosure(df)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(run(edges.repartition(1)) === run(edges.repartition(17)))
  }

  test("sameAsRewrite: eq-rep on both endpoints, merge dedup, unmapped ids pass through") {
    val s = spark
    import s.implicits._
    val triples = Seq(
      ("a2", "knows", "b9"),   // both endpoints aliased
      ("a1", "knows", "b1"),   // the rewritten form of the row above — must merge
      ("c", "near", "a3"),     // object-only rewrite
      ("d", "rdf:type", "T")   // untouched
    ).toDF("subj", "pred", "obj")
    // cliques {a1, a2, a3} → a1 and {b1, b9} → b1, as a CC-style rep map
    val rep = Seq(("a1", "a1"), ("a2", "a1"), ("a3", "a1"), ("b1", "b1"), ("b9", "b1"))
      .toDF("id", "rep")
    val got = Entailment.sameAsRewrite(triples, rep)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      ("a1", "knows", "b1"), ("c", "near", "a1"), ("d", "rdf:type", "T")))
    // empty map: plain distinct of the input
    assert(Entailment.sameAsRewrite(triples,
        Seq.empty[(String, String)].toDF("id", "rep")).count() === 4)
  }

  test("functionalSameAs: prp-fp fan-out, prp-ifp shared key, canonical orientation") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      ("x", "fp", "y2"), ("x", "fp", "y1"), ("x", "fp", "y3"), // 3 values → 3 pairs
      ("z", "fp", "only"),                                     // single value → none
      ("a1", "ifp", "k"), ("a2", "ifp", "k"),                  // shared key → pair
      ("b", "ifp", "k2"),                                      // lone key → none
      ("x", "other", "y9")                                     // undeclared pred ignored
    ).toDF("src", "pred", "dst")
    val got = Entailment.functionalSameAs(edges,
        functional = Seq("fp"), inverseFunctional = Seq("ifp"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("y1", "y2"), ("y1", "y3"), ("y2", "y3"), ("a1", "a2")))
    intercept[IllegalArgumentException](Entailment.functionalSameAs(edges))
    // the loop closes: pairs → CC folds the fp clique to its minimum
    val rep = graft.pipeline.ConnectedComponents.run(
      Entailment.functionalSameAs(edges, functional = Seq("fp")))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rep === Map("y1" -> "y1", "y2" -> "y1", "y3" -> "y1"))
  }

  test("propertyChain: 2-chain, 3-chain, branching mid, empty slice") {
    val s = spark
    import s.implicits._
    // x -p→ m, m -q→ y1 / y2 (branching mid); lone -p→ deadend (no q out);
    // a 3-chain x -p→ m -q→ y1 -r→ z
    val edges = Seq(
      ("x", "p", "m"), ("m", "q", "y1"), ("m", "q", "y2"),
      ("lone", "p", "deadend"), ("y1", "r", "z"),
      ("x", "other", "m")
    ).toDF("src", "pred", "dst")
    val got2 = Entailment.propertyChain(edges, Seq(Seq("p", "q") -> "pq"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got2 === Set(("x", "pq", "y1"), ("x", "pq", "y2")))
    val got3 = Entailment.propertyChain(edges, Seq(Seq("p", "q", "r") -> "pqr"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got3 === Set(("x", "pqr", "z")))
    // both axioms at once: union, distinct
    val both = Entailment.propertyChain(edges,
      Seq(Seq("p", "q") -> "pq", Seq("p", "q", "r") -> "pqr")).count()
    assert(both === 3)
    // guards: empty axiom set, length-1 chain, head feeding a body
    intercept[IllegalArgumentException](Entailment.propertyChain(edges, Nil))
    intercept[IllegalArgumentException](
      Entailment.propertyChain(edges, Seq(Seq("p") -> "h")))
    intercept[IllegalArgumentException](Entailment.propertyChain(edges,
      Seq(Seq("p", "q") -> "h", Seq("h", "r") -> "h2")))
  }

  test("hasKeySameAs: full-key agreement, missing-key silence, class scope") {
    val s = spark
    import s.implicits._
    val types = Seq(("n1", "C"), ("n2", "C"), ("n3", "C"), ("n4", "D"),
      ("n5", "C"), ("n6", "C")).toDF("node", "cls")
    val attrs = Seq(
      ("n1", "k1", "a", "xsd:string"), ("n1", "k2", "b", "xsd:string"),
      ("n2", "k1", "a", "xsd:string"), ("n2", "k2", "b", "xsd:string"),
      // n3 agrees on k1 only → no pair
      ("n3", "k1", "a", "xsd:string"), ("n3", "k2", "ZZ", "xsd:string"),
      // n4 agrees on the full key but is class D → out of scope
      ("n4", "k1", "a", "xsd:string"), ("n4", "k2", "b", "xsd:string"),
      // n5 misses k2 entirely → OWL hasKey requires every key value
      ("n5", "k1", "a", "xsd:string"),
      // n6 completes a triple on (a, b) → 3 nodes ⇒ 3 canonical pairs
      ("n6", "k1", "a", "xsd:string"), ("n6", "k2", "b", "xsd:string")
    ).toDF("node", "prop", "lexical", "dtype")
    val got = Entailment.hasKeySameAs(types, attrs, "C", Seq("k1", "k2"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("n1", "n2"), ("n1", "n6"), ("n2", "n6")))
    intercept[IllegalArgumentException](
      Entailment.hasKeySameAs(types, attrs, "C", Nil))
  }

  test("inconsistencies: all four falsity rules, clean axioms stay silent") {
    val s = spark
    import s.implicits._
    val types = Seq(("a", "C"), ("a", "D"), ("b", "C"), ("c", "D"),
      ("d", "E")).toDF("node", "cls")
    val edges = Seq(
      ("x", "p", "y"), ("y", "p", "x"),   // prp-asyp mutual pair
      ("z", "p", "z"),                     // self-loop under asymmetric p
      ("u", "q", "u"),                     // prp-irp
      ("m", "r1", "n"), ("m", "r2", "n"), // prp-pdw
      ("m", "r1", "k")                    // r1 without r2 — clean
    ).toDF("src", "pred", "dst")
    val got = Entailment.inconsistencies(types, edges,
      Entailment.ConsistencyAxioms(
        disjointClasses = Seq("C" -> "D", "C" -> "E"),
        disjointProps = Seq("r1" -> "r2"),
        asymmetric = Seq("p"),
        irreflexive = Seq("q")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got === Set(
      ("cax-dw", "a", "a", "C|D"),          // only a is both C and D
      ("prp-asyp", "x", "y", "p"),          // pair emitted once, canonical
      ("prp-asyp", "z", "z", "p"),          // self-loop counts, emitted once
      ("prp-irp", "u", "u", "q"),
      ("prp-pdw", "m", "n", "r1|r2")))
    // no axioms → reject; a single clean axiom → empty, not error
    intercept[IllegalArgumentException](
      Entailment.inconsistencies(types, edges, Entailment.ConsistencyAxioms()))
    assert(Entailment.inconsistencies(types, edges,
      Entailment.ConsistencyAxioms(irreflexive = Seq("r1"))).count() === 0)
  }

  test("entailedEdges: schemas needing iteration are rejected up front") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "p", "b")).toDF("src", "pred", "dst")
    // symmetric superproperty: p ⊑ q with q symmetric
    intercept[IllegalArgumentException](Entailment.entailedEdges(edges,
      subPropertyOf = Seq(("p", "q")), symmetric = Seq("q")))
    // inverse of a superproperty
    intercept[IllegalArgumentException](Entailment.entailedEdges(edges,
      subPropertyOf = Seq(("p", "q")), inverseOf = Seq(("q", "r"))))
    // chained inverse pairs sharing a predicate
    intercept[IllegalArgumentException](Entailment.entailedEdges(edges,
      inverseOf = Seq(("p", "q"), ("q", "r"))))
    // symmetric pred inside an inverse axiom
    intercept[IllegalArgumentException](Entailment.entailedEdges(edges,
      inverseOf = Seq(("p", "q")), symmetric = Seq("p")))
  }
}
