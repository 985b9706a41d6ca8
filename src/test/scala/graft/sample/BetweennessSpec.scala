package graft.sample

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  private def und(es: (String, String)*): DataFrame = es.toSeq.toDF("u", "v")
  private def ids(xs: String*): DataFrame = xs.toSeq.toDF("id")

  private def sp(g: DataFrame, s: DataFrame, r: Int): Set[(String, String, Int, Long)] =
    Betweenness.spCounts(g, s, r).collect()
      .map(x => (x.getString(0), x.getString(1), x.getInt(2), x.getLong(3))).toSet

  test("spCounts: diamond + tail hand trace — paths multiply") (bothForms {
    val g = und(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
    assert(sp(g, ids("a"), 3) === Set(
      ("a", "a", 0, 1L), ("a", "b", 1, 1L), ("a", "c", 1, 1L),
      ("a", "d", 2, 2L), ("a", "e", 3, 2L)))
    // truncation: maxR=1 stops at the first ring
    assert(sp(g, ids("a"), 1) === Set(
      ("a", "a", 0, 1L), ("a", "b", 1, 1L), ("a", "c", 1, 1L)))
  })

  test("spCounts: two sources ride one plan, disconnected node unreached") (bothForms {
    val g = und(("a", "b"), ("b", "c"), ("x", "y"))
    assert(sp(g, ids("a", "x"), 2) === Set(
      ("a", "a", 0, 1L), ("a", "b", 1, 1L), ("a", "c", 2, 1L),
      ("x", "x", 0, 1L), ("x", "y", 1, 1L)))
  })

  test("betweenness: path graph a-b-c-d-e, all sources = exact ordered-pair BC") (bothForms {
    val g = und(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val bc = Betweenness.accumulate(g,
        Betweenness.spCounts(g, ids("a", "b", "c", "d", "e"), 4))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // ordered (s,t) pairs through each: b {a}×{c,d,e}×2 = 6; c 8; d 6
    assert(bc === Map("a" -> 0.0, "b" -> 6.0, "c" -> 8.0,
      "d" -> 6.0, "e" -> 0.0))
  })

  test("betweenness: 4-cycle — split σ gives every vertex exactly 1.0") (bothForms {
    val g = und(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val bc = Betweenness.accumulate(g,
        Betweenness.spCounts(g, ids("a", "b", "c", "d"), 2))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc === Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0))
  })

  test("katzScaled: chain walk counts by hand at K=4, β=1/2 weights") {
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val n = ids("a", "b", "c")
    val got = Betweenness.katzScaled(e, n).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // b: one length-1 walk → 8; c: one length-1 (8) + one length-2 (4)
    assert(got === Map("a" -> 0L, "b" -> 8L, "c" -> 12L))
  }

  test("katzScaled: diamond multiplicity, dup edges and self-loops ignored") {
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("a", "b"), ("d", "d")).toDF("src", "dst")
    val n = ids("a", "b", "c", "d")
    val got = Betweenness.katzScaled(e, n).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // d: two length-1 walks (2·8) + two length-2 walks a→{b,c}→d (2·4)
    assert(got === Map("a" -> 0L, "b" -> 8L, "c" -> 8L, "d" -> 24L))
    val p1 = Betweenness.katzScaled(e.repartition(1), n).collect().toSet
    val p7 = Betweenness.katzScaled(e.repartition(7), n).collect().toSet
    assert(p1 === p7)
  }

  test("estimate: scaling by n/k, determinism across partitioning") (bothForms {
    val g = und(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    // single source a, n=5, k=1: δ_a(b)=3, δ_a(c)=2, δ_a(d)=1 → ×5
    val est = Betweenness.estimate(g, ids("a"), 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est === Map("b" -> 15.0, "c" -> 10.0, "d" -> 5.0, "e" -> 0.0))
    val a1 = Betweenness.spCounts(g.repartition(1), ids("a", "c"), 4).collect().toSet
    val a7 = Betweenness.spCounts(g.repartition(7), ids("a", "c"), 4).collect().toSet
    assert(a1 === a7)
  })
}
