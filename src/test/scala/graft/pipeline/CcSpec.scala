package graft.pipeline

import graft.SparkSpec

/** Large-star/small-star connected components vs a driver-side union-find
  * ground truth, including the adversarial case that breaks capped
  * min-label propagation: a chain deeper than any sane iteration cap. */
class CcSpec extends SparkSpec {

  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val roots = parent.keys.map(k => k -> find(k)).toMap
    // canonical = min id per component (lexicographic, like the engine)
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (k, r) => k -> minOf(r) }
  }

  /** both strategies: the driver union-find (the pinned edge set fits the
    * broadcast envelope) and the distributed star rounds (threshold -1) */
  private def ccBoth(edges: Seq[(String, String)]): (Map[String, String], Map[String, String]) = {
    import spark.implicits._
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    (toMap(ConnectedComponents.run(edges.toDF("src", "dst"))),
      noBroadcast(toMap(ConnectedComponents.run(edges.toDF("src", "dst")))))
  }

  test("2000-deep chain with shuffled labels (diameter >> any iteration cap)") {
    val rnd = new scala.util.Random(7)
    val labels = rnd.shuffle((0 until 2000).map(i => f"n$i%05d").toVector)
    val chain = labels.sliding(2).map(p => (p(0), p(1))).toSeq
    val (gotDriver, gotStar) = ccBoth(chain)
    val expect = unionFind(chain)
    assert(gotDriver === expect)
    assert(gotStar === expect)
    assert(gotDriver.values.toSet.size === 1) // single component
  }

  test("Long-id graph (dedup cluster shape): both paths agree and keep the type") {
    import spark.implicits._
    val edges = Seq((5L, 2L), (2L, 9L), (100L, 101L), (9L, 5L))
    val driver = ConnectedComponents.run(edges.toDF("src", "dst"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = noBroadcast(m(ConnectedComponents.run(edges.toDF("src", "dst"))))
    val expect = Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 100L -> 100L, 101L -> 100L)
    assert(m(driver) === expect)
    assert(star === expect)
    assert(driver.schema("id").dataType === org.apache.spark.sql.types.LongType)
  }

  test("non-BMP ids: both paths pick the minimum in Spark's UTF-8 byte order") {
    // U+1F600 (a surrogate pair) sorts BELOW U+E000 and U+FFFD in UTF-16
    // units but ABOVE them in UTF-8 bytes, which is how the star rounds'
    // least/min compare strings
    val (fffd, smile, e000) = ("\uFFFD", "\uD83D\uDE00", "\uE000")
    val edges = Seq((fffd, smile), (smile, e000))
    val (gotDriver, gotStar) = ccBoth(edges)
    val expect = Map(fffd -> e000, smile -> e000, e000 -> e000)
    assert(gotDriver === expect)
    assert(gotStar === expect)
  }

  test("random graph + isolated pairs + bipartite blocks == union-find, both paths") {
    val rnd = new scala.util.Random(13)
    val rand = (1 to 400).map(_ => (f"r${rnd.nextInt(300)}%03d", f"r${rnd.nextInt(300)}%03d"))
      .filter(e => e._1 != e._2)
    val pairs = (0 until 20).map(i => (s"pa$i", s"pb$i"))
    val bipartite = (0 until 50).map(i => (s"e$i", s"K:${i % 7}"))
    val edges = rand ++ pairs ++ bipartite
    val (gotDriver, gotStar) = ccBoth(edges)
    assert(gotDriver === unionFind(edges))
    assert(gotStar === unionFind(edges))
  }

  test("increment: hand cases — undercut rep, member-to-member merge, in-component no-op, fresh pair") {
    import spark.implicits._
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // old: {b, c, d} rep b; {x, y} rep x
    val base = ConnectedComponents.run(
      Seq(("b", "c"), ("c", "d"), ("x", "y")).toDF("src", "dst"))
    assert(m(base) === Map("b" -> "b", "c" -> "b", "d" -> "b", "x" -> "x", "y" -> "x"))
    // new: (a, d) — a < b undercuts the stored rep via a non-rep member;
    //      (d, y) — member-to-member merge of the two old components;
    //      (c, b) — in-component no-op;
    //      (p, q) — brand-new component never seen by the map
    val inc = Seq(("a", "d"), ("d", "y"), ("c", "b"), ("p", "q")).toDF("src", "dst")
    val got = m(ConnectedComponents.increment(base, inc))
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "a", "y" -> "a", "p" -> "p", "q" -> "p"))
    // empty increment: the map comes back unchanged
    assert(m(ConnectedComponents.increment(base,
      Seq.empty[(String, String)].toDF("src", "dst"))) === m(base))
  }

  test("increment == from-scratch solve on a random old/new split") {
    val rnd = new scala.util.Random(29)
    val all = (1 to 300).map(_ => (f"n${rnd.nextInt(200)}%03d", f"n${rnd.nextInt(200)}%03d"))
      .filter(e => e._1 != e._2)
    val (old, fresh) = all.partition(e => (e._1 + e._2).hashCode % 7 != 0)
    import spark.implicits._
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val got = m(ConnectedComponents.increment(
      ConnectedComponents.run(old.toDF("src", "dst")), fresh.toDF("src", "dst")))
    assert(got === unionFind(all))
    // and through the distributed star path on both solves
    val gotStar = noBroadcast(m(ConnectedComponents.increment(
      ConnectedComponents.run(old.toDF("src", "dst")), fresh.toDF("src", "dst"))))
    assert(gotStar === unionFind(all))
  }
}
