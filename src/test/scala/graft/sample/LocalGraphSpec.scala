package graft.sample

import graft.SparkSpec
import graft.core.Pin
import graft.fixtures.HepatitisLikeKb
import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Louvain, spCounts and linkPredFeatures run on one collected
  * `LocalGraph` CSR when their pinned edge set fits the broadcast
  * envelope, and as Spark plans above it (threshold -1). The two forms
  * must give byte-identical row multisets, on the fixture KB, on the
  * sf0.001 TPC-H KG and on an adversarial edge set: duplicate rows, both
  * orientations of a pair, self-loops, ids whose UTF-8 and UTF-16 orders
  * differ, sources that are no endpoint, duplicated sources, and empty
  * edge and source sets. Under the envelope each operator runs a bounded
  * number of jobs — the pin that brings the edge rows back, plus the
  * output pin for the task-side forms — and the spCounts and linkPred
  * outputs are pinned RDD scans rather than driver-side local relations. */
class LocalGraphSpec extends SparkSpec {
  import LocalGraphSpec.Graph
  import spark.implicits._

  // inputs pinned up front, so an operator's job count is its own
  private def pinned(df: DataFrame): DataFrame = Pin(df).df

  private lazy val fixture: Graph = {
    val kb = HepatitisLikeKb.kb(spark)
    val und = pinned(kb.edges.select(col("src").as("u"), col("dst").as("v")))
    Graph(und, und,
      pinned(kb.edges.select(col("src").as("u"), col("dst").as("v"), length(col("pred")).cast("long").as("w"))),
      Seq("p1", "p1", "s7", "t3", "i1", "nobody").toDF("id"))
  }

  private lazy val tpch: Graph = {
    val kb = graft.sources.TpchKg.load(spark, "/root/testdata/sf0.001")
    val und = pinned(GraphMetrics.undirected(kb.edges, "contains"))
    Graph(und, pinned(GraphMetrics.cooccurrence(kb.edges, "contains")),
      pinned(GraphMetrics.frequentPairs(kb.edges, "contains", minSupport = 1L)
        .withColumnRenamed("support", "w")),
      pinned(und.select(col("u").as("id")).distinct().filter(col("id").startsWith("o:"))
        .orderBy(col("id")).limit(12)))
  }

  private val (fffd, e000, smile, clef) = ("\uFFFD", "\uE000", "\uD83D\uDE00", "\uD834\uDD1E")

  private lazy val adversarial: Graph = {
    val es = Seq(
      ("a", "b", 1L), ("a", "b", 2L), ("b", "a", 1L), ("c", "c", 5L), ("a", fffd, 1L),
      (fffd, e000, 3L), (e000, smile, 1L), (smile, "a", 0L), (smile, clef, 2L), (clef, "b", 1L),
      ("b", "c", 1L), ("c", "d", 4L), ("d", "e", 1L), ("e", "b", -1L), ("d", fffd, 1L),
      ("x", "y", 1L), ("y", "x", 1L), ("y", "z", 2L), (clef, e000, 1L), (clef, e000, 1L),
      ("p", "r", 1L), ("q", "r", 1L), ("q", "p", 1L), ("m", "o", 1L), ("n", "o", 1L), ("m", "n", 1L))
    val und = es.map(e => (e._1, e._2)).toDF("u", "v")
    Graph(und, und, es.toDF("u", "v", "w"),
      Seq("a", "a", smile, "absent", fffd, "c", "c", "c", "z").toDF("id"))
  }

  private lazy val emptyEdges: Graph = {
    val none = Seq.empty[(String, String)].toDF("u", "v")
    Graph(none, none, Seq.empty[(String, String, Long)].toDF("u", "v", "w"), Seq("a", "a").toDF("id"))
  }

  private lazy val emptySources: Graph = adversarial.copy(sources = Seq.empty[String].toDF("id"))

  private def graph(name: String): Graph = name match {
    case "fixture" => fixture
    case "sf0.001" => tpch
    case "adversarial" => adversarial
    case "empty edges" => emptyEdges
    case "empty sources" => emptySources
  }

  private def rows(df: DataFrame): (Seq[(String, String)], Seq[Seq[Any]]) =
    (df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString),
      df.collect().toSeq.map(_.toSeq).sortBy(_.map(String.valueOf).mkString("\u0000")))

  private def sameOnBothForms(what: String)(op: => DataFrame): Unit = {
    val local = rows(op)
    val sparkForm = noBroadcast(rows(op))
    assert(local._1 === sparkForm._1, s"$what: schema")
    assert(local._2 === sparkForm._2, s"$what: rows")
  }

  for (name <- Seq("fixture", "sf0.001", "adversarial", "empty edges"))
    test(s"Louvain on $name: both forms give the same assignment (rounds 0, 1, 2, 5; weighted)") {
      val g = graph(name)
      for (r <- Seq(0, 1, 2, 5)) sameOnBothForms(s"run rounds=$r")(Louvain.run(g.louvain, r))
      for (r <- Seq(1, 2)) sameOnBothForms(s"runWeighted rounds=$r")(Louvain.runWeighted(g.wund, r))
    }

  for (name <- Seq("fixture", "sf0.001", "adversarial", "empty edges", "empty sources"))
    test(s"spCounts on $name: both forms give the same rows (maxR 0-4)") {
      val g = graph(name)
      for (r <- 0 to 4) sameOnBothForms(s"maxR=$r")(Betweenness.spCounts(g.und, g.sources, r))
    }

  for (name <- Seq("fixture", "sf0.001", "adversarial", "empty edges"))
    test(s"linkPredFeatures on $name: both forms give the same rows") {
      val g = graph(name)
      for ((zdeg, support) <- Seq(32 -> 2, 3 -> 1))
        sameOnBothForms(s"maxZDeg=$zdeg minSupport=$support")(
          GraphMetrics.linkPredFeatures(g.und, maxZDeg = zdeg, minSupport = support))
    }

  test("adversarial: multiplicities, stored orientation and UTF-8 order, by hand") {
    // a's sym entries: b three times (two (a, b) rows, one (b, a)), fffd, smile
    val sp = Betweenness.spCounts(adversarial.und, adversarial.sources, 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    assert(sp.count(_ == (("a", "a", 0, 1L))) === 2)
    assert(sp.contains(("a", "b", 1, 6L)), "two sources × three a-b entries")
    assert(sp.count(_ == (("c", "c", 0, 1L))) === 3)
    assert(sp.contains(("absent", "absent", 0, 1L)))
    val lp = GraphMetrics.linkPredFeatures(adversarial.und, minSupport = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (x, z) through y, whose entry to x is doubled
    assert(lp.get(("x", "z")) === Some(2L))
    // an existing edge is no candidate in either stored orientation:
    // (m, n) is stored as (m, n), (p, q) as (q, p)
    assert(!lp.contains(("m", "n")))
    assert(!lp.contains(("p", "q")))
    // U+FFFD < U+1F600 in UTF-8 bytes (the reverse in UTF-16 units); common
    // neighbors a and U+E000
    assert(lp.get((fffd, smile)) === Some(2L))
    assert(!lp.contains((smile, fffd)))
  }

  test("a null endpoint keeps the Spark form and its join semantics") {
    val und = Seq(("a", "b"), ("b", null), ("b", "c")).toDF("u", "v")
    val sources = Seq("a", "b").toDF("id")
    sameOnBothForms("spCounts")(Betweenness.spCounts(und, sources, 2))
    sameOnBothForms("linkPred")(GraphMetrics.linkPredFeatures(und, minSupport = 1))
    sameOnBothForms("louvain")(Louvain.run(und, 2))
  }

  test("under the envelope: Louvain 1 job, spCounts and linkPred 3 with RDD-scan outputs") {
    val g = tpch
    val sc = spark.sparkContext
    val (comm, louvainJobs) = JobCount(sc) {
      val df = Louvain.run(g.louvain, 2)
      assert(df.queryExecution.optimizedPlan.collectLeaves().map(_.nodeName) === Seq("LocalRelation"))
      df.collect()
    }
    assert(comm.nonEmpty)
    assert(louvainJobs <= 1, s"louvain ran $louvainJobs jobs")
    for ((name, op) <- Seq[(String, () => DataFrame)](
        "spCounts" -> (() => Betweenness.spCounts(g.und, g.sources, 4)),
        "linkPred" -> (() => GraphMetrics.linkPredFeatures(g.und)))) {
      val (out, jobs) = JobCount(sc) {
        val df = op()
        val plan = df.queryExecution.optimizedPlan
        assert(plan.nodeName === "LogicalRDD", s"$name: a pinned RDD scan, not\n$plan")
        df.collect()
      }
      assert(out.nonEmpty, s"$name: no rows")
      assert(jobs <= 3, s"$name ran $jobs jobs")
      val (_, sparkJobs) = noBroadcast(JobCount(sc)(op().collect()))
      assert(sparkJobs > jobs, s"$name: the Spark form ran $sparkJobs jobs")
    }
  }
}

object LocalGraphSpec {
  /** und (u, v), Louvain's und, weighted und (u, v, w), sources (id) */
  private final case class Graph(und: DataFrame, louvain: DataFrame, wund: DataFrame,
                                 sources: DataFrame)
}
