package graft.sample

import graft.SparkSpec
import graft.core.{Kb, Pin}
import graft.fixtures.{FamilyKb, HepatitisLikeKb}
import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank's sweep loop runs on the driver when its pinned edges, node
  * ids and init rows fit the broadcast envelope, and as Spark plans above
  * it (threshold -1). Every reference case runs on both forms; the two
  * forms must give the same id multiset, ranks within 1e-12·(1+pr) and
  * the same residual-stop sweep count on the fixture KBs, on the sf0.001
  * TPC-H KG and on adversarial edge sets. The driver form's ranks are
  * bit-identical however the edges are partitioned, and it runs one pin
  * job per input. */
class PageRankSpec extends SparkSpec {

  /** generic Jacobi reference implementation (no source-only shortcut) */
  private def naive(kb: graft.core.Kb, d: Double, iters: Int): Map[String, Double] = {
    val n = kb.nodes.count().toDouble
    val outdeg = kb.edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = kb.edges.select("src", "dst").join(outdeg, Seq("src"))
    var ranks: DataFrame = kb.nodes.select(col("id"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = adj.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      ranks = kb.nodes.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"), (lit(d / n) + lit(1 - d) * coalesce(col("mass"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
    }
    ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("source-only shortcut matches the generic Jacobi iteration") {
    // every in-linked node of the Hepatitis fixture lies on a cycle; the
    // family tree's roots are source-only. 12 crosses the materialization
    // at sweep 10.
    for (kb <- Seq(HepatitisLikeKb.kb(spark), FamilyKb.kb(spark)).map(_.cache());
         iters <- Seq(1, 2, 7, 12)) {
      val slow = naive(kb, 0.15, iters)
      bothForms {
        val fast = PageRank.compute(kb, iterations = iters)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(fast.keySet === slow.keySet)
        fast.foreach { case (id, v) =>
          assert(math.abs(v - slow(id)) < 1e-12, s"$id at iters=$iters: $v vs ${slow(id)}")
        }
      }
    }
  }

  test("computeFrom: cold start converges to compute's fixed point; warm start saves sweeps") {
    // a 6-cycle with a chord and a dangler — cyclic, so Jacobi needs real
    // contraction rounds and a warm start has something to save
    import spark.implicits._
    val edges = ((0 until 6).map(i => (s"v$i", "l", s"v${(i + 1) % 6}")) ++
      Seq(("v0", "l", "v3"), ("v2", "l", "d0"))).toDF("src", "pred", "dst")
    val nodes = ((0 until 6).map(i => s"v$i") :+ "d0").toDF("id")
    val kb = HepatitisLikeKb.kb(spark).copy(nodes = nodes, edges = edges)
    val fixed = PageRank.compute(kb, iterations = 300)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    bothForms {
      val empty = nodes.select(col("id"), lit(1.0).as("pr")).limit(0)
      val (cold, sCold) = PageRank.computeFrom(kb, empty, tol = 1e-12, maxSweeps = 500)
      cold.collect().foreach(r =>
        assert(math.abs(r.getDouble(1) - fixed(r.getString(0))) < 1e-9))
      // warm start from the fixed point itself: one verification sweep
      val (warm, sWarm) = PageRank.computeFrom(kb, cold, tol = 1e-12, maxSweeps = 500)
      assert(sWarm < sCold && sWarm <= 2, s"warm=$sWarm cold=$sCold")
      warm.collect().foreach(r =>
        assert(math.abs(r.getDouble(1) - fixed(r.getString(0))) < 1e-9))
      // nodes missing from init start at 1.0 — empty init IS the cold start
      assert(sCold > 5)
    }
  }

  /** naive residual-stopped Jacobi on the driver: start from `init` (1.0
    * where missing), stop when Σ|pr_{t+1} − pr_t| ≤ tol or after maxSweeps */
  private def naiveFrom(kb: graft.core.Kb, init: Map[String, Double], d: Double,
                        tol: Double, maxSweeps: Int): (Map[String, Double], Int) = {
    val nodes = kb.nodes.collect().map(_.getString(0))
    val edges = kb.edges.select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
    val outdeg = edges.groupMapReduce(_._1)(_ => 1.0)(_ + _)
    var pr = nodes.map(v => v -> init.getOrElse(v, 1.0)).toMap
    var (t, resid) = (0, Double.MaxValue)
    while (resid > tol && t < maxSweeps) {
      val mass = edges.groupMapReduce(_._2) { case (u, _) => pr(u) / outdeg(u) }(_ + _)
      val next = nodes.map(v => v -> (d / nodes.length + (1 - d) * mass.getOrElse(v, 0.0))).toMap
      resid = nodes.map(v => math.abs(next(v) - pr(v))).sum
      pr = next
      t += 1
    }
    (pr, t)
  }

  test("computeFrom: a partial, off-fixed-point init matches the naive residual-stopped Jacobi") {
    bothForms {
      // a 6-cycle with a chord and a dangler, fed by two source-only nodes,
      // plus an isolated node: the source-only split, cyclic contraction and
      // the 1.0 default for nodes missing from init all take part
      import spark.implicits._
      val edges = ((0 until 6).map(i => (s"v$i", "l", s"v${(i + 1) % 6}")) ++
        Seq(("v0", "l", "v3"), ("v2", "l", "d0"), ("s0", "l", "v1"), ("s0", "l", "d0"),
          ("s1", "l", "v4"))).toDF("src", "pred", "dst")
      val nodes = ((0 until 6).map(i => s"v$i") ++ Seq("d0", "s0", "s1", "x0")).toDF("id")
      val kb = HepatitisLikeKb.kb(spark).copy(nodes = nodes, edges = edges)
      def check(init: Map[String, Double]): (Map[String, Double], Int) = {
        val (fast, sFast) = PageRank.computeFrom(kb, init.toSeq.toDF("id", "pr"),
          tol = 1e-10, maxSweeps = 500)
        val (slow, sSlow) = naiveFrom(kb, init, 0.15, 1e-10, 500)
        assert(sFast === sSlow, s"sweeps: $sFast vs naive $sSlow from $init")
        val got = fast.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(got.keySet === slow.keySet)
        got.foreach { case (id, v) =>
          assert(math.abs(v - slow(id)) < 1e-12, s"$id: $v vs ${slow(id)}") }
        (got, sFast)
      }
      val (fixed, sweeps) =
        check(Map("v0" -> 0.5, "v3" -> 2.0, "d0" -> 0.25, "s0" -> 3.0, "x0" -> 0.0))
      assert(sweeps > 5)
      // off the fixed point only at the isolated node: sweep 1's residual is
      // that source-only move alone, so the stop comes one sweep later
      assert(check(fixed + ("x0" -> 0.0))._2 === 2)
    }
  }

  test("weighted pagerank equals edge-replicated multigraph ranks") {
    bothForms {
      import spark.implicits._
      // integer multiplicities replicated row-by-row must give the same
      // fixed-point trajectory as the weighted form (w/Σw == k copies of
      // 1/outdeg over the same groups)
      val mult = Seq(("a", "b", 3), ("b", "c", 2), ("c", "a", 1), ("a", "c", 2),
        ("d", "a", 4)).toDF("src", "dst", "w")
      val nodes = Seq("a", "b", "c", "d").toDF("id")
      val replicated = mult.as[(String, String, Int)].flatMap {
        case (s, d, k) => Seq.fill(k)((s, "p", d)) }.toDF("src", "pred", "dst")
      val kb = graft.core.Kb(nodes, replicated,
        attrs = graft.core.Kb.empty(spark).attrs,
        types = graft.core.Kb.empty(spark).types,
        tbox = graft.core.Tbox.empty)
      for (iters <- Seq(1, 5, 20)) {
        val w = PageRank.computeWeighted(nodes, mult, iterations = iters)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val rep = PageRank.compute(kb, iterations = iters)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(w.keySet === rep.keySet)
        w.foreach { case (id, v) =>
          assert(math.abs(v - rep(id)) < 1e-12, s"$id at iters=$iters: $v vs ${rep(id)}") }
      }
    }
  }

  test("AQE scoping never touches the caller session's conf") {
    bothForms {
      val kb = HepatitisLikeKb.kb(spark).cache()
      val key = "spark.sql.adaptive.enabled"
      val before = spark.conf.get(key, "true")
      spark.conf.set(key, "true")
      try {
        // the loop runs with AQE off in a CLONED session; the caller's value
        // must hold even DURING every entry point — probe it from a
        // concurrent thread until they are all done
        @volatile var seen = List.empty[String]
        @volatile var done = false
        val probe = new Thread(() => {
          while (!done) { seen ::= spark.conf.get(key); Thread.sleep(5) }
        })
        probe.start()
        val outs = try Seq(
          PageRank.compute(kb, iterations = 3),
          PageRank.computeWeighted(kb.nodes,
            kb.edges.select(col("src"), col("dst"), lit(1.0).as("w")), iterations = 3),
          PageRank.computeFrom(kb, kb.nodes.select(col("id"), lit(0.5).as("pr")),
            maxSweeps = 3)._1,
          PageRank.personalized(kb, Seq("p1"), iterations = 3))
        finally { done = true; probe.join() }
        outs.foreach(out => assert(out.count() === kb.nodes.count()))
        assert(seen.nonEmpty && seen.forall(_ == "true"),
          s"caller conf flickered during compute: ${seen.distinct}")
        assert(spark.conf.get(key) === "true")
      } finally spark.conf.set(key, before)
    }
  }

  /** naive personalized Jacobi reference: pr = d·s + (1−d)·in-mass */
  private def naivePpr(kb: graft.core.Kb, seeds: Seq[String], d: Double,
                       iters: Int): Map[String, Double] = {
    val outdeg = kb.edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = kb.edges.select("src", "dst").join(outdeg, Seq("src"))
    val s = when(col("id").isin(seeds: _*), lit(1.0 / seeds.size)).otherwise(lit(0.0))
    var ranks: DataFrame = kb.nodes.select(col("id"), s.as("pr"))
    for (_ <- 1 to iters) {
      val contrib = adj.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      ranks = kb.nodes.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"), (lit(d) * s + lit(1 - d) * coalesce(col("mass"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
    }
    ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("personalized PageRank matches the naive Jacobi reference") {
    // m1 is a source-only seed: its teleport d·s differs from its start s
    for ((kb, seeds) <- Seq(HepatitisLikeKb.kb(spark).cache() -> Seq("p1", "p2"),
           FamilyKb.kb(spark).cache() -> Seq("m1", "m2"));
         iters <- Seq(1, 3, 12)) {
      val slow = naivePpr(kb, seeds, 0.15, iters)
      bothForms {
        val fast = PageRank.personalized(kb, seeds, iterations = iters)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(fast.keySet === slow.keySet)
        fast.foreach { case (id, v) =>
          assert(math.abs(v - slow(id)) < 1e-12, s"$id at iters=$iters: $v vs ${slow(id)}")
        }
      }
    }
  }

  test("PPR locality: nodes the seed cannot reach hold exactly 0; mass leaks to ≤ 1") {
    bothForms {
      val kb = graft.fixtures.FamilyKb.kb(spark).cache()
      val ppr = PageRank.personalized(kb, Seq("m1"), iterations = 20)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // m1's forward closure: m1's children and their descendants; f1/f5/f6
      // and the isolated x2..x4 are unreachable
      Seq("f1", "f5", "f6", "x2", "x3", "x4").foreach { id =>
        assert(ppr(id) == 0.0, s"$id unreachable from m1 but pr=${ppr(id)}")
      }
      assert(ppr("m1") > 0.0 && ppr("m2") > 0.0 && ppr("f2") > 0.0)
      assert(ppr.values.sum <= 1.0 + 1e-12)
      // seed share strictly exceeds the uniform share — the locality property
      assert(ppr("m1") / ppr.values.sum > 1.0 / kb.nodes.count())
    }
  }

  // inputs pinned up front, so an entry point's job count is its own
  private def pinned(kb: Kb): Kb = kb.copy(nodes = Pin(kb.nodes).df, edges = Pin(kb.edges).df)

  private lazy val tpch: Kb = pinned(graft.sources.TpchKg.load(spark, "/root/testdata/sf0.001"))

  private val (fffd, smile) = ("\uFFFD", "\uD83D\uDE00")

  /** duplicate edges, self-loops, a dangler (d), endpoints missing from
    * the nodes (z, in-linked; y, source-only), duplicate node rows (d
    * twice, f three times), an isolated node (g) and ids whose UTF-8 and
    * UTF-16 orders differ */
  private lazy val adversarial: Kb = {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "c"), ("a", "d"),
      ("c", "z"), ("e", "a"), ("e", "e"), ("f", "b"), ("f", "b"), (fffd, smile), (smile, fffd),
      (smile, "a"), ("z", "z"), ("y", "a")).map { case (u, v) => (u, "p" * (1 + (u + v).length % 3), v) }
    HepatitisLikeKb.kb(spark).copy(
      nodes = Seq("a", "b", "c", "d", "d", "e", "f", "f", "f", "g", fffd, smile).toDF("id"),
      edges = edges.toDF("src", "pred", "dst"))
  }

  private lazy val emptyEdges: Kb = {
    import spark.implicits._
    HepatitisLikeKb.kb(spark).copy(nodes = Seq("a", "b", "b", "c").toDF("id"),
      edges = Seq.empty[(String, String, String)].toDF("src", "pred", "dst"))
  }

  private def graph(name: String): Kb = name match {
    case "fixture" => HepatitisLikeKb.kb(spark)
    case "family" => FamilyKb.kb(spark)
    case "sf0.001" => tpch
    case "adversarial" => adversarial
    case "empty edges" => emptyEdges
  }

  /** edge weights 1-3 from the predicate's name */
  private def weighted(kb: Kb): DataFrame = kb.edges.select(col("src"), col("dst"),
    (length(col("pred")) % 3 + 1).cast("double").as("w"))

  /** seeds and a partial init: the first node ids in string order, plus an
    * id that is no node */
  private def seedsOf(kb: Kb): Seq[String] =
    kb.nodes.orderBy(col("id")).limit(3).collect().map(_.getString(0)).toSeq :+ "absent"

  private def initOf(kb: Kb): DataFrame = {
    import spark.implicits._
    seedsOf(kb).zipWithIndex.map { case (id, i) => (id, 0.25 * i) }.toDF("id", "pr")
  }

  private def ranks(df: DataFrame): Seq[(String, Double)] =
    df.collect().toSeq.map(r => (String.valueOf(r.get(0)), r.getDouble(1)))
      .sorted(Ordering.Tuple2(Ordering.String, Ordering.Double.TotalOrdering))

  private def leaves(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.nodeName)

  /** `op` at the default threshold — in the driver form unless `driver` is
    * false — and with nothing broadcast, in the Spark form */
  private def sameOnBothForms(what: String, driver: Boolean = true)(
      op: => (DataFrame, Int)): Unit = {
    val (localDf, localSweeps) = op
    assert((leaves(localDf) == Seq("LocalRelation")) === driver, s"$what: the form that ran")
    val local = ranks(localDf)
    val (sparkForm, sparkSweeps) = noBroadcast { val (df, sweeps) = op; (ranks(df), sweeps) }
    assert(localSweeps === sparkSweeps, s"$what: sweeps")
    assert(local.map(_._1) === sparkForm.map(_._1), s"$what: ids")
    local.zip(sparkForm).foreach { case ((id, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-12 * (1 + math.abs(b)), s"$what: $id $a vs $b")
    }
  }

  for (name <- Seq("fixture", "family", "sf0.001", "adversarial", "empty edges"))
    test(s"$name: the driver and Spark forms agree on all four entry points") {
      val kb = graph(name)
      for (iters <- Seq(0, 12)) {
        sameOnBothForms(s"compute iterations=$iters")(
          (PageRank.compute(kb, iterations = iters), 0))
        sameOnBothForms(s"computeWeighted iterations=$iters")(
          (PageRank.computeWeighted(kb.nodes, weighted(kb), iterations = iters), 0))
        sameOnBothForms(s"personalized iterations=$iters")(
          (PageRank.personalized(kb, seedsOf(kb), iterations = iters), 0))
      }
      val cold = kb.nodes.select(col("id"), lit(1.0).as("pr")).limit(0)
      for ((init, label, maxSweeps) <- Seq((cold, "cold", 200), (initOf(kb), "partial", 0),
             (initOf(kb), "partial", 3), (initOf(kb), "partial", 200)))
        sameOnBothForms(s"computeFrom $label maxSweeps=$maxSweeps")(
          PageRank.computeFrom(kb, init, tol = 1e-10, maxSweeps = maxSweeps))
    }

  test("computeFrom: duplicate init rows and a null init pr keep the Spark form's start rows") {
    import spark.implicits._
    val kb = adversarial
    val init = Seq(("a", Some(0.5)), ("a", Some(2.0)), ("d", None), ("z", Some(3.0)))
      .toDF("id", "pr")
    for (maxSweeps <- Seq(0, 200))
      sameOnBothForms(s"maxSweeps=$maxSweeps")(
        PageRank.computeFrom(kb, init, tol = 1e-10, maxSweeps = maxSweeps))
  }

  test("a null edge endpoint keeps the Spark form") {
    import spark.implicits._
    val kb = adversarial.copy(edges = Seq(("a", "p", "b"), ("b", "p", null), ("b", "p", "c"))
      .toDF("src", "pred", "dst"))
    sameOnBothForms("compute", driver = false)((PageRank.compute(kb, iterations = 3), 0))
  }

  test("the driver form's ranks are bit-identical however the edges arrive") {
    val kb = tpch
    val one = kb.copy(edges = kb.edges.orderBy(xxhash64(col("dst"), col("src"))).coalesce(1))
    val seven = kb.copy(edges = kb.edges.repartition(7, col("pred"))
      .sortWithinPartitions(xxhash64(col("src"), col("pred"))))
    def all(kb: Kb): Seq[(Seq[(String, Long)], Int)] = Seq(
      (PageRank.compute(kb, iterations = 30), 0),
      (PageRank.computeWeighted(kb.nodes, weighted(kb), iterations = 30), 0),
      (PageRank.personalized(kb, seedsOf(kb), iterations = 30), 0),
      PageRank.computeFrom(kb, initOf(kb))).map { case (df, sweeps) =>
        assert(leaves(df) === Seq("LocalRelation"))
        (ranks(df).map { case (id, pr) => id -> java.lang.Double.doubleToLongBits(pr) }, sweeps)
      }
    for ((((a, sa), (b, sb)), entry) <- all(one).zip(all(seven)).zipWithIndex) {
      assert(sa === sb, s"entry point $entry: sweeps")
      assert(a.map(_._1) === b.map(_._1), s"entry point $entry: ids")
      val differ = a.zip(b).count { case (x, y) => x != y }
      assert(differ === 0, s"entry point $entry: $differ of ${a.length} ranks differ in some bit")
    }
  }

  test("sf0.001 raw load: the pins run with AQE off, no exchange runs as a job of its own") {
    // an un-pinned load: every entry point pins the edge derivation itself
    val kb = graft.sources.TpchKg.load(spark, "/root/testdata/sf0.001")
    val sc = spark.sparkContext
    val seeds = seedsOf(kb)
    val init = initOf(kb)
    // (entry point, driver-form jobs: one per pin, Spark-form jobs); pinned
    // under the caller's AQE they were 4/4/5 and 9/8/18
    val cases = Seq[(String, () => DataFrame, Int, Int)](
      ("compute", () => PageRank.compute(kb, iterations = 10), 2, 7),
      ("personalized", () => PageRank.personalized(kb, seeds, iterations = 10), 2, 6),
      ("computeFrom", () => PageRank.computeFrom(kb, init)._1, 3, 16))
    for ((name, op, budget, sparkBudget) <- cases) {
      val (_, jobs) = JobCount(sc)(op().collect())
      val (_, sparkJobs) = noBroadcast(JobCount(sc)(op().collect()))
      assert(jobs <= budget, s"$name ran $jobs jobs under the envelope")
      assert(sparkJobs <= sparkBudget, s"$name: the Spark form ran $sparkJobs jobs")
    }
  }

  test("sf0.001: ≤ 2 jobs per entry point under the envelope, ≤ 3 with an init frame") {
    val kb = tpch
    val sc = spark.sparkContext
    val seeds = seedsOf(kb)
    val wEdges = Pin(weighted(kb)).df
    val init = Pin(initOf(kb)).df
    // (entry point, jobs under the envelope, jobs its Spark form ran before
    // the driver form existed)
    val cases = Seq[(String, () => DataFrame, Int, Int)](
      ("compute", () => PageRank.compute(kb, iterations = 10), 2, 7),
      ("computeWeighted", () => PageRank.computeWeighted(kb.nodes, wEdges, iterations = 10), 2, 7),
      ("personalized", () => PageRank.personalized(kb, seeds, iterations = 10), 2, 6),
      ("computeFrom", () => PageRank.computeFrom(kb, init)._1, 3, 16))
    for ((name, op, budget, sparkBudget) <- cases) {
      val (rows, jobs) = JobCount(sc)(op().collect())
      assert(rows.length === kb.nodes.count())
      assert(jobs <= budget, s"$name ran $jobs jobs under the envelope")
      val (_, sparkJobs) = noBroadcast(JobCount(sc)(op().collect()))
      assert(sparkJobs <= sparkBudget, s"$name: the Spark form ran $sparkJobs jobs")
    }
  }
}
