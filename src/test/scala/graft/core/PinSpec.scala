package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._

/** [[Pin]]: the counted size is the real size, the planner reads it, and
  * every operator that dropped its hand-written broadcast hint in favour of
  * pinned stats, or whose round state is pinned, returns the same rows
  * when nothing may broadcast. */
class PinSpec extends SparkSpec {

  private def recountBytes(df: DataFrame): Long =
    df.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).fold(0L)(_ + _)

  test("counted rows and bytes equal a recount; the leaf carries them") {
    // an int-array column: its schema default is 4 B, its real rows KBs
    val df = spark.range(0, 2000, 1, 3)
      .select(col("id"), sequence(lit(1), (col("id") % 300 + 1).cast("int")).as("hs"))
    val p = Pin(df)
    assert(p.rows === df.count())
    assert(p.bytes === recountBytes(df))
    assert(p.bytes === recountBytes(p.df))
    assert(p.bytes > p.rows * 300, "array payload must be counted, not estimated")
    val st = p.df.queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes === BigInt(p.bytes) && st.rowCount === Some(BigInt(p.rows)))
    assert(p.fits)
    assert(noBroadcast(!Pin(df).fits))
    assert(p.df.collect().map(_.getLong(0)).sorted.toSeq === (0L until 2000L))
  }

  test("collectIfFits: the rows under the envelope, None without a job above it") {
    val df = spark.range(0, 300, 1, 3).select(col("id"), concat(lit("n"), col("id")).as("name"))
    val got = Pin.collectIfFits(df)
    assert(got.map(_.toSeq) === Some(df.collect().toSeq))
    val (above, jobs) = org.apache.spark.graftshim.JobCount(spark.sparkContext)(
      noBroadcast(Pin.collectIfFits(df)))
    assert(above.isEmpty && jobs === 0)
  }

  test("withRows: the pin's own job returns the rows under the envelope, none above it") {
    val df = spark.range(0, 300, 1, 3).select(col("id"), concat(lit("n"), col("id")).as("name"))
    val sc = spark.sparkContext
    val ((p, got), jobs) = org.apache.spark.graftshim.JobCount(sc)(Pin.withRows(df))
    assert(jobs === 1 && p.fits && p.rows === 300)
    assert(got.map(_.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq) ===
      Some((0L until 300L).map(i => (i, s"n$i"))))
    assert(got.get.head.schema === df.schema)
    assert(p.df.collect().length === 300)
    // one partition holding nearly every row is above envelope / partitions:
    // a second job collects them
    def named(ids: DataFrame) = ids.select(col("id"), concat(lit("n"), col("id")).as("name"))
    val skewed = named(spark.range(0, 300, 1, 1).toDF()).unionAll(named(spark.range(300, 303, 1, 3).toDF()))
    val ((ps, gotS), jobsS) = withConf("spark.sql.autoBroadcastJoinThreshold" -> "12000")(
      org.apache.spark.graftshim.JobCount(sc)(Pin.withRows(skewed)))
    assert(ps.fits && gotS.map(_.length) === Some(303) && jobsS === 2, s"$jobsS jobs, ${ps.bytes} B")
    val ((pa, above), jobsA) = org.apache.spark.graftshim.JobCount(sc)(noBroadcast(Pin.withRows(df)))
    assert(!pa.fits && above.isEmpty && jobsA === 1)
  }

  test("a pinned 50k-row aggregate plans BroadcastHashJoin unhinted; a bare checkpoint SMJ") {
    val agg = spark.range(0, 3000000, 1, 4).select((col("id") % 50000).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum(col("v")).as("s"))
    val fact = spark.range(0, 4000000).select((col("id") % 50000).as("k"))
    def plan(side: DataFrame) = fact.join(side, "k").queryExecution.executedPlan.toString
    val pinned = plan(Pin(agg).df)
    assert(pinned.contains("BroadcastHashJoin") && !pinned.contains("SortMergeJoin"),
      s"counted stats must plan a broadcast:\n$pinned")
    val bare = plan(agg.localCheckpoint(true))
    assert(bare.contains("SortMergeJoin") && !bare.contains("BroadcastHashJoin"),
      s"a bare checkpoint keeps its plan's estimate:\n$bare")
  }

  /** Rows as sorted strings; doubles to 10 significant digits (a join
    * strategy may reorder a float sum's terms). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.10g"
      case other => String.valueOf(other)
    }.mkString("|")).sorted

  private def sameUnderNoBroadcast(name: String)(op: => DataFrame): Unit = {
    val default = rows(op)
    assert(default.nonEmpty, s"$name: fixture must produce rows")
    assert(noBroadcast(rows(op)) === default, s"$name: rows changed with the join strategy")
  }

  test("operators that dropped their hints: same rows when nothing broadcasts") {
    import spark.implicits._
    // a bipartite orders→parts "contains" graph: 300 orders of 3 hashed parts
    val edges = spark.range(0, 900, 1, 3).select(
      concat(lit("o"), (col("id") / 3).cast("long")).as("src"), lit("contains").as("pred"),
      concat(lit("p"), pmod(xxhash64(col("id")), lit(100L))).as("dst")).distinct()
    def und = graft.sample.GraphMetrics.undirected(edges, "contains")
    def cooc = graft.sample.GraphMetrics.cooccurrence(edges, "contains")
    sameUnderNoBroadcast("cooccurrence")(cooc)
    sameUnderNoBroadcast("louvain")(graft.sample.Louvain.run(cooc, rounds = 2))
    sameUnderNoBroadcast("spCounts")(graft.sample.Betweenness.spCounts(
      und, Seq("o0", "o7", "p3").toDF("id"), 3))
    sameUnderNoBroadcast("linkPredFeatures")(graft.sample.GraphMetrics.linkPredFeatures(und))
    sameUnderNoBroadcast("entitySummaries")(KgStats.entitySummaries(edges, 2))
    // 12 sources asserting conflicting objects for 40 (subj, pred) items
    val claims = spark.range(0, 480, 1, 3).select(
      concat(lit("s"), col("id") % 12).as("src"), concat(lit("e"), col("id") % 40).as("subj"),
      lit("p").as("pred"), concat(lit("v"), pmod(xxhash64(col("id") % 97), lit(3L))).as("obj"))
    sameUnderNoBroadcast("Truth.resolve")(graft.pipeline.Truth.resolve(claims))
    val docs = spark.range(0, 60, 1, 3).select(col("id").as("doc_id"),
      concat_ws(" ", lit("shared opening words"), col("id") % 7, lit("and a tail")).as("text"))
    val pairs = spark.range(0, 59).select(col("id").as("a"), (col("id") + 1).as("b"))
    sameUnderNoBroadcast("jaccardOf")(graft.dedup.Dedup.jaccardOf(docs, pairs))
    val triples = edges.select(col("src").as("subj"), col("pred"), col("dst").as("obj"))
    val rep = spark.range(0, 100).select(concat(lit("p"), col("id")).as("id"),
      concat(lit("p"), col("id") % 10).as("rep"))
    sameUnderNoBroadcast("sameAsRewrite")(Entailment.sameAsRewrite(triples, rep))
    // the round loops whose per-round state is now pinned with counted stats
    import graft.sample.{Boruvka, GraphMetrics, LabelProp, Scc}
    sameUnderNoBroadcast("kCore")(GraphMetrics.kCore(und, 2))
    sameUnderNoBroadcast("kTruss")(GraphMetrics.kTruss(cooc, 3))
    sameUnderNoBroadcast("maximalIndependentSet")(GraphMetrics.maximalIndependentSet(und))
    sameUnderNoBroadcast("LabelProp")(LabelProp.run(cooc, rounds = 3))
    // orders below o15 also point back at their parts: cyclic SCCs
    val directed = edges.select(col("src"), col("dst")).unionAll(
      edges.filter(col("src") < lit("o15")).select(col("dst").as("src"), col("src").as("dst")))
    val nodes = directed.select(col("src").as("id")).unionAll(directed.select(col("dst").as("id")))
      .distinct()
    sameUnderNoBroadcast("Scc")(Scc.compute(directed, nodes))
    sameUnderNoBroadcast("Boruvka")(Boruvka.minimumSpanningForest(
      cooc.withColumn("w", pmod(xxhash64(col("u"), col("v")), lit(50L)))))
    sameUnderNoBroadcast("maximalMatching")(graft.dedup.Dedup.maximalMatching(
      cooc.select(col("u").as("a"), col("v").as("b"), pmod(xxhash64(col("u")), lit(9L)).as("w"))))
    val types = spark.range(0, 100).select(concat(lit("p"), col("id")).as("node"),
      concat(lit("C"), col("id") % 4).as("cls"))
    sameUnderNoBroadcast("wlColors")(KgStats.wlColors(edges, types, 2))
    // a 60-node chain with doubling shortcuts
    val chain = spark.range(0, 59).select(concat(lit("n"), col("id")).as("src"),
      concat(lit("n"), col("id") + 1).as("dst")).unionAll(spark.range(1, 30)
      .select(concat(lit("n"), col("id")).as("src"), concat(lit("n"), col("id") * 2).as("dst")))
    sameUnderNoBroadcast("transitiveClosure")(Entailment.transitiveClosure(chain))
  }
}
