package graft

import org.apache.spark.sql.functions._

/** Executed-plan regression guards for the shapes the 100-TB story rests
  * on: these asserts keep them from silently regressing. Plan-string
  * checks are pinned to Spark 4.1.2. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("filters and projections reach the parquet scan") {
    val df = graft.sources.TpchKg.table(spark, sf, "customer")
      .filter(col("c_acctbal") > 1000.0)
      .select("c_custkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(c_acctbal"),
      s"filter not pushed to the scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("c_mktsegment"),
      "projection not pruned at the scan")
  }

  test("batched concept scoring joins LP sides as broadcast, never SMJ") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val elp = graft.lp.LearningProblem.encode(kb,
      graft.lp.Lp(Seq("c:1", "c:2"), Seq("s:1")))
    val frame = graft.lp.LearningProblem.scoringFrame(
      Seq(graft.expr.Named("Customer"), graft.expr.Named("Supplier")).map(graft.expr.Eval(kb, _)), elp)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "LP-scale sides must not sort-merge against the retrieval stream")
  }

  test("prioritized walk step: one cached scan, no per-step rank probe") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val ranks = graft.sample.PageRank.compute(kb, iterations = 2)
      .select(col("id").as("dst"), col("pr").as("w"))
    val nbrs = graft.sample.WalkSampler.neighborTable(kb, Some(ranks)).cache()
    try {
      nbrs.count()
      val f = spark.createDataset(Seq((0L, "c:1"), (1L, "s:2")))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING)).toDF("walker", "cur")
      val step = broadcast(f).join(nbrs, f("cur") === nbrs("src"))
        .select(col("walker"), col("src"), col("pred"), col("dst"), col("w"))
      val plan = step.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"frontier must broadcast:\n$plan")
      assert(plan.linesIterator.count(_.contains("InMemoryTableScan")) == 1,
        s"step must read exactly ONE cached table (ranks pre-joined into edges):\n$plan")
      assert(!plan.linesIterator.exists(_.contains("Exchange hashpartitioning(dst")),
        "no per-step rank-table exchange may exist")
    } finally nbrs.unpersist()
  }

  test("bloom probe: the bit set broadcasts; the probe stream never sort-merges") {
    val docs = graft.queries.TrainingDataQueries.corpus(spark, sf)
    val grams = graft.text.Curation.wordNgramsAll(docs, 2)
    val bits = graft.core.Sketches.bloomBits(
      grams.limit(200).select(col("gram")), "gram", 4, 8192)
    val probed = graft.core.Sketches.bloomProbe(bits, grams.select("gram"),
      "gram", 4, 8192)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the bloom bit set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "the probe stream must never sort-merge against the bitmap")
  }

  test("decontamination probes a broadcast benchmark set; corpus grams never pre-shuffle") {
    val docs = graft.queries.TrainingDataQueries.corpus(spark, sf)
    val bench = docs.filter(col("doc_id") % 37 === 0)
    val hits = graft.text.Curation.decontaminate(docs, bench, n = 8)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus gram stream must never sort-merge against the benchmark set")
    // tree print order: BHJ, then its STREAMED child subtree, then the
    // broadcast child (from its BroadcastExchange line on). The corpus
    // gram stream is the streamed child — no hash exchange may print in
    // that window (a distinct() upstream of the join would put one there);
    // exchanges above the BHJ (post-join aggs) and inside the broadcast
    // subtree (the tiny benchmark distinct) are expected.
    val lines = plan.linesIterator.toVector
    val bhj = lines.indexWhere(_.contains("BroadcastHashJoin"))
    val be = lines.indexWhere(_.contains("BroadcastExchange"), bhj)
    assert(bhj >= 0 && be > bhj, s"unexpected plan shape:\n$plan")
    assert(!lines.slice(bhj + 1, be).exists(_.contains("Exchange hashpartitioning")),
      s"the raw corpus gram stream gained a shuffle upstream of the broadcast probe:\n$plan")
  }

  test("dedup pair verify is size-gated: broadcast under, shuffle-hash over") {
    val corpus = graft.queries.TrainingDataQueries.corpus(spark, sf)
    // under the gate (every fixture corpus): the array table broadcasts and
    // the pair stream never rides an exchange into the verify joins
    val under = graft.dedup.Dedup.minhashLsh(corpus, 0.8)
    val underPlan = under.queryExecution.executedPlan.toString
    assert(underPlan.contains("BroadcastHashJoin"),
      s"under the doc gate the array table must broadcast:\n$underPlan")
    assert(!underPlan.contains("SortMergeJoin"),
      "array-laden rows must never sort")
    // over the gate (forced with a broadcast threshold of -1): shuffle-hash
    // fallback, never a sort-merge over the array-laden pair rows
    val ids = corpus.select(col("doc_id"))
    val somePairs = ids.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
    val overPlan = noBroadcast {
      graft.dedup.Dedup.jaccardOf(corpus, somePairs, atLeast = Some(0.8))
        .queryExecution.executedPlan.toString
    }
    assert(overPlan.contains("ShuffledHashJoin"),
      s"over the doc gate the attachment must build a hash table:\n$overPlan")
    assert(!overPlan.contains("SortMergeJoin"),
      "array-laden rows must never sort in the fallback either")
  }

  test("BM25: the query-term and df/const attachments broadcast; postings never sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val f = graft.text.Retrieval.bm25Features(docs, Seq("spark", "table"))
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query terms / df / constants must broadcast into the postings stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus-sized postings stream must never sort-merge:\n$plan")
  }

  test("triangle counting: equi-joins only, no cartesian, aggregates partial") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val und = graft.sample.GraphMetrics.cooccurrence(kb.edges, "contains")
    val plan = graft.sample.GraphMetrics.triangleCounts(und)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"wedge/close joins must stay equi-joins:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-node counts must map-side combine:\n$plan")
  }

  test("SemDeDup: cid-keyed shuffle-hash pair stage; embedding rows never sort") {
    val e = graft.queries.TrainingDataQueries.embCorpus(spark, sf)
    val plan = graft.sim.Ann.semDedup(e, tau = 0.99)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"the within-cluster pair join must build a hash table keyed on cid:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"embedding-array rows must never ride a sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pairs must be blocked by cluster, never all-pairs:\n$plan")
  }

  test("link-pred features: equi-joins only, counts map-side combine") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val und = graft.sample.GraphMetrics.undirected(kb.edges, "contains")
    // the Spark form's plan: sf0.001 fits the envelope, where the wedges
    // are counted task-side over a broadcast CSR (LocalGraphSpec)
    val plan = noBroadcast(graft.sample.GraphMetrics.linkPredFeatures(und)
      .queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"wedge pairing must stay an equi-join on z:\n$plan")
    assert(plan.contains("partial_count"),
      s"pair aggregation must map-side combine:\n$plan")
  }

  test("BGP: a connected pattern plans equi-joins only, never a cartesian") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val df = graft.core.Bgp.matchPattern(kb.edges, Seq(
      ("?o", "placedBy", "?c"), ("?c", "inNation", "?n"),
      ("?n", "inRegion", "r:2"), ("?o", "suppliedBy", "?s"),
      ("?s", "inNation", "?n")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"shared-variable joins must stay equi-joins:\n$plan")
    // the constant pred positions must do better than a pushed filter:
    // Catalyst constant-folds pred = '...' against the union-all edge view
    // and PRUNES every non-matching branch, so each atom reads only its
    // base table (the pred literals disappear from the plan entirely)
    assert(plan.contains("orders.parquet") && plan.contains("nation.parquet"),
      s"constant atoms must prune the edge union to base-table scans:\n$plan")
    assert(!plan.contains("'placedBy'") && !plan.contains("= placedBy"),
      s"the pred constant survived as a runtime filter instead of pruning:\n$plan")
  }

  test("property path: pred constants prune the edge union; equi-joins only") {
    import graft.core.PathExpr._
    val kb = graft.sources.TpchKg.load(spark, sf)
    val df = graft.core.Paths.pairs(kb.edges,
      PSeq(Inv(Pred("contains")),
        PSeq(Alt(Pred("placedBy"), Pred("suppliedBy")),
          PSeq(Pred("inNation"), Pred("inRegion")))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"path sequence joins must stay equi-joins:\n$plan")
    // same contract as the BGP guard: each Pred leaf constant-folds the
    // union-all edge view down to its base-table scans
    assert(plan.contains("lineitem.parquet") && plan.contains("nation.parquet"),
      s"Pred leaves must prune the edge union to base-table scans:\n$plan")
    assert(!plan.contains("= contains") && !plan.contains("'inRegion'"),
      s"a pred constant survived as a runtime filter instead of pruning:\n$plan")
  }

  test("as-of join: ONE keyed exchange + window, no join operator at all") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val df = graft.streaming.Temporal.asofJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"),
      key = "user_id", ts = "ts", id = "event_id",
      carry = Seq("event_id" -> "view_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"the union-tag formulation must never plan a join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one keyed shuffle may exist:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window")) == 1,
      s"exactly one window pass may exist:\n$plan")
  }

  test("SHACL validation: keyed joins and partial aggregation, no cartesian") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val df = graft.core.Shapes.validate(kb.edges, kb.types, kb.attrs,
      propShapes = Seq(graft.core.PropertyShape("OP", "Order", "contains",
        minCount = 1, maxCount = Some(3), valueClass = Some("Part"))),
      attrShapes = Seq(graft.core.AttrShape("CB", "Customer", "acctbal",
        datatype = Some("xsd:double"), minInclusive = Some(0.0))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"shape checks must stay keyed joins:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"cardinality counts must map-side combine:\n$plan")
  }

  test("column profile: ONE scan feeds the whole aggregate (Expand, no re-scan)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val agg = docs.agg(
      count(col("doc_id")), count_distinct(col("doc_id")),
      count_distinct(col("lang")), count(lit(1)))
    val plan = agg.queryExecution.executedPlan.toString
    // multi-count_distinct compiles to one Expand over one scan
    assert(plan.contains("Expand"), s"expected the Expand strategy:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"the profile aggregate must read the input exactly once:\n$plan")
  }

  test("characteristic sets + datatype inference: partial aggregation, no join") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    for (df <- Seq(graft.core.KgStats.characteristicSets(kb.edges),
                   graft.core.KgStats.inferDatatypes(kb.attrs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"stats are pure aggregates:\n$plan")
      assert(plan.contains("partial"), s"aggregates must map-side combine:\n$plan")
    }
  }

  test("grouped quantiles: ONE keyed exchange, both windows share the sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.core.Profile.quantilesDisc(
      docs, "n_chars", Seq("lang"), Seq(25, 50, 75, 95), "doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"the percent ladder must be inline:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one keyed exchange, got $exchanges:\n$plan")
  }

  test("DSIR: bucket totals broadcast back; the gram stream aggregates partial") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val surf = graft.text.Dsir.featureSurface(docs, col("doc_id") % 5 === 0)
    val plan = surf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the buckets-sized totals table must broadcast into the feature rows:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus-sized feature stream must never sort-merge:\n$plan")
  }

  test("funnel: ONE keyed exchange feeds all step windows and the collapse") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val df = graft.streaming.Temporal.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"the funnel must never self-join the log:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"all K step windows + the per-key collapse must share one shuffle:\n$plan")
  }

  test("heavy hitters: candidates broadcast-semi back; no full-vocab sort-merge") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val grams = graft.text.Curation.wordNgramsAll(docs, 1)
    val df = graft.core.Frequency.heavyHitters(grams, "gram", 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"pass 2 must broadcast the candidate set as a semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus-sized key stream must never sort-merge:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"the recount must map-side combine:\n$plan")
  }

  test("link graph: page-level links are map-only; host quotient one partial agg") {
    val pages = graft.pipeline.Pages.fromDir(spark, sf)
    val links = graft.pipeline.LinkGraph.links(pages).toDF()
    val linksPlan = links.queryExecution.executedPlan.toString
    assert(!linksPlan.contains("Exchange"),
      s"anchor extraction is embarrassingly parallel — no shuffle allowed:\n$linksPlan")
    val hostPlan = graft.pipeline.LinkGraph.hostGraph(links)
      .queryExecution.executedPlan.toString
    assert(!hostPlan.contains("Join"), s"the quotient is a pure aggregate:\n$hostPlan")
    assert(hostPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one keyed exchange (the host-pair aggregate) may exist:\n$hostPlan")
    assert(hostPlan.contains("partial_count") || hostPlan.contains("partial count"),
      s"intra-host link mass must map-side combine before the exchange:\n$hostPlan")
  }

  test("changeset: ONE union-tag aggregate shuffle, never EXCEPT anti-joins") {
    // simple scans as inputs so the count isolates the operator's own plan
    import spark.implicits._
    val t = Seq(("a", "p", "b"), ("c", "p", "d")).toDF("subj", "pred", "obj")
    val df = graft.pipeline.Materialize.changeset(
      t.filter(col("subj") =!= "c"), t)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"the diff must be one tagged aggregate, not two anti-joins:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one keyed exchange may exist:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial max"),
      s"side bitmaps must map-side combine:\n$plan")
  }

  test("sentence dedup: map-side explode, ONE exchange keyed by sentence") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.text.Curation.sentenceDedup(docs)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"first-occurrence pick is a window, not a join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one sentence-keyed exchange may exist:\n$plan")
    assert(plan.contains("Generate"),
      s"the sentence explode must run map-side below the exchange:\n$plan")
  }

  test("robots filter: a codegen rlike CASE chain, no UDF, no shuffle") {
    import spark.implicits._
    val rules = graft.pipeline.Robots.parse(
      "User-agent: *\nDisallow: /doc/1\nAllow: /doc/1$\nDisallow: /doc/*7$\n", "anybot")
    val urls = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("https://ex.org/doc/"), col("doc_id")).as("url"))
    val df = graft.pipeline.Robots.filterAllowed(urls, rules)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the policy filter must stay a row-local map stage:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      s"the decision must be built-in expressions, never a UDF:\n$plan")
    assert(plan.contains("RLIKE"), s"expected compiled rlike rules in the plan:\n$plan")
  }

  test("N-Triples render→parse is shuffle-free in both directions") {
    // in-memory Kb so the assertion isolates the interchange stages (the
    // TpchKg fact derivation has its own exchanges upstream)
    import spark.implicits._
    val kb = graft.core.Kb(
      nodes = Seq("a", "b").toDF("id"),
      edges = Seq(("a", "p", "b")).toDF("src", "pred", "dst"),
      attrs = Seq(("a", "dp", "1", "long")).toDF("node", "prop", "lexical", "dtype"),
      types = Seq(("a", "C")).toDF("node", "cls"),
      tbox = graft.core.Tbox.empty)
    val df = graft.sources.NTriples.triples(
      graft.sources.NTriples.parse(graft.sources.NTriples.render(kb)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"interchange must stay row-local map stages end-to-end:\n$plan")
  }

  test("WL colors: keyed joins + partial XOR aggregate, no cartesian") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val df = graft.core.KgStats.wlColors(kb.edges, kb.types, rounds = 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"color propagation must stay keyed joins:\n$plan")
    assert(plan.contains("partial_bit_xor") || plan.contains("partial bit_xor"),
      s"the neighborhood digest must map-side combine (hub-safe):\n$plan")
  }

  test("source rollup: Expand/gid distinct plan, partial combine, digests not bodies, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.text.Curation.sourceStats(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"the rollup is a pure aggregate:\n$plan")
    // two distinct counts → Spark's Expand shape: at most the gid exchange
    // + the final source-keyed exchange
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"at most the Expand + final exchanges may exist:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial sum"),
      s"token/density sums must map-side combine:\n$plan")
    // the dup-key distinct must shuffle md5 digests, never document bodies
    assert(!plan.contains("hashpartitioning(source"
      ) || !plan.matches("(?s).*hashpartitioning\\([^)]*text#.*"),
      s"exchanges must carry digests, not text:\n$plan")
  }

  test("crawl schedule: ONE host-keyed exchange feeds the slot window") {
    val pages = graft.pipeline.Pages.fromDir(spark, sf)
    val frontier = graft.pipeline.LinkGraph.frontier(
      graft.pipeline.LinkGraph.links(pages).toDF(), pages)
    val plan = graft.pipeline.LinkGraph.schedule(frontier)
      .queryExecution.executedPlan.toString
    // the frontier itself contributes its aggregate exchange + anti-join;
    // the SCHEDULE may add exactly one more keyed exchange (the host window)
    val frontierPlan = frontier.queryExecution.executedPlan.toString
    val frontierEx = frontierPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    val schedEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(schedEx <= frontierEx + 1,
      s"the schedule may add at most one host-keyed exchange ($frontierEx → $schedEx):\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"slots must come from a window, not a join:\n$plan")
  }

  test("sequence packing: ONE stream-keyed exchange, bin explode above the window, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.text.Packing.packManifest(docs, budget = 64L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"packing is pure window arithmetic:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one stream-keyed exchange may exist:\n$plan")
    assert(plan.contains("Generate"),
      s"the bin sequence must explode in-plan (codegen), not via a join:\n$plan")
  }

  test("adjacency codec: encode is ONE keyed aggregate over the dict joins, no cartesian") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val dict = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("id", "nid")
    val enc = graft.sources.AdjCodec.encode(edges, dict)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"dict attachment must stay equi-joins:\n$plan")
    assert(plan.contains("partial_collect_set") || plan.contains("partial collect_set")
      || plan.contains("objHashAggregate") || plan.contains("ObjectHashAggregate"),
      s"the adjacency gather must aggregate (hash, not sort) per source:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      s"the byte kernel rides typed mapPartitions, never a UDF:\n$plan")
  }

  test("sameAs rewrite: fact stream rides TWO broadcast joins, one distinct exchange") {
    import spark.implicits._
    val triples = Seq(("a", "p", "b"), ("c", "p", "d")).toDF("subj", "pred", "obj")
    val rep = Seq(("a", "a"), ("b", "a")).toDF("id", "rep")
    val df = graft.core.Entailment.sameAsRewrite(triples, rep)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) == 2,
      s"both endpoint rewrites must be broadcast-hash:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the fact stream must never sort before the distinct:\n$plan")
  }

  test("NIL linking: mention stream left-broadcasts both dictionary probes, no shuffle join") {
    import spark.implicits._
    val mentions = Seq(("u", "S", "p", "O")).toDF("url", "subjSurface", "pred", "objSurface")
    val aliases = Seq(("S", "e1", 0.9)).toDF("surface", "entity_id", "score")
    val plan = graft.pipeline.Link.withNils(mentions, aliases)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) == 2,
      s"dictionary probes must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the mention stream must stream map-side:\n$plan")
  }

  test("cost-ordered BGP: the selective constant atom seeds the join tree") {
    val kb = graft.sources.TpchKg.load(spark, sf)
    val atoms = Seq( // adversarial order: hub atoms first
      ("?o", "suppliedBy", "?s"), ("?o", "placedBy", "?c"),
      ("?s", "inNation", "?n"), ("?c", "inNation", "?n"),
      ("?n", "inRegion", "r:2"))
    val stats = graft.core.Bgp.predStats(kb.edges)
    val ordered = graft.core.Bgp.orderAtoms(atoms, stats)
    assert(ordered.head === (("?n", "inRegion", "r:2")),
      s"the constant-bearing selective atom must seed the tree, got $ordered")
    // and the constant reaches the scan as a pushed filter
    val plan = graft.core.Bgp.matchPatternOptimized(kb.edges, atoms, Some(stats))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"a connected ordered pattern must stay equi-joins:\n$plan")
  }

  /** the sf TPC-H KG with materialized tables (TpchKg's edge table is
    * itself a distinct over lineitem), pinned rather than cached — a fresh
    * instance per call */
  private def materializedTpchKb(): graft.core.Kb = {
    val k = graft.sources.TpchKg.load(spark, sf)
    def pin(df: org.apache.spark.sql.DataFrame) = graft.core.Pin(df).df
    k.copy(nodes = pin(k.nodes), edges = pin(k.edges), attrs = pin(k.attrs), types = pin(k.types))
  }

  private def finalizedPlans(s: graft.core.Kb) = Seq("nodes" -> s.nodes, "edges" -> s.edges,
    "attrs" -> s.attrs, "types" -> s.types).map { case (t, df) => t -> df.queryExecution.executedPlan.toString }

  test("finalized fire sample: IN-set filters under the envelope, no exchange; semi-joins above") {
    val kb = materializedTpchKb()
    val drawn = new graft.sample.ForestFireSampler(kb, seed = 3).draw(100)
    // an uncached KB holds no driver image: IN-set filters, whether or not it fits
    for ((t, plan) <- finalizedPlans(graft.sample.Samplers.finalizeSample(kb, drawn))) {
      assert(!plan.contains("Exchange"), s"$t: a fitting sample needs no exchange:\n$plan")
      assert(plan.contains("INSET") && !plan.contains("Join"), s"$t: IN-set filter form:\n$plan")
    }
    noBroadcast {
      for ((t, plan) <- finalizedPlans(graft.sample.Samplers.finalizeSample(kb, drawn)))
        assert(plan.contains("LeftSemi") && !plan.contains("INSET"), s"$t: semi-join form:\n$plan")
    }
  }

  test("finalized fire sample from a cached KB: a driver gather when the KB fits, IN-set filters when only the sample does") {
    val kb = materializedTpchKb().cache()
    try {
      val drawn = new graft.sample.ForestFireSampler(kb, seed = 3).draw(100)
      // the KB's four tables fit the envelope: local relations filtered from its image
      for ((t, plan) <- finalizedPlans(graft.sample.Samplers.finalizeSample(kb, drawn))) {
        assert(plan.contains("LocalTableScan"), s"$t: image form:\n$plan")
        assert(!plan.contains("Exchange") && !plan.contains("Join") && !plan.contains("INSET"),
          s"$t: a gathered sample plans no exchange, join or IN-set:\n$plan")
      }
      // a threshold the sample fits and the KB does not: IN-set filters
      val kbBytes = kb.imageBytes.get
      assert(graft.core.Pin.collectIfFits(drawn.sampledNodes.select("id")).isDefined)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> (kbBytes - 1).toString) {
        for ((t, plan) <- finalizedPlans(graft.sample.Samplers.finalizeSample(kb, drawn))) {
          assert(!plan.contains("Exchange"), s"$t: a fitting sample needs no exchange:\n$plan")
          assert(plan.contains("INSET") && !plan.contains("Join"), s"$t: IN-set filter form:\n$plan")
        }
      }
    } finally kb.unpersist()
  }
}
