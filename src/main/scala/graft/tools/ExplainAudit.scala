package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints formatted plans for the hot paths — pushdown / broadcast /
  * whole-stage-codegen audit (run via sbt "runMain graft.tools.ExplainAudit"). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def show(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      df.explain("formatted")
    }

    val kb = graft.sources.TpchKg.load(spark, dir)
    show("kg_triples")(kb.triples)
    show("ce_exists_nested")(graft.expr.Eval(kb,
      graft.expr.Exists("placedBy", graft.expr.Exists("inNation",
        graft.expr.HasValue("inRegion", "r:2")))))
    show("link_stage") {
      val pages = graft.pipeline.Pages.fromDir(spark, dir)
      val m = graft.pipeline.Mentions(graft.pipeline.Extract(pages)).toDF()
      graft.pipeline.Link(m, graft.pipeline.Pages.aliases(spark))
    }
    show("minhash")(graft.dedup.Dedup.minhash(
      graft.queries.TrainingDataQueries.corpus(spark, dir)))
    show("ann_topk")(graft.sim.Ann.bruteForceTopK(
      spark.read.parquet(s"$dir/embeddings.parquet"), 0L to 9L, 5))
    // walk setup (teleport index): must contain NO WindowExec without
    // partitioning — ranks come from the bucketed two-pass (Ranks)
    show("walk_teleport_index") {
      import org.apache.spark.sql.functions._
      val h = graft.core.Determinism.detHash(42L ^ 0x77, col("id"))
      graft.core.Ranks.rankByBucketedOrder(
        kb.nodes.select(col("id"), lit(0).as("tier")),
        col("tier") * 64 + graft.core.Ranks.signedRangeBucket(h, 6),
        Seq(h, col("id")), "trn")
    }
    // LP encode negative sampling: TakeOrderedAndProject, no global window
    show("lp_encode_negsample")(graft.lp.LearningProblem.encode(kb,
      graft.lp.Lp(pos = Seq("c:1", "c:2"), neg = Nil)).kbNeg)
    // dedup verify stage: pairs join arrays (no forced broadcast), codegen
    // signature-agreement prefilter
    show("dedup_verify")(graft.dedup.Dedup.minhashLsh(
      graft.queries.TrainingDataQueries.corpus(spark, dir), 0.8))
    // winnowing: doc-partitioned sliding window over the KGramHashes expr
    show("winnow")(graft.text.TextOps.winnow(
      spark.read.parquet(s"$dir/documents.parquet")))
    // banded embedding LSH near-dup
    show("emb_near_dup")(graft.sim.Ann.nearDupPairs(
      spark.read.parquet(s"$dir/embeddings.parquet"), 0.999))
    // prioritized walk step (r4 verdict #1): ranks are pre-joined into the
    // cached neighbor table ONCE per draw, so the per-step plan is a
    // broadcast-frontier BHJ into ONE cached scan — no rank table, no
    // `Exchange hashpartitioning(dst…)`, and exactly one InMemoryTableScan
    // may appear per step
    locally {
      import org.apache.spark.sql.functions._
      val ranks = graft.sample.PageRank.compute(kb, iterations = 2)
        .select(col("id").as("dst"), col("pr").as("w"))
      val nbrs = graft.sample.WalkSampler.neighborTable(kb, Some(ranks)).cache()
      nbrs.count()
      val f = spark.createDataset(Seq((0L, "c:1"), (1L, "s:2")))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING)).toDF("walker", "cur")
      val step = broadcast(f).join(nbrs, f("cur") === nbrs("src"))
        .select(col("walker"), col("src"), col("pred"), col("dst"), col("w"))
      println("\n========== walk_prioritized_step (asserted) ==========")
      step.explain("formatted")
      val plan = step.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        "per-step candidate join must broadcast the frontier into the neighbor cache")
      require(plan.linesIterator.count(_.contains("InMemoryTableScan")) == 1,
        "per-step candidate join must read exactly ONE cached table (edges+w)")
      require(!plan.linesIterator.exists(_.contains("Exchange hashpartitioning(dst")),
        "no per-step rank-table exchange may exist")
      nbrs.unpersist()
      println("walk_prioritized_step: OK (single cached scan, no per-step rank probe)")
    }
    // canonical-map join gate (r3 verdict #1): above the broadcast
    // threshold (forced here with a threshold of -1) the join must be a
    // salted shuffle-hash, never a forced broadcast
    locally {
      import org.apache.spark.sql.functions._
      val linked = spark.createDataset(Seq(
        ("u1", "entA_12", "bornIn", "city_1"), ("u2", "entB_12", "bornIn", "city_2")))(
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING))
        .toDF("url", "subj_id", "pred", "obj_id")
      val threshold = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.get(threshold)
      spark.conf.set(threshold, "-1")
      val plan = try {
        val gated = graft.pipeline.Canonicalize(linked, graft.pipeline.Pages.aliases(spark))
        println("\n========== canonicalize_salted_fallback (asserted) ==========")
        gated.explain("formatted")
        gated.queryExecution.executedPlan.toString
      } finally spark.conf.set(threshold, saved)
      require(plan.contains("ShuffledHashJoin"),
        "big-catalog canonical join must shuffle-hash")
      require(!plan.contains("BroadcastHashJoin"),
        "big-catalog canonical join must not broadcast the catalog")
      println("canonicalize_salted_fallback: OK (salted shuffle-hash)")
    }
    // search-tree batched candidate scoring: the tagged retrieval union
    // aggregates by cid; the LP-scale pos/neg sides must come in as
    // BroadcastHashJoin, never SMJ over the retrieval stream
    show("search_tree_batch_eval") {
      import org.apache.spark.sql.functions._
      val elp = graft.lp.LearningProblem.encode(kb,
        graft.lp.Lp(pos = Seq("c:1", "c:2"), neg = Seq("s:1")))
      val ces: Seq[graft.expr.ClassExpr] = Seq(
        graft.expr.Named("Customer"),
        graft.expr.Exists("inNation", graft.expr.HasValue("inRegion", "r:0")))
      ces.zipWithIndex.map { case (ce, i) =>
        graft.expr.Eval(kb, ce).select(lit(i).as("cid"), col("id"))
      }.reduce(_.union(_)).distinct()
        .join(broadcast(elp.kbPos.select(col("id"), lit(1L).as("p"))), Seq("id"), "left")
        .join(broadcast(elp.kbNeg.select(col("id"), lit(1L).as("n"))), Seq("id"), "left")
        .groupBy("cid")
        .agg(count(lit(1)).as("cnt"),
          sum(coalesce(col("p"), lit(0L))).as("tp"),
          sum(coalesce(col("n"), lit(0L))).as("fp"))
    }
    // SemDeDup: broadcast k-means assignment, cid-keyed shuffle-hash pair
    // stage, sort-free flag attachment
    show("semdedup")(graft.sim.Ann.semDedup(
      graft.queries.TrainingDataQueries.embCorpus(spark, dir), tau = 0.99))
    // PQ ADC: the code stream joins only broadcast lookup tables
    show("pq_adc") {
      import org.apache.spark.sql.functions._
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val books = graft.sim.Pq.codebooks(e)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q"), col("embedding").as("qe"))
      graft.sim.Pq.adcTopK(graft.sim.Pq.encodeWith(e, books), books, q, 5)
    }
    // BGP: constant atoms prune the union-all edge view to base-table scans
    show("bgp")(graft.core.Bgp.matchPattern(kb.edges, Seq(
      ("?o", "placedBy", "?c"), ("?c", "inNation", "?n"),
      ("?n", "inRegion", "r:2"), ("?o", "suppliedBy", "?s"),
      ("?s", "inNation", "?n"))))
    // property path: Pred leaves prune the union the same way; the
    // sequence is pure equi-joins on the chain variable
    show("path_alt") {
      import graft.core.PathExpr._
      graft.core.Paths.pairs(kb.edges,
        PSeq(Inv(Pred("contains")),
          PSeq(Alt(Pred("placedBy"), Pred("suppliedBy")),
            PSeq(Pred("inNation"), Pred("inRegion")))))
    }
    // characteristic sets / datatype inference: pure two-level (resp.
    // one-level) partial aggregates — no join anywhere
    show("char_sets")(graft.core.KgStats.characteristicSets(kb.edges))
    show("infer_schema")(graft.core.KgStats.inferDatatypes(kb.attrs))
    // grouped exact quantiles: ONE keyed exchange, both windows on the
    // same sort, the percent ladder inline (no per-quantile pass)
    show("quantiles")(graft.core.Profile.quantilesDisc(
      spark.read.parquet(s"$dir/documents.parquet"),
      "n_chars", Seq("lang"), Seq(25, 50, 75, 95), "doc_id"))
    // as-of join: union-tag window plan — ONE keyed exchange, ONE window,
    // zero join operators
    show("asof") {
      import org.apache.spark.sql.functions._
      val ev = spark.read.parquet(s"$dir/events.parquet")
      graft.streaming.Temporal.asofJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"),
        key = "user_id", ts = "ts", id = "event_id",
        carry = Seq("event_id" -> "view_id", "value" -> "view_value"))
    }
    // funnel: all K step windows + the collapse on ONE keyed exchange
    show("funnel")(graft.streaming.Temporal.funnel(
      spark.read.parquet(s"$dir/events.parquet"),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase")))
    // WL refinement round: two keyed joins + one partial bit_xor aggregate
    show("wl_colors")(graft.core.KgStats.wlColors(kb.edges, kb.types, 1))
    // heavy hitters pass 2: candidates broadcast back as a semi-join, the
    // corpus key stream never sort-merges or full-shuffles
    show("heavy_hitters")(graft.core.Frequency.heavyHitters(
      graft.text.Curation.wordNgramsAll(
        spark.read.parquet(s"$dir/documents.parquet"), 1), "gram", 40))
    // recrawl dedup: ONE partial max(struct) aggregate, no window, no join
    show("snapshot_latest")(graft.pipeline.Pages.latestSnapshots(
      graft.pipeline.Pages.fromDir(spark, dir)
        .select("url", "warc_ts", "text", "lang")))
    // web graph: page-level links are a pure map (no exchange at all);
    // the host quotient is ONE partial aggregate over them
    val links = graft.pipeline.LinkGraph.links(
      graft.pipeline.Pages.fromDir(spark, dir)).toDF()
    show("link_graph")(links)
    show("host_graph")(graft.pipeline.LinkGraph.hostGraph(links))
    // recrawl changeset: ONE union-tag partial aggregate — never two
    // EXCEPT anti-joins shuffling both inputs twice
    show("changeset") {
      import org.apache.spark.sql.functions._
      val t = kb.edges.select(col("src").as("subj"), col("pred"), col("dst").as("obj"))
      graft.pipeline.Materialize.changeset(t.filter(col("pred") =!= "inRegion"), t)
    }
    // sentence dedup: map-side explode, ONE exchange keyed by sentence
    show("sentence_dedup")(graft.text.Curation.sentenceDedup(
      spark.read.parquet(s"$dir/documents.parquet")))
    // N-Triples: render and parse are both shuffle-free map stages
    show("ntriples_roundtrip")(graft.sources.NTriples.triples(
      graft.sources.NTriples.parse(graft.sources.NTriples.render(kb))))
    // RDFS materialization: every TBox join must be a BroadcastHashJoin;
    // the ONLY exchange is the final set-semantics aggregate on (node, cls)
    show("entailed_types")(graft.core.Entailment.entailedTypes(kb))
    // SPARQL UNION: zero-shuffle unionAll of the two branch BGPs
    show("bgp_union")(graft.core.Bgp.matchUnion(kb.edges, Seq(
      Seq(("?o", "placedBy", "?c"), ("?c", "inNation", "?n")),
      Seq(("?o", "suppliedBy", "?sp"), ("?sp", "inNation", "?n")))))
    // SPARQL negation: ONE anti join keyed on the shared variable; the
    // inner BGP keeps its own join shape under it
    show("bgp_notexists")(graft.core.Bgp.matchNotExists(kb.edges,
      Seq(("?o", "placedBy", "?c")),
      Seq(("?o", "suppliedBy", "?s"), ("?s", "inNation", "n:3"))))
    // OWL-RL edge closure: broadcast axiom joins only; the single
    // exchange is the set-semantics distinct
    show("entailed_edges")(graft.core.Entailment.entailedEdges(kb.edges,
      subPropertyOf = Seq(("placedBy", "involves"), ("suppliedBy", "involves")),
      inverseOf = Seq(("contains", "partOf"))))
    spark.stop()
  }
}
