package graft.queries

import graft.core.Pin
import graft.sources.{TpchKg, TpchKgSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, expr, lit}

/** Core KG emission surface (SURVEY §2.1 S4-S7) as driver-checkable queries:
  * each entry has an exact DuckDB oracle over the same parquet tables. */
object KgQueries {

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "kg_nodes" -> ((s, d) => TpchKg.load(s, d).nodes),
    "kg_edges" -> ((s, d) => TpchKg.load(s, d).edges),
    "kg_attrs" -> ((s, d) => TpchKg.load(s, d).attrs),
    "kg_types" -> ((s, d) => TpchKg.load(s, d).types),
    "kg_abox_triples" -> ((s, d) => TpchKg.load(s, d).aboxTriples),
    "kg_tbox_triples" -> ((s, d) => TpchKg.load(s, d).tboxTriples),
    "kg_triples" -> ((s, d) => TpchKg.load(s, d).triples),
    // N-Triples interchange roundtrip: render the whole KB as spec-escaped
    // NT lines (typed literals for attrs, urn-based IRIs otherwise), parse
    // them back, project the triple surface — must hash-equal the direct
    // export, so any escaping/encoding asymmetry fails loudly
    "kg_ntriples" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.sources.NTriples.triples(
        graft.sources.NTriples.parse(graft.sources.NTriples.render(kb)))
    }),
    // BV-lite adjacency roundtrip: the whole edge table compressed to one
    // varint-gap binary cell per source (dense-id dictionary, sorted
    // neighbor gaps) and decoded back through the dictionary — one wrong
    // gap anywhere lands on the wrong node id and the hash breaks
    "kg_adjacency_codec" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val dict = Pin(graft.sources.AdjCodec.dictionary(kb.nodes)).df
      graft.sources.AdjCodec.decode(
        graft.sources.AdjCodec.encode(kb.edges, dict), dict)
    }),
    // degree distribution (the first plot of any web-graph writeup):
    // out- and in-degree histograms — two cascaded partial aggregates per
    // side, both map-side-combinable; no join, no sort
    "kg_degree_dist" -> ((s, d) => {
      val e = TpchKg.load(s, d).edges
      def side(key: String, name: String) =
        e.groupBy(col(key).as("node")).agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
          .select(lit(name).as("side"), col("deg"), col("n_nodes"))
      side("src", "out").unionAll(side("dst", "in"))
    }),
    // incremental codec maintenance: store 3 predicates' adjacency, fold
    // the other 2 in as an increment (touching order sources that already
    // hold placedBy cells — real re-encodes, not just appends), decode.
    // Cells are pure functions of the dst set, so the result must
    // hash-equal the full-edge-table oracle exactly
    "kg_adjacency_merge" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val dict = Pin(graft.sources.AdjCodec.dictionary(kb.nodes)).df
      val stored = graft.sources.AdjCodec.encode(
        kb.edges.filter(col("pred").isin("inNation", "inRegion", "placedBy")), dict)
      val merged = graft.sources.AdjCodec.mergeIncrement(stored,
        kb.edges.filter(col("pred").isin("contains", "suppliedBy")), dict)
      graft.sources.AdjCodec.decode(merged, dict)
    }),
    "kg_abox_expression" -> ((s, d) => TpchKg.load(s, d).aboxExpression),
    // graph-analytics metrics over the co-purchase projection (parts
    // sharing an order): exact distributed triangle counting with
    // degree-ordered orientation — the clustering-structure half of the
    // sampler-quality story (degrees: smp_rn_degdist)
    "kg_tri_counts" -> ((s, d) => graft.sample.GraphMetrics.triangleCounts(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"))),
    "kg_transitivity" -> ((s, d) => graft.sample.GraphMetrics.globalMetrics(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"))),
    // per-node Watts–Strogatz local clustering over the same projection —
    // integer deg/tri plus the one IEEE division, oracle-replayed exactly
    "kg_local_cc" -> ((s, d) => graft.sample.GraphMetrics.localClustering(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"))),
    // SCC over the DIRECTED kg edges: the graph is a DAG by construction,
    // so the correct decomposition is all singletons — the engine must
    // PROVE that through the full coloring/peel machinery (SccSpec carries
    // the cyclic ground-truth parity; this row pins the KG-shape answer)
    "kg_scc" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.sample.Scc.compute(kb.edges.select("src", "dst"), kb.nodes)
    }),
    // SCC over a derived permutation graph (i → (i+6) mod 48 on doc ids):
    // the cycle decomposition is arithmetically known — gcd(6,48) = 6
    // cycles, component label = max member in STRING order, recomputed by
    // the oracle as a grouped max over the residue classes
    "kg_scc_cycles" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val ids = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") < 48).select(col("doc_id"))
      val nodes = ids.select(col("doc_id").cast("string").as("id"))
      val edges = ids.select(col("doc_id").cast("string").as("src"),
        ((col("doc_id") + 6) % 48).cast("string").as("dst"))
      graft.sample.Scc.compute(edges, nodes)
    }),
    // Jones-Plassmann greedy coloring: color = the round a vertex wins
    // the priority-minimum among its uncolored neighbors — the
    // conflict-free parallel schedule. Gated on the BOUNDED-DEGREE
    // permutation graph (the kg_scc_cycles fixture, Δ=2): the JP round
    // count is the longest decreasing-priority path, O(log n) on
    // bounded degree but Θ(Δ)-ish on dense graphs — the co-purchase
    // projection (deg ≈ 90) needs >96 waves, which is the documented
    // reason schedules are built on CONFLICT graphs, not dense
    // projections. Every round replayed by the oracle (same md5
    // priorities as kg_mis)
    "kg_coloring" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val ids = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") < 48).select(col("doc_id"))
      val fn = org.apache.spark.sql.functions
      val e = ids.select(col("doc_id").cast("string").as("a"),
          ((col("doc_id") + 6) % 48).cast("string").as("b"))
        .select(fn.least(col("a"), col("b")).as("u"),
          fn.greatest(col("a"), col("b")).as("v"))
      graft.sample.GraphMetrics.greedyColoring(e)
    }),
    // Borůvka minimum spanning forest over the permutation-cycle fixture
    // with data-keyed md5 weights: the MSF of each 8-cycle is
    // arithmetically known (all edges minus the (w,u,v)-max one), so the
    // oracle pins every pick of the parallel rounds; Kruskal parity on
    // random graphs lives in BoruvkaSpec
    "kg_msf" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val ids = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") < 48).select(col("doc_id"))
      val e = ids.select(col("doc_id").cast("string").as("a"),
          ((col("doc_id") + 6) % 48).cast("string").as("b"))
        .select(fn.least(col("a"), col("b")).as("u"),
          fn.greatest(col("a"), col("b")).as("v"))
        .withColumn("w", fn.pmod(graft.core.Determinism.md5Int(
          fn.concat(col("u"), fn.lit("|"), col("v"))), fn.lit(1000L)))
      graft.sample.Boruvka.minimumSpanningForest(e)
    }),
    // truncated Katz prestige at K=4, β=1/2 over the directed KG —
    // walk counts scaled by 2^K so the whole ranking is exact-integer
    // (no eigen solve, no libm); full oracle
    "kg_katz" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.sample.Betweenness.katzScaled(kb.edges.select("src", "dst"), kb.nodes)
    }),
    // SCC-condensation topological layers over the full directed KG:
    // longest-path Bellman-Ford on the condensation (a DAG by
    // construction — here the KG itself, so scc = id and the known
    // strata are order/part/customer…/nation/region at depths 0-3);
    // exact-integer layers, fixed-unroll oracle
    "kg_dag_layers" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.sample.Scc.dagLayers(kb.edges.select("src", "dst"), kb.nodes)
    }),
    // synchronous label propagation (4 rounds) over the same projection —
    // community structure, the third sampler-quality axis; every round
    // replayed by the oracle
    "kg_label_prop" -> ((s, d) => graft.sample.LabelProp.run(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"),
      rounds = 4)),
    // synchronous Louvain local-move rounds (2) over the same projection —
    // modularity-OPTIMIZING community detection next to label prop's
    // frequency rule; every exact-integer gain comparison replayed by the
    // oracle round for round
    "kg_louvain" -> ((s, d) => graft.sample.Louvain.run(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"),
      rounds = 2)),
    // WEIGHTED Louvain over the co-purchase support weights (how OFTEN
    // parts co-occur, not merely whether) — Σw in every role of the
    // exact-integer score, replayed round for round
    "kg_louvain_w" -> ((s, d) => graft.sample.Louvain.runWeighted(
      graft.sample.GraphMetrics.frequentPairs(
        TpchKg.load(s, d).edges, "contains", minSupport = 2L)
        .withColumnRenamed("support", "w"),
      rounds = 2)),
    // greedy densest subgraph by parallel peeling (Bahmani et al.
    // VLDB'12, ε=1): every peel decision (deg·n ≤ 4e) and the best-round
    // argmax (cross-multiplied density compare) is exact-integer and
    // replayed round for round by the oracle. The co-purchase projection
    // alone is near-regular (deg ≈ 2·avg everywhere → one trivial peel
    // round), so a K-clique is PLANTED over the first 200 parts — the
    // link-farm shape — and the gate proves the peel isolates exactly it
    "kg_densest" -> ((s, d) => {
      val und = graft.sample.GraphMetrics.cooccurrence(
        TpchKg.load(s, d).edges, "contains")
      val ids = TpchKg.load(s, d).edges.filter(col("pred") === "contains")
        .select(col("dst").as("id")).distinct()
        .filter(expr("CAST(substr(id, 3) AS BIGINT) < 200"))
      val clique = ids.select(col("id").as("u"))
        .crossJoin(ids.select(col("id").as("v")))
        .filter(col("u") < col("v"))
      graft.sample.Densest.densestSubgraph(und.unionAll(clique).distinct())
    }),
    // degree assortativity as exact integer moments (Newman PRL'02); the
    // float Pearson division/sqrt is strictly downstream
    "kg_assortativity" -> ((s, d) => graft.sample.GraphMetrics.degreeMomentRow(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"))),
    // 80-core of the projection — k chosen so the peel genuinely cascades
    // (6 rounds at sf0.01 AND sf0.1) while a non-trivial core survives
    // (1857/2000 nodes at sf0.01); the oracle unrolls the idempotent
    // rounds with 2x margin
    "kg_kcore" -> ((s, d) => graft.sample.GraphMetrics.kCore(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"),
      k = 80)),
    // 6-truss of the projection — the edge-strength companion of kg_kcore
    // (recorded: 6 peel rounds at sf0.01 / 7 at sf0.1 with non-trivial
    // survivors, 114170 of 115729 edges at sf0.01); the oracle replays
    // each round's triangle enumeration + support filter, unrolled with
    // margin over the measured depth
    "kg_ktruss" -> ((s, d) => graft.sample.GraphMetrics.kTruss(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"),
      k = 6)),
    // connected components of the projection — the oracle replays the
    // alternating-star rounds (idempotent at fixpoint, so a fixed 8-round
    // unroll equals the converged output); the engine solves on the driver
    // when the pinned edge set fits the broadcast envelope and by those
    // star rounds above it, both picking the same minimum id (CcSpec)
    "kg_components" -> ((s, d) => graft.pipeline.ConnectedComponents.run(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains")
        .withColumnRenamed("u", "src").withColumnRenamed("v", "dst"))),
    // exact neighborhood function |B(v, r)| for r = 1..2 over the
    // BIPARTITE contains graph (sparser than the projection — the reach
    // set stays linear-ish at gate scale); the HLL scale path (hyperBall)
    // is spec-gated against this exact form
    "kg_reach" -> ((s, d) => graft.sample.GraphMetrics.neighborhoodExact(
      graft.sample.GraphMetrics.undirected(TpchKg.load(s, d).edges, "contains"),
      maxR = 2)),
    // harmonic centrality over the same bipartite graph, radius 2, exact
    // integer micro-units ×lcm(1,2)=2 (ring weights 1, 1 — the telescoped
    // (n_r − n_{r−1})·L/r); the float H is strictly downstream
    "kg_harmonic" -> ((s, d) => graft.sample.GraphMetrics.harmonicCentrality(
      graft.sample.GraphMetrics.undirected(TpchKg.load(s, d).edges, "contains"),
      maxR = 2)),
    // link-prediction candidate features over the same bipartite graph:
    // common-neighbor count + Resource-Allocation index in exact integer
    // micro-units (Zhou-Lü-Zhang EPJ B'09), hub-capped wedges
    "kg_linkpred" -> ((s, d) => graft.sample.GraphMetrics.linkPredFeatures(
      graft.sample.GraphMetrics.undirected(TpchKg.load(s, d).edges, "contains"),
      maxZDeg = 32, minSupport = 2)),
    // k-source σ-BFS (the exact-integer forward pass of Brandes
    // betweenness): every ~997th order seeds a 4-round truncated BFS
    // over the bipartite contains graph, counting shortest paths; the
    // float dependency accumulation is spec-pinned downstream
    "kg_spcounts" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      // the contains projection (a lineitem-scale distinct) feeds BOTH the
      // seed derivation and the undirected edge set — materialize it once
      // (r6; the two-consumer rule). undirected() over it is unchanged:
      // the pred filter is a no-op on the pre-filtered rows.
      val contains = Pin(kb.edges.filter(col("pred") === "contains")).df
      val seeds = contains
        .select(col("src").as("id")).distinct()
        .filter(expr("CAST(substr(id, 3) AS BIGINT) % 997 = 0"))
      graft.sample.Betweenness.spCounts(
        graft.sample.GraphMetrics.undirected(contains, "contains"), seeds, 4)
    }),
    // per-order butterfly counts (2×2 bicliques — the bipartite motif)
    // over the DIRECTED contains edges: orders credited, parts pivot,
    // pivot degree capped at 64 (the oracle mirrors the cap)
    "kg_butterflies" -> ((s, d) => graft.sample.GraphMetrics.butterflies(
      TpchKg.load(s, d).edges.filter(col("pred") === "contains")
        .select(col("src").as("u"), col("dst").as("v")),
      maxPivotDeg = 64)),
    // BGP conjunctive query with a repeated join variable (?n appears in
    // two atoms — the co-nationality constraint): orders in region r:2
    // whose customer shares a nation with one of the order's suppliers
    "kg_bgp" -> ((s, d) => graft.core.Bgp.matchPattern(TpchKg.load(s, d).edges, Seq(
      ("?o", "placedBy", "?c"),
      ("?c", "inNation", "?n"),
      ("?n", "inRegion", "r:2"),
      ("?o", "suppliedBy", "?s"),
      ("?s", "inNation", "?n")))),
    // cost-based BGP planning: the SAME pattern written adversarially —
    // hub atoms first, the selective constant atom (?n inRegion r:2,
    // 25 rows / avg fan-in 5) dead last; matchPatternOptimized must
    // reorder it selective-first and return the identical bag + column
    // order (the kg_bgp oracle applies verbatim)
    "kg_bgp_ordered" -> ((s, d) => {
      val e = TpchKg.load(s, d).edges
      graft.core.Bgp.matchPatternOptimized(e, Seq(
        ("?o", "suppliedBy", "?s"),
        ("?o", "placedBy", "?c"),
        ("?s", "inNation", "?n"),
        ("?c", "inNation", "?n"),
        ("?n", "inRegion", "r:2"))).select(
        org.apache.spark.sql.functions.col("o"), col("c"), col("n"), col("s"))
    }),
    // SPARQL OPTIONAL (well-designed, Pérez et al. TODS'09): customers
    // with their nation, optionally an order — TPC-H leaves ~1/3 of
    // customers orderless, so the NULL-preserving left join is
    // load-bearing, and multi-order customers keep bag multiplicity
    "kg_bgp_optional" -> ((s, d) => graft.core.Bgp.matchOptional(
      TpchKg.load(s, d).edges,
      required = Seq(("?c", "inNation", "?n")),
      optional = Seq(("?o", "placedBy", "?c")))),
    // SPARQL UNION with branch-local variables: order→nation via the
    // customer branch OR the supplier branch — ?c is unbound (NULL) in
    // the second branch and ?sp in the first (SPARQL 1.1 §18.5: solution
    // domains need not agree); per-branch bag multiplicity preserved
    "kg_bgp_union" -> ((s, d) => graft.core.Bgp.matchUnion(
      TpchKg.load(s, d).edges, Seq(
        Seq(("?o", "placedBy", "?c"), ("?c", "inNation", "?n")),
        Seq(("?o", "suppliedBy", "?sp"), ("?sp", "inNation", "?n"))))),
    // SPARQL MINUS: customers-with-nation minus customers who placed an
    // order — the NULL-free complement of kg_bgp_optional's unmatched
    // rows; one anti equi-join on the shared ?c
    "kg_bgp_minus" -> ((s, d) => graft.core.Bgp.matchMinus(
      TpchKg.load(s, d).edges,
      left = Seq(("?c", "inNation", "?n")),
      right = Seq(("?o", "placedBy", "?c")))),
    // SPARQL FILTER NOT EXISTS with a two-atom inner pattern: orders with
    // no supplier from nation n:3 (the inner BGP keeps its own join shape
    // under the anti join); the no-shared-variable asymmetry vs MINUS is
    // spec-gated in BgpSpec
    "kg_bgp_notexists" -> ((s, d) => graft.core.Bgp.matchNotExists(
      TpchKg.load(s, d).edges,
      left = Seq(("?o", "placedBy", "?c")),
      inner = Seq(("?o", "suppliedBy", "?s"), ("?s", "inNation", "n:3")))),
    // SPARQL aggregation: orders and distinct customers per nation with a
    // HAVING floor — bag semantics feed the counts, one keyed aggregate
    "kg_bgp_agg" -> ((s, d) => graft.core.Bgp.aggregatePattern(
      TpchKg.load(s, d).edges,
      atoms = Seq(("?o", "placedBy", "?c"), ("?c", "inNation", "?n")),
      groupVars = Seq("n"),
      aggs = Seq(count(lit(1)).as("orders"),
        countDistinct(col("c")).as("custs")),
      having = Some(col("orders") >= 100))),
    // SPARQL GROUP_CONCAT (§18.5.1.7): order-normalized so the rendered
    // list is deterministic across partitionings — collect_list + sort
    // (the SPARQL separator form), byte-comparable to DuckDB's ordered
    // string_agg
    "kg_bgp_groupconcat" -> ((s, d) => graft.core.Bgp.aggregatePattern(
      TpchKg.load(s, d).edges,
      atoms = Seq(("?n", "inRegion", "?r")),
      groupVars = Seq("r"),
      aggs = Seq(
        org.apache.spark.sql.functions.concat_ws("|",
          org.apache.spark.sql.functions.sort_array(
            org.apache.spark.sql.functions.collect_list(col("n")))).as("nations"),
        count(lit(1)).as("n_nations")))),
    // SPARQL CONSTRUCT: one shared WHERE subtree instantiates a 2-triple
    // template (set semantics — the result is a graph, duplicates collapse)
    "kg_bgp_construct" -> ((s, d) => graft.core.Bgp.construct(
      TpchKg.load(s, d).edges,
      where = Seq(("?o", "placedBy", "?c"), ("?o", "suppliedBy", "?s")),
      template = Seq(("?o", "involves", "?c"), ("?o", "involves", "?s")))),
    // SPARQL FILTER EXISTS — the positive dual on the same patterns as
    // kg_bgp_notexists (the two gates partition the placedBy rows; the
    // semi join must ignore inner multiplicity, which this pins)
    "kg_bgp_exists" -> ((s, d) => graft.core.Bgp.matchExists(
      TpchKg.load(s, d).edges,
      left = Seq(("?o", "placedBy", "?c")),
      inner = Seq(("?o", "suppliedBy", "?s"), ("?s", "inNation", "n:3")))),
    // RDFS materialization (ρDF core): asserted types ∪ domain/range
    // derivations ∪ the subClassOf closure, in ter Horst's one-pass
    // stratification — broadcast joins only, one distinct exchange
    "kg_entailed_types" -> ((s, d) =>
      graft.core.Entailment.entailedTypes(TpchKg.load(s, d))),
    // DOULION sampled triangle moments at keep ≈ 1/4 (threshold hex
    // 400000000000 over the 48-bit md5 draw — replayed verbatim by the
    // oracle): the approximate scale path next to kg_tri_counts' exact one
    "kg_tri_sampled" -> ((s, d) => graft.sample.GraphMetrics.sampledTriangleMoments(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"),
      keepBelowHex = "400000000000")),
    // Luby maximal independent set on the projection (recorded: 7 rounds
    // at sf0.01 AND sf0.1; oracle unrolls 12 — empty rounds past the
    // fixpoint are no-ops, a deeper engine run mismatches loudly)
    "kg_mis" -> ((s, d) => graft.sample.GraphMetrics.maximalIndependentSet(
      graft.sample.GraphMetrics.cooccurrence(TpchKg.load(s, d).edges, "contains"))),
    // OWL-RL property closure of the edge table (prp-inv1/2 + prp-spo1;
    // prp-symp unit-gated): contains gains its inverse partOf, and
    // placedBy/suppliedBy roll up to their common superproperty involves
    // — unions of one scan with broadcast axiom tables + one distinct
    "kg_entailed_edges" -> ((s, d) => graft.core.Entailment.entailedEdges(
      TpchKg.load(s, d).edges,
      subPropertyOf = Seq(("placedBy", "involves"), ("suppliedBy", "involves")),
      inverseOf = Seq(("contains", "partOf")))),
    // Newman modularity of the 4-round label-prop partition over the
    // co-purchase projection, as exact integer moments
    // (Q = intra/m − sum_comm_deg_sq/(4m²) strictly downstream)
    "kg_modularity" -> ((s, d) => {
      val und = graft.sample.GraphMetrics.cooccurrence(
        TpchKg.load(s, d).edges, "contains")
      graft.sample.GraphMetrics.modularityMoments(
        und, graft.sample.LabelProp.run(und, rounds = 4))
    }),
    // property path with every closure-free operator load-bearing:
    // ^contains (inverse) / (placedBy|suppliedBy) (alternation) /
    // inNation / inRegion (sequence) — part ↦ region of everyone touching
    // an order that contains it, BAG semantics (duplicates retained)
    "kg_path_alt" -> ((s, d) => {
      import graft.core.PathExpr._
      graft.core.Paths.pairs(TpchKg.load(s, d).edges,
        PSeq(Inv(Pred("contains")),
          PSeq(Alt(Pred("placedBy"), Pred("suppliedBy")),
            PSeq(Pred("inNation"), Pred("inRegion")))))
    }),
    // transitive closure (SPARQL `e+`, bound subject): co-purchase
    // reachability from part p:1 with BFS first-reach level — semi-naive
    // rounds, oracle unrolls the idempotent rounds with 2x margin
    "kg_path_closure" -> ((s, d) => {
      import graft.core.PathExpr._
      graft.core.Paths.closureFrom(TpchKg.load(s, d).edges,
        PSeq(Inv(Pred("contains")), Pred("contains")), Seq("p:1"))
    }),
    // `e*` (ZeroOrMorePath): the same co-purchase closure with the seed
    // reachable at dist 0 by the zero-length path — p:1 is ALSO re-reached
    // through its own 2-hop cycle, so MIN(0, cycle dist) = 0 is binding
    "kg_path_star" -> ((s, d) => {
      import graft.core.PathExpr._
      graft.core.Paths.closureFrom(TpchKg.load(s, d).edges,
        PSeq(Inv(Pred("contains")), Pred("contains")), Seq("p:1"),
        includeZero = true)
    }),
    // characteristic-set cardinality estimation (Neumann-Moerkotte
    // ICDE'11) for the contains⋈suppliedBy star: exact subject count,
    // independence-assumption estimate in micro-rows, and the true
    // cardinality — the predicates covary (both count lineitems), so
    // actual > estimate and all three numbers are binding arithmetic
    "kg_card_estimate" -> ((s, d) => graft.core.KgStats.estimateStarCardinality(
      TpchKg.load(s, d).edges, "contains", "suppliedBy")),
    // SPARQL DESCRIBE (symmetric CBD — no blank nodes in this model):
    // rdf:type + data properties + outgoing AND incoming object properties
    // of a two-resource set, distinct per RDF graph semantics
    "kg_describe" -> ((s, d) => TpchKg.load(s, d).describe(Seq("c:1", "p:1"))),
    // property paths INSIDE a BGP (SPARQL 1.1 §9): orders containing part
    // p:1 joined with the 3-hop path to their customer's region — the
    // path atom folds into the same equi-join chain as plain atoms, bag
    // semantics end to end
    "kg_bgp_path" -> ((s, d) => {
      import graft.core.PathExpr._
      graft.core.Bgp.matchPathPattern(TpchKg.load(s, d).edges, Seq(
        ("?o", Pred("contains"), "p:1"),
        ("?o", PSeq(Pred("placedBy"), PSeq(Pred("inNation"), Pred("inRegion"))), "?r")))
    }),
    // `e?` (ZeroOrOnePath): identity over the ACTIVE DOMAIN (every term of
    // the edge table) ∪ one inRegion hop, DISTINCT per spec — the identity
    // rows are the load-bearing part (a pairs-only evaluation misses every
    // non-nation term)
    "kg_path_zeroorone" -> ((s, d) => {
      import graft.core.PathExpr._
      graft.core.Paths.pairs(TpchKg.load(s, d).edges, ZeroOrOne(Pred("inRegion")))
    }),
    // negated property set `!(contains)` composed in a sequence: part ↦
    // its orders (inverse hop) ↦ every NON-contains neighbor (placedBy and
    // suppliedBy edges survive the negation), bag semantics
    "kg_path_negset" -> ((s, d) => {
      import graft.core.PathExpr._
      graft.core.Paths.pairs(TpchKg.load(s, d).edges,
        PSeq(Inv(Pred("contains")), NegSet(Seq("contains"))))
    }),
    // frequent co-purchase pairs (the market-basket length-2 miner):
    // baskets capped before the quadratic fan-out, support threshold at
    // the aggregate — all orders are under the cap here, so the cap is
    // exercised-but-silent (GraphMetricsSpec makes it load-bearing)
    "kg_freq_pairs" -> ((s, d) => graft.sample.GraphMetrics.frequentPairs(
      TpchKg.load(s, d).edges, "contains", minSupport = 2L)),
    // characteristic sets (Neumann-Moerkotte): subjects partitioned by
    // their exact predicate set, with subject and edge counts per set —
    // the star-join cardinality statistic
    "kg_char_sets" -> ((s, d) => graft.core.KgStats.characteristicSets(
      TpchKg.load(s, d).edges)),
    // entity summarization (RELIN/LinkSUM family): top-3 rarity-ranked
    // facts per subject — rare predicates and rare objects first, exact
    // integer scores, (pred, dst) tiebreak
    "kg_entity_summary" -> ((s, d) => graft.core.KgStats.entitySummaries(
      TpchKg.load(s, d).edges, k = 3)),
    // schema graph: class-level quotient with edge counts — the
    // KG-construction QA surface for mis-linked predicates
    "kg_schema_graph" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.core.KgStats.schemaGraph(kb.edges, kb.types)
    }),
    // 2-round Weisfeiler-Leman color refinement: structural node
    // signatures (class set + direction-tagged neighborhood digests) —
    // the isomorphism heuristic entity canonicalization blocks on
    "kg_wl_colors" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.core.KgStats.wlColors(kb.edges, kb.types, rounds = 2)
    }),
    // WL quotient graph: the round-2 colors collapsed to a summary graph
    // (edge counts + member counts per color class) — the bisimulation
    // summary; finer than kg_schema_graph exactly where neighborhood
    // structure splits a class
    "kg_wl_quotient" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.core.KgStats.wlQuotient(kb.edges, kb.types, rounds = 2)
    }),
    // sorted-neighborhood name matching (Hernández-Stolfo merge/purge):
    // candidate duplicate surface forms = rank-adjacent names within
    // edit distance 2, O(n·w) candidates by construction
    "kg_name_match" -> ((s, d) => graft.pipeline.Canonicalize.sortedNeighborPairs(
      TpchKg.load(s, d).attrs.filter(org.apache.spark.sql.functions.col("prop") === "name"),
      idCol = "node", nameCol = "lexical", window = 3, maxDist = 2)),
    // OWL-RL equality (eq-sym/trans/rep) materialized as representative
    // REWRITE — never sameAs-pair explosion: name-match pairs (the sameAs
    // evidence) collapse via connected components (eq-sym + eq-trans ARE
    // cc), every triple endpoint rewrites to its clique minimum (eq-rep),
    // distinct. Binding hard at sf0.01: 10,390 pairs / 82 cliques fold
    // 243,740 triples to 186,327 — the oracle replays cc as a 10-round
    // alternating-star unroll plus the same two left-join rewrites
    "kg_sameas_rewrite" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      val pairs = graft.pipeline.Canonicalize.sortedNeighborPairs(
          kb.attrs.filter(org.apache.spark.sql.functions.col("prop") === "name"),
          idCol = "node", nameCol = "lexical", window = 3, maxDist = 2)
        .select(col("u").as("src"), col("v").as("dst"))
      val comp = graft.pipeline.ConnectedComponents.run(pairs)
      graft.core.Entailment.sameAsRewrite(kb.triples,
        comp.select(col("id"), col("component").as("rep")))
    }),
    // INCREMENTAL connected components (the daily-crawl alias-map refresh):
    // the name-match pair graph is split deterministically ~15/16 "old" /
    // 1/16 "new" by an md5 bit of the pair; the engine solves the old
    // slice, folds the new slice in via the contraction increment, and the
    // oracle solves the FULL pair set from scratch — set equality IS the
    // increment's correctness statement (merged minima recovered exactly)
    "kg_cc_increment" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val kb = TpchKg.load(s, d)
      val pairs = graft.pipeline.Canonicalize.sortedNeighborPairs(
          kb.attrs.filter(fn.col("prop") === "name"),
          idCol = "node", nameCol = "lexical", window = 3, maxDist = 2)
        .select(col("u").as("src"), col("v").as("dst"))
      val isNew = fn.substring(fn.md5(
        fn.concat(col("src"), fn.lit("|"), col("dst"))), 1, 1) === "0"
      val base = graft.pipeline.ConnectedComponents.run(pairs.filter(!isNew))
      graft.pipeline.ConnectedComponents.increment(base, pairs.filter(isNew))
    }),
    // lexical datatype inference over attrs — schema discovery recovers
    // the declared tags (urgent→boolean, psize→long, prices→double,
    // orderdate→date, mixed/textual props degrade to string)
    "kg_infer_schema" -> ((s, d) => graft.core.KgStats.inferDatatypes(
      TpchKg.load(s, d).attrs)),
    // AMIE chain-rule mining over the KG ∪ a planted composition
    // (orderNation := suppliedBy∘inNation): mining must REDISCOVER the
    // plant at confidence exactly 1, and score the non-trivial
    // (placedBy, inNation ⇒ orderNation) rule — "the customer's nation is
    // one of the order's supplier nations" — with exact-integer
    // support/PCA arithmetic
    "kg_rule_mine" -> ((s, d) => {
      val e = TpchKg.load(s, d).edges
      graft.core.Rules.mineChains(
        e.unionAll(graft.core.Rules.compose(e, "suppliedBy", "inNation", "orderNation")))
    }),
    // rule-based completion: the perfect (pca = 10^6) rules mined on the
    // ENRICHED graph applied back to the BASE graph — the planted
    // suppliedBy∧inNation ⇒ orderNation rule re-derives every composite
    // pair as a prediction (none exist in the base KG), known facts drop
    // via the anti-join, each prediction carries its best confidence
    "kg_rule_apply" -> ((s, d) => {
      val e = TpchKg.load(s, d).edges
      val rules = graft.core.Rules.mineChains(
        e.unionAll(graft.core.Rules.compose(e, "suppliedBy", "inNation", "orderNation")))
      graft.core.Rules.applyChains(e, rules, minPcaConfMicro = 1000000L)
    }),
    // PARIS relation alignment (schema-level fusion): three plants make
    // every output shape load-bearing — inRegion2 (exact duplicate → fwd
    // conf 1 both ways), containedBy (swap of contains → INV alignment),
    // primeOrders (even-orderkey half of placedBy → fwd conf 1 one way,
    // ~0.5 the other, while PCA stays 1 on both: the CWA/PCA gap is the
    // whole point of the partial-completeness denominator)
    "kg_rel_align" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val e = TpchKg.load(s, d).edges
      val planted = e
        .unionAll(e.filter(col("pred") === "inRegion")
          .select(col("src"), fn.lit("inRegion2").as("pred"), col("dst")))
        .unionAll(e.filter(col("pred") === "contains")
          .select(col("dst").as("src"), fn.lit("containedBy").as("pred"),
            col("src").as("dst")))
        .unionAll(e.filter(col("pred") === "placedBy" &&
            fn.substring(col("src"), -1, 1).cast("int") % 2 === 0)
          .select(col("src"), fn.lit("primeOrders").as("pred"), col("dst")))
      graft.core.Rules.alignRelations(planted)
    }),
    // OWL-RL prp-fp / prp-ifp — the equality GENERATOR: planted duplicate
    // entities violate the functional placedBy (orders ending in 3 also
    // assert a dup_ customer) and the planted inverse-functional hasKey
    // (customers ≡ 0 mod 7 share their key with an alt_ variant); the rule
    // must emit exactly those canonical sameAs pairs — the input the CC →
    // sameAsRewrite loop then consumes
    "kg_prp_fp" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val e = TpchKg.load(s, d).edges
      val dupPlaced = e.filter(col("pred") === "placedBy" &&
          fn.substring(col("src"), -1, 1) === "3")
        .select(col("src"), col("pred"), fn.concat(fn.lit("dup_"), col("dst")).as("dst"))
      val custs = e.filter(col("pred") === "inNation" &&
          col("src").startsWith("c:"))
        .select(col("src"),
          fn.regexp_extract(col("src"), "(\\d+)$", 1).cast("long").as("k"))
      val keys1 = custs.select(col("src"), fn.lit("hasKey").as("pred"),
        fn.concat(fn.lit("key_"), col("k")).as("dst"))
      val keys2 = custs.filter(col("k") % 7 === 0)
        .select(fn.concat(fn.lit("alt_"), col("src")).as("src"),
          fn.lit("hasKey").as("pred"), fn.concat(fn.lit("key_"), col("k")).as("dst"))
      graft.core.Entailment.functionalSameAs(
        e.unionAll(dupPlaced).unionAll(keys1).unionAll(keys2),
        functional = Seq("placedBy"), inverseFunctional = Seq("hasKey"))
    }),
    // the FULL OWL-RL equality loop in one gate: functional-key violations
    // generate sameAs evidence (prp-fp/ifp), CC folds it to representative
    // cliques (eq-sym/trans), the rewrite applies it to the real KG
    // (eq-rep). Closed form: every clique's minimum is alt_c:k when
    // k ≡ 0 mod 7, so the net effect on the base triples is exactly
    // c:k → alt_c:k for those customers — arithmetic, no unroll needed
    "kg_equality_loop" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val kb = TpchKg.load(s, d)
      val e = kb.edges
      val dupPlaced = e.filter(col("pred") === "placedBy" &&
          fn.substring(col("src"), -1, 1) === "3")
        .select(col("src"), col("pred"), fn.concat(fn.lit("dup_"), col("dst")).as("dst"))
      val custs = e.filter(col("pred") === "inNation" &&
          col("src").startsWith("c:"))
        .select(col("src"),
          fn.regexp_extract(col("src"), "(\\d+)$", 1).cast("long").as("k"))
      val keys1 = custs.select(col("src"), fn.lit("hasKey").as("pred"),
        fn.concat(fn.lit("key_"), col("k")).as("dst"))
      val keys2 = custs.filter(col("k") % 7 === 0)
        .select(fn.concat(fn.lit("alt_"), col("src")).as("src"),
          fn.lit("hasKey").as("pred"), fn.concat(fn.lit("key_"), col("k")).as("dst"))
      val pairs = graft.core.Entailment.functionalSameAs(
        e.unionAll(dupPlaced).unionAll(keys1).unionAll(keys2),
        functional = Seq("placedBy"), inverseFunctional = Seq("hasKey"))
      val rep = graft.pipeline.ConnectedComponents.run(pairs)
        .select(col("id"), col("component").as("rep"))
      graft.core.Entailment.sameAsRewrite(kb.triples, rep)
    }),
    // OWL-RL prp-spo2 — property-chain entailment: a 2-chain
    // (placedBy∘inNation ⊑ orderNation) and a 3-chain
    // (placedBy∘inNation∘inRegion ⊑ orderRegion) both bind at every sf;
    // output is exactly the derived edges, so a chain folding one join too
    // few or too many changes the row set loudly
    "kg_prop_chain" -> ((s, d) => graft.core.Entailment.propertyChain(
      TpchKg.load(s, d).edges,
      chains = Seq(
        Seq("placedBy", "inNation") -> "orderNation",
        Seq("placedBy", "inNation", "inRegion") -> "orderRegion"))),
    // weighted multi-source shortest paths (Bellman-Ford frontier
    // relaxation): seeds = every ~97th order, edge weight =
    // length(src)+length(dst) (portable, varies 4..12, so competing
    // o→c→n vs o→s→n routes into the same nation make the MIN binding);
    // oracle = 6-round unroll of the same relax step — idempotent at the
    // fixpoint (hop diameter from orders is 3), so a deeper engine run
    // hash-mismatches loudly instead of passing
    "kg_sssp" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val kb = TpchKg.load(s, d)
      val weighted = kb.edges.withColumn("weight",
        fn.length(col("src")) + fn.length(col("dst")))
      val seeds = kb.nodes
        .filter(col("id").startsWith("o:") &&
          fn.regexp_extract(col("id"), "(\\d+)$", 1).cast("long") % 97 === 0)
        .collect().map(_.getString(0)).toSeq.sorted
      graft.core.Paths.weightedSssp(weighted, seeds)
    }),
    // OWL-RL prp-key — owl:hasKey(Part, (brand, psize)): parts agreeing on
    // the full composite key are entailed sameAs; groups of every size ≥2
    // exist at all sf (same fixture fact kg_key_collisions binds on), so
    // the g²/2 pair fan-out and the u < v orientation are both load-bearing
    "kg_haskey" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.core.Entailment.hasKeySameAs(kb.types, kb.attrs, "Part",
        Seq("brand", "psize"))
    }),
    // OWL-RL falsity rules — the inconsistency report. Violations are
    // planted in-query (the kg_class_align pattern) so all four rules
    // BIND: even-keyed parts double-typed 'Component' under
    // Disjoint(Part, Component); reversed inRegion edges into even
    // regions (prp-asyp mutual pairs); placedBy self-loops on every
    // ~97th order (prp-irp); suppliedBy copies of every ~101st-part
    // contains edge (prp-pdw). Disjoint(Customer, Supplier) rides along
    // clean — its zero rows are the negative evidence
    "kg_inconsistencies" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      def key(c: String) = expr(s"CAST(substr($c, 3) AS BIGINT)")
      val types = kb.types.unionAll(
        kb.types.filter(col("cls") === "Part" && key("node") % 2 === 0)
          .select(col("node"), lit("Component").as("cls")))
      val edges = kb.edges
        .unionAll(kb.edges
          .filter(col("pred") === "inRegion" && key("dst") % 2 === 0)
          .select(col("dst").as("src"), col("pred"), col("src").as("dst")))
        .unionAll(kb.edges
          .filter(col("pred") === "placedBy" && key("src") % 97 === 0)
          .select(col("src"), col("pred"), col("src").as("dst")))
        .unionAll(kb.edges
          .filter(col("pred") === "contains" && key("dst") % 101 === 0)
          .select(col("src"), lit("suppliedBy").as("pred"), col("dst")))
      graft.core.Entailment.inconsistencies(types, edges,
        graft.core.Entailment.ConsistencyAxioms(
          disjointClasses = Seq("Part" -> "Component", "Customer" -> "Supplier"),
          disjointProps = Seq("contains" -> "suppliedBy"),
          asymmetric = Seq("inRegion"),
          irreflexive = Seq("placedBy")))
    }),
    // rdf:List flattening: order→parts collections planted in-query (the
    // cons encoding — per-order cells 'L<order>:<i>' chained by ascending
    // part key, nil-terminated), recovered to (head, idx, member) by
    // Wyllie pointer doubling (RdfLists.flatten). The oracle knows every
    // position by CONSTRUCTION (idx = the planting rank), so the gate
    // proves the log-round doubling reconstructs all of them exactly —
    // list lengths vary 1..7 per order and the list count scales with sf
    "kg_rdf_lists" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      val seq = TpchKg.load(s, d).edges.filter(col("pred") === "contains")
        .withColumn("i", fn.row_number().over(
          w.orderBy(expr("CAST(substr(dst, 3) AS BIGINT)"))) - 1)
        .withColumn("n", count(lit(1)).over(w))
      val cellOf = (i: org.apache.spark.sql.Column) =>
        fn.concat(lit("L"), col("src"), lit(":"), i.cast("string"))
      val firstT = seq.select(cellOf(col("i")).as("subj"),
        lit("rdf:first").as("pred"), col("dst").as("obj"))
      val restT = seq.select(cellOf(col("i")).as("subj"),
        lit("rdf:rest").as("pred"),
        fn.when(col("i") === col("n") - 1, lit("rdf:nil"))
          .otherwise(cellOf(col("i") + 1)).as("obj"))
      graft.core.RdfLists.flatten(firstT.unionAll(restT))
    }),
    // PARIS class alignment (the trio's third axis): 'Client' = exact
    // Customer duplicate (equivalence — conf 1 both ways), 'BigPart' =
    // even-keyed half of Part (subclass — conf 1 one way, ~0.5 back);
    // disjoint base classes stay silent
    "kg_class_align" -> ((s, d) => {
      val fn = org.apache.spark.sql.functions
      val t = TpchKg.load(s, d).types
      val planted = t
        .unionAll(t.filter(col("cls") === "Customer")
          .select(col("node"), fn.lit("Client").as("cls")))
        .unionAll(t.filter(col("cls") === "Part" &&
            fn.substring(col("node"), -1, 1).cast("int") % 2 === 0)
          .select(col("node"), fn.lit("BigPart").as("cls")))
      graft.core.Rules.alignClasses(planted)
    }),
    // predicate functionality / inverse functionality (PARIS VLDB'12):
    // placedBy scores fun=1 (observed-functional — an identity-key
    // candidate), contains/suppliedBy score low in BOTH directions; exact
    // integer micro-units keep the division off the gate surface
    "kg_functionality" -> ((s, d) => graft.core.KgStats.functionality(
      TpchKg.load(s, d).edges)),
    // composite-key duplicate candidates: parts agreeing on
    // (brand, psize) collapse to a canonical representative — the
    // inverse-functional-key blocking step of entity resolution; groups
    // of every size ≥2 occur at all sf, so the HAVING cut binds
    "kg_key_collisions" -> ((s, d) => graft.core.KgStats.keyCollisions(
      TpchKg.load(s, d).attrs, Seq("brand", "psize"))),
    // SPARQL FILTER with a join-output predicate: cross-nation orders
    // (customer nation ≠ any supplier nation) — the inequality can only
    // evaluate above the join, so the gate proves the filtered BGP
    // composes; pushdown-able filters reach the scans (PlanShapeSpec)
    "kg_bgp_filter" -> ((s, d) => graft.core.Bgp.matchFilter(
      TpchKg.load(s, d).edges, Seq(
        ("?o", "placedBy", "?c"),
        ("?c", "inNation", "?n"),
        ("?o", "suppliedBy", "?s"),
        ("?s", "inNation", "?m")),
      org.apache.spark.sql.functions.col("n") =!=
        org.apache.spark.sql.functions.col("m"))),
    // SPARQL VALUES inline data: orders supplied from an explicit nation
    // list — the broadcast-dim query shape
    "kg_bgp_values" -> ((s, d) => graft.core.Bgp.matchValues(
      TpchKg.load(s, d).edges, Seq(
        ("?o", "suppliedBy", "?s"),
        ("?s", "inNation", "?n")),
      vars = Seq("n"), rows = Seq(Seq("n:3"), Seq("n:12"), Seq("n:24")))),
    // SPARQL ASK, one satisfiable + one unsatisfiable probe (n:999 names
    // no nation) — the boolean short-circuit form
    "kg_bgp_ask" -> ((s, d) => {
      val e = TpchKg.load(s, d).edges
      graft.core.Bgp.ask(e, Seq(("?c", "inNation", "?n"), ("?n", "inRegion", "r:0")))
        .withColumn("q", org.apache.spark.sql.functions.lit("sat"))
        .unionAll(graft.core.Bgp.ask(e, Seq(("?c", "inNation", "n:999")))
          .withColumn("q", org.apache.spark.sql.functions.lit("unsat")))
    }),
    // SPARQL SELECT DISTINCT with projection: the (supplier, nation)
    // pairs that actually supply orders — projection creates the bag
    // duplicates DISTINCT must collapse
    "kg_bgp_distinct" -> ((s, d) => graft.core.Bgp.solutions(
      graft.core.Bgp.matchPattern(TpchKg.load(s, d).edges, Seq(
        ("?o", "suppliedBy", "?s"),
        ("?s", "inNation", "?n"))).select("s", "n"),
      distinct = true)),
    // SPARQL ORDER BY + LIMIT: first 25 orders (by IRI — ?o is unique, so
    // the cut is a total order) of nation n:7's customers; plans as
    // TakeOrderedAndProject, never a global sort
    "kg_bgp_topk" -> ((s, d) => graft.core.Bgp.solutions(
      graft.core.Bgp.matchPattern(TpchKg.load(s, d).edges, Seq(
        ("?o", "placedBy", "?c"),
        ("?c", "inNation", "n:7"))),
      orderBy = Seq("o"), limit = 25)),
    // SHACL-lite validation report: cardinality (both directions of
    // `contains`), value-class, datatype, and numeric-range constraints;
    // the >3-parts orders, >40-orders parts and negative acctbal rows are
    // the load-bearing violations, OrderCust/OrderDate are the green path
    "kg_shacl" -> ((s, d) => {
      val kb = TpchKg.load(s, d)
      graft.core.Shapes.validate(kb.edges, kb.types, kb.attrs,
        propShapes = Seq(
          graft.core.PropertyShape("OrderParts", "Order", "contains",
            minCount = 1, maxCount = Some(3)),
          graft.core.PropertyShape("PartOrdered", "Part", "^contains",
            minCount = 1, maxCount = Some(40)),
          graft.core.PropertyShape("OrderCust", "Order", "placedBy",
            minCount = 1, maxCount = Some(1), valueClass = Some("Customer"))),
        attrShapes = Seq(
          graft.core.AttrShape("CustBal", "Customer", "acctbal",
            datatype = Some("xsd:double"), minInclusive = Some(0.0)),
          graft.core.AttrShape("OrderDate", "Order", "orderdate",
            datatype = Some("xsd:date"))))
    }))

  /** DuckDB mirror of GraphMetrics.cooccurrence over the contains edges —
    * the undirected co-purchase projection the graph-metric oracles share. */
  private def projCtes: String =
    """cp AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE pred = 'contains'),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT a.dst AS u, b.dst AS v
      |  FROM cp a JOIN cp b ON a.src = b.src AND a.dst < b.dst)""".stripMargin

  /** DuckDB replay of GraphMetrics' orientation + wedge-close joins —
    * shared CTE chain of the two triangle oracles. MATERIALIZED: und/deg/ore
    * are each referenced 2-3× downstream (see the verify skill's CTE note). */
  private def triCtes: String =
    s"""$projCtes,
      |deg AS MATERIALIZED (
      |  SELECT id, COUNT(*) AS deg
      |  FROM (SELECT u AS id FROM und UNION ALL SELECT v FROM und) t GROUP BY 1),
      |ore AS MATERIALIZED (
      |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v) THEN und.u ELSE und.v END AS a,
      |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v) THEN und.v ELSE und.u END AS b,
      |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v) THEN dv.deg ELSE du.deg END AS bd
      |  FROM und JOIN deg du ON du.id = und.u JOIN deg dv ON dv.id = und.v),
      |tri AS MATERIALIZED (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM ore e1
      |  JOIN ore e2 ON e1.a = e2.a AND (e1.bd < e2.bd OR (e1.bd = e2.bd AND e1.b < e2.b))
      |  JOIN ore e3 ON e3.a = e1.b AND e3.b = e2.b)""".stripMargin

  /** DuckDB replay of LabelProp's synchronous rounds: identical total
    * order in the pick (count DESC, label ASC). */
  private def lpaCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT s.u AS id, l.lbl, COUNT(*) AS c,
         |           ROW_NUMBER() OVER (PARTITION BY s.u ORDER BY COUNT(*) DESC, l.lbl) AS rn
         |    FROM sym s JOIN l${i - 1} l ON l.id = s.v GROUP BY s.u, l.lbl) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""sym AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM sym),
       |$roundCtes""".stripMargin
  }

  /** DuckDB replay of Louvain's synchronous local-move rounds: identical
    * exact-integer score 2m·kin − k·Σtot′ and identical total order in
    * the pick (score DESC, stay-flag ASC, community ASC). */
  private def louvainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""st$i AS (SELECT c, SUM(k) AS stot FROM lc${i - 1} JOIN ldeg USING (id) GROUP BY c),
         |ki$i AS MATERIALIZED (
         |  SELECT s.u AS id, l.c, COUNT(*) AS kin
         |  FROM lsym s JOIN lc${i - 1} l ON l.id = s.v GROUP BY 1, 2),
         |sz$i AS (SELECT c, COUNT(*) AS n FROM lc${i - 1} GROUP BY c),
         |cd$i AS (
         |  SELECT o.id, o.c, COALESCE(k2.kin, 0) AS kin, 0 AS flag
         |  FROM lc${i - 1} o LEFT JOIN ki$i k2 ON k2.id = o.id AND k2.c = o.c
         |  UNION ALL
         |  SELECT k2.id, k2.c, k2.kin, 1
         |  FROM ki$i k2 JOIN lc${i - 1} o ON o.id = k2.id AND o.c <> k2.c
         |  JOIN sz$i ts ON ts.c = k2.c JOIN sz$i os ON os.c = o.c
         |  WHERE NOT (os.n = 1 AND ts.n = 1 AND k2.c > o.c)),
         |sc$i AS (
         |  SELECT cd.id, cd.c, cd.flag,
         |         mm.m2 * cd.kin - ldeg.k *
         |           (st.stot - CASE WHEN cd.flag = 0 THEN ldeg.k ELSE 0 END) AS score
         |  FROM cd$i cd JOIN st$i st ON st.c = cd.c
         |  JOIN ldeg ON ldeg.id = cd.id CROSS JOIN mm),
         |lc$i AS MATERIALIZED (
         |  SELECT id, c FROM (
         |    SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY score DESC, flag, c) AS rn FROM sc$i) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""lsym AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
       |mm AS (SELECT 2 * COUNT(*) AS m2 FROM und),
       |ldeg AS MATERIALIZED (SELECT u AS id, COUNT(*) AS k FROM lsym GROUP BY 1),
       |lc0 AS MATERIALIZED (SELECT id, id AS c FROM ldeg),
       |$roundCtes""".stripMargin
  }

  /** Weighted [[louvainCtes]]: identical round shape over `wund(u, v, w)`
    * with Σw in every role COUNT played (m, degree, k_in). */
  private def louvainWCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""lwst$i AS (SELECT c, SUM(k) AS stot FROM lwc${i - 1} JOIN lwdeg USING (id) GROUP BY c),
         |lwki$i AS MATERIALIZED (
         |  SELECT s.u AS id, l.c, SUM(s.w) AS kin
         |  FROM lwsym s JOIN lwc${i - 1} l ON l.id = s.v GROUP BY 1, 2),
         |lwsz$i AS (SELECT c, COUNT(*) AS n FROM lwc${i - 1} GROUP BY c),
         |lwcd$i AS (
         |  SELECT o.id, o.c, COALESCE(k2.kin, 0) AS kin, 0 AS flag
         |  FROM lwc${i - 1} o LEFT JOIN lwki$i k2 ON k2.id = o.id AND k2.c = o.c
         |  UNION ALL
         |  SELECT k2.id, k2.c, k2.kin, 1
         |  FROM lwki$i k2 JOIN lwc${i - 1} o ON o.id = k2.id AND o.c <> k2.c
         |  JOIN lwsz$i ts ON ts.c = k2.c JOIN lwsz$i os ON os.c = o.c
         |  WHERE NOT (os.n = 1 AND ts.n = 1 AND k2.c > o.c)),
         |lwsc$i AS (
         |  SELECT cd.id, cd.c, cd.flag,
         |         mm.m2 * cd.kin - lwdeg.k *
         |           (st.stot - CASE WHEN cd.flag = 0 THEN lwdeg.k ELSE 0 END) AS score
         |  FROM lwcd$i cd JOIN lwst$i st ON st.c = cd.c
         |  JOIN lwdeg ON lwdeg.id = cd.id CROSS JOIN mm),
         |lwc$i AS MATERIALIZED (
         |  SELECT id, c FROM (
         |    SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY score DESC, flag, c) AS rn FROM lwsc$i) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""lwsym AS MATERIALIZED (
       |  SELECT u, v, w FROM wund UNION ALL SELECT v AS u, u AS v, w FROM wund),
       |mm AS (SELECT 2 * SUM(w) AS m2 FROM wund),
       |lwdeg AS MATERIALIZED (SELECT u AS id, SUM(w) AS k FROM lwsym GROUP BY 1),
       |lwc0 AS MATERIALIZED (SELECT id, id AS c FROM lwdeg),
       |$roundCtes""".stripMargin
  }

  /** DuckDB replay of Densest's parallel peel (Bahmani et al. VLDB'12,
    * ε=1), unrolled to a fixed `rounds` — peel rounds past empty are
    * no-ops and their (0, 0) stats rows never win the cross-multiplied
    * argmax (they tie and lose to the earlier round), so any R ≥ the
    * measured rounds-to-empty replays the engine exactly. */
  private def densestCtes(rounds: Int): String = {
    val roundCtes = (0 until rounds).map { i =>
      s"""dstat$i AS (SELECT (SELECT COUNT(*) FROM dv$i) AS n,
         |                   (SELECT COUNT(*) FROM de$i) AS e),
         |drm$i AS MATERIALIZED (
         |  SELECT g.id FROM (
         |    SELECT vv.id, COALESCE(d.deg, 0) AS deg FROM dv$i vv
         |    LEFT JOIN (SELECT u AS id, COUNT(*) AS deg FROM (
         |        SELECT u, v FROM de$i UNION ALL SELECT v AS u, u AS v FROM de$i) s
         |      GROUP BY 1) d ON d.id = vv.id) g
         |  CROSS JOIN dstat$i st WHERE g.deg * st.n <= 4 * st.e),
         |dv${i + 1} AS MATERIALIZED (
         |  SELECT id FROM dv$i WHERE id NOT IN (SELECT id FROM drm$i)),
         |de${i + 1} AS MATERIALIZED (
         |  SELECT u, v FROM de$i WHERE u NOT IN (SELECT id FROM drm$i)
         |    AND v NOT IN (SELECT id FROM drm$i))""".stripMargin
    }.mkString(",\n")
    val statRows = (0 until rounds)
      .map(i => s"SELECT $i AS i, n, e FROM dstat$i").mkString(" UNION ALL ")
    val peelRows = (0 until rounds)
      .map(i => s"SELECT id, $i AS peel_round FROM drm$i").mkString(" UNION ALL ")
    s"""dpl AS (
       |  SELECT a.id AS u, b.id AS v
       |  FROM (SELECT DISTINCT dst AS id FROM edges
       |        WHERE pred = 'contains' AND CAST(substr(dst, 3) AS BIGINT) < 200) a
       |  JOIN (SELECT DISTINCT dst AS id FROM edges
       |        WHERE pred = 'contains' AND CAST(substr(dst, 3) AS BIGINT) < 200) b
       |    ON a.id < b.id),
       |dund AS MATERIALIZED (SELECT u, v FROM und UNION SELECT u, v FROM dpl),
       |dv0 AS MATERIALIZED (SELECT u AS id FROM dund UNION SELECT v FROM dund),
       |de0 AS MATERIALIZED (SELECT u, v FROM dund),
       |$roundCtes,
       |dall AS MATERIALIZED ($statRows),
       |dbest AS (SELECT i FROM dall a WHERE NOT EXISTS (
       |  SELECT 1 FROM dall b WHERE b.e * a.n > a.e * b.n
       |    OR (b.e * a.n = a.e * b.n AND b.i < a.i))),
       |dpeel AS ($peelRows)""".stripMargin
  }

  /** DuckDB replay of ConnectedComponents' alternating large-star /
    * small-star rounds (Kiveris et al. SoCC'14), unrolled to a fixed
    * `rounds` — idempotent once converged, so round-R output equals the
    * engine's asserted fixpoint whenever the engine converges in ≤ R
    * rounds (it converges in 3-4 on this graph; a deeper run would
    * hash-mismatch LOUDLY, not silently pass). e0 = the canonical u<v
    * projection itself. */
  /** Name-match pairs (the kg_name_match surface, canonicalized u<v) +
    * a 10-round alternating-star unroll over them, CTEs sa0..sa10 —
    * converges in 7 on this graph, idempotent at fixpoint (same argument
    * as [[starCtes]]). Shared by the sameAs-rewrite and incremental-CC
    * oracles. */
  private val nameMatchStarCtes: String =
    s"""nm AS MATERIALIZED (
       |  SELECT node AS id, lexical AS name FROM attrs WHERE prop = 'name'),
       |rk AS MATERIALIZED (
       |  SELECT id, name, ROW_NUMBER() OVER (ORDER BY name, id) AS rnk FROM nm),
       |sa0 AS MATERIALIZED (
       |  SELECT DISTINCT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
       |  FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 3
       |  WHERE levenshtein(a.name, b.name) <= 2 AND a.id <> b.id),
       |${(1 to 10).map(i =>
            s"""ss$i AS MATERIALIZED (SELECT u, v FROM sa${i - 1} UNION ALL SELECT v AS u, u AS v FROM sa${i - 1}),
               |sm$i AS MATERIALIZED (SELECT u, least(u, MIN(v)) AS m FROM ss$i GROUP BY u),
               |sl$i AS MATERIALIZED (
               |  SELECT DISTINCT least(s.v, m.m) AS u, greatest(s.v, m.m) AS v
               |  FROM ss$i s JOIN sm$i m ON m.u = s.u WHERE s.v > s.u AND s.v <> m.m),
               |st$i AS MATERIALIZED (SELECT u, v FROM sl$i UNION ALL SELECT v AS u, u AS v FROM sl$i),
               |sn$i AS MATERIALIZED (SELECT u, least(u, MIN(v)) AS m FROM st$i GROUP BY u),
               |sa$i AS MATERIALIZED (
               |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
               |    SELECT s.v AS a, n.m AS b FROM st$i s JOIN sn$i n ON n.u = s.u WHERE s.v < s.u
               |    UNION ALL SELECT u AS a, m AS b FROM sn$i) x WHERE a <> b)"""
              .stripMargin).mkString(",\n")}""".stripMargin

  private def starCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT u, v FROM e${i - 1} UNION ALL SELECT v AS u, u AS v FROM e${i - 1}),
         |m$i AS MATERIALIZED (SELECT u, least(u, MIN(v)) AS m FROM s$i GROUP BY u),
         |ls$i AS MATERIALIZED (
         |  SELECT DISTINCT least(s.v, m.m) AS u, greatest(s.v, m.m) AS v
         |  FROM s$i s JOIN m$i m ON m.u = s.u WHERE s.v > s.u AND s.v <> m.m),
         |t$i AS MATERIALIZED (SELECT u, v FROM ls$i UNION ALL SELECT v AS u, u AS v FROM ls$i),
         |n$i AS MATERIALIZED (SELECT u, least(u, MIN(v)) AS m FROM t$i GROUP BY u),
         |e$i AS MATERIALIZED (
         |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
         |    SELECT s.v AS a, n.m AS b FROM t$i s JOIN n$i n ON n.u = s.u WHERE s.v < s.u
         |    UNION ALL SELECT u AS a, m AS b FROM n$i) x WHERE a <> b)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS MATERIALIZED (SELECT u, v FROM und),
       |$roundCtes,
       |fs AS (SELECT u, v FROM e$rounds UNION ALL SELECT v AS u, u AS v FROM e$rounds)""".stripMargin
  }

  /** DuckDB replay of the k-core peel, fixed `rounds` unroll (idempotent
    * at fixpoint — same argument as [[starCtes]]; a deeper-than-R engine
    * peel hash-mismatches loudly). */
  private def kcoreCtes(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""kd$i AS MATERIALIZED (
         |  SELECT id FROM (
         |    SELECT id, COUNT(*) AS deg FROM (
         |      SELECT u AS id FROM k${i - 1} UNION ALL SELECT v FROM k${i - 1}) t
         |    GROUP BY id) d WHERE deg >= $k),
         |k$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM k${i - 1} e
         |  WHERE EXISTS (SELECT 1 FROM kd$i a WHERE a.id = e.u)
         |    AND EXISTS (SELECT 1 FROM kd$i b WHERE b.id = e.v))""".stripMargin
    }.mkString(",\n")
    s"""k0 AS MATERIALIZED (SELECT u, v FROM und),
       |$roundCtes""".stripMargin
  }

  /** DuckDB replay of the k-truss peel, fixed `rounds` unroll (idempotent
    * at fixpoint — same argument as [[kcoreCtes]]): each round recomputes
    * the degree orientation + wedge-close triangle enumeration of the
    * SURVIVING edge set (the [[triCtes]] shape, re-derived per round
    * because orientation depends on current degrees), aggregates per-edge
    * triangle support over the three canonical edge pairs of each
    * triangle, and keeps edges with support ≥ k−2; an edge in no triangle
    * has no support row and drops implicitly — exactly
    * GraphMetrics.kTruss's round op. */
  private def ktrussCtes(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""xd$i AS MATERIALIZED (
         |  SELECT id, COUNT(*) AS deg
         |  FROM (SELECT u AS id FROM x${i - 1} UNION ALL SELECT v FROM x${i - 1}) t GROUP BY 1),
         |xo$i AS MATERIALIZED (
         |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v END AS a,
         |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v) THEN e.v ELSE e.u END AS b,
         |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v) THEN dv.deg ELSE du.deg END AS bd
         |  FROM x${i - 1} e JOIN xd$i du ON du.id = e.u JOIN xd$i dv ON dv.id = e.v),
         |xt$i AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM xo$i e1
         |  JOIN xo$i e2 ON e1.a = e2.a AND (e1.bd < e2.bd OR (e1.bd = e2.bd AND e1.b < e2.b))
         |  JOIN xo$i e3 ON e3.a = e1.b AND e3.b = e2.b),
         |x$i AS MATERIALIZED (
         |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS sup FROM (
         |    SELECT least(x, y) AS u, greatest(x, y) AS v FROM xt$i
         |    UNION ALL SELECT least(x, z), greatest(x, z) FROM xt$i
         |    UNION ALL SELECT least(y, z), greatest(y, z) FROM xt$i) p
         |  GROUP BY u, v HAVING COUNT(*) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""x0 AS MATERIALIZED (SELECT u, v FROM und),
       |$roundCtes""".stripMargin
  }

  /** DuckDB replay of the Luby MIS rounds, fixed `rounds` unroll (safe
    * past the fixpoint: an empty active set yields empty winner sets, so
    * extra rounds are no-ops; a deeper-than-R engine run mismatches
    * loudly). Priorities are md5(seed|id) with the id appended — the
    * same collision-proof total order the engine uses. */
  private def misCtes(seed: Long, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""msym$i AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM me${i - 1} UNION ALL SELECT v AS a, u AS b FROM me${i - 1}),
         |mnm$i AS MATERIALIZED (
         |  SELECT s.a AS id, MIN(p.prio) AS nmin
         |  FROM msym$i s JOIN ma${i - 1} p ON p.id = s.b GROUP BY s.a),
         |mw$i AS MATERIALIZED (
         |  SELECT a.id, $i AS mis_round FROM ma${i - 1} a
         |  LEFT JOIN mnm$i n ON n.id = a.id
         |  WHERE n.nmin IS NULL OR a.prio < n.nmin),
         |mc$i AS MATERIALIZED (
         |  SELECT DISTINCT s.b AS id FROM msym$i s JOIN mw$i w ON w.id = s.a),
         |ma$i AS MATERIALIZED (
         |  SELECT a.id, a.prio FROM ma${i - 1} a
         |  WHERE NOT EXISTS (SELECT 1 FROM mw$i w WHERE w.id = a.id)
         |    AND NOT EXISTS (SELECT 1 FROM mc$i c WHERE c.id = a.id)),
         |me$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM me${i - 1} e
         |  WHERE EXISTS (SELECT 1 FROM ma$i x WHERE x.id = e.u)
         |    AND EXISTS (SELECT 1 FROM ma$i y WHERE y.id = e.v))""".stripMargin
    }.mkString(",\n")
    val winners = (1 to rounds).map(i => s"SELECT id, mis_round FROM mw$i")
      .mkString("\n  UNION ALL ")
    s"""ma0 AS MATERIALIZED (
       |  SELECT id, md5('$seed|' || id) || id AS prio FROM (
       |    SELECT u AS id FROM und UNION SELECT v FROM und) t),
       |me0 AS MATERIALIZED (SELECT u, v FROM und),
       |$roundCtes,
       |misw AS ($winners)""".stripMargin
  }

  /** DuckDB mirror of GraphMetrics.undirected over the contains edges —
    * the canonical bipartite graph kg_reach / kg_linkpred share. */
  private def bipartiteCtes: String =
    """bund AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM edges WHERE pred = 'contains' AND src <> dst),
      |bsym AS MATERIALIZED (SELECT u, v FROM bund UNION ALL SELECT v AS u, u AS v FROM bund)""".stripMargin

  /** DuckDB replay of the co-purchase closure's semi-naive BFS, unrolled
    * to a fixed `rounds` (reach sets are cumulative, so MIN(lvl) = the
    * BFS first-reach level; idempotent at fixpoint — same argument as
    * [[starCtes]], a deeper engine run hash-mismatches loudly). */
  /** AMIE chain-rule mining replay (edges + the planted orderNation
    * composition) ending in `rulez(p1, p2, p3, body_n, pca_n, support,
    * conf_micro, pca_conf_micro)` — shared by the mining gate and the
    * rule-application gate built on top of it. */
  /** kg_sssp oracle: 6-round unroll of the Bellman-Ford relax step (hop
    * diameter from the order seeds is 3 — 2× margin per the fixed-round
    * recipe; the step is idempotent at the fixpoint). */
  private val ssspSql: String = {
    val rounds = (1 to 6).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM d${i - 1}
         |  UNION ALL SELECT e.dst, d.dist + e.w
         |  FROM d${i - 1} d JOIN we e ON e.src = d.node) u GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""we AS MATERIALIZED (
       |  SELECT src, dst, CAST(length(src) + length(dst) AS BIGINT) AS w
       |  FROM edges),
       |d0 AS MATERIALIZED (
       |  SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS node,
       |         CAST(0 AS BIGINT) AS dist
       |  FROM orders WHERE o_orderkey % 97 = 0),
       |$rounds
       |SELECT node, dist FROM d6""".stripMargin
  }

  private val ruleMineCtes: String =
    """en AS MATERIALIZED (
      |  SELECT src, pred, dst FROM edges
      |  UNION ALL
      |  SELECT DISTINCT a.src, 'orderNation', b.dst
      |  FROM edges a JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
      |  WHERE a.pred = 'suppliedBy'),
      |zok AS MATERIALIZED (
      |  SELECT i.z FROM (SELECT dst AS z, COUNT(*) AS din FROM en GROUP BY 1) i
      |  JOIN (SELECT src AS z, COUNT(*) AS dout FROM en GROUP BY 1) o ON o.z = i.z
      |  WHERE i.din * o.dout <= 1048576),
      |bodies AS MATERIALIZED (
      |  SELECT DISTINCT e1.pred AS p1, e2.pred AS p2, e1.src AS x, e2.dst AS y
      |  FROM en e1 JOIN zok ON zok.z = e1.dst JOIN en e2 ON e2.src = e1.dst),
      |px AS MATERIALIZED (SELECT DISTINCT src AS x, pred AS p3 FROM en),
      |cand AS MATERIALIZED (
      |  SELECT b.p1, b.p2, px.p3, CASE WHEN h.src IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM bodies b
      |  JOIN px ON px.x = b.x
      |  LEFT JOIN en h ON h.src = b.x AND h.pred = px.p3 AND h.dst = b.y),
      |bn AS (SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS body_n FROM bodies GROUP BY 1, 2),
      |r AS (SELECT p1, p2, p3, CAST(COUNT(*) AS BIGINT) AS pca_n,
      |        CAST(SUM(hit) AS BIGINT) AS support
      |      FROM cand GROUP BY 1, 2, 3 HAVING SUM(hit) >= 2),
      |rulez AS MATERIALIZED (
      |  SELECT r.p1, r.p2, r.p3, bn.body_n, r.pca_n, r.support,
      |    CAST(1000000 * r.support // bn.body_n AS BIGINT) AS conf_micro,
      |    CAST(1000000 * r.support // r.pca_n AS BIGINT) AS pca_conf_micro
      |  FROM r JOIN bn ON bn.p1 = r.p1 AND bn.p2 = r.p2)""".stripMargin

  private def pathClosureCtes(rounds: Int): String = {
    val roundCtes = (2 to rounds).map { i =>
      s"""pc$i AS MATERIALIZED (
         |  SELECT node FROM pc${i - 1}
         |  UNION
         |  SELECT st.o FROM pc${i - 1} p JOIN cpstep st ON st.s = p.node)""".stripMargin
    }.mkString(",\n")
    val lvls = (1 to rounds)
      .map(i => s"SELECT node, $i AS lvl FROM pc$i").mkString("\n  UNION ALL ")
    s"""cpstep AS MATERIALIZED (
       |  SELECT DISTINCT a.dst AS s, b.dst AS o
       |  FROM edges a JOIN edges b ON a.src = b.src
       |  WHERE a.pred = 'contains' AND b.pred = 'contains'),
       |pc1 AS MATERIALIZED (SELECT DISTINCT o AS node FROM cpstep WHERE s = 'p:1'),
       |$roundCtes,
       |lvl AS (
       |  $lvls)""".stripMargin
  }

  /** Unrolled WL refinement rounds: mirror of KgStats.wlColors — same md5
    * hex colors, same direction-tagged 48-bit message hashes, same bit_xor
    * digest, so every intermediate color is byte-identical. */
  private def wlCtes(rounds: Int): String = {
    def h(e: String) = graft.core.Determinism.md5IntDuck(e)
    val roundCtes = (1 to rounds).map { i =>
      val p = s"wc${i - 1}"
      s"""wm$i AS MATERIALIZED (
         |  SELECT e.src AS node, ${h(s"'o|' || e.pred || '|' || cd.color")} AS hh
         |  FROM edges e JOIN $p cd ON cd.node = e.dst
         |  UNION ALL
         |  SELECT e.dst, ${h(s"'i|' || e.pred || '|' || cs.color")}
         |  FROM edges e JOIN $p cs ON cs.node = e.src),
         |ws$i AS (SELECT node, bit_xor(hh) AS x FROM wm$i GROUP BY node),
         |wc$i AS MATERIALIZED (
         |  SELECT $p.node, md5($p.color || ':' || CAST(COALESCE(ws$i.x, 0) AS VARCHAR)) AS color
         |  FROM $p LEFT JOIN ws$i ON ws$i.node = $p.node)""".stripMargin
    }.mkString(",\n")
    s"""wn AS MATERIALIZED (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |  UNION SELECT node FROM types),
       |wc0 AS MATERIALIZED (
       |  SELECT wn.node, md5(COALESCE(t.cs, '')) AS color
       |  FROM wn LEFT JOIN (SELECT node, string_agg(DISTINCT cls, '|' ORDER BY cls) AS cs
       |                     FROM types GROUP BY node) t ON t.node = wn.node),
       |$roundCtes""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "kg_rdf_lists" -> TpchKgSql.withKg(
      """seq AS (
        |  SELECT src, dst,
        |         ROW_NUMBER() OVER (PARTITION BY src
        |           ORDER BY CAST(substr(dst, 3) AS BIGINT)) - 1 AS i
        |  FROM edges WHERE pred = 'contains')
        |SELECT 'L' || src || ':0' AS head, CAST(i AS INTEGER) AS idx,
        |       dst AS member
        |FROM seq""".stripMargin,
      inCte = true),
    "kg_schema_graph" -> TpchKgSql.withKg(
      """SELECT ts.cls AS src_cls, e.pred, td.cls AS dst_cls,
        |  CAST(COUNT(*) AS BIGINT) AS n_edges
        |FROM edges e
        |JOIN types ts ON ts.node = e.src
        |JOIN types td ON td.node = e.dst
        |GROUP BY 1, 2, 3""".stripMargin),
    "kg_wl_colors" -> TpchKgSql.withKg(
      s"""${wlCtes(2)}
         |SELECT node, color FROM wc2""".stripMargin,
      inCte = true),
    "kg_wl_quotient" -> TpchKgSql.withKg(
      s"""${wlCtes(2)},
         |mem AS MATERIALIZED (
         |  SELECT color, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM wc2 GROUP BY 1),
         |se AS (SELECT cs.color AS src_color, e.pred, cd.color AS dst_color,
         |         CAST(COUNT(*) AS BIGINT) AS n_edges
         |       FROM edges e
         |       JOIN wc2 cs ON cs.node = e.src
         |       JOIN wc2 cd ON cd.node = e.dst
         |       GROUP BY 1, 2, 3)
         |SELECT se.src_color, se.pred, se.dst_color, se.n_edges,
         |       ms.n_members AS n_src_members, md.n_members AS n_dst_members
         |FROM se JOIN mem ms ON ms.color = se.src_color
         |JOIN mem md ON md.color = se.dst_color""".stripMargin,
      inCte = true),
    "kg_name_match" -> TpchKgSql.withKg(
      """nm AS MATERIALIZED (
        |  SELECT node AS id, lexical AS name FROM attrs WHERE prop = 'name'),
        |rk AS MATERIALIZED (
        |  SELECT id, name, ROW_NUMBER() OVER (ORDER BY name, id) AS rnk FROM nm)
        |SELECT a.id AS u, b.id AS v, a.name AS name_u, b.name AS name_v,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 3
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin,
      inCte = true),
    // sameAs rewrite: name-match pairs → 10 alternating-star rounds
    // (converges in 7 on this graph; idempotent at fixpoint) → min-id rep
    // map → eq-rep left-join rewrite of both triple endpoints + DISTINCT
    "kg_sameas_rewrite" -> TpchKgSql.withKg(
      s"""$nameMatchStarCtes,
         |srep AS MATERIALIZED (
         |  SELECT u AS id, least(u, MIN(v)) AS rep
         |  FROM (SELECT u, v FROM sa10 UNION ALL SELECT v AS u, u AS v FROM sa10) fs
         |  GROUP BY u),
         |str AS MATERIALIZED (${TpchKgSql.triples}),
         |ssub AS MATERIALIZED (
         |  SELECT coalesce(r.rep, t.subj) AS subj, t.pred, t.obj
         |  FROM str t LEFT JOIN srep r ON r.id = t.subj)
         |SELECT DISTINCT s.subj, s.pred, coalesce(r.rep, s.obj) AS obj
         |FROM ssub s LEFT JOIN srep r ON r.id = s.obj""".stripMargin,
      inCte = true),
    // incremental CC parity: the oracle solves the FULL name-match pair
    // set from scratch (same star unroll); the engine's old-solve +
    // contraction increment must land on the identical (id, component) map
    "kg_cc_increment" -> TpchKgSql.withKg(
      s"""$nameMatchStarCtes
         |SELECT u AS id, least(u, MIN(v)) AS component
         |FROM (SELECT u, v FROM sa10 UNION ALL SELECT v AS u, u AS v FROM sa10) fs
         |GROUP BY u""".stripMargin,
      inCte = true),
    "kg_path_alt" -> TpchKgSql.withKg(
      """SELECT c.dst AS s, r.dst AS o
        |FROM edges c
        |JOIN (SELECT src, dst FROM edges WHERE pred = 'placedBy'
        |      UNION ALL SELECT src, dst FROM edges WHERE pred = 'suppliedBy') a
        |  ON a.src = c.src
        |JOIN edges n ON n.pred = 'inNation' AND n.src = a.dst
        |JOIN edges r ON r.pred = 'inRegion' AND r.src = n.dst
        |WHERE c.pred = 'contains'""".stripMargin),
    "kg_path_closure" -> TpchKgSql.withKg(
      s"""${pathClosureCtes(8)}
         |SELECT node, CAST(MIN(lvl) AS INT) AS dist FROM lvl GROUP BY node""".stripMargin,
      inCte = true),
    "kg_path_star" -> TpchKgSql.withKg(
      s"""${pathClosureCtes(8)}
         |SELECT node, CAST(MIN(lvl) AS INT) AS dist
         |FROM (SELECT node, lvl FROM lvl UNION ALL SELECT 'p:1', 0) z
         |GROUP BY node""".stripMargin,
      inCte = true),
    "kg_card_estimate" -> TpchKgSql.withKg(
      """per AS MATERIALIZED (
        |  SELECT src, string_agg(DISTINCT pred, '|' ORDER BY pred) AS char_set,
        |         SUM(CASE WHEN pred = 'contains' THEN 1 ELSE 0 END) AS c1,
        |         SUM(CASE WHEN pred = 'suppliedBy' THEN 1 ELSE 0 END) AS c2
        |  FROM edges GROUP BY src),
        |q AS (SELECT * FROM per WHERE c1 >= 1 AND c2 >= 1),
        |g AS (SELECT char_set, COUNT(*) AS n, SUM(c1) AS t1, SUM(c2) AS t2,
        |             SUM(c1 * c2) AS actual
        |      FROM q GROUP BY char_set)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_subjects,
        |       CAST(SUM(1000000 * t1 * t2 // n) AS BIGINT) AS est_rows_micros,
        |       CAST(SUM(actual) AS BIGINT) AS actual_rows
        |FROM g""".stripMargin,
      inCte = true),
    "kg_describe" -> TpchKgSql.withKg(
      """SELECT DISTINCT subj, pred, obj FROM (
        |  SELECT node AS subj, 'rdf:type' AS pred, cls AS obj FROM types WHERE node IN ('c:1', 'p:1')
        |  UNION ALL SELECT node, prop, lexical FROM attrs WHERE node IN ('c:1', 'p:1')
        |  UNION ALL SELECT src, pred, dst FROM edges WHERE src IN ('c:1', 'p:1')
        |  UNION ALL SELECT src, pred, dst FROM edges WHERE dst IN ('c:1', 'p:1')) u""".stripMargin),
    "kg_bgp_path" -> TpchKgSql.withKg(
      """SELECT c.src AS o, rg.dst AS r
        |FROM edges c
        |JOIN edges pb ON pb.pred = 'placedBy' AND pb.src = c.src
        |JOIN edges n ON n.pred = 'inNation' AND n.src = pb.dst
        |JOIN edges rg ON rg.pred = 'inRegion' AND rg.src = n.dst
        |WHERE c.pred = 'contains' AND c.dst = 'p:1'""".stripMargin),
    "kg_path_zeroorone" -> TpchKgSql.withKg(
      """SELECT DISTINCT s, o FROM (
        |  SELECT t AS s, t AS o FROM (
        |    SELECT src AS t FROM edges UNION SELECT dst FROM edges) d
        |  UNION ALL
        |  SELECT src, dst FROM edges WHERE pred = 'inRegion') u""".stripMargin),
    "kg_path_negset" -> TpchKgSql.withKg(
      """SELECT c.dst AS s, n.dst AS o
        |FROM edges c JOIN edges n ON n.src = c.src AND n.pred <> 'contains'
        |WHERE c.pred = 'contains'""".stripMargin),
    "kg_char_sets" -> TpchKgSql.withKg(
      """cs AS MATERIALIZED (
        |  SELECT src, string_agg(DISTINCT pred, '|' ORDER BY pred) AS char_set,
        |         CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY src)
        |SELECT char_set, CAST(COUNT(*) AS BIGINT) AS n_subjects,
        |       CAST(SUM(deg) AS BIGINT) AS n_edges
        |FROM cs GROUP BY 1""".stripMargin,
      inCte = true),
    "kg_entity_summary" -> TpchKgSql.withKg(
      """pf AS MATERIALIZED (
        |  SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pred FROM edges GROUP BY 1),
        |obf AS MATERIALIZED (
        |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS n_obj FROM edges GROUP BY 1),
        |sc AS (SELECT e.src AS node, e.pred, e.dst,
        |         CAST(1000000000 // pf.n_pred + 1000000000 // obf.n_obj AS BIGINT)
        |           AS score_micro
        |       FROM edges e JOIN pf USING (pred) JOIN obf ON obf.dst = e.dst)
        |SELECT node, pred, dst, score_micro, fact_rank FROM (
        |  SELECT node, pred, dst, score_micro, CAST(row_number() OVER (
        |    PARTITION BY node ORDER BY score_micro DESC, pred, dst) AS INT) AS fact_rank
        |  FROM sc) t
        |WHERE fact_rank <= 3""".stripMargin,
      inCte = true),
    "kg_infer_schema" -> TpchKgSql.withKg(
      """SELECT prop, CAST(COUNT(lexical) AS BIGINT) AS n_values,
        |  CAST(SUM(CASE WHEN regexp_matches(lexical, '^[+-]?[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |  CAST(SUM(CASE WHEN regexp_matches(lexical, '^[+-]?([0-9]+\.[0-9]*|\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$') THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
        |  CAST(SUM(CASE WHEN regexp_matches(lexical, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
        |  CAST(SUM(CASE WHEN lexical IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
        |  CASE WHEN COUNT(lexical) = 0 THEN 'xsd:string'
        |       WHEN SUM(CASE WHEN lexical IN ('true', 'false') THEN 1 ELSE 0 END) = COUNT(lexical) THEN 'xsd:boolean'
        |       WHEN SUM(CASE WHEN regexp_matches(lexical, '^[+-]?[0-9]+$') THEN 1 ELSE 0 END) = COUNT(lexical) THEN 'xsd:long'
        |       WHEN SUM(CASE WHEN regexp_matches(lexical, '^[+-]?([0-9]+\.[0-9]*|\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$') THEN 1 ELSE 0 END) = COUNT(lexical) THEN 'xsd:double'
        |       WHEN SUM(CASE WHEN regexp_matches(lexical, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') THEN 1 ELSE 0 END) = COUNT(lexical) THEN 'xsd:date'
        |       ELSE 'xsd:string' END AS inferred
        |FROM attrs GROUP BY prop""".stripMargin),
    "kg_rel_align" -> TpchKgSql.withKg(
      """ep AS MATERIALIZED (
        |  SELECT src, pred, dst FROM edges
        |  UNION ALL SELECT src, 'inRegion2', dst FROM edges WHERE pred = 'inRegion'
        |  UNION ALL SELECT dst, 'containedBy', src FROM edges WHERE pred = 'contains'
        |  UNION ALL SELECT src, 'primeOrders', dst FROM edges
        |    WHERE pred = 'placedBy' AND CAST(right(src, 1) AS INT) % 2 = 0),
        |pn AS (SELECT pred AS p, CAST(COUNT(*) AS BIGINT) AS p_n FROM ep GROUP BY 1),
        |fsup AS (SELECT a.pred AS p, b.pred AS q, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM ep a JOIN ep b ON b.src = a.src AND b.dst = a.dst AND b.pred <> a.pred
        |  GROUP BY 1, 2),
        |fpca AS (SELECT a.pred AS p, em.q, CAST(COUNT(*) AS BIGINT) AS pca_n
        |  FROM ep a JOIN (SELECT DISTINCT src, pred AS q FROM ep) em
        |    ON em.src = a.src AND em.q <> a.pred GROUP BY 1, 2),
        |isup AS (SELECT a.pred AS p, b.pred AS q, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM ep a JOIN ep b ON b.dst = a.src AND b.src = a.dst AND b.pred <> a.pred
        |  GROUP BY 1, 2),
        |ipca AS (SELECT a.pred AS p, em.q, CAST(COUNT(*) AS BIGINT) AS pca_n
        |  FROM ep a JOIN (SELECT DISTINCT dst AS src, pred AS q FROM ep) em
        |    ON em.src = a.src AND em.q <> a.pred GROUP BY 1, 2),
        |allrows AS (
        |  SELECT f.p, f.q, 'fwd' AS direction, f.support, fp.pca_n
        |  FROM fsup f JOIN fpca fp ON fp.p = f.p AND fp.q = f.q
        |  UNION ALL
        |  SELECT i.p, i.q, 'inv', i.support, ip.pca_n
        |  FROM isup i JOIN ipca ip ON ip.p = i.p AND ip.q = i.q)
        |SELECT a.p, a.q, a.direction, a.support, pn.p_n, a.pca_n,
        |       CAST(1000000 * a.support // pn.p_n AS BIGINT) AS conf_micro,
        |       CAST(1000000 * a.support // a.pca_n AS BIGINT) AS pca_conf_micro
        |FROM allrows a JOIN pn ON pn.p = a.p""".stripMargin,
      inCte = true),
    "kg_prp_fp" -> TpchKgSql.withKg(
      """SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
        |       'dup_c:' || CAST(o_custkey AS VARCHAR) AS dst
        |FROM orders WHERE right(CAST(o_orderkey AS VARCHAR), 1) = '3'
        |UNION
        |SELECT DISTINCT 'alt_c:' || CAST(c_custkey AS VARCHAR),
        |       'c:' || CAST(c_custkey AS VARCHAR)
        |FROM customer WHERE c_custkey % 7 = 0""".stripMargin),
    "kg_equality_loop" -> TpchKgSql.withKg(
      s"""erep AS MATERIALIZED (
         |  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS id,
         |         'alt_c:' || CAST(c_custkey AS VARCHAR) AS rep
         |  FROM customer WHERE c_custkey % 7 = 0),
         |etr AS MATERIALIZED (${TpchKgSql.triples}),
         |es AS MATERIALIZED (
         |  SELECT coalesce(r.rep, t.subj) AS subj, t.pred, t.obj
         |  FROM etr t LEFT JOIN erep r ON r.id = t.subj)
         |SELECT DISTINCT s.subj, s.pred, coalesce(r.rep, s.obj) AS obj
         |FROM es s LEFT JOIN erep r ON r.id = s.obj""".stripMargin,
      inCte = true),
    "kg_prop_chain" -> TpchKgSql.withKg(
      """SELECT DISTINCT p.src, 'orderNation' AS pred, n.dst
        |FROM edges p JOIN edges n ON n.src = p.dst AND n.pred = 'inNation'
        |WHERE p.pred = 'placedBy'
        |UNION
        |SELECT DISTINCT p.src, 'orderRegion', r.dst
        |FROM edges p
        |JOIN edges n ON n.src = p.dst AND n.pred = 'inNation'
        |JOIN edges r ON r.src = n.dst AND r.pred = 'inRegion'
        |WHERE p.pred = 'placedBy'""".stripMargin),
    "kg_sssp" -> TpchKgSql.withKg(ssspSql, inCte = true),
    "kg_haskey" -> TpchKgSql.withKg(
      """hk AS MATERIALIZED (
        |  SELECT node,
        |    MAX(CASE WHEN prop = 'brand' THEN lexical END) AS k_brand,
        |    MAX(CASE WHEN prop = 'psize' THEN lexical END) AS k_psize
        |  FROM attrs WHERE prop IN ('brand', 'psize') GROUP BY node
        |  HAVING MAX(CASE WHEN prop = 'brand' THEN lexical END) IS NOT NULL
        |     AND MAX(CASE WHEN prop = 'psize' THEN lexical END) IS NOT NULL),
        |hkt AS (SELECT hk.* FROM hk
        |  WHERE EXISTS (SELECT 1 FROM types t
        |                WHERE t.node = hk.node AND t.cls = 'Part'))
        |SELECT DISTINCT a.node AS src, b.node AS dst
        |FROM hkt a JOIN hkt b
        |  ON b.k_brand = a.k_brand AND b.k_psize = a.k_psize
        | AND a.node < b.node""".stripMargin,
      inCte = true),
    "kg_inconsistencies" -> TpchKgSql.withKg(
      """aug_types AS MATERIALIZED (
        |  SELECT node, cls FROM types
        |  UNION ALL
        |  SELECT node, 'Component' FROM types
        |  WHERE cls = 'Part' AND CAST(substr(node, 3) AS BIGINT) % 2 = 0),
        |aug_edges AS MATERIALIZED (
        |  SELECT src, pred, dst FROM edges
        |  UNION ALL
        |  SELECT dst, pred, src FROM edges
        |  WHERE pred = 'inRegion' AND CAST(substr(dst, 3) AS BIGINT) % 2 = 0
        |  UNION ALL
        |  SELECT src, pred, src FROM edges
        |  WHERE pred = 'placedBy' AND CAST(substr(src, 3) AS BIGINT) % 97 = 0
        |  UNION ALL
        |  SELECT src, 'suppliedBy', dst FROM edges
        |  WHERE pred = 'contains' AND CAST(substr(dst, 3) AS BIGINT) % 101 = 0)
        |SELECT 'cax-dw' AS rule, t1.node AS x, t1.node AS y,
        |       'Part|Component' AS why
        |FROM aug_types t1 JOIN aug_types t2 ON t2.node = t1.node
        |WHERE t1.cls = 'Part' AND t2.cls = 'Component'
        |UNION
        |SELECT 'cax-dw', t1.node, t1.node, 'Customer|Supplier'
        |FROM aug_types t1 JOIN aug_types t2 ON t2.node = t1.node
        |WHERE t1.cls = 'Customer' AND t2.cls = 'Supplier'
        |UNION
        |SELECT 'prp-pdw', e1.src, e1.dst, 'contains|suppliedBy'
        |FROM aug_edges e1 JOIN aug_edges e2
        |  ON e2.src = e1.src AND e2.dst = e1.dst AND e2.pred = 'suppliedBy'
        |WHERE e1.pred = 'contains'
        |UNION
        |SELECT 'prp-asyp', e1.src, e1.dst, e1.pred
        |FROM aug_edges e1 JOIN aug_edges e2
        |  ON e2.src = e1.dst AND e2.dst = e1.src AND e2.pred = 'inRegion'
        |WHERE e1.pred = 'inRegion' AND e1.src <= e1.dst
        |UNION
        |SELECT 'prp-irp', src, dst, pred
        |FROM aug_edges WHERE pred = 'placedBy' AND src = dst""".stripMargin,
      inCte = true),
    "kg_class_align" -> TpchKgSql.withKg(
      """tp AS MATERIALIZED (
        |  SELECT node, cls FROM types
        |  UNION ALL SELECT node, 'Client' FROM types WHERE cls = 'Customer'
        |  UNION ALL SELECT node, 'BigPart' FROM types
        |    WHERE cls = 'Part' AND CAST(right(node, 1) AS INT) % 2 = 0),
        |an AS (SELECT cls AS a, CAST(COUNT(*) AS BIGINT) AS a_n FROM tp GROUP BY 1),
        |ov AS (SELECT x.cls AS a, y.cls AS b, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM tp x JOIN tp y ON y.node = x.node AND y.cls <> x.cls GROUP BY 1, 2)
        |SELECT ov.a, ov.b, ov.support, an.a_n,
        |       CAST(1000000 * ov.support // an.a_n AS BIGINT) AS conf_micro
        |FROM ov JOIN an ON an.a = ov.a""".stripMargin,
      inCte = true),
    "kg_rule_mine" -> TpchKgSql.withKg(
      s"$ruleMineCtes\nSELECT * FROM rulez", inCte = true),
    "kg_rule_apply" -> TpchKgSql.withKg(
      s"""$ruleMineCtes,
         |sel AS (SELECT p1, p2, p3, pca_conf_micro FROM rulez WHERE pca_conf_micro >= 1000000),
         |drv AS (
         |  SELECT e1.src AS x, s.p3, e2.dst AS y, MAX(s.pca_conf_micro) AS conf_micro
         |  FROM sel s
         |  JOIN edges e1 ON e1.pred = s.p1
         |  JOIN edges e2 ON e2.src = e1.dst AND e2.pred = s.p2
         |  GROUP BY 1, 2, 3)
         |SELECT d.x AS subj, d.p3 AS pred, d.y AS obj,
         |       CAST(d.conf_micro AS BIGINT) AS conf_micro
         |FROM drv d
         |LEFT JOIN edges k ON k.src = d.x AND k.pred = d.p3 AND k.dst = d.y
         |WHERE k.src IS NULL""".stripMargin,
      inCte = true),
    "kg_functionality" -> TpchKgSql.withKg(
      """SELECT pred,
        |  CAST(COUNT(DISTINCT src || '|' || dst) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
        |  CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst,
        |  CAST(1000000 * COUNT(DISTINCT src) // COUNT(DISTINCT src || '|' || dst) AS BIGINT) AS fun_micro,
        |  CAST(1000000 * COUNT(DISTINCT dst) // COUNT(DISTINCT src || '|' || dst) AS BIGINT) AS ifun_micro
        |FROM edges GROUP BY pred""".stripMargin),
    "kg_key_collisions" -> TpchKgSql.withKg(
      """keyed AS MATERIALIZED (
        |  SELECT node,
        |    MAX(CASE WHEN prop = 'brand' THEN lexical END) AS k_brand,
        |    MAX(CASE WHEN prop = 'psize' THEN lexical END) AS k_psize
        |  FROM attrs WHERE prop IN ('brand', 'psize') GROUP BY node
        |  HAVING MAX(CASE WHEN prop = 'brand' THEN lexical END) IS NOT NULL
        |     AND MAX(CASE WHEN prop = 'psize' THEN lexical END) IS NOT NULL),
        |grp AS MATERIALIZED (
        |  SELECT k_brand, k_psize, MIN(node) AS canon, CAST(COUNT(*) AS BIGINT) AS grp_n
        |  FROM keyed GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT k.node, g.canon, g.grp_n
        |FROM keyed k JOIN grp g ON g.k_brand = k.k_brand AND g.k_psize = k.k_psize""".stripMargin,
      inCte = true),
    "kg_bgp_filter" -> TpchKgSql.withKg(
      // pred-sliced MATERIALIZED inputs: the single-relation form made
      // DuckDB 1.x pick a spill-everything join order at sf0.1 (>79 GB
      // temp) — same semantics, plan-friendly shape
      """bfpb AS MATERIALIZED (SELECT src, dst FROM edges WHERE pred = 'placedBy'),
        |bfin AS MATERIALIZED (SELECT src, dst FROM edges WHERE pred = 'inNation'),
        |bfsb AS MATERIALIZED (SELECT src, dst FROM edges WHERE pred = 'suppliedBy')
        |SELECT a.src AS o, a.dst AS c, b.dst AS n, d.dst AS s, e.dst AS m
        |FROM bfpb a
        |JOIN bfin b ON b.src = a.dst
        |JOIN bfsb d ON d.src = a.src
        |JOIN bfin e ON e.src = d.dst
        |WHERE b.dst <> e.dst""".stripMargin, inCte = true),
    "kg_bgp_values" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS s, b.dst AS n
        |FROM edges a
        |JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |JOIN (VALUES ('n:3'), ('n:12'), ('n:24')) v(n) ON v.n = b.dst
        |WHERE a.pred = 'suppliedBy'""".stripMargin),
    "kg_bgp_ask" -> TpchKgSql.withKg(
      """SELECT EXISTS(
        |    SELECT 1 FROM edges a
        |    JOIN edges b ON b.pred = 'inRegion' AND b.src = a.dst AND b.dst = 'r:0'
        |    WHERE a.pred = 'inNation') AS ask, 'sat' AS q
        |UNION ALL
        |SELECT EXISTS(
        |    SELECT 1 FROM edges WHERE pred = 'inNation' AND dst = 'n:999'), 'unsat'""".stripMargin),
    "kg_bgp_distinct" -> TpchKgSql.withKg(
      """SELECT DISTINCT a.dst AS s, b.dst AS n
        |FROM edges a
        |JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |WHERE a.pred = 'suppliedBy'""".stripMargin),
    "kg_bgp_topk" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS c
        |FROM edges a
        |JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst AND b.dst = 'n:7'
        |WHERE a.pred = 'placedBy'
        |ORDER BY o LIMIT 25""".stripMargin),
    "kg_freq_pairs" -> TpchKgSql.withKg(
      """fcp AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE pred = 'contains'),
        |fok AS MATERIALIZED (SELECT src FROM fcp GROUP BY src HAVING COUNT(*) <= 1024),
        |fb AS MATERIALIZED (SELECT fcp.src, fcp.dst FROM fcp JOIN fok ON fok.src = fcp.src)
        |SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS support
        |FROM fb a JOIN fb b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
      inCte = true),
    "kg_shacl" -> TpchKgSql.withKg(
      """opn AS MATERIALIZED (
        |  SELECT t.node AS focus, COALESCE(c.n, 0) AS n
        |  FROM types t LEFT JOIN (
        |    SELECT src AS focus, COUNT(*) AS n FROM edges WHERE pred = 'contains' GROUP BY 1) c
        |    ON c.focus = t.node
        |  WHERE t.cls = 'Order'),
        |pon AS MATERIALIZED (
        |  SELECT t.node AS focus, COALESCE(c.n, 0) AS n
        |  FROM types t LEFT JOIN (
        |    SELECT dst AS focus, COUNT(*) AS n FROM edges WHERE pred = 'contains' GROUP BY 1) c
        |    ON c.focus = t.node
        |  WHERE t.cls = 'Part'),
        |ocn AS MATERIALIZED (
        |  SELECT t.node AS focus, COALESCE(c.n, 0) AS n
        |  FROM types t LEFT JOIN (
        |    SELECT src AS focus, COUNT(*) AS n FROM edges WHERE pred = 'placedBy' GROUP BY 1) c
        |    ON c.focus = t.node
        |  WHERE t.cls = 'Order')
        |SELECT focus, 'OrderParts' AS shape_id, 'minCount' AS component, CAST(n AS VARCHAR) AS detail FROM opn WHERE n < 1
        |UNION ALL SELECT focus, 'OrderParts', 'maxCount', CAST(n AS VARCHAR) FROM opn WHERE n > 3
        |UNION ALL SELECT focus, 'PartOrdered', 'minCount', CAST(n AS VARCHAR) FROM pon WHERE n < 1
        |UNION ALL SELECT focus, 'PartOrdered', 'maxCount', CAST(n AS VARCHAR) FROM pon WHERE n > 40
        |UNION ALL SELECT focus, 'OrderCust', 'minCount', CAST(n AS VARCHAR) FROM ocn WHERE n < 1
        |UNION ALL SELECT focus, 'OrderCust', 'maxCount', CAST(n AS VARCHAR) FROM ocn WHERE n > 1
        |UNION ALL SELECT e.src, 'OrderCust', 'class', e.dst
        |  FROM edges e
        |  WHERE e.pred = 'placedBy'
        |    AND EXISTS (SELECT 1 FROM types t WHERE t.node = e.src AND t.cls = 'Order')
        |    AND NOT EXISTS (SELECT 1 FROM types t WHERE t.node = e.dst AND t.cls = 'Customer')
        |UNION ALL SELECT a.node, 'CustBal', 'datatype', a.lexical
        |  FROM attrs a
        |  WHERE a.prop = 'acctbal'
        |    AND EXISTS (SELECT 1 FROM types t WHERE t.node = a.node AND t.cls = 'Customer')
        |    AND (a.dtype <> 'xsd:double' OR TRY_CAST(a.lexical AS DOUBLE) IS NULL)
        |UNION ALL SELECT a.node, 'CustBal', 'minInclusive', a.lexical
        |  FROM attrs a
        |  WHERE a.prop = 'acctbal'
        |    AND EXISTS (SELECT 1 FROM types t WHERE t.node = a.node AND t.cls = 'Customer')
        |    AND TRY_CAST(a.lexical AS DOUBLE) < 0.0
        |UNION ALL SELECT a.node, 'OrderDate', 'datatype', a.lexical
        |  FROM attrs a
        |  WHERE a.prop = 'orderdate'
        |    AND EXISTS (SELECT 1 FROM types t WHERE t.node = a.node AND t.cls = 'Order')
        |    AND (a.dtype <> 'xsd:date' OR TRY_CAST(a.lexical AS DATE) IS NULL)""".stripMargin,
      inCte = true),
    "kg_reach" -> TpchKgSql.withKg(
      s"""$bipartiteCtes,
         |r1 AS MATERIALIZED (SELECT u AS id, v AS w FROM bsym),
         |r2 AS MATERIALIZED (
         |  SELECT id, w FROM r1
         |  UNION
         |  SELECT r.id, s.v AS w FROM r1 r JOIN bsym s ON s.u = r.w WHERE s.v <> r.id)
         |SELECT id, 1 AS r, CAST(COUNT(*) AS BIGINT) AS reach_cnt FROM r1 GROUP BY id
         |UNION ALL
         |SELECT id, 2 AS r, CAST(COUNT(*) AS BIGINT) FROM r2 GROUP BY id""".stripMargin,
      inCte = true),
    "kg_harmonic" -> TpchKgSql.withKg(
      s"""$bipartiteCtes,
         |h1 AS MATERIALIZED (SELECT u AS id, v AS w FROM bsym),
         |h2 AS MATERIALIZED (
         |  SELECT id, w FROM h1
         |  UNION
         |  SELECT r.id, s.v AS w FROM h1 r JOIN bsym s ON s.u = r.w WHERE s.v <> r.id)
         |SELECT id, CAST(SUM(c) AS BIGINT) AS harmonic_micro FROM (
         |  SELECT id, COUNT(*) * 1 AS c FROM h1 GROUP BY id
         |  UNION ALL SELECT id, COUNT(*) * 1 AS c FROM h2 GROUP BY id) t
         |GROUP BY id""".stripMargin, inCte = true),
    "kg_linkpred" -> TpchKgSql.withKg(
      s"""$bipartiteCtes,
         |bdeg AS MATERIALIZED (SELECT u AS id, COUNT(*) AS deg FROM bsym GROUP BY u),
         |zok AS MATERIALIZED (
         |  SELECT s.u AS z, s.v AS n, d.deg AS zdeg
         |  FROM bsym s JOIN bdeg d ON d.id = s.u WHERE d.deg <= 32),
         |lp0 AS MATERIALIZED (
         |  SELECT a.n AS u, b.n AS w, COUNT(*) AS cn, SUM(1000000 // a.zdeg) AS ra
         |  FROM zok a JOIN zok b ON a.z = b.z AND a.n < b.n
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT u, w, CAST(cn AS BIGINT) AS cn, CAST(ra AS BIGINT) AS ra_micros
         |FROM lp0
         |WHERE NOT EXISTS (SELECT 1 FROM bund e WHERE e.u = lp0.u AND e.v = lp0.w)""".stripMargin,
      inCte = true),
    "kg_spcounts" -> TpchKgSql.withKg({
      // fixed 4-round unroll — truncation at maxR=4 is part of the
      // estimator's definition, so engine and oracle run the SAME count
      val rounds = (1 to 4).map { r =>
        s"""bwf$r AS MATERIALIZED (
           |  SELECT f.src, s.v AS node, $r AS dist,
           |         CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM bwf${r - 1} f JOIN bsym s ON s.u = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM bws${r - 1} t
           |                    WHERE t.src = f.src AND t.node = s.v)
           |  GROUP BY 1, 2),
           |bws$r AS MATERIALIZED (
           |  SELECT src, node FROM bws${r - 1}
           |  UNION ALL SELECT src, node FROM bwf$r)""".stripMargin
      }.mkString(",\n")
      s"""$bipartiteCtes,
         |bwf0 AS (
         |  SELECT id AS src, id AS node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
         |  FROM (SELECT DISTINCT src AS id FROM edges WHERE pred = 'contains'
         |        AND CAST(substr(src, 3) AS BIGINT) % 997 = 0)),
         |bws0 AS (SELECT src, node FROM bwf0),
         |$rounds
         |SELECT src, node, dist, sigma FROM (
         |  SELECT * FROM bwf0 UNION ALL SELECT * FROM bwf1
         |  UNION ALL SELECT * FROM bwf2 UNION ALL SELECT * FROM bwf3
         |  UNION ALL SELECT * FROM bwf4) t""".stripMargin
    }, inCte = true),
    "kg_butterflies" -> TpchKgSql.withKg(
      """bfe AS MATERIALIZED (
        |  SELECT DISTINCT src AS u, dst AS v FROM edges WHERE pred = 'contains'),
        |bfok AS MATERIALIZED (
        |  SELECT e.u, e.v FROM bfe e
        |  JOIN (SELECT v, COUNT(*) AS vdeg FROM bfe GROUP BY v) d ON d.v = e.v
        |  WHERE d.vdeg <= 64),
        |bfp AS MATERIALIZED (
        |  SELECT a.u AS u1, b.u AS u2, COUNT(*) AS c
        |  FROM bfok a JOIN bfok b ON a.v = b.v AND a.u < b.u
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT id, CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS bfly FROM (
        |  SELECT u1 AS id, c FROM bfp UNION ALL SELECT u2 AS id, c FROM bfp) t
        |GROUP BY id""".stripMargin, inCte = true),
    "kg_bgp" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS c, b.dst AS n, d.dst AS s
        |FROM edges a
        |JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |JOIN edges r ON r.pred = 'inRegion' AND r.src = b.dst AND r.dst = 'r:2'
        |JOIN edges d ON d.pred = 'suppliedBy' AND d.src = a.src
        |JOIN edges e ON e.pred = 'inNation' AND e.src = d.dst AND e.dst = b.dst
        |WHERE a.pred = 'placedBy'""".stripMargin),
    "kg_bgp_ordered" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS c, b.dst AS n, d.dst AS s
        |FROM edges a
        |JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |JOIN edges r ON r.pred = 'inRegion' AND r.src = b.dst AND r.dst = 'r:2'
        |JOIN edges d ON d.pred = 'suppliedBy' AND d.src = a.src
        |JOIN edges e ON e.pred = 'inNation' AND e.src = d.dst AND e.dst = b.dst
        |WHERE a.pred = 'placedBy'""".stripMargin),
    "kg_bgp_optional" -> TpchKgSql.withKg(
      """SELECT a.src AS c, a.dst AS n, b.src AS o
        |FROM edges a
        |LEFT JOIN edges b ON b.pred = 'placedBy' AND b.dst = a.src
        |WHERE a.pred = 'inNation'""".stripMargin),
    "kg_bgp_minus" -> TpchKgSql.withKg(
      """SELECT a.src AS c, a.dst AS n
        |FROM edges a
        |WHERE a.pred = 'inNation'
        |  AND NOT EXISTS (SELECT 1 FROM edges b
        |                  WHERE b.pred = 'placedBy' AND b.dst = a.src)""".stripMargin),
    "kg_bgp_notexists" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS c
        |FROM edges a
        |WHERE a.pred = 'placedBy'
        |  AND NOT EXISTS (SELECT 1 FROM edges d
        |                  JOIN edges e ON e.pred = 'inNation' AND e.src = d.dst
        |                              AND e.dst = 'n:3'
        |                  WHERE d.pred = 'suppliedBy' AND d.src = a.src)""".stripMargin),
    "kg_bgp_agg" -> TpchKgSql.withKg(
      """SELECT b.dst AS n, CAST(COUNT(*) AS BIGINT) AS orders,
        |       CAST(COUNT(DISTINCT a.dst) AS BIGINT) AS custs
        |FROM edges a
        |JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |WHERE a.pred = 'placedBy'
        |GROUP BY b.dst HAVING COUNT(*) >= 100""".stripMargin),
    "kg_bgp_groupconcat" -> TpchKgSql.withKg(
      """SELECT dst AS r, string_agg(src, '|' ORDER BY src) AS nations,
        |       CAST(COUNT(*) AS BIGINT) AS n_nations
        |FROM edges WHERE pred = 'inRegion' GROUP BY dst""".stripMargin),
    "kg_bgp_construct" -> TpchKgSql.withKg(
      """SELECT DISTINCT src, 'involves' AS pred, dst FROM (
        |  SELECT a.src, a.dst FROM edges a WHERE a.pred = 'placedBy'
        |    AND EXISTS (SELECT 1 FROM edges x WHERE x.pred = 'suppliedBy' AND x.src = a.src)
        |  UNION ALL
        |  SELECT b.src, b.dst FROM edges b WHERE b.pred = 'suppliedBy'
        |    AND EXISTS (SELECT 1 FROM edges y WHERE y.pred = 'placedBy' AND y.src = b.src)) t""".stripMargin),
    "kg_bgp_exists" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS c
        |FROM edges a
        |WHERE a.pred = 'placedBy'
        |  AND EXISTS (SELECT 1 FROM edges d
        |              JOIN edges e ON e.pred = 'inNation' AND e.src = d.dst
        |                          AND e.dst = 'n:3'
        |              WHERE d.pred = 'suppliedBy' AND d.src = a.src)""".stripMargin),
    "kg_bgp_union" -> TpchKgSql.withKg(
      """SELECT a.src AS o, a.dst AS c, b.dst AS n, CAST(NULL AS VARCHAR) AS sp
        |FROM edges a JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |WHERE a.pred = 'placedBy'
        |UNION ALL
        |SELECT a.src, CAST(NULL AS VARCHAR), b.dst, a.dst
        |FROM edges a JOIN edges b ON b.pred = 'inNation' AND b.src = a.dst
        |WHERE a.pred = 'suppliedBy'""".stripMargin),
    // RDFS closure replay: the TBox VALUES lists are generated from
    // TpchKg.tbox's RAW (sub, sup)/domain/range declarations (same
    // no-drift rule as tboxTriples) and the ⊑c closure is computed IN SQL
    // as an idempotent 2-round unroll (hierarchy depth 1, 2× margin) — so
    // the oracle checks the engine's driver-side closure independently
    "kg_entailed_types" -> TpchKgSql.withKg(
      s"""sc AS (SELECT * FROM (VALUES ${TpchKg.subClass.map { case (a, b) =>
              s"('$a', '$b')" }.mkString(", ")}) AS t(sub, sup)),
         |scc AS (SELECT sub, sup FROM sc
         |  UNION SELECT x.sub, y.sup FROM sc x JOIN sc y ON x.sup = y.sub
         |  UNION SELECT x.sub, z.sup FROM sc x JOIN sc y ON x.sup = y.sub
         |    JOIN sc z ON y.sup = z.sub),
         |pdom AS (SELECT * FROM (VALUES ${TpchKg.props.filter(p =>
              p.kind == "object" && p.domain.nonEmpty).map(p =>
              s"('${p.prop}', '${p.domain}')").mkString(", ")}) AS t(p, cls)),
         |prng AS (SELECT * FROM (VALUES ${TpchKg.props.filter(p =>
              p.kind == "object" && p.range.nonEmpty).map(p =>
              s"('${p.prop}', '${p.range}')").mkString(", ")}) AS t(p, cls)),
         |ddom AS (SELECT * FROM (VALUES ${TpchKg.props.filter(p =>
              p.kind == "data" && p.domain.nonEmpty).map(p =>
              s"('${p.prop}', '${p.domain}')").mkString(", ")}) AS t(p, cls)),
         |raw AS MATERIALIZED (
         |  SELECT node, cls FROM types
         |  UNION SELECT e.src, d.cls FROM edges e JOIN pdom d ON e.pred = d.p
         |  UNION SELECT e.dst, r.cls FROM edges e JOIN prng r ON e.pred = r.p
         |  UNION SELECT a.node, d.cls FROM attrs a JOIN ddom d ON a.prop = d.p)
         |SELECT node, cls FROM raw
         |UNION SELECT raw.node, scc.sup AS cls FROM raw JOIN scc ON raw.cls = scc.sub""".stripMargin,
      inCte = true),
    "kg_modularity" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${lpaCtes(4)},
         |mdeg AS MATERIALIZED (
         |  SELECT id, COUNT(*) AS deg
         |  FROM (SELECT u AS id FROM und UNION ALL SELECT v FROM und) t GROUP BY 1),
         |cdg AS (SELECT l.lbl, SUM(d.deg) AS cd FROM mdeg d JOIN l4 l ON l.id = d.id GROUP BY 1)
         |SELECT CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS m,
         |       CAST((SELECT COUNT(*) FROM und e JOIN l4 a ON a.id = e.u
         |             JOIN l4 b ON b.id = e.v WHERE a.lbl = b.lbl) AS BIGINT) AS intra,
         |       CAST((SELECT SUM(cd * cd) FROM cdg) AS BIGINT) AS sum_comm_deg_sq""".stripMargin,
      inCte = true),
    "kg_kcore" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${kcoreCtes(k = 80, rounds = 12)}
         |SELECT id, deg FROM (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT u AS id FROM k12 UNION ALL SELECT v FROM k12) t GROUP BY id) d
         |WHERE deg >= 80""".stripMargin, inCte = true),
    "kg_ktruss" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${ktrussCtes(k = 6, rounds = 10)}
         |SELECT u, v, sup FROM x10""".stripMargin, inCte = true),
    "kg_tri_sampled" -> TpchKgSql.withKg(
      s"""$projCtes,
         |kept AS MATERIALIZED (
         |  SELECT u, v FROM und
         |  WHERE substr(md5('23|' || u || '|' || v), 1, 12) < '400000000000'),
         |kdeg AS MATERIALIZED (
         |  SELECT id, COUNT(*) AS deg
         |  FROM (SELECT u AS id FROM kept UNION ALL SELECT v FROM kept) t GROUP BY 1),
         |kore AS MATERIALIZED (
         |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND k.u < k.v) THEN k.u ELSE k.v END AS a,
         |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND k.u < k.v) THEN k.v ELSE k.u END AS b,
         |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND k.u < k.v) THEN dv.deg ELSE du.deg END AS bd
         |  FROM kept k JOIN kdeg du ON du.id = k.u JOIN kdeg dv ON dv.id = k.v),
         |ktri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM kore e1
         |  JOIN kore e2 ON e1.a = e2.a AND (e1.bd < e2.bd OR (e1.bd = e2.bd AND e1.b < e2.b))
         |  JOIN kore e3 ON e3.a = e1.b AND e3.b = e2.b)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS kept_edges,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM ktri) AS tri_sampled""".stripMargin,
      inCte = true),
    "kg_mis" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${misCtes(seed = 11L, rounds = 12)}
         |SELECT id, mis_round FROM misw""".stripMargin, inCte = true),
    "kg_entailed_edges" -> TpchKgSql.withKg(
      """SELECT DISTINCT src, pred, dst FROM (
        |  SELECT src, pred, dst FROM edges
        |  UNION ALL SELECT dst AS src, 'partOf' AS pred, src AS dst
        |    FROM edges WHERE pred = 'contains'
        |  UNION ALL SELECT src, 'involves' AS pred, dst
        |    FROM edges WHERE pred IN ('placedBy', 'suppliedBy')) t""".stripMargin),
    "kg_assortativity" -> TpchKgSql.withKg(
      s"""$triCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
         |       CAST(SUM(dj.deg) AS BIGINT) AS sum_j,
         |       CAST(SUM(dk.deg) AS BIGINT) AS sum_k,
         |       CAST(SUM(dj.deg * dk.deg) AS BIGINT) AS sum_jk,
         |       CAST(SUM(dj.deg * dj.deg) AS BIGINT) AS sum_jj,
         |       CAST(SUM(dk.deg * dk.deg) AS BIGINT) AS sum_kk
         |FROM (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und) s
         |JOIN deg dj ON dj.id = s.u
         |JOIN deg dk ON dk.id = s.v""".stripMargin, inCte = true),
    "kg_components" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${starCtes(8)}
         |SELECT u AS id, least(u, MIN(v)) AS component FROM fs GROUP BY u""".stripMargin,
      inCte = true),
    "kg_label_prop" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${lpaCtes(4)}
         |SELECT id, lbl FROM l4""".stripMargin, inCte = true),
    "kg_louvain" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${louvainCtes(2)}
         |SELECT id, c AS community FROM lc2""".stripMargin, inCte = true),
    "kg_louvain_w" -> TpchKgSql.withKg(
      s"""fcp AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE pred = 'contains'),
         |fok AS MATERIALIZED (SELECT src FROM fcp GROUP BY src HAVING COUNT(*) <= 1024),
         |fb AS MATERIALIZED (SELECT fcp.src, fcp.dst FROM fcp JOIN fok ON fok.src = fcp.src),
         |wund AS MATERIALIZED (
         |  SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM fb a JOIN fb b ON a.src = b.src AND a.dst < b.dst
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |${louvainWCtes(2)}
         |SELECT id, c AS community FROM lwc2""".stripMargin, inCte = true),
    "kg_densest" -> TpchKgSql.withKg(
      s"""$projCtes,
         |${densestCtes(12)}
         |SELECT id, peel_round,
         |       peel_round >= (SELECT i FROM dbest) AS in_densest
         |FROM dpeel""".stripMargin, inCte = true),
    "kg_tri_counts" -> TpchKgSql.withKg(
      s"""$triCtes
         |SELECT id, COUNT(*) AS tri_cnt
         |FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) t
         |GROUP BY 1""".stripMargin, inCte = true),
    "kg_transitivity" -> TpchKgSql.withKg(
      s"""$triCtes
         |SELECT (SELECT COUNT(*) FROM tri) AS triangles,
         |       (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) FROM deg) AS wedges""".stripMargin,
      inCte = true),
    "kg_local_cc" -> TpchKgSql.withKg(
      s"""$triCtes,
         |tc AS (SELECT id, COUNT(*) AS tri_cnt
         |       FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) t
         |       GROUP BY 1)
         |SELECT d.id, d.deg, COALESCE(tc.tri_cnt, 0) AS tri_cnt,
         |       CAST(COALESCE(tc.tri_cnt, 0) * 2.0 AS DOUBLE) / (d.deg * (d.deg - 1)) AS cc
         |FROM deg d LEFT JOIN tc USING (id) WHERE d.deg >= 2""".stripMargin,
      inCte = true),
    "kg_scc" -> TpchKgSql.withKg("SELECT id, id AS scc FROM nodes"),
    "kg_msf" -> {
      val hw = graft.core.Determinism.md5IntDuck("u || '|' || v")
      s"""WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 48),
         |ce AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM (
         |  SELECT CAST(i AS VARCHAR) AS a, CAST((i + 6) % 48 AS VARCHAR) AS b
         |  FROM ids)),
         |we AS MATERIALIZED (SELECT u, v, $hw % 1000 AS w FROM ce),
         |mx AS (SELECT u, v FROM (
         |  SELECT u, v, row_number() OVER (PARTITION BY CAST(u AS INT) % 6
         |     ORDER BY w DESC, u DESC, v DESC) AS rn FROM we) t WHERE rn = 1)
         |SELECT w.u, w.v, CAST(w.w AS BIGINT) AS w FROM we w
         |WHERE NOT EXISTS (SELECT 1 FROM mx WHERE mx.u = w.u AND mx.v = w.v)"""
        .stripMargin
    },
    "kg_katz" -> TpchKgSql.withKg({
      val rounds = (1 to 4).map { i =>
        s"""kz$i AS MATERIALIZED (
           |  SELECT e.dst AS id, CAST(SUM(t.t) AS BIGINT) AS t
           |  FROM kz${i - 1} t JOIN kge e ON e.src = t.id GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""kge AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |kz0 AS (SELECT id, CAST(1 AS BIGINT) AS t FROM nodes),
         |$rounds
         |SELECT n.id,
         |       CAST(COALESCE(a1.t, 0) * 8 + COALESCE(a2.t, 0) * 4
         |          + COALESCE(a3.t, 0) * 2 + COALESCE(a4.t, 0) AS BIGINT)
         |         AS katz_scaled
         |FROM nodes n
         |LEFT JOIN kz1 a1 ON a1.id = n.id
         |LEFT JOIN kz2 a2 ON a2.id = n.id
         |LEFT JOIN kz3 a3 ON a3.id = n.id
         |LEFT JOIN kz4 a4 ON a4.id = n.id""".stripMargin
    }, inCte = true),
    "kg_dag_layers" -> TpchKgSql.withKg({
      // the KG is a DAG (kg_scc pins scc = id), so the condensation is
      // the edge set itself; 8-round unroll ≥ 2× the 3-deep strata,
      // no-op rounds past the fixpoint
      val rounds = (1 to 8).map { i =>
        s"""dl$i AS MATERIALIZED (
           |  SELECT l.scc, GREATEST(l.layer, COALESCE(r.cand, 0)) AS layer
           |  FROM dl${i - 1} l LEFT JOIN (
           |    SELECT e.dst AS scc, MAX(l2.layer + 1) AS cand
           |    FROM dl${i - 1} l2 JOIN dce e ON e.src = l2.scc
           |    GROUP BY 1) r ON r.scc = l.scc)""".stripMargin
      }.mkString(",\n")
      s"""dce AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |dl0 AS (SELECT id AS scc, CAST(0 AS BIGINT) AS layer FROM nodes),
         |$rounds
         |SELECT n.id, n.id AS scc, CAST(l.layer AS BIGINT) AS layer
         |FROM nodes n JOIN dl8 l ON l.scc = n.id""".stripMargin
    }, inCte = true),
    "kg_scc_cycles" ->
      """WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 48)
        |SELECT CAST(i AS VARCHAR) AS id,
        |       (SELECT MAX(CAST(j.i AS VARCHAR)) FROM ids j WHERE j.i % 6 = ids.i % 6) AS scc
        |FROM ids""".stripMargin,
    "kg_coloring" -> {
      // misCtes' round shape MINUS the covered-neighborhood prune (only
      // winners retire — the Jones-Plassmann schedule); measured 4 waves
      // on the Δ=2 permutation graph, 8-round unroll (post-fixpoint
      // rounds are empty no-ops)
      val roundCtes = (1 to 8).map { i =>
        s"""gsym$i AS (
           |  SELECT u AS a, v AS b FROM ge${i - 1} UNION ALL SELECT v AS a, u AS b FROM ge${i - 1}),
           |gnm$i AS (
           |  SELECT s.a AS id, MIN(p.prio) AS nmin
           |  FROM gsym$i s JOIN ga${i - 1} p ON p.id = s.b GROUP BY s.a),
           |gw$i AS MATERIALIZED (
           |  SELECT a.id, $i AS color FROM ga${i - 1} a
           |  LEFT JOIN gnm$i n ON n.id = a.id
           |  WHERE n.nmin IS NULL OR a.prio < n.nmin),
           |ga$i AS MATERIALIZED (
           |  SELECT a.id, a.prio FROM ga${i - 1} a
           |  WHERE NOT EXISTS (SELECT 1 FROM gw$i w WHERE w.id = a.id)),
           |ge$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM ge${i - 1} e
           |  WHERE EXISTS (SELECT 1 FROM ga$i x WHERE x.id = e.u)
           |    AND EXISTS (SELECT 1 FROM ga$i y WHERE y.id = e.v))""".stripMargin
      }.mkString(",\n")
      val winners = (1 to 8).map(i => s"SELECT id, color FROM gw$i")
        .mkString("\n  UNION ALL ")
      s"""WITH cu AS MATERIALIZED (
         |  SELECT least(a, b) AS u, greatest(a, b) AS v FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS a,
         |           CAST((doc_id + 6) % 48 AS VARCHAR) AS b
         |    FROM documents WHERE doc_id < 48)),
         |ga0 AS MATERIALIZED (
         |  SELECT id, md5('11|' || id) || id AS prio FROM (
         |    SELECT u AS id FROM cu UNION SELECT v FROM cu) t),
         |ge0 AS MATERIALIZED (SELECT u, v FROM cu),
         |$roundCtes
         |SELECT id, color FROM ($winners) t""".stripMargin
    },
    "kg_nodes" -> TpchKgSql.nodes,
    "kg_edges" -> TpchKgSql.edges,
    "kg_attrs" -> TpchKgSql.attrs,
    "kg_types" -> TpchKgSql.types,
    "kg_abox_triples" -> TpchKgSql.aboxTriples,
    "kg_tbox_triples" -> TpchKgSql.tboxTriples,
    "kg_triples" -> TpchKgSql.triples,
    "kg_ntriples" -> TpchKgSql.triples,
    "kg_adjacency_codec" ->
      s"WITH e AS (${TpchKgSql.edges})\nSELECT DISTINCT src, dst FROM e",
    "kg_adjacency_merge" ->
      s"WITH e AS (${TpchKgSql.edges})\nSELECT DISTINCT src, dst FROM e",
    "kg_degree_dist" ->
      s"""WITH e AS (${TpchKgSql.edges}),
         |o AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
         |i AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY dst)
         |SELECT 'out' AS side, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM o GROUP BY deg
         |UNION ALL
         |SELECT 'in', deg, CAST(COUNT(*) AS BIGINT) FROM i GROUP BY deg""".stripMargin,
    "kg_abox_expression" -> TpchKgSql.withKg(
      """SELECT node AS subj, cls AS expr FROM types
        |UNION ALL
        |SELECT node, '∃' || prop || '.{' || lexical || '}' FROM attrs
        |UNION ALL
        |SELECT src, '∃' || pred || '.{' || dst || '}' FROM edges
        |UNION ALL
        |SELECT subj, '∃' || pred || '.' || cls FROM
        |  (SELECT e.src AS subj, e.pred, t.cls FROM edges e JOIN types t ON e.dst = t.node GROUP BY 1,2,3) g
        |UNION ALL
        |SELECT subj, '≥' || CAST(n AS VARCHAR) || ' ' || pred || '.' || cls FROM
        |  (SELECT e.src AS subj, e.pred, t.cls, COUNT(*) AS n FROM edges e JOIN types t ON e.dst = t.node GROUP BY 1,2,3) h
        |WHERE n > 1""".stripMargin))
}
