package graft.queries

import graft.core.Pin
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Front-end KG-construction pipeline surface (north_star stages), each
  * stage hash-checked against a DuckDB oracle that recomputes the expected
  * output arithmetically from the `documents` table. `fe_triples` is the
  * triple P/R ≥ 0.95 comparison surface — hash equality here means P = R = 1.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  // one pipeline checkpoint dir per (JVM, dataDir): later stage queries
  // resume from earlier stages' checkpoints instead of recomputing
  private val ckDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ck(dir: String): String =
    ckDirs.getOrElseUpdate(dir, KgPipeline.tempDir("graft_fe_"))

  // crawl-BFS seed doc ids (shared engine/oracle); 107 is the interesting
  // one — its hub edge jumps to doc 10, so the BFS genuinely branches
  private val CrawlSeeds = Seq(0, 41, 107)

  // planted crawl policy (shared engine/oracle semantics; the '*' group is
  // a decoy that must not apply to graftbot)
  private val GraftbotRobotsTxt =
    """User-agent: *
      |Disallow: /
      |Crawl-delay: 10
      |
      |Sitemap: https://ex.org/sitemap-index.xml
      |
      |User-agent: graftbot
      |Disallow: /doc/1
      |Allow: /doc/1$
      |Disallow: /doc/*7$
      |Crawl-delay: 2.5
      |
      |Sitemap: https://ex.org/sitemap-extra.xml
      |""".stripMargin

  // the canonical claim stream replayed arithmetically (shared by the
  // truth-discovery oracles): linked triples with BOTH entA_/entB_ subject
  // namespaces collapsed to the canonical entA_ id (what Canonicalize does
  // via the alias-catalog connected components), provenance url as src.
  // Rows are distinct per (src, subj, pred, obj) by construction — one
  // claim per (doc, pred) branch and urls are unique per doc — so the
  // oracle's COUNT(*) equals the engine's count over distinct claims.
  private val claimsCte =
    """cl AS MATERIALIZED (
      |  SELECT url AS src, 'entA_' || (doc_id % 97) AS subj, 'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj FROM docs
      |  UNION ALL SELECT url, 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM docs WHERE doc_id % 2 = 0
      |  UNION ALL SELECT url, 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM docs WHERE doc_id % 3 = 0)""".stripMargin

  // the planted hyperlink set, recomputed arithmetically (shared by the
  // host-graph / frontier / crawl-depth oracles)
  private val linksCte =
    """l AS MATERIALIZED (SELECT url AS src, 'https://ex.org/doc/' || (doc_id % 97) AS dst FROM docs
      |  UNION ALL SELECT url, 'https://ex.org/doc/' || (doc_id + 1) FROM docs
      |  UNION ALL SELECT url, 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id FROM docs)""".stripMargin

  // canonical (src page, subj, pred, obj) claim stream — the truth-
  // discovery input: provenance kept through linking + canonicalization
  private def canonicalClaims(s: SparkSession, d: String): DataFrame = {
    val linked = KgPipeline.run(s, d, ck(d), "linked")
    Canonicalize(linked, Pages.aliases(s), keep = Seq("url"))
      .withColumnRenamed("url", "src")
  }

  // fixture pages carrying structured markup, generated ARITHMETICALLY from
  // docs (SF-scaled, fully distributed — one projection, no driver data):
  // a JSON-LD block with a nested object (plus a malformed block FIRST on
  // every 10th doc that must be skipped whole without shifting node ids),
  // a microdata Article with meta/href/nested-itemscope value sources, and
  // two tables (headed + headerless). The parsers must invert all of it.
  private def structPages(s: SparkSession, d: String): DataFrame = {
    val docs = s.read.parquet(s"$d/documents.parquet")
    val k = col("doc_id") % 97
    val w = col("doc_id") % 13
    val html = concat(
      lit("<html><head>"),
      when(col("doc_id") % 10 === 0,
        lit("""<script type="application/ld+json">{"@type":"X","bad": }</script>"""))
        .otherwise(lit("")),
      lit("""<script type="application/ld+json">{"@type":"Person","name":"Ent """),
      k, lit("""","worksFor":{"@type":"Organization","name":"Org """), w,
      lit(""""},"age":"""), col("doc_id") % 80, lit("}</script></head>"),
      lit("""<body itemscope itemtype="https://schema.org/Article">"""),
      lit("""<span itemprop="author">Ent """), k, lit("</span>"),
      lit("""<meta itemprop="datePublished" content="2025-01-"""),
      col("doc_id") % 28 + 1, lit("\">"),
      lit("""<a itemprop="url" href=""""), col("url"), lit("\">x</a>"),
      lit("""<div itemprop="publisher" itemscope itemtype="https://schema.org/Organization"><span itemprop="name">Org """),
      w, lit("</span></div>"),
      lit("<table><tr><th>key</th><th>val</th></tr><tr><td>city</td><td>city_"),
      col("doc_id") % 31, lit("</td></tr><tr><td>country</td><td>country_"),
      col("doc_id") % 7, lit("</td></tr></table>"),
      lit("<table><tr><td>r1</td><td>"), col("doc_id"),
      lit("</td></tr></table></body></html>"))
    docs.select(concat(lit("https://ex.org/doc/"), col("doc_id")).as("url"),
      encode(html, "UTF-8").as("html"))
  }

  def queries: Map[String, Q] = Map(
    "fe_microdata" -> ((s, d) => Structured.microdata(structPages(s, d)).toDF()),
    "fe_jsonld" -> ((s, d) => Structured.jsonLd(structPages(s, d)).toDF()),
    "fe_web_tables" -> ((s, d) => Structured.tables(structPages(s, d)).toDF()),
    // markup → KG fusion: microdata claims (author --worksFor--> publisher
    // name, the "#k" item reference resolved for real) case-folded,
    // dictionary-linked, canonicalized, and UNIONed with the text-extracted
    // triples. Markup asserts worksFor on EVERY doc while text only does on
    // even doc_ids — the odd-doc rows exist only via this path, so the
    // fusion (and the reference resolution feeding it) is hash-load-bearing
    "fe_structured_triples" -> ((s, d) => {
      val md = Structured.microdata(structPages(s, d)).toDF()
      val authors = md.filter(col("prop") === "author")
        .select(col("url"), col("value").as("subjSurface"))
      val pubRef = md.filter(col("prop") === "publisher")
        .select(col("url"),
          expr("CAST(substring(value, 2) AS BIGINT)").as("item"))
      val orgName = md.filter(col("prop") === "name")
        .select(col("url"), col("item"), lower(col("value")).as("objSurface"))
      val mentions = authors
        .join(pubRef, Seq("url"))
        .join(orgName, Seq("url", "item"))
        .select(col("url"), col("subjSurface"), lit("worksFor").as("pred"),
          col("objSurface"))
      val markup = Canonicalize(Link(mentions, Pages.aliases(s)), Pages.aliases(s))
      KgPipeline.run(s, d, ck(d), "triples")
        .unionAll(markup.select(col("subj"), col("pred"), col("obj")))
        .distinct()
    }),
    // contextual disambiguation over an arithmetically planted ambiguity:
    // surface amb_(d%20) has candidates ea (prior 0.9) / eb (prior 0.3);
    // even docs carry TWO ca_* context mentions (c1 entities — ea's
    // neighborhood, coherence 2), odd docs ONE cb_* mention (c2 — eb's,
    // coherence 1). Odd docs must flip the prior on evidence; even docs
    // must count BOTH context entities. Every score replays in SQL.
    "fe_disambiguate" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(concat(lit("https://ex.org/doc/"), col("doc_id")).as("url"),
          col("doc_id"))
      val even = col("doc_id") % 2 === 0
      val mentions = docs.select(col("url"),
          concat(lit("amb_"), col("doc_id") % 20).as("surface"))
        .unionAll(docs.select(col("url"),
          concat(when(even, "ca_").otherwise("cb_"), col("doc_id") % 10)))
        .unionAll(docs.filter(even).select(col("url"),
          concat(lit("ca_"), (col("doc_id") + 3) % 10)))
      val candidates =
        (0 until 20).flatMap(k => Seq((s"amb_$k", s"ea_$k", 900000L),
            (s"amb_$k", s"eb_$k", 300000L)))
          .++((0 until 10).flatMap(j => Seq((s"ca_$j", s"c1_$j", 1000000L),
            (s"cb_$j", s"c2_$j", 1000000L))))
          .toDF("surface", "entity_id", "prior_micros")
      val edges =
        (for (k <- 0 until 20; j <- 0 until 10)
          yield Seq((s"ea_$k", s"c1_$j"), (s"eb_$k", s"c2_$j"))).flatten
          .toDF("src", "dst")
      Disambiguate.link(mentions, candidates, edges)
    }),
    "fe_pages" -> ((s, d) => KgPipeline.run(s, d, ck(d), "pages")
      .select(col("url"), col("warc_ts"), col("lang"), col("text"))),
    "fe_extract" -> ((s, d) => KgPipeline.run(s, d, ck(d), "extracted")),
    "fe_mentions" -> ((s, d) => KgPipeline.run(s, d, ck(d), "mentions")),
    "fe_linked" -> ((s, d) => KgPipeline.run(s, d, ck(d), "linked")),
    // NIL detection + clustering (TAC-KBP): the alias catalog is THINNED
    // (ent surfaces whose trailing int ≡ 0 mod 5, city surfaces ≡ 0 mod 11
    // dropped), so those mentions become genuinely unlinkable — each lands
    // in a deterministic NIL cluster keyed by md5(normalized surface);
    // both endpoints, flags, and pass-throughs all load-bearing
    "fe_linked_nil" -> ((s, d) => {
      val mentions = KgPipeline.run(s, d, ck(d), "mentions")
      val k = regexp_extract(col("entity_id"), "(\\d+)$", 1).cast("long")
      val aliases = Pages.aliases(s).filter(
        !(col("entity_id").rlike("^ent[AB]_") && k % 5 === 0) &&
          !(col("entity_id").rlike("^city_") && k % 11 === 0))
      Link.withNils(mentions, aliases)
    }),
    // type prediction for NIL entities: a brand-new entity has no asserted
    // type, but the predicate SIGNATURES it participates in entail one —
    // rdfs2/3 (domain/range) + the ⊑c closure over the pipeline TBox give
    // every nil: id its classes (nil ent subjects of bornIn/worksFor →
    // Entity ⊑ Thing; nil city ids — bornIn objects AND locatedIn
    // subjects — → City ⊑ Thing). Pure composition: withNils ∘
    // Entailment.entailedTypes, the new-entity onboarding step
    "fe_nil_types" -> ((s, d) => {
      val mentions = KgPipeline.run(s, d, ck(d), "mentions")
      val k = regexp_extract(col("entity_id"), "(\\d+)$", 1).cast("long")
      val aliases = Pages.aliases(s).filter(
        !(col("entity_id").rlike("^ent[AB]_") && k % 5 === 0) &&
          !(col("entity_id").rlike("^city_") && k % 11 === 0))
      val triples = Link.withNils(mentions, aliases)
        .select(col("subj_id").as("src"), col("pred"), col("obj_id").as("dst"))
        .distinct()
      import s.implicits._
      val kb = graft.core.Kb(
        nodes = triples.select(col("src").as("id"))
          .unionAll(triples.select(col("dst").as("id"))).distinct(),
        edges = triples,
        attrs = Seq.empty[(String, String, String, String)]
          .toDF("node", "prop", "lexical", "dtype"),
        types = Seq.empty[(String, String)].toDF("node", "cls"),
        tbox = Materialize.tbox)
      graft.core.Entailment.entailedTypes(kb)
        .filter(col("node").startsWith("nil:"))
    }),
    // dictionary-free alignment of the two linked namespaces (entA_* vs
    // entB_*) from shared-fact evidence alone — the PARIS path a pipeline
    // falls back to when no alias catalog exists; RA-weighted, top-3 per
    // a, every score exact integer micro-units
    "fe_align" -> ((s, d) => {
      val l = KgPipeline.run(s, d, ck(d), "linked")
        .select(col("subj_id").as("subj"), col("pred"), col("obj_id").as("obj"))
      Align.alignByEvidence(
        l.filter(col("subj").startsWith("entA_")),
        l.filter(col("subj").startsWith("entB_")))
    }),
    // truth discovery over the CONFLICTING canonical claims (the fixture
    // genuinely conflicts: docs with the same doc_id%97 subject assert
    // different doc_id%31 birth cities): 2-round iterative source-trust
    // voting in exact integer micro-units — round 1 is the uniform
    // majority, round 2 re-votes with each page's trust set to its
    // round-1 agreement rate; beliefs (and near-tie winners) shift, so
    // the iteration itself is hash-load-bearing
    "fe_truth" -> ((s, d) => Truth.resolve(canonicalClaims(s, d), rounds = 2)),
    // the SAME truth table via the STREAMING claim path: pages replayed as
    // a bounded stream, claims accumulated under batch-id-idempotent
    // appends, run TWICE with the second pass's checkpoint wiped so every
    // batch replays against the built store — the result must hash-equal
    // the batch fe_truth oracle verbatim (idempotence + the recompute
    // refresh contract, both load-bearing)
    "fe_stream_truth" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("stream_truth_").toString
      Pages.fromDir(s, d).write.mode("overwrite").parquet(s"$base/pages")
      val io = new graft.core.ParquetTableIO(s, s"$base/store")
      StreamingKg.runTruthAvailableNow(s, s"$base/pages", io, "tr", s"$base/ck1")
      StreamingKg.runTruthAvailableNow(s, s"$base/pages", io, "tr", s"$base/ck2")
    }),
    // the per-source trust table entering the final round — the
    // source-reliability byproduct (domain-quality / crawl-priority signal)
    "fe_truth_trust" -> ((s, d) =>
      Truth.sourceTrust(canonicalClaims(s, d), rounds = 2)),
    // temporal scoping: per canonical triple, first/last observing
    // snapshot + distinct-page support, from the ts-carrying extract →
    // mention → link → canonicalize chain (warc_ts rides the `keep`
    // pass-throughs; ONE aggregate at the end)
    "fe_fact_intervals" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val mentions = Mentions.withTs(Extract.withTs(pages)).toDF()
      val linked = Link(mentions, Pages.aliases(s), keep = Seq("warc_ts"))
      Truth.factIntervals(
        Canonicalize(linked, Pages.aliases(s), keep = Seq("url", "warc_ts")))
    }),
    // SCD-2 fact timeline over the same ts-carrying claims: per (subj,
    // pred), values versioned by first observation with [valid_from,
    // valid_until) intervals — subjects genuinely churn values (the %97 /
    // %31 cycles misalign), so versions, interval chaining, and the NULL
    // current-row are all hash-load-bearing
    "fe_fact_timeline" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val mentions = Mentions.withTs(Extract.withTs(pages)).toDF()
      val linked = Link(mentions, Pages.aliases(s), keep = Seq("warc_ts"))
      Truth.factTimeline(
        Canonicalize(linked, Pages.aliases(s), keep = Seq("warc_ts")))
    }),
    // temporal conflict detection: per-source SCD-2 timelines (sources =
    // deterministic mirror groups m0..m3 over the url key, so per-source
    // successions have REAL non-null valid_untils) self-joined on the
    // data item — overlapping intervals with disagreeing values, the
    // disagreement surface fe_truth votes away, reported instead
    "fe_interval_conflicts" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val mentions = Mentions.withTs(Extract.withTs(pages)).toDF()
      val linked = Link(mentions, Pages.aliases(s), keep = Seq("url", "warc_ts"))
      val claims = Canonicalize(linked, Pages.aliases(s), keep = Seq("url", "warc_ts"))
        .withColumn("src", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("m"),
          org.apache.spark.sql.functions.expr("CAST(substr(url, 20) AS BIGINT) % 4")))
      Truth.intervalConflicts(Truth.sourceTimeline(claims))
    }),
    // temporal as-of view over the SCD-2 timeline: the KG a reader at
    // t = +120 s could have known — versions straddling the cutoff are
    // served, versions first observed later are absent, superseded
    // versions are excluded (all three cases populated at every sf)
    "fe_facts_asof" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val mentions = Mentions.withTs(Extract.withTs(pages)).toDF()
      val linked = Link(mentions, Pages.aliases(s), keep = Seq("warc_ts"))
      Truth.factsAsOf(
        Truth.factTimeline(Canonicalize(linked, Pages.aliases(s), keep = Seq("warc_ts"))),
        java.sql.Timestamp.valueOf("2025-01-01 00:02:00"))
    }),
    // N-Quads interchange roundtrip for the provenance-carrying claim
    // stream (named-graph-per-source): render → text files → parse must be
    // the identity on (src, subj, pred, obj) — the claims oracle applies
    // verbatim, so a mangled escape, a swapped term, or a lost line breaks
    // the hash
    "fe_nquads_roundtrip" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_nq_").toString
      graft.sources.NTriples.writeQuads(canonicalClaims(s, d), dir)
      graft.sources.NTriples.readQuads(s, dir)
    }),
    "fe_canonical_map" -> ((s, d) => Canonicalize.canonicalMap(Pages.aliases(s))),
    // the MinHash-LSH-blocked canonicalization path end-to-end (bands →
    // Jaccard verify → CC) composed with the exact key: the synthetic
    // catalog's closest surface pair is "Entity k" / "Entity k0" at
    // shingle-Jaccard 6/7 ≈ 0.857 (the true alias pair "Ent k"/"Entity k"
    // sits at ≈ 0.13), so at threshold 0.9 no pair survives the verify and
    // the result must equal the exact-key canonical map — the
    // fe_canonical_map oracle applies verbatim; any spurious fuzzy link or
    // lost entity breaks the hash
    "fe_canonical_fuzzy" -> ((s, d) =>
      Canonicalize.fuzzyCanonicalMap(Pages.aliases(s), threshold = 0.9,
        alsoExactKey = true)),
    "fe_triples" -> ((s, d) => KgPipeline.run(s, d, ck(d), "triples")),
    // recrawl dedup: newest snapshot per CANONICAL url. Recrawls are
    // planted so the normalization itself is load-bearing: every 3rd page
    // gets a NEWER snapshot under an uppercased host + explicit :443 +
    // utm param (must win, under the BASE canonical url), every 5th an
    // OLDER one under a #fragment variant (must lose). One map-side-
    // partial max(struct) aggregate — no window, no join.
    // hyperlink-graph extraction from raw html (the web-graph artifact of a
    // crawl ingest): every <a href> anchor as a (src, dst) edge — hub links
    // (id % 97, skewed in-degree incl. self-loops below 97), the next-chain
    // (dangling at the frontier) and cross-host cdn links all come back or
    // the hash breaks
    "fe_link_graph" -> ((s, d) =>
      LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()),
    // host-level quotient with multiplicity — one partial aggregate over
    // the page-level edges; the engine must PARSE hosts from urls, the
    // oracle recomputes them with the same regex over the arithmetic links
    "fe_host_graph" -> ((s, d) =>
      LinkGraph.hostGraph(
        LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF())),
    // anchor text (the entity-linking / retrieval training signal the web
    // graph carries): every closed <a> element as (src, dst, anchor) —
    // inner tags stripped, whitespace collapsed; planted texts are the
    // constants hub/next/cdn so a parser that mangles the element body or
    // swaps href/text mismatches
    "fe_anchor_text" -> ((s, d) =>
      LinkGraph.anchors(KgPipeline.run(s, d, ck(d), "pages")).toDF()),
    // crawl frontier: link targets never fetched, with in-reference counts
    // (the crawler's scheduling priority) — aggregate-then-anti, so the
    // probe side is |discovered urls|, never |links|. By construction:
    // every cdn url (different host), plus the single next-chain target
    // one past the max crawled doc
    // redirect/pagination chain resolution (Wyllie pointer doubling over
    // the functional next-link relation): the planted next-chain is a
    // DELIBERATE worst case — ONE length-n chain — resolved in
    // ceil(log2 n)+1 self-joins instead of n sequential probes; the
    // oracle knows terminal + per-row hop counts arithmetically
    "fe_redirects" -> ((s, d) => Redirects.resolveChains(
      LinkGraph.anchors(KgPipeline.run(s, d, ck(d), "pages")).toDF()
        .filter(col("anchor") === "next").select(col("src"), col("dst")))),
    // OWL-RL prp-trp materialization (Entailment.transitiveClosure): path
    // doubling (R ∪ R∘R per round, O(log diameter) shuffle barriers) over
    // the same planted next-chain, bounded to doc ids ≤ 255 so the closure
    // is C(256,2) = 32,640 pairs at EVERY sf — 9 engine rounds, a genuinely
    // deep fixpoint; the oracle unrolls 10 idempotent doubling rounds
    "fe_trans_closure" -> ((s, d) => graft.core.Entailment.transitiveClosure(
      LinkGraph.anchors(KgPipeline.run(s, d, ck(d), "pages")).toDF()
        .filter(col("anchor") === "next")
        .filter(org.apache.spark.sql.functions
          .regexp_extract(col("dst"), "(\\d+)$", 1).cast("long") <= 255)
        .select(col("src"), col("dst")))),
    // transitive reduction applied to the CLOSURE of the planted chain:
    // the C(256,2)-pair closed relation collapses back to exactly the
    // 255 generator edges — closure ∘ reduction invertibility as the
    // gate (the fusion-hygiene pass that keeps merged subsumption
    // relations minimal)
    "fe_trans_reduction" -> ((s, d) => graft.core.Entailment.transitiveReduction(
      graft.core.Entailment.transitiveClosure(
        LinkGraph.anchors(KgPipeline.run(s, d, ck(d), "pages")).toDF()
          .filter(col("anchor") === "next")
          .filter(org.apache.spark.sql.functions
            .regexp_extract(col("dst"), "(\\d+)$", 1).cast("long") <= 255)
          .select(col("src"), col("dst"))))),
    "fe_frontier" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      LinkGraph.frontier(LinkGraph.links(pages).toDF(), pages)
    }),
    // robots.txt crawl-policy filter (RFC 9309): a planted policy for
    // agent 'graftbot' — prefix disallow /doc/1, exact $-anchored allow
    // outranking it for doc 1 itself, wildcard *7$ disallow, a decoy *
    // group that must NOT apply — filters the crawled urls; the oracle
    // recomputes the surviving set with decimal-string arithmetic, so
    // group selection, longest-match precedence, and both wildcard forms
    // are all load-bearing
    // politeness-scheduled fetch plan over the frontier: per-host FIFO by
    // (n_refs desc, url) with one fetch per second — slot and fetch time
    // are window arithmetic, replayed exactly in the oracle
    "fe_crawl_schedule" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      LinkGraph.schedule(
        LinkGraph.frontier(LinkGraph.links(pages).toDF(), pages), 1000L)
    }),
    // per-host Crawl-delay overrides riding the fetch plan: cdn1 paces at
    // 2.5 s (a robots-harvested override), every other host at the 1 s
    // default — the Robots.crawlDelay → scheduler wiring, slot order
    // untouched
    "fe_crawl_delay" -> ((s, d) => {
      import s.implicits._
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val delays = Seq(("cdn1.ex-assets.net", 2500L)).toDF("host", "delay_ms")
      LinkGraph.schedule(
        LinkGraph.frontier(LinkGraph.links(pages).toDF(), pages),
        1000L, Some(delays))
    }),
    // anchor-text EL dictionary (Spitkovsky-Chang): per anchor the top-3
    // targets with link counts + integer commonness P(dst|anchor) — 'hub'
    // spreads over 97 targets with near-uniform-but-not-equal counts (the
    // remainder docs make top-3 selection binding), 'next'/'cdn' targets
    // are singletons cut by the (n desc, dst) total order
    "fe_anchor_dict" -> ((s, d) =>
      LinkGraph.anchorDict(
        LinkGraph.anchors(KgPipeline.run(s, d, ck(d), "pages")).toDF(), 3)),
    // anchor-text index: top-3 anchor terms per link target — the planted
    // constant anchors make every (dst, term, n) row arithmetically known
    "fe_anchor_index" -> ((s, d) =>
      LinkGraph.anchorIndex(
        LinkGraph.anchors(KgPipeline.run(s, d, ck(d), "pages")).toDF(), 3)),
    "fe_robots_filter" -> ((s, d) => {
      val rules = Robots.parse(GraftbotRobotsTxt, "graftbot")
      Robots.filterAllowed(
        KgPipeline.run(s, d, ck(d), "pages").select("url"), rules)
    }),
    // robots metadata beyond the filter rules: GLOBAL Sitemap discovery
    // (both lines, order preserved, agent-independent) + group-scoped
    // Crawl-delay (graftbot gets its own 2.5, an unmatched agent falls to
    // the * group's 10.0 — group selection load-bearing on both branches)
    "fe_robots_meta" -> ((s, _) => {
      import org.apache.spark.sql.Encoders
      val sm = Robots.sitemapUrls(GraftbotRobotsTxt)
        .zipWithIndex.map { case (u, i) => (s"sitemap_$i", u) }
      val cd = Robots.crawlDelay(GraftbotRobotsTxt, "graftbot")
        .map(v => ("crawl_delay_graftbot", v.toString)).toSeq
      val cdStar = Robots.crawlDelay(GraftbotRobotsTxt, "otherbot")
        .map(v => ("crawl_delay_other", v.toString)).toSeq
      s.createDataset(sm ++ cd ++ cdStar)(
        Encoders.tuple(Encoders.STRING, Encoders.STRING)).toDF("kind", "value")
    }),
    // sitemap discovery end-to-end: shard urlsets GENERATED from the
    // pages table (ordered collect per shard — the spec's 50k-url cap is
    // the per-group bound), a literal <sitemapindex> expanded via
    // indexChildren, entries() parsing every field back out, and the
    // crawled-set probe. One planted uncrawled loc per shard makes the
    // frontier flag binding; the oracle recomputes every row
    // arithmetically from docs, so generator AND parser must invert
    // exactly (the WARC-roundtrip pattern)
    "fe_sitemap" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val docId = regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long")
      val entryXml = concat(
        lit("<url><loc>"), col("url"), lit("</loc>"),
        lit("<lastmod>"), date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        lit("</lastmod>"),
        when(docId % 4 === 0, lit("<changefreq>daily</changefreq>")).otherwise(lit("")),
        when(docId % 3 === 0, lit("<priority>0.8</priority>")).otherwise(lit("")),
        lit("</url>"))
      val shards = pages
        .select((docId % 5).as("shard"), docId.as("doc_id"), entryXml.as("xml"))
        .groupBy(col("shard"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("xml")))),
          x => x.getField("xml")), "").as("es"))
        .select(
          concat(lit("https://ex.org/sitemap/"), col("shard"), lit(".xml")).as("url"),
          concat(lit("<urlset>"), col("es"),
            lit("<url><loc>https://ex.org/new/"), col("shard"),
            lit("</loc><priority>1.0</priority></url></urlset>")).as("body"))
      val indexXml = (0 until 5)
        .map(i => s"<sitemap><loc>https://ex.org/sitemap/$i.xml</loc></sitemap>")
        .mkString("<sitemapindex>", "", "</sitemapindex>")
      import s.implicits._
      val index = Seq(("https://ex.org/sitemap_index.xml", indexXml)).toDF("url", "body")
      val fetched = Sitemaps.indexChildren(index)
        .join(shards, col("child_loc") === col("url")).select("url", "body")
      Sitemaps.entries(fetched)
        .join(pages.select(col("url").as("loc"), lit(true).as("known")), Seq("loc"), "left")
        .select(col("loc"), col("lastmod"), col("changefreq"), col("priority_milli"),
          coalesce(col("known"), lit(false)).as("known"))
    }),
    // WARC interchange roundtrip: the REAL pages table rendered as
    // ISO-28500 response records (one file per partition), parsed back by
    // the file-per-task reader, reduced to (url, ts, md5(html)) — the
    // oracle recomputes the md5 over the reconstructed html STRING, so a
    // single corrupted payload byte, header mangling, or timestamp drift
    // through the Content-Length framing breaks the hash
    "fe_warc_roundtrip" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val wdir = java.nio.file.Files.createTempDirectory("graft_warc_").toString
      graft.sources.Warc.write(pages.select("url", "warc_ts", "html"), wdir)
      graft.sources.Warc.read(s, wdir)
        .select(col("url"), col("warc_ts"), md5(col("html")).as("html_md5"))
    }),
    // WET sidecar roundtrip (CC extracted-text conversion records): the
    // byte-identical extracted text through writeWet → readWet — the oracle
    // recomputes md5 over the reconstructed text, so one corrupted byte in
    // framing or UTF-8 decode breaks the hash
    "fe_wet_roundtrip" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val wdir = java.nio.file.Files.createTempDirectory("graft_wet_").toString
      graft.sources.Warc.writeWet(Extract.withTs(pages).toDF(), wdir)
      graft.sources.Warc.readWet(s, wdir)
        .select(col("url"), col("warc_ts"), md5(col("text")).as("text_md5"))
    }),
    // WAT sidecar roundtrip (the CC trio's third): per-page JSON metadata
    // envelopes (title + outgoing links with anchor text) through
    // Wat.write → Wat.read — the oracle recomputes title and all three
    // planted links arithmetically, so envelope rendering, JSON escaping,
    // record framing, AND the strict parse-back must all invert exactly
    "fe_wat_roundtrip" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val wdir = java.nio.file.Files.createTempDirectory("graft_wat_").toString
      Wat.write(pages.select("url", "warc_ts", "html"), wdir)
      Wat.read(s, wdir)
    }),
    // blank-node N-Triples ingest (RDF 1.1 §3.5 skolemization): a planted
    // one-document line stream where labels CO-REFER across lines (l2's
    // _:m(id%50) is l1's _:m(id) node for id<50) and a literal rides a
    // blank subject; skolem = 'genid:' + 16 hex of md5(scope|label) —
    // md5 hex is byte-identical in DuckDB, so ingest is fully oracled
    "fe_nt_blanks" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val l1 = docs.select(concat(lit("_:m"), col("doc_id"),
        lit(" <urn:graft:mentions> <urn:graft:city_"),
        pmod(col("doc_id"), lit(31)), lit("> .")).as("value"))
      val l2 = docs.select(concat(lit("<urn:graft:doc_"), col("doc_id"),
        lit("> <urn:graft:hasNode> _:m"), pmod(col("doc_id"), lit(50)), lit(" .")).as("value"))
      val l3 = docs.select(concat(lit("_:m"), col("doc_id"),
        lit(" <urn:graft:score> \""), pmod(col("doc_id"), lit(7)),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#int> .")).as("value"))
      graft.sources.NTriples.parseBlanks(
        l1.unionAll(l2).unionAll(l3)
          .as[String](org.apache.spark.sql.Encoders.STRING), scope = "fixture")
    }),
    // PageRank over the page-level web graph (the cc-webgraph ranking
    // artifact), via LinkGraph.asKb — property row in the
    // smp_pagerank_props mold (distributed float sums don't replay in
    // SQL), plus the structural assertion the planted topology makes
    // sharp: the top-10 ranked pages are all hub targets (doc id < 97,
    // in-degree ~N/97 vs ≤2 everywhere else)
    "fe_page_rank" -> ((s, d) => {
      val links = LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
      val kb = LinkGraph.asKb(links)
      val pr = graft.sample.PageRank.compute(kb, iterations = 20)
      val n = kb.nodes.count()
      val top = pr.orderBy(col("pr").desc, col("id")).limit(10)
        .withColumn("docn", regexp_extract(col("id"), "doc/(\\d+)$", 1).cast("long"))
      pr.agg(
        (count(lit(1)) === n).as("count_ok"),
        (sum(col("pr")) <= n.toDouble).as("mass_leaky"),
        (min(col("pr")) > 0.0).as("positive")).crossJoin(
        top.agg((count(lit(1)) === 10 && max(col("docn")) < 97)
          .as("hubs_dominate")))
    }),
    // WEIGHTED PageRank over the host quotient (cc-webgraph's host-rank
    // artifact): multiplicities ride as edge weights — a host pair with
    // 10⁹ links is ONE weighted edge, never replicated rows. Property
    // row (float fixed points don't replay in SQL): full cover, leaky
    // mass, positivity, and the main content host outranking every cdn
    "fe_host_rank" -> ((s, d) => {
      val links = LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
      val hg = LinkGraph.hostGraph(links)
      val nodes = hg.select(col("src_host").as("id"))
        .unionAll(hg.select(col("dst_host").as("id"))).distinct()
      val pr = graft.sample.PageRank.computeWeighted(nodes,
        hg.select(col("src_host").as("src"), col("dst_host").as("dst"),
          col("n_links").as("w")), iterations = 20)
      val n = nodes.count()
      pr.agg(
        (count(lit(1)) === n).as("count_ok"),
        (sum(col("pr")) <= n.toDouble).as("mass_leaky"),
        (min(col("pr")) > 0.0).as("positive")).crossJoin(
        pr.orderBy(col("pr").desc, col("id")).limit(1)
          .select((col("id") === "ex.org").as("top_is_main_host")))
    }),
    // HITS over the same graph: hubs/authorities separate crawl DIRECTORY
    // pages from CONTENT pages — property row: both score vectors are
    // unit-L2 (±1e-9), non-negative, and the top-10 authorities are all
    // hub-target docs
    "fe_hits" -> ((s, d) => {
      val links = LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
      val ha = graft.sample.Hits.compute(links, iterations = 20)
      val top = ha.orderBy(col("auth").desc, col("id")).limit(10)
        .withColumn("docn", regexp_extract(col("id"), "doc/(\\d+)$", 1).cast("long"))
      ha.agg(
        (abs(sum(col("hub") * col("hub")) - 1.0) < 1e-9).as("hub_unit"),
        (abs(sum(col("auth") * col("auth")) - 1.0) < 1e-9).as("auth_unit"),
        (min(col("hub")) >= 0.0 && min(col("auth")) >= 0.0).as("nonneg")).crossJoin(
        top.agg((count(lit(1)) === 10 && max(col("docn")) < 97)
          .as("auth_are_hubs")))
    }),
    // incremental re-rank after a recrawl: PageRank over the v1 link graph
    // (5% hash-planted edge delta removed), then the FULL graph re-ranked
    // cold vs warm-started from the v1 fixed point at the same tol.
    // Property row (float fixed points don't replay in SQL): the warm start
    // must use STRICTLY fewer sweeps, land on the same fixed point
    // (L1 ≤ 1e-6 ≫ the measured ~1e-9), cover every node, stay positive —
    // and on this cyclic graph the saving must be real (≥ 25% fewer)
    "fe_pr_incremental" -> ((s, d) => {
      val links = LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
      val kb = LinkGraph.asKb(links)
      val delta = pmod(xxhash64(col("src"), col("dst")), lit(20)) === 0
      val kb1 = kb.copy(edges = kb.edges.filter(!delta))
      val empty = kb.nodes.select(col("id"), lit(1.0).as("pr")).limit(0)
      val (pr1, _) = graft.sample.PageRank.computeFrom(kb1, empty)
      val (cold, sCold) = graft.sample.PageRank.computeFrom(kb, empty)
      val (warm, sWarm) = graft.sample.PageRank.computeFrom(kb, pr1)
      val l1 = cold.withColumnRenamed("pr", "pc").join(warm, Seq("id"))
        .agg(sum(abs(col("pr") - col("pc")))).first().getDouble(0)
      val n = kb.nodes.count()
      warm.agg(
        (count(lit(1)) === n).as("count_ok"),
        (min(col("pr")) > 0.0).as("positive")).crossJoin(
        s.range(1).select(
          lit(sWarm < sCold).as("warm_fewer"),
          lit(4L * sWarm <= 3L * sCold).as("warm_saves_quarter"),
          lit(l1 <= 1e-6).as("same_fixpoint")))
        .select(col("count_ok"), col("positive"), col("warm_fewer"),
          col("warm_saves_quarter"), col("same_fixpoint"))
    }),
    // the same frontier through the Bloom-prefilter path (the 10¹²-url
    // visited-set shape): might_contain rejects are definitely-uncrawled
    // and skip the anti-join; possibles are exactly re-checked — result
    // must hash-equal fe_frontier, so a silently-dropped false positive
    // fails the gate. fpp forced high (0.2) to make the re-check binding.
    "fe_frontier_bloom" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      LinkGraph.frontierBloom(LinkGraph.links(pages).toDF(), pages, fpp = 0.2)
    }),
    // co-citation (Small '73: targets cited together by one page) and
    // bibliographic coupling (Kessler '63: pages citing a shared target)
    // — both as the degree-capped wedge join the engine already ships for
    // market baskets, composed over the web graph
    // bowtie decomposition (Broder WWW'00) over the crawl's link graph with
    // planted IN / TENDRIL / TUBE / DISC attachments so every region is
    // non-empty and arithmetically known: the crawled docs are one SCC (the
    // %97 hub back-edges close every forward chain walk), the chain tip and
    // cdn urls are OUT, in_k reach doc/0, t_k hang off IN, tube_k bridge
    // IN→OUT avoiding the core, d_k pairs are disconnected
    "fe_bowtie" -> ((s, d) => {
      val pages = KgPipeline.run(s, d, ck(d), "pages")
      val links = LinkGraph.links(pages).toDF().select("src", "dst")
      import s.implicits._
      // Scc/reachability rounds are diameter-bound — right for the real
      // web (diameter ~16-20) but the synthetic next-chain is a 500-hop
      // path, a shape no crawl has. Doubling shortcuts i → 2i mod (N-1)
      // cut the crawled subgraph's diameter to O(log N) WITHOUT touching
      // the decomposition: they stay inside the giant SCC, so the oracle's
      // region arithmetic is unchanged.
      val n = pages.count().toInt
      val shortcuts = (0 until n).map(i =>
        (s"https://ex.org/doc/$i", s"https://ex.org/doc/${(2 * i) % (n - 1)}"))
        .toDF("src", "dst")
      val planted = (0 until 10).flatMap { k => Seq(
        (s"https://in.ex.org/$k", "https://ex.org/doc/0"),
        (s"https://in.ex.org/$k", s"https://tendril.ex.org/$k"),
        (s"https://in.ex.org/$k", s"https://tube.ex.org/$k"),
        (s"https://tube.ex.org/$k", "https://cdn0.ex-assets.net/p/0"),
        (s"https://disc.ex.org/a$k", s"https://disc.ex.org/b$k"))
      }.toDF("src", "dst")
      val all = links.unionAll(shortcuts).unionAll(planted)
      val nodes = all.select(col("src").as("id"))
        .unionAll(all.select(col("dst").as("id"))).distinct()
      graft.sample.Bowtie.regions(all, nodes)
    }),
    "fe_cocitation" -> ((s, d) => graft.sample.GraphMetrics.frequentPairs(
      LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
        .withColumn("pred", lit("links")), "links", minSupport = 1)),
    "fe_coupling" -> ((s, d) => graft.sample.GraphMetrics.frequentPairs(
      LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
        .select(col("dst").as("src"), col("src").as("dst"), lit("links").as("pred")),
      "links", minSupport = 1)),
    // bounded crawl BFS (crawl-to-depth-D scheduling): first-reach depth
    // of every url within 4 hops of a 3-seed set over the REAL extracted
    // link graph — Paths.closureFrom semi-naive rounds with the new
    // depthLimit stop (an unconverged crawl is the normal case). The
    // oracle unrolls the same 4 rounds with the same first-reach/anti
    // semantics, so a wrong frontier or off-by-one depth hash-mismatches
    "fe_crawl_depth" -> ((s, d) => {
      val links = LinkGraph.links(KgPipeline.run(s, d, ck(d), "pages")).toDF()
      val edges = links.select(col("src"), lit("links").as("pred"), col("dst"))
      val seeds = CrawlSeeds.map(i => s"https://ex.org/doc/$i")
      val reach = graft.core.Paths.closureFrom(
        edges, graft.core.PathExpr.Pred("links"), seeds,
        maxRounds = 8, depthLimit = Some(4))
      val seedDf = s.createDataFrame(
        s.sparkContext.parallelize(seeds.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url",
            org.apache.spark.sql.types.StringType))))
        .withColumn("dist", lit(0))
      seedDf.unionByName(
        reach.withColumnRenamed("node", "url")
          .join(seedDf.select("url"), Seq("url"), "left_anti"))
    }),
    // C4 sentence-level dedup over the EXTRACTED corpus: the fact
    // sentences repeat across pages by construction (doc_id % 97 / % 31 /
    // % 13 collisions), so the global first-occurrence pick is binding on
    // hundreds of rows — later repeats must vanish, firsts must survive
    "td_sentence_dedup" -> ((s, d) => {
      val ext = Extract(KgPipeline.run(s, d, ck(d), "pages")).toDF()
        .withColumn("docn", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
      graft.text.Curation.sentenceDedup(ext, idCol = "docn")
    }),
    // recrawl changeset: two crawls with different coverage holes (v1 never
    // fetched doc_id % 5 = 4, v2 lost doc_id % 7 = 3) run through the REAL
    // extract → link → canonicalize kernels, then diffed as one
    // partial-aggregate shuffle — the incremental-maintenance primitive.
    // A triple flips only when NO surviving doc still asserts it, so the
    // oracle's EXCEPT replay checks cross-doc assertion counting too.
    "fe_changeset" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val als = Pages.aliases(s)
      val v1 = KgPipeline.triplesOf(
        Pages.fromDocuments(docs.filter(col("doc_id") % 5 =!= 4)), als)
      val v2 = KgPipeline.triplesOf(
        Pages.fromDocuments(docs.filter(col("doc_id") % 7 =!= 3)), als)
      Materialize.changeset(v1, v2)
    }),
    // version roll: v1 + changeset(v1→v2) must equal v2 EXACTLY (the v2
    // oracle applies verbatim), and rolling v2 back with the inverted
    // changeset must equal v1 — asserted in-query so a broken anti-join
    // fails loudly rather than hash-mismatching downstream
    "fe_changeset_apply" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val als = Pages.aliases(s)
      val v1 = Pin(KgPipeline.triplesOf(
        Pages.fromDocuments(docs.filter(col("doc_id") % 5 =!= 4)), als)).df
      val v2 = Pin(KgPipeline.triplesOf(
        Pages.fromDocuments(docs.filter(col("doc_id") % 7 =!= 3)), als)).df
      val cs = Pin(Materialize.changeset(v1, v2)).df
      val rolledBack = Materialize.applyChangeset(v2,
        Materialize.invertChangeset(cs))
      require(Materialize.changeset(rolledBack, v1).isEmpty,
        "inverted changeset did not roll v2 back to v1")
      Materialize.applyChangeset(v1, cs)
    }),
    "fe_snapshot_latest" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      def pagesOf(df: org.apache.spark.sql.DataFrame) =
        Pages.fromDocuments(df).select(col("url"), col("warc_ts"),
          col("text"), col("lang"))
      val base = pagesOf(docs)
      val v2 = pagesOf(docs.filter(col("doc_id") % 3 === 0)).select(
        concat(regexp_replace(col("url"), "^https://ex\\.org", "HTTPS://EX.ORG:443"),
          lit("?utm_src=x")).as("url"),
        (col("warc_ts") + expr("INTERVAL 1 HOUR")).as("warc_ts"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"))
      val v0 = pagesOf(docs.filter(col("doc_id") % 5 === 0)).select(
        concat(col("url"), lit("#frag")).as("url"),
        (col("warc_ts") - expr("INTERVAL 1 HOUR")).as("warc_ts"),
        concat(col("text"), lit(" v0")).as("text"), col("lang"))
      Pages.latestSnapshots(base.unionAll(v2).unionAll(v0))
        .select(col("url_norm"),
          date_format(col("warc_ts"), "yyyy-MM-dd HH:mm:ss").as("warc_ts"),
          col("url"), col("text"), col("lang"))
    }),
    "fe_lineage_counts" -> ((s, d) => {
      KgPipeline.run(s, d, ck(d), "triples") // ensure all stages ran
      // stage totals from the _total_ lineage rows; ALSO assert the lineage
      // integrity equation (Σ per-file rows == total row) in-query, so a
      // drifting write-pass checksum path cannot silently pass the gate
      val perFile = Lineage.read(s, ck(d))
        .filter(col("file") =!= Lineage.TotalFile)
        .groupBy("stage").agg(sum(col("rows")).as("file_rows"))
      // the filter IS the assertion: an inconsistent stage loses its row
      // and the oracle's row-count match fails
      Lineage.totals(s, ck(d))
        .join(perFile, Seq("stage"))
        .filter(col("rows") === col("file_rows"))
        .select(col("stage"), col("rows").as("total_rows"))
    }),
    "fe_media_meta" -> ((s, d) => Media(KgPipeline.run(s, d, ck(d), "pages")).toDF()),
    // REAL image decode through the same typed-mapPartitions stage:
    // deterministic PNG/JPEG fixtures (ImageIO-encoded driver-side with
    // known dimensions) ride the binary column and come back with
    // header-decoded width/height/format — the oracle pins the exact
    // dimensions, so a silently-engaged stub (whose fake dims derive from
    // byte length) hash-mismatches. n_bytes is excluded: encoder output
    // size is JDK-internal, not portable arithmetic.
    "fe_media_decode" -> ((s, d) => {
      val imgs = (0 until 4).map { i =>
        val (w, h) = (16 + i, 9 + 2 * i)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, if (i % 2 == 0) "png" else "jpg", baos)
        (s"img://$i", baos.toByteArray)
      }
      Media(s.createDataFrame(imgs).toDF("url", "html")).toDF()
        .select("url", "width", "height", "format")
    }),
    // audio/video HEADER metadata through the same typed-mapPartitions
    // stage: hand-built WAV (RIFF chunks, incl. an odd-size LIST chunk
    // exercising even-padding) and MP4 (ftyp + moov/mvhd v0 AND v1 + trak)
    // fixtures with arithmetic-known duration/rate/track values, plus a
    // non-media payload that must degrade per-row to 'unknown'. The oracle
    // pins the exact header-derived values, so a parser that mis-walks the
    // chunk/box structure hash-mismatches.
    "fe_media_av" -> ((s, d) => {
      val fx = Seq(
        ("av://0", wavBytes(channels = 1, sampleRate = 8000, dataBytes = 8000,
          listChunk = false)),
        ("av://1", wavBytes(channels = 2, sampleRate = 44100, dataBytes = 44100,
          listChunk = true)),
        ("av://2", mp4Bytes(mvhdVersion = 0, timescale = 600, duration = 3000L,
          tracks = 2)),
        ("av://3", mp4Bytes(mvhdVersion = 1, timescale = 90000, duration = 630000L,
          tracks = 1)),
        ("av://4", "<html><body>not media</body></html>".getBytes("UTF-8")))
      Media.av(s.createDataFrame(fx).toDF("url", "html")).toDF()
    }),
    // the SAME canonical-triple set via INCREMENTAL batched merges into the
    // materialized store (Materialize.merge): three overlapping batches +
    // a full replay of batch 1. Exactly-once store semantics make the final
    // edge set equal the from-scratch distinct build — the fe_triples
    // oracle applies with materialized column names; a duplicate append or
    // a lost edge breaks the hash, and the replay's (0,0) MergeStats is
    // asserted in-query so a broken anti-join fails loudly.
    "fe_merge_triples" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("merge_kg_").toString
      val io = new graft.core.ParquetTableIO(s, base)
      val triples = KgPipeline.run(s, d, ck(d), "triples")
      val half = pmod(xxhash64(col("subj")), lit(2)) === 0
      val b1 = triples.filter(half)
      Materialize.merge(io, "kg", b1)
      Materialize.merge(io, "kg", triples.filter(pmod(xxhash64(col("obj")), lit(3)) === 0))
      val replay = Materialize.merge(io, "kg", b1)
      require(replay.newEdges == 0 && replay.newNodes == 0,
        s"replayed batch appended rows: $replay")
      Materialize.merge(io, "kg", triples.filter(!half))
      io.read("kg/edges").select("src", "pred", "dst")
    }),
    // the SAME canonical-triple set via the Structured Streaming pipeline:
    // pages parquet replayed as a bounded stream, drained exactly-once with
    // Trigger.AvailableNow into a parquet sink. The 7-day lateness bound
    // exceeds the synthetic corpus's event-time span at every sf ≤ 1, so
    // the watermarked dedup equals the batch global distinct and the batch
    // fe_triples oracle applies verbatim.
    "fe_stream_triples" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("stream_kg_").toString
      Pages.fromDir(s, d).write.mode("overwrite").parquet(s"$base/pages")
      StreamingKg.runAvailableNow(s, s"$base/pages", s"$base/out", s"$base/ck",
        delay = "7 days")
    }),
    // streaming NIL linking: the thinned-catalog backlog drained under
    // AvailableNow must equal the batch withNils surface exactly — the
    // deterministic surface-keyed nil ids are what make the streaming
    // path stateless AND idempotent (a sequence-numbered NIL scheme would
    // need cross-batch state here)
    "fe_stream_nil" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("stream_nil_").toString
      Pages.fromDir(s, d).write.mode("overwrite").parquet(s"$base/pages")
      val k = regexp_extract(col("entity_id"), "(\\d+)$", 1).cast("long")
      val aliases = Pages.aliases(s).filter(
        !(col("entity_id").rlike("^ent[AB]_") && k % 5 === 0) &&
          !(col("entity_id").rlike("^city_") && k % 11 === 0))
      StreamingKg.runNilAvailableNow(s, s"$base/pages", s"$base/out",
        s"$base/ck", aliases, delay = "7 days")
    }),
    // streaming construction into the MATERIALIZED store (foreachBatch →
    // Materialize.merge), run TWICE: the second pass wipes the checkpoint so
    // the file source replays every page against the already-built store —
    // the worst-case at-least-once delivery. Store-level exactly-once means
    // the replay appends nothing (asserted in-query from the merge lineage)
    // and the final edge set equals the batch build — the fe_merge_triples
    // oracle applies verbatim.
    "fe_stream_merge_triples" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("stream_merge_").toString
      Pages.fromDir(s, d).write.mode("overwrite").parquet(s"$base/pages")
      val io = new graft.core.ParquetTableIO(s, s"$base/store")
      StreamingKg.runMergeAvailableNow(s, s"$base/pages", io, "kg", s"$base/ck1",
        delay = "7 days")
      val out = StreamingKg.runMergeAvailableNow(s, s"$base/pages", io, "kg",
        s"$base/ck2", delay = "7 days")
      val firstRunBatches = io.read("kg/merge_lineage")
        .filter(col("new_edges") > 0).count()
      val replayed = io.read("kg/merge_lineage")
        .groupBy("batch_id").count().filter(col("count") > 1)
      val replayAppends = io.read("kg/merge_lineage")
        .groupBy("batch_id")
        .agg(min(col("new_edges")).as("later_pass_edges"))
        .filter(col("later_pass_edges") > 0).count()
      require(firstRunBatches > 0, "first pass merged nothing")
      require(replayed.count() > 0, "second pass did not replay any batch")
      require(replayAppends == 0, "a replayed batch appended edges")
      out
    }),
    // streaming HOST-GRAPH maintenance: link extraction as a stateless
    // streaming stage, per-batch host-pair partial counts appended under
    // the batch id. Run TWICE — the second pass wipes the checkpoint so
    // every batch replays against the built store; batch-id idempotence
    // means the replay appends nothing (asserted from the store) and the
    // summed host graph equals the batch fe_host_graph oracle verbatim.
    "fe_stream_host_graph" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("stream_hg_").toString
      Pages.fromDir(s, d).write.mode("overwrite").parquet(s"$base/pages")
      val io = new graft.core.ParquetTableIO(s, s"$base/store")
      StreamingKg.runHostGraphAvailableNow(s, s"$base/pages", io, "wg", s"$base/ck1")
      require(io.read("wg/host_counts").count() > 0, "first pass stored no host counts")
      // compact the partials, then replay EVERYTHING against a wiped
      // checkpoint: compacted_ids must keep the folded batch ids skippable
      val compacted = StreamingKg.compactHostCounts(io, "wg")
      val out = StreamingKg.runHostGraphAvailableNow(s, s"$base/pages", io, "wg",
        s"$base/ck2")
      require(io.read("wg/host_counts").count() == compacted,
        "a replayed batch appended host counts past the compacted store")
      out
    }))

  /** Minimal PCM WAV: RIFF/WAVE + (optional odd-size LIST chunk, testing
    * the spec's pad-to-even walk) + 16-byte fmt chunk + zero-filled data
    * chunk. 16-bit samples, so byteRate = sampleRate · channels · 2. */
  private def wavBytes(channels: Int, sampleRate: Int, dataBytes: Int,
                       listChunk: Boolean): Array[Byte] = {
    val listLen = if (listChunk) 8 + 3 + 1 else 0 // "LIST" + size 3 + 1 pad
    val riffLen = 4 + listLen + 24 + 8 + dataBytes
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    ascii("RIFF"); bb.putInt(riffLen); ascii("WAVE")
    if (listChunk) { ascii("LIST"); bb.putInt(3); ascii("INF"); bb.put(0.toByte) }
    ascii("fmt "); bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * channels * 2) // byteRate
    bb.putShort((channels * 2).toShort)  // blockAlign
    bb.putShort(16)                      // bitsPerSample
    ascii("data"); bb.putInt(dataBytes)
    bb.array()
  }

  /** Minimal ISO-BMFF MP4: 16-byte ftyp + moov{mvhd(v0|v1) + empty trak
    * boxes}. duration_ms = duration · 1000 / timescale. */
  private def mp4Bytes(mvhdVersion: Int, timescale: Int, duration: Long,
                       tracks: Int): Array[Byte] = {
    val mvhdLen = if (mvhdVersion == 0) 108 else 120
    val moovLen = 8 + mvhdLen + 8 * tracks
    val bb = java.nio.ByteBuffer.allocate(16 + moovLen) // big-endian default
    def ascii(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    bb.putInt(16); ascii("ftyp"); ascii("isom"); bb.putInt(0x200)
    bb.putInt(moovLen); ascii("moov")
    bb.putInt(mvhdLen); ascii("mvhd")
    val mvhdEnd = bb.position() - 8 + mvhdLen
    bb.put(mvhdVersion.toByte); bb.put(Array[Byte](0, 0, 0)) // version + flags
    if (mvhdVersion == 0) {
      bb.putInt(0); bb.putInt(0)          // creation/modification
      bb.putInt(timescale); bb.putInt(duration.toInt)
    } else {
      bb.putLong(0L); bb.putLong(0L)
      bb.putInt(timescale); bb.putLong(duration)
    }
    bb.position(mvhdEnd) // rest of mvhd (rate/volume/matrix/…) zero-filled
    (0 until tracks).foreach { _ => bb.putInt(8); ascii("trak") }
    bb.array()
  }

  private val docsCte =
    s"""docs AS (SELECT doc_id, text, lang, ${Pages.Sql.url} AS url,
       |  ${Pages.Sql.surfA} AS surfa, ${Pages.Sql.body} AS body FROM documents),
       |als AS (${Pages.Sql.aliases})""".stripMargin

  private def withDocs(body: String): String = s"WITH $docsCte\n$body"

  private val mentionsSql =
    """SELECT url, surfa AS subjSurface, 'bornIn' AS pred, 'city ' || (doc_id % 31) AS objSurface FROM docs
      |UNION ALL SELECT url, surfa, 'worksFor', 'org ' || (doc_id % 13) FROM docs WHERE doc_id % 2 = 0
      |UNION ALL SELECT url, 'city ' || (doc_id % 31), 'locatedIn', 'country ' || (doc_id % 7) FROM docs WHERE doc_id % 3 = 0""".stripMargin

  private val linkedSql =
    """SELECT url, CASE WHEN doc_id % 5 < 2 THEN 'entA_' || (doc_id % 97) ELSE 'entB_' || (doc_id % 97) END AS subj_id,
      |       'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj_id FROM docs
      |UNION ALL SELECT url, CASE WHEN doc_id % 5 < 2 THEN 'entA_' || (doc_id % 97) ELSE 'entB_' || (doc_id % 97) END,
      |       'worksFor', 'org_' || (doc_id % 13) FROM docs WHERE doc_id % 2 = 0
      |UNION ALL SELECT url, 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM docs WHERE doc_id % 3 = 0""".stripMargin

  private def triplesSqlFrom(tbl: String) =
    s"""SELECT DISTINCT 'entA_' || (doc_id % 97) AS subj, 'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj FROM $tbl
       |UNION SELECT DISTINCT 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM $tbl WHERE doc_id % 2 = 0
       |UNION SELECT DISTINCT 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM $tbl WHERE doc_id % 3 = 0""".stripMargin

  private val triplesSql = triplesSqlFrom("docs")

  // html reconstruction for byte-length checks (ASCII boilerplate + body)
  private val htmlSql = Pages.Sql.html

  /** 2-round source-trust voting replay — shared by the batch and
    * streaming truth gates (both must land on the identical table). */
  private val truthOracleSql: String = withDocs(
      s""", $claimsCte,
         |b1 AS (SELECT subj, pred, obj, CAST(1000000 * COUNT(*) AS BIGINT) AS bel FROM cl GROUP BY 1, 2, 3),
         |w1 AS MATERIALIZED (SELECT subj, pred, obj AS wobj FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY subj, pred ORDER BY bel DESC, obj) AS rn FROM b1) t WHERE rn = 1),
         |t2 AS MATERIALIZED (SELECT src, CAST(1000000 * SUM(CASE WHEN obj = wobj THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS trust
         |    FROM cl JOIN w1 USING (subj, pred) GROUP BY src),
         |b2 AS (SELECT subj, pred, obj, CAST(SUM(trust) AS BIGINT) AS belief_micros, CAST(COUNT(*) AS BIGINT) AS n_src
         |    FROM cl JOIN t2 USING (src) GROUP BY 1, 2, 3)
         |SELECT subj, pred, obj, belief_micros, n_src FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY subj, pred ORDER BY belief_micros DESC, obj) AS rn FROM b2) t
         |WHERE rn = 1""".stripMargin)

  def oracleSql: Map[String, String] = Map(
    "fe_microdata" -> withDocs(
      """SELECT url, CAST(1 AS BIGINT) AS item, 'https://schema.org/Article' AS itemtype, 'author' AS prop, 'Ent ' || (doc_id % 97) AS value FROM docs
        |UNION ALL SELECT url, 1, 'https://schema.org/Article', 'datePublished', '2025-01-' || (doc_id % 28 + 1) FROM docs
        |UNION ALL SELECT url, 1, 'https://schema.org/Article', 'url', url FROM docs
        |UNION ALL SELECT url, 1, 'https://schema.org/Article', 'publisher', '#2' FROM docs
        |UNION ALL SELECT url, CAST(2 AS BIGINT), 'https://schema.org/Organization', 'name', 'Org ' || (doc_id % 13) FROM docs""".stripMargin),
    "fe_jsonld" -> withDocs(
      """SELECT url, CAST(1 AS BIGINT) AS node, 'Person' AS nodetype, 'name' AS prop, 'Ent ' || (doc_id % 97) AS value FROM docs
        |UNION ALL SELECT url, 1, 'Person', 'worksFor', '#2' FROM docs
        |UNION ALL SELECT url, CAST(2 AS BIGINT), 'Organization', 'name', 'Org ' || (doc_id % 13) FROM docs
        |UNION ALL SELECT url, 1, 'Person', 'age', CAST(doc_id % 80 AS VARCHAR) FROM docs""".stripMargin),
    "fe_web_tables" -> withDocs(
      """SELECT url, CAST(1 AS BIGINT) AS table_idx, CAST(1 AS BIGINT) AS row_idx, CAST(1 AS BIGINT) AS col_idx, 'key' AS header, 'city' AS value FROM docs
        |UNION ALL SELECT url, 1, 1, 2, 'val', 'city_' || (doc_id % 31) FROM docs
        |UNION ALL SELECT url, 1, 2, 1, 'key', 'country' FROM docs
        |UNION ALL SELECT url, 1, 2, 2, 'val', 'country_' || (doc_id % 7) FROM docs
        |UNION ALL SELECT url, CAST(2 AS BIGINT), 1, 1, 'col_1', 'r1' FROM docs
        |UNION ALL SELECT url, 2, 1, 2, 'col_2', CAST(doc_id AS VARCHAR) FROM docs""".stripMargin),
    "fe_disambiguate" -> withDocs(
      """SELECT url, 'amb_' || (doc_id % 20) AS surface,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ea_' ELSE 'eb_' END || (doc_id % 20) AS entity_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS coherence,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 900000 ELSE 300000 END AS BIGINT) AS prior_micros
        |FROM docs""".stripMargin),
    "fe_structured_triples" -> withDocs(
      s"""SELECT subj, pred, obj FROM ($triplesSql) t
         |UNION
         |SELECT DISTINCT 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM docs""".stripMargin),
    "fe_pages" -> withDocs(
      """SELECT url, TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
        |       lang, body AS text FROM docs""".stripMargin),
    "fe_extract" -> withDocs("SELECT url, body AS text FROM docs"),
    "fe_mentions" -> withDocs(mentionsSql),
    "fe_linked" -> withDocs(linkedSql),
    "fe_linked_nil" -> withDocs(
      """SELECT url,
        |  CASE WHEN (doc_id % 97) % 5 = 0
        |       THEN 'nil:' || substr(md5((CASE WHEN doc_id % 5 < 2 THEN 'ent ' ELSE 'entity ' END) || (doc_id % 97)), 1, 16)
        |       WHEN doc_id % 5 < 2 THEN 'entA_' || (doc_id % 97)
        |       ELSE 'entB_' || (doc_id % 97) END AS subj_id,
        |  'bornIn' AS pred,
        |  CASE WHEN (doc_id % 31) % 11 = 0
        |       THEN 'nil:' || substr(md5('city ' || (doc_id % 31)), 1, 16)
        |       ELSE 'city_' || (doc_id % 31) END AS obj_id,
        |  (doc_id % 97) % 5 = 0 AS subj_nil,
        |  (doc_id % 31) % 11 = 0 AS obj_nil
        |FROM docs
        |UNION ALL SELECT url,
        |  CASE WHEN (doc_id % 97) % 5 = 0
        |       THEN 'nil:' || substr(md5((CASE WHEN doc_id % 5 < 2 THEN 'ent ' ELSE 'entity ' END) || (doc_id % 97)), 1, 16)
        |       WHEN doc_id % 5 < 2 THEN 'entA_' || (doc_id % 97)
        |       ELSE 'entB_' || (doc_id % 97) END,
        |  'worksFor', 'org_' || (doc_id % 13),
        |  (doc_id % 97) % 5 = 0, FALSE
        |FROM docs WHERE doc_id % 2 = 0
        |UNION ALL SELECT url,
        |  CASE WHEN (doc_id % 31) % 11 = 0
        |       THEN 'nil:' || substr(md5('city ' || (doc_id % 31)), 1, 16)
        |       ELSE 'city_' || (doc_id % 31) END,
        |  'locatedIn', 'country_' || (doc_id % 7),
        |  (doc_id % 31) % 11 = 0, FALSE
        |FROM docs WHERE doc_id % 3 = 0""".stripMargin),
    "fe_align" -> withDocs(
      s""", lk AS MATERIALIZED ($linkedSql),
         |s1 AS MATERIALIZED (SELECT DISTINCT subj_id AS a, pred, obj_id AS o FROM lk WHERE subj_id LIKE 'entA_%'),
         |s2 AS MATERIALIZED (SELECT DISTINCT subj_id AS b, pred, obj_id AS o FROM lk WHERE subj_id LIKE 'entB_%'),
         |n1 AS (SELECT pred, o, COUNT(*) AS c1 FROM s1 GROUP BY 1, 2),
         |n2 AS (SELECT pred, o, COUNT(*) AS c2 FROM s2 GROUP BY 1, 2),
         |vok AS MATERIALIZED (
         |  SELECT n1.pred, n1.o, 1000000 // (n1.c1 + n2.c2) AS w
         |  FROM n1 JOIN n2 ON n2.pred = n1.pred AND n2.o = n1.o
         |  WHERE n1.c1 * n2.c2 <= 1048576),
         |g AS (
         |  SELECT s1.a, s2.b, CAST(COUNT(*) AS BIGINT) AS shared_n,
         |         CAST(SUM(v.w) AS BIGINT) AS ra_micros
         |  FROM s1 JOIN vok v ON v.pred = s1.pred AND v.o = s1.o
         |  JOIN s2 ON s2.pred = s1.pred AND s2.o = s1.o
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT a, b, shared_n, ra_micros, arank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY a ORDER BY ra_micros DESC, b) AS INT) AS arank
         |  FROM g) t
         |WHERE arank <= 3""".stripMargin),
    "fe_nquads_roundtrip" -> withDocs(
      s""", $claimsCte
         |SELECT src, subj, pred, obj FROM cl""".stripMargin),
    "fe_truth" -> truthOracleSql,
    // streaming path lands on the identical truth table
    "fe_stream_truth" -> truthOracleSql,
    "fe_truth_trust" -> withDocs(
      s""", $claimsCte,
         |b1 AS (SELECT subj, pred, obj, CAST(1000000 * COUNT(*) AS BIGINT) AS bel FROM cl GROUP BY 1, 2, 3),
         |w1 AS MATERIALIZED (SELECT subj, pred, obj AS wobj FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY subj, pred ORDER BY bel DESC, obj) AS rn FROM b1) t WHERE rn = 1)
         |SELECT src, CAST(1000000 * SUM(CASE WHEN obj = wobj THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS trust_micros
         |FROM cl JOIN w1 USING (subj, pred) GROUP BY src""".stripMargin),
    "fe_fact_timeline" -> withDocs(
      """, tsd AS (SELECT *, TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS wts FROM docs),
        |cl AS MATERIALIZED (
        |  SELECT wts, 'entA_' || (doc_id % 97) AS subj, 'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj FROM tsd
        |  UNION ALL SELECT wts, 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM tsd WHERE doc_id % 2 = 0
        |  UNION ALL SELECT wts, 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM tsd WHERE doc_id % 3 = 0),
        |f AS (SELECT subj, pred, obj, MIN(wts) AS valid_from FROM cl GROUP BY 1, 2, 3)
        |SELECT subj, pred, obj, valid_from,
        |       LEAD(valid_from) OVER (PARTITION BY subj, pred ORDER BY valid_from, obj) AS valid_until,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY subj, pred ORDER BY valid_from, obj) AS BIGINT) AS version
        |FROM f""".stripMargin),
    "fe_facts_asof" -> withDocs(
      """, tsd AS (SELECT *, TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS wts FROM docs),
        |cl AS MATERIALIZED (
        |  SELECT wts, 'entA_' || (doc_id % 97) AS subj, 'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj FROM tsd
        |  UNION ALL SELECT wts, 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM tsd WHERE doc_id % 2 = 0
        |  UNION ALL SELECT wts, 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM tsd WHERE doc_id % 3 = 0),
        |f AS (SELECT subj, pred, obj, MIN(wts) AS valid_from FROM cl GROUP BY 1, 2, 3),
        |tl AS (SELECT subj, pred, obj, valid_from,
        |       LEAD(valid_from) OVER (PARTITION BY subj, pred ORDER BY valid_from, obj) AS valid_until,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY subj, pred ORDER BY valid_from, obj) AS BIGINT) AS version
        |FROM f)
        |SELECT subj, pred, obj, valid_from, version FROM tl
        |WHERE valid_from <= TIMESTAMP '2025-01-01 00:02:00'
        |  AND (valid_until IS NULL OR valid_until > TIMESTAMP '2025-01-01 00:02:00')""".stripMargin),
    "fe_interval_conflicts" -> withDocs(
      """, tsd AS (SELECT *, TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS wts,
        |         'm' || (doc_id % 4) AS msrc FROM docs),
        |cl AS MATERIALIZED (
        |  SELECT msrc, wts, 'entA_' || (doc_id % 97) AS subj, 'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj FROM tsd
        |  UNION ALL SELECT msrc, wts, 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM tsd WHERE doc_id % 2 = 0
        |  UNION ALL SELECT msrc, wts, 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM tsd WHERE doc_id % 3 = 0),
        |f AS (SELECT msrc, subj, pred, obj, MIN(wts) AS valid_from FROM cl GROUP BY 1, 2, 3, 4),
        |tl AS MATERIALIZED (SELECT msrc, subj, pred, obj, valid_from,
        |       LEAD(valid_from) OVER (PARTITION BY msrc, subj, pred ORDER BY valid_from, obj) AS valid_until
        |FROM f)
        |SELECT a.subj, a.pred, a.msrc AS src_a, a.obj AS obj_a,
        |       b.msrc AS src_b, b.obj AS obj_b,
        |       GREATEST(a.valid_from, b.valid_from) AS overlap_from
        |FROM tl a JOIN tl b ON b.subj = a.subj AND b.pred = a.pred
        |WHERE a.msrc < b.msrc AND a.obj <> b.obj
        |  AND (a.valid_until IS NULL OR b.valid_from < a.valid_until)
        |  AND (b.valid_until IS NULL OR a.valid_from < b.valid_until)""".stripMargin),
    "fe_fact_intervals" -> withDocs(
      """, tsd AS (SELECT *, TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS wts FROM docs),
        |cl AS MATERIALIZED (
        |  SELECT url, wts, 'entA_' || (doc_id % 97) AS subj, 'bornIn' AS pred, 'city_' || (doc_id % 31) AS obj FROM tsd
        |  UNION ALL SELECT url, wts, 'entA_' || (doc_id % 97), 'worksFor', 'org_' || (doc_id % 13) FROM tsd WHERE doc_id % 2 = 0
        |  UNION ALL SELECT url, wts, 'city_' || (doc_id % 31), 'locatedIn', 'country_' || (doc_id % 7) FROM tsd WHERE doc_id % 3 = 0)
        |SELECT subj, pred, obj, MIN(wts) AS first_ts, MAX(wts) AS last_ts,
        |       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_docs
        |FROM cl GROUP BY 1, 2, 3""".stripMargin),
    "fe_canonical_map" -> withDocs(
      """SELECT DISTINCT entity_id,
        |  MIN(entity_id) OVER (PARTITION BY lower(substr(surface,1,3)) || '|' || regexp_extract(surface, '(\d+)', 1)) AS canonical
        |FROM als""".stripMargin),
    // fuzzy path degenerates to the exact-key map on this catalog (see the
    // query comment) — identical oracle
    "fe_canonical_fuzzy" -> withDocs(
      """SELECT DISTINCT entity_id,
        |  MIN(entity_id) OVER (PARTITION BY lower(substr(surface,1,3)) || '|' || regexp_extract(surface, '(\d+)', 1)) AS canonical
        |FROM als""".stripMargin),
    "fe_triples" -> withDocs(triplesSql),
    // by construction every planted variant normalizes to the BASE url, so
    // the oracle ranks snapshots under it directly (the engine side must
    // still COMPUTE that collapse via the real normalization)
    "td_sentence_dedup" -> withDocs(
      """, sp AS (SELECT doc_id AS docn, string_split(body, '. ') AS ss FROM docs),
        |se AS (SELECT docn, i - 1 AS pos, regexp_replace(ss[i], '\.$', '') AS sentence
        |       FROM sp CROSS JOIN generate_series(1, 8) g(i) WHERE i <= len(ss)),
        |fi AS (SELECT docn, pos, sentence,
        |         row_number() OVER (PARTITION BY sentence ORDER BY docn, pos) AS rn
        |       FROM se WHERE length(sentence) > 0)
        |SELECT docn, CAST(pos AS BIGINT) AS sent_idx, sentence FROM fi WHERE rn = 1""".stripMargin),
    // applying the changeset reconstructs v2 exactly — the v2 triple
    // arithmetic IS the oracle
    "fe_changeset_apply" -> withDocs(
      s""", d2 AS (SELECT * FROM docs WHERE doc_id % 7 <> 3)
         |${triplesSqlFrom("d2")}""".stripMargin),
    "fe_changeset" -> withDocs(
      s""", d1 AS (SELECT * FROM docs WHERE doc_id % 5 <> 4),
         |d2 AS (SELECT * FROM docs WHERE doc_id % 7 <> 3),
         |t1 AS MATERIALIZED (${triplesSqlFrom("d1")}),
         |t2 AS MATERIALIZED (${triplesSqlFrom("d2")})
         |SELECT 'add' AS op, subj, pred, obj FROM (SELECT * FROM t2 EXCEPT SELECT * FROM t1)
         |UNION ALL
         |SELECT 'del' AS op, subj, pred, obj FROM (SELECT * FROM t1 EXCEPT SELECT * FROM t2)""".stripMargin),
    // the planted anchor targets, recomputed arithmetically — a parser that
    // drops duplicates, misses an anchor form, or mangles an url mismatches
    "fe_link_graph" -> withDocs(
      """SELECT url AS src, 'https://ex.org/doc/' || (doc_id % 97) AS dst FROM docs
        |UNION ALL SELECT url, 'https://ex.org/doc/' || (doc_id + 1) FROM docs
        |UNION ALL SELECT url, 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id FROM docs""".stripMargin),
    "fe_host_graph" -> withDocs(
      s""", $linksCte
         |SELECT lower(regexp_extract(src, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS src_host,
         |       lower(regexp_extract(dst, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS dst_host,
         |       CAST(COUNT(*) AS BIGINT) AS n_links
         |FROM l GROUP BY 1, 2""".stripMargin),
    "fe_crawl_schedule" -> withDocs(
      s""", $linksCte,
         |f AS (SELECT dst AS url, CAST(COUNT(*) AS BIGINT) AS n_refs FROM l
         |      WHERE dst NOT IN (SELECT url FROM docs) GROUP BY 1),
         |s AS (SELECT url, n_refs,
         |        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host
         |      FROM f)
         |SELECT url, host,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_refs DESC, url) - 1 AS BIGINT) AS slot,
         |  CAST((ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_refs DESC, url) - 1) * 1000 AS BIGINT) AS fetch_at_ms
         |FROM s""".stripMargin),
    "fe_crawl_delay" -> withDocs(
      s""", $linksCte,
         |f AS (SELECT dst AS url, CAST(COUNT(*) AS BIGINT) AS n_refs FROM l
         |      WHERE dst NOT IN (SELECT url FROM docs) GROUP BY 1),
         |s AS (SELECT url, n_refs,
         |        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host
         |      FROM f)
         |SELECT url, host,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_refs DESC, url) - 1 AS BIGINT) AS slot,
         |  CAST((ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_refs DESC, url) - 1)
         |       * (CASE WHEN host = 'cdn1.ex-assets.net' THEN 2500 ELSE 1000 END) AS BIGINT) AS fetch_at_ms
         |FROM s""".stripMargin),
    "fe_anchor_dict" -> withDocs(
      """, a AS (SELECT 'hub' AS anchor, 'https://ex.org/doc/' || (doc_id % 97) AS dst FROM docs
        |  UNION ALL SELECT 'next', 'https://ex.org/doc/' || (doc_id + 1) FROM docs
        |  UNION ALL SELECT 'cdn', 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id FROM docs),
        |c AS (SELECT anchor, dst, CAST(COUNT(*) AS BIGINT) AS n_links FROM a GROUP BY 1, 2),
        |t AS (SELECT anchor, CAST(SUM(n_links) AS BIGINT) AS t FROM c GROUP BY 1)
        |SELECT anchor, dst, n_links,
        |       CAST(1000000 * n_links // t AS BIGINT) AS commonness_micros, arank
        |FROM (SELECT c.anchor, c.dst, c.n_links, t.t,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY c.anchor ORDER BY c.n_links DESC, c.dst) AS BIGINT) AS arank
        |      FROM c JOIN t USING (anchor)) x
        |WHERE arank <= 3""".stripMargin),
    "fe_anchor_index" -> withDocs(
      """, a AS (SELECT 'https://ex.org/doc/' || (doc_id % 97) AS dst, 'hub' AS term FROM docs
        |  UNION ALL SELECT 'https://ex.org/doc/' || (doc_id + 1), 'next' FROM docs
        |  UNION ALL SELECT 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id, 'cdn' FROM docs),
        |c AS (SELECT dst, term, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1, 2)
        |SELECT dst, term, n, arank FROM (
        |  SELECT dst, term, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY dst ORDER BY n DESC, term) AS BIGINT) AS arank
        |  FROM c) r
        |WHERE arank <= 3""".stripMargin),
    // every region recomputed arithmetically from the planted topology:
    // crawled docs = the giant SCC, chain tip + cdn = OUT, the attachments
    // by url namespace
    "fe_bowtie" -> withDocs(
      """SELECT url AS id, 'CORE' AS region FROM docs
        |UNION ALL SELECT 'https://ex.org/doc/' || (SELECT MAX(doc_id) + 1 FROM docs), 'OUT'
        |UNION ALL SELECT DISTINCT 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id, 'OUT' FROM docs
        |UNION ALL SELECT 'https://in.ex.org/' || k, 'IN' FROM generate_series(0, 9) t(k)
        |UNION ALL SELECT 'https://tendril.ex.org/' || k, 'TENDRIL' FROM generate_series(0, 9) t(k)
        |UNION ALL SELECT 'https://tube.ex.org/' || k, 'TUBE' FROM generate_series(0, 9) t(k)
        |UNION ALL SELECT 'https://disc.ex.org/a' || k, 'DISC' FROM generate_series(0, 9) t(k)
        |UNION ALL SELECT 'https://disc.ex.org/b' || k, 'DISC' FROM generate_series(0, 9) t(k)""".stripMargin),
    // the streaming store's summed partials must equal the batch quotient
    "fe_stream_host_graph" -> withDocs(
      s""", $linksCte
         |SELECT lower(regexp_extract(src, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS src_host,
         |       lower(regexp_extract(dst, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS dst_host,
         |       CAST(COUNT(*) AS BIGINT) AS n_links
         |FROM l GROUP BY 1, 2""".stripMargin),
    // the planted anchors carry constant texts — a parser that mangles the
    // element body, drops the close-tag requirement, or swaps href/text
    // mismatches
    "fe_anchor_text" -> withDocs(
      """SELECT url AS src, 'https://ex.org/doc/' || (doc_id % 97) AS dst, 'hub' AS anchor FROM docs
        |UNION ALL SELECT url, 'https://ex.org/doc/' || (doc_id + 1), 'next' FROM docs
        |UNION ALL SELECT url, 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id, 'cdn' FROM docs""".stripMargin),
    "fe_redirects" -> withDocs(
      """SELECT url AS src,
        |       'https://ex.org/doc/' || (SELECT MAX(doc_id) + 1 FROM docs) AS target,
        |       CAST((SELECT MAX(doc_id) + 1 FROM docs) - doc_id AS BIGINT) AS hops,
        |       FALSE AS cyclic
        |FROM docs""".stripMargin),
    "fe_trans_closure" -> withDocs(
      s""", ch AS MATERIALIZED (
         |  SELECT 'https://ex.org/doc/' || CAST(doc_id AS VARCHAR) AS src,
         |         'https://ex.org/doc/' || CAST(doc_id + 1 AS VARCHAR) AS dst
         |  FROM docs WHERE doc_id + 1 <= 255),
         |c0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ch),
         |${(1 to 10).map(i =>
             s"""c$i AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                |  SELECT src, dst FROM c${i - 1}
                |  UNION ALL SELECT a.src, b.dst FROM c${i - 1} a JOIN c${i - 1} b ON a.dst = b.src))"""
               .stripMargin).mkString(",\n")}
         |SELECT src, dst FROM c10""".stripMargin),
    "fe_trans_reduction" -> withDocs(
      """, ch AS (
        |  SELECT 'https://ex.org/doc/' || CAST(doc_id AS VARCHAR) AS src,
        |         'https://ex.org/doc/' || CAST(doc_id + 1 AS VARCHAR) AS dst
        |  FROM docs WHERE doc_id + 1 <= 255)
        |SELECT DISTINCT src, dst FROM ch""".stripMargin),
    "fe_frontier" -> withDocs(
      s""", $linksCte
         |SELECT dst AS url, CAST(COUNT(*) AS BIGINT) AS n_refs FROM l
         |WHERE dst NOT IN (SELECT url FROM docs) GROUP BY 1""".stripMargin),
    "fe_frontier_bloom" -> withDocs(
      s""", $linksCte
         |SELECT dst AS url, CAST(COUNT(*) AS BIGINT) AS n_refs FROM l
         |WHERE dst NOT IN (SELECT url FROM docs) GROUP BY 1""".stripMargin),
    // wedge self-joins over the planted links (the basket cap is 1024 and
    // the widest basket is out-degree 3 / in-degree ~N/97 — non-binding at
    // every test SF, so the oracle mirrors the uncapped join)
    "fe_cocitation" -> withDocs(
      s""", $linksCte,
         |e AS (SELECT DISTINCT src, dst FROM l)
         |SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS support
         |FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
         |GROUP BY 1, 2""".stripMargin),
    "fe_coupling" -> withDocs(
      s""", $linksCte,
         |e AS (SELECT DISTINCT src, dst FROM l)
         |SELECT a.src AS u, b.src AS v, CAST(COUNT(*) AS BIGINT) AS support
         |FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |GROUP BY 1, 2""".stripMargin),
    // allowed iff NOT(starts with '1' except exactly 1) AND NOT(ends in 7)
    "fe_robots_filter" -> withDocs(
      """SELECT url FROM docs
        |WHERE NOT (CAST(doc_id AS VARCHAR) LIKE '1%' AND doc_id <> 1)
        |  AND CAST(doc_id AS VARCHAR) NOT LIKE '%7'""".stripMargin),
    "fe_nil_types" -> withDocs(
      """, nents AS MATERIALIZED (
        |  SELECT DISTINCT 'nil:' || substr(md5((CASE WHEN doc_id % 5 < 2 THEN 'ent ' ELSE 'entity ' END) || (doc_id % 97)), 1, 16) AS node
        |  FROM docs WHERE (doc_id % 97) % 5 = 0),
        |ncities AS MATERIALIZED (
        |  SELECT DISTINCT 'nil:' || substr(md5('city ' || (doc_id % 31)), 1, 16) AS node
        |  FROM docs WHERE (doc_id % 31) % 11 = 0)
        |SELECT DISTINCT node, cls FROM (
        |  SELECT node, 'Entity' AS cls FROM nents
        |  UNION ALL SELECT node, 'Thing' FROM nents
        |  UNION ALL SELECT node, 'City' FROM ncities
        |  UNION ALL SELECT node, 'Thing' FROM ncities) t""".stripMargin),
    "fe_robots_meta" ->
      ("SELECT * FROM (VALUES " +
        "('sitemap_0', 'https://ex.org/sitemap-index.xml'), " +
        "('sitemap_1', 'https://ex.org/sitemap-extra.xml'), " +
        "('crawl_delay_graftbot', '2.5'), " +
        "('crawl_delay_other', '10.0')) AS t(kind, value)"),
    "fe_sitemap" -> withDocs(
      """SELECT url AS loc,
        |  strftime(TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND,
        |           '%Y-%m-%dT%H:%M:%SZ') AS lastmod,
        |  CASE WHEN doc_id % 4 = 0 THEN 'daily' END AS changefreq,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 800 ELSE 500 END AS BIGINT) AS priority_milli,
        |  TRUE AS known
        |FROM docs
        |UNION ALL
        |SELECT 'https://ex.org/new/' || s, NULL, NULL, 1000, FALSE
        |FROM generate_series(0, 4) t(s)""".stripMargin),
    "fe_warc_roundtrip" -> withDocs(
      s"""SELECT url,
         |  TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
         |  md5($htmlSql) AS html_md5
         |FROM docs""".stripMargin),
    "fe_wet_roundtrip" -> withDocs(
      """SELECT url,
        |  TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
        |  md5(body) AS text_md5
        |FROM docs""".stripMargin),
    "fe_wat_roundtrip" -> withDocs(
      """SELECT url,
        |  TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
        |  'Doc ' || doc_id AS title, dst, anchor FROM (
        |  SELECT doc_id, url, 'https://ex.org/doc/' || (doc_id % 97) AS dst, 'hub' AS anchor FROM docs
        |  UNION ALL SELECT doc_id, url, 'https://ex.org/doc/' || (doc_id + 1), 'next' FROM docs
        |  UNION ALL SELECT doc_id, url, 'https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id, 'cdn' FROM docs) t""".stripMargin),
    "fe_nt_blanks" -> withDocs(
      """SELECT 'genid:' || substr(md5('fixture|m' || doc_id), 1, 16) AS subj,
        |  'mentions' AS pred, 'city_' || (doc_id % 31) AS obj,
        |  'iri' AS kind, '' AS dtype FROM docs
        |UNION ALL SELECT 'doc_' || doc_id, 'hasNode',
        |  'genid:' || substr(md5('fixture|m' || (doc_id % 50)), 1, 16), 'iri', '' FROM docs
        |UNION ALL SELECT 'genid:' || substr(md5('fixture|m' || doc_id), 1, 16),
        |  'score', CAST(doc_id % 7 AS VARCHAR), 'literal', 'int' FROM docs""".stripMargin),
    "fe_page_rank" ->
      "SELECT TRUE AS count_ok, TRUE AS mass_leaky, TRUE AS positive, TRUE AS hubs_dominate",
    "fe_pr_incremental" ->
      ("SELECT TRUE AS count_ok, TRUE AS positive, TRUE AS warm_fewer, " +
        "TRUE AS warm_saves_quarter, TRUE AS same_fixpoint"),
    "fe_host_rank" ->
      "SELECT TRUE AS count_ok, TRUE AS mass_leaky, TRUE AS positive, TRUE AS top_is_main_host",
    "fe_hits" ->
      "SELECT TRUE AS hub_unit, TRUE AS auth_unit, TRUE AS nonneg, TRUE AS auth_are_hubs",
    // unrolled 4-round semi-naive BFS with the engine's exact semantics:
    // round k's frontier is the FRESH set (anti vs everything reached so
    // far, seeds NOT in the reach), seeds reported at dist 0 and excluded
    // from later rounds' report
    "fe_crawl_depth" -> withDocs(
      s""", $linksCte,
         |s0 AS (${CrawlSeeds.map(i => s"SELECT 'https://ex.org/doc/$i' AS url").mkString(" UNION ALL ")}),
         |r1 AS MATERIALIZED (SELECT DISTINCT l.dst AS url FROM l JOIN s0 ON l.src = s0.url),
         |r2 AS MATERIALIZED (SELECT DISTINCT l.dst AS url FROM l JOIN r1 ON l.src = r1.url
         |  WHERE l.dst NOT IN (SELECT url FROM r1)),
         |v2 AS MATERIALIZED (SELECT url FROM r1 UNION SELECT url FROM r2),
         |r3 AS MATERIALIZED (SELECT DISTINCT l.dst AS url FROM l JOIN r2 ON l.src = r2.url
         |  WHERE l.dst NOT IN (SELECT url FROM v2)),
         |v3 AS MATERIALIZED (SELECT url FROM v2 UNION SELECT url FROM r3),
         |r4 AS MATERIALIZED (SELECT DISTINCT l.dst AS url FROM l JOIN r3 ON l.src = r3.url
         |  WHERE l.dst NOT IN (SELECT url FROM v3))
         |SELECT url, CAST(0 AS INT) AS dist FROM s0
         |UNION ALL SELECT url, 1 FROM r1 WHERE url NOT IN (SELECT url FROM s0)
         |UNION ALL SELECT url, 2 FROM r2 WHERE url NOT IN (SELECT url FROM s0)
         |UNION ALL SELECT url, 3 FROM r3 WHERE url NOT IN (SELECT url FROM s0)
         |UNION ALL SELECT url, 4 FROM r4 WHERE url NOT IN (SELECT url FROM s0)""".stripMargin),
    "fe_snapshot_latest" -> (s"WITH $docsCte,\n" +
      """snaps AS MATERIALIZED (
        |  SELECT url AS url_norm, url,
        |    TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
        |    body AS text, lang FROM docs
        |  UNION ALL
        |  SELECT url, 'HTTPS://EX.ORG:443/doc/' || doc_id || '?utm_src=x',
        |    TIMESTAMP '2025-01-01 01:00:00' + doc_id * INTERVAL 1 SECOND,
        |    body || ' v2', lang FROM docs WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT url, url || '#frag',
        |    TIMESTAMP '2024-12-31 23:00:00' + doc_id * INTERVAL 1 SECOND,
        |    body || ' v0', lang FROM docs WHERE doc_id % 5 = 0),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY url_norm
        |  ORDER BY warc_ts DESC, url DESC, text DESC, lang DESC) AS rn FROM snaps)
        |SELECT url_norm, strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_ts,
        |  url, text, lang FROM rk WHERE rn = 1""".stripMargin),
    "fe_stream_triples" -> withDocs(triplesSql),
    "fe_stream_nil" -> withDocs(
      """SELECT DISTINCT subj_id, pred, obj_id, subj_nil, obj_nil FROM (
        |SELECT
        |  CASE WHEN (doc_id % 97) % 5 = 0
        |       THEN 'nil:' || substr(md5((CASE WHEN doc_id % 5 < 2 THEN 'ent ' ELSE 'entity ' END) || (doc_id % 97)), 1, 16)
        |       WHEN doc_id % 5 < 2 THEN 'entA_' || (doc_id % 97)
        |       ELSE 'entB_' || (doc_id % 97) END AS subj_id,
        |  'bornIn' AS pred,
        |  CASE WHEN (doc_id % 31) % 11 = 0
        |       THEN 'nil:' || substr(md5('city ' || (doc_id % 31)), 1, 16)
        |       ELSE 'city_' || (doc_id % 31) END AS obj_id,
        |  (doc_id % 97) % 5 = 0 AS subj_nil,
        |  (doc_id % 31) % 11 = 0 AS obj_nil
        |FROM docs
        |UNION ALL SELECT
        |  CASE WHEN (doc_id % 97) % 5 = 0
        |       THEN 'nil:' || substr(md5((CASE WHEN doc_id % 5 < 2 THEN 'ent ' ELSE 'entity ' END) || (doc_id % 97)), 1, 16)
        |       WHEN doc_id % 5 < 2 THEN 'entA_' || (doc_id % 97)
        |       ELSE 'entB_' || (doc_id % 97) END,
        |  'worksFor', 'org_' || (doc_id % 13),
        |  (doc_id % 97) % 5 = 0, FALSE
        |FROM docs WHERE doc_id % 2 = 0
        |UNION ALL SELECT
        |  CASE WHEN (doc_id % 31) % 11 = 0
        |       THEN 'nil:' || substr(md5('city ' || (doc_id % 31)), 1, 16)
        |       ELSE 'city_' || (doc_id % 31) END,
        |  'locatedIn', 'country_' || (doc_id % 7),
        |  (doc_id % 31) % 11 = 0, FALSE
        |FROM docs WHERE doc_id % 3 = 0) t""".stripMargin),
    "fe_merge_triples" -> withDocs(
      s"SELECT subj AS src, pred, obj AS dst FROM ($triplesSql) t"),
    "fe_stream_merge_triples" -> withDocs(
      s"SELECT subj AS src, pred, obj AS dst FROM ($triplesSql) t"),
    "fe_lineage_counts" -> withDocs(
      s"""SELECT 'pages' AS stage, CAST(COUNT(*) AS BIGINT) AS total_rows FROM docs
         |UNION ALL SELECT 'extracted', CAST(COUNT(*) AS BIGINT) FROM docs
         |UNION ALL SELECT 'mentions', CAST(COUNT(*) AS BIGINT) FROM ($mentionsSql) m
         |UNION ALL SELECT 'linked', CAST(COUNT(*) AS BIGINT) FROM ($linkedSql) l
         |UNION ALL SELECT 'triples', CAST(COUNT(*) AS BIGINT) FROM ($triplesSql) t""".stripMargin),
    "fe_media_decode" ->
      """SELECT * FROM (VALUES
        |  ('img://0', CAST(16 AS INT), CAST(9 AS INT), 'png'),
        |  ('img://1', CAST(17 AS INT), CAST(11 AS INT), 'jpeg'),
        |  ('img://2', CAST(18 AS INT), CAST(13 AS INT), 'png'),
        |  ('img://3', CAST(19 AS INT), CAST(15 AS INT), 'jpeg')
        |) t(url, width, height, format)""".stripMargin,
    "fe_media_av" ->
      """SELECT * FROM (VALUES
        |  ('av://0', 'wav',     CAST(500  AS BIGINT), CAST(8000  AS INT), CAST(1 AS INT)),
        |  ('av://1', 'wav',     CAST(250  AS BIGINT), CAST(44100 AS INT), CAST(2 AS INT)),
        |  ('av://2', 'mp4',     CAST(5000 AS BIGINT), CAST(0     AS INT), CAST(2 AS INT)),
        |  ('av://3', 'mp4',     CAST(7000 AS BIGINT), CAST(0     AS INT), CAST(1 AS INT)),
        |  ('av://4', 'unknown', CAST(0    AS BIGINT), CAST(0     AS INT), CAST(0 AS INT))
        |) t(url, container, duration_ms, sample_rate, tracks)""".stripMargin,
    "fe_media_meta" -> withDocs(
      s"""SELECT url, CAST(octet_length(encode($htmlSql)) AS BIGINT) AS n_bytes,
         |  CAST(64 + octet_length(encode($htmlSql)) % 101 AS INT) AS width,
         |  CAST(64 + octet_length(encode($htmlSql)) % 67 AS INT) AS height,
         |  CASE WHEN octet_length(encode($htmlSql)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
         |FROM docs""".stripMargin))
}
