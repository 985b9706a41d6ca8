package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structural statistics a KG-construction pipeline computes over a freshly
  * materialized graph: characteristic sets (the cardinality statistic SPARQL
  * optimizers plan star joins with) and lexical datatype inference (the
  * schema-discovery pass that assigns `xsd:` types to predicates scraped
  * from untyped web sources).
  */
object KgStats {

  /** Characteristic sets (Neumann & Moerkotte, ICDE'11 "Characteristic
    * sets: Accurate cardinality estimation for RDF queries"): partition
    * subjects by the exact SET of predicates they emit, and report per set
    * the subject count and total edge count. A SPARQL star-join
    * `?s p1 ?a . ?s p2 ?b` matches exactly the subjects of the sets
    * containing {p1,p2}, so these counts answer star cardinalities without
    * touching the edge table.
    *
    * Plan shape: two aggregates, both map-side-partial. The per-subject
    * `collect_set` state is bounded by the (small) predicate vocabulary —
    * never by subject degree — so no key skews the first aggregate's
    * reducers. Output cardinality = distinct predicate COMBINATIONS
    * observed, which real KGs keep in the thousands (the paper's point).
    * The set renders as a '|'-joined sorted string so the result is a
    * portable, hashable gate surface.
    */
  def characteristicSets(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"))
      .agg(
        concat_ws("|", sort_array(collect_set(col("pred")))).as("char_set"),
        count(lit(1)).as("deg"))
      .groupBy(col("char_set"))
      .agg(
        count(lit(1)).as("n_subjects"),
        sum(col("deg")).as("n_edges"))

  /** Characteristic-set cardinality estimation for a 2-atom star query
    * (Neumann & Moerkotte, "Characteristic sets: Accurate cardinality
    * estimation for RDF queries with multiple joins", ICDE'11 §3): per
    * characteristic set containing BOTH predicates, the estimate
    * n · (t1/n) · (t2/n) = t1·t2/n assumes within-set independence of the
    * two predicates' multiplicities; the true star cardinality is
    * Σ_subject c1·c2. The output row carries the exact distinct-subject
    * count (which CS estimation gets EXACTLY right — the paper's point),
    * the estimate in integer micro-rows (per-set truncating division, so
    * it replays in SQL), and the actual row count — on positively
    * correlated predicates (an order's contains and suppliedBy counts are
    * equal) actual > estimate by Cauchy-Schwarz, so the gap itself is
    * load-bearing arithmetic. One aggregate pair over the edge table plus
    * a one-row reduction; the optimizer-statistics job, not a join. */
  def estimateStarCardinality(edges: DataFrame, p1: String, p2: String): DataFrame = {
    val per = edges.groupBy(col("src")).agg(
      concat_ws("|", sort_array(collect_set(col("pred")))).as("char_set"),
      sum(when(col("pred") === p1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("pred") === p2, 1L).otherwise(0L)).as("c2"))
      .filter(col("c1") >= 1 && col("c2") >= 1)
    val perSet = per.groupBy(col("char_set")).agg(
      count(lit(1)).as("n"),
      sum(col("c1")).as("t1"),
      sum(col("c2")).as("t2"),
      sum(col("c1") * col("c2")).as("actual"))
    perSet.agg(
      sum(col("n")).as("n_subjects"),
      sum(expr("1000000 * t1 * t2 div n")).as("est_rows_micros"),
      sum(col("actual")).as("actual_rows"))
  }

  // anchored RE2-compatible lexical-space probes, shared verbatim with the
  // DuckDB oracle: what a value-space parser would accept for each type
  private val LongRe = "^[+-]?[0-9]+$"
  private val DoubleRe = "^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$"
  private val DateRe = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"

  /** Lexical datatype inference over the attrs table — the schema-discovery
    * ANALYZE of KG construction: for each predicate, count how many of its
    * lexical values parse as integer / decimal / date / boolean, and assign
    * the TIGHTEST type that covers every non-null value (boolean before
    * long — their lexical spaces are disjoint; long before double — every
    * integer lexical is also a decimal lexical; anything short of full
    * coverage degrades to xsd:string, never a lossy majority vote).
    * Type probes are anchored regexes rather than engine `try_cast`s:
    * cast acceptance grammars differ subtly between engines ('yes' is a
    * Spark boolean, whitespace trimming varies), regex lexical spaces are
    * portable by construction.
    *
    * ONE map-side-partial aggregate over one scan of attrs; the row-local
    * regex probes are codegen'd. Output is predicate-vocabulary-sized.
    */
  def inferDatatypes(attrs: DataFrame): DataFrame = {
    val v = col("lexical")
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    attrs.groupBy(col("prop"))
      .agg(
        count(v).as("n_values"),
        n(v.rlike(LongRe)).as("n_long"),
        n(v.rlike(DoubleRe)).as("n_double"),
        n(v.rlike(DateRe)).as("n_date"),
        n(v.isin("true", "false")).as("n_bool"))
      .withColumn("inferred",
        when(col("n_values") === 0L, "xsd:string")
          .when(col("n_bool") === col("n_values"), "xsd:boolean")
          .when(col("n_long") === col("n_values"), "xsd:long")
          .when(col("n_double") === col("n_values"), "xsd:double")
          .when(col("n_date") === col("n_values"), "xsd:date")
          .otherwise("xsd:string"))
  }

  /** Schema graph (graph summarization): one row per observed
    * (source class, predicate, target class) combination with its edge
    * count — the class-level quotient graph KG-construction QA reads to
    * spot mis-linked predicates (a `bornIn` edge landing on an Order
    * class is a linker bug visible here long before any SHACL shape is
    * written). BAG semantics over multi-typed endpoints (an edge between
    * two 2-class nodes contributes 4 rows), matching the summarization
    * literature's quotient-by-type definition. Untyped endpoints are
    * dropped — surface them via [[characteristicSets]] instead.
    *
    * Scale shape: two keyed equi-joins (types is class-assertion-sized;
    * Catalyst broadcasts it under the threshold, shuffle-joins above) +
    * one map-side-partial aggregate over the CLASS-pair domain (tiny —
    * |classes|²·|preds| at worst, thousands in real KGs). */
  def schemaGraph(edges: DataFrame, types: DataFrame): DataFrame =
    edges
      .join(types.select(col("node").as("src"), col("cls").as("src_cls")), Seq("src"))
      .join(types.select(col("node").as("dst"), col("cls").as("dst_cls")), Seq("dst"))
      .groupBy(col("src_cls"), col("pred"), col("dst_cls"))
      .agg(count(lit(1)).as("n_edges"))

  /** Weisfeiler–Leman color refinement over the typed multigraph — the
    * structural node signature KG canonicalization uses to find entities
    * whose local neighborhoods are isomorphic (1-WL distinguishes exactly
    * what the standard graph-isomorphism heuristic distinguishes; see
    * Shervashidze et al., JMLR'11 WL kernels). Round 0 colors a node by
    * its sorted class set; each round re-colors by the node's previous
    * color plus a direction-tagged digest of its (pred, neighbor-color)
    * edge SET in both directions.
    *
    * The per-round neighbor digest is a `bit_xor` of 48-bit md5 message
    * hashes — commutative, so the aggregate is map-side-partial and a
    * 10⁸-degree hub holds 8 bytes of state, not a collected list; XOR over
    * 48-bit values cannot overflow; and the result is independent of edge
    * order and partitioning by construction. XOR is set-semantics (a
    * duplicate (pred, color) message cancels), matching the edge table's
    * distinct-triple invariant — callers with a true multigraph should
    * distinct() first or count-tag messages. Each round costs two keyed
    * joins (fetch endpoint colors) + one partial aggregate; colors stay
    * md5 hex strings so every intermediate is engine-portable.
    */
  def wlColors(edges: DataFrame, types: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .unionAll(types.select(col("node"))).distinct()
    val classSets = types.groupBy(col("node"))
      .agg(concat_ws("|", sort_array(collect_set(col("cls")))).as("cs"))
    var colors = nodes.join(classSets, Seq("node"), "left")
      .select(col("node"), md5(coalesce(col("cs"), lit("")).cast("binary")).as("color"))
    for (_ <- 1 to rounds) {
      val c = Pin(colors).df
      val e = edges
        .join(c.withColumnRenamed("node", "src").withColumnRenamed("color", "src_color"), Seq("src"))
        .join(c.withColumnRenamed("node", "dst").withColumnRenamed("color", "dst_color"), Seq("dst"))
      val msgs = e.select(col("src").as("node"),
          Determinism.md5Int(concat(lit("o|"), col("pred"), lit("|"), col("dst_color"))).as("h"))
        .unionAll(e.select(col("dst").as("node"),
          Determinism.md5Int(concat(lit("i|"), col("pred"), lit("|"), col("src_color"))).as("h")))
      val sig = msgs.groupBy(col("node")).agg(expr("bit_xor(h)").as("x"))
      colors = c.join(sig, Seq("node"), "left")
        .select(col("node"), md5(concat(col("color"), lit(":"),
          coalesce(col("x"), lit(0L)).cast("string")).cast("binary")).as("color"))
    }
    colors
  }

  /** WL quotient graph — the structural summary built on [[wlColors]]:
    * collapse every color class (nodes 1-WL round-`rounds` indistinguishable)
    * to one summary node and aggregate the edge table over (src-color,
    * pred, dst-color). This is the bisimulation-style RDF summarization
    * shape (Čebirić et al., "Summarizing semantic graphs", VLDBJ'19):
    * a few hundred summary rows describing 10⁹ nodes, used for query
    * cardinality sanity, schema drift detection between crawls, and as a
    * navigation map of a freshly-constructed KG. [[schemaGraph]] is the
    * class-level special case (WL round 0 ≈ class sets); higher rounds
    * split classes by neighborhood structure.
    *
    * Output: one row per summary edge (src_color, pred, dst_color,
    * n_edges, n_src_members, n_dst_members). Plan: the color table joins
    * the edge table twice on its own node key, then ONE
    * map-side-combinable aggregate on the (color, pred, color) key —
    * summary-sized, so the member-count joins at the end are broadcast
    * territory at any scale. */
  def wlQuotient(edges: DataFrame, types: DataFrame, rounds: Int): DataFrame = {
    val colors = Pin(wlColors(edges, types, rounds)).df
    val members = colors.groupBy(col("color")).agg(count(lit(1)).as("n_members"))
    edges
      .join(colors.withColumnRenamed("node", "src")
        .withColumnRenamed("color", "src_color"), Seq("src"))
      .join(colors.withColumnRenamed("node", "dst")
        .withColumnRenamed("color", "dst_color"), Seq("dst"))
      .groupBy(col("src_color"), col("pred"), col("dst_color"))
      .agg(count(lit(1)).as("n_edges"))
      .join(broadcast(members.withColumnRenamed("color", "src_color")
        .withColumnRenamed("n_members", "n_src_members")), Seq("src_color"))
      .join(broadcast(members.withColumnRenamed("color", "dst_color")
        .withColumnRenamed("n_members", "n_dst_members")), Seq("dst_color"))
      .select(col("src_color"), col("pred"), col("dst_color"),
        col("n_edges"), col("n_src_members"), col("n_dst_members"))
  }

  /** Predicate functionality / inverse functionality (Suchanek et al.,
    * "PARIS: Probabilistic alignment of relations, instances, and schema",
    * VLDB'12 §4; the score AMIE mines rules with): per predicate,
    * fun(p) = |distinct src| / |distinct (src,dst)| and the inverse form
    * over dst. fun(p) = 1 means p is observed-functional (every subject
    * has one object) — the precondition for using p as an identity key in
    * [[keyCollisions]]-style entity resolution — while a near-1 score
    * flags predicates whose few violators are extraction errors worth a
    * repair pass. Scores are reported as exact integer micro-units
    * (10⁶·n div pairs — the float division never touches the gate
    * surface, like transitivity).
    *
    * Plan shape: ONE aggregate over one scan — the multi-count-distinct
    * compiles to an Expand (×3) with map-side partials, keyed by the
    * predicate vocabulary, so no join and no per-subject state. Output is
    * |preds| rows. Input follows the edge table's distinct-triple
    * invariant; a true multigraph should distinct() first (duplicate
    * assertions would deflate both scores).
    */
  def functionality(edges: DataFrame): DataFrame =
    edges.groupBy(col("pred"))
      .agg(
        countDistinct(col("src"), col("dst")).as("n_pairs"),
        countDistinct(col("src")).as("n_src"),
        countDistinct(col("dst")).as("n_dst"))
      .select(col("pred"), col("n_pairs"), col("n_src"), col("n_dst"),
        expr("1000000 * n_src div n_pairs").as("fun_micro"),
        expr("1000000 * n_dst div n_pairs").as("ifun_micro"))

  /** Composite-key duplicate candidates — the inverse-functional-key step
    * of entity resolution (Fellegi-Sunter blocking on agreeing key
    * attributes; owl:InverseFunctionalProperty semantics applied to a key
    * SET): nodes whose lexical values agree on EVERY property in
    * `keyProps` are duplicate-listing candidates and collapse to a
    * canonical representative (min node id — a total order, so the pick
    * is partitioning-invariant). Emits one row per member of a colliding
    * group: (node, canon, grp_n). Nodes missing any key attribute carry
    * no evidence and are excluded (inner semantics), mirroring how a
    * product-catalog dedup keys on (brand, type, size) only where all
    * three were extracted.
    *
    * Plan shape: assembling the composite key is ONE aggregate keyed by
    * node (conditional max per key prop — no self-join chain over attrs),
    * then ONE aggregate keyed by the composite key whose per-key state is
    * (min, count) — a boilerplate mega-key costs its member list only at
    * emission, and the final member join is key-equi (AQE skew-splits a
    * pathological key). At 10⁹ nodes both shuffles carry one row per
    * node, nothing per-pair: the quadratic pair space is never formed —
    * that is the whole point of blocking on a key.
    */
  def keyCollisions(attrs: DataFrame, keyProps: Seq[String]): DataFrame = {
    require(keyProps.nonEmpty, "keyProps must be non-empty")
    val keyCols = keyProps.map(p =>
      max(when(col("prop") === p, col("lexical"))).as(s"k_$p"))
    val keyed = attrs
      .filter(col("prop").isin(keyProps: _*))
      .groupBy(col("node"))
      .agg(keyCols.head, keyCols.tail: _*)
      .filter(keyProps.map(p => col(s"k_$p").isNotNull).reduce(_ && _))
    val groups = keyed
      .groupBy(keyProps.map(p => col(s"k_$p")): _*)
      .agg(min(col("node")).as("canon"), count(lit(1)).as("grp_n"))
      .filter(col("grp_n") >= 2L)
    keyed.join(groups, keyProps.map(p => s"k_$p"))
      .select(col("node"), col("canon"), col("grp_n"))
  }

  /** Entity summarization — the top-k most INFORMATIVE facts per subject
    * (the RELIN / LinkSUM family of rarity-ranked fact selection, here in
    * the engine's exact-integer style): the facts shown on an entity card,
    * or packed into an LLM context window when the full neighborhood does
    * not fit. A fact (s, p, o) scores
    *   score = 10⁹ div n(p)  +  10⁹ div n_obj(o)
    * — rare predicates and rare objects first (the integer-monotone stand-in
    * for the family's −log p(fact) self-information; `type Person` facts
    * sink, distinguishing facts rise). Ties break (pred, dst) ascending so
    * the selection is partitioning-invariant. Output (node, pred, dst,
    * score_micro, fact_rank), fact_rank 1..k per subject.
    *
    * Plan shape: two frequency aggregates (map-side-partial), the pred
    * frequency table joins broadcast (predicate vocabulary is small), the
    * object frequency joins (dst)-keyed — hub objects are exactly the
    * frequent ones, and a frequency table join on its own group key cannot
    * skew worse than the grouping did; then ONE per-subject window whose
    * partitions are subject-degree-sized. Nothing corpus-sized moves more
    * than once. Feed `attrs.select(node, prop, lexical)` renamed to
    * (src, pred, dst) to summarize literal facts with the same ranking. */
  def entitySummaries(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "entitySummaries needs k >= 1")
    // materialize the projection ONCE: predFreq, objFreq and the scored
    // join each scan it, and an un-materialized e would re-run the
    // caller's full edge derivation (for the TPC-H KG: a union with two
    // distinct shuffles) up to three times
    val e = Pin(edges.select(col("src"), col("pred"), col("dst"))).df
    val predFreq = e.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
    // objFreq is an aggregate of the pinned e, so it broadcasts on its
    // counted size while it fits the threshold, shuffled join above
    val objFreq = e.groupBy(col("dst")).agg(count(lit(1)).as("n_obj"))
    val scored = e
      .join(broadcast(predFreq), Seq("pred"))
      .join(objFreq, Seq("dst"))
      .select(col("src").as("node"), col("pred"), col("dst"),
        expr("1000000000L div n_pred + 1000000000L div n_obj").as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
      .orderBy(col("score_micro").desc, col("pred"), col("dst"))
    scored.withColumn("fact_rank", row_number().over(w))
      .filter(col("fact_rank") <= k)
  }
}
