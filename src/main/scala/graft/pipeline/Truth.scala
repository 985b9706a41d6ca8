package graft.pipeline

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Truth discovery over conflicting web claims — the conflict-resolution
  * stage a KG-construction pipeline needs once the SAME (subject,
  * predicate) data item arrives with DIFFERENT object values from
  * different pages (the reference's single-ontology world never conflicts;
  * a 10^12-doc crawl always does).
  *
  * Algorithm: fixed-round iterative source-trust voting — the Sums /
  * TruthFinder family (Yin, Han, Yu, TKDE'08) reduced to its exact-
  * arithmetic core so the result is engine-portable and oracle-checkable:
  *
  *   trust_1(src)          = 10^6                       (uniform)
  *   belief_r(item, v)     = Σ_{src asserts (item,v)} trust_r(src)
  *   winner_r(item)        = argmax_v belief_r  (value-asc tiebreak)
  *   trust_{r+1}(src)      = 10^6 · |claims of src agreeing with winner_r|
  *                                 // |claims of src|
  *
  * All quantities are int64 micro-units; the only division is one integer
  * division per source per round (both engines truncate non-negative
  * division identically), so belief/trust match DuckDB bit-for-bit — no
  * float fixpoint, no dampening constants to drift.
  *
  * Scale shape (the 100-TB contract):
  *   - belief is ONE map-side-combinable aggregate keyed (subj, pred, obj);
  *   - the winner is ONE min(struct(-belief, obj)) aggregate per
  *     (subj, pred) — never a per-item window sort, so a head data item
  *     asserted by millions of pages costs its reducer one struct;
  *   - the trust update joins claims to the winner table on (subj, pred)
  *     (both sides just shuffled on that key — co-partitioned) and
  *     re-aggregates keyed src, map-side-combinable again;
  *   - rounds are FIXED and small (default 2); the claims and each
  *     round's trust (|sources|-sized) and winner tables are pinned
  *     ([[graft.core.Pin]]) so lineage stays flat, the next round's join
  *     starts from materialized partitions, and each voting join
  *     broadcasts its small side while it fits the broadcast threshold.
  *   - skewed head items (a fact asserted by every page of a mirror farm)
  *     ride AQE's skew split on the (subj, pred) shuffle; the aggregates
  *     themselves never hold more than one partial per key.
  */
object Truth {

  val TrustScale = 1000000L

  private def beliefOf(claims: DataFrame, trust: DataFrame): DataFrame =
    claims.join(trust, "src")
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(sum(col("trust_micros")).as("belief_micros"),
        count(lit(1)).as("n_src"))

  private def winnersOf(belief: DataFrame): DataFrame =
    belief.groupBy(col("subj"), col("pred"))
      .agg(min(struct((-col("belief_micros")).as("nb"), col("obj").as("obj"),
        col("n_src").as("n_src"))).as("w"))
      .select(col("subj"), col("pred"), col("w.obj").as("obj"),
        (-col("w.nb")).as("belief_micros"), col("w.n_src").as("n_src"))

  private def trustOf(claims: DataFrame, winners: DataFrame): DataFrame =
    claims
      .join(winners.select(col("subj"), col("pred"), col("obj").as("__wobj")),
        Seq("subj", "pred"))
      .groupBy(col("src"))
      .agg(expr(s"$TrustScale * sum(CASE WHEN obj = __wobj THEN 1 ELSE 0 END) div count(1)")
        .as("trust_micros"))

  /** claims(src, subj, pred, obj) — distinct single-valued assertions —
    * → the round-`rounds` winner per (subj, pred) with its belief mass
    * and supporting-source count. */
  def resolve(claims: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "at least one voting round")
    val c = Pin(claims.select(col("src"), col("subj"), col("pred"), col("obj")).distinct()).df
    var trust = c.select(col("src")).distinct()
      .withColumn("trust_micros", lit(TrustScale))
    var winners = winnersOf(beliefOf(c, trust))
    for (_ <- 2 to rounds) {
      trust = Pin(trustOf(c, Pin(winners).df)).df
      winners = winnersOf(beliefOf(c, trust))
    }
    winners
  }

  /** The per-source trust table entering the FINAL voting round — the
    * source-reliability artifact (crawl-prioritization / domain-quality
    * signal) the iteration produces as a byproduct. Round 1 is uniform by
    * definition, so `rounds` ≥ 2 is required for a meaningful table. */
  def sourceTrust(claims: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 2, "trust is uniform before round 2")
    val c = Pin(claims.select(col("src"), col("subj"), col("pred"), col("obj")).distinct()).df
    var trust = c.select(col("src")).distinct()
      .withColumn("trust_micros", lit(TrustScale))
    var winners = winnersOf(beliefOf(c, trust))
    for (_ <- 3 to rounds) {
      trust = Pin(trustOf(c, Pin(winners).df)).df
      winners = winnersOf(beliefOf(c, trust))
    }
    trustOf(c, Pin(winners).df)
  }

  /** Temporal scoping of facts from crawl provenance: per canonical
    * triple, the first/last snapshot timestamp observing it and the
    * number of distinct observing pages — the valid-time annotation a
    * temporal KG keeps per edge (and the freshness/support signal fact
    * ranking uses). ONE aggregate over the ts-carrying claim stream
    * (min/max/count-distinct partials are all map-side-combinable; the
    * count-distinct expands to (triple, url) partials, still one shuffle
    * keyed by the triple). */
  def factIntervals(claims: DataFrame): DataFrame =
    claims.groupBy(col("subj"), col("pred"), col("obj"))
      .agg(min(col("warc_ts")).as("first_ts"),
        max(col("warc_ts")).as("last_ts"),
        countDistinct(col("url")).as("n_docs"))

  /** SCD-type-2 fact timeline: per (subj, pred), the succession of
    * observed values ordered by FIRST observation (ties broken on the
    * value — total order, partitioning-invariant), each with its
    * [valid_from, valid_until) interval — valid_until is the next value's
    * valid_from, NULL for the current value. The versioned-edge table a
    * temporal KG serves "as of T" queries from (valid_from ≤ T < until).
    * One aggregate keyed by the full triple + one lead() window keyed by
    * (subj, pred) — per-key version counts are small (distinct values per
    * data item), so the window never sees corpus-scale partitions. */
  def factTimeline(claims: DataFrame): DataFrame = {
    val firsts = claims.groupBy(col("subj"), col("pred"), col("obj"))
      .agg(min(col("warc_ts")).as("valid_from"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("subj"), col("pred"))
      .orderBy(col("valid_from"), col("obj"))
    firsts
      .withColumn("valid_until", lead(col("valid_from"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("subj"), col("pred"), col("obj"),
        col("valid_from"), col("valid_until"), col("version"))
  }

  /** The KG "as of" `ts`: each (subj, pred) data item's version whose
    * validity interval covers ts — valid_from ≤ ts < valid_until (open
    * current version: NULL until). A pure row-local filter over the
    * [[factTimeline]] table, so an as-of view costs one scan and the
    * interval predicate pushes into the timeline's storage at scale
    * (valid_from range ⇒ partition/file pruning on a timeline partitioned
    * by valid_from). Data items first observed AFTER ts are absent — the
    * view is the KG a reader at ts could have known. */
  def factsAsOf(timeline: DataFrame, ts: java.sql.Timestamp): DataFrame =
    timeline.filter(col("valid_from") <= lit(ts) &&
        (col("valid_until").isNull || col("valid_until") > lit(ts)))
      .select(col("subj"), col("pred"), col("obj"),
        col("valid_from"), col("version"))

  /** PER-SOURCE SCD-2 timelines — [[factTimeline]] additionally keyed by
    * the claiming source, the input shape temporal conflict detection
    * needs: within ONE source a (subj, pred) item's versions never overlap
    * by construction (each valid_until is the next valid_from), so every
    * genuine temporal conflict is CROSS-source — see
    * [[intervalConflicts]]. Same plan as [[factTimeline]]: one aggregate
    * keyed by (src, subj, pred, obj) + one lead() window whose partitions
    * are per-source version counts, never corpus-scale. Input
    * claims(src, subj, pred, obj, warc_ts). */
  def sourceTimeline(claims: DataFrame): DataFrame = {
    val firsts = claims.groupBy(col("src"), col("subj"), col("pred"), col("obj"))
      .agg(min(col("warc_ts")).as("valid_from"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"), col("subj"), col("pred"))
      .orderBy(col("valid_from"), col("obj"))
    firsts.withColumn("valid_until", lead(col("valid_from"), 1).over(w))
      .select(col("src"), col("subj"), col("pred"), col("obj"),
        col("valid_from"), col("valid_until"))
  }

  /** Temporal conflict detection over [[sourceTimeline]] tables: two
    * sources whose validity intervals for the SAME (subj, pred) data item
    * OVERLAP while asserting DIFFERENT values — the disagreement surface
    * [[resolve]] votes away, reported instead of resolved (the QA view a
    * curator reads, and the evidence a trust model trains on). The interval
    * test is the standard open-ended half-interval overlap:
    * from_a < until_b ∧ from_b < until_a with NULL until = +∞ (current
    * version). Each conflicting (item, source-pair, version-pair) emits
    * once, src_a < src_b canonical, with the overlap start.
    *
    * Plan: ONE (subj, pred)-keyed self-equi-join of the timeline (both
    * sides shuffled on the item key — co-partitioned); the overlap and
    * value tests are row-local filters. Per-item cost is (versions per
    * source × sources)² for that item only — head items with millions of
    * claiming sources are exactly the ones [[resolve]]'s aggregate path
    * handles; screen with its n_src before pairwise conflict reporting at
    * web scale. */
  def intervalConflicts(timelines: DataFrame): DataFrame = {
    val a = timelines.select(col("subj"), col("pred"), col("src").as("src_a"),
      col("obj").as("obj_a"), col("valid_from").as("from_a"),
      col("valid_until").as("until_a"))
    val b = timelines.select(col("subj"), col("pred"), col("src").as("src_b"),
      col("obj").as("obj_b"), col("valid_from").as("from_b"),
      col("valid_until").as("until_b"))
    a.join(b, Seq("subj", "pred"))
      .filter(col("src_a") < col("src_b") && col("obj_a") =!= col("obj_b") &&
        (col("until_a").isNull || col("from_b") < col("until_a")) &&
        (col("until_b").isNull || col("from_a") < col("until_b")))
      .select(col("subj"), col("pred"), col("src_a"), col("obj_a"),
        col("src_b"), col("obj_b"),
        greatest(col("from_a"), col("from_b")).as("overlap_from"))
  }
}
