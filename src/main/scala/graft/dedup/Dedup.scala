package graft.dedup

import graft.core.Pin
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale training corpora:
  * exact (hash group-by), MinHash + LSH banding (candidate generation →
  * exact Jaccard verification), SimHash, and n-gram Jaccard. All draws are
  * seeded hash arithmetic (no fitted models) — outputs are identical across
  * parallelism levels and reproducible in the SQL oracle.
  *
  * Scale shape: shingling is an explode (map-side); MinHash is one hash
  * aggregate keyed by (doc, j); LSH banding buckets by (band,
  * signature-slice) so the candidate self-join only meets same-bucket rows;
  * exact Jaccard runs only on candidate pairs. The only quadratic blow-up
  * is within a bucket, bounded by the banding parameters.
  */
object Dedup {

  val NumHashes = 16
  val BandRows = 4
  val P = 2147483647L
  def hashA(j: Int): Long = 1000003L + 999983L * j
  def hashB(j: Int): Long = 7L + 104729L * j

  /** exact dedup: keep the minimum id per identical text. */
  def exact(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("text")).agg(min(col("doc_id")).as("keeper"))
      .select(col("keeper").as("doc_id"))

  /** (doc_id, j, mh): MinHash signatures over distinct 3-gram shingles —
    * mh_j = min over shingles of (a_j·h + b_j) mod P.
    * One scan + one partial-aggregating shuffle: all 16 mins are computed
    * as conditional aggregates of a single groupBy, then unpivoted with
    * stack() — not 16 unioned re-scans of the shingle explode. */
  def minhash(corpus: DataFrame): DataFrame =
    // one zero-allocation byte scan per document (custom codegen
    // Expression; MIN over occurrences == MIN over the distinct set) —
    // signatures never shuffle, posexplode is map-side
    corpus.select(col("doc_id"),
        graft.expr.MinHash.minhashSig(col("text"), NumHashes).as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("j", "mh")))

  /** Corpus-overlap estimation (Broder '97 resemblance, merge property):
    * MinHash signatures merge by MIN, so a whole corpus's signature is the
    * per-index MIN over its documents' signatures — ONE map-side-combinable
    * aggregate over (key, j); the corpora are never joined row-to-row.
    * agree_cnt/k is an unbiased estimate of the Jaccard of the two
    * corpora's SHINGLE SETS — the corpus-level contamination/overlap
    * number a mixture designer wants before blending sources. The
    * pairwise join runs over |keys|·NumHashes rows (tiny by construction
    * at any corpus scale); the gate surface stays exact-integer. */
  def corpusOverlap(docs: DataFrame, keyCol: String): DataFrame = {
    val csig = docs
      .select(col(keyCol).as("key_a"),
        graft.expr.MinHash.minhashSig(col("text"), NumHashes).as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("key_a"), posexplode(col("sig")).as(Seq("j", "mh")))
      .groupBy("key_a", "j").agg(min(col("mh")).as("cmh"))
    val b = csig.select(col("key_a").as("key_b"), col("j"), col("cmh").as("cmh_b"))
    csig.join(b, Seq("j")).filter(col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b")
      .agg(count(lit(1)).as("k"),
        sum(when(col("cmh") === col("cmh_b"), 1L).otherwise(0L)).as("agree_cnt"))
  }

  /** LSH band keys: (doc_id, band, key), key = band's signature rows joined
    * in j order. */
  def lshBands(corpus: DataFrame): DataFrame =
    minhash(corpus)
      .withColumn("band", (col("j") / BandRows).cast("int"))
      .groupBy("doc_id", "band")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("j"), col("mh")))),
        x => x.getField("mh").cast("string")), "_").as("key"))

  /** signature agreements required before the exact-Jaccard pass. The
    * agreement fraction is an unbiased estimate of J (agreement ~
    * Binomial(n, J)), so a bound at ⌈threshold·n⌉ would discard ~half of
    * the genuine pairs sitting exactly at the threshold. The bound is
    * therefore slacked 2σ below the threshold (σ = √(t(1−t)/n)): it still
    * prunes clear non-candidates — keeping the exact verification linear in
    * plausible near-dups instead of in band collisions — while losing
    * < ~2.3% of threshold-level pairs. */
  def sigAgreeMin(threshold: Double): Int = {
    val sigma = math.sqrt(threshold * (1 - threshold) / NumHashes)
    math.max(0, math.ceil((threshold - 2 * sigma) * NumHashes).toInt)
  }

  /** Per-doc LSH index rows (doc_id, sig, band, key): the full j-ordered
    * signature array + one row per band key, built in ONE aggregation so
    * band joins can evaluate the signature agreement INLINE (codegen)
    * instead of re-joining 16 signature rows per candidate pair (band
    * collisions can be quadratic; the prefilter must not shuffle them).
    * This is the PERSISTABLE candidate-generation state: store it via
    * TableIO once and [[incrementNearDup]] probes later crawl increments
    * against it without recomputing anything over the stored corpus. */
  def lshIndex(corpus: DataFrame): DataFrame =
    minhash(corpus).groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("mh")))),
        x => x.getField("mh")).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(expr(s"transform(sequence(0, ${NumHashes / BandRows - 1}), " +
          s"b -> struct(b AS band, array_join(transform(slice(sig, b * $BandRows + 1, $BandRows), x -> cast(x AS string)), '_') AS key))")).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** near-dup pairs via MinHash-LSH banding → signature-estimate prefilter
    * → exact Jaccard ≥ threshold. Returns (a, b, jaccard) with a < b,
    * Jaccard rounded to 5. */
  def minhashLsh(corpus: DataFrame, threshold: Double = 0.8): DataFrame = {
    // materialize the index ONCE: the band self-join consumes it on BOTH
    // sides and Catalyst does not exchange-reuse across a broadcast/plain
    // pair (the r6 before-plan shows the shingle→minhash ObjectHashAggregate
    // subtree twice), so an un-materialized index re-shingles and re-hashes
    // the whole corpus a second time
    val sigs = Pin(lshIndex(corpus)).df
    // codegen agreement count — NOT aggregate(zip_with(...)): HOFs run
    // interpreted and this predicate sits on the (possibly quadratic)
    // band-collision stream
    val agreeExpr = graft.expr.SigOps.agree(col("siga"), col("sigb"))
    // the band self-join's fanout is produced by the FEW tasks holding the
    // collision-heavy buckets (skew invisible to AQE: it sizes join INPUT
    // partitions, and those are tiny pre-fanout), so distinct's partial
    // hash-aggregate ran serially inside them. The explicit hash exchange
    // on (a, b) moves the narrow pair rows first — cheap — and dedups in
    // parallel; distinct then reuses the partitioning (no second
    // exchange). Probe: candidate stage 5.9 → 3.7 s at sf0.1.
    val candidates = sigs.select(col("doc_id").as("a"), col("sig").as("siga"), col("band"), col("key"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .filter(agreeExpr >= sigAgreeMin(threshold))
      .select("a", "b").repartition(col("a"), col("b")).distinct()
    jaccardOf(corpus, candidates, atLeast = Some(threshold))
      .filter(col("jaccard") >= threshold)
  }

  /** INCREMENTAL near-dup detection — the shape a daily crawl actually
    * runs at 100 TB: probe an increment against an already-indexed store
    * without touching the store's text except where a candidate demands it.
    * Returns exactly `minhashLsh(store ∪ inc)` restricted to pairs with at
    * least one increment doc (IncrementalDedupSpec proves the equivalence;
    * banding is seeded hash arithmetic, so per-doc index rows are identical
    * whether computed in the store build or the increment probe).
    *
    * Cost shape per increment: shingle/minhash/band ONLY the increment;
    * one equi-join of the increment's band keys against the stored index
    * (bucketable by (band, key) — no store-side shuffle under a bucketed
    * layout, and band-key min/max file skipping under the Iceberg binding);
    * exact-Jaccard verify reads store TEXT only for docs a candidate pair
    * touches (left-semi on candidate ids — row-group skipping territory,
    * never a full store text scan). The store is never re-shingled or
    * re-minhashed. */
  def incrementNearDup(store: DataFrame, storeIndex: DataFrame, inc: DataFrame,
                       threshold: Double = 0.8): DataFrame = {
    // the increment index probes both sides (directly and inside `all`) —
    // shingle/minhash the increment ONCE
    val incIdx = Pin(lshIndex(inc)).df
    val all = storeIndex.unionByName(incIdx)
    val agreeExpr = graft.expr.SigOps.agree(col("siga"), col("sigb"))
    // inc side probes (store ∪ inc): inc–store pairs once, inc–inc pairs in
    // both orders — normalized + distinct below; store–store pairs never
    // materialize
    // cand feeds candIds (both endpoints) AND the verify join — three
    // consumers; materialize the banding join once
    val cand = Pin(incIdx
      .select(col("doc_id").as("a"), col("sig").as("siga"), col("band"), col("key"))
      .join(all.select(col("doc_id").as("b"), col("sig").as("sigb"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("a") =!= col("b"))
      .filter(agreeExpr >= sigAgreeMin(threshold))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      // hash exchange before the dedup (see minhashLsh's skew note)
      .repartition(col("a"), col("b"))
      .distinct()).df
    val candIds = cand.select(col("a").as("doc_id"))
      .unionAll(cand.select(col("b").as("doc_id"))).distinct()
    val verifyCorpus = store.select(col("doc_id"), col("text"))
      .join(candIds, Seq("doc_id"), "left_semi")
      .unionByName(inc.select(col("doc_id"), col("text")))
    jaccardOf(verifyCorpus, cand, atLeast = Some(threshold))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-duplicate CLUSTERS with keeper selection — the operation a
    * training-data pipeline actually runs after pair detection: group
    * transitively-connected near-dup pairs ([[minhashLsh]] at `threshold`)
    * into clusters (the alternating large-star/small-star connected
    * components already powering entity canonicalization — O(log n)
    * rounds) and keep the MIN doc_id per cluster. Returns (doc_id, keeper)
    * for EVERY corpus doc — singletons keep themselves — so `keeper ===
    * doc_id` IS the dedup filter and `keeper` the cluster id. */
  def nearDupClusters(corpus: DataFrame, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLsh(corpus, threshold)
      .select(col("a").as("src"), col("b").as("dst"))
    val comp = graft.pipeline.ConnectedComponents.run(pairs)
    corpus.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("keeper"))
  }

  /** The raw blocking output: DISTINCT band-bucket collision pairs
    * (a < b), BEFORE the signature-agreement prefilter and the exact
    * verify — the candidate set whose size/recall trade [[blockingQuality]]
    * measures. One self-join keyed (band, key); never all-pairs. */
  def candidatePairs(corpus: DataFrame): DataFrame = {
    // one materialization for the two self-join sides (same argument as
    // [[minhashLsh]]'s index checkpoint)
    val b = Pin(lshBands(corpus)).df
    b.select(col("band"), col("key"), col("doc_id").as("a"))
      .join(b.select(col("band"), col("key"), col("doc_id").as("b")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      // hash exchange before the dedup: parallelizes the distinct out of
      // the fanout-skewed join tasks (see minhashLsh)
      .select(col("a"), col("b")).repartition(col("a"), col("b")).distinct()
  }

  /** Meta-blocking (Papadakis et al., "Meta-blocking: Taking entity
    * resolution to the next level", TKDE 2014) — restructure a redundant
    * blocking collection BEFORE the expensive pairwise verify: weight
    * every candidate pair by its number of shared blocks (CBS — common
    * blocks scheme; redundancy is evidence), drop pairs below `minShared`,
    * then weighted-node pruning keeps each node's `topKPerNode` heaviest
    * partners (union semantics: a pair survives if EITHER endpoint
    * retains it — the standard WNP graph). On a web-scale LSH blocking
    * collection this is what turns a quadratic hub bucket into a
    * linear-ish verify load while keeping the high-redundancy (= likely
    * duplicate) pairs.
    *
    * Input blocks(block, id); output (a, b, w) with a < b. Plan: ONE
    * (block)-keyed self-equi-join (never all-pairs — identical shape to
    * [[candidatePairs]]), one map-side-combinable weight aggregate, and
    * for WNP one per-node window over each node's candidate list (top-k
    * cut, ties by partner id so pruning is partitioning-invariant). */
  def metaBlocking(blocks: DataFrame, minShared: Int = 2,
                   topKPerNode: Int = 0): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    // the blocking collection feeds BOTH self-join sides and (under WNP)
    // the weighted pair set feeds both orientations of the node view — an
    // un-materialized caller plan (e.g. the LSH banding aggregate) would
    // be evaluated up to 4× (r6 before-plan evidence); materialize each
    // exactly once
    val b = Pin(blocks.select(col("block"), col("id"))).df
    val pairs0 = b.select(col("block"), col("id").as("a"))
      .join(b.select(col("block"), col("id").as("b")), Seq("block"))
      .filter(col("a") < col("b"))
      // hash exchange before the CBS count: the partial aggregate
      // otherwise runs serially inside the few fanout-heavy join tasks
      // and barely reduces rows anyway (see minhashLsh's skew note)
      .repartition(col("a"), col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
    if (topKPerNode <= 0) pairs0
    else {
      val pairs = Pin(pairs0).df
      val view = pairs
        .select(col("a").as("node"), col("b").as("other"), col("w"), col("a"), col("b"))
        .unionAll(pairs
          .select(col("b").as("node"), col("a").as("other"), col("w"), col("a"), col("b")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("w").desc, col("other"))
      view.withColumn("r", row_number().over(win))
        .filter(col("r") <= topKPerNode)
        .select(col("a"), col("b"), col("w")).distinct()
    }
  }

  /** EXACT set-similarity join by prefix filtering (Chaudhuri, Ganti &
    * Kaushik, ICDE'06; Bayardo et al. AllPairs WWW'07; Xiao et al.
    * PPJoin WWW'08): ALL pairs with Jaccard ≥ τ over the 3-gram shingle
    * sets — the all-pairs contract at blocking cost, and the
    * deterministic-guarantee sibling of [[minhashLsh]] (whose banding is
    * probabilistic: recall < 1 between the design points). Tokens get a
    * GLOBAL rarity order (corpus frequency asc, then hash); each doc's
    * PREFIX is its first n − ceil(τ·n) + 1 tokens in that order. The
    * prefix-filter theorem: two sets with J ≥ τ MUST share a prefix
    * token — so the prefix-token self-join yields a candidate SUPERSET
    * (recall 1 by construction) and the exact-integer verify
    * inter·10⁶ ≥ τμ·(na + nb − inter) trims it to exactly the answer.
    * Rarity order makes prefixes collide on the rarest tokens — the
    * pruning that keeps the candidate join far below all-pairs.
    *
    * Scale shape: one frequency aggregate, one PER-DOCUMENT rank window
    * (bounded by document length, never a corpus sort), one
    * prefix-token-keyed self-join (the rarity order bounds each token's
    * block), one intersection count. A stop-token frequency cap (drop
    * tokens in > x% of docs from prefixes — NOT from the verify) is the
    * standard web-scale lever; omitted here because correctness needs no
    * cap and the gate proves equality to ground truth. */
  def similarityJoin(corpus: DataFrame, tauMicros: Long = 800000L): DataFrame = {
    require(tauMicros >= 1 && tauMicros <= 1000000L, s"tauMicros=$tauMicros")
    val sh = Pin(TextOps.shingleArrays(corpus)
      .select(col("doc_id"), explode(col("hs")).as("h"))).df
    val freq = sh.groupBy("h").agg(count(lit(1)).as("f"))
    val sizes = Pin(sh.groupBy("doc_id").agg(count(lit(1)).as("n"))).df
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("f"), col("h"))
    val pref = sh.join(freq, Seq("h")).join(sizes, Seq("doc_id"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <=
        col("n") - expr(s"($tauMicros * n + 999999) div 1000000") + 1)
      .select(col("doc_id"), col("h"))
    // length filter (Bayardo AllPairs §3.1 — J ≥ τ ⟹ τ·max(|A|,|B|) ≤
    // min(|A|,|B|)) prunes length-mismatched pairs before the distinct
    val prefN = pref.join(sizes, Seq("doc_id"))
    val cand = prefN.select(col("h"), col("doc_id").as("a"), col("n").as("na"))
      .join(prefN.select(col("h"), col("doc_id").as("b"), col("n").as("nb")),
        Seq("h"))
      .filter(col("a") < col("b") &&
        col("na") * 1000000L >= lit(tauMicros) * col("nb") &&
        col("nb") * 1000000L >= lit(tauMicros) * col("na"))
      // hash exchange before the dedup (see minhashLsh's skew note: the
      // prefix-token self-join concentrates its fanout in few tasks)
      .select(col("a"), col("b")).repartition(col("a"), col("b")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("h")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .filter(col("inter") * 1000000L >=
        lit(tauMicros) * (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
  }

  /** Greedy weighted MAXIMAL MATCHING over a scored candidate-pair table
    * `(a, b, w)` — the 1:1 assignment pass entity resolution runs after
    * pair scoring when each record may merge with AT MOST one partner
    * (record linkage across two registries, one-canonical-per-surface
    * constraints): take pairs in (w DESC, a, b) order, keep a pair iff
    * neither endpoint is taken — the classic greedy 1/2-approximation of
    * maximum weight matching (Avis, "A survey of heuristics for the
    * weighted matching problem", Networks 1983).
    *
    * The sequential greedy result is UNIQUELY determined by the total
    * order, so it can be computed in parallel rounds without changing
    * the answer (the Israeli–Itai/local-max argument): per round a live
    * pair wins iff it is the best-ranked among ALL live pairs sharing
    * either endpoint; winners are exactly the greedy prefix reachable
    * now, their endpoints retire with their incident pairs. Expected
    * O(log |pairs|) rounds for data-keyed weights (a decreasing-weight
    * chain is the adversarial worst case — `maxRounds` guards it). Per
    * round: one endpoint-keyed min aggregate + two anti-joins, no
    * windows, no driver state beyond the loop counter. */
  def maximalMatching(pairs0: DataFrame, maxRounds: Int = 48): DataFrame = {
    var live = Pin(pairs0.select(col("a"), col("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(max(col("w")).as("w")) // dedup keeps best
      .withColumn("rk", struct((-col("w")).as("nw"), col("a"), col("b"))))
    var out: DataFrame = null
    var round = 0
    while (live.rows > 0) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(s"matching not maximal after $maxRounds rounds")
      val inc = live.df.select(col("a").as("node"), col("rk"))
        .unionAll(live.df.select(col("b").as("node"), col("rk")))
      val best = inc.groupBy("node").agg(min(col("rk")).as("bst"))
      val winners = Pin(live.df
        .join(best.select(col("node").as("a"), col("bst").as("ba")), Seq("a"))
        .join(best.select(col("node").as("b"), col("bst").as("bb")), Seq("b"))
        .filter(col("rk") === col("ba") && col("rk") === col("bb"))
        .select(col("a"), col("b"), col("w"))).df
      val taken = winners.select(col("a").as("node"))
        .unionAll(winners.select(col("b").as("node"))).distinct()
      live = Pin(live.df
        .join(taken.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
        .join(taken.withColumnRenamed("node", "b"), Seq("b"), "left_anti"))
      out = if (out == null) winners else out.unionAll(winners)
    }
    if (out == null) pairs0.select(col("a"), col("b"), col("w")).limit(0)
    else out
  }

  /** Blocking-quality evaluation (Christen, "Data Matching" §7: reduction
    * ratio + pair completeness — the two numbers that justify a blocking
    * scheme): candidates = [[candidatePairs]], ground truth = ALL
    * shingle-sharing pairs at exact Jaccard ≥ `tau` (pairs sharing no
    * shingle have J = 0 and cannot be matches). One exact-integer row:
    *   rr_micros = 10^6 − 10^6·|C| // (n(n−1)/2)   (work avoided)
    *   pc_micros = 10^6·|C ∩ M| // |M|             (matches retained)
    * Evaluating tau BELOW the banding design point (e.g. 0.5 against
    * 0.8-tuned bands) makes pc the honest number — the probability curve
    * says mid-similarity pairs get missed, and pc reports exactly how
    * many. Scale shape: the truth side is the shingle self-join — at
    * corpus scale this is an EVALUATION job over a sample, not a per-crawl
    * stage (all-pairs truth is quadratic by definition); candidates,
    * intersections and counts are keyed joins + one-row aggregates. */
  def blockingQuality(corpus: DataFrame, tau: Double): DataFrame = {
    val spark = corpus.sparkSession
    val cand = Pin(candidatePairs(corpus))
    val sh = TextOps.shingleArrays(corpus)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val sharing = sh.select(col("h"), col("doc_id").as("a"))
      .join(sh.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
    val truth = Pin(jaccardOf(corpus, sharing, atLeast = Some(tau))
      .filter(col("jaccard") >= tau).select(col("a"), col("b")))
    val n = corpus.count()
    val (nc, nt) = (cand.rows, truth.rows)
    val tp = truth.df.join(cand.df, Seq("a", "b"), "left_semi").count()
    val allPairs = n * (n - 1) / 2
    spark.range(1).select(
      lit(n).as("n_records"),
      lit(nc).as("n_candidates"),
      lit(nt).as("n_truth"),
      lit(tp).as("true_positives"),
      lit(1000000L - 1000000L * nc / allPairs).as("rr_micros"),
      lit(if (nt == 0) 1000000L else 1000000L * tp / nt).as("pc_micros"))
  }

  /** exact n-gram Jaccard for given (a, b) pairs: |A∩B| / |A∪B| over
    * distinct shingles, rounded to 5.
    *
    * Shape: each doc's distinct-shingle set rides as ONE array row (the
    * per-doc set is bounded by document length), so the pair-level
    * intersection is a map-side `array_intersect` — no shuffle proportional
    * to |pairs|·|shingles|, which explodes on near-dup-saturated corpora
    * where candidate pairs are quadratic. The array table broadcasts while
    * it fits the broadcast threshold; above it the join hash-joins on the
    * pair keys — either way the intersection itself never shuffles. */
  def jaccardOf(corpus: DataFrame, pairs: DataFrame,
                atLeast: Option[Double] = None): DataFrame = {
    // Intersection is the codegen two-pointer merge (SigOps), not
    // array_intersect's per-row hash set. When the caller only wants pairs
    // at J ≥ `atLeast`, the merge takes the threshold-aware EARLY-EXIT
    // form: it returns -1 the moment the pair provably cannot round to the
    // threshold, and those rows drop before the jaccard arithmetic — the
    // surviving (a, b, jaccard) rows are identical to the exhaustive
    // merge's.
    val overlap = atLeast match {
      case Some(t) => graft.expr.SigOps.sortedOverlapAtLeast(col("ha"), col("hb"), t)
      case None    => graft.expr.SigOps.sortedOverlap(col("ha"), col("hb"))
    }
    val (ja, jb) = arraySides(corpus)
    pairs
      .join(ja, Seq("a"))
      .join(jb, Seq("b"))
      .select(col("a"), col("b"), overlap.cast("long").as("i"),
        size(col("ha")).cast("long").as("na"), size(col("hb")).cast("long").as("nb"))
      .filter(col("i") >= 0) // early-exited pairs (no-op for the exhaustive merge)
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 5).as("jaccard"))
  }

  /** Broder containment scores (Broder '97 §2 defines containment
    * c(A, B) = |A∩B| / |A| alongside resemblance): per candidate pair,
    * (a, b, jaccard, cont_a, cont_b) over distinct 3-gram shingle sets —
    * cont_a is the fraction of A's shingles inside B (≈1 when A is quoted
    * wholesale inside B even though Jaccard stays low), cont_b the
    * converse. The asymmetry is what resemblance-only dedup misses:
    * boilerplate-wrapped copies and quote-heavy superset pages sit at
    * J ≈ |A|/|B| but c(A,B) ≈ 1. Same size-gated join + codegen
    * two-pointer merge as [[jaccardOf]] (exhaustive — containment needs
    * the exact intersection, so no early exit), one extra division per
    * surviving pair. */
  def containmentOf(corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val (ja, jb) = arraySides(corpus)
    pairs
      .join(ja, Seq("a"))
      .join(jb, Seq("b"))
      .select(col("a"), col("b"),
        graft.expr.SigOps.sortedOverlap(col("ha"), col("hb")).cast("long").as("i"),
        size(col("ha")).cast("long").as("na"), size(col("hb")).cast("long").as("nb"))
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 5).as("jaccard"),
        round(col("i").cast("double") / col("na"), 5).as("cont_a"),
        round(col("i").cast("double") / col("nb"), 5).as("cont_b"))
  }

  /** The per-doc SORTED distinct-shingle int arrays (|docs| rows × bounded
    * length) as the `(a, ha)` / `(b, hb)` join sides of [[jaccardOf]] and
    * [[containmentOf]]. Pinned, so the gate reads the table's counted bytes
    * (arrays are ~KBs per doc; a schema estimate calls them 4 B). While the
    * table fits the broadcast threshold the (orders-of-magnitude larger)
    * pair stream NEVER shuffles — measured 2.5 s off the sf0.1 verify,
    * where both pair-stream exchanges were the cost, not the merge CPU;
    * above it (the 100-TB corpus) the join is SHUFFLE_HASH: the hash join
    * builds on the array side and streams the pairs unsorted (a sort-merge
    * join would SORT the array-laden pair rows). */
  private def arraySides(corpus: DataFrame): (DataFrame, DataFrame) = {
    val shArr = Pin(TextOps.shingleArrays(corpus))
    val aSide = shArr.df.select(col("doc_id").as("a"), col("hs").as("ha"))
    val bSide = shArr.df.select(col("doc_id").as("b"), col("hs").as("hb"))
    if (shArr.fits) (aSide, bSide)
    else (aSide.hint("shuffle_hash"), bSide.hint("shuffle_hash"))
  }

  /** Corpus-level containment ESTIMATE from the [[corpusOverlap]] surface
    * plus exact per-corpus distinct-shingle counts: with Ĵ = agree_cnt/k,
    * Ĉ(A⊆B) = Ĵ·(|A|+|B|) / ((1+Ĵ)·|A|)  (from J = |A∩B|/|A∪B| and
    * |A∪B| = (|A|+|B|)/(1+J) — |A∩B| never needs materializing). The
    * shape a mixture designer runs before blending sources: the corpora
    * are never joined row-to-row — one MIN-merge aggregate for the
    * signatures, one distinct-count aggregate for the sizes, then
    * |keys|² arithmetic. Estimates clamp to [0, 1] (the MinHash estimator
    * is unbiased but not range-constrained at small k).
    * DedupSpec bounds the estimate against [[containmentOf]]'s exact
    * number on planted subset/overlap corpora. */
  def corpusContainment(docs: DataFrame, keyCol: String): DataFrame = {
    val sizes = TextOps.shingleArrays(docs.select(col(keyCol).as("doc_id"), col("text")))
      .select(col("doc_id").as("key"), explode(col("hs")).as("h"))
      .groupBy("key").agg(count_distinct(col("h")).as("n"))
    val est = corpusOverlap(docs, keyCol)
      .withColumn("jhat", col("agree_cnt").cast("double") / col("k"))
    est
      .join(sizes.select(col("key").as("key_a"), col("n").as("n_a")), Seq("key_a"))
      .join(sizes.select(col("key").as("key_b"), col("n").as("n_b")), Seq("key_b"))
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        col("agree_cnt"), col("k"),
        least(lit(1.0), round(col("jhat") * (col("n_a") + col("n_b"))
          / ((col("jhat") + 1.0) * col("n_a")), 5)).as("cont_a_est"),
        least(lit(1.0), round(col("jhat") * (col("n_a") + col("n_b"))
          / ((col("jhat") + 1.0) * col("n_b")), 5)).as("cont_b_est"))
  }

  /** SimHash near-duplicate pairs: Hamming(simhash_a, simhash_b) ≤
    * maxHamming, (a, b, hamming) with a < b. Candidate generation is the
    * pigeonhole chunk join: the 16-bit simhash splits into 4 four-bit
    * chunks; any pair within Hamming ≤ 3 must agree on ≥ 1 whole chunk, so
    * the self-join keys on (chunk index, chunk value) — bucketed, never
    * all-pairs — and the exact Hamming check is one codegen
    * bit_count(xor). */
  def simhashNearDup(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "pigeonhole over 4 chunks covers Hamming <= 3")
    val sh = simhash(corpus)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), " +
        "i -> struct(i AS i, shiftright(simhash, i * 4) & 15 AS c))")).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.i").as("i"), col("ch.c").as("c"))
    chunks.select(col("doc_id").as("a"), col("simhash").as("sa"), col("i"), col("c"))
      .join(chunks.select(col("doc_id").as("b"), col("simhash").as("sb"), col("i"), col("c")),
        Seq("i", "c"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(expr("sa ^ sb")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash (16-bit): bit_j set iff the shingle-majority hashes to 1 under
    * the j-th bit hash ((h·a_j + b_j) mod 1021 ≥ 510). */
  def simhash(corpus: DataFrame): DataFrame = {
    val sh = TextOps.shingles(corpus)
    val aggs = (0 until NumHashes).map(j =>
      sum(when(pmod(col("h") * hashA(j) + hashB(j), lit(1021L)) >= 510, 1L)
        .otherwise(-1L)).as(s"t$j"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until NumHashes).map(j =>
          when(col(s"t$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }
}
