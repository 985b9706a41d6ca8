package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines: benchmark
  * decontamination, Gopher-style repetition signals, PII detection and
  * redaction, URL normalization, and deterministic mixture sampling.
  *
  * Every operator is a declarative DataFrame transform (whole-stage
  * codegen, no UDFs) whose arithmetic/regex dialect is shared verbatim
  * with the DuckDB oracle. Scale notes per operator:
  *
  *  - decontaminate: the benchmark n-gram set is bounded (eval suites are
  *    thousands of docs, not billions) — broadcast it; the corpus side is
  *    one generate-and-probe pass with a map-side semi-join, no shuffle of
  *    the corpus gram stream. At 100 TB swap the gram join key for a
  *    64-bit hash (xxhash64) to shrink the probe payload; the string key
  *    is kept here because the oracle must share it byte-for-byte.
  *  - repetitionSignals: explode n-grams, two keyed aggregations (partial
  *    map-side combine on (doc_id, gram), then per-doc argmax via a
  *    max(struct) aggregate — NOT a window, so no per-partition sort).
  *  - pii / urlNormalize / mixSample: pure per-row map stages — embarrass-
  *    ingly parallel, zero shuffle, codegen end to end.
  */
object Curation {

  // ---------------------------------------------------------------- n-grams

  /** All word n-gram occurrences (with duplicates) as (idCol, gram).
    * Texts follow the corpus single-space contract (see
    * [[TextOps.tokenCount]]); one linear pass per row. */
  def wordNgramsAll(docs: DataFrame, n: Int,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> array_join(slice(w, i, $n), ' '))"))
        .as("gram"))

  /** C4-style sentence-level exact dedup (Raffel et al. JMLR'20 §2.2 run
    * at sentence rather than three-sentence granularity): split each text
    * on '. ' boundaries, keep only the GLOBAL first occurrence of every
    * sentence (first = min (id, position) total order), drop later
    * repeats. Returns the surviving (id, sent_idx, sentence) rows.
    *
    * One shuffle, keyed by sentence: explode is map-side, the
    * first-occurrence pick is a row_number window per sentence. At corpus
    * scale the window key should be a 64-bit sentence hash (same
    * hash-for-shuffle-payload trade as decontaminate); the string key is
    * kept because the oracle shares it byte-for-byte. Boilerplate
    * mega-sentences make hot keys — AQE skew handling applies, and the
    * per-key payload is only (id, pos). */
  def sentenceDedup(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sents = docs
      .select(col(idCol), posexplode(split(col(textCol), "\\. ")).as(Seq("pos", "piece")))
      .withColumn("sentence", regexp_replace(col("piece"), "\\.$", ""))
      .filter(length(col("sentence")) > 0)
    val w = Window.partitionBy("sentence").orderBy(col(idCol), col("pos"))
    sents.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("pos").cast("long").as("sent_idx"), col("sentence"))
  }

  /** DuckDB mirror of [[wordNgramsAll]] over a relation `rel(doc_id, text)`
    * (emitted as a CTE body; static series bound per the
    * [[TextOps.OracleMaxDocLen]] convention). */
  def wordNgramsSql(rel: String, n: Int): String =
    s"""SELECT doc_id, array_to_string(w[i:i+${n - 1}], ' ') AS gram
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $rel) t
       |CROSS JOIN generate_series(1, ${TextOps.OracleMaxDocLen}) g(i)
       |WHERE i <= len(w) - ${n - 1}""".stripMargin

  // ------------------------------------------------------- decontamination

  /** Benchmark decontamination (the n-gram-overlap check every serious
    * pretraining pipeline runs against its eval suites): a document is
    * contaminated iff it shares at least one word n-gram with the
    * benchmark set. Returns (doc_id, n_hits) for contaminated docs only,
    * n_hits = number of DISTINCT shared grams.
    *
    * Shape: the RAW doc gram stream probes a broadcast distinct benchmark
    * gram set map-side, and only then deduplicates (countDistinct) — so
    * the only rows that ever ride an exchange are the HITS (bounded by
    * |benchmark grams| × |contaminated docs|), never the corpus gram
    * stream itself. A distinct() before the join would shuffle every
    * corpus gram; this order keeps the big side shuffle-free. */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 8,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = wordNgramsAll(bench, n, textCol, idCol)
      .select(col("gram")).distinct()
    wordNgramsAll(docs, n, textCol, idCol)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol)).agg(countDistinct(col("gram")).as("n_hits"))
  }

  // -------------------------------------------------- repetition (Gopher)

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1 quality
    * filtering): per document,
    *  - `top2_frac`: characters covered by the most frequent word 2-gram
    *    (count × gram length / text length), ties broken toward the
    *    lexicographically LARGEST gram (max(struct) semantics, mirrored by
    *    `ORDER BY cnt DESC, gram DESC` in the oracle);
    *  - `dup3_frac`: characters covered by duplicated word 3-grams
    *    (Σ count × gram length over grams with count > 1, / text length),
    *    capped at 1.0 — the standard over-counting approximation of
    *    "fraction of characters inside duplicate n-grams".
    * Docs too short for an n-gram contribute 0.0. Rounded to 5dp. */
  def repetitionSignals(docs: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val c2 = wordNgramsAll(docs, 2, textCol, idCol)
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
    val top2 = c2.groupBy(col(idCol))
      .agg(max(struct(col("cnt"), col("gram"))).as("top"))
      .select(col(idCol),
        (col("top.cnt") * length(col("top.gram"))).as("cov2"))
    val dup3 = wordNgramsAll(docs, 3, textCol, idCol)
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * length(col("gram"))).as("cov3"))
    docs.select(col(idCol), length(col(textCol)).as("len"))
      .join(top2, Seq(idCol), "left")
      .join(dup3, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("cov2"), lit(0L)).cast("double") / col("len"), 5).as("top2_frac"),
        round(least(coalesce(col("cov3"), lit(0L)).cast("double") / col("len"), lit(1.0)), 5)
          .as("dup3_frac"))
  }

  // ------------------------------------------------------------------ PII

  /** RE2-compatible (no lookaround) patterns shared with the oracle. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII detection + redaction: per-doc email/phone match counts and the
    * text with every match replaced by a type tag. Single codegen map
    * stage (regexp_extract_all / regexp_replace). */
  def pii(docs: DataFrame,
          textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
        .as("redacted"))

  // ---------------------------------------------------- URL normalization

  /** One regex splits a URL into (1 scheme, 2 host, 3 :port, 4 path,
    * 5 ?query, 6 #fragment); shared with the oracle, where no-match also
    * yields ''. */
  val UrlRe: String =
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\\?[^#]*)?(#.*)?$"

  /** Canonical URL normalization (the crawl-frontier / dedup-key variant):
    * lowercase scheme and host, strip the scheme's default port (80/443),
    * default an empty path to "/", drop `utm_*` tracking params (keeping
    * the rest in original order), drop the fragment. Also emits the
    * normalized host and the path depth (segment count). Rows whose url
    * does not parse (no "://") are passed through with url_norm = the raw
    * url and host = '' — curation pipelines route those to quarantine
    * rather than dropping silently. */
  def urlNormalize(urls: DataFrame,
                   urlCol: String = "url", idCol: String = "doc_id"): DataFrame = {
    def g(i: Int): Column = regexp_extract(col(urlCol), UrlRe, i)
    val host = lower(g(2))
    val path = when(g(4) === "", "/").otherwise(g(4))
    val parsed = host =!= ""
    urls.select(col(idCol),
      urlNormCol(col(urlCol)).as("url_norm"),
      when(parsed, host).otherwise("").as("host"),
      when(parsed, size(split(path, "/")) - 1).otherwise(0).cast("long").as("path_depth"))
  }

  /** The canonical-url column alone (the [[urlNormalize]] rule as a pure
    * expression — shared with [[graft.pipeline.Pages.latestSnapshots]]'s
    * recrawl dedup key). Unparseable urls pass through verbatim. */
  def urlNormCol(url: Column): Column = {
    def g(i: Int): Column = regexp_extract(url, UrlRe, i)
    val scheme = lower(g(1))
    val host = lower(g(2))
    val port = when(
      (scheme === "https" && g(3) === ":443") || (scheme === "http" && g(3) === ":80"),
      "").otherwise(g(3))
    val path = when(g(4) === "", "/").otherwise(g(4))
    val query = array_join(
      filter(split(substring(g(5), 2, 1 << 20), "&"),
        p => !p.startsWith("utm_")), "&")
    when(host =!= "", concat(scheme, lit("://"), host, port, path,
      when(query === "", "").otherwise(concat(lit("?"), query))))
      .otherwise(url)
  }

  // --------------------------------------------------- mixture sampling

  /** Multiplicative-hash bucket in [0, 1000): pure integer arithmetic so
    * engine and oracle agree bit-for-bit (Knuth multiplicative constant,
    * modulo a Mersenne prime). The id is pre-reduced mod M before the
    * multiply — same trick as [[graft.core.Determinism.lcg]] — so the
    * product stays inside int64 for ANY id: a raw `id * K` overflows (and
    * under ANSI semantics THROWS) once ids pass ~3.5e9, i.e. exactly the
    * 10^12-doc id range this operator is for. Identical output for
    * ids < M, so small-scale results and the oracle dialect are unchanged. */
  def hashBucket(id: Column): Column =
    (((id % lit(2147483647L)) * lit(2654435761L)) % lit(2147483647L)) % lit(1000L)

  /** Deterministic training-mixture sampling: each source is down-sampled
    * to `rate` (in thousandths) by keeping rows whose id hash-bucket falls
    * below it. `rates(source, keep_per_mille)` is a small dim — broadcast
    * join, then a pure filter; the kept set is reproducible across runs,
    * partitionings, and engines (no RNG state). */
  def mixSample(docs: DataFrame, rates: DataFrame,
                sourceCol: String = "source", idCol: String = "doc_id"): DataFrame =
    docs.join(broadcast(rates), docs(sourceCol) === rates("source"))
      .filter(hashBucket(col(idCol)) < col("keep_per_mille"))
      .select(col(idCol), docs(sourceCol), col("keep_per_mille"))

  /** Full-range deterministic rank hash (the [0,1000) bucket quantized for
    * rate filters is too collision-heavy to ORDER by). */
  def rankHash(id: Column): Column =
    ((id % lit(2147483647L)) * lit(2654435761L)) % lit(2147483647L)

  /** Exact top-`cap` per group by deterministic hash rank — ONE operator
    * behind two standard curation moves: per-DOMAIN capping (the
    * Common-Crawl practice of bounding any single host's share of the
    * corpus) and STRATIFIED sampling (exactly `cap` docs per
    * language/source). Selection key (rankHash(id), id) is uniform and
    * reproducible across runs, partitionings, and engines.
    *
    * Scale shape: groups at-or-under the cap never enter a window — the
    * (partial-aggregated) groupBy count splits the corpus into an
    * under-cap side passed through verbatim (anti-join) and an over-cap
    * side (semi-join) that alone pays the per-group sort. On a web corpus
    * the over-cap hosts are the head of the domain distribution, so the
    * window sorts docs-in-over-cap-hosts, not |corpus|. Residual hotspot —
    * one mega-host's rows landing in a single window partition — calls for
    * a hash-threshold pre-prune (keep rows with rankHash below ~cap/n with
    * slack, verify the survivor count, exact window over survivors) before
    * this operator; at the tested scales the count split suffices.
    * Emits (idCol, groupCol) for kept rows. */
  def capPerGroup(docs: DataFrame, cap: Int, groupCol: String,
                  idCol: String = "doc_id"): DataFrame = {
    require(cap > 0)
    val over = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap).select(col(groupCol))
    val underSide = docs.join(over, Seq(groupCol), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(rankHash(col(idCol)), col(idCol))
    val capped = docs.join(over, Seq(groupCol), "left_semi")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
    underSide.select(col(idCol), col(groupCol))
      .unionByName(capped.select(col(idCol), col(groupCol)))
  }

  /** Deterministic train/validation/test assignment from the same hash
    * bucket: [0, valPm) → validation, [valPm, valPm+testPm) → test, rest →
    * train. Pure map — the assignment is stable under re-partitioning,
    * re-runs, and incremental corpus growth (a doc's split never changes
    * when other docs arrive, unlike ORDER BY/LIMIT splits). */
  def splitAssign(docs: DataFrame, valPerMille: Int = 100, testPerMille: Int = 100,
                  idCol: String = "doc_id"): DataFrame = {
    require(valPerMille >= 0 && testPerMille >= 0 && valPerMille + testPerMille <= 1000)
    val b = hashBucket(col(idCol))
    docs.select(col(idCol),
      when(b < valPerMille, "validation")
        .when(b < valPerMille + testPerMille, "test")
        .otherwise("train").as("split"))
  }

  // ------------------------------------------------------------ chunking

  /** Overlapping fixed-window chunking (the RAG/embedding-prep op): split
    * each doc's token sequence into windows of `maxTokens` advancing by
    * `maxTokens - overlap`; the chunk count is max(1, ⌈(n − overlap) /
    * step⌉) so every token is covered and the final window keeps ≥ 1
    * non-overlap token. Pure per-row map (one HOF expansion, no shuffle);
    * emits (idCol, chunk_id, chunk). */
  def chunk(docs: DataFrame, maxTokens: Int = 64, overlap: Int = 16,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens)
    val step = maxTokens - overlap
    docs.select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), explode(expr(
        s"""transform(
           |  sequence(0, greatest(0, cast(ceil((size(w) - $overlap) / $step.0) as int) - 1)),
           |  k -> named_struct(
           |    'chunk_id', cast(k as bigint),
           |    'chunk', array_join(slice(w, k * $step + 1, $maxTokens), ' ')))""".stripMargin))
        .as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.chunk"))
  }

  // --------------------------------- exact-substring duplicate spans

  /** Exact-substring duplicate-span detection (the ExactSubstr dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — there via a monolithic suffix array; here
    * re-expressed as a k-gram seed-and-merge over Spark relational ops):
    * a token position is duplicated iff some k-gram window covering it
    * occurs ≥ 2 times in the corpus (across docs OR repeated within one).
    * Returns the MAXIMAL duplicated spans per doc as
    * (idCol, span_start, span_end, span_tokens), positions 1-based
    * inclusive; overlapping and coverage-adjacent seed windows merge.
    *
    * Shape and scale: one gram-keyed aggregation (map-side partial count)
    * filtered to count > 1, then the seed stream semi-joins it on gram —
    * a saturated gram ("the the the…" pathologies) lands on one reducer
    * only as a 1-row build side; AQE skew-split handles the probe side.
    * The measured alternative (as recorded at sf0.1 × 32 cores): a
    * single window `count over (partition by gram)` is 1.34 s vs this
    * shape's 2.22 s — one exchange instead of two — but a window sort
    * partition cannot be skew-split, so one hot gram would serialize an
    * entire partition at web scale; the join shape is kept deliberately.
    * The island merge is two windows PARTITIONED BY doc (lag + running
    * sum), so per-doc work is bounded by doc length and docs spread
    * across the cluster — no global sort anywhere. At 100 TB, key the
    * count/join on xxhash64(gram) to shrink the exchange payload (the
    * string key is kept here so the DuckDB oracle shares it verbatim),
    * and seed with k ≈ 50 tokens per the paper so the dup-gram set stays
    * sparse. */
  def dupSpans(docs: DataFrame, k: Int,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "span seed length k must be >= 2")
    val seeds = docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), i -> struct(i as pos, array_join(slice(w, i, $k), ' ') as gram))"))
        .as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.gram").as("gram"))
    val dupGrams = seeds.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
      .select(col("gram"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    seeds.join(dupGrams, Seq("gram"), "semi")
      .withColumn("brk",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(byPos), lit(Long.MinValue)) + k, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(byPos))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col(idCol), col("span_start").cast("long"), col("span_end").cast("long"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_tokens"))
  }

  /** Per-doc duplicated-token fraction from [[dupSpans]]: union length of
    * the maximal spans / token count, 0.0 for clean docs (every input doc
    * gets a row). The 5-dp round matches the corpus oracle dialect. */
  def dupSpanFraction(docs: DataFrame, k: Int,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cov = dupSpans(docs, k, textCol, idCol)
      .groupBy(col(idCol)).agg(sum(col("span_tokens")).as("dup_tokens"))
    docs.select(col(idCol), TextOps.tokenCount(col(textCol)).as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 5)
          .as("dup_frac"))
  }

  // --------------------------------------------------- source rollup

  /** Per-SOURCE corpus rollup — the table a curator reads before weighting
    * or dropping a subcorpus: doc/token volume, exact-dup count (docs minus
    * distinct texts — the dedup headroom), language spread, and
    * punctuation/stopword density computed from the SUMS (one division per
    * group over exact integers — averaging per-doc rounded doubles would
    * be summation-order-dependent and gate-flaky). The two distinct counts
    * plan as Spark's Expand/gid shape (two cascaded partial aggregates);
    * the dup key is md5(text) — the engine's standing exact-dup key — so
    * the exchanges carry 32-hex digests and a 3-byte lang code, NEVER the
    * document bodies. */
  def sourceStats(docs: DataFrame, sourceCol: String = "source"): DataFrame = {
    val t = col("text")
    val punct = TextOps.countOccurrences(t, ".") +
      TextOps.countOccurrences(t, ",") + TextOps.countOccurrences(t, "!")
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stop = TextOps.countOccurrences(padded, " the ") +
      TextOps.countOccurrences(padded, " a ") + TextOps.countOccurrences(padded, " of ")
    docs.select(col(sourceCol).as("source"), md5(t).as("fp"), col("lang"),
        TextOps.tokenCount(t).as("toks"), punct.as("punct"), stop.as("stop"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        (count(lit(1)) - count_distinct(col("fp"))).as("n_exact_dups"),
        count_distinct(col("lang")).as("n_langs"),
        round(sum(col("punct")).cast("double") / sum(col("toks")), 5).as("punct_per_token"),
        round(sum(col("stop")).cast("double") / sum(col("toks")), 5).as("stop_per_token"))
  }

  // --------------------------------------------------- sequence packing

  /** Cumulative-offset sequence packing: within each source, docs in id
    * order are laid end-to-end and cut into fixed-`capacity` token bins
    * (bin = preceding-token-sum DIV capacity) — the deterministic
    * approximate packing used to build fixed-length training sequences
    * (docs may straddle a boundary; the trainer's concat-and-chunk view).
    *
    * Shape: one window cumsum PARTITIONED BY source — each source packs
    * independently in parallel, no global sort. At 100 TB a single giant
    * source would bottleneck its one window partition; shard the partition
    * key (source, hashBucket(id) DIV k) first — bins then number within
    * shards, which the concat-and-chunk contract allows. */
  def packSequences(docs: DataFrame, capacity: Long = 512L,
                    textCol: String = "text", sourceCol: String = "source",
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(capacity > 0)
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(sourceCol),
        TextOps.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        expr(s"offset DIV $capacity").as("bin"),
        (col("offset") % capacity).as("bin_offset"))
  }
}
