package graft.queries

import graft.core.Pin
import graft.text.{Classifier, Curation, Lm, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators (decontamination / repetition / PII / URL
  * normalization / mixture sampling), each hash-checked against a DuckDB
  * oracle over the same documents parquet. Fixture derivations (planted
  * PII, synthesized URLs, the benchmark split) are pure arithmetic in
  * doc_id, mirrored side by side with their SQL. */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) =
    s.read.parquet(s"$d/documents.parquet")

  /** benchmark split: every 37th base doc is "eval suite". */
  private def bench(s: SparkSession, d: String) =
    docs(s, d).filter(col("doc_id") % 37 === 0).select(col("doc_id"), col("text"))

  /** corpus minus the benchmark rows themselves — but the planted
    * +100000/+200000 copies of benchmark docs stay in, so contamination
    * via duplicated eval text is actually exercised. */
  private def scanSide(s: SparkSession, d: String) =
    TrainingDataQueries.corpus(s, d)
      .filter(!(col("doc_id") % 37 === 0 && col("doc_id") < 100000))

  /** planted PII: every 7th doc gains an email, every 11th a phone. */
  private def piiCorpus(s: SparkSession, d: String) =
    docs(s, d).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com now"))).otherwise(""),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
      .as("text"))

  /** synthesized URL table: mixed-case schemes/hosts, default and
    * non-default ports, tracking params, fragments, and a malformed row
    * every 17th doc (quarantine path). */
  private def synthUrls(s: SparkSession, d: String) =
    docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 17 === 0, concat(lit("not a url "), col("doc_id")))
        .otherwise(concat(
          when(col("doc_id") % 2 === 0, "https").otherwise("HTTP"), lit("://"),
          when(col("doc_id") % 4 === 0, "Ex.ORG")
            .when(col("doc_id") % 4 === 1, "ex.org")
            .when(col("doc_id") % 4 === 2, "www.ex.org")
            .otherwise("cdn.Ex.org"),
          when(col("doc_id") % 5 === 0, ":443")
            .when(col("doc_id") % 5 === 1, ":8080").otherwise(""),
          lit("/a"), when(col("doc_id") % 3 === 0, "/b").otherwise(""),
          lit("/doc"), col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(lit("?utm_source=feed&id="), col("doc_id")))
            .when(col("doc_id") % 3 === 1, concat(lit("?id="), col("doc_id"), lit("&utm_medium=x")))
            .otherwise(""),
          when(col("doc_id") % 2 === 1, "#sec").otherwise("")))
        .as("url"))

  /** per-source keep rates in thousandths: src<k> keeps ((k%4)+1)·25%. */
  private def rates(s: SparkSession) = {
    import s.implicits._
    (0 to 19).map(k => (s"src$k", ((k % 4) + 1) * 250L)).toDF("source", "keep_per_mille")
  }

  def queries: Map[String, Q] = Map(
    "td_decontam" -> ((s, d) =>
      Curation.decontaminate(scanSide(s, d), bench(s, d), n = 8)),
    "td_repetition" -> ((s, d) =>
      Curation.repetitionSignals(TrainingDataQueries.corpus(s, d))),
    "td_pii" -> ((s, d) => Curation.pii(piiCorpus(s, d))),
    "td_url_norm" -> ((s, d) => Curation.urlNormalize(synthUrls(s, d))),
    "td_mix_sample" -> ((s, d) => Curation.mixSample(docs(s, d), rates(s))),
    "td_split" -> ((s, d) => Curation.splitAssign(docs(s, d))),
    "td_chunk" -> ((s, d) => Curation.chunk(docs(s, d), maxTokens = 32, overlap = 8)),
    "td_pack" -> ((s, d) => Curation.packSequences(docs(s, d), capacity = 512L)),
    // per-source rollup: volume, dedup headroom, language spread, density
    // ratios from the SUMS (exact-integer numerators, one division/group)
    "td_source_stats" -> ((s, d) => Curation.sourceStats(docs(s, d))),
    "td_curation_filter" -> ((s, d) => curationFilter(s, d)),
    // per-domain capping over the normalized synth URLs: the '' host
    // (malformed rows, ~1/17 of docs ≈ 29 at the 500-doc gate scale) stays
    // under the 100 cap and rides the pass-through anti-join side; the
    // three real hosts exceed it and are window-capped — both paths
    // load-bearing in one gate
    "td_domain_cap" -> ((s, d) =>
      Curation.capPerGroup(
        Curation.urlNormalize(synthUrls(s, d)).select(col("doc_id"), col("host")),
        cap = 100, groupCol = "host")),
    // stratified sampling: exactly 10 docs per source — binding for every
    // source at every sf (≥ 25 docs/source), so the gate checks the exact
    // hash-rank selection, not a pass-through
    "td_stratified" -> ((s, d) =>
      Curation.capPerGroup(docs(s, d).select(col("doc_id"), col("source")),
        cap = 10, groupCol = "source")),
    // trained-in-engine NB evidence voter: weak labels from the corpus's
    // own lang metadata (pos = English); the whole train+score cycle is
    // one deterministic integer pipeline the oracle replays end-to-end
    "td_nb_classifier" -> ((s, d) => {
      val base = docs(s, d)
      val labels = base.select(col("doc_id"), (col("lang") === "en").as("pos"))
      Classifier.score(base, Classifier.trainVotes(base, labels))
    }),
    "td_dup_spans" -> ((s, d) =>
      Curation.dupSpans(TrainingDataQueries.corpus(s, d), k = 8)),
    "td_dup_frac" -> ((s, d) =>
      Curation.dupSpanFraction(TrainingDataQueries.corpus(s, d), k = 8)),
    // CCNet-style LM quality scoring, trained in-engine: Laplace bigram
    // model over the corpus's own English slice (the trusted-reference
    // stand-in), every doc scored by per-bigram cross-entropy under it
    "td_lm_xent" -> ((s, d) => {
      val base = docs(s, d)
      Lm.crossEntropy(base, Lm.trainBigram(base.filter(col("lang") === "en")))
    }),
    // CCNet quality buckets: global ntile(3) over (xent, doc_id). The
    // window here is the EXACT gate formulation; at corpus scale the cut
    // is two percentile thresholds broadcast into a per-row CASE (CCNet
    // itself uses histogram cutoffs) — the per-doc xent table this ranks
    // is already |docs|-sized, far below the text it scored.
    "td_ccnet_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, d)
      val xent = Lm.crossEntropy(base, Lm.trainBigram(base.filter(col("lang") === "en")))
      val w = Window.orderBy(col("xent"), col("doc_id"))
      xent.select(col("doc_id"), col("xent"), ntile(3).over(w).as("bucket"))
        .withColumn("label",
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle").otherwise("tail"))
    }),
    // vocabulary induction: exact corpus-wide top-k unigrams with a
    // total-order tie-break (count desc, token asc) — TakeOrdered, i.e.
    // per-partition top-k merged on the driver, never a global sort.
    // k = 20 < the fixture's 31-token vocabulary, so the cut (and the
    // tie-break at its boundary) is binding at every tested sf
    "td_vocab_topk" -> ((s, d) =>
      Curation.wordNgramsAll(docs(s, d), 1)
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(20)),
    // exact heavy hitters, two-pass: per-partition Misra–Gries candidate
    // summary (O(k) state, no shuffle) + exact recount of candidates only
    // — the full-vocabulary shuffle of a naive token groupBy never
    // happens; output = tokens with count·k > n, exact by the MG
    // superset guarantee (FrequencySpec carries the bound-binding cases;
    // this oracle row verifies the count·k > n rule end to end)
    "td_heavy_hitters" -> ((s, d) => graft.core.Frequency.heavyHitters(
      Curation.wordNgramsAll(docs(s, d), 1), "gram", k = 40)),
    // frequency-of-frequencies: the Good–Turing smoothing input / Zipf
    // fit surface; two map-side-partial aggregates
    "td_freq_spectrum" -> ((s, d) => graft.core.Frequency.freqSpectrum(
      Curation.wordNgramsAll(docs(s, d), 1), "gram")),
    // KMV distinct-value sketch per language: bounded k-min aggregator
    // (O(k) state, map-side combinable) + the (k−1)·2^48 div h_k
    // estimator, integer-exact in both engines; exact_distinct stays on
    // the row as the gate's ruler. Item domain = word BIGRAMS (~900
    // distinct per lang, ~14× k) so the estimator branch — not the
    // under-full exact branch — is what the hash comparison verifies
    "td_kmv_distinct" -> ((s, d) => {
      val dd = docs(s, d)
      val grams = Curation.wordNgramsAll(dd, 2)
        .join(dd.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.core.Sketches.kmvDistinct(grams, "gram", Seq("lang"), k = 64)
    }),
    // Count-Min frequency sketch: 4×512 counter grid over every bigram
    // occurrence (one map-side-combinable aggregate — the key space never
    // shuffles), probed for every ~31st vocabulary item (~140 queries at
    // sf0.01); actual counts ride along so the one-sided est ≥ actual
    // guarantee is ON the gate surface
    "td_cms_est" -> ((s, d) => {
      val grams = Curation.wordNgramsAll(docs(s, d), 2)
      val sketch = graft.core.Sketches.countMin(grams, "gram", 4, 512)
      val queries = grams.select(col("gram")).distinct()
        .filter(pmod(graft.core.Determinism.md5Int(col("gram")), lit(31)) === 0)
      val actual = grams.join(queries.hint("broadcast"), Seq("gram"), "left_semi")
        .groupBy(col("gram")).agg(count(lit(1)).as("actual"))
      graft.core.Sketches.countMinEstimate(sketch, queries, "gram", 4, 512)
        .withColumnRenamed("item", "gram")
        .join(actual, Seq("gram"))
    }),
    // Bloom membership filter: bits built from the ENGLISH docs' bigram
    // vocabulary, every corpus bigram probed — the broadcastable
    // "seen-in-reference-set?" shape (decontamination prefilters,
    // crawl-frontier visited sets). `in_set` rides along as the ruler:
    // member ≥ in_set row-by-row (no false negatives, one-sided error),
    // and each deterministic false positive is replayed by the oracle
    // TextRank keyword substrate: the window-2 word co-occurrence graph
    // (exact-integer pair counts, same tokenization as every gram
    // oracle); the float PageRank on top is TextRankSpec-pinned against
    // a naive reference — the rank-surface split used everywhere here
    "td_textrank_graph" -> ((s, d) =>
      graft.text.TextRank.wordGraph(docs(s, d))),
    "td_bloom_probe" -> ((s, d) => {
      val dd = docs(s, d)
      val grams = Curation.wordNgramsAll(dd, 2)
      val en = grams.join(dd.filter(col("lang") === "en").select("doc_id"),
        Seq("doc_id"), "left_semi").select(col("gram"))
      val bits = graft.core.Sketches.bloomBits(en, "gram", 4, 65536)
      graft.core.Sketches.bloomProbe(bits, grams.select("gram"), "gram", 4, 65536)
        .withColumnRenamed("item", "gram")
        .join(en.distinct().withColumn("in_set", lit(true)), Seq("gram"), "left")
        .select(col("gram"), col("member"),
          coalesce(col("in_set"), lit(false)).as("in_set"))
    })
  )

  /** Composite C4/Gopher-style retention pipeline over the dup-planted
    * corpus: keep a doc iff it is its exact-dup group's keeper (min id),
    * has ≥ 20 tokens, its top-2-gram coverage is below 25%, and it shares
    * no 8-gram with the benchmark. One output row per retained doc. */
  def curationFilter(s: SparkSession, d: String): DataFrame = {
    // four consumers (keeper agg, repetition signals, decontamination,
    // the token-count filter) — materialize the corpus union once
    val corpus = Pin(TrainingDataQueries.corpus(s, d)).df
    val keepers = corpus.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val rep = Curation.repetitionSignals(corpus)
      .filter(col("top2_frac") < 0.25).select(col("doc_id"))
    val contaminated = Curation.decontaminate(corpus, bench(s, d), n = 8)
      .select(col("doc_id"))
    corpus.filter(TextOps.tokenCount(col("text")) >= 20)
      .join(keepers, Seq("doc_id"), "semi")
      .join(rep, Seq("doc_id"), "semi")
      .join(contaminated, Seq("doc_id"), "anti")
      .select(col("doc_id"))
  }

  // ------------------------------------------------------------- oracles

  private val corpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL SELECT doc_id + 100000, text || ' x' FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  private val benchCte =
    "bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0)"

  private def ngramCte(name: String, rel: String, n: Int) =
    s"$name AS (${Curation.wordNgramsSql(rel, n)})"

  /** decontamination chain over scan relation `rel` → CTE `hits(doc_id,
    * n_hits)` (names prefixed to stay composable in one WITH). */
  private def decontamBody(rel: String) =
    s"""$benchCte,
       |${ngramCte("dgall", rel, 8)},
       |dg AS (SELECT DISTINCT doc_id, gram FROM dgall),
       |${ngramCte("bgall", "bench", 8)},
       |bg AS (SELECT DISTINCT gram FROM bgall),
       |hits AS (SELECT dg.doc_id, COUNT(*) AS n_hits FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id)""".stripMargin

  /** repetition-signal chain over `corpus` → CTE `rep(doc_id, top2_frac,
    * dup3_frac)`. */
  private val repBody =
    s"""${ngramCte("g2", "corpus", 2)},
       |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
       |t2 AS (SELECT doc_id, cnt * length(gram) AS cov2,
       |       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM c2),
       |${ngramCte("g3", "corpus", 3)},
       |c3 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, gram),
       |d3 AS (SELECT doc_id, SUM(cnt * length(gram)) AS cov3 FROM c3 WHERE cnt > 1 GROUP BY doc_id),
       |rep AS (
       |  SELECT c.doc_id,
       |    ROUND(COALESCE(t.cov2, 0) / length(c.text), 5) AS top2_frac,
       |    ROUND(LEAST(COALESCE(d.cov3, 0) / length(c.text), 1.0), 5) AS dup3_frac
       |  FROM corpus c
       |  LEFT JOIN (SELECT doc_id, cov2 FROM t2 WHERE rn = 1) t USING (doc_id)
       |  LEFT JOIN d3 d USING (doc_id))""".stripMargin

  private val piiCte =
    """pdocs AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |         || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
      |  FROM documents)""".stripMargin

  private val urlCte =
    """urls AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0 THEN 'not a url ' || doc_id
      |    ELSE (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://'
      |      || (CASE WHEN doc_id % 4 = 0 THEN 'Ex.ORG' WHEN doc_id % 4 = 1 THEN 'ex.org'
      |          WHEN doc_id % 4 = 2 THEN 'www.ex.org' ELSE 'cdn.Ex.org' END)
      |      || (CASE WHEN doc_id % 5 = 0 THEN ':443' WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
      |      || '/a' || (CASE WHEN doc_id % 3 = 0 THEN '/b' ELSE '' END) || '/doc' || doc_id
      |      || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || doc_id
      |          WHEN doc_id % 3 = 1 THEN '?id=' || doc_id || '&utm_medium=x' ELSE '' END)
      |      || (CASE WHEN doc_id % 2 = 1 THEN '#sec' ELSE '' END)
      |    END AS url
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of [[Curation.urlNormalize]] over `urls(doc_id, url)`
    * (standard-SQL single-quoted literals don't process backslashes, so the
    * Scala pattern embeds verbatim and reaches RE2 unchanged). */
  private val urlNormSql = {
    val re = Curation.UrlRe
    s"""SELECT doc_id,
       |  CASE WHEN host0 = '' THEN url ELSE
       |    scheme || '://' || host || port || path
       |      || (CASE WHEN q = '' THEN '' ELSE '?' || q END) END AS url_norm,
       |  CASE WHEN host0 = '' THEN '' ELSE host END AS host,
       |  CASE WHEN host0 = '' THEN 0 ELSE len(string_split(path, '/')) - 1 END AS path_depth
       |FROM (
       |  SELECT doc_id, url, host0, scheme, host,
       |    CASE WHEN (scheme = 'https' AND rawport = ':443') OR (scheme = 'http' AND rawport = ':80')
       |      THEN '' ELSE rawport END AS port,
       |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
       |    array_to_string(list_filter(string_split(CASE WHEN rawq = '' THEN '' ELSE rawq[2:] END, '&'),
       |      p -> NOT starts_with(p, 'utm_')), '&') AS q
       |  FROM (
       |    SELECT doc_id, url,
       |      regexp_extract(url, '$re', 2) AS host0,
       |      lower(regexp_extract(url, '$re', 1)) AS scheme,
       |      lower(regexp_extract(url, '$re', 2)) AS host,
       |      regexp_extract(url, '$re', 3) AS rawport,
       |      regexp_extract(url, '$re', 4) AS rawpath,
       |      regexp_extract(url, '$re', 5) AS rawq
       |    FROM urls) p0) p1""".stripMargin
  }

  private val ratesCte =
    "rates AS (SELECT 'src' || k AS source, ((k % 4) + 1) * 250 AS keep_per_mille FROM generate_series(0, 19) g(k))"

  /** seed → maximal-span chain over `corpus`, k = 8 → CTE
    * `spans(doc_id, span_start, span_end, span_tokens)`. Mirrors
    * [[Curation.dupSpans]]: gram count > 1 (within-doc repeats included),
    * lag-gap islands, coverage-adjacent merge at pos ≤ prev + k. */
  private val dupSpanBody =
    s"""dsg AS (SELECT doc_id, i AS pos, gram FROM (
       |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram, i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus) t
       |  CROSS JOIN generate_series(1, ${TextOps.OracleMaxDocLen}) g(i)
       |  WHERE i <= len(w) - 7) q),
       |dsd AS (SELECT gram FROM dsg GROUP BY gram HAVING COUNT(*) > 1),
       |dss AS (SELECT doc_id, pos FROM dsg JOIN dsd USING (gram)),
       |dsm AS (SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS brk
       |  FROM dss WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |dsi AS (SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM dsm),
       |spans AS (
       |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       |    CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
       |  FROM dsi GROUP BY doc_id, island)""".stripMargin

  /** Per-doc reference-LM cross-entropy — shared by td_lm_xent and the
    * CCNet bucketing built on top of it. */
  private val xentOracle =
    s"""WITH ref AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
       |rg2 AS (${Curation.wordNgramsSql("ref", 2)}),
       |rb AS (SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2,
       |         COUNT(*) AS cnt FROM rg2 GROUP BY 1, 2),
       |rcx AS (SELECT w1, SUM(cnt) AS ctx FROM rb GROUP BY w1),
       |rg1 AS (${Curation.wordNgramsSql("ref", 1)}),
       |voc AS (SELECT COUNT(DISTINCT gram) + 1 AS v FROM rg1),
       |dg2 AS (${Curation.wordNgramsSql("documents", 2)}),
       |ds AS (SELECT doc_id, string_split(gram, ' ')[1] AS w1,
       |         string_split(gram, ' ')[2] AS w2 FROM dg2),
       |sc AS (SELECT ds.doc_id, COUNT(*) AS n_bigrams,
       |         SUM(ln(CAST(COALESCE(rb.cnt, 0) + 1 AS DOUBLE)
       |           / CAST(COALESCE(rcx.ctx, 0) + voc.v AS DOUBLE))) AS s
       |       FROM ds LEFT JOIN rb USING (w1, w2) LEFT JOIN rcx USING (w1)
       |       CROSS JOIN voc GROUP BY ds.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  ROUND(COALESCE(-sc.s / sc.n_bigrams, 0.0), 4) AS xent
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "td_dup_spans" -> (s"WITH $corpusCte,\n$dupSpanBody\n" +
      "SELECT doc_id, span_start, span_end, span_tokens FROM spans"),

    "td_dup_frac" -> (s"WITH $corpusCte,\n$dupSpanBody,\n" +
      """cov AS (SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id)
        |SELECT c.doc_id,
        |  ROUND(CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE)
        |    / (length(c.text) - length(replace(c.text, ' ', '')) + 1), 5) AS dup_frac
        |FROM corpus c LEFT JOIN cov USING (doc_id)""".stripMargin),

    "td_decontam" -> (s"WITH $corpusCte,\n" +
      "scanside AS (SELECT doc_id, text FROM corpus WHERE NOT (doc_id % 37 = 0 AND doc_id < 100000)),\n" +
      s"${decontamBody("scanside")}\nSELECT doc_id, n_hits FROM hits"),

    "td_repetition" -> s"WITH $corpusCte,\n$repBody\nSELECT doc_id, top2_frac, dup3_frac FROM rep",

    "td_pii" -> (s"WITH $piiCte\n" +
      s"SELECT doc_id, len(regexp_extract_all(text, '${Curation.EmailRe}')) AS n_emails,\n" +
      s"  len(regexp_extract_all(text, '${Curation.PhoneRe}')) AS n_phones,\n" +
      s"  regexp_replace(regexp_replace(text, '${Curation.EmailRe}', '<EMAIL>', 'g'), " +
      s"'${Curation.PhoneRe}', '<PHONE>', 'g') AS redacted\nFROM pdocs"),

    "td_url_norm" -> s"WITH $urlCte\n$urlNormSql",

    "td_domain_cap" -> (s"WITH $urlCte, norm AS ($urlNormSql),\n" +
      """ranked AS (
        |  SELECT doc_id, host,
        |    ROW_NUMBER() OVER (PARTITION BY host
        |      ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY host) AS n
        |  FROM norm)
        |SELECT doc_id, host FROM ranked WHERE n <= 100 OR rn <= 100""".stripMargin),

    "td_nb_classifier" ->
      s"""WITH g2all AS (${Curation.wordNgramsSql("documents", 2)}),
         |g2 AS (SELECT DISTINCT doc_id, gram FROM g2all),
         |lab AS (SELECT doc_id, lang = 'en' AS pos FROM documents),
         |tot AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
         |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn FROM lab),
         |cnt AS (SELECT gram,
         |  SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
         |  SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
         |  FROM g2 JOIN lab USING (doc_id) GROUP BY gram),
         |votes AS (SELECT gram,
         |  CASE WHEN cp * nn > cn * np THEN 1
         |       WHEN cp * nn < cn * np THEN -1 ELSE 0 END AS v
         |  FROM cnt CROSS JOIN tot),
         |sc AS (SELECT doc_id, SUM(v) AS s FROM g2 JOIN votes USING (gram) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS vote_score,
         |  COALESCE(sc.s, 0) > 0 AS predicted
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    "td_stratified" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents) r
        |WHERE n <= 10 OR rn <= 10""".stripMargin,

    "td_mix_sample" -> (s"WITH $ratesCte\n" +
      "SELECT d.doc_id, d.source, r.keep_per_mille FROM documents d JOIN rates r USING (source)\n" +
      "WHERE (((d.doc_id % 2147483647) * 2654435761) % 2147483647) % 1000 < r.keep_per_mille"),

    "td_split" ->
      """SELECT doc_id,
        |  CASE WHEN (((doc_id % 2147483647) * 2654435761) % 2147483647) % 1000 < 100 THEN 'validation'
        |       WHEN (((doc_id % 2147483647) * 2654435761) % 2147483647) % 1000 < 200 THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents""".stripMargin,

    "td_chunk" ->
      s"""SELECT doc_id, k AS chunk_id, array_to_string(w[k*24+1 : k*24+32], ' ') AS chunk
         |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
         |CROSS JOIN generate_series(0, ${TextOps.OracleMaxDocLen}) g(k)
         |WHERE k <= greatest(0, CAST(ceil((len(w) - 8) / 24.0) AS INT) - 1)""".stripMargin,

    "td_pack" ->
      """SELECT doc_id, source, n_tokens,
        |  CAST(cum AS BIGINT) // 512 AS bin, CAST(cum AS BIGINT) % 512 AS bin_offset
        |FROM (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM (SELECT doc_id, source,
        |          length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        |        FROM documents) t) c""".stripMargin,

    "td_source_stats" ->
      """WITH d AS (SELECT source, text, lang,
        |  CAST((length(text) - length(replace(text, ' ', ''))) AS BIGINT) + 1 AS toks,
        |  CAST((length(text) - length(replace(text, '.', ''))) AS BIGINT)
        |    + CAST((length(text) - length(replace(text, ',', ''))) AS BIGINT)
        |    + CAST((length(text) - length(replace(text, '!', ''))) AS BIGINT) AS punct,
        |  CAST((length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' the ', ''))) / 5 AS BIGINT)
        |    + CAST((length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' a ', ''))) / 3 AS BIGINT)
        |    + CAST((length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' of ', ''))) / 4 AS BIGINT) AS stop
        |FROM documents)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  ROUND(CAST(SUM(punct) AS DOUBLE) / SUM(toks), 5) AS punct_per_token,
        |  ROUND(CAST(SUM(stop) AS DOUBLE) / SUM(toks), 5) AS stop_per_token
        |FROM d GROUP BY source""".stripMargin,

    "td_lm_xent" -> xentOracle,

    // CCNet-style quality bucketing (Wenzek et al. LREC'20): rank every doc
    // by reference-LM cross-entropy, cut into head/middle/tail thirds —
    // ntile semantics (remainder to the leading buckets) shared with the
    // oracle, total order (xent, doc_id) so ties can't flip buckets
    "td_ccnet_buckets" ->
      s"""WITH x AS ($xentOracle)
         |SELECT doc_id, xent,
         |       CAST(ntile(3) OVER (ORDER BY xent, doc_id) AS INT) AS bucket,
         |       CASE ntile(3) OVER (ORDER BY xent, doc_id)
         |         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS label
         |FROM x""".stripMargin,

    "td_vocab_topk" ->
      s"""WITH g1 AS (${Curation.wordNgramsSql("documents", 1)})
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g1
         |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,

    "td_heavy_hitters" ->
      s"""WITH g1 AS MATERIALIZED (${Curation.wordNgramsSql("documents", 1)})
         |SELECT gram AS item, CAST(COUNT(*) AS BIGINT) AS cnt FROM g1
         |GROUP BY gram
         |HAVING COUNT(*) * 40 > (SELECT COUNT(*) FROM g1)""".stripMargin,

    "td_freq_spectrum" ->
      s"""WITH g1 AS MATERIALIZED (${Curation.wordNgramsSql("documents", 1)}),
         |c AS (SELECT gram, COUNT(*) AS cnt FROM g1 GROUP BY gram)
         |SELECT CAST(cnt AS BIGINT) AS cnt, CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM c GROUP BY cnt""".stripMargin,

    "td_kmv_distinct" ->
      s"""WITH g1 AS MATERIALIZED (${Curation.wordNgramsSql("documents", 2)}),
         |lg AS (SELECT DISTINCT d.lang, g.gram
         |       FROM g1 g JOIN documents d USING (doc_id)),
         |hv AS MATERIALIZED (
         |  SELECT DISTINCT lang, ${graft.core.Determinism.md5IntDuck("gram")} AS hv
         |  FROM lg),
         |rk AS (SELECT lang, hv,
         |         row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
         |       FROM hv),
         |ag AS (SELECT lang,
         |  CAST(COUNT(*) FILTER (WHERE rn <= 64) AS INT) AS n_kept,
         |  MAX(CASE WHEN rn = 64 THEN hv END) AS kth_hash,
         |  CAST(COUNT(*) AS BIGINT) AS exact_distinct
         |  FROM rk GROUP BY lang)
         |SELECT lang, n_kept, kth_hash,
         |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS BIGINT)
         |       ELSE 17732923532771328 // kth_hash END AS est_distinct,
         |  exact_distinct FROM ag""".stripMargin,

    "td_cms_est" -> {
      val hq = graft.core.Determinism.md5IntDuck("gram")
      val hb = graft.core.Determinism.md5IntDuck(
        "CAST(cm_row AS VARCHAR) || '|' || gram")
      s"""WITH g1 AS MATERIALIZED (${Curation.wordNgramsSql("documents", 2)}),
         |jr AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(cm_row)),
         |cells AS MATERIALIZED (
         |  SELECT cm_row, $hb % 512 AS cm_bucket,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM g1 CROSS JOIN jr GROUP BY 1, 2),
         |q AS MATERIALIZED (
         |  SELECT DISTINCT gram FROM g1 WHERE $hq % 31 = 0),
         |probes AS (SELECT q.gram, jr.cm_row, $hb % 512 AS cm_bucket
         |           FROM q CROSS JOIN jr),
         |est AS (SELECT p.gram,
         |          MIN(coalesce(c.cnt, CAST(0 AS BIGINT))) AS cm_est
         |        FROM probes p LEFT JOIN cells c
         |          ON c.cm_row = p.cm_row AND c.cm_bucket = p.cm_bucket
         |        GROUP BY 1),
         |act AS (SELECT g.gram, CAST(COUNT(*) AS BIGINT) AS actual
         |        FROM g1 g JOIN q USING (gram) GROUP BY 1)
         |SELECT e.gram, e.cm_est, a.actual
         |FROM est e JOIN act a USING (gram)""".stripMargin
    },

    "td_textrank_graph" ->
      s"""WITH g1 AS MATERIALIZED (${Curation.wordNgramsSql("documents", 2)}),
         |pr2 AS (SELECT string_split(gram, ' ')[1] AS a,
         |               string_split(gram, ' ')[2] AS b FROM g1)
         |SELECT least(a, b) AS u, greatest(a, b) AS v,
         |       CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM pr2 WHERE a <> b AND a <> '' AND b <> ''
         |GROUP BY 1, 2""".stripMargin,
    "td_bloom_probe" -> {
      val hb = graft.core.Determinism.md5IntDuck(
        "CAST(bm_row AS VARCHAR) || '|' || gram")
      s"""WITH g1 AS MATERIALIZED (${Curation.wordNgramsSql("documents", 2)}),
         |en AS MATERIALIZED (
         |  SELECT DISTINCT g.gram FROM g1 g
         |  JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
         |jr AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(bm_row)),
         |bits AS MATERIALIZED (
         |  SELECT DISTINCT bm_row, $hb % 65536 AS bm_bit
         |  FROM en CROSS JOIN jr),
         |q AS MATERIALIZED (SELECT DISTINCT gram FROM g1),
         |probes AS (SELECT q.gram, jr.bm_row, $hb % 65536 AS bm_bit
         |           FROM q CROSS JOIN jr),
         |mem AS (SELECT p.gram, COUNT(b.bm_bit) = 4 AS member
         |        FROM probes p LEFT JOIN bits b
         |          ON b.bm_row = p.bm_row AND b.bm_bit = p.bm_bit
         |        GROUP BY 1)
         |SELECT m.gram, m.member,
         |       EXISTS (SELECT 1 FROM en e WHERE e.gram = m.gram) AS in_set
         |FROM mem m""".stripMargin
    },
    "td_curation_filter" -> (s"WITH $corpusCte,\n${decontamBody("corpus")},\n$repBody\n" +
      """SELECT c.doc_id FROM corpus c
        |JOIN (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text) k USING (doc_id)
        |JOIN (SELECT doc_id FROM rep WHERE top2_frac < 0.25) r USING (doc_id)
        |WHERE length(c.text) - length(replace(c.text, ' ', '')) + 1 >= 20
        |  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = c.doc_id)""".stripMargin)
  )
}
