package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting, shingling. All are
  * single-pass column expressions (whole-stage codegen; no UDFs) whose
  * arithmetic is portable to the SQL oracle.
  */
object TextOps {

  /** occurrences of `needle` in `haystack` via length arithmetic —
    * codegen-friendly and exactly reproducible in any SQL dialect. */
  def countOccurrences(haystack: Column, needle: String): Column =
    ((length(haystack) - length(regexp_replace(haystack, java.util.regex.Pattern.quote(needle), "")))
      / needle.length).cast("long")

  /** whitespace token count = spaces + 1 (single-space corpus contract) */
  def tokenCount(text: Column): Column =
    countOccurrences(text, " ") + 1

  /** BPE-ish pretokenizer pattern (GPT-2 style: contractions, letter runs,
    * digit runs, non-space symbol runs) — restricted to RE2-compatible
    * syntax (no lookarounds) so the engine (Java regex) and the DuckDB
    * oracle (RE2) count identical matches. */
  val BpeishPattern: String = "'(?:[sdmt]|ll|ve|re)|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count: number of pretokenizer matches. Whole-stage
    * codegen (regexp_extract_all + size), no UDF. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  /** n-gram-heuristic language ID: stopword-marker counts per language,
    * argmax with fixed priority order (en > de > fr > es). */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    val en = countOccurrences(t, " the ") + countOccurrences(t, " and ") + countOccurrences(t, " of ")
    val de = countOccurrences(t, " der ") + countOccurrences(t, " und ") + countOccurrences(t, " die ")
    val fr = countOccurrences(t, " le ") + countOccurrences(t, " et ") + countOccurrences(t, " la ")
    val es = countOccurrences(t, " el ") + countOccurrences(t, " y ") + countOccurrences(t, " los ")
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** quality features + composite score (length / punctuation / stopword
    * ratios — the usual web-text quality heuristics), rounded to 5. */
  def quality(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    val punct = countOccurrences(t, ".") + countOccurrences(t, ",") + countOccurrences(t, "!")
    val stop = countOccurrences(concat(lit(" "), lower(t), lit(" ")), " the ") +
      countOccurrences(concat(lit(" "), lower(t), lit(" ")), " a ") +
      countOccurrences(concat(lit(" "), lower(t), lit(" ")), " of ")
    docs.select(
      col(idCol),
      nTok.as("n_tokens"),
      round(punct.cast("double") / nTok, 5).as("punct_ratio"),
      round(stop.cast("double") / nTok, 5).as("stop_ratio"),
      // composite: long enough, some stopwords, not punctuation-drenched
      round(least(nTok.cast("double") / 100.0, lit(1.0)) *
        (lit(1.0) - least(punct.cast("double") / nTok, lit(1.0))) *
        least(stop.cast("double") * 10.0 / nTok + lit(0.1), lit(1.0)), 5).as("quality"))
  }

  /** whole-document fingerprint: md5 of the lowercase text (exact-dup key;
    * oracle-portable). For the rolling/winnowing path see
    * [[graft.expr.RollingHash]]. */
  def fingerprintMd5(text: Column): Column = md5(lower(text).cast("binary"))

  /** all character 3-gram shingle hash occurrences (with duplicates),
    * h = cp₁·31² + cp₂·31 + cp₃ over the code points of lower(text), in
    * position order. One linear codegen scan per document
    * ([[graft.expr.ShingleCodes]]) + a map-side explode — no shuffle.
    * Idempotent aggregates (MIN — i.e. MinHash) can consume this directly
    * and skip deduplication entirely. */
  def shinglesAll(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(graft.expr.Shingle.codes(lower(col(textCol)))).as("h"))
      .select(col(idCol), col("h").cast("long").as("h"))

  /** distinct (doc_id, h) shingle set — for set-semantics consumers
    * (Jaccard sizes, SimHash majorities, shingle counts). */
  def shingles(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    shinglesAll(docs, textCol, idCol).distinct()

  /** per-doc SORTED distinct-shingle array (one row per doc with ≥ 3
    * characters), the same codes as [[shinglesAll]]. Each document is ONE
    * linear codegen scan plus a primitive sort ([[graft.expr.ShingleSet]]):
    * O(len log len) per document. The higher-order-function form,
    * `transform(sequence…, i -> ascii(substring(t, i, 1))…)`, is O(len²):
    * its lambda runs interpreted and every substring walks the string from
    * its first byte. Arrays are int (codes < 2³¹) and sorted so the pair-level
    * intersection is a zero-allocation codegen merge
    * ([[graft.expr.SigOps.sortedOverlap]]) instead of array_intersect's
    * per-row hash-set build. */
  def shingleArrays(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= 3)
      .select(col(idCol), graft.expr.Shingle.set(col("t")).as("hs"))

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — MOSS
    * local fingerprinting): from the k-gram hash sequence of lower(text),
    * every window of `w` consecutive hashes selects its minimal hash,
    * rightmost occurrence on ties; the fingerprint set is the distinct
    * (position, hash) selections. Guarantees a shared fingerprint for any
    * match of length ≥ w + k − 1.
    *
    * Shape: k-gram hashes come from the codegen [[graft.expr.KGramHashes]]
    * expression (one rolling scan per doc, map-side posexplode); selection
    * is a doc-partitioned sliding MIN over key = h·2³² + (2³²−1−i), which
    * encodes "smallest hash, rightmost position" in one sortable long.
    * All windows are per-document — no global sort anywhere. */
  def winnow(docs: DataFrame, k: Int = 8, w: Int = 4,
             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 4294967296L // 2^32; h < 2^31 so h·M + (M−1−i) stays in int64
    val hs = docs.select(col(idCol),
        posexplode(graft.expr.KGram.kgramHashes(col(textCol), k)).as(Seq("i", "h")))
      .select(col(idCol), col("i").cast("long").as("i"), col("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(-(w - 1), 0)
    hs.withColumn("sel", min(col("h") * M + (lit(M - 1) - col("i"))).over(win))
      .filter(col("i") >= w - 1) // only complete windows select
      .select(col(idCol),
        (lit(M - 1) - pmod(col("sel"), lit(M))).as("pos"),
        shiftright(col("sel"), 32).as("h")) // sel ≥ 0: >> 32 = exact div by 2³²
      .distinct()
  }

  /** Oracle-side document-length bound for the static generate_series
    * (DuckDB 1.0 requires CONSTANT series bounds — a scalar subquery is a
    * binder error). Testdata documents are ≤ 577 chars at every sf; 4096
    * gives 7× headroom, and any longer document would fail the oracle
    * compare loudly (missing shingles ⇒ hash mismatch), not silently. */
  val OracleMaxDocLen = 4096

  /** The same shingle derivation as DuckDB SQL (over a relation aliased
    * `corpus(doc_id, text)`). */
  val shinglesSql: String =
    s"""SELECT DISTINCT doc_id,
      |  CAST(ascii(substr(t, i, 1)) * 961 + ascii(substr(t, i + 1, 1)) * 31 + ascii(substr(t, i + 2, 1)) AS BIGINT) AS h
      |FROM (SELECT doc_id, lower(text) AS t FROM corpus WHERE length(text) >= 3) c
      |CROSS JOIN generate_series(1, $OracleMaxDocLen) g(i)
      |WHERE i <= length(t) - 2""".stripMargin
}
