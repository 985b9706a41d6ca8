package graft.text

import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting for data selection (Xie et al., "Data
  * Selection for Language Models via Importance Resampling", NeurIPS 2023):
  * documents are featurized as HASHED n-gram bag counts, a target and a
  * raw bag-of-buckets distribution are estimated from those counts, and
  * each document scores log p̂_tgt(x) − log p̂_raw(x) — resampling by that
  * weight keeps documents whose content looks like the target domain.
  *
  * The oracle-gated part is EXACT INTEGERS end to end: unigram + bigram
  * hashed counts per document plus the global target/raw bucket totals
  * ([[featureSurface]], `td_dsir_features`); the importance weight's
  * float log math is strictly downstream ([[weights]], DsirSpec-pinned) —
  * the same integer-surface/float-downstream split as BM25
  * (`td_bm25_features`) keeps cross-engine libm out of the gate.
  *
  * Bucket hash = [[graft.core.Determinism.md5Int]] of the gram mod
  * `buckets` — byte-identical in Spark and DuckDB.
  *
  * Scale shape: one explode per doc (linear in tokens), one
  * (doc_id, bucket) aggregate; the global totals are one more aggregate
  * over the same rows and the resulting 2·`buckets` model values are
  * broadcast back — the corpus is never joined against itself and the
  * model table never shuffles with it.
  */
object Dsir {

  /** (doc_id, gram) unigrams + bigrams over the corpus's single-space
    * token contract (TextOps.tokenCount), lowercased. */
  def grams(docs: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val uni = docs.select(col("doc_id"), explode(toks).as("gram"))
    val bi = docs.select(col("doc_id"), explode(
      when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>"))).as("gram"))
    uni.unionAll(bi)
  }

  /** hashed bucket of a gram string */
  def bucketOf(gram: Column, buckets: Int): Column =
    pmod(graft.core.Determinism.md5Int(gram), lit(buckets.toLong)).cast("int")

  /** per-document hashed feature counts (doc_id, bucket, cnt) */
  def features(docs: DataFrame, buckets: Int = 512): DataFrame =
    grams(docs).select(col("doc_id"), bucketOf(col("gram"), buckets).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))

  /** The full scoring input surface — per-doc counts with the global
    * bucket totals attached: (doc_id, bucket, cnt, tgt_cnt, raw_cnt)
    * where tgt sums over the `targetPred` docs and raw over ALL docs.
    * In production the target sample is a separate curated table; here
    * the predicate marks it inside one corpus so the gate is
    * self-contained. */
  def featureSurface(docs: DataFrame, targetPred: Column,
                     buckets: Int = 512): DataFrame = {
    val f = Pin(features(docs, buckets)).df
    val flags = docs.select(col("doc_id"), targetPred.as("is_tgt"))
    val ff = f.join(flags, Seq("doc_id"))
    val totals = ff.groupBy("bucket").agg(
      sum(when(col("is_tgt"), col("cnt")).otherwise(lit(0L))).as("tgt_cnt"),
      sum(col("cnt")).as("raw_cnt"))
    // totals is `buckets`-sized — broadcast, the corpus side never re-shuffles
    f.join(broadcast(totals), Seq("bucket"))
      .select(col("doc_id"), col("bucket"), col("cnt"), col("tgt_cnt"), col("raw_cnt"))
  }

  /** Importance weight per document:
    * Σ_b cnt_b · (ln p̂_tgt(b) − ln p̂_raw(b)) with add-`alpha` smoothing,
    * p̂_d(b) = (cnt_d(b) + α) / (total_d + α·buckets). Float (spec-gated,
    * not oracled). Higher ⇒ more target-like. */
  def weights(docs: DataFrame, targetPred: Column, buckets: Int = 512,
              alpha: Double = 1.0): DataFrame = {
    val surf = Pin(featureSurface(docs, targetPred, buckets)).df
    val g = surf.select(col("bucket"), col("tgt_cnt"), col("raw_cnt")).distinct()
      .agg(sum(col("tgt_cnt")).as("t_tot"), sum(col("raw_cnt")).as("r_tot"))
      .collect()(0)
    val (tTot, rTot) = (g.getLong(0).toDouble, g.getLong(1).toDouble)
    val denomT = tTot + alpha * buckets
    val denomR = rTot + alpha * buckets
    surf.groupBy("doc_id").agg(
      sum(col("cnt") * (log((col("tgt_cnt") + alpha) / denomT) -
        log((col("raw_cnt") + alpha) / denomR))).as("weight"))
  }

  /** Deterministic importance resampling: keep the `n` highest-weight
    * documents (ties to lower doc_id) — the rank-based form of DSIR's
    * Gumbel-top-k that stays reproducible at any parallelism. The rank
    * runs on the weight table (|docs| rows, one window) — callers at
    * 100 TB swap in the bucketed two-pass rank (sample.Ranks) the engine
    * already ships. */
  def resample(docs: DataFrame, targetPred: Column, n: Int,
               buckets: Int = 512, alpha: Double = 1.0): DataFrame = {
    val w = weights(docs, targetPred, buckets, alpha)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("weight").desc, col("doc_id"))
    w.withColumn("rn", row_number().over(win)).filter(col("rn") <= n)
      .select(col("doc_id"), col("weight"))
  }
}
