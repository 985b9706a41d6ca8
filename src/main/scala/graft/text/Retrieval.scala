package graft.text

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted-index construction + BM25 scoring (Robertson & Zaragoza, "The
  * Probabilistic Relevance Framework: BM25 and Beyond", FnTIR 2009) — the
  * retrieval half of corpus curation: score documents against benchmark /
  * quality queries and keep or drop by relevance.
  *
  * The verified surface is EXACT-INTEGER: postings (term, doc_id, tf),
  * document frequencies, document lengths, and the corpus constants (N,
  * Σlen) — everything BM25 needs — leave the engine as int64, and the
  * float idf/score arithmetic happens strictly downstream (specs pin it;
  * the DuckDB gate never compares a libm result). Tokenization is
  * lowercase alphanumeric runs — expressible identically in Spark
  * (split) and DuckDB (string_split_regex), so the oracle replays the
  * index byte for byte.
  *
  * Scale shape: postings is one explode + one two-key map-side-combinable
  * count; df is a term-keyed count; the score join streams postings
  * against a BROADCAST query-term list — nothing corpus-sized shuffles
  * more than once.
  */
object Retrieval {

  val TokenPattern = "[^a-z0-9]+"

  /** (doc_id, term) token instances — lowercase alnum runs. */
  def terms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), TokenPattern)).as("term"))
      .filter(length(col("term")) > 0)

  /** Inverted index: (term, doc_id, tf). */
  def postings(docs: DataFrame): DataFrame =
    terms(docs).groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** (doc_id, doclen) in tokens. */
  def docLengths(docs: DataFrame): DataFrame =
    terms(docs).groupBy("doc_id").agg(count(lit(1)).as("doclen"))

  /** The exact-integer BM25 feature surface for a fixed query-term list:
    * (term, doc_id, tf, df, doclen, n_docs, len_sum). One row per posting
    * of a query term. */
  def bm25Features(docs: DataFrame, queryTerms: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = postings(docs).join(
      broadcast(queryTerms.distinct.toDF("term")), Seq("term"))
    val df = p.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val lens = Pin(docLengths(docs)).df
    val consts = lens.agg(count(lit(1)).as("n_docs"), sum(col("doclen")).as("len_sum"))
    p.join(broadcast(df), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(consts))
      .select(col("term"), col("doc_id"), col("tf"), col("df"),
        col("doclen"), col("n_docs"), col("len_sum"))
  }

  /** BM25 top-k (float path — spec-pinned, downstream of the gate):
    * score(d) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·len/avglen)),
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)). */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val f = bm25Features(docs, queryTerms)
    val avglen = col("len_sum").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf").cast("double") /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("doclen") / avglen))
    f.select(col("doc_id"), (idf * tfNorm).as("s"))
      .groupBy("doc_id").agg(sum(col("s")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Exact lexical document-to-document ranking by distinct-bigram Jaccard
    * — the sparse retriever of a hybrid search stack, in the engine's
    * exact-integer style (micro-unit Jaccard, integer division, so the
    * ordering is bit-reproducible in any SQL engine — no libm log/idf in
    * the gate path). Output (q, doc, rank), rank 1..topK per query,
    * ties broken by doc id ascending; the query document never ranks
    * against itself.
    *
    * Scale shape: the gram equi-join is the candidate generator — for
    * query sets beyond user scale, swap it for the MinHash-LSH blocking
    * in [[graft.dedup.Dedup]] and keep THIS ranking as the exact verify /
    * re-rank stage (same shape as the dedup verify path). */
  def jaccardRank(docs: DataFrame, queryIds: Seq[Long], topK: Int): DataFrame = {
    require(queryIds.nonEmpty, "jaccardRank needs at least one query id")
    val g2 = Curation.wordNgramsAll(docs, 2).distinct()
    val sizes = Pin(g2.groupBy("doc_id").agg(count(lit(1)).as("n"))).df
    // query grams are user-scale (|queryIds| × grams-per-doc) — declared
    // broadcast so the candidate join never shuffles the corpus gram table
    val qg = broadcast(g2.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("q"), col("gram")))
    val inter = qg.join(g2, Seq("gram"))
      .filter(col("doc_id") =!= col("q"))
      .groupBy(col("q"), col("doc_id").as("doc")).agg(count(lit(1)).as("ix"))
    val scored = inter
      .join(sizes.select(col("doc_id").as("q"), col("n").as("nq")), Seq("q"))
      .join(sizes.select(col("doc_id").as("doc"), col("n").as("nd")), Seq("doc"))
      .select(col("q"), col("doc"),
        expr("1000000L * ix div (nq + nd - ix)").as("jac_micro"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("jac_micro").desc, col("doc"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q"), col("doc"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) — the
    * standard hybrid-retrieval merge: given N rankings (q, doc, rank) from
    * heterogeneous retrievers (lexical, dense, ...), fuse by
    * score(q, doc) = Σ_r 10⁹ div (k + rank_r(doc)) in exact integer
    * micro-units (k = 60 per the paper; absent docs contribute 0), then
    * re-rank by fused score, doc-id tiebreak. RRF needs no score
    * calibration across retrievers — only ranks — which is exactly what
    * makes it portable across engines AND the right merge when one input
    * is float-scored (BM25/cosine) and the other integer-scored.
    *
    * Plan: union of the (already top-k-sized) ranking tables, one
    * (q, doc)-keyed map-side-combinable sum, one per-query window over
    * ≤ N·topK rows per query — nothing corpus-sized moves. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val scored = rankings
      .map(_.select(col("q"), col("doc"),
        expr(s"1000000000L div (${k}L + rank)").as("c")))
      .reduce(_ unionAll _)
      .groupBy(col("q"), col("doc")).agg(sum(col("c")).as("rrf_score"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("rrf_score").desc, col("doc"))
    scored.withColumn("rrf_rank", row_number().over(w))
      .filter(col("rrf_rank") <= topK)
      .select(col("q"), col("doc"), col("rrf_score"), col("rrf_rank"))
  }
}
