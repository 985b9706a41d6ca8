package graft.text

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
  * order into text", EMNLP 2004 §3.1): PageRank over the word
  * co-occurrence graph — the unsupervised keyword scorer a corpus-scale
  * curation pass runs where no labeled keyphrase data exists (index
  * terms, weak topic labels, retrieval-query seeds per document group).
  *
  * The VERIFIED surface is [[wordGraph]] — the co-occurrence edge list
  * (u, v, cnt) at window 2, exact integers, derived from the SAME
  * tokenization the curation oracles replay byte-for-byte
  * ([[Curation.wordNgramsAll]]'s bigrams ARE the adjacent pairs). The
  * float PageRank on top reuses [[graft.sample.PageRank.computeWeighted]]
  * (weighted form: rank flows ∝ co-occurrence count) and is spec-pinned
  * against a naive driver reference, same split as every rank surface
  * here.
  *
  * Scale shape: one explode + one map-side-combinable pair count builds
  * the graph (vocabulary-sized, ≪ corpus-sized); the PageRank loop then
  * runs on the SMALL graph — corpus scale only ever touches the first
  * aggregate.
  */
object TextRank {

  /** Window-2 word co-occurrence graph over the corpus: `(u, v, cnt)`
    * with u < v, cnt = the number of adjacent occurrences (both orders
    * counted — "a b" and "b a" are the same undirected pair).
    * Self-pairs ("the the") are dropped. */
  def wordGraph(docs: DataFrame): DataFrame =
    Curation.wordNgramsAll(docs, 2)
      .select(split(col("gram"), " ").as("p"))
      .select(element_at(col("p"), 1).as("a"), element_at(col("p"), 2).as("b"))
      .filter(col("a") =!= col("b") && col("a") =!= "" && col("b") =!= "")
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cnt"))

  /** Keyword ranks: weighted PageRank over the symmetrized co-occurrence
    * graph (TextRank's undirected recommendation), `(id, pr)` — float,
    * spec-pinned downstream of the [[wordGraph]] gate. */
  def keywords(docs: DataFrame, d: Double = 0.15,
               iterations: Int = 30): DataFrame = {
    val g = Pin(wordGraph(docs)).df
    val sym = g.select(col("u").as("src"), col("v").as("dst"), col("cnt").as("w"))
      .unionAll(g.select(col("v").as("src"), col("u").as("dst"),
        col("cnt").as("w")))
    val nodes = g.select(col("u").as("id"))
      .unionAll(g.select(col("v").as("id"))).distinct()
    graft.sample.PageRank.computeWeighted(nodes, sym, d, iterations)
  }
}
