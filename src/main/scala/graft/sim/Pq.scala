package graft.sim

import graft.core.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid, "Product quantization for
  * nearest neighbor search", TPAMI 2011) — the memory side of the standard
  * web-scale ANN index (IVF partitions the corpus, PQ compresses the
  * residents): the D-dim space splits into `m` contiguous subspaces of
  * D/m dims, each with its own `k`-entry codebook; a vector stores only
  * its per-subspace nearest-code ids (m·log₂k bits, 8 bytes here vs 256
  * for the raw floats), and search scores candidates from a per-query
  * lookup table without touching the original vectors (ADC — Asymmetric
  * Distance Computation).
  *
  * Determinism mirrors the IVF conventions exactly: codebook init = the
  * `k` lowest seeded-LCG-ordered vectors' subvectors (data-keyed, so the
  * oracle replays it); optional Lloyd sweeps refine per subspace on
  * round(x·10⁶) INTEGER sums (exactly associative — bit-identical at any
  * parallelism); every argmin runs on round(·, 6) with ties to the lowest
  * code id.
  *
  * Scale shape: codebooks are m·k rows — driver/broadcast scale; encode is
  * one broadcast join + one aggregate + one per-(vec, sub) argmin over
  * N·D·k product terms (linear in N, the canonical PQ training cost); ADC
  * scores stream the code table against a broadcast |Q|·m·k lookup table —
  * the corpus never joins itself and raw embeddings are never re-read at
  * search time.
  */
object Pq {

  val DefaultM = 8
  val DefaultK = 16

  /** exploded (vec_id, sub, j, x) view: sub = subspace, j = dim within it */
  private def subParts(embeddings: DataFrame, m: Int, dim: Int): DataFrame = {
    val sd = dim / m
    embeddings.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / sd).cast("int").as("sub"),
        pmod(col("i"), lit(sd)).cast("int").as("j"), col("x").cast("double").as("x"))
  }

  private def dimOf(embeddings: DataFrame): Int =
    embeddings.select(size(col("embedding"))).first().getInt(0)

  /** (sub, code, j, cx) codebooks — m·k·(D/m) rows, broadcast-scale.
    * code = rank of the seed vector in the (lcg, vec_id) order. */
  def codebooks(embeddings: DataFrame, m: Int = DefaultM, k: Int = DefaultK,
                seed: Long = 97L, lloyd: Int = 0): DataFrame = {
    val dim = dimOf(embeddings)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    // seed pick is a TakeOrdered of k rows; the code rank is assigned on
    // the DRIVER from that already-total order (k is codebook-scale, ≤256)
    // instead of a partitionless row_number window — WindowExec with no
    // partition key funnels its input through ONE task, the exact
    // anti-scale shape this engine bans, even when bounded it re-sorts
    val seedIds = embeddings
      .orderBy(graft.core.Determinism.lcg(col("vec_id"), seed), col("vec_id"))
      .limit(k)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val codeDf = embeddings.sparkSession
      .createDataFrame(seedIds.toIndexedSeq.zipWithIndex.map { case (v, c) => (v, c) })
      .toDF("vec_id", "code")
    val seeds = embeddings.join(broadcast(codeDf), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("code"))
    var books = Pin(subParts(seeds.select(col("vec_id"), col("embedding")), m, dim)
      .join(seeds.select(col("vec_id"), col("code")), Seq("vec_id"))
      .select(col("sub"), col("code"), col("j"), col("x").as("cx"))).df
    for (_ <- 1 to lloyd) {
      // assign on the current books, recompute each code's subvector mean
      // on integer-quantized sums; codes that lose all members keep their
      // previous entry (the ivfCentroidsLloyd convention)
      val asg = assign(subParts(embeddings, m, dim), books)
      val next = subParts(embeddings, m, dim)
        .join(asg, Seq("vec_id", "sub"))
        .groupBy("sub", "code", "j")
        .agg(sum(round(col("x") * 1000000, 0).cast("long")).as("q"),
          count(lit(1)).as("c"))
        .select(col("sub"), col("code"), col("j"),
          (col("q").cast("double") / (col("c").cast("double") * 1000000.0)).as("nx"))
      books = Pin(books.join(next, Seq("sub", "code", "j"), "left_outer")
        .select(col("sub"), col("code"), col("j"),
          coalesce(col("nx"), col("cx")).as("cx"))).df
    }
    books
  }

  /** argmin-L2 code per (vec_id, sub) against the given books */
  private def assign(parts: DataFrame, books: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("code"))
    parts.join(broadcast(books), Seq("sub", "j"))
      .groupBy("vec_id", "sub", "code")
      .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6).as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** PQ codes in long form — (vec_id, sub, code), the oracle-checkable
    * surface (m rows per vector; the packed array is a trivial
    * collect_list away and carries no extra information). */
  def encode(embeddings: DataFrame, m: Int = DefaultM, k: Int = DefaultK,
             seed: Long = 97L, lloyd: Int = 0): DataFrame =
    encodeWith(embeddings, codebooks(embeddings, m, k, seed, lloyd), m)

  /** encode against EXPLICIT (typically TableIO-persisted) codebooks —
    * per-vector independent, so increments append like ivfAppend. */
  def encodeWith(embeddings: DataFrame, books: DataFrame,
                 m: Int = DefaultM): DataFrame =
    assign(subParts(embeddings, m, dimOf(embeddings)), books)

  /** ADC cosine top-`topK`: per query, score every coded vector as
    * dot(q, recon(v)) / (‖q‖·‖recon(v)‖) from lookup tables alone —
    * Σ_sub table[sub, code_sub] for the dot, Σ_sub norm2[sub, code_sub]
    * for the reconstruction norm. (q, adc_rank, neighbor), ordering
    * oracle-stable on round(score, 6) desc then id. */
  def adcTopK(codes: DataFrame, books: DataFrame, queries: DataFrame,
              topK: Int, m: Int = DefaultM): DataFrame = {
    val dim = queries.select(size(col("qe"))).first().getInt(0)
    val qparts = subParts(queries.select(col("q").as("vec_id"), col("qe").as("embedding")), m, dim)
      .select(col("vec_id").as("q"), col("sub"), col("j"), col("x"))
    // |Q|·m·k partial dots + the query norms — driver/broadcast scale
    val lut = qparts.join(books, Seq("sub", "j"))
      .groupBy("q", "sub", "code").agg(sum(col("x") * col("cx")).as("pdot"))
    val qnorm = qparts.groupBy("q").agg(sqrt(sum(col("x") * col("x"))).as("qn"))
    val cnorm2 = books.groupBy("sub", "code").agg(sum(col("cx") * col("cx")).as("cn2"))
    val scored = codes
      .join(broadcast(lut), Seq("sub", "code"))
      .join(broadcast(cnorm2), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q"))
      .groupBy("q", "vec_id")
      .agg(sum(col("pdot")).as("dot"), sum(col("cn2")).as("rn2"))
      .join(broadcast(qnorm), Seq("q"))
      .select(col("q"), col("vec_id").as("neighbor"),
        round(col("dot") / (col("qn") * sqrt(col("rn2"))), 6).as("score"))
    val w = Window.partitionBy(col("q")).orderBy(col("score").desc, col("neighbor"))
    scored.withColumn("adc_rank", row_number().over(w)).filter(col("adc_rank") <= topK)
      .select(col("q"), col("adc_rank"), col("neighbor"))
  }

  /** ADC + exact re-rank — the production PQ recall lever (Jégou et al.
    * §V.C): ADC proposes a `shortlist`-sized candidate set per query from
    * codes alone, then ONLY those |Q|·shortlist rows touch the raw
    * embeddings for an exact-cosine re-rank. Compression error then costs
    * recall only when a true neighbor misses the whole shortlist —
    * measured at m=16, lloyd=2, shortlist=50 on the real embeddings:
    * 0.90 recall@5 where raw ADC gives 0.44 (PqSpec pins it). Output
    * (q, rerank, neighbor), same rank conventions. */
  def adcTopKRerank(codes: DataFrame, books: DataFrame, queries: DataFrame,
                    corpus: DataFrame, topK: Int, shortlist: Int = 50,
                    m: Int = DefaultM): DataFrame = {
    val short = adcTopK(codes, books, queries, shortlist, m)
      .select(col("q"), col("neighbor"))
    // shortlist and queries are |Q|-scale — broadcast both into the single
    // corpus probe; the corpus never shuffles
    val rer = corpus.select(col("vec_id").as("neighbor"), col("embedding").as("ne"))
      .join(broadcast(short), Seq("neighbor"))
      .join(broadcast(queries.select(col("q"), col("qe"))), Seq("q"))
      .select(col("q"), col("neighbor"),
        round(Ann.cosine(col("qe"), col("ne")), 6).as("sim"))
    val w = Window.partitionBy(col("q")).orderBy(col("sim").desc, col("neighbor"))
    rer.withColumn("rerank", row_number().over(w)).filter(col("rerank") <= topK)
      .select(col("q"), col("rerank"), col("neighbor"))
  }
}
