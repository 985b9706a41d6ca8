package graft.sources

import graft.core.{Determinism, Pin, Ranks}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** BV-lite compressed adjacency — the gap + variable-length-integer core of
  * the WebGraph format (Boldi & Vigna, "The WebGraph Framework I:
  * Compression Techniques", WWW'04, §3: successor lists stored as strictly
  * increasing gaps under a variable-length code), without the
  * reference-list / interval layers. cc-webgraph ships each crawl's page
  * graph in exactly this family of formats; this is the engine-side codec
  * for storing a 10¹²-edge graph as one binary cell per source node.
  *
  * Layout per source: neighbors mapped to DENSE long ids (deterministic
  * hash-permutation dictionary, [[dictionary]]), sorted ascending,
  * delta-gapped (g₀ = v₀, gᵢ = vᵢ − vᵢ₋₁ ≥ 1), each gap LEB128-varint
  * coded (7 data bits/byte, high bit = continuation). Real web adjacency
  * under a locality-preserving id order compresses to a few bits per edge;
  * even the hash order here beats 8-byte ids whenever ids fit ≤ 56 bits
  * (every gap costs ⌈bits(g)/7⌉ ≤ 8 bytes, and gaps shrink as lists grow
  * dense — AdjCodecSpec pins a measured bound).
  *
  * Scale shape: the dictionary is built ONCE (bucketed two-pass rank — no
  * global sort); encode is one groupBy(src) aggregate + a row-local pure
  * kernel via typed mapPartitions (same contract as Extract: identical
  * input → identical bytes on any partitioning); decode is the inverse
  * flatMap. The dict joins are plain equi-joins on the id/nid keys —
  * co-partitionable with an id-bucketed node store, broadcastable below
  * the usual envelope, and AQE picks the side at runtime.
  */
object AdjCodec {

  /** strictly-increasing positive longs → LEB128-coded gaps. */
  def encodeGaps(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(16, sorted.length * 2))
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      var g = sorted(i) - prev
      require(g > 0, s"ids must be strictly increasing and positive, got gap $g")
      prev = sorted(i)
      while ((g & ~0x7fL) != 0L) { out.write(((g & 0x7fL) | 0x80L).toInt); g >>>= 7 }
      out.write(g.toInt)
      i += 1
    }
    out.toByteArray
  }

  /** inverse of [[encodeGaps]]. */
  def decodeGaps(bytes: Array[Byte]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var acc = 0L
    var shift = 0
    var prev = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      acc |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) {
        prev += acc
        out += prev
        acc = 0L; shift = 0
      } else shift += 7
      i += 1
    }
    require(shift == 0, "truncated varint at end of adjacency cell")
    out.result()
  }

  /** Dense node dictionary (id, nid ∈ [1, N]) under a deterministic
    * hash-permutation order — bucketed two-pass rank, never a global
    * single-task sort (the same shape as the walk teleport index). */
  def dictionary(nodes: DataFrame, seed: Long = 0x5eedL): DataFrame = {
    val h = Determinism.detHash(seed, col("id"))
    Ranks.rankByBucketedOrder(nodes.select(col("id")),
      Ranks.signedRangeBucket(h, 6), Seq(h, col("id")), "nid")
  }

  /** LOCALITY dictionary — BV's actual compression lever: WebGraph sorts
    * urls LEXICOGRAPHICALLY, so same-host (mostly-intra-site) links land on
    * nearby ids and the gap stream collapses to small varints; the code is
    * secondary to the order (Boldi-Vigna WWW'04 §2). Dense ids 1..N in id
    * string order, computed WITHOUT a single-task global sort:
    * `repartitionByRange` (sampled boundaries — they steer only the
    * DISTRIBUTION) + in-partition sort + `zipWithIndex` (one of the rare
    * justified RDD drops: the global index is partition offset + position,
    * a pure function of the TOTAL ORDER, so the result is byte-identical
    * at any parallelism and any boundary sample). AdjCodecSpec measures
    * the byte win over [[dictionary]]'s hash order on the crawl graph. */
  def lexDictionary(nodes: DataFrame, partitions: Int = 0): DataFrame = {
    val spark = nodes.sparkSession
    val ids = nodes.select(col("id"))
    val parts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ranked = ids.repartitionByRange(parts, col("id"))
      .sortWithinPartitions(col("id"))
      .rdd.map(_.getString(0)).zipWithIndex()
      .map { case (id, i) => (id, i + 1L) }
    spark.createDataFrame(ranked).toDF("id", "nid")
  }

  final case class AdjRow(src_nid: Long, dsts: Array[Long])
  final case class EncRow(src_nid: Long, deg: Int, adj: Array[Byte])
  final case class PairRow(src_nid: Long, dst_nid: Long)

  /** edges (src, dst, …) → one (src_nid, deg, adj) row per source with any
    * out-edge; duplicates collapse (the stored graph is the distinct
    * adjacency, like the reference BV format). */
  def encode(edges: DataFrame, dict: DataFrame): DataFrame = {
    val s = dict.select(col("id").as("src"), col("nid").as("src_nid"))
    val d = dict.select(col("id").as("dst"), col("nid").as("dst_nid"))
    val adj = edges.select("src", "dst")
      .join(s, Seq("src")).join(d, Seq("dst"))
      .groupBy(col("src_nid"))
      .agg(array_sort(collect_set(col("dst_nid"))).as("dsts"))
      .as[AdjRow](Encoders.product[AdjRow])
    adj.mapPartitions(_.map(r =>
        EncRow(r.src_nid, r.dsts.length, encodeGaps(r.dsts))))(
        Encoders.product[EncRow])
      .toDF()
  }

  /** decoded (src_nid, dst_nid) pairs of a cell table — the shared inverse
    * kernel under [[decode]] and [[mergeIncrement]]. */
  private def nidPairs(encoded: DataFrame): DataFrame =
    encoded.select(col("src_nid"), col("adj"))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.flatMap { case (src, bytes) =>
        decodeGaps(bytes).iterator.map(PairRow(src, _)) })(
        Encoders.product[PairRow])
      .toDF()

  /** inverse of [[encode]]: binary cells back to (src, dst) string edges.
    * The dict joins are load-bearing — a single wrong decoded gap lands on
    * a different node id (or none) and the roundtrip gate mismatches. */
  def decode(encoded: DataFrame, dict: DataFrame): DataFrame =
    nidPairs(encoded)
      .join(dict.select(col("nid").as("src_nid"), col("id").as("src")), Seq("src_nid"))
      .join(dict.select(col("nid").as("dst_nid"), col("id").as("dst")), Seq("dst_nid"))
      .select("src", "dst")

  /** Incremental maintenance — the daily-crawl shape: fold an edge
    * increment into a stored cell table touching ONLY the sources the
    * increment names. Cells are pure functions of the sorted distinct dst
    * set, so the result is BYTE-IDENTICAL to a from-scratch [[encode]]
    * over the union (AdjCodecSpec proves it); untouched cells pass through
    * without decode or re-encode (an anti-join on the touched source set —
    * cost ∝ increment, never store size, the same contract as
    * [[graft.pipeline.Materialize.merge]]). `dict` must cover the
    * increment's nodes — extend it first with [[extendDictionary]]. */
  def mergeIncrement(stored: DataFrame, incEdges: DataFrame,
                     dict: DataFrame): DataFrame = {
    val s = dict.select(col("id").as("src"), col("nid").as("src_nid"))
    val d = dict.select(col("id").as("dst"), col("nid").as("dst_nid"))
    val incPairs = incEdges.select("src", "dst")
      .join(s, Seq("src")).join(d, Seq("dst"))
      .select(col("src_nid"), col("dst_nid"))
    val touched = Pin(incPairs.select("src_nid").distinct()).df
    val reEnc = nidPairs(stored.join(touched, Seq("src_nid"), "left_semi"))
      .unionAll(incPairs)
      .groupBy(col("src_nid"))
      .agg(array_sort(collect_set(col("dst_nid"))).as("dsts"))
      .as[AdjRow](Encoders.product[AdjRow])
      .mapPartitions(_.map(r =>
        EncRow(r.src_nid, r.dsts.length, encodeGaps(r.dsts))))(
        Encoders.product[EncRow])
      .toDF()
    stored.join(touched, Seq("src_nid"), "anti").unionAll(reEnc)
  }

  /** Extend a dense dictionary with NEW nodes (ids after the stored max,
    * assigned by the same hash-permutation rank) — deterministic given
    * (dict, nodes); already-mapped ids keep their nid. */
  def extendDictionary(dict: DataFrame, nodes: DataFrame,
                       seed: Long = 0x5eedL): DataFrame = {
    val fresh = nodes.select(col("id")).distinct()
      .join(dict.select("id"), Seq("id"), "anti")
    if (fresh.isEmpty) dict
    else {
      val offset = dict.agg(max(col("nid"))).head().getLong(0)
      dict.unionByName(dictionary(fresh, seed)
        .select(col("id"), (col("nid") + offset).as("nid")))
    }
  }
}
