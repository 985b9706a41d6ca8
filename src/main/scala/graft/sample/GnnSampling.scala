package graft.sample

import graft.core.Pin
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Layer-wise fan-out neighborhood sampling (Hamilton et al., "Inductive
  * representation learning on large graphs", NeurIPS'17 — the GraphSAGE
  * mini-batch sampler; the same shape distributed GNN systems ship as
  * `sample_neighbors`): from a seed set, take at most `fanouts(ℓ)`
  * neighbors per frontier node at layer ℓ+1, then recurse on the sampled
  * neighbors. Frontiers are SHARED across seeds (one sampled adjacency
  * per layer, not one subtree per seed) — the form that stays linear in
  * the frontier instead of exploding a per-root block.
  *
  * Determinism and portability: the "random" neighbor choice is the
  * `fanouts(ℓ)` smallest values of md5(seed|layer|dir|src|pred|nbr) —
  * a pure function of (data, seed, layer), byte-identical at any
  * parallelism and mirrorable in the DuckDB oracle (ORDER BY the same
  * md5 hex string).
  *
  * Hub-proof at scale: top-f-by-hash per node is NOT computed with a
  * row_number window (which sorts a hub's entire 10⁷-edge neighbor list
  * in one task) but with [[GnnSampling.MinKStrings]] — a bounded-state
  * typed Aggregator (the KMV pattern, Sketches.KMinValues): O(f) state
  * per node, map-side combinable, so a hub's candidates reduce to f
  * survivors on each input partition BEFORE the shuffle and the sort
  * never materializes. Sampling is edge-DISTINCT by construction (the
  * sorted-insert dedups), matching the oracle's rank over DISTINCT
  * edges.
  *
  * Both directions are candidates (message passing is symmetric):
  * out-edges keep `dir = 'f'`, in-edges are reversed with `dir = 'r'`,
  * so a node's sampled neighborhood can include the orders that placed
  * it as well as the nation it sits in.
  */
object GnnSampling {

  /** Separator for the packed (rank, pred, nbr, dir) sort key — never
    * occurs in node ids / predicates (control character). */
  private val Sep = ""

  /** Bounded-state aggregator keeping the k smallest DISTINCT strings —
    * sorted-insert reduce, sorted-merge-cut-at-k merge (the
    * Sketches.KMinValues shape over strings). */
  final class MinKStrings(k: Int)
      extends Aggregator[String, Array[String], Array[String]] {
    require(k >= 1, "MinKStrings needs k >= 1")

    override def zero: Array[String] = Array.empty[String]

    override def reduce(buf: Array[String], v: String): Array[String] = {
      val pos = java.util.Arrays.binarySearch(buf.asInstanceOf[Array[AnyRef]],
        v.asInstanceOf[AnyRef])
      if (pos >= 0) buf
      else {
        val ins = -pos - 1
        if (ins >= k) buf
        else {
          val n = math.min(buf.length + 1, k)
          val out = new Array[String](n)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = v
          System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }

    override def merge(a: Array[String], b: Array[String]): Array[String] = {
      val out = new Array[String](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var o = 0
      var last: String = null
      while (o < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        if (v != last) { out(o) = v; o += 1; last = v }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    override def finish(buf: Array[String]): Array[String] = buf
    override def bufferEncoder: Encoder[Array[String]] =
      ExpressionEncoder[Array[String]]()
    override def outputEncoder: Encoder[Array[String]] =
      ExpressionEncoder[Array[String]]()
  }

  /** Sample a layered neighborhood block: `(layer, node, pred, nbr, dir)`
    * — layer 1..fanouts.length, `node` the frontier node the edge was
    * sampled FOR, `nbr` the sampled neighbor, `dir` 'f' for an out-edge
    * (node→nbr in `edges`) / 'r' for an in-edge (nbr→node). */
  def fanoutSample(edges: DataFrame, seeds: DataFrame, fanouts: Seq[Int],
                   seed: Long = 42L): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      s"fanouts must be non-empty positive, got $fanouts")
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("pred"), col("dst"))
    // symmetrized candidate table, cached once per call — every layer
    // probes it with a (small) frontier broadcast
    val sym = Pin(e.select(col("src").as("node"), col("pred"), col("dst").as("nbr"),
        lit("f").as("dir"))
      .unionAll(e.select(col("dst").as("node"), col("pred"), col("src").as("nbr"),
        lit("r").as("dir")))).df

    var frontier = Pin(seeds.select(col("id").as("node")).distinct()).df
    var out: DataFrame = null
    fanouts.zipWithIndex.foreach { case (f, li) =>
      val layer = li + 1
      // frontier ≤ |seeds|·Π fanouts — bounded by construction, so the
      // probe side broadcasts and the candidate scan never shuffles
      val cand = sym.join(broadcast(frontier), Seq("node"))
      val rk = md5(concat_ws("|", lit(seed), lit(layer), col("dir"),
        col("node"), col("pred"), col("nbr")))
      val minK = udaf(new MinKStrings(f), Encoders.STRING)
      val sampled = Pin(cand
        .select(col("node"),
          concat_ws(Sep, rk, col("pred"), col("nbr"), col("dir")).as("t"))
        .groupBy("node").agg(minK(col("t")).as("tops"))
        .select(col("node"), explode(col("tops")).as("t"))
        .select(lit(layer).as("layer"), col("node"),
          split(col("t"), Sep).getItem(1).as("pred"),
          split(col("t"), Sep).getItem(2).as("nbr"),
          split(col("t"), Sep).getItem(3).as("dir"))).df
      out = if (out == null) sampled else out.unionAll(sampled)
      frontier = Pin(sampled.select(col("nbr").as("node")).distinct()).df
    }
    out
  }
}
