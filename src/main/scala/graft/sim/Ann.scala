package graft.sim

import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]):
  *  - brute-force cosine top-k (the correctness baseline),
  *  - LSH-bucketed variant (random-hyperplane signs → bucket; candidates
  *    only meet within a bucket) — the scale path: the self-join is keyed
  *    by bucket, turning the O(N²) product into Σ bucket².
  *
  * Dot products run in `aggregate`/`zip_with` column expressions (codegen;
  * no UDF) on doubles; hyperplane weights are ±1 from a seeded mid-square
  * hash of (dimension, plane) so the oracle reproduces them exactly.
  */
object Ann {

  import graft.core.Determinism.{LcgM, lcg, lcgDuck}

  val PlaneSeed = 1299709L

  /** true ⇔ hyperplane j's weight for dimension i is +1.
    *
    * sign = bit 16 of (lcg(i·64 + j)² mod M) — the mid-square step makes the
    * sign NONLINEAR in the key, so distinct planes are near-independent
    * (measured max |pattern correlation| 0.34 over all 2016 plane pairs at
    * dim 64, consistent with random ±1 planes; zero identical/complementary
    * pairs). A plain LCG bit is affine in the key and leaves dozens of fully
    * correlated plane pairs; the old (i + 17·j) % 2 was worse still — it
    * depended only on the parity of i + j, collapsing ALL planes to ± one
    * pattern. Pure int64 arithmetic (h < 2³¹ so h² fits), so the oracle
    * ([[planeSignDuck]]) and any parallelism reproduce it bit-exactly. */
  private def planeSign(i: Column, j: Int): Column = {
    val h = lcg(i * 64 + lit(j), PlaneSeed)
    pmod(shiftright(pmod(h * h, lit(LcgM)), 16), lit(2)) === 0
  }

  /** DuckDB mirror of [[planeSign]] as a boolean SQL condition over integer
    * columns/expressions `iExpr` (dimension) and `jExpr` (plane). */
  def planeSignDuck(iExpr: String = "i", jExpr: String = "j"): String = {
    val h = lcgDuck(s"($iExpr * 64 + $jExpr)", PlaneSeed)
    s"(((($h) * ($h)) % $LcgM) // 65536) % 2 = 0"
  }

  /** cosine similarity between two Array[Float]/Array[Double] columns in
    * double precision — the codegen [[graft.expr.VecCosine]] expression
    * (bit-identical to the aggregate/zip_with composable form, which runs
    * interpreted and sat on the ANN candidate stream). */
  def cosine(a: Column, b: Column): Column = graft.expr.VecOps.cosine(a, b)

  /** brute-force top-k neighbors for the given query ids:
    * (q, rank, neighbor). Ordering on round(sim, 6) desc then id keeps the
    * comparison oracle-stable under last-ulp float divergence. */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val sims = embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q"))
      .select(col("q"), col("vec_id").as("neighbor"),
        round(cosine(col("qe"), col("embedding")), 6).as("sim"))
    val w = Window.partitionBy(col("q")).orderBy(col("sim").desc, col("neighbor"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("neighbor"))
  }

  val NumPlanes = 8

  /** random-hyperplane LSH bucket per vector: bit_j = [Σ_i v_i·w_ij ≥ 0],
    * w_ij = ±1 per [[planeSign]]; bucket = Σ bit_j·2^j. */
  def lshBucket(embeddings: DataFrame): DataFrame = {
    val parts = embeddings.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "x")))
    val aggs = (0 until NumPlanes).map(j =>
      sum(when(planeSign(col("i"), j), col("x").cast("double"))
        .otherwise(-col("x").cast("double"))).as(s"s$j"))
    parts.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id"),
        (0 until NumPlanes).map(j =>
          when(col(s"s$j") >= 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("bucket"))
  }

  val EmbBands = 4
  val EmbBandBits = 16

  /** banded random-hyperplane keys (vec_id, band, key): 4 bands × 16 planes
    * (64 hyperplanes total), key = the band's 16 sign bits. This is the
    * scale path for near-dup candidate generation: 2^16 buckets PER band —
    * the bucket space grows far beyond N·collision range, so the per-bucket
    * self-join stays near-linear, unlike a single 2^8 bucketing whose
    * Σ(N/256)² is quadratic at corpus scale. For cos ≥ 0.999 pairs a 16-bit
    * band agrees w.p. (1−θ/π)^16 ≈ 0.80, so 4 bands give ≈ 99.8% recall
    * (valid because [[planeSign]] gives near-independent planes).
    *
    * Projections are INTEGER sums of ±round(x·10⁶): exactly associative, so
    * keys are bit-identical at any parallelism and in the SQL oracle (a
    * double sum's rounding depends on partition order and could flip a sign
    * bit near 0). */
  def lshBandKeys(embeddings: DataFrame): DataFrame = {
    val parts = embeddings.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        round(col("x").cast("double") * 1000000, 0).cast("long").as("q"))
    val aggs = (0 until EmbBands * EmbBandBits).map(j =>
      sum(when(planeSign(col("i"), j), col("q")).otherwise(-col("q"))).as(s"s$j"))
    val sums = parts.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
    val keys = (0 until EmbBands).map { b =>
      (0 until EmbBandBits).map(r =>
        when(col(s"s${b * EmbBandBits + r}") >= 0, lit(1L << r)).otherwise(0L))
        .reduce(_ + _).as(s"k$b")
    }
    sums.select(col("vec_id") +: keys: _*)
      .select(col("vec_id"), expr(
        s"stack($EmbBands, ${(0 until EmbBands).map(b => s"$b, k$b").mkString(", ")})")
        .as(Seq("band", "key")))
  }

  /** IVF (inverted-file) coarse quantizer with DETERMINISTIC centroids: the
    * `nlist` vectors with the lowest seeded LCG order over vec_id serve as
    * seed centroids (data-keyed — no fitted k-means, so assignments are
    * identical at any parallelism and reproducible in the SQL oracle).
    * Returns (vec_id, cid): each vector assigned to its max-cosine
    * centroid (ties → lowest cid). Centroids are driver-scale (nlist rows)
    * and broadcast; assignment is one map-side pass — linear, no shuffle
    * besides the per-vector argmax aggregation. */
  def ivfCentroids(embeddings: DataFrame, nlist: Int = 16, seed: Long = 97L): DataFrame =
    embeddings
      .orderBy(graft.core.Determinism.lcg(col("vec_id"), seed), col("vec_id"))
      .limit(nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** top-`kassign` max-cosine centroids per vector against an explicit
    * (cid, ce) table — the assignment kernel [[ivfAssign]], the Lloyd
    * sweep (kassign = 1), and the multi-assignment index share. Ties break
    * to the lowest cid; round(·, 6) keeps the argmax oracle-stable under
    * last-ulp float divergence. */
  private def assignTo(embeddings: DataFrame, cents: DataFrame,
                       kassign: Int = 1): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    embeddings.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        col("cid"), round(cosine(col("embedding"), col("ce")), 6).as("csim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= kassign)
      .select(col("vec_id"), col("cid"))
  }

  /** Seeded-LCG init refined by `iters` DETERMINISTIC Lloyd sweeps: assign
    * every vector to its max-cosine centroid, recompute each centroid as
    * the member mean. Each sweep is one broadcast-assign pass + one
    * groupBy aggregate — linear in N, the k-means shape that scales.
    * Component sums run on round(x·10⁶) INTEGERS (exactly associative), so
    * the refined centroids — and therefore every downstream assignment —
    * are bit-identical at any parallelism (a double sum's rounding depends
    * on partition order and could flip an argmax near a tie). Clusters
    * that lose all members keep their previous centroid. With `iters` = 0
    * this IS [[ivfCentroids]]. */
  def ivfCentroidsLloyd(embeddings: DataFrame, nlist: Int = 16, seed: Long = 97L,
                        iters: Int = 0): DataFrame = {
    var cents = ivfCentroids(embeddings, nlist, seed)
    if (iters > 0) {
      cents = Pin(cents).df
      for (_ <- 1 to iters) {
        val members = embeddings.join(assignTo(embeddings, cents), Seq("vec_id"))
          .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy("cid", "i")
          .agg(sum(round(col("x").cast("double") * 1000000, 0).cast("long")).as("q"),
            count(lit(1)).as("c"))
        val next = members.groupBy("cid")
          .agg(transform(
            array_sort(collect_list(struct(col("i"),
              (col("q").cast("double") / (col("c").cast("double") * 1000000.0)).as("v")))),
            e => e.getField("v")).as("ce"))
        cents = Pin(cents.select(col("cid"), col("ce").as("prev"))
          .join(next, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("ce"), col("prev")).as("ce"))).df
      }
    }
    cents
  }

  def ivfAssign(embeddings: DataFrame, nlist: Int = 16, seed: Long = 97L,
                lloyd: Int = 0): DataFrame =
    assignTo(embeddings, ivfCentroidsLloyd(embeddings, nlist, seed, lloyd))

  /** IVF top-k: each query probes only the vectors assigned to its
    * `nprobe` nearest centroids — the scale path that turns brute-force
    * O(|Q|·N) into O(|Q|·N·nprobe·kassign/nlist). `lloyd` deterministic
    * k-means sweeps refine the seeded centroids; `kassign` > 1 indexes
    * every vector in its top-kassign cells (multi-assignment — the
    * standard recall lever when the corpus has little cluster structure:
    * a neighbor is found if ANY of its cells is probed; the index grows
    * ×kassign, never the verify stage, which dedups (q, candidate) before
    * scoring). (q, rank, neighbor), ordering oracle-stable on
    * round(sim, 6) desc then id. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              nlist: Int = 16, nprobe: Int = 4, seed: Long = 97L,
              lloyd: Int = 0, kassign: Int = 1): DataFrame = {
    val cents = ivfCentroidsLloyd(embeddings, nlist, seed, lloyd)
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    ivfTopKIndexed(embeddings, cents, assignTo(embeddings, cents, kassign),
      q, k, nprobe)
  }

  /** IVF search against an EXPLICIT — typically TableIO-PERSISTED — index
    * (centroids `cents(cid, ce)` + cell assignments `assign(vec_id, cid)`):
    * the long-running deployment queries and grows the index without ever
    * recomputing centroids or reassigning the stored corpus. Queries come
    * as (q, qe) rows, so they need not live in the corpus id space.
    * `td_ann_ivf_indexed` proves the persisted round trip is byte-equal to
    * the inline build; AnnIndexSpec proves the append path. */
  def ivfTopKIndexed(corpus: DataFrame, cents: DataFrame, assign: DataFrame,
                     queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val probeW = Window.partitionBy(col("q")).orderBy(col("csim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("q"), col("qe"), col("cid"),
        round(cosine(col("qe"), col("ce")), 6).as("csim"))
      .withColumn("rn", row_number().over(probeW)).filter(col("rn") <= nprobe)
      .select(col("q"), col("qe"), col("cid"))
    val cands = probes
      .join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("q"))
      .dropDuplicates("q", "vec_id") // multi-assignment: candidate met once
      .join(corpus, Seq("vec_id"))
    val w = Window.partitionBy(col("q")).orderBy(col("sim").desc, col("neighbor"))
    cands.select(col("q"), col("vec_id").as("neighbor"),
        round(cosine(col("qe"), col("embedding")), 6).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("neighbor"))
  }

  /** Index APPEND for corpus growth: assign ONLY the new vectors against
    * the stored (frozen) centroids — per-vector independent, so
    * incremental construction equals assigning the full corpus against the
    * same centroids, and append cost is ∝ increment size. (Centroid drift
    * under sustained growth is handled the SCD way: periodically re-run
    * Lloyd offline and swap the index, like the canonical-map refresh.)
    * Returns the new assignment rows to append to the stored table. */
  def ivfAppend(cents: DataFrame, newVectors: DataFrame, kassign: Int = 1): DataFrame =
    assignTo(newVectors, cents, kassign)

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic dedup = k-means clustering as the BLOCKING stage, then
    * ε-ball pruning strictly within each cluster. Returns one row per
    * vector — (vec_id, cid, csim, kept) with csim = round(cos(v,
    * centroid), 6) and kept ∈ {0, 1} — so `kept = 1` is the dedup filter
    * and the flag surface is oracle-checkable end to end.
    *
    * Keeper rule (the paper's §2.2 choice, made into a deterministic total
    * order): within a cluster, a vector x is DROPPED iff some cluster-mate
    * y has cos(x, y) ≥ `tau` and y sits FARTHER from the centroid —
    * csim_y < csim_x, ties broken by lower vec_id. The paper keeps the
    * low-centroid-similarity member of each duplicate group to preserve
    * diversity; phrasing it pairwise keeps the op one self-join (no
    * iterative group resolution) and makes every drop independently
    * re-checkable.
    *
    * Scale shape: centroids are driver-scale and broadcast; assignment is
    * one linear pass; the pair stage is keyed on `cid` (shuffle-hash — the
    * per-cluster Σ sz² cost is the paper's own within-cluster comparison,
    * bounded by choosing nlist ∝ N so clusters stay O(N/nlist)); nothing
    * is windowed over the full table, nothing collects. */
  def semDedup(embeddings: DataFrame, nlist: Int = 16, tau: Double = 0.99,
               seed: Long = 97L, lloyd: Int = 0): DataFrame = {
    val cents = ivfCentroidsLloyd(embeddings, nlist, seed, lloyd)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val assign = Pin(embeddings.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(cosine(col("embedding"), col("ce")), 6).as("csim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")).df
    val lhs = assign.select(col("cid"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("csim").as("ca"))
    val rhs = assign.select(col("cid"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("csim").as("cb"))
    val dropped = lhs.join(rhs.hint("shuffle_hash"), Seq("cid"))
      .filter(col("a") =!= col("b") &&
        (col("cb") < col("ca") || (col("cb") === col("ca") && col("b") < col("a"))))
      .filter(round(cosine(col("ea"), col("eb")), 6) >= tau)
      .select(col("a").as("vec_id")).distinct()
    // the dropped set is corpus-proportional at high dup rates — never
    // broadcast; shuffle-hash keeps the flag attachment sort-free
    assign.select(col("vec_id"), col("cid"), col("csim"))
      .join(dropped.withColumn("d", lit(1)).hint("shuffle_hash"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"), col("csim"),
        when(col("d").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }

  /** near-duplicate vector pairs: same key in ANY band, cosine-verified ≥
    * threshold. (a, b, sim) with a < b. Candidate generation is the banded
    * bucket join above; the verify joins candidates to the embedding table
    * (embeddings shuffle once per side, linear — never with the pairs). */
  /** Embedding near-dup CLUSTERS with keeper selection — the same
    * pairs → connected-components → min-id-keeper composition as
    * [[graft.dedup.Dedup.nearDupClusters]], over the banded-hyperplane
    * blocking path. (vec_id, keeper) for EVERY embedding; singletons keep
    * themselves, so `keeper === vec_id` is the dedup filter. */
  def nearDupClusters(embeddings: DataFrame, threshold: Double = 0.999): DataFrame = {
    val pairs = nearDupPairs(embeddings, threshold)
      .select(col("a").as("src"), col("b").as("dst"))
    val comp = graft.pipeline.ConnectedComponents.run(pairs)
    embeddings.select(col("vec_id"))
      .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("keeper"))
  }

  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.999): DataFrame = {
    val bk = lshBandKeys(embeddings)
    val cand = bk.select(col("vec_id").as("a"), col("band"), col("key"))
      .join(bk.select(col("vec_id").as("b"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val e = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      .select(col("a"), col("b"), round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
