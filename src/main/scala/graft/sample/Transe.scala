package graft.sample

import graft.core.{Determinism, Pin}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine KG-embedding TRAINING — TransE (Bordes et al., "Translating
  * embeddings for modeling multi-relational data", NeurIPS 2013 §3) with
  * the margin-ranking objective over [[KgeNegatives]] corruptions, scored
  * by [[KgeEval.metrics]]. This completes the engine's KGE loop: corrupt
  * (KgeNegatives) → train (here) → rank/eval (KgeEval) — the missing
  * middle the frequency baseline stood in for.
  *
  * EXACT-INTEGER SGD, deliberately: embeddings live in bounded integer
  * units, and one epoch is FULL-BATCH subgradient descent —
  *
  *  - L1 energy f(h,r,t) = Σᵢ|hᵢ+rᵢ−tᵢ| (the paper's d=L1 choice) has
  *    subgradients in {−1,0,+1} per coordinate, so with an integer
  *    learning rate every update is an integer add;
  *  - a pair (positive, corruption) contributes gradients iff it VIOLATES
  *    the margin: γ + f(pos) − f(neg) > 0;
  *  - per-entity/per-relation updates are the SUM of contributions over
  *    all violating pairs — exactly associative, so the result is
  *    bit-identical at any parallelism and replayable row-for-row by the
  *    DuckDB oracle (smp_transe_emb / smp_transe_eval). The paper's
  *    sequential minibatch SGD is inherently order-dependent — full-batch
  *    is the formulation that is SOUND to parallelize, not a shortcut;
  *  - instead of the paper's per-epoch L2 projection (float, order
  *    sensitive) coordinates clamp to [−clamp, clamp] — an L∞ ball keeps
  *    the iterates bounded with integer-exact arithmetic.
  *
  * Scale shape per epoch: the pair table joins its 4 entity roles and the
  * relation against the embedding tables (keyed equi-joins — co-partition
  * or bucket the embedding store by id on a cluster and these are local);
  * violation filtering is in-plan; the 5 delta streams posexplode to
  * (id, dim, δ) and reduce via ONE map-side-combinable groupBy each; the
  * update is a keyed left join + zip_with. Embedding tables are |V|·d and
  * |R|·d longs — never broadcast, never collected; per-epoch lineage is
  * cut by a pin so E epochs stay E independent shuffles deep.
  */
object Transe {

  /** All magnitudes in integer units. `initBound` B: init coords are
    * uniform in [−B, B] (md5-keyed, portable); `clamp` C: the L∞ radius
    * updates project back to; `margin` γ and `lr` η as in the paper. */
  final case class Config(dim: Int = 8, margin: Long = 4L, lr: Long = 1L,
                          initBound: Long = 8L, clamp: Long = 64L,
                          epochs: Int = 2, seed: Long = 42L) {
    require(dim >= 1 && epochs >= 0 && lr >= 1 && margin >= 0)
    require(initBound >= 1 && clamp >= initBound,
      s"clamp=$clamp must cover initBound=$initBound")
  }

  /** signum as an INTEGER column (Spark's `signum` returns double). */
  private def isign(c: Column): Column =
    when(c > 0, 1L).when(c < 0, -1L).otherwise(0L)

  /** Deterministic init value for dim i of key `tag|id`: md5-keyed uniform
    * over [−B, B] — the draw family the oracle mirrors digit-for-digit. */
  private def initArray(cfg: Config, tag: String, id: Column): Column =
    transform(sequence(lit(0), lit(cfg.dim - 1)), i =>
      pmod(Determinism.md5Int(
          concat_ws("|", lit(cfg.seed), lit(tag), id, i)),
        lit(2 * cfg.initBound + 1)) - lit(cfg.initBound))

  /** Entity embeddings at epoch 0: (id, emb array<long>). */
  def initEntities(nodes: DataFrame, cfg: Config): DataFrame =
    nodes.select(col("id"), initArray(cfg, "e", col("id")).as("emb"))

  /** Relation embeddings at epoch 0: (pred, remb array<long>). */
  def initRelations(edges: DataFrame, cfg: Config): DataFrame =
    edges.select(col("pred")).distinct()
      .select(col("pred"), initArray(cfg, "r", col("pred")).as("remb"))

  /** Σᵢ|hᵢ+rᵢ−tᵢ| over three array<long> columns. */
  def l1Energy(h: Column, r: Column, t: Column): Column =
    aggregate(zip_with(zip_with(h, r, _ + _), t, _ - _),
      lit(0L), (acc, x) => acc + abs(x))

  /** One full-batch epoch. `pairs` must carry (src, pred, dst, neg_src,
    * neg_dst) — every ROW is one (positive, corruption) training pair. */
  private def epoch(pairs: DataFrame, ent: DataFrame, rel: DataFrame,
                    cfg: Config): (DataFrame, DataFrame) = {
    def embOf(role: String, out: String) =
      ent.select(col("id").as(role), col("emb").as(out))
    val joined = pairs
      .join(embOf("src", "he"), Seq("src"))
      .join(embOf("dst", "te"), Seq("dst"))
      .join(embOf("neg_src", "nhe"), Seq("neg_src"))
      .join(embOf("neg_dst", "nte"), Seq("neg_dst"))
      .join(rel, Seq("pred"))
    val diffs = joined
      .withColumn("dpos", zip_with(zip_with(col("he"), col("remb"), _ + _),
        col("te"), _ - _))
      .withColumn("dneg", zip_with(zip_with(col("nhe"), col("remb"), _ + _),
        col("nte"), _ - _))
    val viol = diffs
      .withColumn("fpos", aggregate(col("dpos"), lit(0L), (a, x) => a + abs(x)))
      .withColumn("fneg", aggregate(col("dneg"), lit(0L), (a, x) => a + abs(x)))
      .filter(lit(cfg.margin) + col("fpos") - col("fneg") > 0)
      .withColumn("spos", transform(col("dpos"), x => isign(x)))
      .withColumn("sneg", transform(col("dneg"), x => isign(x)))
      .select("src", "pred", "dst", "neg_src", "neg_dst", "spos", "sneg")

    // descent on γ + f(pos) − f(neg): pos head/rel move AGAINST sign(dpos),
    // pos tail with it; the corruption's terms flip (they enter negated)
    def stream(idc: String, arr: String, sgn: Long): DataFrame =
      viol.select(col(idc).as("id"),
          posexplode(transform(col(arr), x => x * lit(sgn * cfg.lr))))
        .toDF("id", "i", "dv")
    val entDeltas = stream("src", "spos", -1L)
      .unionAll(stream("dst", "spos", 1L))
      .unionAll(stream("neg_src", "sneg", 1L))
      .unionAll(stream("neg_dst", "sneg", -1L))
      .groupBy("id", "i").agg(sum(col("dv")).as("dv"))
      .groupBy("id").agg(transform(
        array_sort(collect_list(struct(col("i"), col("dv")))),
        e => e.getField("dv")).as("delta"))
    val relDeltas = viol.select(col("pred"),
        posexplode(zip_with(col("spos"), col("sneg"),
          (p, n) => (n - p) * lit(cfg.lr))))
      .toDF("pred", "i", "dv")
      .groupBy("pred", "i").agg(sum(col("dv")).as("dv"))
      .groupBy("pred").agg(transform(
        array_sort(collect_list(struct(col("i"), col("dv")))),
        e => e.getField("dv")).as("delta"))

    def applyDelta(base: DataFrame, key: String, vec: String,
                   deltas: DataFrame): DataFrame =
      base.join(deltas.withColumnRenamed("id", key), Seq(key), "left")
        .select(col(key), coalesce(
          zip_with(col(vec), col("delta"), (v, d) =>
            greatest(least(v + d, lit(cfg.clamp)), lit(-cfg.clamp))),
          col(vec)).as(vec))
    (applyDelta(ent, "id", "emb", entDeltas),
      applyDelta(rel, "pred", "remb",
        relDeltas.withColumnRenamed("pred", "id")))
  }

  /** Train `cfg.epochs` full-batch epochs. `negatives` in the
    * [[KgeNegatives]] shape (src, pred, dst, i, neg_src, neg_dst) — each
    * row one training pair. Returns (entities(id, emb),
    * relations(pred, remb)), both pinned. */
  def train(nodes: DataFrame, edges: DataFrame, negatives: DataFrame,
            cfg: Config = Config()): (DataFrame, DataFrame) = {
    val pairs = Pin(negatives.select("src", "pred", "dst", "neg_src", "neg_dst")).df
    var ent = Pin(initEntities(nodes, cfg)).df
    var rel = Pin(initRelations(edges, cfg)).df
    for (_ <- 1 to cfg.epochs) {
      val (e2, r2) = epoch(pairs, ent, rel, cfg)
      ent = Pin(e2).df
      rel = Pin(r2).df
    }
    (ent, rel)
  }

  /** Scored candidate table in the [[KgeEval.metrics]] contract — score =
    * −f(h,r,t) (lower energy = better), exact integer. Feed the SAME
    * corruption draw used anywhere else in the protocol. */
  def transeScored(edges: DataFrame, negatives: DataFrame,
                   ent: DataFrame, rel: DataFrame): DataFrame = {
    val pos = edges.select(col("src"), col("pred"), col("dst")).distinct()
      .select(col("src"), col("pred"), col("dst"),
        col("src").as("cand_src"), col("dst").as("cand_dst"), lit(1).as("is_pos"))
    val neg = negatives
      .select(col("src"), col("pred"), col("dst"),
        col("neg_src").as("cand_src"), col("neg_dst").as("cand_dst"))
      .distinct()
      .withColumn("is_pos", lit(0))
    pos.unionByName(neg)
      .join(ent.select(col("id").as("cand_src"), col("emb").as("he")), Seq("cand_src"))
      .join(ent.select(col("id").as("cand_dst"), col("emb").as("te")), Seq("cand_dst"))
      .join(rel, Seq("pred"))
      .withColumn("score", -l1Energy(col("he"), col("remb"), col("te")))
      .drop("he", "te", "remb")
  }

  /** Total hinge loss Σ max(0, γ + f(pos) − f(neg)) over the pair set —
    * ONE exact-integer observability row (epoch-over-epoch decrease is the
    * training signal TranseSpec pins). */
  def hingeLoss(negatives: DataFrame, ent: DataFrame, rel: DataFrame,
                cfg: Config): DataFrame = {
    def embOf(role: String, out: String) =
      ent.select(col("id").as(role), col("emb").as(out))
    negatives.select("src", "pred", "dst", "neg_src", "neg_dst")
      .join(embOf("src", "he"), Seq("src"))
      .join(embOf("dst", "te"), Seq("dst"))
      .join(embOf("neg_src", "nhe"), Seq("neg_src"))
      .join(embOf("neg_dst", "nte"), Seq("neg_dst"))
      .join(rel, Seq("pred"))
      .select(greatest(lit(0L), lit(cfg.margin) +
        l1Energy(col("he"), col("remb"), col("te")) -
        l1Energy(col("nhe"), col("remb"), col("nte"))).as("h"))
      .agg(sum(col("h")).as("hinge_loss"), count(lit(1)).as("n_pairs"))
  }
}
