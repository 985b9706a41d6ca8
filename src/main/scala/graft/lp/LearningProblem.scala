package graft.lp

import graft.core.{Determinism, Kb, Pin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PosNegLPStandard (reference ontolearn_light/learning_problem.py:44-74):
  * a learning problem is two small sets of individual IRIs. */
final case class Lp(pos: Seq[String], neg: Seq[String])

/** EncodedPosNegLPStandard (learning_problem.py:13-41): the LP partitioned
  * against the KB — kb_pos, kb_neg, kb_all, kb_diff = all − (pos ∪ neg). */
final case class EncodedLp(kbPos: DataFrame, kbNeg: DataFrame, kbAll: DataFrame, kbDiff: DataFrame)

object LearningProblem {

  /** encode_learning_problem (reference knowledge_base.py:658-706).
    * pos and neg are sets, as in the reference LP: duplicate ids collapse
    * on the driver. When `neg` is empty, negatives are sampled uniformly
    * from kb_all with |neg| = |pos| (reference :686-688 `random.sample`) —
    * here via the seeded data-keyed LCG order over `keyed` (id, k), so the
    * draw is deterministic across parallelism levels; the sampled node ids
    * are already distinct, and are drawn here, in one job. */
  def encode(kb: Kb, lp: Lp, keyed: Option[DataFrame] = None, seed: Long = 42L): EncodedLp = {
    require(lp.pos.nonEmpty, "0 < |pos| required (reference knowledge_base.py:679)")
    val spark = kb.spark
    import org.apache.spark.sql.Encoders
    val pos = lp.pos.distinct
    val posDf = spark.createDataset(pos)(Encoders.STRING).toDF("id")
    val all = kb.nodes
    val negDf =
      if (lp.neg.nonEmpty) spark.createDataset(lp.neg.distinct)(Encoders.STRING).toDF("id")
      else {
        val k = keyed.getOrElse(
          all.withColumn("k", abs(xxhash64(col("id")))))
        // global top-|pos| via TakeOrderedAndProject — NOT a row_number over
        // an unpartitioned window, which would single-task-sort all nodes —
        // collected once into a local relation of |pos| rows, so the scoring
        // passes and kb_diff do not re-plan the top-|pos| over every node
        val drawn = k.orderBy(Determinism.lcg(col("k"), seed), col("id"))
          .limit(pos.size)
          .select("id")
        Pin.local(spark, drawn.collect(), drawn.schema)
      }
    EncodedLp(
      kbPos = posDf,
      kbNeg = negDf,
      kbAll = all,
      kbDiff = all.except(posDf.union(negDf)))
  }

  /** The one scoring frame (reference abstracts.py:52-61 as one aggregate
    * job): every retrieval tagged with its index `cid`, followed by the
    * pos and neg sides themselves so that |pos| and |neg| ride the same
    * aggregate, distinct per cid, left-joined against the LP-scale sides
    * (both broadcast), counted per cid as (cnt, tp, fp). */
  private[graft] def scoringFrame(retrievals: Seq[DataFrame], elp: EncodedLp): DataFrame =
    (retrievals :+ elp.kbPos :+ elp.kbNeg).zipWithIndex
      .map { case (r, i) => r.select(lit(i).as("cid"), col("id")) }
      .reduce(_.union(_)).distinct()
      .join(broadcast(elp.kbPos.select(col("id"), lit(1L).as("p"))), Seq("id"), "left")
      .join(broadcast(elp.kbNeg.select(col("id"), lit(1L).as("n"))), Seq("id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("cnt"),
        sum(coalesce(col("p"), lit(0L))).as("tp"),
        sum(coalesce(col("n"), lit(0L))).as("fp"))

  /** Per retrieval, in input order: its distinct id count and its
    * (tp, fn, fp, tn) against the LP, from ONE collect of [[scoringFrame]].
    * An absent cid is an empty retrieval. */
  private def confusions(retrievals: Seq[DataFrame],
                         elp: EncodedLp): Seq[(Long, (Long, Long, Long, Long))] = {
    val counts = scoringFrame(retrievals, elp).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      .withDefaultValue((0L, 0L, 0L))
    val nPos = counts(retrievals.size)._1
    val nNeg = counts(retrievals.size + 1)._1
    retrievals.indices.map { i =>
      val (cnt, tp, fp) = counts(i)
      (cnt, (tp, nPos - tp, fp, nNeg - fp))
    }
  }

  /** score_elp with its empty-retrieval guard (abstracts.py:53-54) */
  private def score(metric: Metric, cnt: Long, c: (Long, Long, Long, Long)): (Boolean, Double) =
    if (cnt == 0) (false, 0.0) else metric.score2(c._1, c._2, c._3, c._4)

  /** Confusion counts (reference abstracts.py:52-61): tp/fn/fp/tn of a
    * retrieved-individuals set against the encoded LP. */
  def confusion(retrieved: DataFrame, elp: EncodedLp): (Long, Long, Long, Long) =
    confusions(Seq(retrieved), elp).head._2

  /** evaluate_concept (reference knowledge_base.py:708-727): retrieval via
    * Eval + metric score. Returns (applicable, score). */
  def evaluateConcept(kb: Kb, ce: graft.expr.ClassExpr, metric: Metric,
                      elp: EncodedLp): (Boolean, Double) =
    evaluateConceptAll(kb, ce, Seq(metric), elp).head

  /** evaluate_concept over SEVERAL class expressions in ONE scoring pass —
    * the path a search loop calls per expansion (each candidate of a
    * refinement batch scored together, not one driver-blocking pass each).
    * Returns per candidate (applicable, score, retrievedCount) in input
    * order. */
  def evaluateConceptsBatch(kb: Kb, ces: Seq[graft.expr.ClassExpr], metric: Metric,
                            elp: EncodedLp): Seq[(Boolean, Double, Long)] =
    if (ces.isEmpty) Nil
    else confusions(ces.map(graft.expr.Eval(kb, _)), elp).map { case (cnt, c) =>
      val (ok, sc) = score(metric, cnt, c)
      (ok, sc, cnt)
    }

  /** evaluate_concept under SEVERAL metrics from ONE scoring pass. */
  def evaluateConceptAll(kb: Kb, ce: graft.expr.ClassExpr, metrics: Seq[Metric],
                         elp: EncodedLp): Seq[(Boolean, Double)] = {
    val (cnt, c) = confusions(Seq(graft.expr.Eval(kb, ce)), elp).head
    metrics.map(score(_, cnt, c))
  }
}
