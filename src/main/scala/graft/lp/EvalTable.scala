package graft.lp

import graft.core.Kb
import graft.expr.ClassExpr
import graft.sample.Samplers
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The reference's primary experiment — examples/evaluation_table_generator.py
  * — as one engine call. Per sampler × learning problem × iteration it
  * reproduces the reference's two-graph protocol exactly:
  *
  *  1. SAMPLE: draw a `fraction`-of-the-KB sample (default 0.10, the
  *     reference's --sampling_size) with the named sampler.
  *  2. FIT on the SAMPLED graph: trim the LP to the surviving individuals
  *     (LpJson.restrictToSample, :137-147 incl. the empty-pos half-fallback)
  *     and pick the best hypothesis from the candidate `pool` by F1 against
  *     the trimmed LP encoded on the sampled KB. The reference fits an
  *     external learner (EvoLearner/CELOE) here; the learner itself is out
  *     of engine scope (SURVEY §2.9), so argmax-over-pool is the fit
  *     stand-in (ties → earliest pool entry). A singleton pool degenerates
  *     to scoring a fixed hypothesis.
  *  3. SCORE on the ORIGINAL graph: the reference reloads the original KB,
  *     re-reads the FULL untrimmed pos/neg, encodes, and evaluates the
  *     fitted hypothesis there with F1 AND Accuracy
  *     ("Measuring F1-score and Accuracy in the original graph",
  *     evaluation_table_generator.py:170-185). Scoring on the sampled graph
  *     would systematically inflate F1 — removed positives can never be
  *     false negatives there.
  *  4. AGGREGATE mean/σ_pop per (sampler, lp) over `iterations` (default
  *     10, the reference's --iterations; stats per :189-207).
  *
  * Full-graph scores are memoized per (lp, winning hypothesis) — they do
  * not depend on the iteration, only on which hypothesis won.
  */
object EvalTable {

  /** Pluggable fit stage: given (sampled KB, LP encoded on it), return the
    * (name, hypothesis) the "learner" chose. [[learnerFit]] is the native
    * analogue of the reference's `model.fit(lp)`
    * (evaluation_table_generator.py:148-156); the default is
    * argmax-over-pool. */
  type FitFn = (Kb, EncodedLp) => (String, ClassExpr)

  /** Fit via the engine's best-first refinement learner on the sampled
    * graph — the step the reference delegates to EvoLearner/CELOE. */
  def learnerFit(metric: Metric = F1, maxIterations: Int = 20,
                 maxLen: Int = 7): FitFn = (sampled, elpS) => {
    val r = Learner.fit(sampled, elpS, metric,
      maxIterations = maxIterations, maxLen = maxLen, topN = 1)
    val best = r.best.head
    (best.render, best.concept)
  }

  /** `requirePosSurvives = true` makes the run FAIL if any iteration's
    * sample drops every positive (which would engage the empty-pos
    * half-fallback of LpJson.restrictToSample). The fallback is correct
    * reference behavior, but an external SQL mirror of this experiment
    * models the trimmed LP as plain pos∩sample / neg∩sample — a silently
    * engaged fallback would diverge from it, so oracle-gated callers
    * assert it never fires. */
  def run(kb: Kb, lps: Seq[(String, Lp, Seq[(String, ClassExpr)])],
          samplerNames: Seq[String], fraction: Double = 0.10,
          iterations: Int = 10, seed: Long = 42L,
          keyed: Option[DataFrame] = None,
          fit: Option[FitFn] = None,
          requirePosSurvives: Boolean = false): DataFrame = {
    val spark = kb.spark
    val n = math.max(1, (kb.nodes.count() * fraction).toInt)
    // full-graph encodings and scores are iteration-independent
    val fullElp = lps.map { case (lpName, lp, _) =>
      lpName -> LearningProblem.encode(kb, lp, keyed, seed)
    }.toMap
    val fullScore = scala.collection.mutable.Map.empty[(String, String), (Double, Double)]
    val rows = for {
      name <- samplerNames
      (lpName, lp, pool) <- lps
    } yield {
      val scores = (0 until iterations).map { i =>
        val sampler = Samplers.byName(name, kb,
          lp = lp.pos ++ lp.neg, seed = seed + i, keyed = keyed)
        val sampled = sampler.sample(n).cache()
        // fit on the sampled graph with the trimmed LP
        val trimmed = LpJson.restrictToSample(lp, sampled, seed + i)
        if (requirePosSurvives) {
          val posSet = lp.pos.toSet
          require(trimmed.pos.exists(posSet),
            s"sample iteration $i of '$lpName' dropped every positive " +
              "(empty-pos fallback engaged) — not representable by the SQL oracle")
        }
        val elpS = LearningProblem.encode(kb = sampled, lp = trimmed, seed = seed + i)
        val (winName, winCe) = fit match {
          case Some(f) => f(sampled, elpS)
          case None => // stand-in: best-F1 pool candidate (ties → lowest idx)
            val q = LearningProblem.evaluateConceptsBatch(sampled, pool.map(_._2), F1, elpS).map(_._2)
            pool(q.indices.minBy(i => (-q(i), i)))
        }
        sampled.unpersist()
        // reference :170-185 — score the winner on the ORIGINAL graph with
        // the FULL untrimmed LP, F1 and Accuracy
        fullScore.getOrElseUpdate((lpName, winName), {
          val s2 = LearningProblem
            .evaluateConceptAll(kb, winCe, Seq(F1, Accuracy), fullElp(lpName))
          (s2(0)._2, s2(1)._2)
        })
      }
      def stats(xs: Seq[Double]): (Double, Double) = {
        val m = xs.sum / iterations
        (m, math.sqrt(xs.map(s => (s - m) * (s - m)).sum / iterations))
      }
      val (mF1, sdF1) = stats(scores.map(_._1))
      val (mAcc, sdAcc) = stats(scores.map(_._2))
      Row(name, lpName, round5(mF1), round5(sdF1), round5(mAcc), round5(sdAcc), iterations)
    }
    val schema = StructType(Seq(
      StructField("sampler", StringType, nullable = false),
      StructField("lp", StringType, nullable = false),
      StructField("mean_f1", DoubleType, nullable = false),
      StructField("sd_f1", DoubleType, nullable = false),
      StructField("mean_acc", DoubleType, nullable = false),
      StructField("sd_acc", DoubleType, nullable = false),
      StructField("iterations", IntegerType, nullable = false)))
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  private def round5(x: Double): Double =
    BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
}
