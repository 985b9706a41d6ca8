package graft.expr

import graft.SparkSpec
import graft.fixtures.FamilyKb
import graft.lp._

class EvalSpec extends SparkSpec {
  lazy val kb = FamilyKb.kb(spark).cache()

  test("named class with subclass closure") {
    assert(ids(Eval(kb, Named("person"))) === FamilyKb.all.toSet)
    assert(ids(Eval(kb, Named("male"))) === FamilyKb.males.toSet)
  }

  test("top and bottom") {
    assert(ids(Eval(kb, Top)) === FamilyKb.all.toSet)
    assert(Eval(kb, Bottom).count() === 0)
  }

  test("and / or / not") {
    assert(ids(Eval(kb, And(Seq(Named("male"), Exists("hasChild", Top))))) ===
      Set("m1", "m2", "m3", "m5"))
    assert(ids(Eval(kb, Or(Seq(Named("male"), Named("female"))))) ===
      (FamilyKb.males ++ FamilyKb.females).toSet)
    assert(Eval(kb, Not(Named("person"))).count() === 0)
    assert(ids(Eval(kb, Not(Named("male")))) ===
      (FamilyKb.females ++ FamilyKb.others).toSet)
  }

  test("exists and hasValue") {
    assert(ids(Eval(kb, Exists("hasChild", Named("female")))) ===
      Set("m1", "f1", "f2", "m3", "f5"))
    assert(ids(Eval(kb, HasValue("hasChild", "m2"))) === Set("m1", "f1"))
  }

  test("forall (OWA: no edge ⇒ member)") {
    assert(ids(Eval(kb, ForAll("hasChild", Named("male")))) ===
      Set("m2", "m4", "m5", "m6", "f3", "f4", "f6", "x1", "x2", "x3", "x4"))
  }

  test("cardinalities") {
    assert(ids(Eval(kb, MinCard(2, "hasChild", Top))) === Set("m1", "f1", "m3"))
    assert(ids(Eval(kb, MaxCard(0, "hasChild", Top))) ===
      Set("m4", "m6", "f4", "f6", "x1", "x2", "x3", "x4"))
    assert(ids(Eval(kb, ExactCard(1, "hasChild", Top))) ===
      Set("m2", "f2", "f3", "m5", "f5"))
  }

  test("data restrictions") {
    assert(ids(Eval(kb, DataCompare("age", ">=", 34.0))) === Set("m1", "f1", "m2", "f2"))
    assert(ids(Eval(kb, DataHasValue("nickname", "gramps"))) === Set("m1"))
  }

  test("metrics formula parity (reference metrics.py)") {
    assert(F1.score2(3, 1, 2, 4) === ((true, 0.66667)))
    assert(Accuracy.score2(3, 1, 2, 4) === ((true, 0.7)))
    assert(Precision.score2(3, 1, 2, 4) === ((true, 0.6)))
    assert(Recall.score2(3, 1, 2, 4) === ((true, 0.75)))
    assert(WeightedAccuracy.score2(3, 1, 2, 4) === ((true, 0.70833)))
    assert(F1.score2(0, 1, 2, 4) === ((false, 0.0)))
    assert(Recall.score2(0, 0, 2, 4) === ((false, 0.0)))
  }

  test("learning problem encode + confusion") {
    val elp = LearningProblem.encode(kb, Lp(Seq("m1", "m2"), Seq("f1", "f2")))
    assert(elp.kbDiff.count() === FamilyKb.all.size - 4)
    val retrieved = Eval(kb, Named("male"))
    val (tp, fn, fp, tn) = LearningProblem.confusion(retrieved, elp)
    assert((tp, fn, fp, tn) === ((2L, 0L, 0L, 2L)))
  }

  // set semantics (reference abstracts.py:52-61): duplicate or shared
  // pos/neg ids count once, through every scoring entry point
  test("every scoring entry point gives the set-algebra confusion") {
    val metrics = Seq(F1, Accuracy, Precision, Recall, WeightedAccuracy)
    val males = FamilyKb.males.toSet
    for (lp <- Seq(Lp(Seq("m1"), Seq("m1", "m1", "f1")),
                   Lp(Seq("m1", "m1"), Seq("m1", "f1")),
                   Lp(Seq("m1", "m2", "m1"), Seq("f1", "f2")))) {
      val (p, n) = (lp.pos.toSet, lp.neg.toSet)
      val expected = ((p & males).size.toLong, (p -- males).size.toLong,
        (n & males).size.toLong, (n -- males).size.toLong)
      val (tp, fn, fp, tn) = expected
      val scores = metrics.map(_.score2(tp, fn, fp, tn))
      val elp = LearningProblem.encode(kb, lp)
      assert(LearningProblem.confusion(Eval(kb, Named("male")), elp) === expected, lp)
      assert(LearningProblem.evaluateConceptAll(kb, Named("male"), metrics, elp) === scores, lp)
      assert(metrics.map(LearningProblem.evaluateConcept(kb, Named("male"), _, elp)) === scores, lp)
      val batch = metrics.map(LearningProblem.evaluateConceptsBatch(kb, Seq(Named("male")), _, elp).head)
      assert(batch.map(b => (b._1, b._2)) === scores, lp)
      assert(batch.map(_._3).toSet === Set(males.size.toLong), lp)
    }
  }

  test("empty retrieval: (false, 0) per metric, confusion (0, |pos|, 0, |neg|)") {
    val elp = LearningProblem.encode(kb, Lp(Seq("m1", "m2", "m1"), Seq("f1", "f2", "f3")))
    assert(LearningProblem.confusion(Eval(kb, Bottom), elp) === ((0L, 2L, 0L, 3L)))
    val metrics = Seq(F1, Accuracy, Precision, Recall, WeightedAccuracy)
    val none = metrics.map(_ => (false, 0.0))
    assert(LearningProblem.evaluateConceptAll(kb, Bottom, metrics, elp) === none)
    assert(metrics.map(LearningProblem.evaluateConcept(kb, Bottom, _, elp)) === none)
    assert(metrics.map(LearningProblem.evaluateConceptsBatch(kb, Seq(Bottom), _, elp).head) ===
      metrics.map(_ => (false, 0.0, 0L)))
  }

  test("scoring one concept is one aggregate pass (JobCount)") {
    val elp = LearningProblem.encode(kb, Lp(Seq("m1", "m2"), Seq("f1", "f2")))
    val ce = Exists("hasChild", Named("female"))
    LearningProblem.evaluateConceptAll(kb, ce, Seq(F1, Accuracy), elp) // warm
    val sc = spark.sparkContext
    val (_, all) = org.apache.spark.graftshim.JobCount(sc)(
      LearningProblem.evaluateConceptAll(kb, ce, Seq(F1, Accuracy), elp))
    val (_, one) = org.apache.spark.graftshim.JobCount(sc)(
      LearningProblem.evaluateConcept(kb, ce, F1, elp))
    val (_, batch) = org.apache.spark.graftshim.JobCount(sc)(
      LearningProblem.evaluateConceptsBatch(kb, Seq(ce), F1, elp))
    info(s"evaluateConceptAll $all jobs, evaluateConcept $one jobs, evaluateConceptsBatch $batch jobs")
    assert(all <= 11 && one <= 11, s"evaluateConceptAll $all, evaluateConcept $one jobs")
    // every entry point is the same pass, so they pay the same job bill
    assert(one === all && batch === all,
      s"evaluateConceptAll $all, evaluateConcept $one, evaluateConceptsBatch $batch jobs")
  }

  test("sampled negatives are drawn once in encode: an empty-neg pass costs an explicit one's jobs (JobCount)") {
    val ce = Exists("hasChild", Named("female"))
    val explicit = LearningProblem.encode(kb, Lp(Seq("m1", "m2"), Seq("f1", "f2")))
    val sampled = LearningProblem.encode(kb, Lp(Seq("m1", "m2"), Nil), seed = 7L)
    assert(sampled.kbNeg.isLocal, "the sampled negative side is a local relation")
    def pass(elp: EncodedLp) = LearningProblem.evaluateConceptAll(kb, ce, Seq(F1, Accuracy), elp)
    pass(explicit); pass(sampled) // warm
    val sc = spark.sparkContext
    val (_, withNeg) = org.apache.spark.graftshim.JobCount(sc)(pass(explicit))
    val (_, drawnNeg) = org.apache.spark.graftshim.JobCount(sc)(pass(sampled))
    info(s"scoring pass: explicit neg $withNeg jobs, sampled neg $drawnNeg jobs")
    assert(drawnNeg === withNeg, s"sampled neg $drawnNeg jobs, explicit neg $withNeg")
  }

  test("negative sampling when neg empty: |neg| = |pos|, deterministic") {
    val elp = LearningProblem.encode(kb, Lp(Seq("m1", "m2", "m3"), Nil), seed = 7L)
    val neg1 = ids(elp.kbNeg)
    assert(neg1.size === 3)
    val neg2 = ids(LearningProblem.encode(kb, Lp(Seq("m1", "m2", "m3"), Nil), seed = 7L).kbNeg)
    assert(neg1 === neg2)
  }

  test("cached eval returns identical results and reuses the plan (F4)") {
    val cached = new Eval.Cached(kb, maxSize = 4)
    val ce = And(Seq(Named("male"), Exists("hasChild", Top)))
    val first = cached(ce)
    val second = cached(ce)
    assert(first eq second) // same cached DataFrame instance
    assert(ids(first) === ids(Eval(kb, ce)))
  }

  test("ignoring removes classes/properties everywhere (F10)") {
    val view = kb.ignoring(ignoredClasses = Set("female"), ignoredProps = Set("age"))
    assert(view.types.filter(org.apache.spark.sql.functions.col("cls") === "female").count() === 0)
    assert(view.attrs.filter(org.apache.spark.sql.functions.col("prop") === "age").count() === 0)
    assert(!view.tbox.classes.contains("female"))
    assert(!view.tbox.dataProps.map(_.prop).contains("age"))
    // nodes untouched; male side intact
    assert(ids(view.nodes) === FamilyKb.all.toSet)
    assert(ids(Eval(view, Named("male"))) === FamilyKb.males.toSet)
  }

  // all three forms: the driver image (FamilyKb's tables are local
  // relations, which a KB holding its image may be), IN-set filters (a
  // threshold the sample fits and the KB does not), semi-joins (-1)
  test("restrictedTo drops dangling assertions on both endpoints") {
    def check(local: Boolean): Unit = {
      val keep = spark.createDataset(Seq("m1", "f1", "m2"))(
        org.apache.spark.sql.Encoders.STRING).toDF("id")
      val sub = kb.restrictedTo(keep)
      assert(Seq(sub.nodes, sub.edges, sub.attrs, sub.types).forall(_.isLocal) === local,
        s"image form expected: $local")
      assert(sub.nodes.count() === 3)
      assert(sub.edges.collect().map(r => (r.getString(1), r.getString(0), r.getString(2))).toSet ===
        Set(("hasChild", "m1", "m2"), ("hasChild", "f1", "m2")))
      assert(sub.attrs.count() === 4) // m1 age+nickname, f1 age, m2 age
    }
    check(local = true)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> (kb.imageBytes.get - 1).toString) {
      check(local = false)
    }
    noBroadcast(check(local = false))
  }
}
