package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The catalog-size gate on the canonicalization joins (VERDICT r3 #1):
  * while the pinned canonical map fits the broadcast threshold it
  * broadcasts; above it (forced with a threshold of -1) the join is a
  * SALTED shuffle-hash — both paths must return identical rows, and the
  * plan shapes must actually differ (a silent fall-through to an
  * unconditional broadcast is exactly the scale bug being gated). */
class SaltedJoinSpec extends SparkSpec {

  private def linked = {
    import spark.implicits._
    // a skewed fact side: one head entity (Ent 12's id) dominates
    (Seq.tabulate(60)(i => (s"u$i", "entA_12", "bornIn", s"city_${i % 7}")) ++
      Seq(("u100", "entB_12", "bornIn", "city_1"),
        ("u101", "entA_3", "worksFor", "org_2")))
      .toDF("url", "subj_id", "pred", "obj_id")
  }

  private def canonExpected: Set[(String, String, String)] =
    (Seq.tabulate(60)(i => ("entA_12", "bornIn", s"city_${i % 7}")) ++
      Seq(("entA_12", "bornIn", "city_1"), ("entA_3", "worksFor", "org_2"))).toSet

  test("broadcast and salted paths agree; plans differ as gated") {
    // Pages.aliases already catalogs the city_*/org_* object entities
    val aliases = Pages.aliases(spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val small = Canonicalize(linked, aliases) // default threshold: broadcast
    assert(rows(small) === canonExpected)
    val smallPlan = small.queryExecution.executedPlan.toString
    val bigPlan = noBroadcast {
      val big = Canonicalize(linked, aliases, saltBuckets = 4)
      assert(rows(big) === canonExpected)
      big.queryExecution.executedPlan.toString
    }
    assert(smallPlan.contains("BroadcastHashJoin"),
      "small-catalog path must broadcast the canonical map")
    assert(bigPlan.contains("ShuffledHashJoin"),
      "big-catalog path must shuffle-hash the salted map join")
    assert(!bigPlan.contains("BroadcastHashJoin"),
      "big-catalog path must not broadcast the catalog")
  }

  test("fuzzy canonicalization gates its alias-attachment joins the same way") {
    val aliases = Pages.aliases(spark)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val bc = m(Canonicalize.fuzzyCanonicalMap(aliases, threshold = 0.9, alsoExactKey = true))
    val sh = noBroadcast {
      m(Canonicalize.fuzzyCanonicalMap(aliases, threshold = 0.9, alsoExactKey = true))
    }
    assert(bc === sh)
  }
}
