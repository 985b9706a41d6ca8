package graft.lp

import graft.core.{Determinism, Kb}
import org.apache.spark.sql.functions._

/** The reference's learning-problem JSON format
  * (examples/learning_problems/&lt;kb&gt;_lp.json, consumed by
  * evaluation_table_generator.py:125-146):
  * `{data_path, lp1: {<concept>: {positive_examples, negative_examples}}}`
  * with full IRIs. Loader + the eval harness's sample-trimming semantics,
  * so a reference user's evaluation workflow runs on this engine unchanged
  * (minus the external concept learner itself).
  */
object LpJson {

  private def frag(iri: String): String = {
    val i = iri.lastIndexOf('#')
    if (i >= 0) iri.substring(i + 1) else iri
  }

  /** Parse an LP file → (data_path, concept → Lp in file order). IRIs are
    * reduced to fragments, matching the ids OwlXml.read produces for the
    * same ontology. Driver-side: LP files are example-list-sized. */
  def load(path: String): (String, Seq[(String, Lp)]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    val dataPath = Option(root.get("data_path")).map(_.asText()).getOrElse("")
    val lp1 = root.get("lp1")
    import scala.jdk.CollectionConverters._
    val lps = lp1.fields().asScala.map { e =>
      def ids(field: String): Seq[String] =
        Option(e.getValue.get(field)).toSeq
          .flatMap(_.elements().asScala.map(n => frag(n.asText())).toSeq)
      e.getKey -> Lp(ids("positive_examples"), ids("negative_examples"))
    }.toSeq
    (dataPath, lps)
  }

  /** The eval harness's trim: drop examples removed by sampling
    * (evaluation_table_generator.py:131-138); if NO positive survives,
    * fall back to half of the sampled individuals as positives with an
    * empty negative set (:139-142 `random.sample(inds, len(inds)/2)` —
    * here the deterministic seeded order, same cardinality). Pos/neg are
    * LP-scale (driver-sized): membership is ONE IN-set filter of the
    * sampled node set, collected back at LP scale. */
  def restrictToSample(lp: Lp, sampled: Kb, seed: Long = 42L): Lp = {
    val examples = lp.pos ++ lp.neg
    val surviving: Set[String] =
      if (examples.isEmpty) Set.empty
      else sampled.nodes.filter(col("id").isInCollection(examples))
        .select(col("id")).collect().map(_.getString(0)).toSet
    // preserve the input's relative order (reference keeps set semantics;
    // deterministic order is strictly stronger)
    val posOrdered = lp.pos.filter(surviving)
    if (posOrdered.nonEmpty) {
      Lp(posOrdered, lp.neg.filter(surviving))
    } else {
      val n = sampled.nodes.count()
      val half = sampled.nodes
        .orderBy(Determinism.detHash(seed ^ 0x1F, col("id")), col("id"))
        .limit((n / 2).toInt)
        .collect().map(_.getString(0)).toSeq
      Lp(half, Nil)
    }
  }
}
