package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RDF collection (rdf:List) flattening — the KG-construction step that
  * turns the triple encoding of ordered collections (owl:unionOf /
  * owl:intersectionOf operand lists, SHACL sh:in value lists, schema.org
  * itemListElement chains) back into (head, position, member) rows a
  * relational engine can join on.
  *
  * A list is the standard cons encoding: each CELL carries one
  * `rdf:first` member edge and one `rdf:rest` successor edge, terminated
  * by `rdf:nil`. The naive per-hop walk is O(L) sequential joins for a
  * length-L list — the same scale-killer redirect chains have, and the
  * same fix applies: positions are recovered with Wyllie pointer
  * doubling ([[graft.pipeline.Redirects.resolveChains]]) over the
  * REVERSED rest relation, so every cell resolves to its head cell with
  * an exact hop count in ⌈log₂ L⌉+1 self-equi-join rounds, whatever the
  * list lengths are. idx = hops from the head (0-based).
  *
  * Well-formedness is validated up front with targeted errors instead of
  * silent garbage: a cell with two members or two successors, a shared
  * tail (two cells whose rest points at the SAME cell — the one shape
  * the reversed relation cannot represent functionally), or a cyclic
  * rest chain all raise. Cells reachable only through such defects never
  * reach the output.
  */
object RdfLists {

  /** Flatten every list in `triples` (subj, pred, obj) to
    * `(head, idx, member)` — one row per cell, `idx` 0-based from the
    * head cell, `member` the cell's `rdf:first` object. Cells lacking a
    * member edge contribute no row (an rdf:rest spine without firsts is
    * legal RDF, just memberless). */
  def flatten(triples: DataFrame,
              firstPred: String = "rdf:first",
              restPred: String = "rdf:rest",
              nil: String = "rdf:nil"): DataFrame = {
    val first = Pin(triples.filter(col("pred") === firstPred)
      .select(col("subj").as("cell"), col("obj").as("member"))).df
    val rest = Pin(triples.filter(col("pred") === restPred)
      .select(col("subj"), col("obj"))).df

    val multiFirst = first.groupBy("cell").count()
      .filter(col("count") > 1).limit(1).collect()
    require(multiFirst.isEmpty,
      s"malformed rdf:List: cell '${multiFirst.headOption.map(_.get(0)).orNull}' " +
        "has multiple rdf:first members")
    val multiRest = rest.groupBy("subj").count()
      .filter(col("count") > 1).limit(1).collect()
    require(multiRest.isEmpty,
      s"malformed rdf:List: cell '${multiRest.headOption.map(_.get(0)).orNull}' " +
        "has multiple rdf:rest successors")

    // reversed rest relation: successor cell → its predecessor. Chains
    // terminate at the head (a head cell is never an rdf:rest object).
    // resolveChains' own functionality check is exactly the shared-tail
    // check (two cells resting on the same successor), re-raised with a
    // list-specific message.
    val rev = rest.filter(col("obj") =!= nil)
      .select(col("obj").as("src"), col("subj").as("dst"))
    val resolved =
      try graft.pipeline.Redirects.resolveChains(rev)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            "malformed rdf:List: shared tail (two cells' rdf:rest point at " +
              s"the same cell) — ${e.getMessage}", e)
      }
    val cyc = resolved.filter(col("cyclic")).limit(1).collect()
    require(cyc.isEmpty,
      s"malformed rdf:List: cyclic rdf:rest chain through cell " +
        s"'${cyc.headOption.map(_.get(0)).orNull}'")

    // heads: cells that are nobody's successor (idx 0); every other cell
    // carries (head = chain target, idx = exact hop count)
    val nonHead = resolved.select(col("src").as("cell"),
      col("target").as("head"), col("hops").cast("int").as("idx"))
    val heads = first.select(col("cell"))
      .join(rev.select(col("src").as("cell")), Seq("cell"), "left_anti")
      .select(col("cell"), col("cell").as("head"), lit(0).as("idx"))
    heads.unionAll(nonHead).join(first, Seq("cell"))
      .select(col("head"), col("idx"), col("member"))
  }
}
