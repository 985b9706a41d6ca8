package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** A driver-held image of a [[Kb]]'s four fact tables — the in-memory form
  * of a cached KB whose tables together fit the broadcast envelope, so that
  * restricting it to a driver-held node set ([[Kb.restrictedTo]]) filters
  * rows on the driver instead of running a Spark job.
  *
  * Every table keeps its rows in collect order as one int column per
  * field: a node-id field (`id`, `src`, `dst`, `node`) indexes `keys`, any
  * other field indexes `values`, and -1 is null — each string is held once
  * per dictionary and no `Row` is retained. Held as `Row`s, the collected
  * tables of the benchmark's 3,750-node KB retain ~9 MB more heap than
  * this layout. */
final class KbImage private (
    keys: Array[String],
    keyIndex: java.util.HashMap[String, Integer],
    values: Array[String],
    tables: Seq[KbImage.Table]) {

  /** nodes, edges (src, pred, dst), attrs and types restricted to the nodes
    * `ids`, as local relations: a row survives when every node-id field
    * holds a kept node (an edge needs both endpoints). Rows come in table
    * order, the order in which a filter over the collected table keeps
    * them. */
  def restrictedTo(spark: SparkSession, ids: Iterator[Any]): Seq[DataFrame] = {
    val kept = new java.util.BitSet(keys.length)
    ids.foreach {
      case s: String => val k = keyIndex.get(s); if (k != null) kept.set(k)
      case _ => // a null id keeps nothing, as in an IN-set filter
    }
    def isKept(k: Int) = k >= 0 && kept.get(k)
    tables.map { t =>
      val keyCols = t.cols.indices.filter(t.isKey).map(t.cols)
      val rows = t.cols.head.indices.filter(r => keyCols.forall(c => isKept(c(r)))).map { r =>
        Row.fromSeq(t.cols.indices.map { c =>
          val s = t.cols(c)(r)
          if (s < 0) null else if (t.isKey(c)) keys(s) else values(s)
        })
      }
      Pin.local(spark, rows.toArray, t.schema)
    }
  }
}

object KbImage {

  /** One table: its schema, which fields hold node ids, and one
    * dictionary-id column per field. */
  private final class Table(val schema: StructType, val isKey: Array[Boolean], val cols: Array[Array[Int]])

  /** (table as the image holds it, its node-id fields) — edges in the
    * restriction's (src, pred, dst) order */
  private def layout(kb: Kb): Seq[(DataFrame, Seq[String])] = Seq(
    kb.nodes -> Seq("id"),
    kb.edges.select("src", "pred", "dst") -> Seq("src", "dst"),
    kb.attrs -> Seq("node"),
    kb.types -> Seq("node"))

  /** The four tables an image of `kb` holds, when every field is a string
    * and each table has its node-id fields; None otherwise. */
  def tables(kb: Kb): Option[Seq[DataFrame]] = {
    val l = layout(kb)
    val ok = l.forall { case (df, ks) =>
      df.schema.forall(_.dataType == StringType) && ks.forall(df.columns.contains)
    }
    if (ok) Some(l.map(_._1)) else None
  }

  /** Build the image of `kb` with one collect per table. */
  def apply(kb: Kb): KbImage = {
    val keyIndex = new java.util.HashMap[String, Integer]
    val valueIndex = new java.util.HashMap[String, Integer]
    val keys, values = Array.newBuilder[String]
    def intern(s: String, index: java.util.HashMap[String, Integer],
               strings: scala.collection.mutable.Builder[String, Array[String]]): Int =
      if (s == null) -1
      else {
        val i = index.get(s)
        if (i != null) i.intValue
        else { val n = index.size; index.put(s, n); strings += s; n }
      }
    val tables = layout(kb).map { case (df, ks) =>
      val isKey = df.schema.fieldNames.map(ks.contains)
      val rows = df.collect()
      val cols = Array.tabulate(isKey.length) { c =>
        if (isKey(c)) rows.map(r => intern(r.getString(c), keyIndex, keys))
        else rows.map(r => intern(r.getString(c), valueIndex, values))
      }
      new Table(df.schema, isKey, cols)
    }
    new KbImage(keys.result(), keyIndex, values.result(), tables)
  }
}
