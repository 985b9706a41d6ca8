package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** An undirected edge frame as one symmetric CSR over dense int ids — the
  * in-memory form of a [[Pinned]] graph that fits the broadcast envelope.
  *
  * `ids` holds every endpoint once, in [[Determinism.utf8Order]] (Spark's
  * string order), so comparing two dense ids IS comparing the strings as
  * Spark compares them: a `u < w` filter or a smallest-community tie break
  * replays on ints. Node `i`'s entries are `off(i) until off(i + 1)` of
  * `nbr` (the other endpoint) and `wt` (the row's weight). Every input row
  * `(u, v, w)` adds the entry u → v AND the entry v → u, so the CSR holds
  * exactly the rows of the `sym` union the Spark forms join against:
  * duplicate rows, both orientations of a pair and self-loops (two a → a
  * entries) keep their multiplicity.
  *
  * Flat primitive arrays rather than a map of neighbor lists: the
  * operators that replay on it (Louvain rounds, σ-BFS, wedge counts) scan
  * neighbor runs and index dense scratch arrays, which a contiguous layout
  * serves without pointer chasing (the layout trade the CAMEL hash table,
  * EDBT'26, measures against CPU cost). */
final class LocalGraph private (
    val ids: Array[String],
    val off: Array[Int],
    val nbr: Array[Int],
    val wt: Array[Long]) extends Serializable {

  def n: Int = ids.length

  def degree(i: Int): Int = off(i + 1) - off(i)

  /** the dense id of `id`, or -1 when it is no endpoint */
  def index(id: String): Int = {
    val key = UTF8String.fromString(id)
    var lo = 0
    var hi = ids.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = UTF8String.fromString(ids(mid)).binaryCompare(key)
      if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return mid
    }
    -1
  }

  /** Rows produced on the executors from a broadcast of this graph, pinned
    * there; the broadcast is destroyed before this returns. The frame is
    * an RDD scan whose checkpointed lineage no longer reads the broadcast,
    * and no row of it passes through the driver. */
  def pinTaskSide(spark: SparkSession, schema: StructType)(
      rows: Broadcast[LocalGraph] => RDD[Row]): DataFrame = {
    val bc = spark.sparkContext.broadcast(this)
    try Pin(spark.createDataFrame(rows(bc), schema)).df
    finally bc.destroy()
  }
}

object LocalGraph {

  /** Pin `df`, an undirected `(u, v)` frame with string endpoints and
    * weights from the long column `weight` (else 1), and when the pin fits
    * the broadcast envelope build its CSR from the rows that same job
    * brought back ([[Pin.withRows]]). No CSR when the pin does not fit or
    * the columns have other types — the caller keeps its Spark form over
    * the pin — nor when an endpoint or weight is null, whose join
    * semantics the Spark form owns. */
  def pin(df: DataFrame, weight: Option[String] = None): (Pinned, Option[LocalGraph]) = {
    val schema = df.schema
    val typed = schema("u").dataType == StringType && schema("v").dataType == StringType &&
      weight.forall(w => schema(w).dataType == LongType)
    if (!typed) return (Pin(df), None)
    val (p, rows) = Pin.withRows(df)
    val cols = (Seq("u", "v") ++ weight).map(schema.fieldIndex)
    val graph = rows.filterNot(_.exists(r => cols.exists(r.isNullAt))).map { rs =>
      build(rs.map(_.getString(cols(0))), rs.map(_.getString(cols(1))),
        if (weight.isDefined) rs.map(_.getLong(cols(2))) else Array.fill(rs.length)(1L))
    }
    (p, graph)
  }

  /** The one id dictionary of the driver forms: every distinct string of
    * `ids` once, in [[Determinism.utf8Order]], and each one's dense id.
    * Comparing two dense ids is then comparing the strings as Spark does. */
  def dictionary(ids: Array[String]): (Array[String], Map[String, Int]) = {
    val sorted = ids.distinct.map(s => (UTF8String.fromString(s), s))
      .sortWith((a, b) => a._1.binaryCompare(b._1) < 0).map(_._2)
    (sorted, sorted.iterator.zipWithIndex.toMap)
  }

  private def build(us: Array[String], vs: Array[String], ws: Array[Long]): LocalGraph = {
    val (ids, dense) = dictionary(us ++ vs)
    val (u, v) = (us.map(dense), vs.map(dense))
    val off = new Array[Int](ids.length + 1)
    for (i <- u.indices) { off(u(i) + 1) += 1; off(v(i) + 1) += 1 }
    for (i <- 1 to ids.length) off(i) += off(i - 1)
    val pos = off.clone()
    val nbr = new Array[Int](off(ids.length))
    val wt = new Array[Long](nbr.length)
    for (i <- u.indices) {
      val (a, b) = (u(i), v(i))
      nbr(pos(a)) = b; wt(pos(a)) = ws(i); pos(a) += 1
      nbr(pos(b)) = a; wt(pos(b)) = ws(i); pos(b) += 1
    }
    new LocalGraph(ids, off, nbr, wt)
  }
}
