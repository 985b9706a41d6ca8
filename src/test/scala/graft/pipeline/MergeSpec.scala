package graft.pipeline

import graft.SparkSpec
import graft.core.ParquetTableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once semantics of the incremental store merge
  * (`Materialize.merge`): replay is a no-op, batched construction equals a
  * from-scratch build over the union, and the nodes/types side-tables stay
  * consistent with the edge set throughout. */
class MergeSpec extends SparkSpec {

  private def triplesDf(rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("subj", "pred", "obj")
  }

  private def freshIo(): ParquetTableIO = {
    val dir = java.nio.file.Files.createTempDirectory("merge_spec_").toString
    new ParquetTableIO(spark, dir)
  }

  private def edgeSet(io: ParquetTableIO): Set[(String, String, String)] =
    io.read("kg/edges").select("src", "pred", "dst")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private val b1 = Seq(
    ("entA_1", "bornIn", "city_1"),
    ("entA_2", "bornIn", "city_1"),
    ("city_1", "locatedIn", "country_1"))
  private val b2 = Seq(
    ("entA_2", "bornIn", "city_1"),   // overlaps b1
    ("entA_3", "worksFor", "org_1"),
    ("city_2", "locatedIn", "country_1"))

  test("replaying a merged batch appends nothing") {
    val io = freshIo()
    val first = Materialize.merge(io, "kg", triplesDf(b1))
    assert(first.newEdges === 3L)
    val replay = Materialize.merge(io, "kg", triplesDf(b1))
    assert(replay === Materialize.MergeStats(0L, 0L))
    assert(edgeSet(io) === b1.toSet)
  }

  test("merge(b1); merge(b2) equals a from-scratch build over b1 ∪ b2") {
    val io = freshIo()
    Materialize.merge(io, "kg", triplesDf(b1))
    val second = Materialize.merge(io, "kg", triplesDf(b2))
    assert(second.newEdges === 2L) // the overlapping edge is not re-appended
    assert(edgeSet(io) === (b1 ++ b2).toSet)

    val scratch = freshIo()
    Materialize.merge(scratch, "kg", triplesDf(b1 ++ b2))
    assert(edgeSet(io) === edgeSet(scratch))
    assert(ids(io.read("kg/nodes")) === ids(scratch.read("kg/nodes")))
  }

  test("nodes and types stay consistent with the edge endpoints") {
    val io = freshIo()
    Materialize.merge(io, "kg", triplesDf(b1))
    Materialize.merge(io, "kg", triplesDf(b2))
    val endpoints = edgeSet(io).flatMap(e => Set(e._1, e._3))
    assert(ids(io.read("kg/nodes")) === endpoints)
    val types = io.read("kg/types").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types.keySet === endpoints)
    assert(types("entA_3") === "Entity")
    assert(types("city_2") === "City")
    assert(types("country_1") === "Country")
  }

  test("duplicate rows inside one batch are appended once") {
    val io = freshIo()
    val stats = Materialize.merge(io, "kg", triplesDf(b1 ++ b1))
    assert(stats.newEdges === 3L)
    assert(edgeSet(io) === b1.toSet)
  }

  test("appended edges carry the store's salt layout") {
    val io = freshIo()
    Materialize.merge(io, "kg", triplesDf(b1))
    Materialize.merge(io, "kg", triplesDf(b2))
    val bad = io.read("kg/edges")
      .filter(col("salt") =!= pmod(xxhash64(col("dst")), lit(ParquetTableIO.Salts)).cast("int"))
      .count()
    assert(bad === 0L)
  }

  // the store tables are read against their committed schemas, so a
  // replay merge runs no schema-inference job: 9 jobs with inferring
  // reads of edges and nodes, at most 7 without them
  test("a replay merge runs no schema-inference job") {
    val io = freshIo()
    Materialize.merge(io, "kg", triplesDf(b1))
    val (stats, jobs) = org.apache.spark.graftshim.JobCount(spark.sparkContext)(
      Materialize.merge(io, "kg", triplesDf(b1)))
    assert(stats === Materialize.MergeStats(0L, 0L))
    assert(jobs <= 7, s"replay merge ran $jobs jobs")
  }
}
