package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lineage rows over a PARTITIONED stage directory: the footer listing must
  * reach the files under `key=value/` subdirectories (a flat listing sees
  * none of them), Σ per-file rows must equal the write pass's count, and a
  * count that the footers do not add up to fails the write. A done stage's
  * marker carries its read schema, so resuming it runs no job, and an empty
  * marker (an older build's) still resumes by inferring. */
class LineageSpec extends SparkSpec {

  private def partitionedStage(base: String, name: String): Long = {
    val df = spark.range(0, 50, 1, 3).select(col("id"), (col("id") % 4).as("k"))
    df.write.mode("overwrite").partitionBy("k").parquet(Lineage.stagePath(base, name))
    df.count()
  }

  test("record lists a partitioned stage recursively; per-file rows sum to the total") {
    val base = java.nio.file.Files.createTempDirectory("lineage").toString
    val rows = partitionedStage(base, "parted")
    Lineage.record(spark, base, "parted", rows, checksum = 7L)
    val lin = Lineage.read(spark, base).filter(col("stage") === "parted")
    val perFile = lin.filter(col("file") =!= Lineage.TotalFile)
    assert(perFile.count() >= 4, "every partition directory holds at least one file")
    assert(perFile.collect().forall(_.getAs[String]("file").contains("/k=")))
    assert(perFile.agg(sum(col("rows"))).head().getLong(0) === rows)
    val total = lin.filter(col("file") === Lineage.TotalFile).head()
    assert(total.getAs[Long]("rows") === rows && total.getAs[Long]("checksum") === 7L)
  }

  test("record fails when the footers do not sum to the write-pass count") {
    val base = java.nio.file.Files.createTempDirectory("lineage").toString
    val rows = partitionedStage(base, "short")
    val err = intercept[IllegalStateException] {
      Lineage.record(spark, base, "short", rows + 1, checksum = 0L)
    }
    assert(err.getMessage.contains(s"hold $rows rows"))
    assert(!new java.io.File(Lineage.lineagePath(base)).exists(),
      "a failed record must not append lineage rows")
  }

  /** non-nullable top-level, array-element and struct fields (a stage
    * cannot hold a map: the checksum hashes every column): the marker must
    * hold the nullable form a parquet read reports */
  private def nested = spark.range(0, 40, 1, 3).select(col("id"),
    array(col("id"), lit(1L)).as("arr"), struct(col("id").as("x"), lit("s").as("y")).as("st"),
    array(struct(col("id").as("x"))).as("as"), lit("c").as("c"))

  private def markerText(base: String, name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Lineage.stagePath(base, name), "_GRAFT_DONE")), "UTF-8")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("the done marker holds the read schema; resuming a done stage runs no job") {
    val base = java.nio.file.Files.createTempDirectory("lineage").toString
    val first = Lineage.stage(spark, base, "nested")(nested)
    val path = Lineage.stagePath(base, "nested")
    val inferred = spark.read.parquet(path).schema
    val carried = org.apache.spark.sql.types.DataType.fromJson(markerText(base, "nested"))
    assert(carried === inferred)
    assert(first.schema === inferred)
    val (resumed, jobs) = org.apache.spark.graftshim.JobCount(spark.sparkContext) {
      Lineage.stage(spark, base, "nested")(fail("a done stage must not be rebuilt"))
    }
    assert(jobs === 0)
    assert(resumed.schema === inferred)
    assert(rows(resumed) === rows(nested))
  }

  test("a stage dir with an empty marker resumes to the same rows") {
    val base = java.nio.file.Files.createTempDirectory("lineage").toString
    Lineage.stage(spark, base, "old")(nested)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(Lineage.stagePath(base, "old"), "_GRAFT_DONE"), Array.emptyByteArray)
    val resumed = Lineage.stage(spark, base, "old")(fail("a done stage must not be rebuilt"))
    assert(resumed.schema === spark.read.parquet(Lineage.stagePath(base, "old")).schema)
    assert(rows(resumed) === rows(nested))
  }
}
