package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lineage rows over a PARTITIONED stage directory: the footer listing must
  * reach the files under `key=value/` subdirectories (a flat listing sees
  * none of them), Σ per-file rows must equal the write pass's count, and a
  * count that the footers do not add up to fails the write. */
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
}
