package graft.core

import graft.SparkSpec
import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import scala.jdk.CollectionConverters._

/** `ParquetTableIO` commits each table's read schema when it writes the
  * table: a read plans against it and runs no job, an append must match
  * it, and a table without it (an older build's) still reads by inference. */
class TableIOSpec extends SparkSpec {

  private def fresh(): (ParquetTableIO, String) = {
    val dir = java.nio.file.Files.createTempDirectory("tableio_").toString
    (new ParquetTableIO(spark, dir), dir)
  }

  private def edges(rows: (String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "pred", "dst")
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private def files(dir: String): Set[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toString).toSet finally s.close()
  }
  private val b1 = edges(("a", "p", "b"), ("b", "p", "c"), ("a", "q", "c"))
  private val b2 = edges(("c", "q", "d"), ("d", "r", "a"))

  test("a salted table partitioned on pred reads back as inferred, in 0 jobs, after write and append") {
    val (io, dir) = fresh()
    io.writeSalted(b1, "e", saltKey = "dst", partitionBy = Seq("pred"))
    def check(expected: DataFrame): Unit = {
      val (df, jobs) = JobCount(spark.sparkContext)(io.read("e"))
      assert(jobs === 0)
      assert(df.schema === spark.read.parquet(s"$dir/e").schema)
      assert(df.columns.toSeq === Seq("src", "dst", "salt", "pred"))
      assert(rows(df) === rows(ParquetTableIO.salted(expected, "dst")
        .select("src", "dst", "salt", "pred")))
    }
    check(b1)
    io.append(ParquetTableIO.salted(b2, "dst"), "e", Seq("pred"))
    check(b1.unionAll(b2))
    assert(!files(dir).exists(_.endsWith(".tmp")), "the marker's temp file is renamed away")
  }

  test("an append creates a missing table with its schema committed") {
    val (io, _) = fresh()
    io.append(b1, "e", Seq("pred"))
    val (df, jobs) = JobCount(spark.sparkContext)(io.read("e"))
    assert(jobs === 0)
    assert(rows(df) === rows(b1.select("src", "dst", "pred")))
  }

  test("a table whose marker is deleted still reads the same rows") {
    val (io, dir) = fresh()
    io.write(b1, "e", Seq("pred"))
    val committed = rows(io.read("e"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "e", ParquetTableIO.Marker))
    val inferred = io.read("e")
    assert(inferred.schema === spark.read.parquet(s"$dir/e").schema)
    assert(rows(inferred) === committed)
  }

  test("an append whose read schema differs from the committed one throws; the table is unchanged") {
    val (io, dir) = fresh()
    io.write(b1, "e", Seq("pred"))
    val before = (files(s"$dir/e"), rows(io.read("e")))
    val wrongType = b2.withColumn("dst", lit(1L))
    val extraColumn = b2.withColumn("w", lit(1.0))
    val otherPartitioning = b2
    for ((df, parts) <- Seq((wrongType, Seq("pred")), (extraColumn, Seq("pred")),
                            (otherPartitioning, Nil))) {
      val err = intercept[IllegalArgumentException](io.append(df, "e", parts))
      assert(err.getMessage.contains("differs from the committed"))
      assert((files(s"$dir/e"), rows(io.read("e"))) === before)
    }
  }

  test("a long partition column reads back as long; inference makes it int") {
    val (io, dir) = fresh()
    val df = spark.range(0, 6, 1, 2).select(col("id").as("v"), (col("id") % 3).as("batch_id"))
    io.write(df, "t", Seq("batch_id"))
    assert(spark.read.parquet(s"$dir/t").schema("batch_id").dataType === IntegerType)
    val back = io.read("t")
    assert(back.schema("batch_id").dataType === LongType)
    assert(rows(back) === rows(df))
    io.append(df.withColumn("batch_id", lit(7L)), "t", Seq("batch_id"))
    assert(io.read("t").filter(col("batch_id") === 7L).count() === 6L)
  }
}
