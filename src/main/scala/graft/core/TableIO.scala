package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftTypes
import org.apache.spark.sql.types.{DataType, StructType}

/** Table persistence abstraction (SURVEY §4.4). The production design
  * targets Iceberg tables (`df.writeTo(...).partitionedBy(...)`), but the
  * sandbox ships no Iceberg runtime jar (BASELINE.md notes the
  * substitution) — so the contract is a trait with a partitioned-parquet
  * implementation now and an Iceberg binding as a drop-in later.
  *
  * A table's layout is fixed by the write that creates it: `write` commits
  * the table's read schema, `append` rejects a frame whose read schema
  * differs from it (before writing any file) and never changes it, and
  * `read` plans against it, with no schema-inference job.
  */
trait TableIO {
  def write(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit
  def read(table: String): DataFrame
  def exists(table: String): Boolean
}

/** Partitioned-parquet implementation with optional salting for skewed
  * write keys (north_rule: "salting for skewed head entities"). The read
  * schema is committed after the data, as JSON in the table directory's
  * [[ParquetTableIO.Marker]]. A table without one (an older build's, or a
  * write that died before its commit) gets the inferring read, and
  * appends to it are not checked; an append that creates a table commits
  * its schema like `write`. */
final class ParquetTableIO(spark: SparkSession, baseDir: String) extends TableIO {
  import ParquetTableIO._

  private def path(table: String) = s"$baseDir/$table"

  private def put(df: DataFrame, table: String, partitionBy: Seq[String], mode: String): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(table))
  }

  override def write(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    put(df, table, partitionBy, "overwrite")
    commit(path(table), df, partitionBy)
  }

  override def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    val st = readSchema(df, partitionBy)
    committed(path(table)).filter(_ != st).foreach { c =>
      throw new IllegalArgumentException(
        s"append to $table: read schema ${st.simpleString} differs from the committed ${c.simpleString}")
    }
    val fresh = !exists(table)
    put(df, table, partitionBy, "append")
    if (fresh) commit(path(table), df, partitionBy)
  }

  /** Salted write: adds the [[ParquetTableIO.salted]] column so one hot key
    * cannot produce a single giant task/file downstream. */
  def writeSalted(df: DataFrame, table: String, saltKey: String,
                  partitionBy: Seq[String] = Nil): Unit =
    write(salted(df, saltKey), table, partitionBy)

  override def read(table: String): DataFrame = scan(spark, path(table))

  override def exists(table: String): Boolean = Files.exists(Paths.get(path(table)))

  /** Persist a whole Kb as four partitioned tables. */
  def writeKb(kb: Kb, prefix: String): Unit = {
    write(kb.nodes, s"$prefix/nodes")
    writeSalted(kb.edges, s"$prefix/edges", saltKey = "dst", partitionBy = Seq("pred"))
    write(kb.attrs, s"$prefix/attrs", partitionBy = Seq("prop"))
    write(kb.types, s"$prefix/types", partitionBy = Seq("cls"))
  }

  def readKb(prefix: String, tbox: Tbox): Kb = Kb(
    nodes = read(s"$prefix/nodes"),
    edges = read(s"$prefix/edges").select("src", "pred", "dst"),
    attrs = read(s"$prefix/attrs").select("node", "prop", "lexical", "dtype"),
    types = read(s"$prefix/types").select("node", "cls"),
    tbox = tbox)
}

object ParquetTableIO {

  /** File name of a directory's committed read schema; `_`-prefixed, so
    * parquet reads skip it. [[graft.pipeline.Lineage]] stages reuse it. */
  val Marker = "_GRAFT_DONE"

  /** Salt buckets of a salted table. */
  val Salts = 16

  /** `df` plus `salt = xxhash64(saltKey) % Salts`, the layout of every
    * salted table (the graph store salts its edges on `dst`). */
  def salted(df: DataFrame, saltKey: String): DataFrame =
    df.withColumn("salt", pmod(xxhash64(col(saltKey)), lit(Salts)).cast("int"))

  /** The schema a parquet read of `df` written partitioned by `partitionBy`
    * reports: every field nullable (`GraftTypes.asNullable`), the data
    * columns first, then the partition columns in `partitionBy` order with
    * the types they were written with. */
  private def readSchema(df: DataFrame, partitionBy: Seq[String]): StructType = {
    val st = GraftTypes.asNullable(df.schema)
    StructType(st.filterNot(f => partitionBy.contains(f.name)) ++ partitionBy.map(st(_)))
  }

  private def marker(dir: String) = Paths.get(dir, Marker)

  def isCommitted(dir: String): Boolean = Files.exists(marker(dir))

  /** Commit the read schema of `df`, written to `dir` partitioned by
    * `partitionBy`. The JSON goes to a `_`-prefixed temp file that is then
    * renamed over the marker, so a crash leaves the previous marker or
    * none, never a truncated one. */
  def commit(dir: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    val tmp = Files.createTempFile(d, Marker, ".tmp")
    Files.write(tmp, readSchema(df, partitionBy).json.getBytes(UTF_8))
    Files.move(tmp, marker(dir), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** None without a marker, or with an older build's empty one. */
  private def committed(dir: String): Option[StructType] =
    try {
      val json = new String(Files.readAllBytes(marker(dir)), UTF_8)
      if (json.isEmpty) None else Some(DataType.fromJson(json).asInstanceOf[StructType])
    } catch { case _: NoSuchFileException => None }

  /** `dir` read against its committed schema, else by inference. */
  def scan(spark: SparkSession, dir: String): DataFrame =
    committed(dir).fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
}
