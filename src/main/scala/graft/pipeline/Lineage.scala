package graft.pipeline

import graft.core.ParquetTableIO
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-stage checkpoint + lineage metrics (north_rule resumability):
  * every pipeline stage persists its output as a parquet checkpoint and
  * appends lineage rows — per-file row counts plus a stage-total row
  * carrying an order-independent content checksum. A completed stage
  * (marker + checkpoint present) is never recomputed on resume —
  * `stage()` short-circuits to a scan. The stage is committed the way
  * every `ParquetTableIO` table is: data, then lineage rows, then the
  * `ParquetTableIO.Marker` holding the stage's read schema, so that scan
  * (and the read-back after the write) is planned without a
  * schema-inference job; an empty marker, written by an older build,
  * falls back to the inferring read. The lineage table itself is a
  * `ParquetTableIO` table under `baseDir`, appended through
  * `TableIO.append`.
  *
  * The checksum is Σ xxhash64(row) over all columns — independent of
  * partitioning and row order, so it is stable across parallelism levels
  * and makes cross-run output drift detectable. It is computed ON the
  * write pass (`observe` / CollectMetrics piggybacks on the job that
  * materializes the checkpoint): the stage output — which can carry the
  * raw html column — is never re-read for metrics. Per-file rows come
  * from a zero-data-column scan afterwards (parquet footer row counts,
  * no page decode), so total lineage overhead is O(files), not O(data).
  *
  * Lineage table layout: one row per written file (`rows` populated,
  * `checksum` null) + one `file = '_total_'` row per stage (total rows +
  * the stage checksum). Σ per-file rows == the total row's rows — an
  * integrity equation consumers can assert; aggregating consumers filter
  * `file <> '_total_'`.
  */
object Lineage {

  /** marker value of the stage-total lineage row's `file` column */
  val TotalFile = "_total_"

  def stagePath(baseDir: String, name: String) = s"$baseDir/stage=$name"
  private val LineageTable = "lineage"
  def lineagePath(baseDir: String) = s"$baseDir/$LineageTable"

  def isDone(baseDir: String, name: String): Boolean =
    ParquetTableIO.isCommitted(stagePath(baseDir, name))

  /** Run (or resume) a checkpointed stage. */
  def stage(spark: SparkSession, baseDir: String, name: String)
           (build: => DataFrame): DataFrame = {
    val path = stagePath(baseDir, name)
    if (!isDone(baseDir, name)) {
      val src = build
      val cols = src.columns.map(col)
      val obs = Observation(s"lineage_${name}_${System.nanoTime()}")
      // per-row term bounded < 1e9 so the ANSI-mode sum cannot overflow
      // int64 before ~9e9 rows per stage; coalesce covers empty stages
      val metrics = Seq(count(lit(1)).as("rows"),
        coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L))
          .as("checksum"))
      src.observe(obs, metrics.head, metrics.tail: _*)
        .write.mode("overwrite").parquet(path)
      val m = obs.get
      record(spark, baseDir, name,
        m("rows").asInstanceOf[Long], m("checksum").asInstanceOf[Long])
      ParquetTableIO.commit(path, src)
    }
    ParquetTableIO.scan(spark, path)
  }

  /** The lineage table's layout (see the object doc). */
  val LineageSchema: StructType = StructType(Seq(
    StructField("stage", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("checksum", LongType, nullable = true),
    StructField("recorded_at", StringType, nullable = false)))

  /** Append the stage's lineage rows: per-file row counts + the `_total_`
    * row carrying the write-pass checksum. Per-file rows come straight
    * from the parquet FOOTER metadata on the driver (the row counts are
    * in every file's footer; O(files) metadata reads, no Spark job), over
    * every data file under the stage directory — partitioned or nested
    * output included. Σ per-file rows == `totalRows` is the consumers'
    * integrity equation, so it is checked here: a mismatch (a lost or
    * foreign file in the stage directory) fails the write instead of
    * landing inconsistent lineage. */
  def record(spark: SparkSession, baseDir: String, name: String,
             totalRows: Long, checksum: Long): Unit = {
    val ts = java.time.Instant.now().toString
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(stagePath(baseDir, name))
    val fs = dir.getFileSystem(conf)
    // the files a parquet read of the stage sees: no component of the path
    // below the stage directory is hidden (`_temporary`, `.crc`, markers)
    val root = fs.makeQualified(dir).toUri.getPath
    val files = fs.listFiles(dir, true)
    val dataFiles = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(root).split('/').filter(_.nonEmpty)
        rel.last.endsWith(".parquet") && rel.forall(c => !c.startsWith("_") && !c.startsWith("."))
      }.toSeq
    val perFileRows: Seq[org.apache.spark.sql.Row] = dataFiles.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val rows = try reader.getRecordCount finally reader.close()
      org.apache.spark.sql.Row(name, st.getPath.toString, rows,
        null.asInstanceOf[java.lang.Long], ts)
    }
    val footerRows = perFileRows.map(_.getLong(2)).sum
    if (footerRows != totalRows)
      throw new IllegalStateException(s"stage $name: parquet footers under $dir " +
        s"hold $footerRows rows but the write pass counted $totalRows")
    val all = perFileRows :+
      org.apache.spark.sql.Row(name, TotalFile, totalRows, checksum, ts)
    new ParquetTableIO(spark, baseDir).append(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(all).asJava), LineageSchema)
      .coalesce(1), LineageTable)
  }

  def read(spark: SparkSession, baseDir: String): DataFrame =
    new ParquetTableIO(spark, baseDir).read(LineageTable)

  /** Per-stage totals from the `_total_` rows (rows + content checksum). */
  def totals(spark: SparkSession, baseDir: String): DataFrame =
    read(spark, baseDir).filter(col("file") === TotalFile)
      .select(col("stage"), col("rows"), col("checksum"))
}
