package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What a workload sees of the running benchmark. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val workDir: String, val cores: Int) {
  def span[A](name: String)(f: => A): A = tracer.span(name)(f)
  /** `rel` under the work dir, emptied */
  def fresh(rel: String): String = {
    val p = s"$workDir/$rel"
    Bench.deleteTree(new java.io.File(p))
    p
  }
}

/** Op outcome recorder of one round: times every op (inside an `op.<name>`
  * span, the parent of the layer spans the op opens), runs its output check
  * outside the timed region, and counts failures. */
final class Recorder(tracer: Tracer) {
  val opSec = mutable.ArrayBuffer.empty[Double]
  val opNames = mutable.ArrayBuffer.empty[String]
  val latencySec = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var items = 0L
  var checkSec = 0.0
  /** latency samples of named steps inside ops, for the report */
  val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def note(name: String, sec: Double): Unit =
    notes.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += sec

  /** Time `work`, then apply `check` to its result (None = correct). An
    * exception in either counts as a failed op. `latency` marks ops that
    * are the workload's user-facing request. */
  def op[A](name: String, latency: Boolean = false)(work: => A)(check: A => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$name")(work)) catch { case e: Exception => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    opSec += sec
    opNames += name
    if (latency) latencySec += sec
    val c0 = System.nanoTime()
    val problem = res match {
      case Left(e) => Some(s"threw $e")
      case Right(a) => try check(a) catch { case e: Exception => Some(s"check threw $e") }
    }
    checkSec += (System.nanoTime() - c0) / 1e9
    problem.foreach { p =>
      failed += 1
      System.err.println(s"[graftbench] op $name failed: $p")
    }
  }
}

trait Workload {
  /** the report's names for `op_p50_s` and `items_per_s` in this workload */
  def latencyName: String
  def itemsName: String

  /** Generate this seed's inputs and load them (once per run). */
  def setup(ctx: Ctx): Unit
  /** Write the inputs of round `r` (untimed). */
  def prepareRound(ctx: Ctx, r: Int): Unit = ()
  /** Run round `r`'s fixed op list. */
  def runRound(ctx: Ctx, r: Int, rec: Recorder): Unit
}

object Bench {
  val P = 1000000007L

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Order-independent (rows, checksum) of a frame: Σ xxhash64(row) mod P,
    * doubles rounded to 9 places first. One job. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType.typeName == "double") bround(col(f.name), 9) else col(f.name)
    }
    val r = df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(P)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** nearest-rank percentile */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
}
