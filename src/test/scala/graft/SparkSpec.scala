package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.getString(0)).toSet

  /** Run `body` with SQL conf overrides, restoring the previous values
    * after; build AND plan/collect inside `body` so the overrides apply. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Broadcast threshold -1: no join broadcasts on size, every pin is
    * over the envelope. */
  def noBroadcast[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Run `body` at the default threshold and again with nothing broadcast:
    * an operator with a driver form under the envelope and a Spark form
    * above it passes the same case on both. */
  def bothForms(body: => Unit): Unit = {
    body
    noBroadcast(body)
  }
}
