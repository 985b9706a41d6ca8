package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction}
import org.apache.spark.sql.functions._

/** The shingle kernels against the built-in-function plans they replaced,
  * kept here verbatim: the per-doc sorted distinct arrays
  * (`TextOps.shingleArrays`, the array side of every pair-level Jaccard)
  * and the position-ordered stream (`TextOps.shinglesAll`) must be
  * identical on a crawl corpus, long generated documents and non-ASCII
  * text, and neither plan may run a higher-order function. */
class ShingleSpec extends SparkSpec {
  import spark.implicits._

  /** the former shingleArrays: an interpreted lambda over substrings */
  private def hofArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      .select(col("doc_id"), expr(
        """array_sort(array_distinct(transform(sequence(1, length(t) - 2),
          |  i -> ascii(substring(t, i, 1)) * 961 + ascii(substring(t, i + 1, 1)) * 31
          |       + ascii(substring(t, i + 2, 1)))))""".stripMargin).as("hs"))

  /** the former shinglesAll: one substring per exploded position */
  private def substringStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - 2)).as("i"))
      .select(col("doc_id"), expr("substring(t, i, 3)").as("sh"))
      .select(col("doc_id"),
        (ascii(substring(col("sh"), 1, 1)) * 961 +
          ascii(substring(col("sh"), 2, 1)) * 31 +
          ascii(substring(col("sh"), 3, 1))).cast("long").as("h"))

  private def arrays(df: DataFrame): Map[Long, Seq[Int]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  private def stream(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def assertParity(docs: DataFrame): Unit = {
    val want = arrays(hofArrays(docs))
    assert(want.nonEmpty)
    assert(arrays(TextOps.shingleArrays(docs)) === want)
    assert(stream(TextOps.shinglesAll(docs)) === stream(substringStream(docs)))
  }

  /** a crawl-like corpus: 200 pages of 20–60 words (capitalized, mixed
    * case, digits, punctuation), every 10th page followed by an exact copy
    * and every 7th by a near copy (text + " x") */
  private lazy val crawl: DataFrame = {
    val rnd = new scala.util.Random(11)
    val words = Vector("the", "of", "and", "Berlin", "Paris", "was", "born", "in", "founded",
      "company", "located", "river", "1987", "capital", "works", "for", "University,", "city.")
    val pages = (0L until 200L).map { i =>
      (i, Seq.fill(20 + rnd.nextInt(41))(words(rnd.nextInt(words.size))).mkString(" ").capitalize)
    }
    (pages ++ pages.filter(_._1 % 10 == 0).map { case (i, t) => (i + 1000, t) }
      ++ pages.filter(_._1 % 7 == 0).map { case (i, t) => (i + 2000, t + " x") })
      .toDF("doc_id", "text")
  }

  /** pages of 100–850 words: mixed case, digits, punctuation */
  private lazy val longDocs: DataFrame = {
    val rnd = new scala.util.Random(5)
    val words = Vector("The", "crawl", "of", "graph", "Spark", "node", "edge", "2024",
      "html", "page,", "link.", "A", "knowledge", "base!", "IRI", "sampling")
    (0 until 16).map { i =>
      (i.toLong, Seq.fill(100 + 50 * i)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private lazy val exoticDocs: DataFrame = Seq(
    (1L, "Über die Straße"), (2L, "İstanbul İİ"), (3L, "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text 𝔘"),
    (4L, "😀😀😀 ok 😀"), (5L, "ΑΛΦΑ ß ẞ"), (6L, "ab"), (7L, "a"), (8L, ""),
    (9L, "😀x"), (10L, "abc"), (11L, null), (12L, "MiXeD cAsE ascii")
  ).toDF("doc_id", "text")

  test("shingle arrays and stream equal the higher-order plans on a crawl-like corpus") {
    assertParity(crawl)
  }

  test("shingle arrays and stream equal the higher-order plans on 100-850-word pages") {
    assertParity(longDocs)
  }

  test("shingle arrays and stream equal the higher-order plans on non-ASCII and short text") {
    assertParity(exoticDocs)
    // docs under 3 characters (and null text) have no row in either form
    assert(arrays(TextOps.shingleArrays(exoticDocs)).keySet === Set(1L, 2L, 3L, 4L, 5L, 10L, 12L))
  }

  test("plan guard: no lambda or transform in the shingle plans") {
    Seq(TextOps.shingleArrays(exoticDocs), TextOps.shinglesAll(exoticDocs)).foreach { df =>
      val plan = df.queryExecution.optimizedPlan
      val hof = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: LambdaFunction => e
        case e: ArrayTransform => e
      }))
      assert(hof.isEmpty, plan.treeString)
    }
  }
}
