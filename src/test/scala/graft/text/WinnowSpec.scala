package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken window-min with
  * rightmost-min tiebreak) + the KGramHashes rolling-hash expression +
  * the Unicode fallback of the MinHash expression. */
class WinnowSpec extends SparkSpec {

  private val P = 2147483647L

  /** brute-force reference: polynomial k-gram hashes then per-window
    * rightmost-min selection. */
  private def bruteWinnow(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val cps = text.toLowerCase.codePoints().toArray
    val m = cps.length - k + 1
    if (m <= 0) return Set.empty
    val hs = (0 until m).map { i =>
      (0 until k).foldLeft(0L)((acc, j) => (acc * 31 + cps(i + j)) % P)
    }
    (0 to m - w).flatMap { t =>
      val win = (t until t + w).map(i => (hs(i), i))
      // minimal hash, rightmost position
      val sel = win.minBy { case (h, i) => (h, -i) }
      Some((sel._2.toLong, sel._1))
    }.toSet
  }

  test("winnow == brute-force window-min/rightmost selection") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", // all-equal hashes: rightmost-min tiebreak matters
      "abcabcabcabcabcabc", // periodic
      "short", // below k → no fingerprints
      "Mixed CASE Text with Repetitions repetitions REPETITIONS here")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextOps.winnow(docs, k = 8, w = 4)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val expect = bruteWinnow(t, 8, 4)
      assert(got.getOrElse(i.toLong, Set.empty) === expect, s"doc $i")
    }
  }

  test("winnow guarantee: matches of length ≥ w+k−1 share a fingerprint") {
    import spark.implicits._
    val shared = "zqxjkwvbn fingerprint core zone" // ≥ w+k−1 = 11 chars
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"totally different head $shared and tail")).toDF("doc_id", "text")
    val fp = TextOps.winnow(docs, k = 8, w = 4)
      .as[(Long, Long, Long)].collect()
    val h1 = fp.filter(_._1 == 1L).map(_._3).toSet
    val h2 = fp.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty)
  }

  test("KGramHashes rolling mod == direct polynomial (incl. non-ASCII)") {
    import spark.implicits._
    val texts = Seq("hello world rolling", "άλφα βήτα γάμμα δέλτα", "ÄÖÜ straße")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.expr.KGram.kgramHashes(col("text"), 8).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val cps = t.toLowerCase.codePoints().toArray
      val m = math.max(0, cps.length - 7)
      val expect = (0 until m).map { s =>
        (0 until 8).foldLeft(0L)((acc, j) => (acc * 31 + cps(s + j)) % P)
      }
      assert(got(i.toLong) === expect, s"doc $i")
    }
  }

  test("bpeishTokenCount == java.util.regex match count (contractions, unicode, runs)") {
    import spark.implicits._
    val texts = Seq(
      "it's the model's we've they're I'll don't",
      "hello,,, world!!! --- 42 3.14 x86_64",
      "Grüße über straße λόγος 日本語テキスト",
      "", "   ", "a", "mixed EN und DE avec FR 123")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.bpeishTokenCount(col("text")))
      .as[(Long, Long)].collect().toMap
    val p = java.util.regex.Pattern.compile(TextOps.BpeishPattern)
    texts.zipWithIndex.foreach { case (t, i) =>
      val m = p.matcher(t)
      var c = 0L
      while (m.find()) c += 1
      assert(got(i.toLong) === c, s"text=$t")
    }
  }

  test("MinHash expression matches the composable plan on non-ASCII text") {
    import spark.implicits._
    val docs = Seq((1L, "Grüße aus Köln"), (2L, "ΑΛΦΑΒΗΤΑΡΙ ΕΛΛΗΝΙΚΟ"),
      (3L, "plain ascii control"), (4L, "naïve café déjà vu"))
      .toDF("doc_id", "text")
    val viaExpr = docs.select(col("doc_id"),
        graft.expr.MinHash.minhashSig(col("text"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    // composable mirror: lower() + ascii(substring) code-point shingles,
    // built here from built-in functions so it shares no kernel with the
    // expression under test
    val aggs = (0 until 16).map(j =>
      min(pmod(col("h") * graft.dedup.Dedup.hashA(j) + graft.dedup.Dedup.hashB(j),
        lit(graft.dedup.Dedup.P))).as(s"m$j"))
    val viaPlan = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      .select(col("doc_id"), col("t"), explode(sequence(lit(1), length(col("t")) - 2)).as("i"))
      .select(col("doc_id"), expr("substring(t, i, 3)").as("sh"))
      .select(col("doc_id"),
        (ascii(substring(col("sh"), 1, 1)) * 961 +
          ascii(substring(col("sh"), 2, 1)) * 31 +
          ascii(substring(col("sh"), 3, 1))).cast("long").as("h"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    viaPlan.foreach { case (id, sig) => assert(viaExpr(id) === sig, s"doc $id") }
  }
}
