package graft.text

import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine BPE tokenizer training (Sennrich, Haddow & Birch, ACL 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * word-count formulation every production trainer (SentencePiece,
  * HuggingFace tokenizers) uses:
  *
  *  1. ONE corpus-scale pass aggregates the corpus into a (word, cnt)
  *     table (map-side combinable groupBy — the only stage that ever
  *     touches corpus-sized data).
  *  2. The merge loop then runs over that DISTINCT-WORD table, which is
  *     vocabulary-sized (Heaps' law: sublinear in corpus size — ~10⁹ rows
  *     at 100 TB, trivially distributed). Each iteration is one
  *     explode-adjacent-pairs + groupBy-sum + TakeOrdered(1) to pick the
  *     most frequent symbol pair, and one pure map to splice the merge
  *     into the segmentations. The per-iteration words table is
  *     pinned, which truncates it, so neither lineage nor expression
  *     depth grows with the merge count.
  *
  * Segmentations are separator-delimited strings with LEADING AND TRAILING
  * separators ("low"), so a pair (x, y) occurs as
  * the substring SEP+x+SEP+y+SEP and merge application is string
  * replacement — the exact dialect DuckDB shares, making the whole train
  * cycle oracle-replayable byte-for-byte.
  *
  * Merge-application semantics: repeated replace-all passes to the
  * FIXPOINT (no occurrence of SEP+x+SEP+y+SEP remains). A single
  * replace-all pass can leave occurrences behind only where consecutive
  * occurrences share a boundary separator (…x·y·x·y… — the first match
  * consumes the shared '·'); each pass merges at least one occurrence, and
  * a word of ≤ [[MaxWordLen]] = 32 symbols holds ≤ 16 occurrences of any
  * single pair, so [[FixpointPasses]] = 16 nested replaces PROVABLY reach
  * the fixpoint. (This is deliberately fixpoint, not the leftmost-greedy
  * scan some trainers use: fixpoint is expressible identically in Spark
  * and the SQL oracle; on boundary-sharing chains the two can pair
  * differently, but both are deterministic total functions of the input —
  * parity, not a particular pairing, is the contract.)
  *
  * Training words are filtered to 1..32 chars not containing the
  * separator. Real trainers impose the same kind of cap (a pre-tokenizer
  * splits long runs); at 100 TB the cap also bounds the per-row work of
  * every pass. All selection is totally ordered (count DESC, lhs ASC,
  * rhs ASC) — identical merges at any parallelism, any engine.
  */
object Bpe {

  /** symbol separator inside segmentation strings (U+001F UNIT SEPARATOR;
    * words containing it are excluded from training) */
  val Sep = ""
  /** training words are capped at this many characters (= initial symbols) */
  val MaxWordLen = 32
  /** nested replace-all passes per merge application — sufficient for the
    * fixpoint at [[MaxWordLen]] symbols (≤ 16 occurrences of one pair) */
  val FixpointPasses = 16

  /** one learned merge: `rank`-th pick (1-based), pair (lhs, rhs), and the
    * corpus-weighted pair count at selection time */
  final case class Merge(rank: Int, lhs: String, rhs: String, cnt: Long)

  /** trained state: the ordered merge list plus the words table with its
    * final segmentations (word, cnt, seg) — the encode dictionary */
  final case class Model(merges: Seq[Merge], words: DataFrame)

  /** The corpus-scale pass: (word, cnt) for training-eligible words. Texts
    * follow the corpus single-space contract (see [[TextOps.tokenCount]]). */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")).between(1, MaxWordLen) &&
        !col("word").contains(Sep))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** initial segmentation: every character its own symbol */
  private def initSeg(word: Column): Column =
    concat(lit(Sep), regexp_replace(word, "(.)", "$1" + Sep))

  /** [[FixpointPasses]] replace-all passes of SEP+x+SEP+y+SEP → SEP+xy+SEP
    * (plain-string `replace`, the exact function the oracle runs) */
  private def applyMerge(seg: Column, x: String, y: String): Column = {
    val pat = Sep + x + Sep + y + Sep
    val rep = Sep + x + y + Sep
    // the contains guard lets rows without the pair skip all passes
    val folded = (1 to FixpointPasses).foldLeft(seg)((c, _) =>
      call_function("replace", c, lit(pat), lit(rep)))
    when(seg.contains(pat), folded).otherwise(seg)
  }

  /** adjacent symbol pairs of `seg` (leading/trailing empties trimmed),
    * weighted by the word count: rows (x, y, cnt) */
  private def pairsOf(words: DataFrame): DataFrame =
    words
      .withColumn("l", split(col("seg"), Sep, -1))
      // l = ["", s1, …, sn, ""]; adjacent pairs are (l[i], l[i+1]) for
      // i ∈ [2, len−2] in 1-based terms — element_at is 1-based like the
      // oracle's list indexing. Single-symbol words (size 3) are filtered
      // BEFORE the transform: sequence(2, 1) would generate a DESCENDING
      // range, not an empty one.
      .filter(size(col("l")) >= 4)
      .select(explode(expr(
        "transform(sequence(2, size(l) - 2), i -> struct(element_at(l, i) AS x, element_at(l, i + 1) AS y))"))
        .as("p"), col("cnt"))
      .select(col("p.x"), col("p.y"), col("cnt"))

  /** words-table row budget for the driver-side merge loop: below it the
    * collected (word, cnt, seg) table is ~hundreds of MB at most — well
    * inside the driver heap — and the k merges cost ZERO Spark jobs
    * instead of 2k driver-blocking jobs (pair-count + argmax per merge,
    * ~64k sequential job launches at a real 32k vocab). Above it the
    * distributed loop keeps the bounded-memory guarantee. */
  val DriverTrainMaxWords = 4000000L

  /** Train `k` merges over `docs`. Stops early when no adjacent pair
    * remains (every word fully merged).
    *
    * ONE corpus-scale pass aggregates the words table; the merge loop then
    * runs DRIVER-SIDE over the collected vocabulary when it fits
    * (`driverMaxWords` rows — the common case: vocabularies are Heaps'-law
    * sublinear in corpus size), eliminating the 2-jobs-per-merge chain
    * whose launch latency, not data volume, dominated training. The
    * distributed per-merge loop remains the above-gate fallback. Both
    * paths run the identical total-order pick (cnt DESC, then BINARY
    * string order — the order Spark and the SQL oracle share) and the
    * identical 16-pass fixpoint replace, so the merges, final
    * segmentations, vocab and encode surfaces are byte-equal
    * (BpeSpec proves the equality gate-forced both ways). */
  def train(docs: DataFrame, k: Int, textCol: String = "text",
            driverMaxWords: Long = DriverTrainMaxWords): Model = {
    require(k >= 1, s"k must be >= 1, got $k")
    val words0 = Pin(wordCounts(docs, textCol).withColumn("seg", initSeg(col("word"))))
    if (words0.rows <= driverMaxWords) trainLocal(words0.df, k)
    else trainDistributed(words0.df, k)
  }

  /** distributed merge loop (above-gate path): one pair-count + argmax job
    * and one pinned merge-apply job per merge */
  private def trainDistributed(words0: DataFrame, k: Int): Model = {
    var words = words0
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val best = pairsOf(words)
        .groupBy("x", "y").agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (x, y, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(rank, x, y, c)
        words = Pin(words.withColumn("seg", applyMerge(col("seg"), x, y))).df
        rank += 1
      }
    }
    Model(merges.result(), words)
  }

  /** BINARY string order (UTF-8 byte order = code-point order) — what
    * Spark's orderBy on strings and the oracle's ORDER BY both use;
    * java.lang.String.compareTo is UTF-16-unit order, which differs on
    * supplementary characters. */
  private def binCompare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length, b.length)
  }

  /** driver-side merge loop: the collected words table is mutated in place
    * through k merges with the exact arithmetic of the distributed path —
    * integer pair counts, (cnt DESC, binary x, binary y) pick,
    * contains-guarded [[FixpointPasses]]-pass literal replace */
  private def trainLocal(words0: DataFrame, k: Int): Model = {
    val spark = words0.sparkSession
    val rows = words0.select(col("word"), col("cnt"), col("seg")).collect()
    val word = rows.map(_.getString(0))
    val cnt = rows.map(_.getLong(1))
    val seg = rows.map(_.getString(2))
    val sepCh = Sep.charAt(0)
    // split(seg, Sep, -1) with a literal one-char separator
    def splitSep(s: String): Array[String] = {
      val out = Array.newBuilder[String]
      var from = 0
      var i = s.indexOf(sepCh)
      while (i >= 0) { out += s.substring(from, i); from = i + 1; i = s.indexOf(sepCh, from) }
      out += s.substring(from)
      out.result()
    }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      var i = 0
      while (i < seg.length) {
        val l = splitSep(seg(i))
        if (l.length >= 4) {
          var j = 1
          while (j <= l.length - 3) {
            val key = (l(j), l(j + 1))
            counts.merge(key, cnt(i), (a, b) => a + b)
            j += 1
          }
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bx: String = null; var by: String = null; var bc = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (x, y) = e.getKey
          val c = e.getValue
          if (c > bc || (c == bc && {
            val cx = binCompare(x, bx)
            cx < 0 || (cx == 0 && binCompare(y, by) < 0)
          })) { bx = x; by = y; bc = c }
        }
        merges += Merge(rank, bx, by, bc)
        val pat = Sep + bx + Sep + by + Sep
        val rep = Sep + bx + by + Sep
        var w = 0
        while (w < seg.length) {
          if (seg(w).contains(pat)) {
            var t = seg(w)
            var p = 0
            while (p < FixpointPasses) { t = t.replace(pat, rep); p += 1 }
            seg(w) = t
          }
          w += 1
        }
        rank += 1
      }
    }
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)
    val out = spark.createDataset(
      word.indices.map(i => (word(i), cnt(i), seg(i))).toSeq)(enc)
      .toDF("word", "cnt", "seg")
    Model(merges.result(), out)
  }

  /** the merge list as a DataFrame (rank, lhs, rhs, cnt) */
  def mergesDf(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    // merge_rank, not `rank`: RANK is a window keyword in SQL engines and a
    // bare column reference named rank can misparse in the oracle compare
    model.merges.map(m => (m.rank, m.lhs, m.rhs, m.cnt))
      .toDF("merge_rank", "lhs", "rhs", "cnt")
  }

  /** the subword vocabulary after training: every symbol of every final
    * segmentation, corpus-weighted (symbol, cnt) */
  def vocab(model: Model): DataFrame =
    model.words
      .withColumn("l", split(col("seg"), Sep, -1))
      .select(explode(expr("slice(l, 2, size(l) - 2)")).as("symbol"), col("cnt"))
      .groupBy("symbol").agg(sum(col("cnt")).as("cnt"))

  /** Encode: per-document subword token count under the trained model —
    * the standard dictionary-join encode (each doc word looks up its final
    * segmentation; token count = symbol count). The words side is the
    * MODEL — vocabulary-sized, the natural broadcast side of the join;
    * Spark's size gate picks broadcast at any realistic model size, and
    * the corpus side never shuffles before the per-doc aggregation.
    * Words outside the trained dictionary (over-cap or separator-bearing)
    * are dropped, mirroring the training filter. */
  def encodeTokenCounts(docs: DataFrame, model: Model,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .join(model.words.select(col("word"),
        (size(split(col("seg"), Sep, -1)) - 2).as("n")), Seq("word"))
      .groupBy(col(idCol)).agg(sum(col("n")).as("n_tokens"))

  // ---------------------------------------------------------------- oracle

  /** DuckDB replay of the full train cycle over a relation
    * `documents(doc_id, text)`: the same word counts, the same initial
    * segmentation, and per merge the same pair explode / total-order pick /
    * 16-pass fixpoint replace — emitted as a chained-CTE preamble ending
    * with CTEs `w$k` (final words) and `b1..b$k` (the picked merges).
    *
    * Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and each
    * `w$i` references `b$i` 32 times (two scalar subqueries per replace
    * pass) while `b$i` references `w${i-1}` — un-materialized, the chain
    * expands exponentially (~32^k scans of the corpus). */
  def oracleCtes(k: Int): String = {
    val rep = (e: String, i: Int) => (1 to FixpointPasses).foldLeft(e)((c, _) =>
      s"replace($c, (SELECT '$Sep' || x || '$Sep' || y || '$Sep' FROM b$i), " +
        s"(SELECT '$Sep' || x || y || '$Sep' FROM b$i))")
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT l[g.i] AS x, l[g.i + 1] AS y, cnt
         |  FROM (SELECT string_split(seg, '$Sep') AS l, cnt FROM w${i - 1}) t
         |  CROSS JOIN generate_series(2, ${MaxWordLen + 1}) g(i)
         |  WHERE g.i <= len(l) - 2),
         |b$i AS MATERIALIZED (
         |  SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS cnt FROM p$i
         |  GROUP BY x, y ORDER BY cnt DESC, x, y LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, cnt, ${rep("seg", i)} AS seg FROM w${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) BETWEEN 1 AND $MaxWordLen AND NOT contains(word, '$Sep')
       |  GROUP BY word),
       |w0 AS MATERIALIZED (SELECT word, cnt, '$Sep' || regexp_replace(word, '(.)', '\\1$Sep', 'g') AS seg FROM wc),
       |$iters""".stripMargin
  }
}
