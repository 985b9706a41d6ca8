package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, key), so
  * the same seed always yields byte-identical inputs, at any parallelism.
  * The engine only ever sees what these functions write. */
object Gen {

  /** 2048 lower-case pseudo-words of 5 to 8 letters, fixed for all seeds.
    * No digits and no capitals: body text can never match an alias surface
    * ("Ent 7", "city 3") of the pipeline's mention rules. */
  val Vocab: Seq[String] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Int = { x = x * 6364136223846793005L + 1442695040888963407L; ((x >>> 33) & 0x7fffffff).toInt }
    Iterator.continually {
      val len = 5 + next() % 4
      (0 until len).map(_ => ('a' + next() % 26).toChar).mkString
    }.distinct.take(2048).toSeq
  }

  private def h(seed: Long, salt: Int, key: Column): Column =
    xxhash64(lit(seed), lit(salt), key)

  /** non-negative hash bucket in [0, n) */
  def bucket(seed: Long, salt: Int, key: Column, n: Long): Column =
    pmod(h(seed, salt, key), lit(n))

  /** Seeded word-bag text of `minWords` to `maxWords` words. */
  def text(seed: Long, salt: Int, key: Column, minWords: Int, maxWords: Int): Column = {
    val vocab = typedLit(Vocab)
    val n = bucket(seed, salt, key, (maxWords - minWords + 1).toLong) + lit(minWords)
    array_join(transform(sequence(lit(1L), n), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), lit(salt), key, i), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
  }

  private val Langs = typedLit(Seq("en", "en", "en", "de", "fr", "es", "zh"))

  /** documents(doc_id, text, lang, source, n_chars) for the given ids — the
    * layout of the engine's `documents.parquet` input. The text of a doc id
    * depends on (seed, doc_id) only, so a page re-crawled in a later segment
    * carries the same bytes. */
  def documents(seed: Long, ids: DataFrame, minWords: Int, maxWords: Int): DataFrame =
    ids.select(col("doc_id"), text(seed, 1, col("doc_id"), minWords, maxWords).as("text"))
      .select(col("doc_id"), col("text"),
        element_at(Langs, (bucket(seed, 2, col("doc_id"), 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), bucket(seed, 3, col("doc_id"), 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))

  def idRange(spark: SparkSession, from: Long, until: Long, parts: Int = 4): DataFrame =
    spark.range(from, until, 1, parts).select(col("id").as("doc_id"))

  /** TPC-H-shaped tables (only the columns the KG derivation reads) at
    * `sf` relative to TPC-H scale factor 1, written as `<name>.parquet`
    * under `dir`. Foreign keys are seeded hashes, so every seed yields a
    * different graph of the same size. */
  def tpch(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    def pick(salt: Int, key: Column, xs: Seq[String]): Column =
      element_at(typedLit(xs), (bucket(seed, salt, key, xs.size.toLong) + 1).cast("int"))
    def money(salt: Int, key: Column, lo: Long, hi: Long): Column =
      (bucket(seed, salt, key, hi - lo) + lit(lo)) / lit(100.0)
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(2).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    write(spark.range(0, 5, 1, 1).select(id.cast("int").as("r_regionkey"),
      concat(lit("REGION_"), id).as("r_name")), "region")
    write(spark.range(0, 25, 1, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")), "nation")
    write(spark.range(0, nCust, 1, 2).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      bucket(seed, 11, id, 25).cast("int").as("c_nationkey"),
      money(12, id, -99999, 999999).as("c_acctbal"),
      pick(13, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "customer")
    write(spark.range(0, nSupp, 1, 1).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      bucket(seed, 21, id, 25).cast("int").as("s_nationkey"),
      money(22, id, -99999, 999999).as("s_acctbal")), "supplier")
    write(spark.range(0, nPart, 1, 2).select(id.as("p_partkey"),
      concat_ws(" ", pick(31, id, Seq("small", "red", "blue", "large", "steel", "green")),
        pick(32, id, Seq("ring", "widget", "bolt", "gear", "panel", "valve"))).as("p_name"),
      concat(lit("Brand#"), bucket(seed, 33, id, 25) + 1).as("p_brand"),
      pick(34, id, Seq("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")).as("p_type"),
      (bucket(seed, 35, id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")), "part")
    write(spark.range(0, nOrd, 1, 2).select(id.as("o_orderkey"),
      bucket(seed, 41, id, nCust).as("o_custkey"),
      pick(42, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(43, id, 100000, 50000000).as("o_totalprice"),
      (lit(java.sql.Timestamp.valueOf("1992-01-01 00:00:00")) +
        make_interval(lit(0), lit(0), lit(0), bucket(seed, 44, id, 2400).cast("int"))).as("o_orderdate"),
      pick(45, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "orders")
    write(spark.range(0, nLine, 1, 2).select(
      bucket(seed, 51, id, nOrd).as("l_orderkey"),
      bucket(seed, 52, id, nPart).as("l_partkey"),
      bucket(seed, 53, id, nSupp).as("l_suppkey")), "lineitem")
  }
}
