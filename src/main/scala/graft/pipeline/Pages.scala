package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic Common-Crawl-style web-page table (BASELINE.json input_hint:
  * url string, warc_ts timestamp, html binary, text string, lang string),
  * derived deterministically from the driver's `documents` parquet so the
  * DuckDB oracle can reproduce every byte (FIXTURES.md F1).
  *
  * Each page embeds fact sentences whose entities/relations are pure
  * arithmetic in doc_id — the expected (subj, pred, obj) set is row-locally
  * computable, making the end-to-end triple P/R surface hash-checkable.
  * Entity surface forms alternate between two alias spellings ("Ent k" /
  * "Entity k") mapping to two distinct pre-canonical ids, so entity linking
  * AND canonicalization are genuinely exercised.
  *
  * The `<nav>` block additionally plants a deterministic hyperlink graph
  * (Common-Crawl's other first-class output, the web graph): a "hub" link
  * to doc (id % 97) — 97 hub pages with skewed in-degree, self-loops for
  * id < 97 —, a "next" link to doc id+1 — one long chain, dangling at the
  * crawl frontier —, and a "cdn" link to one of three external asset hosts
  * — cross-host edges for the host-level graph. Anchors live inside the
  * boilerplate nav, so the extracted `text` contract is untouched; see
  * [[LinkGraph]].
  */
object Pages {

  /** Fact-sentence columns, shared by html/text generation. */
  private def surfA = when(col("doc_id") % 5 < 2,
    concat(lit("Ent "), col("doc_id") % 97))
    .otherwise(concat(lit("Entity "), col("doc_id") % 97))

  private def facts =
    concat(
      surfA, lit(" was born in city "), col("doc_id") % 31, lit("."),
      when(col("doc_id") % 2 === 0,
        concat(lit(" "), surfA, lit(" works for org "), col("doc_id") % 13, lit("."))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" city "), col("doc_id") % 31, lit(" is located in country "),
          col("doc_id") % 7, lit("."))).otherwise(lit("")))

  /** pages table. `text` carries the boilerplate-stripped golden body —
    * the extractor's byte-identical contract target. */
  def fromDocuments(docs: DataFrame): DataFrame = {
    val body = concat(col("text"), lit(" "), facts)
    docs.select(
      concat(lit("https://ex.org/doc/"), col("doc_id")).as("url"),
      (lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")).cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
          col("doc_id").cast("decimal(18,6)"))).as("warc_ts"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><script>var x=1;</script></head><body>" +
          "<nav>Home | About | Contact | <a href=\"https://ex.org/doc/"),
        col("doc_id") % 97,
        lit("\">hub</a> <a href=\"https://ex.org/doc/"),
        col("doc_id") + 1,
        lit("\">next</a> <a href=\"https://cdn"),
        col("doc_id") % 3,
        lit(".ex-assets.net/p/"), col("doc_id"),
        lit("\">cdn</a></nav><p>"),
        body,
        lit("</p><footer>&copy; 2025 example.org</footer></body></html>")
      ).cast("binary").as("html"),
      body.as("text"),
      col("lang"))
  }

  /** `documents.parquet` is written outside the table layer and carries no
    * committed read schema, so it is read with the columns
    * [[fromDocuments]] consumes declared — no schema-inference job. */
  def fromDir(spark: SparkSession, dir: String): DataFrame =
    fromDocuments(spark.read.schema("doc_id bigint, text string, lang string")
      .parquet(s"$dir/documents.parquet"))

  /** Dictionary/alias candidate table: surface → candidate entity + score
    * (north_star: "dictionary/alias entity-link scoring as a broadcast-join
    * over a candidate table"). Includes an ambiguous surface (Ent 7) with a
    * losing low-score candidate. Driver-scale; broadcast at join sites. */
  def aliases(spark: SparkSession): DataFrame = {
    val rows =
      (0 to 96).flatMap(k => Seq(
        (s"Ent $k", s"entA_$k", 0.9),
        (s"Entity $k", s"entB_$k", 0.8))) ++
        (0 to 30).map(c => (s"city $c", s"city_$c", 1.0)) ++
        (0 to 12).map(o => (s"org $o", s"org_$o", 1.0)) ++
        (0 to 6).map(y => (s"country $y", s"country_$y", 1.0)) :+
        (("Ent 7", "entX_7", 0.3))
    spark.createDataFrame(rows).toDF("surface", "entity_id", "score")
  }

  /** Recrawl dedup — keep the NEWEST snapshot per CANONICAL url, the first
    * stage of any Common-Crawl-style ingest (the same page is fetched many
    * times across crawls; only the latest should enter extraction). The
    * dedup key is [[graft.text.Curation.urlNormCol]] (lowercased
    * scheme/host, default ports stripped, utm_* params and fragments
    * dropped), so `HTTPS://EX.ORG:443/a?utm_x=1` and `https://ex.org/a`
    * collapse to one page.
    *
    * Plan shape: ONE map-side-partial aggregate — the winner is
    * max(struct(warc_ts, url, payload…)) (struct comparison is
    * lexicographic: newest warc_ts wins, the raw url then the payload
    * break exact ties deterministically). Never a per-key window sort: a
    * hot url recrawled millions of times costs its reducer one struct of
    * state, not a sort — and the map side already collapses each
    * partition to one candidate per url. Output: url_norm + the input
    * columns of the winning snapshot. */
  def latestSnapshots(pages: DataFrame, urlCol: String = "url",
                      tsCol: String = "warc_ts"): DataFrame = {
    val payload = pages.columns.filterNot(c => c == urlCol || c == tsCol).toSeq
    val ordered = Seq(tsCol, urlCol) ++ payload
    pages
      .select(graft.text.Curation.urlNormCol(col(urlCol)).as("url_norm"),
        struct(ordered.map(col): _*).as("__snap"))
      .groupBy(col("url_norm"))
      .agg(max(col("__snap")).as("__snap"))
      .select(col("url_norm") +: ordered.map(c => col(s"__snap.$c")): _*)
  }

  /** DuckDB mirrors (kept adjacent to the generators so they cannot drift). */
  object Sql {
    val surfA = "CASE WHEN doc_id % 5 < 2 THEN 'Ent ' || (doc_id % 97) ELSE 'Entity ' || (doc_id % 97) END"
    val facts: String =
      s"""$surfA || ' was born in city ' || (doc_id % 31) || '.'
         | || CASE WHEN doc_id % 2 = 0 THEN ' ' || $surfA || ' works for org ' || (doc_id % 13) || '.' ELSE '' END
         | || CASE WHEN doc_id % 3 = 0 THEN ' city ' || (doc_id % 31) || ' is located in country ' || (doc_id % 7) || '.' ELSE '' END""".stripMargin.replace("\n", "")
    val body = s"text || ' ' || $facts"
    val url = "'https://ex.org/doc/' || doc_id"

    /** Full html reconstruction (byte-exact mirror of [[fromDocuments]]) —
      * shared by every oracle that needs html byte lengths. */
    val html: String =
      """'<html><head><title>Doc ' || doc_id || '</title><script>var x=1;</script></head><body>' ||
        |'<nav>Home | About | Contact | <a href="https://ex.org/doc/' || (doc_id % 97) ||
        |'">hub</a> <a href="https://ex.org/doc/' || (doc_id + 1) ||
        |'">next</a> <a href="https://cdn' || (doc_id % 3) || '.ex-assets.net/p/' || doc_id ||
        |'">cdn</a></nav><p>' || body ||
        |'</p><footer>&copy; 2025 example.org</footer></body></html>'"""
        .stripMargin.replace("\n", " ")
    val aliases: String =
      """SELECT 'Ent ' || k AS surface, 'entA_' || k AS entity_id, 0.9 AS score FROM generate_series(0, 96) t(k)
        |UNION ALL SELECT 'Entity ' || k, 'entB_' || k, 0.8 FROM generate_series(0, 96) t(k)
        |UNION ALL SELECT 'city ' || c, 'city_' || c, 1.0 FROM generate_series(0, 30) t(c)
        |UNION ALL SELECT 'org ' || o, 'org_' || o, 1.0 FROM generate_series(0, 12) t(o)
        |UNION ALL SELECT 'country ' || y, 'country_' || y, 1.0 FROM generate_series(0, 6) t(y)
        |UNION ALL SELECT 'Ent 7', 'entX_7', 0.3""".stripMargin
  }
}
