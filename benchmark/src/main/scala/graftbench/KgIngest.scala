package graftbench

import graft.core.ParquetTableIO
import graft.dedup.Dedup
import graft.pipeline.{KgPipeline, Lineage, Materialize}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** kg_ingest — the construction user. Crawl segments land one at a time;
  * each is probed for near-duplicates against the crawl store's LSH index
  * (`Dedup.incrementNearDup`), sent through the five pipeline stages one by
  * one into a fresh checkpoint dir, and merged into one graph store that
  * lives for the whole run (`Materialize.merge`). Set-up builds the crawl
  * store and its LSH index, and ingests a base crawl into the graph store,
  * so that every timed merge appends to a store that already holds edges.
  * A round is: one new segment (half of it re-crawls the previous
  * delivery's pages, which are already in the graph store, half is fresh,
  * plus planted exact and near copies of crawl-store pages), an exact
  * replay of that segment, and one batch `Dedup.minhashLsh` over the crawl
  * store. */
final class KgIngest(storeDocs: Int, pages: Int, copies: Int) extends Workload {
  import KgIngest._

  private var io: ParquetTableIO = _
  private var store: DataFrame = _
  private var index: DataFrame = _
  private var storePairs = Set.empty[(Long, Long)]
  private var base = 0L
  /** doc-id range of the last delivery's never-seen pages */
  private var prevIds = (0L, 0L)
  /** doc ids of every page delivered so far */
  private var delivered: DataFrame = _
  private var segment: Segment = _

  def latencyName = "segment_p50_s"
  def itemsName = "pages_per_s"

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    base = 1000000L * (1 + java.lang.Math.floorMod(ctx.seed * 0x9E3779B97F4A7C15L, 1000L))
    io = new ParquetTableIO(spark, ctx.fresh("graph"))
    // the crawl store: pages already crawled, with within-store plants —
    // an exact copy of every page hashed to 0 mod 20, a near copy of every
    // page hashed to 10 mod 20
    val orig = Gen.documents(ctx.seed, Gen.idRange(spark, 0, storeDocs), MinWords, MaxWords)
      .select("doc_id", "text")
    val which = Gen.bucket(ctx.seed, 81, col("doc_id"), 20)
    val planted = orig.filter(which === 0)
      .select((col("doc_id") + ExactOffset).as("doc_id"), col("text"))
      .unionAll(orig.filter(which === 10)
        .select((col("doc_id") + NearOffset).as("doc_id"), concat(col("text"), lit(" x"))))
    val dir = ctx.fresh("crawl_store")
    orig.unionAll(planted).write.parquet(dir)
    store = spark.read.parquet(dir).cache()
    store.count()
    storePairs = planted.select("doc_id").collect().map(_.getLong(0)).map { id =>
      (if (id >= NearOffset) id - NearOffset else id - ExactOffset, id)
    }.toSet
    index = ctx.span("dedup.index") {
      val idx = Dedup.lshIndex(store).cache()
      idx.count()
      idx
    }
    // the base crawl lands the way a segment does (near-dup probe,
    // pipeline, merge into the graph store), which also runs those code
    // paths once before the first timed op; the first segment re-crawls
    // half of it
    prevIds = (base, base + pages)
    val ids = Gen.idRange(spark, base, base + pages)
    val baseDir = ctx.fresh("base")
    Gen.documents(ctx.seed, ids, SegMinWords, SegMaxWords).write.parquet(s"$baseDir/documents.parquet")
    Dedup.incrementNearDup(store, index,
      spark.read.parquet(s"$baseDir/documents.parquet").select("doc_id", "text"), Threshold).collect()
    Materialize.merge(io, "store", runPipeline(ctx, baseDir, ctx.fresh("ck_base")))
    delivered = ids.localCheckpoint()
  }

  override def prepareRound(ctx: Ctx, r: Int): Unit = {
    val spark = ctx.spark
    // half of the previous delivery's fresh pages re-crawled, the rest never seen
    val fresh0 = base + (1 + r.toLong) * 2 * pages
    val ids = Gen.idRange(spark, prevIds._1, prevIds._2)
      .filter(Gen.bucket(ctx.seed, 61 + r, col("doc_id"), 2) === 0)
      .unionAll(Gen.idRange(spark, fresh0, fresh0 + pages / 2))
    // planted copies of store pages under new ids: the first half exact,
    // the second half near (text + " x")
    val src = store.filter(col("doc_id") < storeDocs)
      .orderBy(xxhash64(lit(ctx.seed), lit(r), col("doc_id")), col("doc_id"))
      .limit(copies).collect().map(row => (row.getLong(0), row.getString(1)))
    val copyRows = src.zipWithIndex.map { case ((id, text), j) =>
      (fresh0 + pages + j, if (j < copies / 2) text else text + " x", id)
    }
    val dir = ctx.fresh(s"seg_$r")
    Gen.documents(ctx.seed, ids, SegMinWords, SegMaxWords)
      .unionAll(spark.createDataFrame(copyRows.map(c => (c._1, c._2)).toSeq).toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("copy").as("source"),
          length(col("text")).cast("long").as("n_chars")))
      .write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val segIds = docs.select("doc_id")
    val (rows, sum) = Bench.fingerprint(expectedTriples(segIds))
    // what the merge must append: the triples and nodes of every delivery
    // so far, minus those of the deliveries before this segment
    val now = delivered.unionAll(segIds).distinct().localCheckpoint()
    def sizes(d: DataFrame): (Long, Long) = {
      val t = expectedTriples(d).localCheckpoint()
      (t.count(), Materialize.nodesOf(t).count())
    }
    val (e0, n0) = sizes(delivered)
    val (e1, n1) = sizes(now)
    segment = Segment(dir, docs.count().toInt, rows, sum, Materialize.MergeStats(e1 - e0, n1 - n0),
      copyRows.map(c => (c._3, c._1)).toSet)
    delivered = now
    prevIds = (fresh0, fresh0 + pages / 2)
  }

  def runRound(ctx: Ctx, r: Int, rec: Recorder): Unit = {
    Seq(false, true).foreach { replay =>
      // the user-facing latency is a fresh segment's; a replay only reads the store
      rec.op(if (replay) "replay" else "segment", latency = !replay)(
        ingest(ctx, rec, segment, replay, s"r${r}_$replay")) { case (pairs, stats, ck) =>
        if (!replay) rec.items += segment.pages
        val lin = Lineage.totals(ctx.spark, ck).filter(col("stage") === "triples").head()
        if (!replay) ctx.tracer.count("pipeline.merge.append_ratio", stats.newEdges, lin.getLong(1))
        val expected = if (replay) Materialize.MergeStats(0, 0) else segment.appends
        if (stats != expected)
          Some(s"${if (replay) "replayed" else "fresh"} segment appended $stats, expected $expected")
        else if (lin.getLong(1) != segment.triples || lin.getLong(2) != segment.checksum)
          Some(s"triples lineage (${lin.getLong(1)}, ${lin.getLong(2)}) != expected " +
            s"(${segment.triples}, ${segment.checksum})")
        else if (replay) None
        else checkPairs(pairs, segment.planted)
      }
    }
    rec.op("batch") {
      ctx.span("dedup.batch") { Dedup.minhashLsh(store, Threshold).collect() }
    } { pairs => checkPairs(pairs, storePairs) }
  }

  /** pages → triples, stage by stage: a completed stage resumes from its
    * checkpoint, so each `run(upTo = s)` times stage s alone */
  private def runPipeline(ctx: Ctx, dir: String, ck: String): DataFrame = {
    var triples: DataFrame = null
    KgPipeline.stages.foreach { s =>
      triples = ctx.span(s"pipeline.$s") { KgPipeline.run(ctx.spark, dir, ck, upTo = s) }
    }
    triples
  }

  /** near-dup probe, then the pipeline, then merge */
  private def ingest(ctx: Ctx, rec: Recorder, seg: Segment, replay: Boolean,
                     tag: String): (Array[Row], Materialize.MergeStats, String) = {
    // a replay re-delivers a segment that was probed when it first landed
    val pairs =
      if (replay) Array.empty[Row]
      else {
        val t0 = System.nanoTime()
        val p = ctx.span("dedup.increment") {
          Dedup.incrementNearDup(store, index, seg.docs(ctx.spark), Threshold).collect()
        }
        rec.note("increment_p50_s", (System.nanoTime() - t0) / 1e9)
        p
      }
    val ck = ctx.fresh(s"ck_$tag")
    val triples = runPipeline(ctx, seg.dir, ck)
    val stats = ctx.span("pipeline.merge") { Materialize.merge(io, "store", triples) }
    (pairs, stats, ck)
  }
}

object KgIngest {
  val Threshold = 0.8
  val MinWords = 80
  val MaxWords = 140
  val SegMinWords = 20
  val SegMaxWords = 60
  val ExactOffset = 10000000L
  val NearOffset = 20000000L

  final case class Segment(dir: String, pages: Int, triples: Long, checksum: Long,
                           appends: Materialize.MergeStats, planted: Set[(Long, Long)]) {
    def docs(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
  }

  /** The canonical triple set of a page set, from doc ids alone: entity
    * k = id mod 97 (canonical id entA_k), city id mod 31, org id mod 13
    * (even ids), country id mod 7 (ids divisible by 3). */
  def expectedTriples(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    d.select(concat(lit("entA_"), id % 97).as("subj"), lit("bornIn").as("pred"),
        concat(lit("city_"), id % 31).as("obj"))
      .unionAll(d.filter(id % 2 === 0).select(concat(lit("entA_"), id % 97),
        lit("worksFor"), concat(lit("org_"), id % 13)))
      .unionAll(d.filter(id % 3 === 0).select(concat(lit("city_"), id % 31),
        lit("locatedIn"), concat(lit("country_"), id % 7)))
      .distinct()
  }

  /** every planted (original, copy) pair must be emitted, and no emitted
    * pair may sit below the threshold */
  def checkPairs(pairs: Array[Row], planted: Set[(Long, Long)]): Option[String] = {
    val emitted = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
    val missed = planted.filterNot(p => emitted(p) || emitted(p.swap))
    val low = pairs.count(_.getDouble(2) < Threshold)
    if (missed.nonEmpty) Some(s"${missed.size} of ${planted.size} planted near-dup pairs missed, e.g. ${missed.head}")
    else if (low > 0) Some(s"$low emitted near-dup pairs below threshold $Threshold")
    else None
  }
}
