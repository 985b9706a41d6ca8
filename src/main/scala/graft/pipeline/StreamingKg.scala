package graft.pipeline

import graft.core.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous KG construction: the batch pipeline's stages composed as ONE
  * Structured Streaming query over a stream of pages.
  *
  * Stage-by-stage streaming shape:
  *  - extract / mention detection: stateless typed `mapPartitions` /
  *    flatMap over the SAME pure kernels as batch ([[Extract.extractText]],
  *    [[Mentions.rules]]) — batch/stream extraction is byte-identical by
  *    construction;
  *  - entity linking: stream-static BroadcastHashJoin against the resolved
  *    alias dictionary ([[Link.resolveAliases]] — static, computed once at
  *    query start);
  *  - canonicalization: stream-static broadcast join against the
  *    connected-components canonical map ([[Canonicalize.canonicalMap]] —
  *    static; a production deployment would refresh it on a cadence and
  *    restart the query, the standard slowly-changing-dimension pattern);
  *  - triple dedup: the batch pipeline ends with a global `distinct()`;
  *    unbounded streams can't hold global state, so the stream dedups
  *    WITHIN the event-time watermark (`dropDuplicatesWithinWatermark` on
  *    (subj, pred, obj)) — exact within the lateness bound, and re-emitted
  *    far-apart duplicates fold at the idempotent sink / compaction, the
  *    standard streaming contract. Under Trigger.AvailableNow on a bounded
  *    backlog whose event times span less than the watermark delay it
  *    equals the batch distinct exactly (StreamingKgSpec proves parity).
  */
object StreamingKg {

  /** pagesStream(url, warc_ts, html, …) → streaming canonical triples
    * (subj, pred, obj). `delay` is the event-time lateness bound.
    * `canonicalMap` points the canonicalization stage at a prebuilt —
    * typically DURABLY STORED ([[Canonicalize.readDurableMap]]) — map
    * instead of recomputing connected components at query start; None
    * keeps the self-computed map. */
  def triples(pagesStream: DataFrame, aliases: DataFrame,
              delay: String = "10 minutes",
              canonicalMap: Option[DataFrame] = None): DataFrame = {
    val extracted = Extract.withTs(pagesStream)
    val mentions = Mentions.withTs(extracted).toDF()
    val linked = Link(mentions, aliases, keep = Seq("warc_ts"))
    Canonicalize(linked, aliases, keep = Seq("warc_ts"), mapOverride = canonicalMap)
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("subj", "pred", "obj")
      .select("subj", "pred", "obj")
  }

  /** NIL-preserving streaming link stage: the same stateless extract +
    * mention kernels and the same stream-static dictionary probes as
    * [[triples]]'s link stage, but LEFT ([[Link.withNils]]) — unlinkable
    * mentions mint their NIL cluster ids IN-STREAM. That is safe precisely
    * because [[Link.nilId]] is a pure function of the normalized surface:
    * batch and stream mint byte-identical ids, replayed micro-batches
    * re-mint the same id (idempotent at the sink), and no cross-batch
    * state is needed where a sequence-numbered NIL scheme would demand it.
    * Watermark-deduped on the id triple (the nil flags are functionally
    * determined by the ids, so any representative row carries them). */
  def linkedWithNils(pagesStream: DataFrame, aliases: DataFrame,
                     delay: String = "10 minutes"): DataFrame = {
    val mentions = Mentions.withTs(Extract.withTs(pagesStream)).toDF()
    Link.withNils(mentions, aliases, keep = Seq("warc_ts"))
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("subj_id", "pred", "obj_id")
      .select("subj_id", "pred", "obj_id", "subj_nil", "obj_nil")
  }

  /** [[linkedWithNils]] drained exactly once over a bounded backlog —
    * the [[runAvailableNow]] shape with the caller's (possibly thinned)
    * alias catalog. */
  def runNilAvailableNow(spark: SparkSession, pagesDir: String, outDir: String,
                         checkpointDir: String, aliases: DataFrame,
                         delay: String = "10 minutes"): DataFrame = {
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream.schema(schema).parquet(pagesDir)
    val q = linkedWithNils(stream, aliases, delay)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Drain a bounded pages backlog exactly once (Trigger.AvailableNow) into
    * a parquet sink; returns the sink read back. `dir` must hold a pages
    * table written as parquet (the file source replays it as a stream).
    *
    * `aliasesOverride` is the canonical-map REFRESH hook (the
    * slowly-changing-dimension pattern the stage doc above describes): stop
    * the query, call again with the updated dictionary and the SAME
    * checkpoint — the file source resumes from the checkpointed offset, so
    * only unprocessed pages link/canonicalize under the new dictionary and
    * nothing already emitted re-emits (StreamingKgSpec's refresh case
    * proves both). */
  def runAvailableNow(spark: SparkSession, pagesDir: String, outDir: String,
                      checkpointDir: String, delay: String = "10 minutes",
                      aliasesOverride: Option[DataFrame] = None,
                      canonicalMapOverride: Option[DataFrame] = None): DataFrame = {
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream.schema(schema).parquet(pagesDir)
    val q = triples(stream, aliasesOverride.getOrElse(Pages.aliases(spark)), delay,
      canonicalMapOverride)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Drain a bounded pages backlog into the MATERIALIZED graph store:
    * `foreachBatch` hands each micro-batch of canonical triples to
    * [[Materialize.merge]], so the store (edges/nodes/types under
    * `prefix`) is EXACTLY-ONCE even though foreachBatch's own delivery
    * contract is at-least-once — a batch replayed after a crash (or a
    * whole run replayed against a wiped checkpoint) re-merges as a no-op.
    * This closes the long-running-construction loop: the watermarked
    * dedup bounds duplicates within a batch window, and the merge's
    * store-level anti-join catches everything across batches, restarts,
    * and dictionary-refresh re-runs.
    *
    * Per-batch [[Materialize.MergeStats]] are appended to
    * `prefix/merge_lineage` (batch_id, new_edges, new_nodes,
    * recorded_at) — the streaming counterpart of [[Lineage.record]]'s
    * per-stage metrics: a replayed batch is visible as a (id, 0, 0) row,
    * and Σ new_edges reconciles against the store's edge count.
    *
    * Returns the store's edge table read back. */
  def runMergeAvailableNow(spark: SparkSession, pagesDir: String,
                           io: graft.core.ParquetTableIO, prefix: String,
                           checkpointDir: String, delay: String = "10 minutes",
                           aliasesOverride: Option[DataFrame] = None,
                           canonicalMapOverride: Option[DataFrame] = None): DataFrame = {
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream.schema(schema).parquet(pagesDir)
    val q = triples(stream, aliasesOverride.getOrElse(Pages.aliases(spark)), delay,
      canonicalMapOverride)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stats = Materialize.merge(io, prefix, batch)
        import spark.implicits._
        val row = Seq((batchId, stats.newEdges, stats.newNodes, java.time.Instant.now().toString))
          .toDF("batch_id", "new_edges", "new_nodes", "recorded_at")
        io.append(row.coalesce(1), s"$prefix/merge_lineage")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    io.read(s"$prefix/edges").select("src", "pred", "dst")
  }

  /** Streaming HOST-GRAPH maintenance — the web-graph quotient kept
    * current as the crawl streams in. Link extraction runs as a stateless
    * streaming stage (the same pure [[LinkGraph.extractLinks]] kernel as
    * batch — byte-identical per page); each micro-batch folds to its own
    * host-pair partial counts (one map-side-combinable aggregate over the
    * batch) appended under the batch id. Counts are ADDITIVE, so
    * exactly-once needs batch-id idempotence, not a global state store:
    * a replayed batch (crash, wiped checkpoint) is skipped when its
    * partition already exists, and the reader additionally collapses
    * identical replayed rows (`distinct` before the sum — the file source
    * replays a batch with identical content, so even a crash between the
    * existence check and the append cannot double-count). The store is
    * partitioned by batch_id: the replay check is partition pruning, and
    * a compaction job can fold old batches into one without changing the
    * reader. [[hostGraphFromStore]] then equals the batch
    * [[LinkGraph.hostGraph]] over the same pages exactly
    * (fe_stream_host_graph runs the batch oracle verbatim).
    *
    * Contract of the batch-id dedup (the standard foreachBatch recipe for
    * ADDITIVE sinks): sound for crash recovery (same checkpoint lineage —
    * a replayed id carries identical content) and for re-runs over input
    * the store has already fully drained (fe_stream_host_graph's wiped-
    * checkpoint pass). Draining NEW files must go through the live
    * checkpoint: wiping it after appending files re-numbers batches, and
    * a skipped colliding id would silently drop the new files' counts —
    * pair a wiped checkpoint with a fresh store prefix instead. The
    * content-keyed [[Materialize.merge]] sink has no such caveat; counts
    * are additive and admit no content key, hence the id-based contract. */
  def runHostGraphAvailableNow(spark: SparkSession, pagesDir: String,
                               io: graft.core.ParquetTableIO, prefix: String,
                               checkpointDir: String): DataFrame = {
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream.schema(schema).parquet(pagesDir)
    val links = LinkGraph.links(stream).toDF()
    val q = links.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val table = s"$prefix/host_counts"
        val seen = (io.exists(table) &&
            !io.read(table).filter(col("batch_id") === batchId).isEmpty) ||
          (io.exists(s"$prefix/compacted_ids") &&
            !io.read(s"$prefix/compacted_ids").filter(col("batch_id") === batchId).isEmpty)
        if (!seen)
          io.append(LinkGraph.hostGraph(batch).withColumn("batch_id", lit(batchId)),
            table, Seq("batch_id"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    hostGraphFromStore(io, prefix)
  }

  /** Streaming conflict resolution: the claim stream accumulates under
    * batch-id-idempotent appends (a crash replay or a wiped-checkpoint
    * re-run appends only unseen batch ids; identical replayed rows also
    * collapse under the reader's distinct), and TRUTH is recomputed over
    * the ACCUMULATED store after the drain — the canonical-map refresh
    * contract applied to source-trust voting. Recompute, not incremental:
    * the vote is a fixed-round iteration over ALL claims, and a per-batch
    * trust update would change its semantics (late evidence must be able
    * to flip any earlier winner). */
  def runTruthAvailableNow(spark: SparkSession, pagesDir: String,
                           io: graft.core.ParquetTableIO, prefix: String,
                           checkpointDir: String, rounds: Int = 2): DataFrame = {
    val aliases = Pages.aliases(spark)
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream.schema(schema).parquet(pagesDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val table = s"$prefix/claims"
        val seen = io.exists(table) &&
          !io.read(table).filter(col("batch_id") === batchId).isEmpty
        if (!seen)
          io.append(KgPipeline.claimsOf(batch, aliases).withColumn("batch_id", lit(batchId)),
            table, Seq("batch_id"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    truthFromStore(io, prefix, rounds)
  }

  /** Current truth table from the accumulated claim store. */
  def truthFromStore(io: graft.core.ParquetTableIO, prefix: String,
                     rounds: Int = 2): DataFrame =
    Truth.resolve(io.read(s"$prefix/claims")
      .select("src", "subj", "pred", "obj").distinct(), rounds)

  /** Current host graph from the per-batch partial-count store: distinct
    * (replay-identical rows collapse) → one sum aggregate. */
  def hostGraphFromStore(io: graft.core.ParquetTableIO, prefix: String): DataFrame =
    io.read(s"$prefix/host_counts")
      .select("batch_id", "src_host", "dst_host", "n_links").distinct()
      .groupBy("src_host", "dst_host")
      .agg(sum(col("n_links")).as("n_links"))

  /** Fold the per-batch partials into ONE batch (id −1, never a live
    * foreachBatch id) — the maintenance pass that keeps the store O(hosts²)
    * instead of O(batches · hosts²) on a long-running stream. The reader is
    * unchanged; batch-id idempotence for FUTURE batches is unaffected
    * because compaction preserves the set of already-applied ids in
    * `compacted_ids` (a replayed old id must still be skipped — folding it
    * away would let a crash replay double-count). Returns the compacted
    * row count. */
  def compactHostCounts(io: graft.core.ParquetTableIO, prefix: String): Long = {
    val table = s"$prefix/host_counts"
    val ids = io.read(table).select(col("batch_id")).distinct()
      .filter(col("batch_id") >= 0)
    val prevIds =
      if (io.exists(s"$prefix/compacted_ids"))
        io.read(s"$prefix/compacted_ids").unionAll(ids).distinct()
      else ids
    // pinned: the overwrite below replaces its own input scan
    val folded = Pin(hostGraphFromStore(io, prefix)
      .withColumn("batch_id", lit(-1L))
      .select("src_host", "dst_host", "n_links", "batch_id"))
    val keep = Pin(prevIds).df
    io.write(keep, s"$prefix/compacted_ids")
    io.write(folded.df, table, Seq("batch_id"))
    folded.rows
  }
}
