package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 measurement harness (guide §1): the DECLARATIVE headline
  * queries from [[graft.Bench]], reproducible one at a time with
  *  - `plan` mode: `.explain("formatted")` dumped to
  *    plans/r06/<name>_<suffix>.txt (the judge's plan-claim evidence), and
  *  - `time` mode: warmup + best-of-N timed via the noop sink
  *    (computes every column, § 1.4) — isolates the computation from the
  *    count()-action plan pruning the frozen Bench uses.
  *
  * Driver-loop samplers (walk family, forest fire) have no single plan;
  * the benchmark's per-span job counts cover them. Bench.scala itself is frozen —
  * this is the extra-benchmark surface OPTIMIZATION_r06.md cites.
  *
  * Usage: runMain graft.tools.BenchExtra <plan|time> <suffix> [names...]
  */
object BenchExtra {

  def builders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "kg_triples" -> ((s, d) => graft.sources.TpchKg.load(s, d).triples),
    "ce_exists_nested" -> ((s, d) => graft.expr.Eval(graft.sources.TpchKg.load(s, d),
      graft.expr.Exists("placedBy", graft.expr.Exists("inNation",
        graft.expr.HasValue("inRegion", "r:2")))).toDF()),
    "td_dedup_minhash" -> ((s, d) => graft.dedup.Dedup.minhashLsh(
      graft.queries.TrainingDataQueries.corpus(s, d), 0.8)),
    "td_ann_topk" -> ((s, d) => graft.sim.Ann.bruteForceTopK(
      s.read.parquet(s"$d/embeddings.parquet"), 0L to 9L, 5)),
    "td_winnow" -> ((s, d) => graft.text.TextOps.winnow(
      s.read.parquet(s"$d/documents.parquet"))),
    "td_curation" -> ((s, d) => graft.queries.CurationQueries.curationFilter(s, d)),
    "td_sessionize" -> ((s, d) => graft.streaming.Sessions.sessionize(
      s.read.parquet(s"$d/events.parquet"), 30)),
    "td_semdedup" -> ((s, d) => graft.sim.Ann.semDedup(
      graft.queries.TrainingDataQueries.embCorpus(s, d), tau = 0.99)),
    "fe_host_graph" -> ((s, d) => graft.pipeline.LinkGraph.hostGraph(
      graft.pipeline.LinkGraph.links(
        graft.pipeline.Pages.fromDir(s, d)).toDF())),
    "kg_linkpred" -> ((s, d) => graft.sample.GraphMetrics.linkPredFeatures(
      graft.sample.GraphMetrics.undirected(
        graft.sources.TpchKg.load(s, d).edges, "contains"),
      maxZDeg = 32, minSupport = 2)),
    "fe_truth" -> ((s, d) => graft.queries.PipelineQueries.queries("fe_truth")(s, d)),
    "fe_jsonld" -> ((s, d) => graft.queries.PipelineQueries.queries("fe_jsonld")(s, d)),
    "kg_entity_summary" -> ((s, d) => graft.core.KgStats.entitySummaries(
      graft.sources.TpchKg.load(s, d).edges, 3)),
    "td_meta_blocking" -> ((s, d) => graft.queries.TrainingDataQueries
      .queries("td_meta_blocking")(s, d)),
    "kg_louvain" -> ((s, d) => graft.sample.Louvain.run(
      graft.sample.GraphMetrics.cooccurrence(
        graft.sources.TpchKg.load(s, d).edges, "contains"),
      rounds = 2)),
    "kg_spcounts" -> ((s, d) => graft.queries.KgQueries.queries("kg_spcounts")(s, d)),
    "smp_deepwalk_2k" -> ((s, d) => {
      val kb = graft.sources.TpchKg.load(s, d)
      val starts = kb.nodes.orderBy(xxhash64(col("id"))).limit(1000)
      graft.sample.DeepWalk.corpus(kb, starts, reps = 2, steps = 10)
    }),
    "pagerank_30" -> ((s, d) => graft.sample.PageRank.compute(
      graft.sources.TpchKg.load(s, d), iterations = 30)))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    val suffix = if (args.length > 1) args(1) else "now"
    val only: Set[String] = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_EXTRA_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sel = builders.filter { case (n, _) => only.isEmpty || only(n) }
    mode match {
      case "plan" =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r06"))
        sel.foreach { case (name, b) =>
          spark.sparkContext.setJobDescription(s"plan: $name")
          val df = b(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"plans/r06/${name}_$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[bench-extra] wrote plans/r06/${name}_$suffix.txt")
        }
      case _ =>
        sel.foreach { case (name, b) =>
          spark.sparkContext.setJobDescription(s"warmup: $name")
          b(spark, sfDir).write.format("noop").mode("overwrite").save()
          val times = (1 to runs).map { i =>
            spark.sparkContext.setJobDescription(s"time: $name pass $i")
            val t0 = System.nanoTime()
            b(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[bench-extra] $name%-20s best=${times.min}%7.3f s  " +
            times.map(t => f"$t%.3f").mkString("[", ", ", "]"))
        }
    }
    spark.stop()
  }
}
