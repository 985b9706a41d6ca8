package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark of record: one client in a closed loop on local[≤4].
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --keep <dir>
  *
  * `--work` holds the run's scratch files; `--keep` what outlives the run:
  * `spans/` (the spans of traced runs, one JSON object per line).
  *
  * Set-up runs once; then rounds of the workload's fixed op list until
  * `--seconds` have passed, at least [[MinRounds]]. The last
  * stdout line is the result JSON: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. */
object Main {

  val MinRounds = 1

  def workload(name: String): Workload = name match {
    case "kg_ingest" => new KgIngest(storeDocs = 400, pages = 1000, copies = 20)
    case "lp_sample" => new LpSample(sf = 0.002, Seq(
      ("rn", "RandomNodeSampler", 500),
      ("re", "RandomEdgeSampler", 500),
      ("rwj", "RandomWalkerJumpsSampler", 100),
      ("ff", "ForestFireSampler", 100),
      ("ff_lpc", "ForestFireSamplerLPCentralized", 100)),
      prIterations = 10, sourceEvery = 50)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** (span, counters) reported per layer; set-up spans are counted over
    * the set-up, the others per traced round. */
  val SetupSpans = Set("sources.load", "dedup.index")
  val Spans: Seq[String] = Seq(
    "pipeline.pages", "pipeline.extracted", "pipeline.mentions", "pipeline.linked",
    "pipeline.triples", "pipeline.merge",
    "sample.draw.rn", "sample.draw.re", "sample.draw.rwj", "sample.draw.ff", "sample.draw.ff_lpc",
    "sample.finalize", "lp.encode", "lp.fit", "lp.score",
    "sample.pagerank", "sample.louvain", "sample.spcounts", "sample.linkpred",
    "dedup.index", "dedup.increment", "dedup.batch", "sources.load")
  val NoTasks = Set("sources.load", "sample.finalize", "lp.encode", "lp.fit", "lp.score", "dedup.index")
  val GraphOps = Seq("sample.pagerank", "sample.louvain", "sample.spcounts", "sample.linkpred")
  val Ratios = Seq("pipeline.merge.append_ratio", "sample.draw.rwj.steps", "sample.draw.rwj.node_yield")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
                        keep: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"), m("keep"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.default.parallelism", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** old-generation bytes in use right after a full collection; the second
    * collection runs after Spark's cleaner has released what the first one
    * queued (unreferenced shuffles, broadcasts, cached blocks) */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** `phase`: "round" (measured), or with --trace 1 "plain" / "probe" —
    * the untraced and traced rounds that measure the tracing overhead */
  final case class Round(rec: Recorder, phase: String) {
    def wall: Double = rec.opSec.sum
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val wl = workload(opts.workload)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val tracer = new Tracer
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val marks = mutable.ArrayBuffer.empty[(String, Double)]
    def mark(what: String): Unit = marks += what -> (System.currentTimeMillis() - jvmStart) / 1e3
    val spark = session(cores, opts.work)
    val sessionSec = (System.nanoTime() - t0) / 1e9
    mark("session")
    if (opts.trace) tracer.attach(spark)
    val ctx = new Ctx(spark, tracer, opts.seed, opts.work, cores)

    tracer.phase = "setup"
    tracer.enabled = opts.trace
    val s0 = System.nanoTime()
    wl.setup(ctx)
    val setupSec = (System.nanoTime() - s0) / 1e9
    // process start to the point where the first timed op can start (the
    // heap probe below is the benchmark's own and is left out)
    val toFirstOp = (System.currentTimeMillis() - jvmStart) / 1e3
    var peakHeap = retainedHeapMb()
    mark("set-up")

    // Measured rounds follow the set-ups directly: most graft ops run at
    // the Spark job floor, so a separate warm-up round would cost as much
    // as the round it warms. With --trace 1 the measured round is traced;
    // then one untraced and one traced round measure the tracing overhead.
    val rounds = mutable.ArrayBuffer.empty[Round]
    val start = System.nanoTime()
    def round(phase: String): Unit = {
      val r = rounds.size
      wl.prepareRound(ctx, r)
      tracer.phase = phase
      tracer.enabled = opts.trace && phase != "plain"
      tracer.runId = r
      val rec = new Recorder(tracer)
      wl.runRound(ctx, r, rec)
      tracer.enabled = false
      rounds += Round(rec, phase)
      peakHeap = math.max(peakHeap, retainedHeapMb())
    }
    if (opts.trace) Seq("round", "plain", "probe").foreach(round)
    else while ((System.nanoTime() - start) / 1e9 < opts.seconds || rounds.size < MinRounds) round("round")
    tracer.drain()
    mark("rounds")
    if (opts.trace) tracer.write(new java.io.File(s"${opts.keep}/spans/${opts.workload}-${opts.seed}.jsonl"))

    val measured = rounds.filter(_.phase == "round")
    val attempted = rounds.map(_.rec.attempted).sum
    val failed = rounds.map(_.rec.failed).sum
    val lat = measured.flatMap(_.rec.latencySec).toSeq
    val walls = measured.map(_.wall).toSeq
    val e2e = Seq(
      ("setup_s", toFirstOp, "s"),
      ("wall_s", Bench.median(walls), "s"),
      ("op_p50_s", Bench.median(lat), "s"),
      ("items_per_s", measured.map(_.rec.items).sum / walls.sum, "1/s"),
      ("peak_heap_mb", peakHeap, "MB"))

    // human-readable report: every end-to-end metric with its spread
    println(f"workload ${opts.workload} seed ${opts.seed} cores $cores rounds ${rounds.size} " +
      f"(traced ${if (opts.trace) 2 else 0}) ops $attempted failed $failed " +
      f"fail_ratio ${failed.toDouble / attempted}%.4f")
    println(s"  timeline (s since JVM start): ${marks.map { case (w, t) => f"$w $t%.1f" }.mkString(", ")}; " +
      f"checks ${rounds.map(_.rec.checkSec).sum}%.1f s")
    println(f"  session start ${sessionSec}%.3f s, set-up ${setupSec}%.3f s, JVM start to first op ${toFirstOp}%.3f s")
    def ops(rec: Recorder) = rec.opNames.zip(rec.opSec).map { case (n, t) => f"$n $t%.2f" }.mkString(", ")
    rounds.foreach(r => println(s"  ${r.phase} ${ops(r.rec)}"))
    println(f"  op latency p50 ${Bench.median(lat)}%.4f s  p90 ${Bench.pct(lat, 0.9)}%.4f s  max ${lat.max}%.4f s  n ${lat.size}")
    println(f"  round wall p50 ${Bench.median(walls)}%.4f s  max ${walls.max}%.4f s  n ${walls.size}")
    e2e.foreach { case (n, v, u) => println(f"  $n%-20s $v%.4f $u") }
    // the same numbers under the workload's own names, and named steps
    println(f"  ${wl.latencyName}%-20s ${Bench.median(lat)}%.4f s")
    println(f"  ${wl.itemsName}%-20s ${measured.map(_.rec.items).sum / walls.sum}%.4f 1/s")
    measured.flatMap(_.rec.notes).groupBy(_._1).foreach { case (n, xs) =>
      println(f"  $n%-20s ${Bench.median(xs.flatMap(_._2).toSeq)}%.4f s")
    }
    println(f"  fail_ratio           ${failed.toDouble / attempted}%.4f")

    val metrics =
      if (!opts.trace) e2e
      else layerMetrics(tracer, rounds.toSeq, cores)
    if (opts.trace) metrics.foreach { case (n, v, u) => if (v != 0.0) println(f"  $n%-36s $v%.4f $u") }
    def finite(v: Double) = !v.isNaN && !v.isInfinite
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (finite(v)) v else 0.0}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val correct = failed == 0 && metrics.forall { case (_, v, _) => finite(v) }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    spark.stop()
  }

  /** Per-layer metrics of the measured round (and the set-ups). */
  def layerMetrics(tracer: Tracer, rounds: Seq[Round], cores: Int): Seq[(String, Double, String)] = {
    val l = tracer.listener
    val traced = rounds.filter(_.phase == "round")
    val nTraced = math.max(1, traced.size).toDouble
    val tracedWall = traced.map(_.wall).sum
    def keyOf(span: String) = Tracer.key(if (SetupSpans(span)) "setup" else "round", span)
    def per(span: String) = if (SetupSpans(span)) 1.0 else nTraced
    def c(span: String): Counters = Option(l.counters.get(keyOf(span))).getOrElse(new Counters)
    val mb = 1048576.0
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    Spans.foreach { s =>
      val key = keyOf(s)
      val spans = tracer.spans.filter(_.key == key)
      val wall = spans.map(_.wallNs).sum / 1e9
      val driver = spans.map(sp => sp.wallNs / 1e9 - l.jobCoveredMs(key, sp.startMs, sp.endMs) / 1e3).sum
      val cs = c(s)
      out += ((s"$s.wall_s", wall / per(s), "s"))
      out += ((s"$s.jobs", cs.jobs / per(s), "count"))
      if (!NoTasks(s)) out += ((s"$s.tasks", cs.tasks / per(s), "count"))
      out += ((s"$s.cpu_s", cs.cpuNs / 1e9 / per(s), "s"))
      out += ((s"$s.driver_s", math.max(0.0, driver) / per(s), "s"))
      if (GraphOps.contains(s)) {
        out += ((s"$s.shuffle_mb", cs.shuffleBytes / mb / per(s), "MB"))
        out += ((s"$s.smj", cs.smj / per(s), "count"))
      }
      if (s == "pipeline.pages" || s == "pipeline.merge")
        out += ((s"$s.output_mb", cs.outputBytes / mb / per(s), "MB"))
    }
    Ratios.foreach { r =>
      val (u, a) = tracer.ratios.getOrElse(Tracer.key("round", r), (0.0, 0.0))
      out += ((r, if (a > 0) u / a else 0.0, if (r.endsWith(".steps")) "count" else "ratio"))
    }
    val roundCounters = l.counters.asScala.collect {
      case (k, v) if k.startsWith("round|") => v
    }
    out += (("spark.jobs", roundCounters.map(_.jobs).sum / nTraced, "count"))
    out += (("spark.cpu_util",
      if (tracedWall > 0) roundCounters.map(_.cpuNs).sum / 1e9 / (tracedWall * cores) else 0.0, "ratio"))
    out += (("spark.spill_mb", roundCounters.map(_.spillBytes).sum / mb / nTraced, "MB"))
    def wallOf(phase: String) = Bench.median(rounds.filter(_.phase == phase).map(_.wall))
    out += (("bench.round.wall_s", wallOf("round"), "s"))
    out += (("bench.trace.overhead_s", wallOf("probe") - wallOf("plain"), "s"))
    out.toSeq
  }
}
