package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `runId` numbers the set-up or round the
  * span belongs to; `parent` is the enclosing span ("" at top level). */
final case class Span(name: String, parent: String, phase: String, runId: Int,
                      startMs: Long, endMs: Long, wallNs: Long) {
  def key: String = Tracer.key(phase, name)
}

/** Spark counters attributed to one span name. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  var smj = 0L
}

/** Span recorder. While enabled, every call wrapped in [[span]] sets the
  * SparkContext local property [[Tracer.Key]] to "phase|span name", so
  * each job the call submits (from this thread or from threads that
  * capture its local properties) carries it; [[TraceListener]] then rolls
  * job, task and plan counters up per key. Spans are kept in memory and
  * only summarised when the run ends; call [[drain]] once, at the end.
  * Disabled, [[span]] is a plain call. */
final class Tracer {
  @volatile var enabled = false
  /** "setup", "round" or "probe": counters of the phases are kept apart */
  var phase = "round"
  var runId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  /** per span key: (useful outcomes, attempts) for the ratio counters */
  val ratios = mutable.Map.empty[String, (Double, Double)]
  private var stack: List[String] = Nil
  private var sc: SparkContext = _
  var listener: TraceListener = _

  /** Register the listeners on the session for its lifetime. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    listener = new TraceListener
    sc.addSparkListener(listener)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val prev = sc.getLocalProperty(Tracer.Key)
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      sc.setLocalProperty(Tracer.Key, Tracer.key(phase, name))
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try f
      finally {
        spans += Span(name, parent, phase, runId, m0, System.currentTimeMillis(), System.nanoTime() - t0)
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  /** Add `useful` of `attempts` to the ratio counter of span `name`. */
  def count(name: String, useful: Double, attempts: Double): Unit = if (enabled) {
    val (u, a) = ratios.getOrElse(Tracer.key(phase, name), (0.0, 0.0))
    ratios(Tracer.key(phase, name)) = (u + useful, a + attempts)
  }

  def drain(): Unit = if (sc != null) {
    org.apache.spark.graftbench.BusAccess.drain(sc)
    listener.countJoins()
  }

  /** Write every recorded span as one JSON object per line. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"name": "${s.name}", "parent": "${s.parent}", "phase": "${s.phase}", """ +
        s""""run": ${s.runId}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_s": ${s.wallNs / 1e9}}""")
    } finally w.close()
  }
}

object Tracer {
  val Key = "graftbench.span"
  def key(phase: String, name: String): String = s"$phase|$name"
}

/** Job, task and plan counters keyed by the span local property of the job
  * that ran them. Listener events arrive asynchronously; call
  * [[Tracer.drain]] before reading. */
final class TraceListener extends SparkListener {
  import TraceListener.Job
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  val counters = new ConcurrentHashMap[String, Counters]()

  def of(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.Key))).foreach { span =>
      jobs.put(e.jobId, Job(span, e.time, e.time))
      e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, span))
      of(span).synchronized { of(span).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = of(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Latest physical plan of every SQL execution: the start event's plan,
    * replaced by each adaptive re-plan, so the last one is what ran. */
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  /** Add the sort-merge joins of every execution's final plan to the span
    * its jobs ran under. Call once, after the bus is drained. */
  def countJoins(): Unit = {
    def smj(p: SparkPlanInfo): Int =
      (if (p.nodeName == "SortMergeJoin") 1 else 0) + p.children.map(smj).sum
    execSpan.asScala.foreach { case (id, span) =>
      Option(plans.get(id)).foreach(p => of(span).smj += smj(p))
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by jobs tagged `span`. */
  def jobCoveredMs(span: String, fromMs: Long, toMs: Long): Long = {
    val iv = jobs.values.asScala.filter(j => j.span == span && j.endMs > fromMs && j.startMs < toMs)
      .map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs))).toSeq.sortBy(_._1)
    var covered = 0L; var reach = fromMs
    iv.foreach { case (s, e) =>
      val s2 = math.max(s, reach)
      if (e > s2) { covered += e - s2; reach = e }
    }
    covered
  }
}

object TraceListener {
  final case class Job(span: String, startMs: Long, var endMs: Long)
}
