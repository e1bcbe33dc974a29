package graft.perf

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{ExecutionEndAccess, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Marks which benchmark span is open; posted on the listener bus so that
  * jobs and SQL executions, which the bus delivers in order, land in it. */
final case class SpanMark(spanId: Int) extends SparkListenerEvent {
  override def logEvent: Boolean = false
}

/** Nested spans around the calls the benchmark makes into the program, with
  * one child per Spark job (named by its call site) and the SQL metrics of
  * each SQL execution. Everything is observed from outside: a SparkListener
  * registered here, which reads each SQL execution's plan and metrics from
  * its end event, plus `sampleCounters`, read at every span boundary (the ES
  * stub's request and hit counters). Spans stay in memory until [[spansJson]]. */
final class Tracer(spark: SparkSession, sampleCounters: () => Map[String, Double]) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val name: String) {
    val startMs: Long = System.currentTimeMillis()
    private val startNs = System.nanoTime()
    private val c0 = sampleCounters()
    private var endNs = startNs
    private var c1 = c0
    def end(): Unit = { endNs = System.nanoTime(); c1 = sampleCounters() }
    def seconds: Double = (endNs - startNs) / 1e9
    def counters(k: String): Double = c1.getOrElse(k, 0.0) - c0.getOrElse(k, 0.0)
    def counterDeltas: Map[String, Double] = c1.keys.map(k => k -> counters(k)).toMap
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](-1)
  private val jobs  = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private var current = -1 // listener-bus thread's view of the open span
  private val actionSite = mutable.HashMap.empty[Long, String]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case SpanMark(id)                        => current = id
      case s: SparkListenerSQLExecutionStart   => actionSite(s.executionId) = s.description
      case end: SparkListenerSQLExecutionEnd   =>
        ExecutionEndAccess.queryExecution(end).foreach(qe => execs += execution(end.executionId, qe))
      case _                                   => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // A job's call site is that of the SQL action it serves: adaptive
      // execution submits stage jobs from a pool thread, whose own call site
      // says nothing. Jobs outside SQL take their result stage's name.
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = exec.flatMap(actionSite.get)
        .getOrElse(if (e.stageInfos.isEmpty) "unknown" else e.stageInfos.maxBy(_.stageId).name)
      val j = new Job(e.jobId, site, exec, current, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics))
        j.tasks += Task(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, e.taskInfo.duration)
  }
  /** What an ended SQL execution planned, scanned and wrote. */
  private def execution(id: Long, qe: QueryExecution): Exec = {
    val nodes = planNodes(qe.executedPlan)
    Exec(id, current,
      qe.tracker.phases.values.map(_.durationMs.toDouble).sum,
      nodes.collect {
        case s: FileSourceScanExec => "file:" + s.relation.location.rootPaths.mkString(",")
        case b: BatchScanExec =>
          (if (b.scan.getClass.getName.startsWith("graft.sources.es.")) "es:" else "v2:") + b.scan.getClass.getName
      },
      nodes.map(_.metrics).find(_.contains("numOutputBytes")).map(_.map { case (k, v) => k -> v.value }))
  }
  spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `name`, a child of the open span. */
  def within[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, stack.top, name)
    spans += s
    stack.push(s.id)
    ListenerBusAccess.post(spark.sparkContext, SpanMark(s.id))
    try body
    finally {
      s.end()
      stack.pop()
      ListenerBusAccess.post(spark.sparkContext, SpanMark(stack.top))
    }
  }

  /** Wait for the listener bus to deliver every event, then detach. */
  def finish(): Unit = {
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def span(name: String): Span = spans.find(_.name == name).getOrElse(sys.error(s"no span '$name'"))

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    Set(id) ++ kids.flatMap(descendants)
  }
  def jobsUnder(id: Int): Seq[Job]   = { val ds = descendants(id); jobs.values.filter(j => ds(j.spanId)).toSeq }
  def executionsUnder(id: Int): Seq[Exec] = { val ds = descendants(id); execs.filter(e => ds(e.spanId)).toSeq }

  /** The jobs under span `id` by export phase: the jobs of the SQL execution
    * whose plan holds the Parquet write are `write`, the jobs before them
    * `sample` (window bound, schema sample and inference), and the jobs after
    * them `audit` (the caller's collect of the returned audit frame, with the
    * re-read's schema inference). */
  def exportPhases(id: Int): Map[String, Seq[Job]] = {
    val js     = jobsUnder(id).sortBy(_.id)
    val writes = executionsUnder(id).filter(_.writeMetrics.isDefined).map(_.execId).toSet
    val isWrite = (j: Job) => j.execId.exists(writes)
    val firstWrite = js.find(isWrite).fold(Int.MaxValue)(_.id)
    js.groupBy(j => if (isWrite(j)) "write" else if (j.id < firstWrite) "sample" else "audit")
  }

  /** Spans as JSON-ready maps; each job is a child span named by its call site. */
  def spansJson: Seq[Map[String, Any]] =
    spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "seconds" -> s.seconds, "counters" -> s.counterDeltas)
    } ++ jobs.values.toSeq.map { j =>
      Map("id" -> s"job${j.id}", "parent" -> j.spanId, "name" -> j.callSite, "start_ms" -> j.startMs,
        "seconds" -> j.seconds, "tasks" -> j.tasks.size, "task_cpu_s" -> j.tasks.map(_.cpuNs).sum / 1e9,
        "task_run_s" -> j.tasks.map(_.runMs).sum / 1e3, "gc_s" -> j.tasks.map(_.gcMs).sum / 1e3,
        "shuffle_write_bytes" -> j.tasks.map(_.shuffleWrite).sum, "spill_bytes" -> j.tasks.map(_.spill).sum)
    }
}

object Tracer {
  final case class Task(runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long, durMs: Long)
  final class Job(val id: Int, val callSite: String, val execId: Option[Long], val spanId: Int, val startMs: Long) {
    var endMs: Long = startMs
    val tasks = mutable.ArrayBuffer.empty[Task]
    def seconds: Double = (endMs - startMs) / 1e3
  }
  final case class Exec(execId: Long, spanId: Int, planningMs: Double, scans: Seq[String], writeMetrics: Option[Map[String, Long]])

  /** Every node of an executed plan, through adaptive wrappers, query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => planNodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Share of `slots` × `seconds` that tasks kept busy. */
  def busyShare(tasks: Seq[Task], seconds: Double, slots: Int): Double =
    if (seconds <= 0) 0.0 else tasks.map(_.durMs).sum / 1e3 / (slots * seconds)

  /** 1 − task CPU time / task run time: the share of task time spent waiting. */
  def waitShare(tasks: Seq[Task]): Double = {
    val run = tasks.map(_.runMs).sum / 1e3
    if (run <= 0) 0.0 else 1.0 - tasks.map(_.cpuNs).sum / 1e9 / run
  }

  /** Scala maps and sequences to their Java forms, for Jackson. */
  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}
