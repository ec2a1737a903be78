package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans kept in memory around the
  * benchmark's calls into each layer, plus the Spark scheduler and
  * Catalyst events of a [[SparkListener]] and a
  * [[QueryExecutionListener]] registered here, attributed to spans by
  * time window and to modules by the call-site file of each job. */
final class Trace(spark: SparkSession) {
  import Trace._

  /** Collection time of the whole JVM: in local mode the executors are
    * threads of this JVM, so this is the run's GC time. */
  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
    .map(_.getCollectionTime.max(0L)).sum

  /** An execution's short call site, or, when a job description
    * replaced it, the first program frame of the long one. */
  private def siteOf(short: String, long: String): String =
    if (ShortSite.findFirstIn(short).isDefined) short
    else long.split("\n").iterator.map(_.trim)
      .filterNot(f => f.startsWith("org.apache.spark") ||
        f.startsWith("scala.") || f.startsWith("java."))
      .flatMap(f => """\((\w+\.scala:\d+)\)""".r.findFirstMatchIn(f))
      .map(m => s"at ${m.group(1)}").nextOption().getOrElse(short)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  var iteration = 0

  // written on the listener-bus thread, read after BenchBus.drain;
  // never drain while holding this object's lock (the bus thread
  // needs it to deliver)
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val executions = mutable.ArrayBuffer[Execution]()
  private val taskTimes = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val executionSites = mutable.Map[Long, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
      // a SQL job's call site is its execution's (adaptive query
      // stages run from a pool thread and carry none of their own);
      // otherwise the result stage (highest id) is named after it
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse(""))
      jobs += Job(e.jobId, e.time, site)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized {
          executionSites(x.executionId) = siteOf(x.description, x.details)
        }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages += Stage(s.numTasks,
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          taskTimes.remove(s.stageId).map(_.toSeq).getOrElse(Nil))
      }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    // attributed by when planning ended: the callback itself may run
    // after the span that caused it has closed
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val phases = qe.tracker.phases.values
      executions += Execution(
        phases.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis()),
        phases.map(_.durationMs).sum)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      iteration, System.currentTimeMillis(), System.nanoTime(), gcMs)
    spans += s
    open = s :: open
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      s.endGcMs = gcMs
      open = open.tail
    }
  }

  /** Scheduler, executor and Catalyst figures per span named `name`
    * (totals over their windows divided by their number; shares and
    * ratios over the windows together), on a `cores`-slot session. */
  def sparkMetrics(name: String, cores: Int,
      modules: Seq[String]): Seq[(String, Double, String)] = {
    drain()
    figures(name, cores, modules)
  }

  private def figures(name: String, cores: Int,
      modules: Seq[String]): Seq[(String, Double, String)] = synchronized {
    val named = spans.filter(_.name == name)
    val windows = named.map(s => (s.startMs, s.endMs))
    def inside(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
    val js = jobs.filter(j => inside(j.startMs))
    val ss = stages.filter(s => inside(s.submittedMs))
    val es = executions.filter(e => inside(e.atMs))
    val wallMs = windows.map { case (a, b) => b - a }.sum.max(1L)
    val busyMs = windows.map { case (a, b) =>
      val iv = js.map { j =>
        (j.startMs.max(a), (if (j.endMs < 0) b else j.endMs).min(b))
      }.filter { case (x, y) => y > x }.sortBy(_._1)
      var covered = 0L; var reach = a
      iv.foreach { case (x, y) =>
        if (y > reach) { covered += y - x.max(reach); reach = y }
      }
      covered
    }.sum
    val runMs = ss.map(_.runMs).sum
    val longest = ss.maxByOption(s => s.completedMs - s.submittedMs)
    val skew = longest.map { s =>
      val t = s.taskMs.sorted
      if (t.isEmpty) 1.0
      else t.last.toDouble / t(t.size / 2).max(1L)
    }.getOrElse(1.0)
    val n = named.size.max(1).toDouble
    val mb = 1024.0 * 1024.0
    val byModule = js.groupBy(_.module).view.mapValues(_.size).toMap
    Seq(
      ("spark.jobs", js.size / n, "count"),
      ("spark.stages", ss.size / n, "count"),
      ("spark.tasks", ss.map(_.tasks).sum / n, "count"),
      ("spark.executor_run_s", runMs / 1e3 / n, "s"),
      ("spark.executor_cpu_s", ss.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("spark.gc_s", named.map(s => s.endGcMs - s.startGcMs).sum / 1e3 / n,
        "s"),
      ("spark.shuffle_write_mb", ss.map(_.shuffleWrite).sum / mb / n, "MB"),
      ("spark.shuffle_read_mb", ss.map(_.shuffleRead).sum / mb / n, "MB"),
      ("spark.spill_mb", ss.map(_.spill).sum / mb / n, "MB"),
      ("spark.core_busy_share", runMs.toDouble / (wallMs * cores), "share"),
      ("spark.driver_only_s", (wallMs - busyMs) / 1e3 / n, "s"),
      ("spark.task_skew", skew, "ratio"),
      ("sql.plan_s", es.map(_.planMs).sum / 1e3 / n, "s"),
      ("sql.executions", es.size / n, "count")) ++
      modules.map(m => (s"spark.jobs.$m", byModule.getOrElse(m, 0) / n,
        "count")) :+
      ("spark.jobs.other", js.count(j => !modules.contains(j.module)) / n,
        "count")
  }

  /** Spans and jobs, for the trace file; each job names the innermost
    * span whose window holds its start. */
  def record: Map[String, Any] = { drain(); recordNow }

  private def recordNow: Map[String, Any] = synchronized {
    def innermost(t: Long): Int = spans
      .filter(s => t >= s.startMs && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "iteration" -> s.iteration,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds)).toSeq,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "module" -> j.module,
        "call_site" -> j.callSite, "span" -> innermost(j.startMs))).toSeq)
  }
}

/** Cached RDDs held by the session's block manager: (id, bytes). */
object Storage {
  def cached(spark: SparkSession): Seq[(Int, Long)] = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.filter(_.isCached).toSeq
      .map(r => r.id -> (r.memSize + r.diskSize))
  }
}

object Trace {
  private val ShortSite = """at (\w+)\.scala:\d+""".r

  final case class Span(id: Int, name: String, parent: Int,
      iteration: Int, startMs: Long, startNs: Long, startGcMs: Long) {
    var endMs = 0L
    var endNs = 0L
    var endGcMs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Job(id: Int, startMs: Long, callSite: String) {
    @volatile var endMs: Long = -1L
    def module: String = ShortSite.findFirstMatchIn(callSite)
      .map(_.group(1)).getOrElse("other")
  }

  final case class Stage(tasks: Int,
      submittedMs: Long, completedMs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      taskMs: Seq[Long])

  final case class Execution(atMs: Long, planMs: Long)
}
