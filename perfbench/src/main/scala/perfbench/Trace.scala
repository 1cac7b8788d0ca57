package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code around a call into the engine. */
final class Span(val id: Long, val name: String, val parent: Long,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over every task of one job. */
final class TaskSums {
  var tasks = 0L
  var taskMs = 0L          // launch-to-finish wall time of each task
  var runMs = 0L           // executor run time
  var shuffleWrite = 0L
  var spill = 0L           // memory + disk spill
  var inputRecords = 0L
  var outputBytes = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; taskMs += o.taskMs; runMs += o.runMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
  }
}

final class JobRec(val jobId: Int, val span: Long, val execId: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val sums = new TaskSums
}

/** A SQL execution (query or command) as the listener bus reported it. */
final class ExecRec(val execId: Long, val rootId: Long, val span: Long,
    val node: String, val plan: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  /** Filled from the QueryExecutionListener: action name, executed
    * command and its precise duration. */
  @volatile var funcName: String = ""
  @volatile var command: String = ""
  @volatile var durationNs: Long = -1L
  def seconds: Double =
    if (durationNs >= 0) durationNs / 1e9 else (endMs - startMs) / 1e3
}

/**
 * Spans around the benchmark's calls into the engine, plus one
 * SparkListener and one QueryExecutionListener that attribute every Spark
 * job, task metric and SQL command to the span that was open when it ran.
 *
 * Attribution goes through the job group: the benchmark is the only code
 * in the JVM that sets one, so a job's `spark.jobGroup.id` property and a
 * SQL execution's `jobGroupId` name their span exactly. Everything stays
 * in memory; [[drain]] waits for the listener bus instead of sleeping.
 *
 * With `recording = false` the listeners only count jobs, which is what
 * the repeat guard of an untimed run needs.
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  @volatile var recording = false

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val nextSpan = new AtomicLong(1)
  private val jobCount = new AtomicLong(0)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  private val GroupPrefix = "perfbench-span-"

  def jobsStarted: Long = jobCount.get

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = PerfbenchBridge.drain(sc)

  /** Run `body` inside a span named `name`; nested spans get a parent. */
  def span[T](name: String)(body: => T): T = {
    if (!recording) return body
    val parent = if (stack.isEmpty) 0L else stack.top.id
    val s = new Span(nextSpan.getAndIncrement(), name, parent,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack.push(s)
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack.pop()
      if (stack.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(GroupPrefix + stack.top.id, stack.top.name, interruptOnCancel = false)
    }
  }

  private def spanOf(group: String): Long =
    if (group != null && group.startsWith(GroupPrefix))
      group.substring(GroupPrefix.length).toLong
    else 0L

  // ------------------------------------------------------------- listener

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    if (!recording) return
    val props = e.properties
    val group = if (props == null) null else props.getProperty("spark.jobGroup.id")
    val exec = Option(if (props == null) null else props.getProperty("spark.sql.execution.id"))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, spanOf(group), exec, e.time))
    e.stageIds.foreach(stageToJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!recording) return
    val job = Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    for (j <- job; m <- Option(e.taskMetrics)) j.sums.synchronized {
      val s = j.sums
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  // The QueryExecutionListener runs on the same listener-bus thread as
  // this listener and is called for the same end event, just before or
  // just after it (registration order). Pair the two in either order.
  private var endedWithoutQe: Option[ExecRec] = None
  private var qeWithoutEnd: Option[(String, QueryExecution, Long)] = None

  private def pair(x: ExecRec, funcName: String, qe: QueryExecution, ns: Long): Unit = {
    // a callback whose duration does not fit the execution belongs to
    // another one (recording was switched between the two events)
    val ms = x.endMs - x.startMs
    if (ns < 0 || math.abs(ns / 1e6 - ms) <= 50 + 0.2 * ms) {
      x.funcName = funcName
      x.command = Option(qe).map(_.commandExecuted.nodeName).getOrElse("")
      if (ns >= 0) x.durationNs = ns
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if recording =>
      execs.put(s.executionId, new ExecRec(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), spanOf(s.jobGroupId.orNull),
        s.sparkPlanInfo.nodeName, s.physicalPlanDescription.take(4000), s.time))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach { x =>
        x.endMs = s.time
        qeWithoutEnd match {
          case Some((f, qe, ns)) => pair(x, f, qe, ns); qeWithoutEnd = None
          case None => endedWithoutQe = Some(x)
        }
      }
    case _ =>
  }

  private val qeListener = new QueryExecutionListener {
    private def seen(funcName: String, qe: QueryExecution, ns: Long): Unit =
      if (recording) endedWithoutQe match {
        case Some(x) => pair(x, funcName, qe, ns); endedWithoutQe = None
        case None => qeWithoutEnd = Some((funcName, qe, ns))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen(funcName, qe, -1L)
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  // ------------------------------------------------------------- queries

  /** Span ids of `s` and every span nested in it. */
  def subtree(s: Span): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(x => walk(x.id))
    walk(s.id).toSet
  }

  def jobsIn(ids: Set[Long]): Seq[JobRec] =
    jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.startMs)

  def execsIn(ids: Set[Long]): Seq[ExecRec] =
    execs.values.asScala.filter(x => ids(x.span)).toSeq.sortBy(_.startMs)

  /** Seconds during which at least one of `js` was running. */
  def busySeconds(js: Seq[JobRec]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    js.filter(_.endMs >= 0).sortBy(_.startMs).foreach { j =>
      if (j.startMs > curE) { if (curE > curS) total += curE - curS; curS = j.startMs; curE = j.endMs }
      else curE = math.max(curE, j.endMs)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def sums(js: Seq[JobRec]): TaskSums = {
    val t = new TaskSums; js.foreach(j => t.add(j.sums)); t
  }

  /** All spans as JSON lines, with the jobs and commands each one owns.
    * Self time is the span's time less the time of its child spans. */
  def dumpJson(): String = {
    val byParent = jobs.values.asScala.groupBy(_.span)
    val execBySpan = execs.values.asScala.groupBy(_.span)
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map { s =>
      val js = byParent.getOrElse(s.id, Nil).toSeq
      val xs = execBySpan.getOrElse(s.id, Nil).toSeq.filter(x => x.execId == x.rootId)
      val t = sums(js)
      Json.obj(
        "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "seconds" -> s.seconds,
        "self_s" -> (s.seconds - childTime.getOrElse(s.id, 0.0)),
        "jobs" -> js.size, "busy_s" -> busySeconds(js),
        "tasks" -> t.tasks, "task_s" -> t.runMs / 1e3,
        "shuffle_bytes" -> t.shuffleWrite, "spill_bytes" -> t.spill,
        "commands" -> xs.map(x =>
          s"${x.funcName}:${x.command.ifEmpty(x.node)}:${"%.4f".format(x.seconds)}"))
    }.mkString("\n")
  }

  private implicit class Blank(s: String) {
    def ifEmpty(d: String): String = if (s.isEmpty) d else s
  }
}
