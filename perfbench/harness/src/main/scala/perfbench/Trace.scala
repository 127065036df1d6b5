package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracing for one run: spans the harness opens around its calls
  * into the program, plus raw events from a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener. Engine events are
  * tied to a request through the job group the harness sets per request
  * (or the stream run id a request started), and joined only at the end,
  * so the listener threads never wait on the harness.
  *
  * Disabled, `span` only runs its body and no listener is registered.
  */
final class Trace(val enabled: Boolean) {

  final case class Span(id: Int, name: String, req: String, parent: Int,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  val t0Ns: Long = System.nanoTime()

  /** Runs `body` under span `name` of request `req`; nested spans get the
    * innermost open span as parent. Harness-thread only.
    */
  def span[A](name: String, req: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val s = System.nanoTime()
    try body
    finally {
      open = open.tail
      spans += Span(id, name, req, parent, s - t0Ns, System.nanoTime() - t0Ns)
    }
  }

  def spansOf(name: String, req: String => Boolean = _ => true): Seq[Span] =
    spans.toSeq.filter(s => s.name == name && req(s.req))

  // ---- raw engine events ------------------------------------------------

  final case class Job(id: Int, group: String, startMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, inputRows: Long)
  final case class Progress(runId: String, durations: Map[String, Long],
      inputRows: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val sqlGroups = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  // planning time of the query whose SQLExecutionEnd is being delivered:
  // the QueryExecutionListener bus and the SparkListener share one
  // listener-bus queue, so for each end event the query callback runs
  // first and the SparkListener (registered after it) second, on one thread
  @volatile private var pendingPlanMs = -1L
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val streamReq = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Job group -> request, for groups that are not the request id itself. */
  def bindGroup(group: String, req: String): Unit =
    if (enabled) streamReq.put(group, req)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(Job(e.jobId, g, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead))
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(sqlGroups.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        if (pendingPlanMs >= 0) plans.add((end.executionId, pendingPlanMs))
        pendingPlanMs = -1L
      case _ =>
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      pendingPlanMs = qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.runId.toString,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
      ()
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every started job has been seen to end and no new event
    * arrived for a while: listener delivery is asynchronous.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val seen = jobs.size + jobEnds.size + tasks.size + plans.size + progress.size
      if (seen != last) { last = seen; quietSince = System.nanoTime() }
      else if (jobs.size == jobEnds.size &&
        System.nanoTime() - quietSince > 300L * 1000 * 1000) return
      Thread.sleep(20)
    }
  }

  // ---- per-request aggregation ------------------------------------------

  final case class Engine(jobs: Int, stages: Int, tasks: Int, taskRunMs: Long,
      taskCpuMs: Double, idleMs: Long, gcMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, inputRows: Long, planMs: Long,
      batches: Int, streamMs: Map[String, Long], streamRows: Long)

  private def reqOf(group: String): String =
    Option(streamReq.get(group)).getOrElse(group)

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Engine totals of every request `req` accepts. */
  def engine(req: String => Boolean): Engine = {
    val js = jobs.asScala.toSeq.filter(j => req(reqOf(j.group)))
    val stageSet = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.toSeq.filter(t => stageSet(t.stage))
    val jobIv = js.flatMap(j => Option(jobEnds.get(j.id)).map(e => (j.startMs, e.longValue)))
    val taskIv = ts.map(t => (t.launchMs, t.finishMs))
    val jobCover = covered(jobIv)
    // time inside job windows with a task running: |J ∩ T| = |J| + |T| - |J ∪ T|
    val busy = jobCover + covered(taskIv) - covered(jobIv ++ taskIv)
    val execs = sqlGroups.asScala.collect { case (id, g) if req(reqOf(g)) => id.longValue }.toSet
    val ps = progress.asScala.toSeq.filter(p => req(reqOf(p.runId)))
    Engine(
      jobs = js.size,
      stages = js.map(_.stages.size).sum,
      tasks = ts.size,
      taskRunMs = ts.map(_.runMs).sum,
      taskCpuMs = ts.map(_.cpuNs).sum / 1e6,
      idleMs = jobCover - busy,
      gcMs = ts.map(_.gcMs).sum,
      shuffleReadBytes = ts.map(_.shuffleRead).sum,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      inputRows = ts.map(_.inputRows).sum,
      planMs = plans.asScala.collect { case (id, ms) if execs(id) => ms }.sum,
      batches = ps.size,
      streamMs = ps.flatMap(_.durations).groupMapReduce(_._1)(_._2)(_ + _),
      streamRows = ps.map(_.inputRows).sum)
  }

  /** Every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","req":"${s.req}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}
