package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call the harness made into a layer of the program. */
final case class Span(id: Int, name: String, opId: Int, parent: Int,
    startNs: Long, endNs: Long)

/** Span recorder. Spans are kept in memory and written out at the end of
  * the run; when tracing is off, [[span]] only runs its body.
  */
final class Tracer {
  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  private var opId = -1

  def forOp[T](id: Int, name: String)(body: => T): T = {
    opId = id
    try span(s"op.$name")(body) finally opId = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        synchronized { spans += Span(id, name, opId, parent, t0, t1) }
      }
    }

  /** Self time per span name over the spans with id > `after`: each span's
    * duration minus the part its child spans cover (children of one span
    * never overlap, since the harness calls one layer at a time).
    */
  def selfSeconds(after: Int): Map[String, Double] = synchronized {
    val ss = spans.filter(_.id > after)
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    ss.groupMapReduce(_.name)(s =>
      (s.endNs - s.startNs - childNs(s.id)) / 1e9)(_ + _)
  }

  def lastId: Int = synchronized { nextId }
}

/** Task-level totals. */
final class TaskTotals {
  var tasks, cpuNs, runMs, deserMs, gcMs, shuffleWrite, shuffleRead, result = 0L

  def add(m: TaskMetrics): Unit = if (m != null) {
    tasks += 1
    cpuNs += m.executorCpuTime
    runMs += m.executorRunTime
    deserMs += m.executorDeserializeTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    result += m.resultSize
  }

  def plus(o: TaskTotals): TaskTotals = {
    val t = new TaskTotals
    t.tasks = tasks + o.tasks; t.cpuNs = cpuNs + o.cpuNs
    t.runMs = runMs + o.runMs; t.deserMs = deserMs + o.deserMs
    t.gcMs = gcMs + o.gcMs; t.shuffleWrite = shuffleWrite + o.shuffleWrite
    t.shuffleRead = shuffleRead + o.shuffleRead; t.result = result + o.result
    t
  }

  def minus(o: TaskTotals): TaskTotals = {
    val t = new TaskTotals
    t.tasks = tasks - o.tasks; t.cpuNs = cpuNs - o.cpuNs
    t.runMs = runMs - o.runMs; t.deserMs = deserMs - o.deserMs
    t.gcMs = gcMs - o.gcMs; t.shuffleWrite = shuffleWrite - o.shuffleWrite
    t.shuffleRead = shuffleRead - o.shuffleRead; t.result = result - o.result
    t
  }

  /** The quantities the conservation check compares. */
  def conserved: (Long, Long, Long) = (tasks, cpuNs, shuffleWrite + shuffleRead)
}

/** Attributes every finished task to the job tag of the op that caused it.
  *
  * Two independent paths are summed: task-end events keyed by the job's
  * `pb-` tag (or "untagged"), and the per-stage totals Spark reports when a
  * stage completes. Per-tag plus untagged totals must equal the stage
  * totals; [[Harness]] fails the run when they do not.
  */
final class TaskListener extends SparkListener {
  @volatile var on = false
  private val stageTag = mutable.Map.empty[Int, String]
  val byTag = mutable.Map.empty[String, TaskTotals]
  val stageTotals = new TaskTotals
  var jobs, stages, stageRetries, taskFailures = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      jobs += 1
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(Tags.Prefix))
      val tag = tags.headOption.getOrElse(Tags.Untagged)
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (on) {
        stages += 1
        if (e.stageInfo.attemptNumber() > 0) stageRetries += 1
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          stageTotals.add(m)
          // add() counted the stage as one task; count its tasks instead
          stageTotals.tasks += e.stageInfo.numTasks - 1
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      if (!e.taskInfo.successful) taskFailures += 1
      else {
        val tag = stageTag.getOrElse(e.stageId, Tags.Untagged)
        byTag.getOrElseUpdate(tag, new TaskTotals).add(e.taskMetrics)
      }
    }
  }

  def tagged: TaskTotals = synchronized {
    byTag.iterator.filter(_._1 != Tags.Untagged).map(_._2)
      .foldLeft(new TaskTotals)(_ plus _)
  }
  def untagged: TaskTotals = synchronized {
    byTag.getOrElse(Tags.Untagged, new TaskTotals).plus(new TaskTotals)
  }
}

/** Job-tag helpers: one `pb-<op id>-<op name>` tag per op. */
object Tags {
  val Prefix = "pb-"
  val Untagged = "untagged"

  def set(sc: org.apache.spark.SparkContext, tag: String): Unit = {
    sc.getJobTags().filter(_.startsWith(Prefix)).foreach(sc.removeJobTag)
    if (tag != null) sc.addJobTag(tag)
  }
}

/** Catalyst phase times and scan metrics of every executed query. */
final class SqlListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (Sinks.on) Sinks.addQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Per-batch phase durations of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Sinks.on) Sinks.addProgress(e.progress)
}

/** Where the session-level listeners (registered through the session conf,
  * so they also see the sessions the program creates itself) report.
  */
object Sinks {
  @volatile var on = false
  var catalystMs, scanBytes, scanRows, scanMs = 0L
  val batchPhases = mutable.ArrayBuffer.empty[Map[String, Long]]

  def addQuery(qe: QueryExecution): Unit = synchronized {
    catalystMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        def v(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        scanBytes += v("filesSize")
        scanRows += v("numOutputRows")
        scanMs += v("scanTime")
      case _ =>
    }
  }

  def addProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Unit = synchronized {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) batchPhases += d
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
