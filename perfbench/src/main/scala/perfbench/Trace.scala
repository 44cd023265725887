package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Layers of the engine, as named in the benchmark's metrics. */
object Layers {
  val Stats = "stats"
  val Evaluate = "evaluate"
  val Rank = "rank"
  val Staged = "staged"
  val Checkpoint = "checkpoint"
  val Query = "query"
  val Result = "result"
  val Other = "other"
  val all: Seq[String] = Seq(Stats, Evaluate, Rank, Staged, Checkpoint, Query, Result, Other)

  private val byClass = Seq(
    "graft.StatsAgg" -> Stats,
    "graft.Evaluator" -> Evaluate,
    "graft.Ranks" -> Rank,
    "graft.StagedEvaluator" -> Staged,
    "graft.StagedResult" -> Staged,
    "graft.Checkpoints" -> Checkpoint,
    "graft.queries." -> Query,
    "graft.ops." -> Query,
    "graft.io." -> Query,
    "perfbench." -> Result)

  private def isUserFrame(cls: String): Boolean =
    (cls.startsWith("graft.") || cls.startsWith("perfbench.")) &&
      !cls.startsWith("perfbench.Trace")

  /** Layer of the innermost engine or benchmark frame of a job's long call
    * site (one `class.method(File.scala:line)` frame per line); None when
    * the job was launched from a thread that carries no such frame. */
  def ofCallSite(longForm: String): Option[String] =
    longForm.split("\n").iterator.map(_.trim).map { f =>
      val paren = f.indexOf('(')
      // drop a "loader/module//" prefix, then the method name
      val qualified = (if (paren > 0) f.substring(0, paren) else f).split('/').last
      qualified.substring(0, math.max(qualified.lastIndexOf('.'), 0))
    }.find(isUserFrame).map { cls =>
      byClass.collectFirst {
        case (prefix, layer) if cls == prefix || cls.startsWith(prefix + "$") ||
          (prefix.endsWith(".") && cls.startsWith(prefix)) => layer
      }.getOrElse(Other)
    }

  /** Layer a span stands for: the part of its name before the first dot. */
  def ofSpan(span: String): String = span.takeWhile(_ != '.') match {
    case "staged" => Staged
    case l if all.contains(l) => l
    case _ => Other
  }
}

/** Spark counters of one job, summed over its tasks. */
final class JobStat(val id: Int, val call: String, val span: String, val layer: String,
    val site: String, val start: Long) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
}

/** Records every job launched inside a traced call. Calls and spans are
  * marked with local properties, which Spark copies onto each job, also
  * onto jobs run from its own helper threads. A job's layer comes from
  * its call-site file; a job whose call site holds no engine frame takes
  * the layer of its span. */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.Map.empty[Int, JobStat]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  /** Call site of each SQL execution, taken on the thread that started it. */
  private val executionSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId) = s.details
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.CallKey))).foreach { call =>
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
      // SQL jobs run on Spark's own threads: their stack holds no caller
      // frame, so take the call site of the SQL execution they belong to
      val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong))
      val site = execution.getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
      val layer = Layers.ofCallSite(site).getOrElse(Layers.ofSpan(span))
      val j = new JobStat(e.jobId, call, span, layer, site.split("\n").take(3).mkString(" | "),
        e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        if (sub > 0) j.schedMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
      }
    }
  }

  /** Removes and returns the jobs of `call`, and forgets everything
    * recorded before them. */
  def take(call: String): Seq[JobStat] = synchronized {
    val mine = jobs.values.filter(_.call == call).toList
    jobs.clear()
    stageJob.clear()
    stageSubmitted.clear()
    executionSite.clear()
    mine
  }
}

/** Planning time and scanned rows of every finished query. */
final class PlanLog extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var planMs = 0L
  private var scanRows = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    val rows = collectWithSubqueries(qe.executedPlan) {
      case p if allChildren(p).isEmpty => p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    synchronized { planMs += ms; scanRows += rows }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning milliseconds and scanned rows since the last call. */
  def drain(): (Long, Long) = synchronized {
    val out = (planMs, scanRows)
    planMs = 0L
    scanRows = 0L
    out
  }
}

/** One timed region: a name, its epoch-microsecond bounds, its parent and
  * the call it belongs to. */
final case class Span(name: String, start: Long, end: Long, parent: String, call: String) {
  def seconds: Double = (end - start) / 1e6
}

/** Spans around the benchmark's calls into each layer. A disabled tracer
  * only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val open = mutable.Stack.empty[String]
  private var callId: String = null
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  def call[T](id: String)(body: => T): T =
    if (!enabled) body
    else {
      callId = id
      sc.setLocalProperty(Tracer.CallKey, id)
      try body
      finally {
        sc.setLocalProperty(Tracer.CallKey, null)
        sc.setLocalProperty(Tracer.SpanKey, null)
        callId = null
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || callId == null) body
    else {
      val parent = open.headOption.getOrElse("")
      open.push(name)
      sc.setLocalProperty(Tracer.SpanKey, name)
      val t0 = nowMicros()
      try body
      finally {
        spans += Span(name, t0, nowMicros(), parent, callId)
        open.pop()
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.orNull)
      }
    }
}

object Tracer {
  val CallKey = "perfbench.call"
  val SpanKey = "perfbench.span"

  /** Seconds of `span` not covered by its child spans or by the wall-clock
    * intervals of jobs launched inside it. */
  def selfSeconds(span: Span, spans: Seq[Span], jobs: Seq[JobStat]): Double = {
    val children =
      spans.filter(s => s.call == span.call && s.parent == span.name &&
        s.start >= span.start && s.end <= span.end).map(s => (s.start, s.end)) ++
        jobs.filter(j => j.span == span.name).map(j => (j.start * 1000L, j.end * 1000L))
    val clipped = children.map { case (a, b) => (math.max(a, span.start), math.min(b, span.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (span.end - span.start - covered) / 1e6
  }
}
