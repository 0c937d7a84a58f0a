package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import scala.collection.mutable

/** A timed interval. Times are epoch milliseconds; `parent` is the index
  * of the enclosing span, -1 at the root; spans of one step share `trace`. */
final case class Span(trace: String, kind: String, name: String, parent: Int,
                      start: Double, var end: Double, attrs: mutable.Map[String, Any])

/** Keeps every span in memory: step → build/plan/exec (→ sub-phase) spans
  * opened by the runner, and Spark job → stage spans from listener
  * events. A job's parent is the phase span whose id is its job group. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val JobGroup = "spark.jobGroup.id" // SparkContext.SPARK_JOB_GROUP_ID
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def open(trace: String, kind: String, name: String, parent: Int): Int = synchronized {
    spans += Span(trace, kind, name, parent, nowMs, Double.NaN, mutable.LinkedHashMap.empty)
    spans.length - 1
  }

  def close(id: Int): Unit = synchronized { spans(id).end = nowMs }

  def annotate(id: Int, attrs: (String, Any)*): Unit = synchronized {
    if (spans(id).end.isNaN) spans(id).end = nowMs
    spans(id).attrs ++= attrs
  }

  /** Runs `body` in a span under `parent`, with its jobs grouped under it. */
  def phase[A](trace: String, kind: String, parent: Int)(body: => A): A = {
    val id = open(trace, kind, kind, parent)
    val prev = sc.getLocalProperty(JobGroup)
    sc.setJobGroup(id.toString, trace)
    try body
    finally {
      close(id)
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, trace)
    }
  }

  def attach(): Unit = sc.addSparkListener(this)

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroup)))
      .flatMap(_.toIntOption).filter(_ < spans.length).getOrElse(-1)
    val trace = if (parent >= 0) spans(parent).trace else "-"
    spans += Span(trace, "job", s"job ${e.jobId}", parent, e.time.toDouble, Double.NaN,
      mutable.LinkedHashMap("job_id" -> e.jobId,
        "site" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
    val id = spans.length - 1
    jobSpan(e.jobId) = id
    e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(id => spans(id).end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val parent = stageJob.getOrElse(info.stageId, -1)
    val trace = if (parent >= 0) spans(parent).trace else "-"
    val m = info.taskMetrics
    val end = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    spans += Span(trace, "stage", s"stage ${info.stageId}", parent,
      info.submissionTime.map(_.toDouble).getOrElse(end), end,
      mutable.LinkedHashMap(
        "tasks" -> info.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_b" -> m.inputMetrics.bytesRead))
  }

  def toSeq: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.zipWithIndex.map { case (s, i) =>
      Map("id" -> i, "trace" -> s.trace, "kind" -> s.kind, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.start,
        "end_ms" -> (if (s.end.isNaN) null else s.end), "attrs" -> s.attrs.toMap)
    }
  }
}

/** Join operators in a final (AQE) plan, subqueries included. */
object JoinCounts extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): (Int, Int) =
    (collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }.size,
      collectWithSubqueries(p) { case j: SortMergeJoinExec => j }.size)
}
