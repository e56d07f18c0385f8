package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler-side totals per tag, read from Spark's public listener
  * events. A tag is `<streaming query id>#<batch id>` for jobs a streaming
  * query submits, or the value of the [[SchedTrace.QueryProp]] local
  * property the batch workload sets around each query.
  */
final class SchedTrace extends SparkListener {
  final class Agg {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuMs = 0.0
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]

    def toMap: Map[String, Any] = synchronized(Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs,
      "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes,
      "job_intervals" -> jobIntervals.map { case (s, e) => Seq(s, e) }.toSeq))
  }

  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  private def tagOf(p: Properties): String = {
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    prop("sql.streaming.queryId") match {
      case Some(id) => id + "#" + prop("streaming.sql.batchId").getOrElse("-1")
      case None => prop(SchedTrace.QueryProp).getOrElse("untagged")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    jobStart.put(e.jobId, (tag, e.time))
    e.stageIds.foreach(stageTag.put(_, tag))
    val a = agg(tag)
    a.synchronized(a.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (tag, start) =>
      val a = agg(tag)
      a.synchronized(a.jobIntervals += ((start, e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val a = agg(tag)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (tag <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = agg(tag)
      a.synchronized {
        a.tasks += 1
        a.taskRunMs += m.executorRunTime
        a.taskCpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Number of jobs started but not yet seen ending. */
  def openJobs: Int = jobStart.size

  def snapshot: Map[String, Any] =
    aggs.asScala.map { case (k, a) => k -> a.toMap }.toMap
}

object SchedTrace {
  /** Local property that tags the jobs of one batch query. */
  val QueryProp = "perfbench.query"
}

/** Driver planning phases of every QueryExecution, read from
  * `QueryPlanningTracker`. Entries carry wall-clock start times so the
  * benchmark can attribute them to the query whose window holds them.
  */
final class PlanTrace extends QueryExecutionListener {
  private val entries = ArrayBuffer.empty[Map[String, Any]]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) synchronized {
      entries += Map(
        "start_ms" -> phases.values.map(_.startTimeMs).min,
        "planning_ms" -> phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def snapshot: Seq[Map[String, Any]] = synchronized(entries.toList)
}
