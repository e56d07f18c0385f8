package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Where does a query's WALL time go at bench scale — driver-side plan
  * work (parse/analyse/optimise/plan), codegen, or cluster execution?
  *
  * The bench surface at sf0.1 is overhead-sensitive: several of the
  * slowest queries move only a few MB of data, so the usual stage-level
  * profiler ([[ProfileStages]]) shows nothing actionable — the time is
  * NOT in any stage. This probe attributes it: per query it replays the
  * noop-sink materialisation `SPARK_GRAFT_PROBE_RUNS` times (default 3,
  * same warm-cache regime as the bench's interleaved min-of-3) and
  * prints, per run, one JSON line with
  *
  *   - `wall_ms` — the exact quantity Bench times
  *   - `phases` — QueryPlanningTracker's driver phase durations for every
  *     QueryExecution the run triggered (a checkpoint-heavy query runs
  *     many), summed per phase
  *   - `n_qe` — how many QueryExecutions (actions) the run triggered
  *   - `jobs`, `stages`, `task_time_ms` — scheduler-side totals from a
  *     listener, so (wall − task_time/cores) exposes idle/driver gaps
  *
  * Diagnostic-only: never part of the gate or the bench protocol.
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
    val spark = graft.GraftSession()
    // same warmup as Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }

    val phaseMs = mutable.LinkedHashMap.empty[String, Long]
    var nQe = 0
    val qeListener = new QueryExecutionListener {
      def collect(qe: QueryExecution): Unit = synchronized {
        nQe += 1
        qe.tracker.phases.foreach { case (name, p) =>
          phaseMs.updateWith(name) {
            case Some(v) => Some(v + (p.endTimeMs - p.startTimeMs))
            case None => Some(p.endTimeMs - p.startTimeMs)
          }
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        collect(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        collect(qe)
    }
    spark.listenerManager.register(qeListener)

    var jobs = 0
    var stages = 0
    var taskTimeMs = 0L
    var tasks = 0
    var deserMs = 0L
    var gcMs = 0L
    val schedListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          taskTimeMs += s.stageInfo.taskMetrics.executorRunTime
          deserMs += s.stageInfo.taskMetrics.executorDeserializeTime
          gcMs += s.stageInfo.taskMetrics.jvmGCTime
        }
    }
    spark.sparkContext.addSparkListener(schedListener)

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(only.nonEmpty, "set SPARK_GRAFT_ONLY=q1,q2,...")
    val byName = graft.SparkEntry.queries.toMap
    import org.apache.spark.metrics.source.CodegenMetrics
    for (name <- only; fn = byName(name); r <- 1 to runs) {
      phaseMs.clear(); nQe = 0; jobs = 0; stages = 0; taskTimeMs = 0
      tasks = 0; deserMs = 0; gcMs = 0
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgSrc0 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000
      // drain the async listener bus so the counters below are complete
      Thread.sleep(200)
      val ph = phaseMs.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val cgSrcN = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - cgSrc0
      println(s"""[phaseprobe] {"q":"$name","run":$r,"wall_ms":$wallMs,""" +
        s""""n_qe":$nQe,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_time_ms":$taskTimeMs,"deser_ms":$deserMs,"gc_ms":$gcMs,""" +
        s""""codegen_compiles":$cgN,""" +
        s""""codegen_units":$cgSrcN,"phases":$ph}""")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
