package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Timeline probe for ONE query: logs every job/stage submit/complete
  * offset (ms from the action's start) so the dead gaps — driver work
  * between stages that no phase tracker covers (task-binary broadcast,
  * AQE re-planning, commit) — become visible. Diagnostic-only.
  */
object StageGapProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
    val name = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY=<one query>"))
    val spark = graft.GraftSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }

    @volatile var t0 = System.nanoTime()
    def off(): Long = (System.nanoTime() - t0) / 1000000
    val events = mutable.ArrayBuffer.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        events.synchronized { events += s"${off()} jobStart ${j.jobId}" }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        events.synchronized { events += s"${off()} jobEnd ${j.jobId}" }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        events.synchronized {
          events += s"${off()} stageSubmit ${s.stageInfo.stageId} " +
            s"${s.stageInfo.name.takeWhile(_ != '\n').take(60)}"
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        events.synchronized {
          val si = s.stageInfo
          events += s"${off()} stageDone ${si.stageId} tasks=${si.numTasks} " +
            s"run=${si.taskMetrics.executorRunTime} " +
            s"deser=${si.taskMetrics.executorDeserializeTime} " +
            s"gc=${si.taskMetrics.jvmGCTime} " +
            s"cpu=${si.taskMetrics.executorCpuTime / 1000000}"
        }
    })
    val fn = graft.SparkEntry.queries.toMap.apply(name)
    for (r <- 1 to runs) {
      events.synchronized(events.clear())
      t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = off()
      df.write.format("noop").mode("overwrite").save()
      val tDone = off()
      Thread.sleep(300)
      println(s"== $name run $r: build=${tPlan}ms total=${tDone}ms")
      events.synchronized(events.foreach(e => println(s"   $e")))
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
