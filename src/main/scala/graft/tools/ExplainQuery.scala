package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{GraftSession, SparkEntry}

/** Dev probe: print one gated query's formatted plan and the FINAL
  * adaptive plan (AQE's post-runtime-stats choice of partition counts,
  * join strategies and coalescing), which is the plan the bench actually
  * executes and the one plan-shape adjudications must read.
  * `df.explain()` alone shows the initial AQE placeholder tree and hides
  * runtime coalescing entirely (the r13 block_bloom single-task stage
  * was invisible in it). `finalPhysicalPlan` itself materializes every
  * shuffle stage once — no separate noop write first: that ran its OWN
  * QueryExecution and then finalPhysicalPlan re-ran everything, so the
  * tool executed each query twice and printed the plan of the second,
  * untimed run (ADVICE r13).
  *
  * Usage: ExplainQuery <sfDir> <query>[,query2,...]
  * Env: SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_SKIP_EXEC=1 to print
  * only the static plan (no execution at heavy scales).
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, csv) = args
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession()
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name: static formatted plan =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      if (!sys.env.contains("SPARK_GRAFT_SKIP_EXEC")) {
        println(s"===== $name: FINAL adaptive plan (post-execution) =====")
        df.queryExecution.executedPlan match {
          // materializes all shuffle stages (once) to let AQE finalize
          case a: AdaptiveSparkPlanExec => println(a.finalPhysicalPlan)
          // non-adaptive plans don't change at runtime — nothing to run
          case p => println(p)
        }
      }
    }
    spark.stop()
  }
}
