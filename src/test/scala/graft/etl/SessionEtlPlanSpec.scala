package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.SparkTestBase
import graft.connector.shardedlog.ShardedLog

/** The ETL's per-record transform is compiled: the executed plan of
  * [[SessionEtl.sinkProjection]] over a sharded-log batch holds neither
  * `from_json` nor any expression that generated code hands to the
  * interpreter (`CodegenFallback`, e.g. `aggregate`, `filter`, `forall`).
  */
class SessionEtlPlanSpec extends SparkTestBase {

  test("the sink projection's executed plan has no from_json and no CodegenFallback") {
    val dir = Files.createTempDirectory("graft-etl-plan").toString + "/source"
    ShardedLog.createStream(dir, 2)
    Seq("""{"session_id": "a1", "country": "USA", "browse_history": [""" +
        """{"product_code": "P1", "quantity": "2", "in_shopping_cart": true}]}""",
      "not json").zipWithIndex.foreach { case (json, i) =>
        ShardedLog.putRecord(dir, s"k$i", json.getBytes(UTF_8))
      }
    val batch = spark.read.format("graft.connector.shardedlog.ShardedLogSource")
      .option("path", dir).load()
    val projected = SessionEtl.sinkProjection(batch)
    assert(projected.collect().length == 2)
    val plan: SparkPlan = projected.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val offenders = plan.collectWithSubqueries { case node => node.expressions }
      .flatten.flatMap(_.collect {
        case e: JsonToStructs => s"from_json in ${e.sql}"
        case e: CodegenFallback => s"${e.getClass.getSimpleName} (${e.prettyName})"
      }).distinct
    assert(offenders.isEmpty, offenders.mkString("interpreted in the ETL plan: ", "; ", ""))
  }
}
