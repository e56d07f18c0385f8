package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Wall clock with sub-millisecond resolution, on the epoch-ms scale that
  * the sharded log's arrival stamps use.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6
}

/** Options of one run, as run.py passes them. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: File, data: File, manifest: File)

/** Harness entry point. Runs one workload and writes its raw observations
  * (samples, progress reports, listener totals, check results) as JSON to
  * `--out`; run.py turns them into metrics. Each workload reports
  * `ready_ms`, the time its set-up ended.
  */
object Main {
  val Cores = 4

  def session(work: File, cores: Int = Cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** An empty directory at `dir`, removing what an earlier run left. */
  def fresh(dir: File): File = {
    if (dir.exists()) {
      val walk = Files.walk(dir.toPath)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }
    dir.mkdirs(); dir
  }

  /** Loads the classes the workloads use, so that the JVM that runs this
    * for run.py can write them to a class-data archive; measures nothing.
    */
  private def classArchive(a: RunArgs): Map[String, Any] = {
    val work = fresh(a.work)
    val spark = session(work)
    spark.sparkContext.addSparkListener(new SchedTrace)
    spark.listenerManager.register(new PlanTrace)
    Streams.drainOnce(spark, new File(work, "drain"), a.seed, 2000, None)
    Batch.runQuery(spark, a.data, "q1_pricing_summary")
    Map.empty
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = RunArgs(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", new File(opts("work")), new File(opts("data")),
      new File(opts("manifest")))
    val raw = a.workload match {
      case "stream_live" => Streams.live(a)
      case "stream_drain" => Streams.drain(a)
      case "batch_queries" => Batch.run(a)
      case "batch_manifest" => Batch.manifest(a)
      case "class_archive" => classArchive(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up runs once, from JVM start to the first timed operation: a
    // second set-up in the same JVM would run warm and hide the cold start
    val setupMs = raw.get("ready_ms").map(_.asInstanceOf[Double] -
      ManagementFactory.getRuntimeMXBean.getStartTime)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opts("out")), raw + ("setup_ms" -> setupMs))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
