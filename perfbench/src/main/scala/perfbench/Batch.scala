package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** Row count and order-independent content digest of a query result,
  * computed in the tasks that produce it. Doubles are compared to nine
  * significant digits, so a summation order that differs in the last bits
  * does not change the digest.
  */
object Digest {
  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("∅")
    case d: Double =>
      if (d == 0.0) sb.append('0')
      else if (d.isNaN || d.isInfinite) sb.append(d)
      else sb.append(String.format(java.util.Locale.ROOT, "%.8e", Double.box(d)))
    case f: Float => canon(f.toDouble, sb)
    case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
    case b: Array[Byte] => sb.append(java.util.HexFormat.of().formatHex(b))
    case r: Row => sb.append('{'); r.toSeq.foreach { x => canon(x, sb); sb.append(',') }; sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; canon(k, e); e.append('='); canon(x, e); e.toString
      }.sorted
      sb.append(parts.mkString("<", ",", ">"))
    case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString)
  }

  def row(r: Row): Long = {
    val sb = new java.lang.StringBuilder
    canon(r, sb)
    val s = sb.toString
    (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 71) & 0xffffffffL)
  }

  /** Runs `df` once and returns (rows, digest). */
  def of(df: DataFrame): (Long, String) = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator
    val sum = sc.longAccumulator
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r) }
      rows.add(n)
      sum.add(h)
    }
    (rows.value.longValue, f"${sum.value.longValue}%016x")
  }
}

/** batch_queries: after a warm-up that touches none of the listed queries,
  * the frozen floor list and then the frozen heavy list run once each in
  * one session (first encounter), in an order drawn from the seed.
  */
object Batch {
  private def lists(manifest: File): Map[String, Seq[String]] = {
    val n = new ObjectMapper().readTree(Files.readString(manifest.toPath, UTF_8))
    Seq("warmup", "floor", "heavy").map { k =>
      k -> n.get(k).elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  def runQuery(spark: SparkSession, data: File, name: String): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SchedTrace.QueryProp, name)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = Clock.nowMs
    val outcome = try {
      val df = SparkEntry.queries(name)(spark, data.getPath)
      val t1 = Clock.nowMs
      val (rows, digest) = Digest.of(df)
      Right((t1, rows, digest))
    } catch { case e: Exception => Left(e.toString) }
    val t2 = Clock.nowMs
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    sc.setLocalProperty(SchedTrace.QueryProp, null)
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    outcome match {
      case Right((t1, rows, digest)) => Map("name" -> name, "start_ms" -> t0,
        "built_ms" -> t1, "end_ms" -> t2, "rows" -> rows, "digest" -> digest,
        "codegen_compiles" -> compiles)
      case Left(err) => Map("name" -> name, "start_ms" -> t0, "end_ms" -> t2,
        "error" -> err)
    }
  }

  private def shuffled(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  def run(a: RunArgs): Map[String, Any] = {
    val l = lists(a.manifest)
    val spark = Main.session(Main.fresh(a.work))
    val sched = new SchedTrace
    val plans = new PlanTrace
    l("warmup").foreach(runQuery(spark, a.data, _))
    val readyMs = Clock.nowMs
    if (a.trace) {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(plans)
    }
    val results = Seq("floor", "heavy").map { list =>
      list -> shuffled(l(list), a.seed + list.hashCode).map(runQuery(spark, a.data, _))
    }.toMap
    if (a.trace) {
      // listener events arrive asynchronously; wait until every job ended
      val deadline = Clock.nowMs + 10000
      Thread.sleep(500)
      while (sched.openJobs > 0 && Clock.nowMs < deadline) Thread.sleep(50)
    }
    Map("workload" -> "batch", "trace" -> a.trace, "cores" -> Main.Cores,
      "ready_ms" -> readyMs,
      "queries" -> results,
      "sched" -> (if (a.trace) sched.snapshot else Map.empty),
      "plans" -> (if (a.trace) plans.snapshot else Nil))
  }

  /** Runs every listed query in three passes of alternating order and
    * reports each pass's rows and digests, for run.py's `--make-manifest`.
    */
  def manifest(a: RunArgs): Map[String, Any] = {
    val l = lists(a.manifest)
    val spark = Main.session(Main.fresh(a.work))
    val names = l("floor") ++ l("heavy")
    val passes = (0 until 3).map { p =>
      val order = if (p % 2 == 0) names else names.reverse
      order.map(runQuery(spark, a.data, _))
    }
    Map("passes" -> passes)
  }
}
