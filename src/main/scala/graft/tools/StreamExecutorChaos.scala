package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftSession, Provenance}
import graft.app.Topology
import graft.connector.shardedlog.{ShardedLog, ShardedLogSource}
import graft.streaming.EtlStream

/** Executor-loss chaos for the STREAMING topology (r11: completes the
  * process-boundary story — `ExecutorChaos` kills executors under batch
  * iterative queries, the streaming chaos specs kill the DRIVER; this
  * tool kills executor JVMs mid-micro-batch under `local-cluster` and
  * adjudicates the two documented delivery contracts against what
  * actually happens):
  *
  *  - `shardedlog_topology` ([[Topology.startEtlConsumer]], the
  *    PutRecords-style dest-stream path): each micro-batch is one map-only
  *    job whose source tasks decode their shard slice and append their own
  *    rows (`ShardedLogWriter.appendInPlace`, raw `appendLines` in bounded
  *    runs per destination shard). A task that is SIGKILLed after
  *    appending one or more runs but before registering completion is
  *    retried from its slice's start and re-appends those runs — the
  *    documented AT-LEAST-ONCE contract of the log writer. The batch has no
  *    shuffle, so there is no failure that writes nothing (a failed shuffle
  *    fetch before the appends): any retried source task may duplicate.
  *    Required invariant: ZERO LOSS
  *    (every produced key delivered); duplicates are recorded: the killed
  *    task may have appended any whole runs of its slice (whole lines,
  *    written in chunks) that the retry appends again, never a torn record
  *    (the per-shard file lock and line-aligned chunk writes guarantee line
  *    atomicity). The retry rewrites its `errors/` file under the same
  *    name, so dead letters do not duplicate.
  *  - `etlstream_filesink` ([[EtlStream.start]], the exactly-once
  *    upgrade): the JSON file sink goes through Spark's output committer
  *    (task temp files + rename on commit), so a killed task's partial
  *    output is discarded and the retry is the only visible write.
  *    Required invariant: ZERO LOSS and ZERO DUPLICATES.
  *
  * Each trial produces unique-keyed session payloads at a steady offered
  * rate from the driver, SIGKILLs one `CoarseGrainedExecutorBackend` at
  * two points mid-run (the standalone worker relaunches it), drains, and
  * counts delivered lines vs distinct keys via the connector's batch
  * read path.
  *
  * Usage: StreamExecutorChaos <outJson>
  * Env: SPARK_GRAFT_CHAOS_MASTER (default local-cluster[3,8,6144]),
  *      SPARK_GRAFT_CHAOS_RATE (default 8000 rec/s),
  *      SPARK_GRAFT_CHAOS_PRODUCE_SEC (default 40),
  *      SPARK_GRAFT_CHAOS_KILL_AT_SEC (default "12,28").
  */
object StreamExecutorChaos {

  private def countLines(f: File): Long = {
    if (!f.exists()) return 0L
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f))
    try {
      var n = 0L
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r > 0) {
        var i = 0
        while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
        r = in.read(buf)
      }
      n
    } finally in.close()
  }

  private def streamLines(dir: String): Long =
    ShardedLog.listShards(dir).map(s => countLines(new File(dir, s))).sum

  /** Lines across committed `part-*` files under a batch-JSON output tree
    * (skips `_temporary`/`_SUCCESS`) — the cheap drain poll; the final
    * stats use a real Spark read.
    */
  private def jsonPartLines(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0L
    var n = 0L
    val walk = Files.walk(root)
    try {
      walk.forEach { p =>
        val name = p.getFileName.toString
        if (Files.isRegularFile(p) && name.startsWith("part-") &&
          !p.toString.contains("_temporary")) n += countLines(p.toFile)
      }
    } finally walk.close()
    n
  }

  /** Valid session payload for [[graft.etl.SessionEtl]]; key sess-<i> is
    * globally unique per trial so distinct-key counts detect loss and
    * line-minus-distinct counts detect duplicates.
    */
  private def payload(i: Long): String = {
    val countries = Array("USA", "France", "Japan", "USA", "Brazil",
      "USA", "Germany", "USA", "India", "USA")
    val items = (0 until 1 + (i % 3).toInt).map { j =>
      s"""{"product_code": "P${i % 997}-$j", "quantity": ${1 + (i + j) % 5},
         | "in_shopping_cart": ${(i + j) % 2 == 0}}""".stripMargin
        .replace("\n", "")
    }.mkString("[", ", ", "]")
    s"""{"session_id": "sess-$i", "country": "${countries((i % 10).toInt)}",
       | "browse_history": $items}""".stripMargin.replace("\n", "")
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("chaos_stream_executor_kill.json")
    val master =
      sys.env.getOrElse("SPARK_GRAFT_CHAOS_MASTER", "local-cluster[3,8,6144]")
    val offeredRps = sys.env.getOrElse("SPARK_GRAFT_CHAOS_RATE", "8000").toInt
    val produceSec = sys.env.getOrElse("SPARK_GRAFT_CHAOS_PRODUCE_SEC", "40").toInt
    val killAtSec = sys.env.getOrElse("SPARK_GRAFT_CHAOS_KILL_AT_SEC", "12,28")
      .split(",").map(_.trim.toInt).toSeq

    val spark = GraftSession("spark.master" -> master,
      "spark.app.name" -> "graft-stream-executor-chaos",
      "spark.sql.shuffle.partitions" -> "24")

    val nExec = master match {
      case s if s.startsWith("local-cluster[") =>
        s.stripPrefix("local-cluster[").split(",")(0).toInt
      case _ => 1
    }
    def awaitExecutors(n: Int, timeoutMs: Long = 120000): Unit = {
      val t0 = System.currentTimeMillis()
      while (ExecutorChaos.executorPids().size < n &&
        System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(500)
    }
    awaitExecutors(nExec)

    case class TrialResult(trial: String, produced: Long, lines: Long,
      distinctKeys: Long, deadLetter: Long, kills: Seq[Long], sec: Double)
    val results = scala.collection.mutable.ArrayBuffer.empty[TrialResult]

    /** Run one trial: start `startQuery` over a fresh src stream, produce
      * for produceSec at offeredRps with SIGKILLs at killAtSec, drain
      * until `deliveredLines()` quiesces at >= produced, then stop and
      * return (produced, kills).
      */
    def runTrial(trial: String, base: java.nio.file.Path,
      startQuery: String => org.apache.spark.sql.streaming.StreamingQuery,
      deliveredLines: () => Long): (Long, Seq[Long]) = {
      val src = base.resolve("src").toString
      ShardedLog.createStream(src, 4)
      val query = startQuery(src)

      val produced = new AtomicLong(0L)
      val stop = new AtomicBoolean(false)
      val producer = new Thread(() => {
        val t0 = System.nanoTime()
        while (!stop.get()) {
          val meta = ShardedLog.shardMeta(src).filter(_.open)
          val start = produced.get()
          val now = System.currentTimeMillis()
          (start until start + 500).map { i =>
            val key = s"sess-$i"
            val h = ShardedLog.hash60(key)
            val shard = meta.find(s => s.start <= h && h < s.endEx).get.name
            (shard, (key, payload(i).getBytes("UTF-8"), now))
          }.groupBy(_._1).foreach { case (shard, recs) =>
            ShardedLog.appendLines(src, shard, recs.map(_._2))
          }
          val n = produced.addAndGet(500L)
          val aheadMs = n * 1000L / offeredRps - (System.nanoTime() - t0) / 1000000
          if (aheadMs > 0) Thread.sleep(aheadMs)
        }
      }, s"$trial-producer")

      val kills = scala.collection.mutable.ArrayBuffer.empty[Long]
      val killer = new Thread(() => {
        val t0 = System.currentTimeMillis()
        for (at <- killAtSec.sorted if !stop.get()) {
          val wait = t0 + at * 1000L - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          ExecutorChaos.executorPids().headOption.foreach { pid =>
            ProcessHandle.of(pid).ifPresent { h =>
              if (h.destroyForcibly()) {
                kills.synchronized(kills += pid)
                println(s"[stream-chaos] $trial killed executor pid=$pid " +
                  s"at t=${at}s")
              }
            }
          }
        }
      }, s"$trial-killer")
      killer.setDaemon(true)

      producer.start(); killer.start()
      Thread.sleep(produceSec * 1000L)
      stop.set(true); producer.join()
      val total = produced.get()

      // drain: delivered must reach produced AND hold still for 3 samples
      // (duplicates can push lines PAST produced — quiesce, don't equate)
      val deadline = System.currentTimeMillis() + 180000
      var last = -1L; var stable = 0
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        val got = deliveredLines()
        if (got >= total && got == last) stable += 1
        else stable = 0
        last = got
        Thread.sleep(1000)
      }
      query.stop()
      (total, kills.synchronized(kills.toSeq))
    }

    // ---- trial 1: sharded-log dest streams (at-least-once contract) ----
    locally {
      val base = Files.createTempDirectory("graft-schaos-log")
      def dir(n: String) = base.resolve(n).toString
      Seq("usa", "intl").foreach(d => ShardedLog.createStream(dir(d), 2))
      val t0 = System.nanoTime()
      val (total, kills) = runTrial("shardedlog_topology", base,
        src => Topology.startEtlConsumer(spark, src,
          Map("usa" -> dir("usa"), "international" -> dir("intl")),
          dir("errors"), dir("ckpt"), Trigger.ProcessingTime("1 second"),
          maxRecordsPerPoll = 1000000),
        () => streamLines(dir("usa")) + streamLines(dir("intl")))
      val delivered = Seq("usa", "intl").map { d =>
        spark.read.format(ShardedLogSource.ShortName)
          .option("path", dir(d)).load()
          .agg(count(lit(1)).as("n"),
            countDistinct(col("partition_key")).as("k"))
          .collect()(0)
      }
      val lines = delivered.map(_.getLong(0)).sum
      val keys = delivered.map(_.getLong(1)).sum
      val deadDir = new File(dir("errors"))
      val dead = if (!deadDir.exists()) 0L
        else Try(spark.read.json(dir("errors")).count()).getOrElse(0L)
      results += TrialResult("shardedlog_topology", total, lines, keys,
        dead, kills, (System.nanoTime() - t0) / 1e9)
      println(f"[stream-chaos] shardedlog_topology produced=$total " +
        f"lines=$lines distinct=$keys dead=$dead dup=${lines - keys}")
    }

    // ---- trial 2: EtlStream JSON file sink (exactly-once contract) ----
    locally {
      val base = Files.createTempDirectory("graft-schaos-file")
      val out = base.resolve("out").toString
      val t0 = System.nanoTime()
      val (total, kills) = runTrial("etlstream_filesink", base,
        src => EtlStream.start(
          Topology.readStream(spark, src, maxRecordsPerPoll = 1000000),
          out, base.resolve("ckpt").toString,
          trigger = Trigger.ProcessingTime("1 second"), keyPartitions = 6),
        () => jsonPartLines(s"$out/data"))
      val stats = spark.read.json(s"$out/data")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("session_id")).as("k"))
        .collect()(0)
      val dead = Try(spark.read.json(s"$out/errors").count()).getOrElse(0L)
      results += TrialResult("etlstream_filesink", total, stats.getLong(0),
        stats.getLong(1), dead, kills, (System.nanoTime() - t0) / 1e9)
      println(f"[stream-chaos] etlstream_filesink produced=$total " +
        f"lines=${stats.getLong(0)} distinct=${stats.getLong(1)} " +
        f"dead=$dead dup=${stats.getLong(0) - stats.getLong(1)}")
    }

    def js(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = results.map { r =>
      s"""  {"trial":${js(r.trial)},"produced":${r.produced},""" +
        s""""delivered_lines":${r.lines},""" +
        s""""distinct_keys":${r.distinctKeys},""" +
        s""""duplicates":${r.lines - r.distinctKeys},""" +
        s""""lost":${r.produced - r.distinctKeys},""" +
        s""""dead_letter":${r.deadLetter},""" +
        s""""executors_killed":${r.kills.size},""" +
        s""""sec":${f"${r.sec}%.1f"}}"""
    }.mkString(",\n")
    val json =
      s"""{${Provenance.stamp("stream-executor-kill-chaos")},
         | "master": ${js(master)}, "offered_rps": $offeredRps,
         | "produce_sec": $produceSec,
         | "kill_at_sec": [${killAtSec.mkString(",")}],
         | "trials": [
         |$rows
         | ]}
         |""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(s"[stream-chaos] wrote $outJson")
    spark.stop()

    // contracts: zero loss everywhere; exactly-once on the file sink
    val lossy = results.filter(r => r.produced != r.distinctKeys)
    require(lossy.isEmpty, "record LOSS under executor kill: " +
      lossy.map(r => s"${r.trial} lost ${r.produced - r.distinctKeys}")
        .mkString(", "))
    results.find(_.trial == "etlstream_filesink").foreach { r =>
      require(r.lines == r.distinctKeys,
        s"file-sink path must be exactly-once, saw ${r.lines - r.distinctKeys} duplicates")
    }
  }
}
