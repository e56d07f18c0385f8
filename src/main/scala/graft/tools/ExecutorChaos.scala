package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{Checkpoints, GraftSession, Provenance, SparkEntry}

/** Executor-loss chaos harness for the iterative query family (r11 judge
  * item 2): under `local-cluster` (executors in their OWN JVMs), kill -9
  * one executor mid-query and adjudicate the two documented lineage
  * policies against each other:
  *
  *  - `localCheckpoint` (default): blocks live only in executor memory/
  *    disk and are NOT replayable — Checkpoints.scala documents executor
  *    loss as restart-from-scratch semantics. Expected outcome here:
  *    the job FAILS (checkpoint block lost) or, when every needed block
  *    happened to sit on surviving executors, completes; either way the
  *    observed outcome is recorded, not assumed.
  *  - `spark.graft.reliableCheckpoint=true`: lineage is materialized to
  *    a shared checkpoint dir (stand-in for HDFS/S3), so the re-launched
  *    executor re-reads checkpoint files and the query MUST complete
  *    with output hash-identical to an undisturbed run.
  *
  * Per (query, mode) trial: a clean run pins the expected row-hash, then
  * a chaos run arms a killer that waits for `minStages` stage
  * completions (so the kill lands after iteration state exists, not
  * during the first scan) and SIGKILLs one `CoarseGrainedExecutorBackend`
  * process. The standalone worker re-launches the executor; the trial
  * records completed/failed, wall time, and whether the output hash
  * matches the clean run.
  *
  * A second, optional query list exercises the OTHER recovery contract
  * (r11): queries with NO lineage truncation at all — pure shuffle
  * lineage over a re-readable parquet source. For those, Spark's stage
  * retry + shuffle-fetch-failure recomputation must self-heal through
  * the kill with NO flag: the trial (mode `shuffleRetry`) requires
  * completed + hash-identical, same bar as reliableCheckpoint.
  *
  * Usage:
  *   ExecutorChaos <sfDir> <outJson> <iterQ1,iterQ2,...> [statelessQ1,...]
  * Env: SPARK_GRAFT_CHAOS_MIN_STAGES (default 4),
  *      SPARK_GRAFT_CHAOS_MASTER (default local-cluster[3,8,6144]).
  */
object ExecutorChaos {

  /** PIDs of live worker-launched executor JVMs (via /proc — more
    * reliable than ProcessHandle.info on minimal containers). Shared with
    * [[StreamExecutorChaos]], the streaming face of the same harness.
    */
  private[graft] def executorPids(): Seq[Long] = {
    val self = ProcessHandle.current().pid()
    val procDir = new java.io.File("/proc")
    procDir.listFiles((f: java.io.File) => f.getName.forall(_.isDigit))
      .toSeq
      .flatMap { f =>
        val pid = f.getName.toLong
        if (pid == self) None
        else Try {
          val cmd = new String(
            Files.readAllBytes(Paths.get(s"/proc/$pid/cmdline")), "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend")) Some(pid) else None
        }.toOption.flatten
      }
  }

  private def md5Rows(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val d = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => d.update(r.getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ExecutorChaos <sfDir> <outJson> <iterCsv> [statelessCsv]")
    val Array(sfDir, outJson, queryCsv) = args.take(3)
    def parseCsv(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = parseCsv(queryCsv)
    val stateless = if (args.length == 4) parseCsv(args(3)) else Seq.empty
    val unknown = (queries ++ stateless).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val minStages = sys.env.getOrElse("SPARK_GRAFT_CHAOS_MIN_STAGES", "4").toInt
    val master =
      sys.env.getOrElse("SPARK_GRAFT_CHAOS_MASTER", "local-cluster[3,8,6144]")

    // chaos runs MUST tolerate task retry storms from the dying executor;
    // keep Spark's defaults for maxFailures (4) so the localCheckpoint
    // failure mode is the documented one, not a tuned-down artifact.
    val spark = GraftSession("spark.master" -> master,
      "spark.app.name" -> "graft-executor-chaos",
      "spark.sql.shuffle.partitions" -> "24")

    // stage-completion counter drives kill timing
    val stagesDone = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stagesDone.incrementAndGet()
    })

    def awaitExecutors(n: Int, timeoutMs: Long = 120000): Unit = {
      val t0 = System.currentTimeMillis()
      while (executorPids().size < n &&
        System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(500)
    }

    val nExec = master match {
      case s if s.startsWith("local-cluster[") =>
        s.stripPrefix("local-cluster[").split(",")(0).toInt
      case _ => 1
    }
    awaitExecutors(nExec)

    case class Trial(query: String, mode: String, outcome: String,
      hashMatch: Option[Boolean], killedPid: Option[Long], sec: Double)
    val trials = scala.collection.mutable.ArrayBuffer.empty[Trial]

    def runOnce(name: String, chaos: Boolean): (String, Option[Long], Double,
      Option[String]) = {
      val fn = SparkEntry.queries(name)
      val baseline = stagesDone.get()
      val killed = new java.util.concurrent.atomic.AtomicLong(-1L)
      // cancel guard: if the query completes before minStages stages, the
      // killer must NOT fire late and poison the next trial
      val cancel = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killer = if (chaos) {
        val t = new Thread(() => {
          val deadline = System.currentTimeMillis() + 180000
          while (!cancel.get() && stagesDone.get() - baseline < minStages &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
          if (!cancel.get())
            executorPids().headOption.foreach { pid =>
              ProcessHandle.of(pid).ifPresent { h =>
                if (h.destroyForcibly()) killed.set(pid)
              }
            }
        }, "executor-killer")
        t.setDaemon(true); t.start(); Some(t)
      } else None
      val t0 = System.nanoTime()
      val res = Try(md5Rows(fn(spark, sfDir)))
      val sec = (System.nanoTime() - t0) / 1e9
      cancel.set(true)
      killer.foreach(_.join(1000))
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      res.fold(
        e => ("failed: " + String.valueOf(e.getMessage).linesIterator
          .take(1).mkString.take(300),
          Some(killed.get()).filter(_ > 0), sec, None),
        h => ("completed", Some(killed.get()).filter(_ > 0), sec, Some(h)))
    }

    val ckptDir = Files.createTempDirectory("graft-chaos-ckpt").toString
    for (name <- queries) {
      // clean reference hash (localCheckpoint default; result is policy-
      // independent — both policies compute identical outputs)
      spark.conf.set(Checkpoints.Flag, "false")
      val (cleanOut, _, cleanSec, cleanHash) = runOnce(name, chaos = false)
      require(cleanOut == "completed" && cleanHash.isDefined,
        s"clean run of $name failed: $cleanOut")
      trials += Trial(name, "clean", cleanOut, None, None, cleanSec)
      println(f"[chaos] $name clean: $cleanSec%.1f s hash=${cleanHash.get}")

      for (mode <- Seq("localCheckpoint", "reliableCheckpoint")) {
        spark.conf.set(Checkpoints.Flag,
          (mode == "reliableCheckpoint").toString)
        if (mode == "reliableCheckpoint")
          spark.sparkContext.setCheckpointDir(ckptDir)
        awaitExecutors(nExec) // full strength before arming the killer
        val (out, pid, sec, hash) = runOnce(name, chaos = true)
        val hm = hash.map(_ == cleanHash.get)
        trials += Trial(name, mode, out, hm, pid, sec)
        println(f"[chaos] $name $mode: $out killed=${pid.getOrElse(-1L)} " +
          f"$sec%.1f s hashMatch=${hm.getOrElse("n/a")}")
        // give the worker time to re-launch the killed executor
        awaitExecutors(nExec)
      }
    }

    // stateless queries: no lineage truncation anywhere in the plan, so
    // the ONLY recovery mechanism is Spark's own stage retry / shuffle-
    // fetch-failure recomputation from the re-readable parquet source —
    // which must succeed with no flag, hash-identical.
    spark.conf.set(Checkpoints.Flag, "false")
    for (name <- stateless) {
      val (cleanOut, _, cleanSec, cleanHash) = runOnce(name, chaos = false)
      require(cleanOut == "completed" && cleanHash.isDefined,
        s"clean run of $name failed: $cleanOut")
      trials += Trial(name, "clean", cleanOut, None, None, cleanSec)
      println(f"[chaos] $name clean: $cleanSec%.1f s hash=${cleanHash.get}")
      awaitExecutors(nExec)
      val (out, pid, sec, hash) = runOnce(name, chaos = true)
      val hm = hash.map(_ == cleanHash.get)
      trials += Trial(name, "shuffleRetry", out, hm, pid, sec)
      println(f"[chaos] $name shuffleRetry: $out killed=${pid.getOrElse(-1L)} " +
        f"$sec%.1f s hashMatch=${hm.getOrElse("n/a")}")
      awaitExecutors(nExec)
    }

    def js(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = trials.map { t =>
      s"""  {"query":${js(t.query)},"mode":${js(t.mode)},""" +
        s""""outcome":${js(t.outcome)},""" +
        s""""hash_match":${t.hashMatch.map(_.toString).getOrElse("null")},""" +
        s""""killed_pid":${t.killedPid.getOrElse(-1L)},""" +
        s""""sec":${f"${t.sec}%.1f"}}"""
    }.mkString(",\n")
    val reliableBad = trials.filter(t =>
      (t.mode == "reliableCheckpoint" || t.mode == "shuffleRetry") &&
        (t.outcome != "completed" || !t.hashMatch.contains(true)))
    val json =
      s"""{${Provenance.stamp("executor-kill-chaos")},
         | "sf_dir": ${js(sfDir)}, "master": ${js(master)},
         | "min_stages_before_kill": $minStages,
         | "reliable_mode_failures": ${reliableBad.size},
         | "trials": [
         |$rows
         | ]}
         |""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(s"[chaos] wrote $outJson")
    spark.stop()
    require(reliableBad.isEmpty,
      "reliableCheckpoint/shuffleRetry trials must complete " +
        "hash-identical; failed: " + reliableBad.map(_.query).mkString(", "))
  }
}
