package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{GraftSession, SparkEntry}

/** Dev-only per-stage profiler: runs queries with a stage listener and
  * flags UNDERPARALLELIZED HOT stages — long wall-clock on ≤4 tasks at
  * local[n]. That shape is almost always AQE coalescing a small-bytes
  * shuffle that feeds a row-explosion (self-join, posting-list join,
  * fan-out scoring): AQE sizes post-shuffle partitions by input bytes
  * and cannot see output fan-out, so the query's heaviest work
  * serializes onto 1-2 tasks (the copurchase_recall_at_k r8 finding —
  * 15.3 → 7.3 s from pinning explicit fan-out parallelism). Fix
  * pattern: explicit numbered `repartition(n, key)` feeding the
  * explosion stage.
  *
  * Flagged stages are CLASSIFIED: a stage with zero shuffle-read bytes
  * is a LEAF (scan) stage — the driver's testdata ships each table as
  * ONE parquet row group, so a leaf scan is structurally 1 task (Spark
  * can split parquet only at row-group boundaries) and is inherent,
  * not a plan defect. Only post-shuffle (`leaf=false`) flags indicate
  * a fixable underparallelization.
  *
  * Modes:
  *   SPARK_GRAFT_ONLY=a,b,c   profile just those queries (default: the
  *                            historical heavy set)
  *   SPARK_GRAFT_ONLY=ALL     full-surface sweep over every gated query
  *   SPARK_GRAFT_PROFILE_OUT  also write a machine-readable JSON artifact
  *                            (per-query sec + flagged stages + summary)
  *   SPARK_GRAFT_PROFILE_TOP  print top stages even when not flagged
  */
object ProfileStages {
  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => Seq("containment_pairs", "label_propagation",
        "link_predict_users", "knn_graph_grams", "dedup_incremental",
        "triangle_count", "source_overlap_matrix", "neighbor_degree_function")
    }
    val spark = GraftSession(
      "spark.app.name" -> "profile-stages", GraftSession.periodicGC)

    // Leaf classification keys on RAW shuffle-read bytes, not the
    // MB-rounded display value: the defects this sweep hunts are
    // precisely small-bytes shuffles (the fixed interpolate_linear
    // exchange was ~1 MB), so a 0.9 MB post-shuffle stage rounded to
    // shufRMb==0 must NOT be misfiled as an inherent leaf scan.
    case class St(id: Int, ms: Long, tasks: Int, shufWMb: Long,
                  shufRBytes: Long, name: String) {
      def shufRMb: Long = shufRBytes / 1048576
      def leaf: Boolean = shufRBytes == 0 && !name.contains("Exchange")
    }
    val stages = mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val sr = si.taskMetrics.shuffleReadMetrics
        stages.synchronized {
          stages += St(si.stageId, ms, si.numTasks,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1048576,
            sr.remoteBytesRead + sr.localBytesRead,
            si.name.takeWhile(_ != '\n').take(60))
        }
      }
    })

    // (query, sec, flaggedStages)
    val results = mutable.ArrayBuffer.empty[(String, Double, List[St])]
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"!! unknown query: $name")
        case Some(fn) =>
          stages.synchronized(stages.clear())
          val t0 = System.nanoTime()
          try {
            // noop sink, not count(): count() lets Catalyst prune unread
            // output expressions (incl. whole aggregate functions), so a
            // count-driven sweep profiles the PRUNED plan, not the one
            // the gate executes (see Bench — r11 countmin 12.9 vs 346 s)
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val total = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300)
            val snap = stages.synchronized(stages.sortBy(-_.ms).toList)
            val hot = snap.filter(s => s.ms > 500 && s.tasks <= 4)
            results += ((name, total, hot))
            val flag =
              if (hot.exists(!_.leaf)) "  <-- UNDERPARALLELIZED"
              else if (hot.nonEmpty) "  (leaf-only: one-row-group scan)"
              else ""
            println(f"QUERY $name%-28s ${total}%6.2f s$flag")
            hot.foreach(s => println(
              f"    stage ${s.id}%4d ${s.ms}%6d ms on ${s.tasks}%2d tasks, " +
                f"shufW=${s.shufWMb}%4d MB shufR=${s.shufRMb}%4d MB " +
                f"leaf=${s.leaf} ${s.name}"))
            // top stages by wall-clock regardless of task count, for
            // finding where an already-parallel query spends its time
            if (sys.env.contains("SPARK_GRAFT_PROFILE_TOP"))
              snap.takeWhile(_.ms > 200).take(8).foreach(s => println(
                f"    top stage ${s.id}%4d ${s.ms}%6d ms on ${s.tasks}%3d " +
                  f"tasks, shufW=${s.shufWMb}%4d MB shufR=${s.shufRBytes}%d B " +
                  s"${s.name}"))
          } catch { case e: Throwable =>
            results += ((name, -1.0, Nil))
            println(s"QUERY $name FAILED: ${e.getMessage}")
          }
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // the depth-mode iterative ops leave their FINAL scratch
          // generation behind (the returned plan scans it lazily, so the
          // drop must follow the action above) — ~10 GB per ×1000 query
          // if left to the next run's leftover sweep (r15 advice)
          graft.storage.Bucketing.dropScratch(spark)
      }
    }

    sys.env.get("SPARK_GRAFT_PROFILE_OUT").foreach { out =>
      val post = results.filter(_._3.exists(!_.leaf)).map(_._1)
      val leafOnly = results.filter(r => r._3.nonEmpty && r._3.forall(_.leaf))
        .map(_._1)
      val qjson = results.sortBy(_._1).map { case (n, sec, hot) =>
        val stagesJson = hot.map(s =>
          s"""{"id":${s.id},"ms":${s.ms},"tasks":${s.tasks},""" +
            s""""shuf_write_mb":${s.shufWMb},"shuf_read_mb":${s.shufRMb},""" +
            s""""shuf_read_bytes":${s.shufRBytes},""" +
            s""""leaf":${s.leaf},"name":${js(s.name)}}""").mkString(",")
        // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
        val secStr = String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))
        s"""  ${js(n)}: {"sec": $secStr, "flagged": [$stagesJson]}"""
      }.mkString(",\n")
      val json =
        s"""{
           | "sf_dir": ${js(sfDir)},
           | ${graft.Provenance.stamp("stage-profile-sweep")},
           | "n_queries": ${results.size},
           | "flag_rule": "stage wall-clock > 500 ms on <= 4 tasks",
           | "autoscale_decisions": ${graft.Autoscale.decisionsJson},
           | "underparallelized_post_shuffle": [${post.sorted.map(js).mkString(", ")}],
           | "leaf_only_flags": [${leafOnly.sorted.map(js).mkString(", ")}],
           | "queries": {
           |$qjson
           | }
           |}
           |""".stripMargin
      Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $out: post-shuffle flags=${post.size}, " +
        s"leaf-only=${leafOnly.size}")
    }
    spark.stop()
  }
}
