package graft
import scala.collection.mutable
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER=local-cluster[...] benches the full surface with
    // executors in their own JVMs (the r11 process-boundary work) to
    // quantify multi-JVM serialization/fetch overhead vs the canonical
    // single-JVM numbers. Non-default masters NEVER write the canonical
    // snapshot files (guard below).
    val spark = GraftSession()
    val master = spark.sparkContext.master
    // The between-query unpersist below drops locally-checkpointed
    // blocks ON PURPOSE (the query is finished; nothing will recompute
    // them), but RDD.unpersist logs a per-RDD lineage WARN for each —
    // the iterative family emits dozens per pass and they bury real
    // warnings in the bench tail. Silence exactly that MESSAGE with a
    // DENY RegexFilter on the emitting class's logger — NOT a level
    // change, which would also hide that class's real memory-pressure
    // warnings during canonical runs (r15 advice). Everything else in
    // org.apache.spark stays at WARN.
    locally {
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val lc = new LoggerConfig("org.apache.spark.rdd.MapPartitionsRDD",
        org.apache.logging.log4j.Level.WARN, true)
      lc.addFilter(RegexFilter.createFilter(
        ".*was locally checkpointed, its lineage has been truncated.*",
        null, java.lang.Boolean.FALSE, Result.DENY, Result.NEUTRAL))
      ctx.getConfiguration
        .addLogger("org.apache.spark.rdd.MapPartitionsRDD", lc)
      ctx.updateLoggers()
    }
    // Warm the session (codegen compiler, shuffle machinery, parquet
    // footer reader) so the first timed query isn't charged for JVM
    // startup costs.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // Dev knobs (driver leaves these unset): SPARK_GRAFT_ONLY=a,b runs a
    // subset; SPARK_GRAFT_REPEAT=N runs the surface N times and keeps each
    // query's minimum (isolates plan cost from box noise). Default is
    // min-of-3: four consecutive rounds the single-shot driver artifact
    // was noise-dominated (r8: 773 s recorded vs 182 s same-day steady
    // state, a 4.3x error) — the ~3x wall-clock cost buys the only number
    // that survives between rounds being the reproducible one.
    //
    // The repeats are INTERLEAVED — N sequential full-surface passes with
    // per-query minima taken across passes — not N back-to-back runs of
    // each query. Back-to-back repeats share one box-contention window
    // (GC pause, page-cache eviction, a cron neighbor), so a query that
    // lands in a bad window records an inflated value in ALL its repeats
    // and min-of-3 cannot save it (r9 artifact: six queries at 2-5.7x
    // their same-day steady-state minima). Spreading a query's repeats
    // ~minutes apart decorrelates the noise at identical total cost.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val surface = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq
    val best = mutable.LinkedHashMap.empty[String, Double]
    for (_ <- 1 to repeat; (name, fn) <- surface) {
      val t0 = System.nanoTime()
      // Materialize through the no-op SINK, not count(): under count()
      // Catalyst prunes every output column nobody references, and for a
      // pure-aggregate query that deletes the aggregate expressions
      // themselves — sketch_countmin at ×1000 measured 12.9 s under
      // count() vs 346.3 s under noop on identical data (the CMS update
      // loop had been optimized away entirely, r11). The noop sink
      // consumes every output column of every row and writes nothing —
      // the benchmark-standard way to time the plan the user declared.
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case _: Throwable => false }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val t = if (ok) elapsed else -1.0 // min keeps the error marker
      best.updateWith(name) {
        case Some(prev) => Some(math.min(prev, t))
        case None => Some(t)
      }
      // Drop the query's localCheckpoint blocks before the next query
      // runs. ContextCleaner frees them only when the driver GCs the
      // RDD handles, so across a 286-query pass the block manager
      // accumulates gigabytes of dead blocks — by the tail of the
      // run new checkpoints evict/spill and the iterative family
      // (checkpoint-heavy by design) measures 1.5-1.7x slower than
      // the same binary in isolation (the r7 "bench variance"
      // mystery). Each query is an independent job on a real
      // cluster; clearing session-cached state between them is the
      // like-for-like measurement.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    val results = best
    // r19: the summary line carries the FULL per-query map (slowest
    // first, 3-decimal, no spaces — ~8 KB for 286 queries). The r17
    // driver capture truncated a tail and took the whole round-over-
    // round comparison dark (PERF_r18 `prev_bench_ok: false`); a top-40
    // line saved ~6 KB but made every omitted query unconmparable by
    // design. `omitted`/`omitted_sec` stay as keys (now 0) so no field a
    // reader knows disappears; adding `queries` entries is explicitly
    // allowed by the driver contract.
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // errors (-1 markers) stay visible per-query but must not DEDUCT from
    // the headline total a cross-round reader compares
    val total = results.values.filter(_ >= 0).sum
    val nErrors = results.values.count(_ < 0)
    val bySlow = results.toSeq.sortBy(-_._2)
    val qs = bySlow.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,""" +
        s""""omitted":0,"omitted_sec":0.000,""" +
        s""""n_queries":${results.size},"n_errors":$nErrors,"sf":"$sfDir",""" +
        Provenance.stamp(s"interleaved-min-of-$repeat") + "}"
    try {
      val full = results.toSeq.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      val line =
        s"""{${Provenance.stamp(s"interleaved-min-of-$repeat")},""" +
          s""""total":${f(total)},""" +
          s""""n":${results.size},"repeat":$repeat,"sf":"$sfDir",""" +
          s""""master":"$master","queries":$full}"""
      // APPEND-ONLY history (every run, incl. dev subsets) so
      // round-over-round comparisons never need git archaeology on an
      // overwritten snapshot
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_history.jsonl"), line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      // The latest-run SNAPSHOT files are only written by FULL-surface
      // runs AT THE CANONICAL SCALE FACTOR: a dev SPARK_GRAFT_ONLY subset
      // (or a scale/skew-stress run on a replica dir — those are full
      // surface too) must not clobber the canonical committed snapshots
      // — exactly the lint_report_latest.json rule in Verify. (r10: the
      // x100 single-query stress runs silently replaced the 286-query
      // snapshots with 1-query files; r10 advice: a full run with
      // SF_DIR on a replica dir would still have slipped the guard.)
      val canonicalSf =
        java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString ==
          "/root/testdata/sf0.1"
      // ... and only under the default single-JVM master: a local-cluster
      // overhead measurement is a different protocol, history-only.
      // Compare the RESOLVED master, not env-var presence, so
      // SPARK_GRAFT_MASTER=local[N] (protocol-identical to the default)
      // still writes the snapshot (r12 advice).
      val canonicalMaster = master == s"local[${GraftSession.cpus}]"
      if (only.isEmpty && canonicalSf && canonicalMaster) {
        // ATOMIC replace (temp + move): the driver's round artifact
        // parses these files while/after the bench runs — a plain
        // truncate-then-write exposes a torn half-file to any
        // concurrent reader, which is exactly the recurring
        // `parsed: null` failure mode (r16 punch item 8). The summary
        // file is the canonical machine-readable output; the stdout
        // line is for humans and bounded log tails.
        def atomicWrite(name: String, content: String): Unit = {
          val dir = java.nio.file.Paths.get(".").toAbsolutePath
          val tmp = java.nio.file.Files.createTempFile(dir, name, ".tmp")
          // a failed write/move must not strand *.tmp litter in the
          // working tree (it would sit next to tracked snapshots and
          // can end up committed — r17 advice)
          try {
            java.nio.file.Files.writeString(tmp, content)
            java.nio.file.Files.move(tmp, dir.resolve(name),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          } finally java.nio.file.Files.deleteIfExists(tmp)
        }
        atomicWrite("bench_queries_full.json", line)
        atomicWrite("bench_summary.json", summary)
      }
    } catch { case _: Throwable => () }
    println(summary)
    spark.stop()
  }
}
