package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER=local-cluster[4,8,8192] is the r11
    // process-boundary gate: executors run as SEPARATE JVMs, exercising
    // task serialization, closure capture and remote shuffle/block fetch
    // that the single-JVM local[n] regime structurally cannot (the r10
    // x100 stress found a Kryo-spill defect class ten rounds in for
    // exactly this reason). GraftSession wires the executors.
    //
    // SPARK_GRAFT_ANSI: the r12 overflow sweep knob. Spark 4's DEFAULT is
    // ansi=true (loud casts), and the canonical gate keeps that default —
    // the conf is only set when the env var is present.
    // SPARK_GRAFT_ANSI=false runs the PERMISSIVE direction (value
    // divergence would surface as oracle hash mismatches). r12 ran both
    // directions: 286/286 hash-identical each way. CAVEAT found while
    // sweeping: `div` (IntegralDivide) on DECIMAL operands returns LONG
    // and WRAPS SILENTLY under BOTH ANSI settings in 4.1.2 — a clean ANSI
    // run does NOT certify div-based fixed-point emissions; their safety
    // rests on the documented bound arguments (README r12 table) and the
    // periodic ×100 oracle replays (which is how the r11 covariance-drift
    // wrap was actually caught).
    val spark = GraftSession(Seq(
      // write µs timestamps (not INT96) so result parquet dtypes match
      // the oracle's arrow schema
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      GraftSession.periodicGC) ++
      sys.env.get("SPARK_GRAFT_ANSI").map("spark.sql.ansi.enabled" -> _): _*)
    new java.io.File(outDir).mkdirs()
    // Dev-only subset knob (mirrors Bench): SPARK_GRAFT_ONLY=q1,q2 runs and
    // dumps just those queries' results + oracle SQL. The driver never sets
    // it, so the gate always sees the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Fail loudly on a typo'd name (a silent no-match would produce a
    // green-looking but partial dump), and make any subset run visibly
    // non-canonical.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
      System.err.println(
        s"[verify] SUBSET RUN (${names.size}/${SparkEntry.queries.size}): " +
          names.toSeq.sorted.mkString(", "))
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // Dtype lint (VERDICT r6): an output column typed decimal(p>18)
    // hashes differently from the oracle's BIGINT even with identical
    // values — collect violators while dumping, fail loudly at the end.
    val lintViolations = scala.collection.mutable.ListBuffer.empty[String]
    // machine-readable sidecar (VERDICT r7/r8 minor): the violation and
    // failure lists as JSON next to the dumps, so driver/judge tooling
    // parses a file instead of scraping stderr/README
    val wideDecimalJson = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val schemaPinJson = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val failedJson = scala.collection.mutable.ListBuffer.empty[(String, String)]
    // r7 generalization: every query's full output schema (names +
    // dtypes — catches int32-vs-int64 and timestamp NTZ/LTZ drift, not
    // just wide decimals) must match the checked-in pin snapshot.
    val pinned = DtypeLint.loadPinned()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val wide = DtypeLint.wideDecimalColumns(df)
        if (wide.nonEmpty) {
          lintViolations += s"$name: ${wide.mkString(", ")}"
          wideDecimalJson += name -> wide.mkString(", ")
          System.err.println(
            s"[verify] DTYPE LINT: $name emits decimal(p>18) columns " +
              s"${wide.mkString(", ")} — cast the finals to BIGINT " +
              "(see DtypeLint.scala)")
        }
        DtypeLint.schemaViolation(name, df, pinned).foreach { v =>
          lintViolations += v
          schemaPinJson += name -> v
          System.err.println(s"[verify] SCHEMA PIN: $v")
        }
        // No coalesce(1): it used to collapse the dump into one task for
        // a single output file, which after the r12 orderedBelow reshape
        // would run every heavy projection ABOVE the range exchange
        // serially (the whole point of the reshape was to run it in
        // parallel map tasks once). The compare is order-independent
        // (rows sorted by all columns on both sides) and every reader
        // globs the part files, so a multi-file dump is equivalent —
        // and the heavy x10/x100 dumps keep full parallelism.
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        // per-query wall time on stdout (progress, not an error: sbt's
        // forked run shows stderr lines as `[error]`): at non-gate scales
        // (x10/x100 stress, local-cluster demos) the dump IS the timing
        // source, and external dir-mtime reconstruction kept being the
        // workaround
        println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch { case e: Throwable =>
        failedJson += name -> String.valueOf(e.getMessage)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val lintJson =
      s"""{"n_queries": ${SparkEntry.queries.count(kv => selected(kv._1))},""" +
        s""" "sf_dir": ${q(sfDir)}, "out_dir": ${q(outDir)},""" +
        s""" ${Provenance.stamp("verify-dtype-lint")},""" +
        s""" "autoscale_decisions": ${Autoscale.decisionsJson},""" +
        s""" "wide_decimal": ${obj(wideDecimalJson.toSeq)},""" +
        s""" "schema_pin": ${obj(schemaPinJson.toSeq)},""" +
        s""" "failed": ${obj(failedJson.toSeq)}}"""
    Files.writeString(Paths.get(s"$outDir/lint_report.json"), lintJson)
    // also drop a copy in the cwd (the driver runs from the repo root,
    // like Bench's artifacts) so the gate-time lint status is versioned
    // and diffable across rounds — r9 judge nit: Verify wrote the report
    // only to its outDir, which is never committed. Full GATE-SCALE runs
    // only: a dev SPARK_GRAFT_ONLY subset must not overwrite the
    // canonical file, and (r10 advice) neither may a full-surface replay
    // at another scale — round_artifacts.sh step 5 (sf0.1 replay) was
    // silently replacing the step-2 sf0.01 gate report. The embedded
    // sf_dir/out_dir fields make any slip diagnosable from the artifact.
    val gateScale =
      Paths.get(sfDir).toAbsolutePath.normalize.toString ==
        "/root/testdata/sf0.01"
    // ... and never from an ANSI-sweep run (either direction): an
    // explicitly-set SPARK_GRAFT_ANSI means non-default semantics —
    // its findings are the sweep's, not gate regressions.
    val canonicalSemantics = !sys.env.contains("SPARK_GRAFT_ANSI")
    if (only.isEmpty && gateScale && canonicalSemantics)
      try Files.writeString(Paths.get("lint_report_latest.json"), lintJson)
      catch { case _: Throwable => () }
    spark.stop()
    // Fail AFTER all dumps + oracle json are on disk so a violation is
    // loud (non-zero exit) without hiding the rest of the gate's data.
    require(lintViolations.isEmpty,
      "dtype lint violations (wide-decimal outputs / schema-pin drift):\n  " +
        lintViolations.mkString("\n  "))
  }
}
