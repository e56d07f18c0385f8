package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Bounded-scratch K-pass runner for the gram-posting family
  * (`suffix_dup_spans`, `source_overlap_matrix`) at depth scales whose
  * single-pass posting shuffle exceeds one box's disk.
  *
  * The gated queries keep their optimal one-pass plan — one gram-keyed
  * exchange of Θ(corpus chars) fixed-width (h1, h2) postings, which a
  * cluster absorbs as ~mass/N per executor. On ONE box that mass is the
  * binding constraint: at ×1000 (5 M docs, 2.75e9 chars) the exchange
  * needs ~60 GB of shuffle scratch even after the r14 fixed-width-key
  * rewrite (the raw-string postings needed ~2.3× more and died at the
  * same wall), and this box dies loudly at ~50 GB. The provisioning
  * answer a pipeline actually uses is HASH-RANGE PASSES: pass p
  * processes only postings with `pmod(h1, K) = p` — a map-side
  * predicate on the already-computed key, so every pass streams the
  * corpus once and shuffles mass/K — writes its per-doc (or per-mask)
  * partial, and releases its shuffle files before the next pass starts
  * (separate jobs: the ContextCleaner drops shuffle state once the
  * pass's lineage is unreferenced; a System.gc() makes that prompt).
  * Partials are additive because each gram lands in EXACTLY one pass:
  * per-doc position counts sum, per-mask histograms sum.
  *
  * Peak scratch is ~mass/K + the pre-split corpus (written once) —
  * the knob that turns "needs a cluster" into "needs K sequential
  * passes", with K chosen from available disk, identical results.
  *
  * Usage: BoundedScratch <sfDir> <suffix|overlap> [outJson]
  * Env: SPARK_GRAFT_PASSES (default: AUTO — derived by [[PassBudget]]
  *      from the corpus leaf mass and scratch headroom, so a ×1000 run
  *      needs no pass-count arg), SPARK_GRAFT_CPUS (default 4),
  *      SPARK_GRAFT_CHECK=1 cross-checks the K-pass result against the
  *      gated one-pass query (use at a scale where one-pass fits).
  */
object BoundedScratch {

  private val G = 30

  /** One-pass posting-exchange mass per byte of documents.parquet:
    * measured at ×1000 — 0.90 GB zstd corpus → 67.6 GB of fixed-width
    * (doc_id, source, h1, h2) posting shuffle (`x1000_gram_r14.json`;
    * the map-output mass is K-invariant, every gram is shuffled exactly
    * once, so Σ per-pass shuffle = the one-pass mass). Distribution-
    * dependent: overridable via SPARK_GRAFT_POSTING_EXPANSION, and a
    * badly-off value is caught after pass 0 by [[PassBudget.replan]].
    */
  private def postingExpansion: Double =
    PassBudget.expansion("SPARK_GRAFT_POSTING_EXPANSION", 75.0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = args(1)
    val outJson = args.lift(2)
    val forcedPasses = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt)
    val spark = GraftSession(
      "spark.app.name" -> s"bounded-scratch-$mode", GraftSession.periodicGC)

    val shuffleWrite = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
      }
    })

    val scratch = Files.createTempDirectory("graft-bounded").toString
    // disk telemetry reads the SCRATCH path's filesystem (java.io.tmpdir
    // may be redirected off /tmp for big-disk runs — r15 advice)
    def availGb: Double =
      new java.io.File(scratch).getUsableSpace / 1e9

    // K: forced by SPARK_GRAFT_PASSES, else derived from the corpus
    // leaf mass × the measured posting expansion vs scratch headroom
    // (r16 punch item 2 — ×1000 completes with no pass-count arg)
    val passPlan = PassBudget.derive(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("n_chars") >= G),
      postingExpansion, scratch, forcedPasses,
      op = s"bounded-scratch-$mode")
    val passes = passPlan.passes

    // pre-split the filtered corpus ONCE: 32 parquet files = 32 scan
    // tasks per pass, no per-pass repartition shuffle of the text
    val t0 = System.nanoTime()
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("n_chars") >= G)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .repartition(GraftSession.cpus, col("doc_id"))
      .write.mode("overwrite").parquet(s"$scratch/docs")
    val splitSec = (System.nanoTime() - t0) / 1e9

    def postings(slice: PassBudget.SlicePass): DataFrame =
      spark.read.parquet(s"$scratch/docs")
        .select(col("doc_id"), col("source"), col("text"),
          explode(sequence(lit(1), col("n_chars") - (G - 1))).as("pp"))
        .withColumn("hx",
          md5(expr(s"substring(text, cast(pp as int), $G)").cast("binary")))
        .select(col("doc_id"), col("source"),
          conv(substring(col("hx"), 1, 15), 16, 10).cast("long").as("h1"),
          conv(substring(col("hx"), 17, 15), 16, 10).cast("long").as("h2"))
        .filter(PassBudget.slicePredicate(col("h1"), passes, slice))

    case class PassStat(idx: Int, label: String, sec: Double,
      shuffleGb: Double, spillGb: Double, availAfterGb: Double)
    val passStats = scala.collection.mutable.ArrayBuffer.empty[PassStat]
    var replanInfo: Option[PassBudget.Replan] = None
    val passDirs = scala.collection.mutable.ArrayBuffer.empty[String]

    // Pass 0 runs residue 0 of the planned schedule; its MEASURED
    // shuffle mass then either confirms the plan or re-slices the
    // remaining residues (r17 punch item 1 — the expansion constants are
    // distribution-dependent, so the schedule self-corrects before a
    // later pass can overrun the disk). Slicing on h1 keeps every gram
    // whole within one pass under any schedule, so partials stay
    // additive and the result is schedule-invariant.
    def runPasses(partial: DataFrame => DataFrame): Unit = {
      def runOne(slice: PassBudget.SlicePass): Long = {
        val idx = passDirs.size
        val sw0 = shuffleWrite.get(); val sp0 = spill.get()
        val tp = System.nanoTime()
        val dir = s"$scratch/pass_$idx"
        partial(postings(slice)).write.mode("overwrite").parquet(dir)
        passDirs += dir
        val sec = (System.nanoTime() - tp) / 1e9
        // release this pass's shuffle files before the next pass maps
        System.gc()
        Thread.sleep(3000)
        val swDelta = shuffleWrite.get() - sw0
        passStats += PassStat(idx, slice.label, sec,
          swDelta / 1e9, (spill.get() - sp0) / 1e9, availGb)
        println(f"[bounded] pass $idx (${slice.label}): ${sec}%.1f s, " +
          f"shuffle ${swDelta / 1e9}%.1f GB, avail $availGb%.1f GB")
        swDelta
      }
      val measured0 = runOne(PassBudget.SlicePass(Seq(0), 0, 1))
      val rp = PassBudget.replan(passPlan, measured0,
        op = s"bounded-scratch-$mode")
      replanInfo = Some(rp)
      rp.remaining.foreach(runOne)
    }

    val result: DataFrame = mode match {
      case "suffix" =>
        // per pass: per-doc (positions-in-pass, dup-positions-in-pass)
        runPasses { pos =>
          val wg = org.apache.spark.sql.expressions.Window
            .partitionBy(col("h1"), col("h2"))
          pos
            .withColumn("dup",
              min(col("doc_id")).over(wg) =!= max(col("doc_id")).over(wg))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_pos_p"),
              sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_pos_p"))
        }
        spark.read.parquet(passDirs.toSeq: _*)
          .groupBy(col("doc_id"))
          .agg(sum(col("n_pos_p")).as("n_pos"),
            sum(col("n_dup_pos_p")).as("n_dup_pos"))
          .withColumn("dup_frac",
            col("n_dup_pos").cast("double") / col("n_pos").cast("double"))
          .select(col("doc_id"), col("n_pos"), col("n_dup_pos"), col("dup_frac"))
      case "overlap" =>
        // per pass: the (mask, cnt) histogram of the pass's grams
        runPasses { pos =>
          pos
            .select(expr("cast(substring(source, 4) as int)").as("si"),
              col("h1"), col("h2"))
            .groupBy(col("h1"), col("h2"))
            .agg(expr("bit_or(shiftleft(1L, si))").as("mask"))
            .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        }
        import spark.implicits._
        val masks = spark.read
          .parquet(passDirs.toSeq: _*)
          .groupBy(col("mask")).agg(sum(col("cnt")).as("cnt"))
        val pairs = (for { a <- 0 until 20; b <- a + 1 until 20 } yield (a, b))
          .toDF("a", "b")
        masks.crossJoin(broadcast(pairs))
          .filter(expr("shiftright(mask, a) % 2 = 1 and shiftright(mask, b) % 2 = 1"))
          .groupBy(
            least(concat(lit("src"), col("a")), concat(lit("src"), col("b")))
              .as("src_a"),
            greatest(concat(lit("src"), col("a")), concat(lit("src"), col("b")))
              .as("src_b"))
          .agg(sum(col("cnt")).as("shared_grams"))
      case other => throw new IllegalArgumentException(s"bad mode: $other")
    }

    val tAgg = System.nanoTime()
    val materialized = result.cache()
    val nRows = materialized.count()
    val aggSec = (System.nanoTime() - tAgg) / 1e9

    // cross-check vs the gated one-pass query at scales where it fits
    val checked: Option[Long] =
      if (sys.env.contains("SPARK_GRAFT_CHECK")) {
        val onePass = mode match {
          case "suffix" =>
            graft.queries.CorpusFifth.suffixDupSpans(spark, sfDir)
          case _ =>
            graft.queries.CorpusFifth.sourceOverlapMatrix(spark, sfDir)
        }
        val diff = materialized.unionAll(onePass)
          .groupBy(materialized.columns.map(col): _*)
          .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
        println(s"[bounded] cross-check vs one-pass query: $diff differing rows")
        Some(diff)
      } else None

    val summary = mode match {
      case "suffix" =>
        val r = materialized
          .agg(sum(col("n_pos")), sum(col("n_dup_pos"))).collect()(0)
        s""""total_pos": ${r.getLong(0)}, "total_dup_pos": ${r.getLong(1)}"""
      case _ =>
        val r = materialized
          .agg(count(lit(1)), sum(col("shared_grams"))).collect()(0)
        s""""pairs": ${r.getLong(0)}, "shared_grams_sum": ${r.getLong(1)}"""
    }

    val passJson = passStats.map(s =>
      f"""  {"pass":${s.idx},"slice":"${s.label}","sec":${s.sec}%.1f,""" +
        f""""shuffle_gb":${s.shuffleGb}%.2f,""" +
        f""""spill_gb":${s.spillGb}%.2f,"disk_avail_after_gb":${s.availAfterGb}%.1f}""")
      .mkString(",\n")
    val json =
      f"""{${graft.Provenance.stamp(s"bounded-scratch-$mode")},
         | "sf_dir": "$sfDir", "mode": "$mode", "passes": $passes,
         | "passes_run": ${passDirs.size},
         | "pass_plan": ${passPlan.json},
         | "replan": ${replanInfo.map(_.json).getOrElse("null")},
         | "autoscale_decisions": ${graft.Autoscale.decisionsJson},
         | "presplit_sec": $splitSec%.1f, "final_agg_sec": $aggSec%.1f,
         | "result_rows": $nRows, $summary,
         | "total_shuffle_gb": ${shuffleWrite.get() / 1e9}%.2f,
         | "total_spill_gb": ${spill.get() / 1e9}%.2f,
         | "cross_check_diff_rows": ${checked.map(_.toString).getOrElse("null")},
         | "pass_detail": [
         |$passJson
         | ]}
         |""".stripMargin
    outJson.foreach(p => Files.writeString(Paths.get(p), json))
    println(json)

    require(checked.forall(_ == 0L),
      s"K-pass result differs from the one-pass gated query")
    spark.stop()
    // best-effort scratch cleanup
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(scratch))
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
