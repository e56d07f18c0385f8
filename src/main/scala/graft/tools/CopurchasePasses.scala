package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Bounded-scratch K-pass runner for `copurchase_recall_at_k` at depth
  * scales whose one-shot scoring exchange exceeds one box's disk (the
  * r14 ×1000 audit: the un-broadcast scoring join shuffles the ~25×
  * fan-out of |train| — several billion scored rows, > 55 GB scratch on
  * this box; on a 1000-executor cluster the same exchange is ~GB per
  * executor and just runs).
  *
  * The gated query keeps its optimal one-pass plan. This runner is the
  * provisioning answer for a disk-bounded single node, exploiting that
  * EVERY per-customer stage of the evaluation — scoring aggregation,
  * train-basket anti join, top-10 window, hit test — is independent
  * across customers: score customers in K hash-range passes
  * (`pmod(c, K) = p`), each pass shuffling mass/K and releasing its
  * shuffle files before the next starts. The item-item model is NOT
  * per-customer, so it is built ONCE (capped baskets → pair counts →
  * top-25 truncation, byte-identical semantics to
  * [[graft.queries.AnalyticsSixth.copurchaseRecallAtK]]) and written to
  * scratch parquet; every pass re-reads it as a table. Per-pass partials
  * are two counters (eval users, hit users) — additive because each
  * customer lands in exactly one pass.
  *
  * Usage: CopurchasePasses <sfDir> [outJson]
  * Env: SPARK_GRAFT_PASSES / SPARK_GRAFT_MODEL_PASSES (default: AUTO —
  *      both derived by [[PassBudget]] from the split's leaf mass and
  *      scratch headroom, so a ×1000 run needs no pass-count args),
  *      SPARK_GRAFT_CPUS (default 4),
  *      SPARK_GRAFT_CHECK=1 cross-checks the summed result against the
  *      gated one-pass query (use at a scale where one-pass fits).
  */
object CopurchasePasses {

  /** Scoring-exchange mass per byte of the split's source scan
    * (lineitem + orders): measured at ×1000 — 18.7 GB of source files →
    * ~200 GB of scoring exchange across the customer-hash passes
    * (12 × 16.6 GB, `x1000_copurchase_r15.json`; Σ per-pass shuffle is
    * K-invariant, each scored row is shuffled exactly once).
    * Distribution-dependent: overridable via SPARK_GRAFT_SCORE_EXPANSION,
    * and a badly-off value is caught after pass 0 by
    * [[PassBudget.replan]].
    */
  private def scoreExpansion: Double =
    PassBudget.expansion("SPARK_GRAFT_SCORE_EXPANSION", 10.7)

  /** Capped-pair model exchange per source byte: the one-pass pair
    * exchange at ×1000 is ~64 GB (it alone over-ran the box's ~55 GB
    * scratch — the first r15 attempt died writing it; M=4 completed
    * with the disk never under 35 GB free), so ~3.4× the 18.7 GB
    * source mass. Overridable via SPARK_GRAFT_MODEL_EXPANSION.
    */
  private def modelExpansion: Double =
    PassBudget.expansion("SPARK_GRAFT_MODEL_EXPANSION", 3.4)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args.lift(1)
    val spark = GraftSession(
      "spark.app.name" -> "copurchase-passes", GraftSession.periodicGC)

    val shuffleWrite = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shuffleWrite.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
      }
    })

    val scratch = Files.createTempDirectory("graft-copurchase").toString
    // disk telemetry reads the SCRATCH path's filesystem (java.io.tmpdir
    // may be redirected off /tmp for big-disk runs — r15 advice)
    def availGb: Double = new java.io.File(scratch).getUsableSpace / 1e9
    def gcRelease(): Unit = { System.gc(); Thread.sleep(3000) }

    val nPart = GraftSession.cpus

    // K (scoring) and M (model): forced by the env knobs, else derived
    // from the split's leaf mass × the measured exchange expansions vs
    // scratch headroom (r16 punch item 2 — ×1000 completes with no
    // pass-count args). Both plans land in the artifact.
    val sizeSignal =
      graft.queries.AnalyticsSixth.copurchaseSplit(spark, sfDir, 0)
    val scorePlan = PassBudget.derive(sizeSignal, scoreExpansion, scratch,
      sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt),
      op = "copurchase-passes")
    val modelPlan = PassBudget.derive(sizeSignal, modelExpansion, scratch,
      sys.env.get("SPARK_GRAFT_MODEL_PASSES").map(_.toInt),
      knob = "SPARK_GRAFT_MODEL_PASSES",
      op = "copurchase-passes", lever = "modelPassCount")
    val passes = scorePlan.passes

    // ---- setup: train/test splits, hash-sliced by customer ------------
    // The splits, the capped basket, the item-item model, and the
    // per-slice scoring below all come from graft.queries.AnalyticsSixth's
    // shared builders — ONE definition of the recommender, so this
    // runner can never drift from the gated query it cross-checks against.
    val t0 = System.nanoTime()
    def split(parity: Int): DataFrame =
      graft.queries.AnalyticsSixth.copurchaseSplit(spark, sfDir, parity)
    // slice = pmod(c, K): deterministic, computable on both splits and
    // in the gated query's domain; partitioned write so each pass scans
    // only its own files
    def writeSliced(df: DataFrame, name: String): Unit = df
      .withColumn("slice", pmod(col("c"), lit(passes.toLong)))
      .repartition(nPart, col("c"))
      .write.mode("overwrite").partitionBy("slice")
      .parquet(s"$scratch/$name")
    writeSliced(split(0), "train")
    writeSliced(split(1), "test")
    val train = spark.read.parquet(s"$scratch/train")
    val test = spark.read.parquet(s"$scratch/test")
    val setupSec = (System.nanoTime() - t0) / 1e9

    // ---- the item-item model, in M hash-range passes over p -------------
    // The raw capped-pair exchange is itself Θ(2500·|C|) — at ×1000 it
    // alone exceeds one box's disk (the first r15 attempt died writing
    // it). Two levers make it bounded: (1) the capped basket is
    // materialized ONCE as a bucketed+sorted-by-c table written
    // co-partitioned (one file per bucket), so each model pass's
    // self-join runs with ZERO exchange and ZERO sort; (2) pass m keeps
    // only pairs with pmod(p, M) = m via a filter on the p-SIDE basket,
    // which Catalyst pushes below the join — the p side shrinks ×M, so
    // TOTAL pair generation stays ~one-pass while each pass's (p)-keyed
    // exchange carries mass/M and is GC-released before the next.
    // The top-25-per-p window is slice-local because p determines its
    // slice. M=1 (the derived value at gate/×100 scale) degenerates to
    // the one-pass build.
    val modelPasses = modelPlan.passes
    val tm = System.nanoTime()
    val basketTbl = "graft_scratch_cop_basket"
    graft.storage.Bucketing.writeBucketed(
      graft.queries.AnalyticsSixth
        .copurchaseCappedBasket(train.select(col("c"), col("p")), nPart)
        .repartition(nPart, col("c")),
      basketTbl, "c", nPart, sortCols = Seq("c"))
    // Model pass 0 (residue 0 of pmod(p, M)) measures the real pair-
    // exchange mass; PassBudget.replan then confirms or re-slices the
    // remaining p-residues (r17 punch item 1). Slicing on p keeps each
    // item's top-25 window whole within one pass under any schedule.
    var modelRun = 0
    def modelPass(slice: PassBudget.SlicePass): Long = {
      val sw0 = shuffleWrite.get()
      val bp = spark.table(basketTbl)
        .filter(PassBudget.slicePredicate(col("p"), modelPasses, slice))
      graft.queries.AnalyticsSixth
        .copurchaseItemModel(bp, spark.table(basketTbl).toDF("c", "q"), nPart)
        .write.mode(if (modelRun == 0) "overwrite" else "append")
        .parquet(s"$scratch/model")
      modelRun += 1
      gcRelease() // drop this pass's pair-mass shuffle files
      println(f"[copurchase] model pass $modelRun (${slice.label}): " +
        f"avail $availGb%.1f GB")
      shuffleWrite.get() - sw0
    }
    val modelMeasured0 = modelPass(PassBudget.SlicePass(Seq(0), 0, 1))
    val modelReplan = PassBudget.replan(modelPlan, modelMeasured0,
      op = "copurchase-passes", lever = "modelPassReplan")
    modelReplan.remaining.foreach(modelPass)
    spark.sql(s"DROP TABLE IF EXISTS $basketTbl")
    val modelSec = (System.nanoTime() - tm) / 1e9
    val model = spark.read.parquet(s"$scratch/model")
    println(f"[copurchase] setup $setupSec%.1f s, model $modelSec%.1f s " +
      f"($modelPasses passes), avail $availGb%.1f GB")

    // ---- K scoring passes over customer hash ranges ---------------------
    // Pass 0 runs slice 0; its measured scoring-exchange mass confirms
    // or re-slices the remaining customer slices (r17 punch item 1).
    // The slice column (= pmod(c, K)) still prunes the partitioned
    // files under a grouped or subdivided schedule; a subdivided pass
    // adds the finer pmod(c, K·J) row filter on top. Every customer
    // stays whole within one pass, so the two counters stay additive.
    case class PassStat(idx: Int, label: String, sec: Double, users: Long,
      hits: Long, shuffleGb: Double, spillGb: Double, availAfterGb: Double)
    val stats = scala.collection.mutable.ArrayBuffer.empty[PassStat]
    def slicedSplit(name: String, sp: PassBudget.SlicePass): DataFrame = {
      val pruned = spark.read.parquet(s"$scratch/$name")
        .filter(col("slice").isin(sp.residues.map(_.toLong): _*))
      (if (sp.subCount == 1) pruned
       else pruned.filter(PassBudget.slicePredicate(col("c"), passes, sp)))
        .select(col("c"), col("p"))
    }
    def scorePass(sp: PassBudget.SlicePass): Long = {
      val idx = stats.size
      val sw0 = shuffleWrite.get(); val sp0 = spill.get()
      val tp = System.nanoTime()
      val trainP = slicedSplit("train", sp)
      val testP = slicedSplit("test", sp)
      val evalP = trainP.select(col("c")).distinct()
        .join(testP.select(col("c")).distinct(), "c")
      val row = graft.queries.AnalyticsSixth
        .copurchaseRecallCounts(trainP, evalP, testP, model, nPart)
        .collect()(0)
      val sec = (System.nanoTime() - tp) / 1e9
      gcRelease()
      val swDelta = shuffleWrite.get() - sw0
      stats += PassStat(idx, sp.label, sec, row.getLong(0), row.getLong(1),
        swDelta / 1e9, (spill.get() - sp0) / 1e9, availGb)
      println(f"[copurchase] pass $idx (${sp.label}): ${sec}%.1f s, " +
        f"users ${row.getLong(0)}, " +
        f"hits ${row.getLong(1)}, shuffle ${swDelta / 1e9}%.1f GB, " +
        f"avail $availGb%.1f GB")
      swDelta
    }
    val scoreMeasured0 = scorePass(PassBudget.SlicePass(Seq(0), 0, 1))
    val scoreReplan = PassBudget.replan(scorePlan, scoreMeasured0,
      op = "copurchase-passes")
    scoreReplan.remaining.foreach(scorePass)
    val nUsers = stats.map(_.users).sum
    val nHit = stats.map(_.hits).sum
    val recall = nHit.toDouble / nUsers.toDouble

    // ---- cross-check vs the gated one-pass query -------------------------
    val checked: Option[String] =
      if (sys.env.contains("SPARK_GRAFT_CHECK")) {
        val one = graft.queries.AnalyticsSixth
          .copurchaseRecallAtK(spark, sfDir).collect()(0)
        val same = one.getLong(0) == nUsers && one.getLong(1) == nHit
        println(s"[copurchase] cross-check vs one-pass query: " +
          s"(${one.getLong(0)}, ${one.getLong(1)}) vs ($nUsers, $nHit) → " +
          (if (same) "IDENTICAL" else "DIFFERS"))
        Some(if (same) "identical" else "DIFFERS")
      } else None

    val passJson = stats.map(s =>
      f"""  {"pass":${s.idx},"slice":"${s.label}","sec":${s.sec}%.1f,""" +
        f""""users":${s.users},"hits":${s.hits},""" +
        f""""shuffle_gb":${s.shuffleGb}%.2f,"spill_gb":${s.spillGb}%.2f,""" +
        f""""disk_avail_after_gb":${s.availAfterGb}%.1f}""")
      .mkString(",\n")
    val json =
      f"""{${graft.Provenance.stamp("copurchase-passes")},
         | "sf_dir": "$sfDir", "passes": $passes, "model_passes": $modelPasses,
         | "passes_run": ${stats.size}, "model_passes_run": $modelRun,
         | "score_pass_plan": ${scorePlan.json},
         | "model_pass_plan": ${modelPlan.json},
         | "score_replan": ${scoreReplan.json},
         | "model_replan": ${modelReplan.json},
         | "autoscale_decisions": ${graft.Autoscale.decisionsJson},
         | "setup_sec": $setupSec%.1f, "model_sec": $modelSec%.1f,
         | "n_users": $nUsers, "n_hit": $nHit, "recall_at_10": $recall,
         | "total_shuffle_gb": ${shuffleWrite.get() / 1e9}%.2f,
         | "total_spill_gb": ${spill.get() / 1e9}%.2f,
         | "cross_check": ${checked.map("\"" + _ + "\"").getOrElse("null")},
         | "pass_detail": [
         |$passJson
         | ]}
         |""".stripMargin
    outJson.foreach(p => Files.writeString(Paths.get(p), json))
    println(json)

    // cleanup runs even when the cross-check require throws (r15 advice:
    // a failing require used to strand the multi-GB scratch dir)
    try require(checked.forall(_ == "identical"),
      "K-pass result differs from the one-pass gated query")
    finally {
      spark.stop()
      // best-effort scratch cleanup
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(scratch))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
