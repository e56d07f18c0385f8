package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Size-conditional selection of the DEPTH levers (bucketed iterative
  * scratch, serialized checkpoint blocks) so one binary runs the right
  * shape at every scale with NO per-run conf.
  *
  * The r14/r15 ×1000 depth audits proved the levers both ways: at ×1000
  * (15 GB lineitem, 1.1 B co-purchase edges) the default checkpoint
  * shapes DNF one box (GC-retained Θ(E) shuffle scratch; deserialized
  * unroll of GB-scale checkpoint partitions OOMs a 96 GiB heap), while
  * at ×100 (1.4 GB) the defaults WIN (kcore eager 72.9 s vs bucketed
  * 76.4 s, and the serialized level was a measured ~5–9% whole-surface
  * tax at sf0.1 — `ab_pair_drift_r15.json`). So the switch must be a
  * function of input size, not a flag a human remembers to pass.
  *
  * The size signal is the LEAF SCAN mass of the operator's input plan:
  * the sum of `stats.sizeInBytes` over file-backed leaves — pure catalog
  * metadata (parquet footer/file sizes), no job, no sampling, monotone
  * in the data scale, and available before the first action. Two leaf
  * classes are EXCLUDED:
  *
  *   - `LogicalRDD` (a previous in-loop checkpoint): its stats may be
  *     the conf default (`Long.MaxValue`) rather than a real
  *     measurement, and a loop's post-round-1 plans must not flip
  *     levers the round-0 decision (which saw the true file leaves)
  *     declined.
  *   - `graft_scratch_*` catalog tables (the bucketed depth mode's own
  *     adjacency generations): a plan rooting in depth scratch is the
  *     loop's NODE-SCALE state (alive sets, frontiers, thresholds)
  *     scanning the edge-scale table — counting the table's Θ(E) file
  *     mass would silently flip those node-scale checkpoints to the
  *     serialized level past the threshold, contradicting the
  *     documented design (r16 advice). The Θ(E) objects in depth mode
  *     are the bucketed tables themselves, never checkpoint blocks.
  *
  * Default threshold 2 GiB, located by bracketing the crossover
  * (`depth_crossover_r17.json`): at ×100 (1.4 GB) eager still wins
  * (kcore 72.9 vs 76.4 s), at ×300 (4.6 GB) the bucketed shape already
  * wins 1.46× (kcore 528.8 vs 773.3 s), and at ×1000 (15 GB) eager
  * DNFs one box — so the crossover sits in (1.4, 4.6) GB and the error
  * costs are ASYMMETRIC: flipping early costs at most the ~5% ×100
  * margin, flipping late costs 46%+ and eventually a DNF. 2 GiB sits
  * just above the measured eager-wins point (r16's 8 GiB default left
  * the 2–8 GiB band running the wrong shape). Override per session with
  * `spark.graft.depthAutoThresholdBytes`; the explicit lever flags still
  * force either way.
  *
  * Every lever decision is RECORDED (and the first occurrence of each
  * distinct decision logged at INFO as one structured `[autoscale]` line)
  * so a depth-run artifact shows WHICH shape ran without re-deriving it
  * from wall times (r16 punch item 5): see [[record]]/[[decisionsJson]].
  */
object Autoscale {

  /** Leaf-scan-bytes threshold (long) above which the depth levers
    * auto-enable when their flags are unset.
    */
  val ThresholdFlag = "spark.graft.depthAutoThresholdBytes"

  val DefaultThresholdBytes: Long = 2L << 30 // 2 GiB

  def thresholdBytes(spark: SparkSession): Long =
    spark.conf.getOption(ThresholdFlag).map { v =>
      // a human-style "8g" (or a typo) must fail with the conf key and
      // expected format, not a bare NumberFormatException from deep
      // inside query construction (r16 advice)
      try v.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$ThresholdFlag must be a plain byte count as a long " +
            s"(e.g. 8589934592 for 8 GiB); got '$v'")
      }
    }.getOrElse(DefaultThresholdBytes)

  private def isDepthScratch(p: LogicalPlan): Boolean = p match {
    case lr: LogicalRelation =>
      lr.catalogTable.exists(_.identifier.table.startsWith("graft_scratch_"))
    case _ => false
  }

  /** Σ `stats.sizeInBytes` over the plan's file leaves — file-relation
    * stats are the actual on-disk file sizes (catalog metadata, no job).
    * `LogicalRDD` (prior checkpoints) and `graft_scratch_*` tables (the
    * depth mode's own scratch) are excluded — see the object doc.
    */
  def leafScanBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves()
      .filterNot(_.isInstanceOf[LogicalRDD])
      .filterNot(isDepthScratch)
      .map(_.stats.sizeInBytes).sum

  /** True when `df`'s source scan mass crosses the depth threshold. */
  def big(df: DataFrame): Boolean =
    leafScanBytes(df) >= BigInt(thresholdBytes(df.sparkSession))

  // ------------------------------------------------------ decision log

  /** One lever decision: which operator asked, what the size signal and
    * threshold were, what was chosen, and whether an explicit conf
    * forced it or the auto rule decided.
    */
  final case class Decision(op: String, lever: String, leafBytes: BigInt,
      thresholdBytes: Long, chosen: String, mode: String) {
    def json: String =
      s"""{"op":"$op","lever":"$lever","leaf_bytes":$leafBytes,""" +
        s""""threshold_bytes":$thresholdBytes,"chosen":"$chosen",""" +
        s""""mode":"$mode"}"""
  }

  private val decisionLog =
    new java.util.concurrent.ConcurrentLinkedQueue[Decision]
  private val loggedKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Record a lever decision; the FIRST occurrence of each distinct
    * (op, lever, chosen, mode) logs one `[autoscale]` line at INFO
    * (iterative loops re-decide per round/checkpoint — thousands of
    * identical lines would bury the signal the line exists to carry).
    * [[decisions]] is the full in-memory record.
    */
  def record(op: String, lever: String, leafBytes: BigInt,
      thresholdBytes: Long, chosen: String, mode: String): Unit = {
    val d = Decision(op, lever, leafBytes, thresholdBytes, chosen, mode)
    decisionLog.add(d)
    if (loggedKeys.add(s"$op|$lever|$chosen|$mode"))
      log.info("[autoscale] {}", d.json)
  }

  /** All decisions recorded in this JVM, in order. */
  def decisions: Seq[Decision] = {
    import scala.jdk.CollectionConverters._
    decisionLog.iterator().asScala.toSeq
  }

  /** The distinct decisions (first occurrence order) as a JSON array —
    * what the depth tools embed in their artifacts.
    */
  def decisionsJson: String =
    decisions.map(d => (s"${d.op}|${d.lever}|${d.chosen}|${d.mode}", d))
      .foldLeft(Vector.empty[(String, Decision)]) { (acc, kv) =>
        if (acc.exists(_._1 == kv._1)) acc else acc :+ kv
      }
      .map(_._2.json).mkString("[", ",", "]")

  def clearDecisions(): Unit = {
    decisionLog.clear()
    loggedKeys.clear()
  }

  /** Operator label for a decision: the nearest `graft.*` frame on the
    * stack that is not the lever machinery itself — e.g.
    * `GraphMore.kcoreParts`. Zero API churn at the ~40 stableCheckpoint
    * call sites, deterministic, and only computed when a decision is
    * actually being recorded (never per-row).
    */
  def callerOp: String = callerOpExcluding(Set.empty)

  /** [[callerOp]] that additionally skips the given `Class.method` labels
    * — for shared decision helpers (e.g. `GraphMore.joinsBig`) whose
    * decisions should be attributed to the QUERY that called them.
    */
  def callerOpExcluding(skip: Set[String]): String = {
    val own = Set("graft.Autoscale", "graft.Checkpoints", "graft.Tables",
      "graft.storage.Bucketing")
    Thread.currentThread().getStackTrace.iterator
      .map { f =>
        val cls = f.getClassName.takeWhile(_ != '$')
        // a checkpoint inside a loop body is a lambda frame whose method
        // is `$anonfun$<enclosing>$N` — report the enclosing method
        val m0 = f.getMethodName
        val m = if (m0.startsWith("$anonfun$"))
          m0.stripPrefix("$anonfun$").takeWhile(_ != '$') else m0
        (cls, s"${cls.substring(cls.lastIndexOf('.') + 1)}.$m")
      }
      .find { case (cls, label) =>
        cls.startsWith("graft.") && !own.contains(cls) && !skip(label)
      }
      .map(_._2)
      .getOrElse("unknown")
  }
}
