package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpoints.StableCheckpoint
import graft.Tables

/** Round-5 analytics additions, batch 3: an end-to-end co-purchase
  * recommender evaluation (train/test split → item-item scores → top-k →
  * recall), a cohort LTV curve, and seasonality-adjusted robust outlier
  * detection — the "model-eval over the warehouse" shapes that exercise
  * split + rank + join composition rather than any single operator.
  *
  * Usual discipline: integer cents/counts, DECIMAL widening past long
  * range, one final double per query, keyed windows only (every window
  * partitions by cohort / weekday / user — nothing global).
  */
object AnalyticsSixth {

  // ------------------------------------------------ recommender recall

  /** Recall@10 of an item-item co-purchase recommender, evaluated on a
    * held-out order split: even o_orderkey orders train, odd orders
    * test. Item-item weights are train co-purchase counts (parts bought
    * by the same customer); each eval customer (present in BOTH splits)
    * is recommended the 10 highest-scoring parts they did NOT buy in
    * train (score = Σ co-purchase weight against their train basket,
    * ties by part key); a customer counts as a hit if any held-out part
    * appears in their top-10. One summary row: eval users, hits,
    * recall.
    *
    * Scale shape: pair generation is run over CAPPED baskets — each
    * customer contributes at most 50 train parts (deterministic: the 50
    * smallest part keys, a keyed row_number that plans as
    * WindowGroupLimit), so the self-join costs Σ_c min(deg_c, 50)² ≤
    * 2500·|C| — linear in customers even when a head customer holds 10⁵
    * distinct parts (uncapped, that one key alone would emit 10¹⁰
    * pairs; this was the engine's last uncapped per-key quadratic). The
    * cap is part of the model definition and mirrored in the oracle, so
    * the gate hash proves both engines build the identical capped
    * model. TPC-H degrees (~30) sit under the cap, so at gate scale the
    * capped and uncapped models coincide. The item-item model is
    * further TRUNCATED to each part's top-25 neighbors by
    * weight (standard item-kNN practice — an untruncated co-purchase
    * graph densifies toward |parts|² and made scoring the single most
    * expensive join in the suite, 27 s at sf0.1 → 8 s truncated); the
    * truncation is part of the model definition and mirrored in the
    * oracle. Top-25/top-10 are KEYED row_numbers (WindowGroupLimit
    * pushes the rank filters map-side); train-basket exclusion is a
    * LEFT ANTI join; everything shuffles on (customer) or (part) keys
    * only.
    */
  def copurchaseRecallAtK(spark: SparkSession, sfDir: String): DataFrame = {
    // Fan-out parallelism: the two explosion stages (basket self-join →
    // ~25× rows; scoring join → ~25× rows) read SMALL inputs (few MB of
    // (c,p) keys), so AQE — which sizes post-shuffle partitions by input
    // bytes, blind to output fan-out — would coalesce them onto 1-2
    // tasks and serialize the heaviest work in the query. An EXPLICIT
    // numbered repartition on the customer key (AQE never coalesces a
    // user-specified partition count) pins the explosions at full
    // parallelism; the extra 300k-row shuffle is noise next to the 30×
    // row blow-up it parallelizes.
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val train = copurchaseSplit(spark, sfDir, 0)
      .repartition(nPart, col("c")).stableCheckpoint()
    val test = copurchaseSplit(spark, sfDir, 1).stableCheckpoint()
    val basket = copurchaseCappedBasket(train, nPart)
    val pairs = copurchaseItemModel(basket, nPart)
    val evalUsers = train.select(col("c")).distinct()
      .join(test.select(col("c")).distinct(), "c")
      .stableCheckpoint()
    copurchaseRecallCounts(train, evalUsers, test, pairs, nPart)
      .select(col("n_users"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_users").cast("double"))
          .as("recall_at_10"))
  }

  /** (c, p) distinct purchase pairs for the given order-key parity —
    * even orders train the model, odd orders are the held-out test.
    */
  private def copurchaseSplit(spark: SparkSession, sfDir: String,
      parity: Int): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 2 === parity)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
  }

  /** Train baskets capped at each customer's 50 smallest part keys (a
    * keyed row_number that plans as WindowGroupLimit) — the lever that
    * bounds pair generation at Σ_c min(deg_c, 50)², linear in customers.
    */
  private def copurchaseCappedBasket(train: DataFrame,
      nPart: Int): DataFrame =
    train.repartition(nPart, col("c"))
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("c")).orderBy(col("p"))))
      .filter(col("brn") <= 50)
      .drop("brn")

  /** Top-25-per-part item-item co-purchase weights from a (c, p) basket
    * joined against itself as (c, q). One numbered repartition on p
    * carries BOTH the (p,q) count and the top-25-per-p window:
    * HashPartitioning(p) satisfies the aggregate's
    * ClusteredDistribution(p,q) (subset rule) and the window's
    * PARTITION BY p, so the ~6M-row pair mass crosses the wire once
    * instead of twice (groupBy's (p,q) exchange + the window's p
    * exchange) — measured 5.8 → 2.4 s cold on this stage alone.
    */
  private def copurchaseItemModel(basket: DataFrame,
      nPart: Int): DataFrame =
    basket.toDF("c", "p")
      .join(basket.toDF("c", "q"), "c")
      .filter(col("p") =!= col("q"))
      .repartition(nPart, col("p"))
      .groupBy(col("p"), col("q")).agg(count(lit(1)).as("w"))
      .withColumn("nrn", row_number().over(
        Window.partitionBy(col("p")).orderBy(col("w").desc, col("q"))))
      .filter(col("nrn") <= 25)
      .drop("nrn")

  /** Score eval customers against the truncated model and count top-10
    * hits — one row (n_users, n_hit).
    *
    * Scoring is the expensive join of the suite: |train| rows fan out
    * by up to 25 neighbors each. The truncated model (`model`,
    * ≤25·|parts| rows) and the eval-user set (distinct customers) are
    * both Θ(catalog)/Θ(|V|) relations, so they are NOT force-broadcast:
    * a hard broadcast() here collected >1 GB to the driver and died on
    * spark.driver.maxResultSize at the r14 ×1000 audit (20 M parts →
    * a 500 M-row model). Left unhinted, AQE's runtime-size broadcast
    * conversion gives the map-side plan wherever the model actually
    * fits (sf0.1: all three convert to BHJ, same plan as before) and
    * degrades to a partitioned join at depth instead of dying. train
    * is still filtered to eval customers BEFORE the fan-out (identical
    * model — non-eval customers were dropped post-aggregation anyway),
    * and the (c, q) aggregation partial-aggregates map-side before the
    * single keyed shuffle into the anti join.
    * localCheckpoint REPORTS UnknownPartitioning even though the blocks
    * are laid out by c (LogicalRDD drops the partitioning metadata), so
    * without help every op below reshuffles on its own keys: the
    * (c,q)-exchange of the aggregate, a (c,q)-exchange of train for the
    * anti join, and a c-exchange for the top-10 window — three crossings
    * of the scored mass. One numbered repartition on c after the
    * broadcast fan-out re-establishes a partitioning that satisfies ALL
    * of them (subset rule for the (c,q) aggregate and anti join;
    * exact for the window) — measured 3.4 → 2.1 s cold on this stage.
    */
  private def copurchaseRecallCounts(train: DataFrame,
      evalUsers: DataFrame, test: DataFrame, model: DataFrame,
      nPart: Int): DataFrame = {
    // r19 attack, measured WORSE and reverted: moving this anti join
    // BEFORE the (c,q) aggregation (per-key filter commutes with the
    // per-key sum, so results are identical) probes all ~13M fan-out
    // rows instead of the aggregated survivors — isolated ABBA min-of-5:
    // 4.66 s early-anti vs 4.22 s this shape. The other VERDICT-named
    // lever, skipping the near-unique (p,q)/(c,q) partial aggregates,
    // has no OSS Spark 4.1 knob (no skip-partial-agg conf exists; only
    // vendor forks carry one), and the bucketed two-sided basket layout
    // would pay two CTAS writes of basket-scale data INSIDE the timed
    // query — strictly worse than the 13M-row exchange it replaces at
    // bench scale and a warehouse side effect at depth.
    val scored = train.join(evalUsers, "c")
      .join(model, "p")
      .repartition(nPart, col("c"))
      .groupBy(col("c"), col("q")).agg(sum(col("w")).as("score"))
      .join(train.toDF("c", "q"), Seq("c", "q"), "left_anti")
    val topk = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c")).orderBy(col("score").desc, col("q"))))
      .filter(col("rn") <= 10)
    val hits = topk.join(test.toDF("c", "q"), Seq("c", "q"))
      .select(col("c")).distinct()
    evalUsers.agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
  }

  val copurchaseRecallAtKSql: String =
    """WITH train AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderkey % 2 = 0),
      |test AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderkey % 2 = 1),
      |basket AS MATERIALIZED (
      |  SELECT c, p FROM (
      |    SELECT c, p,
      |      row_number() OVER (PARTITION BY c ORDER BY p) AS brn
      |    FROM train)
      |  WHERE brn <= 50),
      |pairs AS MATERIALIZED (
      |  SELECT p, q, w FROM (
      |    SELECT a.p, b.p AS q, CAST(count(*) AS BIGINT) AS w,
      |      row_number() OVER (PARTITION BY a.p
      |        ORDER BY count(*) DESC, b.p) AS nrn
      |    FROM basket a JOIN basket b ON a.c = b.c AND a.p != b.p
      |    GROUP BY a.p, b.p)
      |  WHERE nrn <= 25),
      |eu AS MATERIALIZED (
      |  SELECT DISTINCT c FROM train
      |  INTERSECT
      |  SELECT DISTINCT c FROM test),
      |scored AS MATERIALIZED (
      |  SELECT t.c, pr.q, CAST(sum(pr.w) AS BIGINT) AS score
      |  FROM train t JOIN pairs pr ON t.p = pr.p
      |  JOIN eu ON eu.c = t.c
      |  WHERE NOT EXISTS (SELECT 1 FROM train x
      |    WHERE x.c = t.c AND x.p = pr.q)
      |  GROUP BY t.c, pr.q),
      |topk AS (
      |  SELECT c, q FROM (
      |    SELECT c, q,
      |      row_number() OVER (PARTITION BY c ORDER BY score DESC, q) AS rn
      |    FROM scored)
      |  WHERE rn <= 10),
      |hits AS (
      |  SELECT DISTINCT tk.c FROM topk tk
      |  JOIN test ts ON ts.c = tk.c AND ts.p = tk.q)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM eu) AS n_users,
      |  (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hit,
      |  CAST((SELECT count(*) FROM hits) AS DOUBLE)
      |    / CAST((SELECT count(*) FROM eu) AS DOUBLE) AS recall_at_10""".stripMargin

  // ------------------------------------------------------- cohort LTV

  /** Cohort LTV curve: cumulative purchase revenue by signup-week cohort
    * and tenure week — the canonical "do newer cohorts monetize faster"
    * triangle. Cohort = ISO week (Monday) of the user's FIRST event of
    * any type; tenure = whole weeks since that first day. All revenue
    * in integer cents; the cumulative walk is a KEYED window (partition
    * by cohort week, order by tenure week — per-cohort row counts are
    * calendar-bounded, and the partition key distributes).
    */
  def cohortLtvCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    val rev = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(first, "user_id")
      .select(trunc(col("first_day"), "week").as("cohort_week"),
        expr("cast(datediff(day, first_day) as bigint) div 7").as("tenure_week"),
        col("cents"), col("user_id"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("tenure_week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.groupBy(col("cohort_week"), col("tenure_week"))
      .agg(sum(col("cents")).as("revenue_cents"),
        countDistinct(col("user_id")).as("n_buyers"))
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .orderBy(col("cohort_week"), col("tenure_week"))
  }

  val cohortLtvCurveSql: String =
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT date_trunc('week', f.first_day) AS cohort_week,
      |    CAST(datediff('day', f.first_day, CAST(e.ts AS DATE)) // 7 AS BIGINT)
      |      AS tenure_week,
      |    CAST(round(e.value * 100) AS BIGINT) AS cents,
      |    e.user_id
      |  FROM events e JOIN f USING (user_id)
      |  WHERE e.event_type = 'purchase'),
      |g AS (
      |  SELECT cohort_week, tenure_week,
      |    CAST(sum(cents) AS BIGINT) AS revenue_cents,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers
      |  FROM r GROUP BY cohort_week, tenure_week)
      |SELECT cohort_week, tenure_week, revenue_cents, n_buyers,
      |  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_week
      |    ORDER BY tenure_week
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_revenue_cents
      |FROM g
      |ORDER BY cohort_week, tenure_week""".stripMargin

  // -------------------------------------------- weekday-adjusted outliers

  /** Seasonality-adjusted robust outliers: days whose purchase revenue
    * deviates from their WEEKDAY's typical level by more than 3× that
    * weekday's MAD — `seasonal_decompose_weekday`'s mean model composed
    * with `anomaly_mad`'s robust threshold, so a strong-but-normal
    * Saturday isn't flagged just for being a Saturday.
    *
    * Everything stays integer: the deviation is `|n_w·x − S_w|`
    * (x scaled by the weekday's day count instead of dividing by it —
    * widened to DECIMAL since n_w·x passes long at 100 TB daily
    * revenue), the MAD is the lower-median deviation picked by the
    * repo's rank convention (row ⌊(n−1)/2⌋+1 ascending, keyed
    * row_number per weekday over calendar-bounded day counts), and the
    * outlier test is the integer compare `dev > 3·mad`. No doubles at
    * all.
    */
  def weekdayAdjustedOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select((dayofweek(col("day")) - 1).cast("long").as("weekday"),
        col("day"), col("x"))
    val byW = Window.partitionBy(col("weekday"))
    val dev = d
      .withColumn("n_w", count(lit(1)).over(byW))
      .withColumn("s_w", sum(col("x")).over(byW))
      .withColumn("dev",
        abs(expr("cast(n_w as decimal(19,0)) * cast(x as decimal(19,0))") -
          expr("cast(s_w as decimal(19,0))")))
    val rankW = Window.partitionBy(col("weekday"))
      .orderBy(col("dev"), col("day"))
    val mad = dev
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === expr("(n_w - 1) div 2 + 1"))
      .select(col("weekday"), col("dev").as("mad"))
    dev.join(mad, "weekday")
      .filter(col("dev") > col("mad") * 3)
      .select(col("day"), col("weekday"), col("x").as("x_cents"))
      .orderBy(col("day"))
  }

  val weekdayAdjustedOutliersSql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY day),
      |w AS (
      |  SELECT dayofweek(day) AS weekday, day, x,
      |    CAST(count(*) OVER (PARTITION BY dayofweek(day)) AS BIGINT) AS n_w,
      |    CAST(sum(x) OVER (PARTITION BY dayofweek(day)) AS BIGINT) AS s_w
      |  FROM d),
      |v AS (
      |  SELECT weekday, day, x, n_w,
      |    abs(CAST(n_w AS HUGEINT) * CAST(x AS HUGEINT)
      |      - CAST(s_w AS HUGEINT)) AS dev
      |  FROM w),
      |m AS (
      |  SELECT weekday, dev AS mad FROM (
      |    SELECT weekday, dev, n_w,
      |      row_number() OVER (PARTITION BY weekday ORDER BY dev, day) AS rn
      |    FROM v)
      |  WHERE rn = (n_w - 1) // 2 + 1)
      |SELECT day, v.weekday, x AS x_cents
      |FROM v JOIN m ON v.weekday = m.weekday
      |WHERE dev > mad * 3
      |ORDER BY day""".stripMargin

  // ------------------------------------------------ linear attribution

  /** Multi-touch LINEAR attribution: every purchase's value splits
    * EQUALLY across all of that user's non-purchase touches in the
    * preceding 24 hours, credited to the touch's event type — the
    * fractional counterpart of `attribution_last_touch`'s
    * winner-takes-all. Credit is FIXED-POINT: `cents·10⁶ div n_touches`
    * micro-cents per touch (floor division, identical in both engines;
    * the ≤ n−1 micro-cent truncation per purchase is documented rather
    * than smeared), so per-type credit sums stay exact integers — no
    * double summation order to diverge. Purchases with no 24 h touch
    * credit a 'none' channel in full.
    *
    * Scale shape: a user-keyed interval join (shuffle on user_id; per-
    * user event counts are bounded in this model — a hot-user cap would
    * salt the key); two keyed aggregations after it.
    */
  def attributionLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        expr("unix_micros(cast(ts as timestamp))").as("pts"),
        round(col("value") * 100).cast("long").as("cents"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_type").as("touch"),
        expr("unix_micros(cast(ts as timestamp))").as("tts"))
    // window predicate lives in the JOIN condition (not a post-filter) so
    // a purchase with touches only OUTSIDE the 24 h window still surfaces
    // as one unmatched row and credits 'none' — matching the oracle's ON
    val window = purchases.join(touches,
      col("user_id") === col("t_user") &&
        col("tts") <= col("pts") &&
        col("tts") > col("pts") - lit(86400000000L),
      "left")
    val perPurchase = window
      .groupBy(col("pid"), col("cents"))
      .agg(sum(when(col("tts").isNotNull, 1L).otherwise(0L)).as("n_touch"))
    val perType = window.filter(col("tts").isNotNull)
      .groupBy(col("pid"), col("touch")).agg(count(lit(1)).as("k"))
    perPurchase.join(perType, Seq("pid"), "left")
      .select(
        coalesce(col("touch"), lit("none")).as("touch"),
        when(col("n_touch") === 0, col("cents") * lit(1000000L))
          .otherwise(expr("cents * 1000000 * k div n_touch")).as("credit"))
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).as("credit_microcents"))
      .orderBy(col("touch"))
  }

  val attributionLinearSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS pid,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS pts,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, event_type AS touch,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tts
      |  FROM events WHERE event_type <> 'purchase'),
      |w AS (
      |  SELECT p.pid, p.cents, t.touch, t.tts
      |  FROM p LEFT JOIN t ON t.user_id = p.user_id
      |    AND t.tts <= p.pts AND t.tts > p.pts - 86400000000),
      |np AS (
      |  SELECT pid, cents,
      |    CAST(sum(CASE WHEN tts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_touch
      |  FROM w GROUP BY pid, cents),
      |kt AS (
      |  SELECT pid, touch, CAST(count(*) AS BIGINT) AS k
      |  FROM w WHERE tts IS NOT NULL GROUP BY pid, touch),
      |c AS (
      |  SELECT coalesce(kt.touch, 'none') AS touch,
      |    CASE WHEN np.n_touch = 0 THEN np.cents * 1000000
      |      ELSE (np.cents * 1000000 * kt.k) // np.n_touch END AS credit
      |  FROM np LEFT JOIN kt USING (pid))
      |SELECT touch, CAST(count(*) AS BIGINT) AS n_credits,
      |  CAST(sum(credit) AS BIGINT) AS credit_microcents
      |FROM c
      |GROUP BY touch
      |ORDER BY touch""".stripMargin

  // ------------------------------------------- discount elasticity corr

  /** Per-brand Pearson correlation between discount and quantity on
    * lineitem — the first-pass price-elasticity screen ("do deeper
    * discounts move more units for this brand"). Discounts quantize to
    * integer percent (they are exact hundredths in the data model) and
    * quantities to integer units, so all five moments are exact
    * integers (Σxy widened to DECIMAL for 100 TB row counts); the one
    * double is the standard
    * `(n·Σxy − Σx·Σy)/(√(n·Σxx−Σx²)·√(n·Σyy−Σy²))` with fixed
    * association — the `acf_daily_revenue` recipe per group.
    */
  def discountQuantityCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        round(col("l_discount") * 100).cast("long").as("x"),
        round(col("l_quantity")).cast("long").as("y"))
    li.join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))")).as("sxy"),
        sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"),
        sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))")).as("syy"))
      .withColumn("corr_dq",
        expr("(cast(n as double) * cast(sxy as double)" +
          " - cast(sx as double) * cast(sy as double))" +
          " / (sqrt(cast(n as double) * cast(sxx as double)" +
          " - cast(sx as double) * cast(sx as double))" +
          " * sqrt(cast(n as double) * cast(syy as double)" +
          " - cast(sy as double) * cast(sy as double)))"))
      .select(col("p_brand"), col("n"), col("corr_dq"))
      .orderBy(col("p_brand"))
  }

  val discountQuantityCorrSql: String =
    """WITH d AS (
      |  SELECT p_brand,
      |    CAST(round(l_discount * 100) AS BIGINT) AS x,
      |    CAST(round(l_quantity) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM d GROUP BY p_brand)
      |SELECT p_brand, n,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_dq
      |FROM m
      |ORDER BY p_brand""".stripMargin

  // --------------------------------------------- new vs returning split

  /** Daily revenue split between NEW purchasers (first-ever purchase is
    * that day) and RETURNING ones — the acquisition-vs-retention mix
    * every growth dashboard leads with. First-purchase day per user is
    * one keyed aggregation; the split is a conditional sum, and the one
    * double is the final new-revenue share.
    */
  def newVsReturningRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val first = p.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    p.join(first, "user_id")
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), col("cents")).otherwise(0L))
          .as("new_cents"),
        sum(when(col("day") =!= col("first_day"), col("cents")).otherwise(0L))
          .as("returning_cents"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
          .as("n_returning"))
      .withColumn("new_share",
        col("new_cents").cast("double") /
          (col("new_cents") + col("returning_cents")).cast("double"))
      .orderBy(col("day"))
  }

  val newVsReturningRevenueSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |f AS (SELECT user_id, min(day) AS first_day FROM p GROUP BY user_id)
      |SELECT day,
      |  CAST(sum(CASE WHEN day = first_day THEN cents ELSE 0 END) AS BIGINT)
      |    AS new_cents,
      |  CAST(sum(CASE WHEN day <> first_day THEN cents ELSE 0 END) AS BIGINT)
      |    AS returning_cents,
      |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_returning,
      |  CAST(sum(CASE WHEN day = first_day THEN cents ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(cents) AS DOUBLE) AS new_share
      |FROM p JOIN f USING (user_id)
      |GROUP BY day
      |ORDER BY day""".stripMargin

  // ----------------------------------------------------- weekly movers

  /** Week-over-week top movers: the 20 parts with the largest absolute
    * revenue change between the last 7 shipping days and the 7 before
    * (relative to the corpus's max ship date, a 1-row broadcast
    * scalar). All cents integer; top-20 by (|Δ| desc, partkey) plans as
    * TakeOrderedAndProject — the distributed partial top-k, never a
    * global rank over |parts|.
    */
  def weeklyTopMovers(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("day"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val mx = li.agg(max(col("day")).as("maxd"))
    li.crossJoin(broadcast(mx))
      .filter(col("day") >= date_sub(col("maxd"), 13))
      .groupBy(col("l_partkey"))
      .agg(
        sum(when(col("day") >= date_sub(col("maxd"), 6), col("cents"))
          .otherwise(0L)).as("wk1_cents"),
        sum(when(col("day") < date_sub(col("maxd"), 6), col("cents"))
          .otherwise(0L)).as("wk0_cents"))
      .withColumn("delta_cents", col("wk1_cents") - col("wk0_cents"))
      .orderBy(abs(col("delta_cents")).desc, col("l_partkey"))
      .limit(20)
      .select(col("l_partkey"), col("wk0_cents"), col("wk1_cents"),
        col("delta_cents"))
  }

  val weeklyTopMoversSql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |mx AS (SELECT max(day) AS maxd FROM li),
      |g AS (
      |  SELECT l_partkey,
      |    CAST(sum(CASE WHEN day >= maxd - 6 THEN cents ELSE 0 END) AS BIGINT)
      |      AS wk1_cents,
      |    CAST(sum(CASE WHEN day < maxd - 6 THEN cents ELSE 0 END) AS BIGINT)
      |      AS wk0_cents
      |  FROM li, mx
      |  WHERE day >= maxd - 13
      |  GROUP BY l_partkey)
      |SELECT l_partkey, wk0_cents, wk1_cents,
      |  wk1_cents - wk0_cents AS delta_cents
      |FROM g
      |ORDER BY abs(wk1_cents - wk0_cents) DESC, l_partkey
      |LIMIT 20""".stripMargin

  // ------------------------------------------------ basket size vs value

  /** Basket-size economics: order value and per-line value as a function
    * of basket size (number of lines) — "do bigger baskets carry
    * proportionally bigger money?". One count per order (mergeable),
    * one keyed join back to order totals, a bounded-group histogram
    * (basket sizes are small integers); the two averages are the only
    * double divisions.
    */
  def basketSizeVsValue(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("basket_size"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(sizes, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("basket_size"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .select(col("basket_size"), col("n_orders"),
        (col("total_cents").cast("double") / col("n_orders").cast("double"))
          .as("avg_order_cents"),
        (col("total_cents").cast("double") /
          (col("n_orders") * col("basket_size")).cast("double"))
          .as("avg_line_cents"))
      .orderBy(col("basket_size"))
  }

  val basketSizeVsValueSql: String =
    """WITH s AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_size
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT basket_size, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS avg_order_cents,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |    / CAST(count(*) * basket_size AS DOUBLE) AS avg_line_cents
      |FROM orders JOIN s ON o_orderkey = l_orderkey
      |GROUP BY basket_size
      |ORDER BY basket_size""".stripMargin

  // ------------------------------------------------- monthly seasonality

  /** Month-of-year seasonal index of order revenue: each calendar
    * month's share of annual-normalized revenue, as exact integer sums
    * and ONE final index division `12·rev_m / rev_total` (1.0 = flat).
    * Map-only month tag into a 12-group aggregate; the grand total rides
    * a 1-row broadcast.
    */
  def monthlySeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.orders(spark, sfDir)
      .select(month(col("o_orderdate")).cast("long").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    val tot = m.agg(sum(col("rev_cents")).as("total_cents"))
    m.crossJoin(broadcast(tot))
      .select(col("month"), col("n_orders"), col("rev_cents"),
        ((lit(12) * col("rev_cents")).cast("double") /
          col("total_cents").cast("double")).as("seasonal_index"))
      .orderBy(col("month"))
  }

  val monthlySeasonalitySql: String =
    """WITH m AS (
      |  SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM orders GROUP BY month(o_orderdate)),
      |t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM m)
      |SELECT month, n_orders, rev_cents,
      |  CAST(12 * rev_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
      |    AS seasonal_index
      |FROM m, t
      |ORDER BY month""".stripMargin
}
