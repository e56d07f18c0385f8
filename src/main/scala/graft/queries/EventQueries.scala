package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.AsOfJoin

/** Queries over the `events` table — the batch face of the streaming
  * surface: event-time bucketing (≙ tumbling windows), pivot, as-of join,
  * and gap-based sessionization (≙ what mapGroupsWithState computes in the
  * streaming path). All DuckDB-oracled.
  */
object EventQueries {

  private def decv = col("value").cast("decimal(18,2)")

  /** Tumbling 1-hour event-time windows (batch equivalent of
    * `groupBy(window($"ts","1 hour"))`). One shuffle on the bucket.
    */
  def hourlyRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(decv).cast("double").as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  val hourlyRollupSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
      |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin

  /** Pivot: per-user value totals by event type (explicit value list keeps
    * the output schema static and the plan a single shuffle).
    */
  def pivotPerUser(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(decv).cast("double"))
      .orderBy(col("user_id"))

  val pivotPerUserSql: String =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** As-of join: each click/view event picks up the most recent prior (or
    * simultaneous) purchase by the same user. Exercises
    * [[graft.operators.AsOfJoin]]; oracled by DuckDB's native ASOF JOIN.
    *
    * The right side is pre-deduplicated to ONE row per (user_id, ts)
    * (highest purchase_id wins) in BOTH engines: DuckDB's ASOF JOIN leaves
    * the choice among equal right-side timestamps unspecified, so the tie
    * must never reach the join. matched_value rounds money through decimal
    * but emits DOUBLE (gate rule — see [[Relational]]).
    */
  def asofLastPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val probes = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"),
        max_by(col("value"), col("event_id")).as("purchase_value"))
    AsOfJoin.backward(probes, purchases, key = "user_id", ts = "ts",
      rightCols = Seq("purchase_id", "purchase_value"),
      tiebreak = Seq("purchase_id"))
      .select(col("event_id"), col("user_id"),
        col("matched_purchase_id"),
        col("matched_purchase_value").cast("decimal(18,2)").cast("double")
          .as("matched_value"))
      .orderBy(col("event_id"))
  }

  val asofLastPurchaseSql: String =
    """SELECT e.event_id, e.user_id,
      |  p.purchase_id AS matched_purchase_id,
      |  CAST(CAST(p.purchase_value AS DECIMAL(18,2)) AS DOUBLE) AS matched_value
      |FROM (SELECT event_id, user_id, ts, value FROM events
      |      WHERE event_type IN ('click','view')) e
      |ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS purchase_id,
      |                  max_by(value, event_id) AS purchase_value
      |                FROM events WHERE event_type = 'purchase'
      |                GROUP BY user_id, ts) p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin

  /** Batch interval (range) join — the batch face of the streaming
    * click-attribution ([[graft.streaming.StreamingAnalytics.clickAttribution]]):
    * for each click, the purchases by the same user within the following
    * hour. Equi-key on user_id carries the shuffle; the time band is a
    * post-join filter on co-located rows — the scale-correct shape for a
    * band predicate anchored on an equality key (a pure range join with
    * no equi-key would need interval partitioning instead).
    */
  def intervalJoinAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    // both sides come from one events relation, so join on the aliased,
    // qualified columns: `clicks("user_id") === purchases("user_id")`
    // resolves to one attribute compared with itself
    clicks.as("c").join(purchases.as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("click_id"))
      .agg(count(lit(1)).as("n_purchases_1h"),
        sum(col("purchase_value").cast("decimal(18,2)")).cast("double")
          .as("attributed_value"))
      .orderBy(col("click_id"))
  }

  val intervalJoinAttributionSql: String =
    """SELECT c.event_id AS click_id, count(*) AS n_purchases_1h,
      |  CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |GROUP BY c.event_id
      |ORDER BY click_id""".stripMargin

  /** Per-day event-type heavy hitters via the Misra-Gries typed
    * [[graft.functions.HeavyHittersAggregator]] in its EXACT regime
    * (capacity 8 ≥ the 5 event types, so the sketch equals the exact
    * per-item counts whatever the partitioning — which is precisely what
    * the oracle's plain GROUP BY verifies). The shuffle carries ≤ 8
    * (item, count) pairs per day instead of the raw events.
    */
  def heavyHittersDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val hh = graft.functions.HeavyHittersAggregator.heavyHitters(8)
    Tables.events(spark, sfDir)
      .withColumn("day", date_trunc("day", col("ts")).cast("timestamp_ntz"))
      .groupBy(col("day"))
      .agg(hh(col("event_type")).as("sketch"))
      .select(col("day"), explode(col("sketch")).as(Seq("item", "est_count")))
      .orderBy(col("day"), col("item"))
  }

  val heavyHittersDailySql: String =
    """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
      |  event_type AS item, count(*) AS est_count
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, item""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap): the batch
    * equivalent of the streaming state machine. Two window passes over one
    * user_id shuffle, then the session aggregate.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // unix_micros only takes TIMESTAMP (LTZ); ts is NTZ — cast through LTZ
    // (session tz is UTC, so the instant is unchanged).
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val ev = Tables.events(spark, sfDir)
      .withColumn("prev_us", lag(tsUs, 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          tsUs - col("prev_us") > lit(1800L * 1000000L)).cast("long"))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(decv).cast("double").as("session_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
      |  min(CAST(ts AS TIMESTAMP)) AS session_start,
      |  max(CAST(ts AS TIMESTAMP)) AS session_end,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM numbered
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Per-day peak session concurrency (occupancy sweep): sessions (same
    * 30-min-gap derivation as `events_sessionize`) become ±1 boundary
    * points, clipped at midnight so every point belongs to exactly one
    * day, and the running sum's maximum per day is the peak. The sweep
    * window partitions BY DAY — never a global order — so each day's
    * sort is independent; end-points sort before same-instant starts
    * (delta asc), making session end exclusive. The per-day max is
    * permutation-invariant within equal (t, delta) keys (all −1s then
    * all +1s are each monotone), so tie order can't change the answer in
    * either engine.
    */
  def sessionConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val sessions = Tables.events(spark, sfDir)
      .withColumn("prev_us", lag(tsUs, 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          tsUs - col("prev_us") > lit(1800L * 1000000L)).cast("long"))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    val slices = sessions
      .select(col("s_start"), col("s_end"),
        explode(sequence(to_date(col("s_start")), to_date(col("s_end"))))
          .as("day"))
      .select(col("s_start"), col("s_end"), col("day"),
        greatest(unix_micros(col("s_start").cast("timestamp")),
          unix_micros(col("day").cast("timestamp"))).as("t0"),
        least(unix_micros(col("s_end").cast("timestamp")),
          unix_micros(date_add(col("day"), 1).cast("timestamp"))).as("t1"))
      // single-event sessions (s_start == s_end) would cancel before they
      // count under end-exclusive tie order, so THOSE get a 1 µs floor; a
      // multi-day session's empty midnight tail slice stays empty
      // (end-exclusive everywhere else)
      .withColumn("t1",
        when(col("s_start") === col("s_end"), greatest(col("t1"), col("t0") + 1))
          .otherwise(col("t1")))
      .select(col("day"), col("t0"), col("t1"))
    val points = slices.select(col("day"), col("t0").as("t"), lit(1L).as("delta"))
      .union(slices.select(col("day"), col("t1").as("t"), lit(-1L).as("delta")))
    val sweep = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, 0)
    points
      .withColumn("running", sum(col("delta")).over(sweep))
      .groupBy(col("day"))
      .agg(max(col("running")).as("peak_concurrent"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_session_slices"))
      .orderBy(col("day"))
  }

  val sessionConcurrencySql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts, sum(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_idx,
      |    min(ts) AS s_start, max(ts) AS s_end
      |  FROM numbered GROUP BY 1, 2),
      |slices AS (
      |  SELECT t0,
      |    CASE WHEN s_start = s_end THEN greatest(t1, t0 + 1) ELSE t1 END AS t1,
      |    day
      |  FROM (
      |  SELECT s_start, s_end,
      |    greatest(epoch_us(s_start), epoch_us(CAST(day AS TIMESTAMP))) AS t0,
      |    least(epoch_us(s_end),
      |          epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))) AS t1,
      |    CAST(day AS DATE) AS day
      |  FROM (SELECT s_start, s_end,
      |          unnest(generate_series(CAST(s_start AS DATE),
      |            CAST(s_end AS DATE), INTERVAL 1 DAY)) AS day
      |        FROM sessions))),
      |points AS (
      |  SELECT day, t0 AS t, 1 AS delta FROM slices
      |  UNION ALL SELECT day, t1, -1 FROM slices),
      |swept AS (
      |  SELECT day, delta, sum(delta) OVER (
      |    PARTITION BY day ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM points)
      |SELECT day, CAST(max(running) AS BIGINT) AS peak_concurrent,
      |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_session_slices
      |FROM swept GROUP BY day ORDER BY day""".stripMargin

  /** Nearest-in-time join ([[AsOfJoin.nearest]]): each click/view paired
    * with the CLOSEST purchase by the same user in either direction,
    * ties to the past — the attribution variant where "the purchase just
    * after the click" counts too. One union + one (user, ts)-sorted
    * window recovers both temporal neighbors; no theta-join, no row
    * explosion (the oracle needs TWO asof joins to express the same
    * thing). Output carries direction + signed distance so downstream
    * can window it.
    */
  def asofNearestEvent(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val probes = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    AsOfJoin.nearest(probes, purchases, key = "user_id", ts = "ts",
      rightCols = Seq("purchase_id"))
      .select(col("event_id"), col("user_id"), col("matched_purchase_id"),
        col("matched_direction"), col("matched_dist_us"))
      .orderBy(col("event_id"))
  }

  val asofNearestEventSql: String =
    """WITH probes AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |  WHERE event_type IN ('click', 'view')),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    max(event_id) AS purchase_id
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |b AS (
      |  SELECT e.event_id, p.purchase_id AS b_id, p.ts AS b_ts
      |  FROM probes e ASOF LEFT JOIN p
      |    ON e.user_id = p.user_id AND e.ts >= p.ts),
      |f AS (
      |  SELECT e.event_id, p.purchase_id AS f_id, p.ts AS f_ts
      |  FROM probes e ASOF LEFT JOIN p
      |    ON e.user_id = p.user_id AND e.ts < p.ts),
      |j AS (
      |  SELECT pr.event_id, pr.user_id, pr.ts, b_id, b_ts, f_id, f_ts,
      |    (f_ts IS NULL OR (b_ts IS NOT NULL
      |       AND epoch_us(pr.ts) - epoch_us(b_ts)
      |           <= epoch_us(f_ts) - epoch_us(pr.ts))) AS pick_b
      |  FROM probes pr
      |  LEFT JOIN b ON b.event_id = pr.event_id
      |  LEFT JOIN f ON f.event_id = pr.event_id)
      |SELECT event_id, user_id,
      |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
      |       WHEN pick_b THEN b_id ELSE f_id END AS matched_purchase_id,
      |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
      |       WHEN pick_b THEN 'backward' ELSE 'forward' END
      |    AS matched_direction,
      |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
      |       WHEN pick_b THEN epoch_us(ts) - epoch_us(b_ts)
      |       ELSE epoch_us(f_ts) - epoch_us(ts) END AS matched_dist_us
      |FROM j
      |ORDER BY event_id""".stripMargin

  /** Batch twin of the stream-stream LEFT SEMI interval join
    * ([[graft.streaming.StreamingAnalytics.clickAttributionSemi]]):
    * clicks that converted to a purchase within one hour, each emitted
    * exactly once regardless of how many purchases followed — the
    * qualified-leads list. LEFT SEMI keeps the probe side's columns
    * only and never multiplies rows, so the plan carries no post-join
    * dedup.
    */
  def clickConversionSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
      .select(col("click_id"), col("user_id"), col("click_ts"))
      .orderBy(col("click_id"))
  }

  val clickConversionSemiSql: String =
    """SELECT c.event_id AS click_id, c.user_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts
      |FROM events c
      |WHERE c.event_type = 'click'
      |  AND EXISTS (
      |    SELECT 1 FROM events p
      |    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |      AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |      AND CAST(p.ts AS TIMESTAMP)
      |        <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR)
      |ORDER BY click_id""".stripMargin

  /** SLIDING-window top-k — the trending-now rollup: 1-hour windows
    * every 30 minutes (each event lands in exactly two windows — the
    * native `window(ts, size, slide)` semantics Structured Streaming
    * shares), top-3 event types per window by count. The slide is a
    * map-side 2-row expand, the rank filter keeps the WindowGroupLimit
    * partial top-k, and the oracle reproduces Spark's epoch-aligned
    * window starts with integer µs arithmetic.
    */
  def slidingWindowTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes")
        .getField("start").as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        W.partitionBy(col("win_start"))
          .orderBy(col("n").desc, col("event_type"))).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("win_start"), col("rnk"), col("event_type"), col("n"))
      .orderBy(col("win_start"), col("rnk"))
  }

  val slidingWindowTopkSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      - epoch_us(CAST(ts AS TIMESTAMP)) % 1800000000 AS s0
      |  FROM events),
      |w AS (
      |  SELECT event_type, unnest([s0, s0 - 1800000000]) AS ws FROM e),
      |g AS (
      |  SELECT make_timestamp(ws) AS win_start, event_type,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM w GROUP BY ws, event_type),
      |r AS (
      |  SELECT win_start, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY win_start
      |      ORDER BY n DESC, event_type) AS BIGINT) AS rnk
      |  FROM g)
      |SELECT win_start, rnk, event_type, n
      |FROM r WHERE rnk <= 3
      |ORDER BY win_start, rnk""".stripMargin

  /** Last-touch attribution — which activity a purchase should be
    * credited to: for every purchase, the most recent non-purchase
    * event of the same user at-or-before the purchase instant
    * ([[graft.operators.AsOfJoin.backward]] with the documented
    * event_id last-wins tiebreak), aggregated to credit counts and
    * shares per touch type ('none' when the purchase is the user's
    * first event). The as-of machinery makes attribution one
    * union+window pass — never a per-purchase correlated lookup.
    */
  def attributionLastTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val attributed = graft.operators.AsOfJoin.backward(
      purchases, touches, key = "user_id", ts = "ts",
      rightCols = Seq("event_type"), prefix = "touch_",
      tiebreak = Seq("event_id"))
    val counts = attributed
      .withColumn("touch", coalesce(col("touch_event_type"), lit("none")))
      .groupBy(col("touch")).agg(count(lit(1)).as("n_purchases"))
    val tot = counts.agg(sum(col("n_purchases")).as("total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_purchases").cast("double") / col("total").cast("double"))
      .select(col("touch"), col("n_purchases"), col("share"))
      .orderBy(col("touch"))
  }

  val attributionLastTouchSql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    0 AS side, CAST(NULL AS VARCHAR) AS etype
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    1 AS side, event_type
      |  FROM events WHERE event_type <> 'purchase'),
      |m AS (
      |  SELECT user_id, ts, side,
      |    last_value(etype IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, side DESC, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch0
      |  FROM u),
      |c AS (
      |  SELECT coalesce(touch0, 'none') AS touch,
      |    CAST(count(*) AS BIGINT) AS n_purchases
      |  FROM m WHERE side = 0
      |  GROUP BY 1),
      |t AS (SELECT sum(n_purchases) AS total FROM c)
      |SELECT touch, n_purchases,
      |  CAST(n_purchases AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM c, t
      |ORDER BY touch""".stripMargin

  /** Churn-risk inactivity flag — the lifecycle screen a retention team
    * runs daily: per repeat purchaser, the mean inter-purchase gap
    * ((last − first) / (n − 1), pure integer µs) against the idle time
    * since their last purchase relative to the corpus horizon; at-risk
    * when idle exceeds 2× the personal cadence. One scan, one per-user
    * aggregate, one broadcast horizon scalar — integer arithmetic
    * end-to-end so the flag itself is hash-gated.
    */
  def churnInactivity(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val horizon = p.agg(max(col("ts")).as("now_ts"))
    p.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .filter(col("n_purchases") >= 2)
      .crossJoin(broadcast(horizon))
      .withColumn("mean_gap_us",
        expr("(unix_micros(cast(last_ts as timestamp))" +
          " - unix_micros(cast(first_ts as timestamp)))" +
          " div (n_purchases - 1)"))
      .withColumn("idle_us",
        expr("unix_micros(cast(now_ts as timestamp))" +
          " - unix_micros(cast(last_ts as timestamp))"))
      .withColumn("churn_risk", col("idle_us") > lit(2L) * col("mean_gap_us"))
      .select(col("user_id"), col("n_purchases"), col("mean_gap_us"),
        col("idle_us"), col("churn_risk"))
      .orderBy(col("user_id"))
  }

  val churnInactivitySql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'purchase'),
      |h AS (SELECT max(ts) AS now_ts FROM p),
      |u AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |    min(ts) AS first_ts, max(ts) AS last_ts
      |  FROM p GROUP BY user_id
      |  HAVING count(*) >= 2)
      |SELECT user_id, n_purchases,
      |  (epoch_us(last_ts) - epoch_us(first_ts)) // (n_purchases - 1)
      |    AS mean_gap_us,
      |  epoch_us(now_ts) - epoch_us(last_ts) AS idle_us,
      |  epoch_us(now_ts) - epoch_us(last_ts)
      |    > 2 * ((epoch_us(last_ts) - epoch_us(first_ts)) // (n_purchases - 1))
      |    AS churn_risk
      |FROM u, h
      |ORDER BY user_id""".stripMargin
}
