package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Batch relational query surface over the harness star schema.
  *
  * Each query is paired with ANSI SQL in its [[graft.QuerySpec]] (the
  * registry is [[graft.SparkEntry.specs]]) that DuckDB runs on the same
  * parquet files; the driver hash-compares results,
  * so determinism rules apply throughout:
  *
  *   - Money arithmetic is done in DECIMAL(18,2) (cast from the stored
  *     doubles) so sums are exact and order-independent — a double sum over
  *     600k rows would differ in the last bits between engines depending on
  *     reduction order.
  *   - Every computed column is aliased identically here and in the oracle
  *     SQL (the driver sorts columns by name before hashing).
  *   - No nondeterministic functions (current_timestamp etc.) in gated
  *     queries.
  */
object Relational {

  /** Cast a stored double money column to exact decimal before arithmetic. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Final-emit conversion for decimal aggregates. The arithmetic stays in
    * DECIMAL (exact, order-independent), but gated outputs must not carry a
    * decimal column: the driver's hash renders values through float repr, so
    * any decimal whose exact-scale string has a trailing zero ('190.00')
    * mismatches the oracle. decimal→double of the identical exact value is
    * bit-identical in Spark and DuckDB, so emitting DOUBLE is lossless for
    * the comparison. DO NOT move the arithmetic itself to double — reduction
    * order would diverge between engines at 600k rows.
    */
  private def emit(c: Column): Column = c.cast("double")

  /** TPC-H Q1-style pricing summary: the flagship scan+aggregate.
    * Single shuffle on (l_returnflag, l_linestatus) with map-side partial
    * aggregation; scan reads only the 7 referenced columns.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        emit(sum(dec(col("l_quantity")))).as("sum_qty"),
        emit(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        emit(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue expression shared by the join queries. */
  private def revenue: Column =
    dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))

  /** TPC-H Q3-style: 3-way join + group + top-10 by revenue.
    * customer is broadcast-size relative to lineitem at every SF; orders ⋈
    * lineitem co-shuffles on the order key. Tiebreak on o_orderkey keeps the
    * limit deterministic.
    */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(emit(sum(revenue)).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3ShippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style: 5-way star join down to per-nation revenue. region,
    * nation, supplier, customer are all broadcast dims; the only big
    * shuffle is lineitem ⋈ orders.
    */
  def q5RegionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(emit(sum(revenue)).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5RegionRevenueSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Semi join (EXISTS): customers that have at least one urgent order,
    * counted per market segment. left_semi keeps the build side small and
    * never duplicates probe rows.
    */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val joinSemiSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Anti join (NOT EXISTS): customers who never placed a big-ticket order
    * (every customer has SOME order in this data, so the anti side is
    * filtered to keep the result non-trivial).
    */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_totalprice") > 300000).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val joinAntiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** Left outer join + null-aware aggregation: order counts per customer
    * including order-less customers.
    */
  def joinOuterCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        emit(coalesce(sum(dec(col("o_totalprice"))), lit(0).cast("decimal(18,2)")))
          .as("total_spend"))
      .orderBy(col("c_custkey"))

  val joinOuterCountsSql: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Ranking window: top-3 orders by price per customer. One shuffle on
    * o_custkey; rank computed inside the sorted partition, filter prunes
    * before any downstream work.
    */
  def windowTopNPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rank_in_cust", row_number().over(w).cast("long"))
      .filter(col("rank_in_cust") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank_in_cust"))
      .orderBy(col("o_custkey"), col("rank_in_cust"))
  }

  val windowTopNPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust
      |  FROM orders)
      |WHERE rank_in_cust <= 3
      |ORDER BY o_custkey, rank_in_cust""".stripMargin

  /** Analytic window: per-supplier running quantity over ship time (fully
    * tiebroken ordering so the frame is deterministic).
    */
  def windowRunningSum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, sfDir)
      .filter(col("l_suppkey") <= 5)
      .withColumn("running_qty", emit(sum(dec(col("l_quantity"))).over(w)))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  val windowRunningSumSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem
      |WHERE l_suppkey <= 5
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  /** Global top-k sort: k=100 by extended price, fully tiebroken.
    * Catalyst plans this as TakeOrderedAndProject — per-partition top-k then
    * a single driver merge, no global sort.
    */
  def sortTopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  val sortTopKSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin

  /** Set operations: high-balance ∪/∩/− BUILDING-segment customer keys,
    * disambiguated by a tag column so one query covers all three.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val rich = cust.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val building = cust.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val union = rich.union(building).distinct().withColumn("which", lit("union"))
    val intersect = rich.intersect(building).withColumn("which", lit("intersect"))
    val except = rich.except(building).withColumn("which", lit("except"))
    union.union(intersect).union(except)
      .orderBy(col("which"), col("c_custkey"))
  }

  val setOpsSql: String =
    """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
      |     building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT c_custkey, 'union' AS which FROM (SELECT DISTINCT c_custkey FROM (SELECT * FROM rich UNION ALL SELECT * FROM building))
      |UNION ALL
      |SELECT c_custkey, 'intersect' AS which FROM (SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM building)
      |UNION ALL
      |SELECT c_custkey, 'except' AS which FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM building)
      |ORDER BY which, c_custkey""".stripMargin

  /** Distinct aggregation: exact distinct part/supplier counts per return
    * flag (two distinct aggregates in one pass → Spark expands, one shuffle
    * per distinct set under AQE).
    */
  def aggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val aggDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Rollup (grouping sets): subtotal hierarchy over (returnflag,
    * linestatus); integral quantities keep the double sums exact.
    */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(emit(sum(dec(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val aggRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Correlated scalar-subquery shape (decorrelated by Catalyst into a
    * join): parts priced above their type's average retail price.
    * Exact because avg is over integral-cent prices? No — avg of doubles is
    * order-dependent, so the comparison uses decimal sums: price * n >
    * sum(prices) per type.
    */
  def aboveTypeAvgParts(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
    val typeAgg = p.groupBy(col("p_type").as("t_type"))
      .agg(sum(dec(col("p_retailprice"))).as("t_sum"), count(lit(1)).as("t_n"))
    p.join(broadcast(typeAgg), col("p_type") === col("t_type"))
      .filter(dec(col("p_retailprice")) * col("t_n") > col("t_sum"))
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  val aboveTypeAvgPartsSql: String =
    """SELECT p_partkey, p_type, p_retailprice
      |FROM part p
      |JOIN (SELECT p_type AS t_type, sum(CAST(p_retailprice AS DECIMAL(18,2))) AS t_sum, count(*) AS t_n
      |      FROM part GROUP BY p_type) t ON p.p_type = t.t_type
      |WHERE CAST(p_retailprice AS DECIMAL(18,2)) * t_n > t_sum
      |ORDER BY p_partkey""".stripMargin
}
