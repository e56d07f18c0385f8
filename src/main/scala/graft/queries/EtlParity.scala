package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables
import graft.etl.{Enrich, Route}

/** Gate coverage for the reference ETL operators (SURVEY.md §2.2, §2.5) over
  * the batch testdata: the driver's DuckDB oracle can't run the streaming
  * pipeline, so these queries apply `Enrich`'s column forms and `Route` to
  * browse-history-shaped arrays built from `lineitem`, where a plain-SQL
  * oracle exists. The streaming ETL computes P2–P4 natively in
  * [[graft.functions.SessionDecode]] instead; `SessionDecodeDifferentialSpec`
  * ties those column forms to the decoder byte for byte. P1
  * (processing_timestamp) is nondeterministic and stays unit-test-only
  * (injected clock).
  */
object EtlParity {

  /** P2+P3+P4+P5 in one shot: per-order "sessions" (collect_list of structs
    * ≙ browse_history), the three array-derived attributes via [[Enrich]]'s
    * column forms, and the routing predicate on the
    * order status. Shuffle count: one (groupBy l_orderkey); the orders join
    * is broadcast at these sizes and co-keyed at scale.
    */
  def enrichSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    // Numbered repartition on the session key (r12): the 3-row-group
    // testdata scan ran scan + partial collect_list + shuffle write on 3
    // tasks (~1.2 s warm); pre-partitioning on l_orderkey moves the
    // object-hash list aggregation to 32 tasks, and HashPartitioning on
    // the key satisfies the groupBy's distribution (subset rule) so no
    // second shuffle appears. Same bytes cross the wire either way —
    // postings shuffled raw instead of partially aggregated (arrays of
    // per-line structs don't combine map-side anyway). 2.4 → 1.1 s warm.
    val par = spark.sparkContext.defaultParallelism
    val sessions = li
      .repartition(par, col("l_orderkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderstatus"))
      .agg(collect_list(struct(
        col("l_quantity").as("quantity"),
        (col("l_returnflag") === lit("R")).as("in_shopping_cart")))
        .as("browse_history"))
    // No output ordering AT ALL (r13): the r12 reshape kept a total order
    // by range-partitioning the aggregated sessions below the enrich
    // projection — but this is the one orderedBelow member whose range
    // input is a heavy AGGREGATE, not a scan, and repartitionByRange's
    // bounds sample re-executes its entire input lineage: the ×1000
    // stage profile showed the 750M-row join + collect_list running
    // TWICE (163 s sample pass + 169 s real pass, 43% of the query), and
    // the checkpoint-below-range alternative measured WORSE (650 s —
    // materializing 150M array-struct rows costs more than recomputing
    // them). Ordering was never a semantic requirement here — the
    // reference ETL emits per-shard records with no global order
    // (consumer.py writes what it polls), and the gate compare is
    // order-independent — so the right shape is projection directly above
    // the numbered hash repartition: heavy work runs ONCE, and both the
    // ~5 GB range exchange and its sampling pass disappear. ×1000
    // measured: 354 s (min-of-2) → 88 s warm — join+agg+project fused
    // into a single consumption of the 8.7 GB exchange.
    sessions
      .select(
        col("l_orderkey"),
        Enrich.overallProductQuantity(col("browse_history"))
          .as("overall_product_quantity"),
        Enrich.overallInShoppingCart(col("browse_history"))
          .as("overall_in_shopping_cart"),
        Enrich.totalDifferentProducts(col("browse_history"))
          .as("total_different_products"),
        Route.route(when(col("o_orderstatus") === "F", lit("USA"))
          .otherwise(col("o_orderstatus"))).as("route"))
  }

  /** Oracle: per-item int-truncation then sum, matching Python `int(...)`
    * semantics (double→long cast truncates toward zero; quantities are
    * positive so floor ≡ trunc).
    */
  val enrichSessionsSql: String =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS overall_product_quantity,
      |  CAST(coalesce(sum(CASE WHEN l_returnflag = 'R' THEN CAST(floor(l_quantity) AS BIGINT) END), 0) AS BIGINT) AS overall_in_shopping_cart,
      |  count(*) AS total_different_products,
      |  CASE WHEN o_orderstatus = 'F' THEN 'usa' ELSE 'international' END AS route
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey, o_orderstatus
      |ORDER BY l_orderkey""".stripMargin

  /** S4 (schema-on-read JSON decode) over `events.props`: parse, extract,
    * filter, aggregate. The from_json → getField chain is what the streaming
    * decode path runs; pushdown note: only (props, event_type) are read.
    */
  def eventsJsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables.events(spark, sfDir)
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .filter(col("k").isNotNull && col("k") % 2 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_even"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  val eventsJsonExtractSql: String =
    """SELECT event_type, count(*) AS n_even, CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
      |WHERE k IS NOT NULL AND k % 2 = 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Spark 4 VARIANT path for semi-structured data: `parse_json` turns
    * the props payload into the binary VARIANT type once at scan time
    * (shredded, no per-access re-parse — the reason VARIANT beats
    * repeated `get_json_object` at 100 TB), and typed access is
    * `variant_get(v, '$.k', 'bigint')`. Malformed payloads go through
    * `try_parse_json` → NULL rather than an ANSI runtime error. The
    * oracle reads the same JSON with DuckDB's native extraction.
    */
  def variantExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("v", expr("try_parse_json(props)"))
      .withColumn("k", expr("variant_get(v, '$.k', 'bigint')"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_props"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val variantExtractSql: String =
    """SELECT event_type, count(*) AS n_props,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_distinct_k,
      |  CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events
      |WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
}
