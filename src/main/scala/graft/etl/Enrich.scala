package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's four per-record derived attributes (SURVEY.md §2.2
  * P1–P4), as pure `Column` functions over built-in expressions (no UDFs).
  * The streaming ETL computes P2–P4 natively inside
  * [[graft.functions.SessionDecode]] with the same semantics; these column
  * forms serve the `EtlParity` gate queries, which apply them to
  * browse-history-shaped arrays where a DuckDB oracle exists. Their
  * higher-order array functions (`aggregate`, `filter`) are not compiled:
  * on Spark 4.1.2 `ArrayAggregate` and `ArrayFilter` implement
  * `CodegenFallback`, so a generated projection calls their interpreted
  * `eval` per row.
  *
  * Reference semantics reproduced exactly:
  *  - consumer.py:126-129  processing_timestamp = now(), ISO-8601 serialized
  *  - consumer.py:131-150  overall_product_quantity = Σ int(item.quantity)
  *    (string-or-int lenient coercion, Solution.ipynb:497)
  *  - consumer.py:141-153  overall_in_shopping_cart = Σ int(quantity) where
  *    in_shopping_cart `is True` — STRICT boolean: a JSON string "true" or
  *    null does not count
  *  - consumer.py:155-157  total_different_products = len(browse_history)
  *    (plain length, no dedup, despite the name)
  */
object Enrich {

  /** `item.quantity` coerced like Python's `int(...)`: integral strings and
    * ints pass directly; numeric floats truncate toward zero (Python
    * `int(2.5)` == 2, `int(-2.5)` == -2 — double→long cast truncation, NOT
    * floor); anything else (null / missing / non-numeric) is null — the
    * ETL's validity rule ([[graft.functions.SessionDecoder]], which applies
    * this same cast) routes such records to the dead-letter channel,
    * mirroring the reference's raise-log-skip (consumer.py:178-185).
    *
    * Known divergence, by construction: `quantity` parses as StringType
    * (see [[SessionSchemas.browseItem]]), so a JSON number `2.5` and a JSON
    * string `"2.5"` are indistinguishable here. The reference accepts the
    * former (`int(2.5)`) and raises on the latter (`int("2.5")`); we accept
    * BOTH — lenient in the direction that never drops a record the
    * reference would keep.
    */
  private[etl] def qty(item: Column): Column = {
    val q = item.getField("quantity")
    coalesce(q.try_cast("long"), q.try_cast("double").try_cast("long"))
  }

  /** P2: sum of quantities over the whole browse_history. */
  def overallProductQuantity(browseHistory: Column): Column =
    aggregate(browseHistory, lit(0L), (acc, x) => acc + qty(x))

  /** P3: sum of quantities over items whose cart flag is strictly true.
    * `=== true` on a BooleanType column is null-safe-false for null, so
    * null/absent flags are excluded — same as Python `None is True`.
    */
  def overallInShoppingCart(browseHistory: Column): Column =
    aggregate(
      filter(browseHistory, x => x.getField("in_shopping_cart") === lit(true)),
      lit(0L), (acc, x) => acc + qty(x))

  /** P4: array length (the reference counts entries, not distinct codes). */
  def totalDifferentProducts(browseHistory: Column): Column =
    size(browseHistory).cast("long")

  /** P1: processing timestamp. Injectable for deterministic tests
    * (SURVEY.md §7.4(5)); production default is the batch-evaluation clock.
    */
  def processingTimestamp(clock: Column = current_timestamp()): Column = clock

  /** ISO-8601 microsecond rendering used on the output wire format,
    * matching Python's `datetime.isoformat()` (consumer.py:32-41).
    */
  def isoTimestamp(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
}
