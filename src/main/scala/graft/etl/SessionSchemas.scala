package graft.etl

import org.apache.spark.sql.types._

/** Schemas of the reference's `user_session` payload: the session fields
  * [[graft.functions.SessionDecode]] emits.
  *
  * Reference: /root/reference README.md:279-298 (canonical record),
  * Solution.ipynb:497 (quantity "arrives as a string due to the decoding
  * process" — hence lenient StringType here, coerced later), consumer.py:142
  * (`in_shopping_cart is True` — strict boolean).
  */
object SessionSchemas {

  /** One entry of `browse_history`. `quantity` is a StringType so a JSON
    * int OR string both survive parsing (a numeric token reads as its
    * string form when the schema says string); the cast-to-long
    * ([[Enrich.qty]]) mirrors the reference's `int(...)` coercion
    * (consumer.py:137-139).
    */
  val browseItem: StructType = StructType(Seq(
    StructField("product_code", StringType),
    StructField("quantity", StringType),
    StructField("in_shopping_cart", BooleanType)))

  /** Top-level session record (README.md:279-298). */
  val session: StructType = StructType(Seq(
    StructField("session_id", StringType),
    StructField("customer_number", LongType),
    StructField("city", StringType),
    StructField("country", StringType),
    StructField("credit_limit", LongType),
    StructField("browse_history", ArrayType(browseItem))))
}
