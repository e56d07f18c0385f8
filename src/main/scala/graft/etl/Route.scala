package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Content-based routing (SURVEY.md §2.2 P5): `country == "USA"` selects the
  * USA destination, everything else (including lowercase "usa", null never
  * reaches here — nulls are dead-lettered first) goes International.
  * Reference: consumer.py:160-165, Solution.ipynb:522.
  *
  * Expressed as a routing column that the sinks split on in one pass:
  * `ShardedLogWriter.appendInPlace` appends each row to its route's
  * destination stream from the task that decoded it, and the file sink uses
  * `partitionBy("route")`. The disjoint split is total (every record lands
  * in exactly one route).
  */
object Route {
  val Usa = "usa"
  val International = "international"

  def route(country: Column): Column =
    when(country === lit("USA"), lit(Usa)).otherwise(lit(International))
}
