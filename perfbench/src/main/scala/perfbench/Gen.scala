package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import graft.connector.shardedlog.ShardedLog

/** What the benchmark expects the topology to do with one generated record.
  * `kind` 0 is a valid session; 1..5 index [[Gen.ErrorClasses]].
  */
final case class Expected(rid: Int, kind: Int, usa: Boolean,
    quantity: Long, inCart: Long, products: Long, prefixHash: Int,
    prefixLen: Int, dueMs: Double)

/** Seeded, single-threaded generator of `user_session` payloads in the
  * reference's shape, plus the two fields the benchmark reads back: `rid`
  * (record id, for exactly-once checks) and `created_ms` (due time). Both
  * are unmodelled fields, so the ETL must carry them through byte for byte.
  *
  * A fixed share of records is malformed, one class per dead-letter error
  * `SessionEtl` distinguishes, so the `errors/` path runs in every stream
  * workload.
  */
final class Gen(seed: Long, sessions: Int, shards: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  val expected = ArrayBuffer.empty[Expected]
  private val shardOfSession = Array.tabulate(sessions) { s =>
    ShardedLog.shardName(ShardedLog.shardFor(sessionId(s), shards))
  }

  private def sessionId(s: Int): String = s"sess-$s"

  /** Next record: (shard, partition key, payload). */
  def next(dueMs: Double): (String, String, Array[Byte]) = {
    val rid = expected.size
    val s = rnd.nextInt(sessions)
    val sid = sessionId(s)
    val roll = rnd.nextInt(1000)
    val kind = if (roll < Gen.MalformedPerMille) 1 + roll % 5 else 0
    val usa = rnd.nextInt(2) == 0
    val country = if (usa) "USA" else Gen.Countries(rnd.nextInt(Gen.Countries.length))
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"rid\": ").append(rid)
      .append(", \"created_ms\": ").append(dueMs.toLong)
    if (kind == 1) {
      sb.append(", oops}")
    } else {
      if (kind != 2) sb.append(", \"session_id\": \"").append(sid).append('"')
      sb.append(", \"customer_number\": ").append(100000 + rnd.nextInt(900000))
      sb.append(", \"city\": \"").append(Gen.Cities(rnd.nextInt(Gen.Cities.length))).append('"')
      if (kind != 3) sb.append(", \"country\": \"").append(country).append('"')
      sb.append(", \"credit_limit\": ").append(1000 * (1 + rnd.nextInt(50)))
    }
    var quantity = 0L
    var inCart = 0L
    val items = 1 + rnd.nextInt(5)
    if (kind != 1 && kind != 4) {
      sb.append(", \"browse_history\": [")
      for (i <- 0 until items) {
        val q = 1 + rnd.nextInt(9)
        val cart = rnd.nextInt(10)
        if (i > 0) sb.append(", ")
        sb.append("{\"product_code\": \"P").append(rnd.nextInt(5000)).append('"')
        sb.append(", \"quantity\": ")
        if (kind == 5 && i == items - 1) sb.append("\"lots\"")
        else if (rnd.nextInt(10) == 0) sb.append('"').append(q).append('"')
        else sb.append(q)
        sb.append(", \"in_shopping_cart\": ")
          .append(if (cart < 4) "true" else if (cart < 9) "false" else "null")
        sb.append('}')
        quantity += q
        if (cart < 4) inCart += q
      }
      sb.append(']')
    }
    if (kind != 1) sb.append('}')
    val payload = sb.toString
    val prefix = payload.substring(0, payload.length - 1)
    val key = if (kind == 2) s"orphan-$rid" else sid
    expected += Expected(rid, kind, usa, quantity, inCart, items,
      MurmurHash3.stringHash(prefix), prefix.length, dueMs)
    val shard =
      if (kind == 2) ShardedLog.shardName(ShardedLog.shardFor(key, shards))
      else shardOfSession(s)
    (shard, key, payload.getBytes(UTF_8))
  }
}

object Gen {
  /** Malformed records per thousand, split evenly over the five classes. */
  val MalformedPerMille = 20
  val ErrorClasses: IndexedSeq[String] = IndexedSeq("", "corrupt_json",
    "missing_session_id", "missing_country", "missing_browse_history",
    "bad_quantity")
  private val Countries = Array("France", "Japan", "Brazil", "Germany",
    "India", "Canada", "usa")
  private val Cities = Array("Lyon", "Osaka", "Recife", "Bonn", "Pune",
    "Austin", "Leeds")
}
