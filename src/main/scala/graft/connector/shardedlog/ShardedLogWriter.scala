package graft.connector.shardedlog

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** Keyed batch writes into a sharded-log stream (≙ the consumer's
  * `PutRecord(..., PartitionKey=session_id)`, consumer.py:160-171, and the
  * reference's per-key ordering contract, README.md:244-256).
  *
  * Scale design: rows are repartitioned so that every open DESTINATION
  * (stream, shard) has a reduce partition of its own (exactly one task
  * appends to each shard file — single-writer discipline, no cross-task
  * interleaving — and no task appends for two destinations), then sorted
  * within the partition by the caller's order columns (source shard +
  * sequence number), which preserves per-key arrival order end-to-end. One
  * shuffle for every destination stream of a batch. Each task appends its
  * sorted run straight from the sort's iterator ([[ShardedLog.appendLines]]
  * in bounded chunks), so no task holds its rows in memory; the sort has
  * consumed the whole partition before the first append, so a failed
  * shuffle fetch still writes nothing.
  */
object ShardedLogWriter {

  /** Catalyst twin of [[ShardedLog.shardFor]] — same md5 hash-range split,
    * so Spark-side writes and driver-side `putRecord` agree on placement.
    * The 60-bit × numShards product must stay in a signed long: numShards
    * ≤ 8 (the reference uses 2).
    */
  def shardIndexCol(key: Column, numShards: Int): Column = {
    require(numShards > 0 && numShards <= 8,
      s"numShards must be in [1,8], got $numShards")
    shiftright(
      conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")
        * numShards, 60)
  }

  /** Catalyst twin of [[ShardedLog.openShardFor]]: route each key's 60-bit
    * md5 hash to the OPEN shard whose range contains it — a small CASE
    * chain over the (driver-read) shard metadata, so writes honor
    * resharding lineage exactly like driver-side `putRecord`. On a
    * never-resharded stream this is placement-identical to
    * [[shardIndexCol]].
    */
  def shardNameCol(key: Column, meta: Seq[ShardedLog.ShardInfo]): Column = {
    val open = meta.filter(_.open).sortBy(_.start)
    require(open.nonEmpty, "stream has no open shards")
    byHashRange(key, open, si => lit(si.name))
  }

  /** `value` of the shard of `open` (sorted by range start) whose hash
    * range holds `key`'s 60-bit md5 hash.
    */
  private def byHashRange(key: Column, open: Seq[ShardedLog.ShardInfo],
      value: ShardedLog.ShardInfo => Column): Column = {
    val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    open.init.foldRight(value(open.last))((si, rest) =>
      when(h < si.endEx, value(si)).otherwise(rest))
  }

  /** For `n` reduce partitions, an int per partition `p` that Spark's hash
    * partitioning of an int column (`pmod(murmur3(v, 42), n)`) sends to `p`,
    * found by evaluating the partitioner's own expression.
    */
  private def partitionKeys(n: Int): Array[Int] = {
    val keys = Array.fill(n)(-1)
    var v = 0
    var left = n
    while (left > 0) {
      val p = HashPartitioning(Seq(Literal(v)), n).partitionIdExpression
        .eval().asInstanceOf[Int]
      if (keys(p) < 0) { keys(p) = v; left -= 1 }
      v += 1
    }
    keys
  }

  /** Write `batch` into the stream at `streamDir`. `orderWithinKey` should
    * be the upstream ordering columns (e.g. source shard, sequence_number);
    * rows for the same partition key are appended in that order. Writes
    * route only to OPEN shards (closed reshard parents take no records).
    */
  def write(batch: DataFrame, streamDir: String, keyCol: Column,
      dataCol: Column, orderWithinKey: Seq[Column] = Nil): Unit =
    writeRouted(batch, lit(streamDir), Map(streamDir -> streamDir), keyCol,
      dataCol, orderWithinKey)

  /** Write each row of `batch` into the stream `streams(route)`, where
    * `route` is the row's `routeCol` value, in ONE job: one repartition with
    * a reduce partition per open (stream, shard) of every stream, so each
    * destination shard has exactly one writing task and every task writes
    * one shard. A row whose route has no entry in `streams` is not written.
    * Placement and per-key order are those of [[write]].
    */
  def writeRouted(batch: DataFrame, routeCol: Column,
      streams: Map[String, String], keyCol: Column, dataCol: Column,
      orderWithinKey: Seq[Column] = Nil): Unit = {
    val routes = streams.toSeq.map { case (route, dir) =>
      val open = ShardedLog.shardMeta(dir).filter(_.open).sortBy(_.start)
      require(open.nonEmpty, s"stream $dir does not exist / has no open shards")
      (route, dir, open)
    }
    if (routes.isEmpty) return
    // the d-th destination (stream dir, shard) is keyed to reduce partition d
    val dests = routes.flatMap { case (_, dir, open) => open.map(si => (dir, si.name)) }
    val keyOf = dests.zip(partitionKeys(dests.size)).toMap
    val destOf = keyOf.map(_.swap)
    val destCol = routes.foldRight(lit(null): Column) { case ((route, dir, open), rest) =>
      when(routeCol === route, byHashRange(keyCol, open, si => lit(keyOf((dir, si.name)))))
        .otherwise(rest)
    }
    val sorted = batch.select((Seq(destCol.as("__dest"),
        keyCol.cast("string").as("__key"),
        dataCol.cast("binary").as("__data")) ++ orderWithinKey): _*)
      .filter(col("__dest").isNotNull)
      .repartition(dests.size, col("__dest"))
      .sortWithinPartitions((col("__dest") +: orderWithinKey): _*)
    sorted.foreachPartition { rows: Iterator[Row] =>
      val now = System.currentTimeMillis()
      val it = rows.buffered
      while (it.hasNext) {
        val dest = it.head.getInt(0)
        val (dir, shard) = destOf(dest)
        ShardedLog.appendLines(dir, shard, new Iterator[(String, Array[Byte], Long)] {
          override def hasNext: Boolean = it.hasNext && it.head.getInt(0) == dest
          override def next(): (String, Array[Byte], Long) = {
            val r = it.next()
            (r.getString(1), r.getAs[Array[Byte]](2), now)
          }
        })
      }
    }
  }
}
