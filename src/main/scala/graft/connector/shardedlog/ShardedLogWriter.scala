package graft.connector.shardedlog

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Keyed batch writes into a sharded-log stream (≙ the consumer's
  * `PutRecord(..., PartitionKey=session_id)`, consumer.py:160-171, and the
  * reference's per-key ordering contract, README.md:244-256).
  *
  * Scale design: rows are repartitioned by DESTINATION (stream, shard) (so
  * exactly one task appends to each shard file — single-writer discipline,
  * no cross-task interleaving) and sorted within the partition by the
  * caller's order columns (source shard + sequence number), which preserves
  * per-key arrival order end-to-end. One shuffle for every destination
  * stream of a batch, append-only IO.
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
    val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    open.init.foldRight(lit(open.last.name): Column)((si, rest) =>
      when(h < si.endEx, lit(si.name)).otherwise(rest))
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
    * `route` is the row's `routeCol` value, in ONE job: one repartition over
    * the union of every stream's open shards, keyed by (stream, shard), so
    * each destination shard still has exactly one writing task. A row whose
    * route has no entry in `streams` is not written. Placement and per-key
    * order are those of [[write]].
    */
  def writeRouted(batch: DataFrame, routeCol: Column,
      streams: Map[String, String], keyCol: Column, dataCol: Column,
      orderWithinKey: Seq[Column] = Nil): Unit = {
    val metas = streams.toSeq.map { case (route, dir) =>
      val meta = ShardedLog.shardMeta(dir)
      require(meta.exists(_.open), s"stream $dir does not exist / has no open shards")
      (route, dir, meta)
    }
    if (metas.isEmpty) return
    val dirs = metas.map(_._2).toArray
    def byRoute(f: Int => Column): Column =
      metas.indices.foldRight(lit(null))((i, rest) =>
        when(routeCol === metas(i)._1, f(i)).otherwise(rest))
    val prepared = batch.select(
      (Seq(byRoute(i => lit(i)).as("__stream"),
        byRoute(i => shardNameCol(keyCol, metas(i)._3)).as("__shard"),
        keyCol.cast("string").as("__key"),
        dataCol.cast("binary").as("__data")) ++ orderWithinKey): _*)
      .filter(col("__stream").isNotNull)
    val sorted = prepared
      .repartition(metas.map(_._3.count(_.open)).sum, col("__stream"), col("__shard"))
      .sortWithinPartitions((col("__stream") +: col("__shard") +: orderWithinKey): _*)
    sorted.foreachPartition { rows: Iterator[Row] =>
      val buffers = mutable.LinkedHashMap.empty[(Int, String), mutable.ArrayBuffer[(String, Array[Byte], Long)]]
      val now = System.currentTimeMillis()
      rows.foreach { r =>
        buffers.getOrElseUpdate((r.getInt(0), r.getString(1)), mutable.ArrayBuffer.empty) +=
          ((r.getString(2), r.getAs[Array[Byte]](3), now))
      }
      buffers.foreach { case ((stream, shard), recs) =>
        ShardedLog.appendLines(dirs(stream), shard, recs.toSeq)
      }
    }
  }
}
