package graft.connector.shardedlog

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Md5Top60

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
  * shuffle for every destination stream of a batch, fed straight by the
  * caller's projection: nothing is cached, and rows the writer does not
  * append (a route without a stream) are skipped inside the task, since a
  * filter on the computed destination would be pushed below the caller's
  * projection and evaluate it twice. Placement hashes the key with the
  * native `md5_top60` expression ([[Md5Top60]]). Each task appends its
  * sorted run straight from the sort's iterator ([[ShardedLog.appendLines]]
  * in bounded chunks), so no task holds its rows in memory; the sort has
  * consumed the whole partition before the first append, so a failed
  * shuffle fetch still writes nothing.
  *
  * A [[SideOutput]] (the ETL's dead letters) rides the same shuffle to one
  * extra reduce partition and is handed to its sink after the appends, by
  * a job that reads that partition from the shuffle's map output, so the
  * input is computed once for both.
  */
object ShardedLogWriter {

  /** Rows of a [[writeRouted]] batch where `when` holds are not appended:
    * after the appends, if there are any, `sink` receives them as a frame
    * of the batch's `columns`, in the order of the writer's order columns.
    * The side columns are null on the rows that are appended, so they cost
    * the shuffle next to nothing there.
    */
  final case class SideOutput(when: Column, columns: Seq[String],
      sink: DataFrame => Unit)

  /** `md5_top60(key)`: the leading 60 bits of the md5 of the key's UTF-8
    * bytes, the hash [[ShardedLog.hash60]] computes on the driver.
    */
  private def hash60(spark: SparkSession, key: Column): Column = {
    Md5Top60.register(spark)
    call_function("md5_top60", key.cast("string"))
  }

  /** Catalyst twin of [[ShardedLog.shardFor]] — same md5 hash-range split,
    * so Spark-side writes and driver-side `putRecord` agree on placement.
    * The 60-bit × numShards product must stay in a signed long: numShards
    * ≤ 8 (the reference uses 2).
    */
  def shardIndexCol(key: Column, numShards: Int): Column = {
    require(numShards > 0 && numShards <= 8,
      s"numShards must be in [1,8], got $numShards")
    shiftright(hash60(SparkSession.active, key) * numShards, 60)
  }

  /** `value` of the shard of `open` (sorted by range start) whose hash
    * range holds the 60-bit hash `h` — the Catalyst twin of
    * [[ShardedLog.openShardFor]], so writes honor resharding lineage.
    */
  private def byHashRange(h: Column, open: Seq[ShardedLog.ShardInfo],
      value: ShardedLog.ShardInfo => Column): Column =
    open.init.foldRight(value(open.last))((si, rest) =>
      when(h < si.endEx, value(si)).otherwise(rest))

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
    // Every row takes the one route. The route column is a cast, not
    // `lit(streamDir)`: `routeCol === route` would then compare a literal
    // with itself, which Spark logs as a trivially true predicate.
    writeRouted(batch, lit(streamDir).cast("string"),
      Map(streamDir -> streamDir), keyCol, dataCol, orderWithinKey)

  /** Write each row of `batch` into the stream `streams(route)`, where
    * `route` is the row's `routeCol` value, in ONE shuffle: a reduce
    * partition per open (stream, shard) of every stream, so each
    * destination shard has exactly one writing task and every task writes
    * one shard, plus one for the `side` rows if given. A row whose route
    * has no entry in `streams` is not written. Placement and per-key order
    * are those of [[write]].
    */
  def writeRouted(batch: DataFrame, routeCol: Column,
      streams: Map[String, String], keyCol: Column, dataCol: Column,
      orderWithinKey: Seq[Column] = Nil, side: Option[SideOutput] = None): Unit = {
    val routes = streams.toSeq.map { case (route, dir) =>
      val open = ShardedLog.shardMeta(dir).filter(_.open).sortBy(_.start)
      require(open.nonEmpty, s"stream $dir does not exist / has no open shards")
      (route, dir, open)
    }
    // the d-th destination (stream dir, shard) is keyed to reduce partition
    // d; the side rows, if any, to the last one
    val dests = routes.flatMap { case (_, dir, open) => open.map(si => (dir, si.name)) }
    if (dests.isEmpty && side.isEmpty) return
    val keys = partitionKeys(dests.size + side.size)
    val keyOf = dests.zip(keys).toMap
    val destOf = keyOf.map(_.swap)
    val sideKey = if (side.isDefined) keys.last else -1
    val spark = batch.sparkSession
    val h = hash60(spark, keyCol)
    val routed = routes.foldRight(lit(null).cast("int")) { case ((route, dir, open), rest) =>
      when(routeCol === route, byHashRange(h, open, si => lit(keyOf((dir, si.name)))))
        .otherwise(rest)
    }
    val destCol = side.fold(routed)(s => when(s.when, lit(sideKey)).otherwise(routed))
    val sideCols = side.toSeq.flatMap(s => s.columns.zipWithIndex.map { case (c, i) =>
      when(s.when, col(c)).as(s"__side$i")
    })
    val sorted = batch.select((Seq(destCol.as("__dest"),
        keyCol.cast("string").as("__key"),
        dataCol.cast("binary").as("__data")) ++ orderWithinKey ++ sideCols): _*)
      .repartition(keys.length, col("__dest"))
      .sortWithinPartitions((col("__dest") +: orderWithinKey): _*)
    // the map stage runs here (adaptive execution materializes it to plan
    // the final stage); every job below reads its output
    val rows = sorted.queryExecution.toRdd
    val sideParts = spark.sparkContext.collectionAccumulator[Int]
    rows.foreachPartition { part =>
      val now = System.currentTimeMillis()
      val it = part.buffered
      while (it.hasNext) {
        if (it.head.isNullAt(0)) it.next() // a route without a stream
        else {
          val dest = it.head.getInt(0)
          def inRun = it.hasNext && !it.head.isNullAt(0) && it.head.getInt(0) == dest
          if (dest == sideKey) {
            sideParts.add(TaskContext.getPartitionId())
            while (inRun) it.next()
          } else {
            val (dir, shard) = destOf(dest)
            ShardedLog.appendLines(dir, shard, new Iterator[(String, Array[Byte], Long)] {
              override def hasNext: Boolean = inRun
              override def next(): (String, Array[Byte], Long) = {
                val r = it.next()
                (r.getUTF8String(1).toString, r.getBinary(2), now)
              }
            })
          }
        }
      }
    }
    val parts = sideParts.value.asScala.toSet
    for (s <- side if parts.nonEmpty) {
      val offset = 3 + orderWithinKey.size
      val schema = StructType(s.columns.zip(sorted.schema.fields.drop(offset))
        .map { case (name, f) => f.copy(name = name) })
      val types = schema.fields.map(_.dataType)
      val sideRows = PartitionPruningRDD.create(rows, parts.contains).mapPartitions { part =>
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        part.filter(r => !r.isNullAt(0) && r.getInt(0) == sideKey).map { r =>
          toRow(new GenericInternalRow(Array.tabulate[Any](types.length)(i =>
            r.get(offset + i, types(i))))).asInstanceOf[Row]
        }
      }
      s.sink(spark.createDataFrame(sideRows, schema))
    }
  }
}
