package graft.connector.shardedlog

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Md5Top60

/** Keyed batch writes into a sharded-log stream (≙ the consumer's
  * `PutRecord(..., PartitionKey=session_id)`, consumer.py:160-171, and the
  * reference's per-key ordering contract, README.md:244-256).
  *
  * One appender, [[appendInPlace]]: each task of the one job that computes
  * the input appends its own rows, with no shuffle. Placement hashes the key
  * with the native `md5_top60` expression ([[Md5Top60]]) over the OPEN
  * shards of the row's stream. A task buffers its rows per destination
  * shard and appends a run through [[ShardedLog.appendLines]] when it
  * reaches [[RunBytes]] (the rest when its input ends), so it never holds a
  * shard lock while its input is computed, and holds O(destinations × run)
  * bytes. Tasks may append to one shard concurrently: the shard's JVM
  * monitor and file lock serialize whole runs. Rows it does not append (a
  * route without a stream) are skipped inside the task: a filter on the
  * computed destination would be pushed below the caller's projection and
  * evaluate it twice.
  *
  * [[writeRouted]] serves input that does not meet the appender's
  * precondition: it repartitions so that each open destination has a
  * reduce partition of its own and sorts within it, so exactly one task
  * appends to each destination shard (single-writer discipline).
  *
  * At-least-once edge: a task that fails after appending a run leaves that
  * run (whole lines) in the log, and its retry appends it again.
  */
object ShardedLogWriter {

  /** Text lines that the tasks of [[appendInPlace]] write to files instead
    * of appending their rows: a row whose `line` is not null is not
    * appended. A task with such rows writes their lines, in input order and
    * each ended by `\n`, to one file of its own, `dir/name(partition)`. The
    * file is written under a hidden temporary name and moved into place
    * (atomically, replacing an existing file) when the task has appended
    * everything, so a task run again over the same partition replaces its
    * file instead of adding a copy. A failed attempt deletes its temporary
    * file. A task without such rows writes nothing.
    */
  final case class SideLines(line: Column, dir: String, name: Int => String)

  /** Key and payload bytes a task buffers per destination before it appends
    * them as one run.
    */
  private val RunBytes = 1 << 20

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

  /** `batch` as (`__dest`, `__key`, `__data`) ++ `extra`, and the open
    * (stream dir, shard) of each `__dest` value. `__dest` is null on a row
    * whose route has no entry in `streams`. For n destinations, the value of
    * the d-th is one that Spark's hash partitioning into n partitions sends
    * to partition d.
    */
  private def routed(batch: DataFrame, routeCol: Column, streams: Map[String, String],
      keyCol: Column, dataCol: Column, extra: Seq[Column]): (DataFrame, Map[Int, (String, String)]) = {
    val routes = streams.toSeq.map { case (route, dir) =>
      val open = ShardedLog.shardMeta(dir).filter(_.open).sortBy(_.start)
      require(open.nonEmpty, s"stream $dir does not exist / has no open shards")
      (route, dir, open)
    }
    val dests = routes.flatMap { case (_, dir, open) => open.map(si => (dir, si.name)) }
    val keyOf = dests.zip(partitionKeys(dests.size)).toMap
    val h = hash60(batch.sparkSession, keyCol)
    val dest = routes.foldRight(lit(null).cast("int")) { case ((route, dir, open), rest) =>
      when(routeCol === route, byHashRange(h, open, si => lit(keyOf((dir, si.name)))))
        .otherwise(rest)
    }
    (batch.select((Seq(dest.as("__dest"), keyCol.cast("string").as("__key"),
      dataCol.cast("binary").as("__data")) ++ extra): _*), keyOf.map(_.swap))
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
    * partition per open (stream, shard) of every stream, sorted by
    * destination and then `orderWithinKey`, so each destination shard has
    * exactly one writing task and every task writes one shard. A row whose
    * route has no entry in `streams` is not written. Placement and per-key
    * order are those of [[write]].
    */
  def writeRouted(batch: DataFrame, routeCol: Column,
      streams: Map[String, String], keyCol: Column, dataCol: Column,
      orderWithinKey: Seq[Column] = Nil): Unit = {
    val (rows, destOf) = routed(batch, routeCol, streams, keyCol, dataCol, orderWithinKey)
    if (destOf.nonEmpty)
      append(rows.repartition(destOf.size, col("__dest"))
        .sortWithinPartitions((col("__dest") +: orderWithinKey): _*), destOf, None)
  }

  /** Append each row of `batch` to the stream `streams(route)`, where
    * `route` is the row's `routeCol` value, from the task that computes the
    * row (see the header). Precondition: each key's rows sit in one
    * partition of `batch`, in append order, as in a sharded-log source read
    * (a key lives in one open source shard, and a task reads its shard slice
    * in sequence order). A row whose route has no entry in `streams` is not
    * written; the rows of `side` are written to files instead.
    */
  def appendInPlace(batch: DataFrame, routeCol: Column,
      streams: Map[String, String], keyCol: Column, dataCol: Column,
      side: Option[SideLines] = None): Unit = {
    val (rows, destOf) = routed(batch, routeCol, streams, keyCol, dataCol,
      side.map(_.line.cast("string")).toSeq)
    if (destOf.nonEmpty || side.nonEmpty) append(rows, destOf, side)
  }

  /** The appender's task body over `rows` = (`__dest`, `__key`, `__data`,
    * then the side line if `side` is given).
    */
  private def append(rows: DataFrame, destOf: Map[Int, (String, String)],
      side: Option[SideLines]): Unit = {
    val sideFile = side.map(s => (s.dir, s.name))
    rows.queryExecution.toRdd.foreachPartition { part =>
      val runs = mutable.HashMap.empty[Int, Run]
      val lines = sideFile.map { case (dir, name) =>
        new LineFile(dir, name(TaskContext.getPartitionId()))
      }
      try {
        part.foreach { r =>
          if (lines.isDefined && !r.isNullAt(3)) lines.get.write(r.getUTF8String(3))
          else if (!r.isNullAt(0)) {
            val d = r.getInt(0)
            runs.getOrElseUpdate(d, { val (dir, shard) = destOf(d); new Run(dir, shard) })
              .add(r.getUTF8String(1).toString, r.getBinary(2))
          }
        }
        runs.values.foreach(_.flush())
        lines.foreach(_.commit())
      } catch { case e: Throwable => lines.foreach(_.abort()); throw e }
    }
  }

  /** A task's pending rows for one destination shard. */
  private final class Run(dir: String, shard: String) {
    private val rows = mutable.ArrayBuffer.empty[(String, Array[Byte])]
    private var bytes = 0L

    def add(key: String, data: Array[Byte]): Unit = {
      rows += ((key, data))
      bytes += key.length + data.length
      if (bytes >= RunBytes) flush()
    }

    /** Appends the pending rows, stamped with the time the append holds the
      * shard lock (`appendLines` reads the iterator under it), so arrival
      * times stay non-decreasing in the shard whichever task locks first.
      */
    def flush(): Unit = if (rows.nonEmpty) {
      lazy val now = System.currentTimeMillis()
      ShardedLog.appendLines(dir, shard, rows.iterator.map { case (k, d) => (k, d, now) })
      rows.clear()
      bytes = 0L
    }
  }

  /** A task's [[SideLines]] file, created at its first line. */
  private final class LineFile(dir: String, name: String) {
    private val target = Paths.get(dir, name)
    private val temp = Paths.get(dir, s".$name.${TaskContext.get().taskAttemptId()}.tmp")
    private var out: OutputStream = _

    def write(line: UTF8String): Unit = {
      if (out == null) {
        Files.createDirectories(target.getParent)
        out = new BufferedOutputStream(Files.newOutputStream(temp))
      }
      line.writeTo(out)
      out.write('\n')
    }

    def commit(): Unit = if (out != null) {
      out.close()
      Files.move(temp, target, ATOMIC_MOVE, REPLACE_EXISTING)
    }

    def abort(): Unit = if (out != null) {
      Try(out.close())
      Try(Files.deleteIfExists(temp))
    }
  }
}
