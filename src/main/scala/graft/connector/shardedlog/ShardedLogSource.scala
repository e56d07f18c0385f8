package graft.connector.shardedlog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** DataSource V2 sharded-log source (SURVEY.md §2.1 S1–S4, §7.2(3)).
  *
  * `spark.readStream.format("graft.connector.shardedlog.ShardedLogSource")
  *   .option("path", streamDir)
  *   .option("startingPosition", "earliest")         // TRIM_HORIZON
  *   .option("maxRecordsPerPoll", "200")             // ≙ GetRecords Limit
  *   .load()`
  *
  * Mapping to the reference:
  *  - one InputPartition per shard (S1 shard discovery → task parallelism —
  *    the reference polls shards sequentially, consumer.py:112; here each
  *    shard is an independent task, which is the scale-out the 100 TB
  *    design needs);
  *  - offsets = per-shard sequence numbers serialized as JSON (S2);
  *  - startingPosition ∈ earliest | latest | at_timestamp:<millis> |
  *    at_sequence_number:<n> | after_sequence_number:<n> — the five Kinesis
  *    iterator types (README.md:62-69);
  *  - admission control caps each micro-batch at maxRecordsPerPoll records
  *    per shard (S3, `GetRecords(Limit=200)`, consumer.py:115);
  *  - also supports batch reads (whole-log scan) for debugging/backfill.
  *
  * The table is read-only: keyed writes go through [[ShardedLogWriter]].
  */
class ShardedLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardedLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardedLogTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object ShardedLogSource {
  val ShortName = "graft.connector.shardedlog.ShardedLogSource"

  val schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("arrival_timestamp", TimestampType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

class ShardedLogTable(streamDir: String) extends Table with SupportsRead {
  require(streamDir != null, "option 'path' (stream directory) is required")
  override def name(): String = s"sharded-log(`$streamDir`)"
  override def schema(): StructType = ShardedLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ShardedLogScan(streamDir, options.asScala.toMap)
}

/** Per-shard offset map; JSON round-trips through the checkpoint log. */
case class ShardedLogOffset(shards: Map[String, Long]) extends Offset {
  implicit private val fmts: Formats = DefaultFormats
  override def json(): String = Serialization.write(shards)
}

object ShardedLogOffset {
  implicit private val fmts: Formats = DefaultFormats
  def fromJson(s: String): ShardedLogOffset =
    ShardedLogOffset(JsonMethods.parse(s).extract[Map[String, Long]])
}

final case class ShardSlice(streamDir: String, shard: String,
    startSeq: Long, endSeq: Long) extends InputPartition

class ShardedLogScan(streamDir: String, options: Map[String, String])
    extends Scan {
  override def readSchema(): StructType = ShardedLogSource.schema
  override def description(): String = s"ShardedLogScan($streamDir)"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      ShardedLog.endOffsets(streamDir).toSeq.sortBy(_._1).map {
        case (shard, end) => ShardSlice(streamDir, shard, 0L, end)
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new ShardedLogReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardedLogMicroBatchStream(streamDir, options)
}

class ShardedLogMicroBatchStream(streamDir: String, options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow contract: snapshot the log's end offsets at
    * query start; every subsequent micro-batch advances toward (and never
    * past) that frozen bound — still honoring the per-poll admission cap —
    * and the query self-terminates once the bound is reached. This is the
    * cron-style batch-catchup mode: drain the backlog with bounded
    * batches, exactly-once, no always-on cluster. Without this interface
    * Spark would fall back to ONE Trigger.Once batch, which under an
    * admission cap silently drops the rest of the backlog.
    */
  @volatile private var availableNowBound: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(ShardedLog.endOffsets(streamDir))

  private val maxRecordsPerPoll: Long =
    options.getOrElse("maxrecordsperpoll", "200").toLong

  /** Sequence-number-seeded start positions (`at_sequence_number:n` /
    * `after_sequence_number:n`) map a USER-provided n onto EVERY shard —
    * which is not evidence the log ever held n records there: a healthy
    * shard whose end is still below n simply hasn't caught up yet, and
    * the truncation guard must wait for it, not throw (r13 regression:
    * it threw on a healthy stream at first poll). Every other committed
    * offset is derived from an OBSERVED end (earliest/latest/
    * at_timestamp read the log; latestOffset never advances past the end
    * it saw), so for those a regression below the checkpoint is disk
    * damage. Recomputed from options — not instance state — so the
    * exemption survives driver restarts, where initialOffset() is never
    * called but the checkpointed offset may still be the untouched seed.
    */
  private val seededStart: Option[Long] =
    options.getOrElse("startingposition", "earliest").split(":", 2) match {
      case Array("at_sequence_number", n) => Some(n.toLong)
      case Array("after_sequence_number", n) => Some(n.toLong + 1)
      case _ => None
    }

  /** The five Kinesis iterator types (README.md:62-69). */
  override def initialOffset(): Offset = {
    val pos = options.getOrElse("startingposition", "earliest")
    val shards = ShardedLog.listShards(streamDir)
    val m: Map[String, Long] = pos.split(":", 2) match {
      case Array("earliest") => shards.map(_ -> 0L).toMap
      case Array("latest") => ShardedLog.endOffsets(streamDir)
      case Array("at_timestamp", millis) =>
        shards.map(s => s -> ShardedLog.seqAtTimestamp(streamDir, s, millis.toLong)).toMap
      case Array("at_sequence_number", n) => shards.map(_ -> n.toLong).toMap
      case Array("after_sequence_number", n) => shards.map(_ -> (n.toLong + 1)).toMap
      case other =>
        throw new IllegalArgumentException(s"bad startingPosition: ${other.mkString(":")}")
    }
    ShardedLogOffset(m)
  }

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(maxRecordsPerPoll * math.max(1, ShardedLog.shardCount(streamDir)))

  /** Advance each shard to min(current end, start + cap): the micro-poll
    * with per-shard rate limit (consumer.py:115).
    *
    * Resharding lineage (Kinesis split/merge semantics): a shard with
    * parents does NOT advance until every parent is exhausted as of the
    * batch START offset — so all parent records land in strictly earlier
    * micro-batches than any child record, preserving per-key order across
    * the reshard (parents are closed, their ends are final). New shards
    * appearing mid-query start from 0 once their parents drain.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ShardedLogOffset].shards
    // meta BEFORE the directory listing: split/merge create child files
    // before the atomic shards.json move, so any shard a meta snapshot
    // names must appear in a LATER listing — this ordering makes the
    // lineage cross-check below race-free against concurrent reshards.
    val meta = ShardedLog.shardMeta(streamDir)
    val parentsOf = meta.map(si => si.name -> si.parents).toMap
    // under AvailableNow the frozen snapshot IS the end of the log: shards
    // and records appended after prepare() belong to the next run
    val ends = availableNowBound.getOrElse(ShardedLog.endOffsets(streamDir))
    // r13/r14 corruption guards — each case would otherwise be SILENT:
    //  - a shard named in shards.json whose file vanished: if it is a
    //    parent, lineage holdback reads it as exhausted (end 0) and lets
    //    children advance past its unread records;
    //  - a TRACKED shard vanishing from the listing just drops out of the
    //    offset map — and committed == 0 does NOT prove it held nothing
    //    unread, so the guard is unconditional (r14; r13 required > 0);
    //  - a shard whose end regressed below the committed start (file
    //    truncated) plans no slice forever, and once the log regrows the
    //    same sequence numbers name DIFFERENT records. The log is
    //    append-only by contract; a regression is disk damage, not state
    //    — UNLESS the offset is still the user-seeded sequence number,
    //    which the log may simply not have reached yet (see seededStart).
    val live = ShardedLog.listShards(streamDir).toSet
    meta.foreach { si =>
      if (!live.contains(si.name))
        throw new IllegalStateException(
          s"${si.name} in $streamDir is named in shards.json but its file " +
            "is gone — deleted segment? A vanished parent would let its " +
            "children advance past unread records; refusing.")
    }
    s.foreach { case (shard, committed) =>
      if (!ends.contains(shard))
        throw new IllegalStateException(
          s"$shard in $streamDir: tracked at offset $committed but the " +
            "shard file is gone — deleted segment? Refusing to silently " +
            "skip it (offset 0 does not prove the shard held no records).")
      val end = ends(shard)
      if (end < committed && !seededStart.contains(committed))
        throw new IllegalStateException(
          s"$shard in $streamDir: log end $end regressed below committed " +
            s"offset $committed — shard file truncated? An append-only " +
            "log cannot shrink; refusing to re-serve reused offsets.")
    }
    ShardedLogOffset(ends.map { case (shard, end) =>
      val from = s.getOrElse(shard, 0L)
      val parentsExhausted = parentsOf.getOrElse(shard, Nil).forall(p =>
        s.getOrElse(p, 0L) >= ends.getOrElse(p, 0L))
      // max(from, ·): a seeded start ahead of the log must PIN the offset
      // until the shard catches up — min alone would regress it to the
      // current end and later serve records below the seed
      shard -> (if (parentsExhausted)
                  math.max(from, math.min(end, from + maxRecordsPerPoll))
                else from)
    })
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset =
    ShardedLogOffset(availableNowBound.getOrElse(ShardedLog.endOffsets(streamDir)))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardedLogOffset].shards
    val e = end.asInstanceOf[ShardedLogOffset].shards
    e.toSeq.sortBy(_._1).collect {
      case (shard, endSeq) if endSeq > s.getOrElse(shard, 0L) =>
        ShardSlice(streamDir, shard, s.getOrElse(shard, 0L), endSeq)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardedLogReaderFactory
  override def deserializeOffset(json: String): Offset =
    ShardedLogOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class ShardedLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[ShardSlice]
    new PartitionReader[InternalRow] {
      private val it = ShardedLog.read(
        slice.streamDir, slice.shard, slice.startSeq, slice.endSeq)
      private var current: ShardedLog.Record = _
      override def next(): Boolean = { val h = it.hasNext; if (h) current = it.next(); h }
      override def get(): InternalRow = InternalRow(
        UTF8String.fromString(current.shard),
        current.sequenceNumber,
        DateTimeUtils.millisToMicros(current.arrivalMillis),
        UTF8String.fromString(current.partitionKey),
        current.data)
      override def close(): Unit = ()
    }
  }
}
