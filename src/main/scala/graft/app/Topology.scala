package graft.app

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.connector.shardedlog.{ShardedLog, ShardedLogSource, ShardedLogWriter}
import graft.GraftSession
import graft.etl.SessionEtl

/** The reference's full streaming topology (SURVEY.md §2.7), Spark-native:
  *
  * producer → source stream → ETL consumer → {usa, international} dest
  * streams → firehose-style buffered file delivery → output dirs (+
  * `errors/` dead-letter).
  *
  * The CLI mains after this object are `CreateStream` (the notebook's
  * stream DDL) and the reference's three CLI mains (§3.1–3.3):
  * `Producer`, `ConsoleConsumer` and `EtlConsumer`. The measured run of
  * this topology is perfbench's `stream_live` / `stream_drain`.
  */
object Topology {

  def readStream(spark: SparkSession, streamDir: String,
      startingPosition: String = "earliest",
      maxRecordsPerPoll: Int = 200): DataFrame =
    spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", streamDir)
      .option("startingPosition", startingPosition)
      .option("maxRecordsPerPoll", maxRecordsPerPoll.toString)
      .load()

  /** ETL consumer (≙ consumer.py): source stream → decode/validate/enrich/
    * route → keyed PutRecords into the destination stream per route +
    * dead-letter JSON under `errors/`. Each micro-batch is ONE map-only
    * Spark job, one task per source shard slice: the task decodes its rows
    * through [[SessionEtl.sinkProjection]] and appends each valid row to
    * its destination shard itself ([[ShardedLogWriter.appendInPlace]]),
    * with no shuffle and no sort. Per-session_id order holds because a key
    * lives in one open source shard, the source's parent hold-back keeps a
    * reshard's parent and child records in different batches, and a task
    * reads its slice in sequence order. A task that sees dead letters
    * writes them as one file, `errors/part-<queryId>-<batchId>-<partition>
    * .json` (the lines Spark's JSON writer would write), so a replayed
    * batch, which reads the same offsets into the same partitions,
    * replaces its files instead of adding copies. A batch without dead
    * letters writes nothing under `errors/`.
    */
  def startEtlConsumer(spark: SparkSession, sourceStream: String,
      destStreams: Map[String, String], errorsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxRecordsPerPoll: Int = 200): StreamingQuery = {
    val source = readStream(spark, sourceStream, maxRecordsPerPoll = maxRecordsPerPoll)
    source.writeStream
      .queryName("graft-etl-consumer")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // set by the streaming engine on the thread that runs this body;
        // stable across restarts from the same checkpoint
        val queryId = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        val tagged = SessionEtl.sinkProjection(batch)
        val deadLetters = ShardedLogWriter.SideLines(SessionEtl.deadLetterJson(tagged),
          errorsDir, p => s"part-$queryId-$batchId-$p.json")
        ShardedLogWriter.appendInPlace(tagged, col("route"), destStreams,
          col("session_id"), col("data"), Some(deadLetters))
      }
      .start()
  }

  /** Firehose-style delivery (≙ Solution.ipynb cell 28): drain a
    * destination stream into JSON files on a 60 s cadence (BufferingHints
    * IntervalInSeconds=60 — the TIME half only; [[startFirehoseBuffered]]
    * models both halves).
    */
  def startFirehose(spark: SparkSession, destStream: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    readStream(spark, destStream, maxRecordsPerPoll = 100000)
      .selectExpr("shard", "sequence_number", "partition_key",
        "CAST(data AS STRING) AS data")
      .writeStream
      .queryName(s"graft-firehose-${new java.io.File(destStream).getName}")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .format("json")
      .option("path", outDir)
      .start()

  /** Firehose delivery with the FULL `BufferingHints` contract
    * (Solution.ipynb cell 28: `SizeInMBs: 1` OR `IntervalInSeconds: 60`,
    * whichever comes first): micro-batches are polled frequently but only
    * BUFFERED — cached distributed datasets, never driver-collected — and
    * delivered to `outDir` when the accumulated payload bytes reach
    * `sizeBytes`, when `intervalMs` has elapsed since the last delivery,
    * or (best-effort, like Firehose shutdown) when the query terminates.
    * The flush decision is driver-side control-plane (exactly where
    * Firehose's own buffer scheduler lives); the data path stays on
    * executors end-to-end.
    */
  def startFirehoseBuffered(spark: SparkSession, destStream: String,
      outDir: String, checkpointDir: String,
      sizeBytes: Long = 1L << 20, intervalMs: Long = 60000L,
      pollTrigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    val state = new Object {
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var bufferedBytes = 0L
      var lastFlushMs = System.currentTimeMillis()
      def flush(): Unit = synchronized {
        if (parts.nonEmpty) {
          parts.reduce(_ unionAll _)
            .write.mode(SaveMode.Append).json(outDir)
          parts.foreach(_.unpersist(blocking = false))
          parts.clear()
          bufferedBytes = 0L
        }
        lastFlushMs = System.currentTimeMillis()
      }
      def add(batch: DataFrame): Unit = {
        // Persist + materialize inside the micro-batch (foreachBatch
        // frames are not readable after the batch completes); the byte
        // count doubles as the materializing action.
        val cached = batch.persist()
        val bytes = cached
          .agg(sum(octet_length(col("data"))).cast("long")).collect()(0)
        val n = if (bytes.isNullAt(0)) 0L else bytes.getLong(0)
        synchronized { parts += cached; bufferedBytes += n }
        if (synchronized(bufferedBytes) >= sizeBytes) flush()
      }
    }
    val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-firehose-buffer"); t.setDaemon(true); t })
    timer.scheduleWithFixedDelay(() => {
      if (System.currentTimeMillis() - state.lastFlushMs >= intervalMs)
        try state.flush() catch { case _: Throwable => () }
    }, 200, math.max(100, intervalMs / 10), java.util.concurrent.TimeUnit.MILLISECONDS)
    val query = readStream(spark, destStream, maxRecordsPerPoll = 100000)
      .selectExpr("shard", "sequence_number", "partition_key",
        "CAST(data AS STRING) AS data")
      .writeStream
      .queryName(s"graft-firehose-buffered-${new java.io.File(destStream).getName}")
      .trigger(pollTrigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => state.add(batch); () }
      .start()
    // shutdown flush + timer teardown, scoped to exactly this query
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            timer.shutdown()
            try state.flush() catch { case _: Throwable => () }
            spark.streams.removeListener(this)
          }
      })
    query
  }
}

/** ≙ the notebook's infra DDL (S8): create a stream with N shards
  * (`create_stream(ShardCount=2)`, Solution.ipynb cell 24).
  */
object CreateStream {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val shards = opts.getOrElse("--shard_count", "2").toInt
    ShardedLog.createStream(opts("--stream"), shards)
    println(s"Stream ${opts("--stream")} ACTIVE with $shards shards")
  }
}

/** ≙ producer_from_cli_my_modifications.py: single keyed PutRecord. */
object Producer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val stream = opts("--stream")
    val json = opts("--json_string")
    val key = ujsonKey(json)
    val (shard, seq) = ShardedLog.putRecord(stream, key, json.getBytes("UTF-8"))
    println(s"Record sent to shard=$shard sequence_number=$seq")
  }
  /** Extract session_id without a JSON dep (PartitionKey=payload["session_id"]). */
  private def ujsonKey(json: String): String = {
    val m = """"session_id"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json)
    m.map(_.group(1)).getOrElse(
      throw new IllegalArgumentException("payload has no session_id"))
  }
}

/** ≙ consumer_from_cli_my_modifications.py: poll → decode → log. */
object ConsoleConsumer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val spark = GraftSession("spark.app.name" -> "graft-console-consumer")
    val q = Topology.readStream(spark, opts("--stream"))
      .selectExpr("shard", "sequence_number", "CAST(data AS STRING) AS data")
      .writeStream.format("console")
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("truncate", "false")
      .start()
    q.awaitTermination()
  }
}

/** ≙ consumer.py: the ETL consumer CLI. `--dest_streams` takes
  * `usa=<dir>,international=<dir>` (the reference's JSON routing config,
  * consumer.py:24-28, without a JSON parser dependency).
  */
object EtlConsumer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val dest = opts("--dest_streams").split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val spark = GraftSession("spark.app.name" -> "graft-etl-consumer")
    val q = Topology.startEtlConsumer(spark, opts("--source_stream"), dest,
      opts.getOrElse("--errors_dir", opts("--source_stream") + "-errors"),
      opts.getOrElse("--checkpoint", opts("--source_stream") + "-ckpt"))
    q.awaitTermination()
  }
}
