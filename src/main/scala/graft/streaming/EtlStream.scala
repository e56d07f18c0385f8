package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl.SessionEtl

/** Streaming assembly of the reference's ETL consumer (SURVEY.md §2.7):
  *
  * source (any streaming DataFrame with a `data` payload column)
  *   → [[SessionEtl.withTaggedBatch]] (decode, validate, enrich, route,
  *     serialize — once per micro-batch, cached for both channels)
  *   → JSON file sink partitioned by `route` (≙ the two destination
  *     streams + Firehose delivery, `usa/` and `international/` dirs)
  *   → dead-letter JSON under `errors/` (≙ Firehose ErrorOutputPrefix).
  *
  * One `foreachBatch` writes both channels in a single pass per micro-batch
  * — no second subscription to the source, and the file sink plus
  * checkpointing upgrade the reference's at-least-once loop to exactly-once
  * (SURVEY.md §4, delivery semantics).
  *
  * The default 60 s processing-time trigger mirrors the Firehose buffer
  * interval (`BufferingHints.IntervalInSeconds=60`, Solution.ipynb cell 28);
  * tests use `Trigger.AvailableNow` / `processAllAvailable` instead.
  *
  * Scale posture: the transform is stateless and shuffle-free, so the only
  * data movement is the optional `repartition(session_id)` before the sink,
  * which reproduces the reference's partition-key → shard placement
  * (PutRecord PartitionKey=session_id, consumer.py:170) and gives
  * single-writer-per-key file output.
  */
object EtlStream {

  def start(
      source: DataFrame,
      outDir: String,
      checkpointDir: String,
      dataCol: String = "data",
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      keyPartitions: Int = 0): StreamingQuery = {

    source.writeStream
      .queryName("graft-etl")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SessionEtl.withTaggedBatch(batch, dataCol) { tagged =>
          val valid = SessionEtl.enriched(tagged)
          val enriched =
            if (keyPartitions > 0) valid.repartition(keyPartitions, col("session_id"))
            else valid
          enriched
            .select(col("route"), col("session_id"), col("data").cast("string").as("data"))
            .write.mode(SaveMode.Append).partitionBy("route")
            .json(s"$outDir/data")
          // Only touch the errors/ dir when the batch actually dead-letters
          // something (isEmpty is a limit-1 scan of the cached batch).
          val dead = SessionEtl.deadLetter(tagged)
          if (!dead.isEmpty)
            dead.write.mode(SaveMode.Append).json(s"$outDir/errors")
        }
      }
      .start()
  }
}
