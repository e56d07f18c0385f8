package graft.connector

import java.nio.file.Files
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import graft.connector.shardedlog.{ShardedLog, ShardedLogSource, ShardedLogWriter}

class ShardedLogSpec extends SparkTestBase {
  import spark.implicits._

  private def newStream(shards: Int = 2): String = {
    val dir = Files.createTempDirectory("graft-log").toString + "/stream"
    ShardedLog.createStream(dir, shards)
    dir
  }

  private def put(dir: String, key: String, s: String, at: Long = 1000L) =
    ShardedLog.putRecord(dir, key, s.getBytes("UTF-8"), at)

  test("endOffsets stays exact across repeated polls and interleaved appends") {
    // exercises the (length, mtime) line-count memo: poll (miss), poll
    // (hit), append (invalidate), poll (recount) — the steady-state
    // trigger loop must never serve a stale offset
    val dir = newStream(1)
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 0L)
    (1 to 7).foreach(i => put(dir, s"k-$i", s"v-$i"))
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 7L)
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 7L) // cached poll
    (1 to 3).foreach(i => put(dir, s"k2-$i", s"w-$i"))      // same-ms append
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 10L)
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 10L)
    // sequence numbering continues from the cached count
    val (_, seq) = put(dir, "k-last", "z")
    assert(seq == 10L)
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 11L)
  }

  test("second poll + tail read cost O(appended bytes), not O(file)") {
    // The seq→byte-offset index must make the steady-state trigger loop
    // incremental: after a first full scan, appending a few records and
    // polling again may only touch the appended tail (plus bounded
    // read-ahead), never re-stream the shard from byte 0 — the round-4
    // O(file)-per-poll seek was quadratic over a stream's lifetime.
    val dir = newStream(1)
    val big = "x" * 200
    (1 to 5000).foreach(i => put(dir, s"k-$i", s"$big-$i"))
    val fileBytes = new java.io.File(dir, "shard-00000").length()
    assert(fileBytes > 1000000L, "fixture must dwarf reader buffers")
    ShardedLog.endOffsets(dir) // build the index (full scan)
    // first read consumes the whole shard — entitled to O(file)
    assert(ShardedLog.read(dir, "shard-00000", 0L, 5000L).size == 5000)
    (1 to 10).foreach(i => put(dir, s"t-$i", s"tail-$i"))
    val before = ShardedLog.bytesScanned.get()
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 5010L)
    val tail = ShardedLog.read(dir, "shard-00000", 5000L, 5010L).toSeq
    assert(tail.map(_.sequenceNumber) == (5000L to 5009L))
    assert(new String(tail.head.data, "UTF-8") == "tail-1")
    val delta = ShardedLog.bytesScanned.get() - before
    // appended tail ~3 KB; anchor residual ≤ 256 lines ≈ 75 KB; buffered
    // read-ahead ≤ 8 KB — all far below the 1 MB+ shard
    assert(delta < fileBytes / 4,
      s"poll+read re-read the shard: $delta of $fileBytes bytes")
  }

  test("concurrent same-shard writers never tear lines or duplicate seqs") {
    // 8 threads × 200 records against ONE shard: the per-path JVM
    // monitor + cross-process file lock must serialize appends so
    // sequence numbers stay dense and unique and no line interleaves.
    val dir = newStream(1)
    val threads = 8
    val perThread = 200
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit =
            (0 until perThread).foreach { i =>
              ShardedLog.appendLines(dir, "shard-00000",
                Seq((s"k-$t-$i", s"payload-$t-$i".getBytes("UTF-8"), 1000L)))
            }
        })
      }
      futures.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val total = threads.toLong * perThread
    assert(ShardedLog.endOffsets(dir)("shard-00000") == total)
    val records = ShardedLog.read(dir, "shard-00000", 0L, total).toSeq
    assert(records.size == total.toInt)
    // dense, unique, ordered sequence numbers
    assert(records.map(_.sequenceNumber) == (0L until total))
    // every record intact (no torn/interleaved lines): key matches data
    records.foreach { r =>
      assert(new String(r.data, "UTF-8") == s"payload-${r.partitionKey.stripPrefix("k-")}")
    }
    // every (thread, i) arrived exactly once
    assert(records.map(_.partitionKey).toSet.size == total.toInt)
  }

  test("seqAtTimestamp binary-searches the anchor grid, not the whole file") {
    val dir = newStream(1)
    val big = "x" * 200
    (0 until 5000).foreach(i => put(dir, s"k-$i", s"$big-$i", at = 1000L + i))
    val fileBytes = new java.io.File(dir, "shard-00000").length()
    ShardedLog.endOffsets(dir) // build the index
    val before = ShardedLog.bytesScanned.get()
    // exact positioning semantics preserved at the ends and mid-log
    assert(ShardedLog.seqAtTimestamp(dir, "shard-00000", 0L) == 0L)
    assert(ShardedLog.seqAtTimestamp(dir, "shard-00000", 1000L + 4990) == 4990L)
    assert(ShardedLog.seqAtTimestamp(dir, "shard-00000", 999999L) == 5000L)
    val delta = ShardedLog.bytesScanned.get() - before
    // 3 lookups × (log₂ anchors probes + ≤256-line residual), each probe
    // one buffered line read — far under the 1 MB+ shard
    assert(delta < fileBytes / 2,
      s"timestamp seek re-read the shard: $delta of $fileBytes bytes")
  }

  test("putRecord assigns md5 hash-range shards; batch read sees all records") {
    val dir = newStream(2)
    (1 to 50).foreach(i => put(dir, s"key-$i", s"payload-$i"))
    val df = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dir).load()
    assert(df.count() == 50)
    // shard placement matches the driver-side function
    val rows = df.select($"shard", $"partition_key").collect()
    rows.foreach { r =>
      val expected = ShardedLog.shardName(
        ShardedLog.shardFor(r.getString(1), 2))
      assert(r.getString(0) == expected)
    }
    // both shards used (md5 spreads keys)
    assert(df.select($"shard").distinct().count() == 2)
  }

  test("Catalyst shardIndexCol matches driver-side shardFor") {
    val keys = (1 to 200).map(i => s"session-$i") ++ Seq("", "é", "Zürich-ü",
      "東京-セッション", "\uD83D\uDE80-rocket", "tab\tnl\n", "x" * 1500,
      "ß€" * 700)
    val got = keys.toDF("k")
      .select($"k", ShardedLogWriter.shardIndexCol($"k", 4).as("s"),
        // the md5 → hex → substring → conv chain the native hash replaced
        shiftright(conv(substring(md5($"k"), 1, 15), 16, 10).cast("long") * 4, 60)
          .as("hex"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    keys.foreach { k =>
      assert(got(k)._1 == ShardedLog.shardFor(k, 4).toLong, s"key $k")
      assert(got(k)._1 == got(k)._2, s"key $k")
    }
  }

  test("per-shard sequence numbers are dense and ordered") {
    val dir = newStream(1)
    (1 to 10).foreach(i => put(dir, "same-key", s"p$i"))
    val seqs = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dir).load()
      .orderBy($"sequence_number")
      .select($"sequence_number", $"data".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(seqs.map(_._1).toSeq == (0L until 10L))
    assert(seqs.map(_._2).toSeq == (1 to 10).map(i => s"p$i"))
  }

  test("streaming: earliest reads everything; maxRecordsPerPoll caps batches") {
    val dir = newStream(2)
    (1 to 30).foreach(i => put(dir, s"k$i", s"p$i"))
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", dir)
      .option("startingPosition", "earliest")
      .option("maxRecordsPerPoll", "5")
      .load()
      .writeStream.format("memory").queryName("log_earliest")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("log_earliest").count() == 30)
    // rate cap: every micro-batch processed ≤ 5 records per shard (2 shards)
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.nonEmpty && batches.forall(_ <= 10),
      s"batch sizes: ${batches.mkString(",")}")
  }

  test("streaming: AvailableNow drains the backlog in capped batches, then stops") {
    // the batch-catchup mode: process everything currently in the log —
    // honoring the admission-control cap per micro-batch — and terminate.
    // This is how a periodic (cron-style) ingest of a Kinesis-like log
    // runs at scale: no always-on cluster, same exactly-once offsets.
    val dir = newStream(2)
    (1 to 30).foreach(i => put(dir, s"k$i", s"p$i"))
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", dir)
      .option("startingPosition", "earliest")
      .option("maxRecordsPerPoll", "5")
      .load()
      .writeStream.format("memory").queryName("log_available_now")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow query must self-terminate")
    assert(spark.table("log_available_now").count() == 30)
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.forall(_ <= 10),
      s"admission cap must hold under AvailableNow: ${batches.mkString(",")}")
  }

  test("streaming: latest skips history, sees only new data") {
    val dir = newStream(2)
    (1 to 10).foreach(i => put(dir, s"k$i", s"old$i"))
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", dir)
      .option("startingPosition", "latest")
      .load()
      .writeStream.format("memory").queryName("log_latest")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("log_latest").count() == 0)
      (11 to 15).foreach(i => put(dir, s"k$i", s"new$i"))
      q.processAllAvailable()
      val got = spark.table("log_latest").select($"data".cast("string"))
        .as[String].collect().toSet
      assert(got == (11 to 15).map(i => s"new$i").toSet)
    } finally q.stop()
  }

  test("streaming: at_timestamp starts mid-log") {
    val dir = newStream(1)
    put(dir, "a", "before1", at = 1000L)
    put(dir, "a", "before2", at = 2000L)
    put(dir, "a", "after1", at = 3000L)
    put(dir, "a", "after2", at = 4000L)
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", dir)
      .option("startingPosition", "at_timestamp:3000")
      .load()
      .writeStream.format("memory").queryName("log_at_ts")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("log_at_ts").select($"data".cast("string"))
      .as[String].collect().toSet
    assert(got == Set("after1", "after2"))
  }

  test("streaming: after_sequence_number resumes past a record") {
    val dir = newStream(1)
    (0 until 6).foreach(i => put(dir, "a", s"p$i"))
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", dir)
      .option("startingPosition", "after_sequence_number:2")
      .load()
      .writeStream.format("memory").queryName("log_after_seq")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("log_after_seq").select($"data".cast("string"))
      .as[String].collect().toSet
    assert(got == Set("p3", "p4", "p5"))
  }

  test("restart from checkpoint resumes exactly-once (kill-and-resume)") {
    val dir = newStream(2)
    val out = Files.createTempDirectory("graft-log-out").toString
    (1 to 8).foreach(i => put(dir, s"k$i", s"p$i"))
    def run(): Unit = {
      val q = spark.readStream.format(ShardedLogSource.ShortName)
        .option("path", dir).option("startingPosition", "earliest")
        .load()
        .selectExpr("CAST(data AS STRING) AS data")
        .writeStream.format("json")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    (9 to 12).foreach(i => put(dir, s"k$i", s"p$i"))
    run()
    val got = spark.read.json(s"$out/data").select($"data").as[String].collect()
    assert(got.length == 12)
    assert(got.toSet == (1 to 12).map(i => s"p$i").toSet)
  }

  test("split closes the parent, children tile its range, writes route to children") {
    val dir = newStream(2)
    put(dir, "k1", "pre")
    val (l, r) = ShardedLog.splitShard(dir, "shard-00000")
    assert((l, r) == ("shard-00002", "shard-00003"))
    val meta = ShardedLog.shardMeta(dir).map(si => si.name -> si).toMap
    assert(!meta("shard-00000").open && meta("shard-00001").open)
    assert(meta(l).parents == Seq("shard-00000") && meta(r).parents == Seq("shard-00000"))
    assert(meta(l).start == meta("shard-00000").start &&
      meta(l).endEx == meta(r).start &&
      meta(r).endEx == meta("shard-00000").endEx)
    // every key that hashed to the parent now routes to one of its children
    (1 to 100).map(i => s"key-$i")
      .filter(k => ShardedLog.shardFor(k, 2) == 0)
      .foreach { k =>
        val (shard, _) = put(dir, k, "post")
        assert(shard == l || shard == r, s"$k routed to $shard")
      }
    // closed parent got no new writes
    assert(ShardedLog.endOffsets(dir)("shard-00000") ==
      (if (ShardedLog.shardFor("k1", 2) == 0) 1L else 0L))
  }

  test("merge requires adjacency and routes the union range to one child") {
    val dir = newStream(4)
    intercept[IllegalArgumentException] {
      ShardedLog.mergeShards(dir, "shard-00000", "shard-00002") // not adjacent
    }
    val child = ShardedLog.mergeShards(dir, "shard-00001", "shard-00002")
    val meta = ShardedLog.shardMeta(dir).map(si => si.name -> si).toMap
    assert(meta(child).parents.toSet == Set("shard-00001", "shard-00002"))
    assert(!meta("shard-00001").open && !meta("shard-00002").open)
    (1 to 100).map(i => s"m-$i")
      .filter(k => Set(1, 2).contains(ShardedLog.shardFor(k, 4)))
      .foreach { k =>
        val (shard, _) = put(dir, k, "post")
        assert(shard == child, s"$k routed to $shard, not merged child")
      }
  }

  test("streaming: split mid-stream, per-key order holds across the split") {
    val dir = newStream(1)
    (1 to 6).foreach(i => put(dir, s"k${i % 2}", s"pre-$i"))
    ShardedLog.splitShard(dir, "shard-00000")
    (7 to 12).foreach(i => put(dir, s"k${i % 2}", s"post-$i"))

    // offset-level guarantee: children are held at their start until the
    // parent is exhausted AS OF THE BATCH START — so parent records land in
    // strictly earlier micro-batches than child records.
    val stream = new graft.connector.shardedlog.ShardedLogMicroBatchStream(
      dir, Map("startingposition" -> "earliest"))
    val o0 = stream.initialOffset()
      .asInstanceOf[graft.connector.shardedlog.ShardedLogOffset]
    val o1 = stream.latestOffset(o0, null)
      .asInstanceOf[graft.connector.shardedlog.ShardedLogOffset]
    assert(o1.shards("shard-00000") == 6L, "parent drains first")
    assert(o1.shards("shard-00001") == 0L && o1.shards("shard-00002") == 0L,
      "children must not advance while the parent has unread records")
    val o2 = stream.latestOffset(o1, null)
      .asInstanceOf[graft.connector.shardedlog.ShardedLogOffset]
    assert(o2.shards("shard-00001") + o2.shards("shard-00002") == 6L,
      "children advance once the parent is exhausted")

    // end-to-end: everything is read exactly once, and for each key the
    // pre-split records precede the post-split ones in delivery order
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", dir).option("startingPosition", "earliest")
      .load()
      .writeStream.format("memory").queryName("log_split")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("log_split")
      .select($"shard", $"data".cast("string")).collect()
    assert(got.length == 12)
    assert(got.filter(_.getString(1).startsWith("post"))
      .forall(r => r.getString(0) != "shard-00000"),
      "post-split writes must not land in the closed parent")
  }

  test("checkpoint restart across a two-level reshard is exactly-once") {
    val dir = newStream(1)
    val out = Files.createTempDirectory("graft-reshard-out").toString
    (1 to 4).foreach(i => put(dir, s"k$i", s"gen0-$i"))
    def run(): Unit = {
      val q = spark.readStream.format(ShardedLogSource.ShortName)
        .option("path", dir).option("startingPosition", "earliest")
        .load()
        .selectExpr("CAST(data AS STRING) AS data")
        .writeStream.format("json")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // checkpoint knows only the original shard
    val (l, _) = ShardedLog.splitShard(dir, "shard-00000")
    (5 to 8).foreach(i => put(dir, s"k$i", s"gen1-$i"))
    ShardedLog.splitShard(dir, l) // split a child again (grandchildren)
    (9 to 10).foreach(i => put(dir, s"k$i", s"gen2-$i"))
    run() // restart: children + grandchildren appear, parents drain first
    val got = spark.read.json(s"$out/data").select($"data").as[String].collect()
    assert(got.length == 10, s"expected 10 records, got ${got.length}")
    assert(got.toSet.size == 10, "duplicate delivery after restart")
    assert(got.count(_.startsWith("gen0")) == 4 &&
      got.count(_.startsWith("gen1")) == 4 && got.count(_.startsWith("gen2")) == 2)
  }

  test("keyed writer routes around a split (open shards only)") {
    val dir = newStream(2)
    ShardedLog.splitShard(dir, "shard-00000")
    val src = (1 to 40).map(i => (s"sess-$i", i))
    ShardedLogWriter.write(
      src.toDF("key", "n").withColumn("payload", concat($"key", lit(":"), $"n")),
      dir, $"key", $"payload".cast("binary"), orderWithinKey = Seq($"n"))
    val rows = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dir).load()
      .select($"shard", $"partition_key").collect()
    assert(rows.length == 40)
    assert(rows.forall(_.getString(0) != "shard-00000"), "closed parent written")
    // placement agrees with the driver-side routing function
    rows.foreach { r =>
      assert(r.getString(0) == ShardedLog.openShardFor(dir, r.getString(1)))
    }
  }

  test("native DSv2 batch write routes by key and survives a read back") {
    val dir = newStream(2)
    val df = (1 to 30).map(i => (s"k-${i % 5}", s"v$i".getBytes("UTF-8")))
      .toDF("key", "data")
    df.write.format(ShardedLogSource.ShortName)
      .option("path", dir).mode("append").save()
    val rows = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dir).load()
      .select($"shard", $"partition_key", $"data".cast("string")).collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.getString(0) == ShardedLog.openShardFor(dir, r.getString(1)))
    }
    // clustered-by-key distribution: all rows of one key share a shard and
    // their sequence numbers are strictly increasing in append order
    assert(rows.map(_.getString(2)).toSet == (1 to 30).map(i => s"v$i").toSet)
  }

  test("native DSv2 streaming write sinks a stream into the log") {
    val src = newStream(1)
    val dst = newStream(2)
    (1 to 12).foreach(i => put(src, s"k$i", s"p$i"))
    val q = spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", src).option("startingPosition", "earliest")
      .load()
      .select($"partition_key".as("key"), $"data")
      .writeStream.format(ShardedLogSource.ShortName)
      .option("path", dst)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsv2-ckpt").toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dst).load()
      .select($"data".cast("string")).as[String].collect().toSet
    assert(got == (1 to 12).map(i => s"p$i").toSet)
  }

  test("keyed writer preserves per-key order into destination shards") {
    val src = (1 to 40).map(i => (s"sess-${i % 4}", i))
    val dir = newStream(2)
    ShardedLogWriter.write(
      src.toDF("key", "n").withColumn("payload", concat($"key", lit(":"), $"n")),
      dir, $"key", $"payload".cast("binary"), orderWithinKey = Seq($"n"))
    val rows = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dir).load()
      .select($"partition_key", $"sequence_number", $"data".cast("string"))
      .collect()
    assert(rows.length == 40)
    // per key: sequence order == production order (the n suffix ascending)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byLog = rs.sortBy(_.getLong(1)).map(_.getString(2))
      val ns = byLog.map(_.split(":")(1).toInt)
      assert(ns.sorted.sameElements(ns), s"out-of-order: ${byLog.mkString(",")}")
    }
  }

  test("routed writer: two streams in one call, one of them split") {
    val usa = newStream(2)
    val intl = newStream(2)
    ShardedLog.splitShard(intl, "shard-00000")
    // production order n; "mars" has no destination stream
    val src = (1 to 120).map { i =>
      (s"sess-${i % 24}", i, Seq("usa", "international", "mars")(i % 24 % 3))
    }
    ShardedLogWriter.writeRouted(
      src.toDF("key", "n", "route")
        .withColumn("payload", concat($"key", lit(":"), $"n")),
      $"route", Map("usa" -> usa, "international" -> intl),
      $"key", $"payload".cast("binary"), orderWithinKey = Seq($"n"))

    def rows(dir: String) = spark.read.format(ShardedLogSource.ShortName)
      .option("path", dir).load()
      .select($"shard", $"partition_key", $"sequence_number", $"data".cast("string"))
      .collect().toSeq
    Seq("usa" -> usa, "international" -> intl).foreach { case (route, dir) =>
      val got = rows(dir)
      val expected = src.filter(_._3 == route)
      assert(got.map(_.getString(3)).sorted == expected.map(e => s"${e._1}:${e._2}").sorted,
        s"$route holds exactly its route's rows")
      got.foreach { r =>
        assert(r.getString(0) == ShardedLog.openShardFor(dir, r.getString(1)))
      }
      // per key, within its destination shard: log order == production order
      got.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (k, rs) =>
        val ns = rs.sortBy(_.getLong(2)).map(_.getString(3).split(":")(1).toInt)
        assert(ns.sorted == ns, s"out of order in $k: $ns")
      }
    }
    assert(ShardedLog.endOffsets(intl)("shard-00000") == 0L, "closed parent written")
    assert(ShardedLog.endOffsets(usa).values.sum + ShardedLog.endOffsets(intl).values.sum ==
      src.count(_._3 != "mars"), "a route without a stream must write nothing")
  }

  test("routed writer: two streams × two shards are appended by four distinct tasks") {
    val usa = newStream(2)
    val intl = newStream(2)
    val src = (1 to 400).map(i => (s"sess-$i", i, if (i % 2 == 0) "usa" else "international"))
    val group = s"routed-width-${System.nanoTime()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val writers = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    // result tasks of the write that read shuffled rows; a marker job
    // started after the write proves the bus has delivered its task ends
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) e.stageIds.foreach(stages.add)
        if (g == s"$group-marker") drained.countDown()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ResultTask" &&
            e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          writers.add(e.taskInfo.index)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "routed writer width")
      ShardedLogWriter.writeRouted(
        src.toDF("key", "n", "route").withColumn("payload", concat($"key", lit(":"), $"n")),
        $"route", Map("usa" -> usa, "international" -> intl),
        $"key", $"payload".cast("binary"), orderWithinKey = Seq($"n"))
      sc.setJobGroup(s"$group-marker", "listener bus marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    Seq(usa, intl).foreach { dir =>
      assert(ShardedLog.endOffsets(dir).values.forall(_ > 0L), s"$dir: a shard got no rows")
    }
    assert(writers.size == 4, s"appending tasks (reduce partitions): $writers")
  }

  test("in-place appender: four input partitions append to the same two shards at once") {
    val dir = newStream(2)
    // partition p holds keys k<p>-<j> only, each key's rows in order n;
    // 2 KiB payloads make every task append several runs per shard, and
    // every fifth key routes to "mars", which has no stream
    val pad = "x" * 2048
    val perPartition = 2000
    val src = (0 until 4).flatMap { p =>
      (0 until perPartition).map { i =>
        val j = i % 40
        val key = s"k$p-$j"
        (key, i / 40, if (j % 5 == 0) "mars" else "log", s"$key:${i / 40}:$pad")
      }
    }
    val batch = spark.sparkContext.parallelize(src, 4).toDF("key", "n", "route", "payload")
    assert(batch.rdd.glom().collect().map(_.map(_.getString(0).takeWhile(_ != '-')).distinct.toSeq)
      .toSeq == (0 until 4).map(p => Seq(s"k$p")), "one partition per key prefix")
    ShardedLogWriter.appendInPlace(batch, $"route", Map("log" -> dir),
      $"key", $"payload".cast("binary"))

    val ends = ShardedLog.endOffsets(dir)
    val records = ends.toSeq.flatMap { case (shard, end) =>
      val rs = ShardedLog.read(dir, shard, 0L, end).toSeq
      // dense sequence numbers: every append took whole lines
      assert(rs.map(_.sequenceNumber) == (0L until end), shard)
      rs
    }
    // no torn line: every record parses back to its key, counter and pad
    records.foreach { r =>
      val Array(key, n, rest) = new String(r.data, "UTF-8").split(":", 3)
      assert(key == r.partitionKey && rest == pad && n.forall(_.isDigit), r.partitionKey)
    }
    assert(records.size == src.count(_._3 == "log"), "a route without a stream must write nothing")
    assert(!records.exists(r => src.exists(s => s._1 == r.partitionKey && s._3 == "mars")))
    val placed = records.map(_.partitionKey).distinct
      .map(k => k -> ShardedLog.openShardFor(dir, k)).toMap
    records.foreach(r => assert(r.shard == placed(r.partitionKey), r.partitionKey))
    // four writers shared each shard
    records.groupBy(_.shard).foreach { case (shard, rs) =>
      assert(rs.map(_.partitionKey.takeWhile(_ != '-')).toSet.size == 4, shard)
    }
    // per key, log order == input order
    records.groupBy(_.partitionKey).foreach { case (k, rs) =>
      val ns = rs.sortBy(_.sequenceNumber).map(r => new String(r.data, "UTF-8").split(":")(1).toInt)
      assert(ns == ns.indices, s"$k out of order")
    }
  }

  test("endOffsets right after appendLines reads no bytes") {
    val dir = newStream(1)
    val recs = (0 until 1000).map(i => (s"k-$i", s"payload-$i".getBytes("UTF-8"), 1000L + i))
    ShardedLog.appendLines(dir, "shard-00000", recs.take(300))
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 300L)
    ShardedLog.appendLines(dir, "shard-00000", recs.drop(300).iterator)
    val before = ShardedLog.bytesScanned.get()
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 1000L)
    assert(ShardedLog.bytesScanned.get() - before == 0L,
      "the append left the shard index stale")
    // the index the appender stored serves reads from its anchors
    val got = ShardedLog.read(dir, "shard-00000", 700L, 1000L).toSeq
    assert(got.map(_.sequenceNumber) == (700L until 1000L))
    assert(got.map(r => (r.partitionKey, new String(r.data, "UTF-8"), r.arrivalMillis)) ==
      recs.drop(700).map(r => (r._1, new String(r._2, "UTF-8"), r._3)))
    assert(ShardedLog.seqAtTimestamp(dir, "shard-00000", 1000L + 555) == 555L)
  }

  test("read round trip: tabs, line breaks, non-ASCII and empty payloads") {
    val dir = newStream(1)
    val big = "é\t\n" * 25000 // larger than an append chunk
    val odd = Seq(
      "tab\tkey" -> "a\tb\tc",
      "nl\nkey" -> "line1\nline2\n",
      "cr\rkey" -> "\r\n\r",
      "ключ-日本" -> "données — ñ, 日本語, 🚀",
      "empty" -> "",
      "" -> "empty key")
    val recs = (0 until 600).map { i =>
      val (k, d) = if (i == 100) ("big", big) else odd(i % odd.size)
      (k, d.getBytes("UTF-8"), if (i == 3) -5L else 1000L + i)
    }
    ShardedLog.appendLines(dir, "shard-00000", recs.take(250))
    ShardedLog.appendLines(dir, "shard-00000", recs.drop(250).iterator)
    // on-disk format: seq \t arrival \t base64(key) \t base64(data) \n
    val enc = Base64.getEncoder
    val expected = recs.zipWithIndex.map { case ((k, d, at), i) =>
      s"$i\t$at\t${enc.encodeToString(k.getBytes("UTF-8"))}\t${enc.encodeToString(d)}\n"
    }.mkString
    assert(new String(Files.readAllBytes(new java.io.File(dir, "shard-00000").toPath),
      "UTF-8") == expected)
    Seq(0L -> 600L, 249L -> 251L, 256L -> 600L, 599L -> 600L).foreach { case (from, until) =>
      val got = ShardedLog.read(dir, "shard-00000", from, until).toSeq
      val want = recs.slice(from.toInt, until.toInt)
      assert(got.map(_.sequenceNumber) == (from until until))
      assert(got.map(r => (r.partitionKey, new String(r.data, "UTF-8"), r.arrivalMillis)) ==
        want.map(r => (r._1, new String(r._2, "UTF-8"), r._3)), s"[$from, $until)")
    }
  }
}
