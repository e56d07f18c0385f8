package graft.app

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.SparkTestBase
import graft.connector.shardedlog.{ShardedLog, ShardedLogOffset, ShardedLogSource, ShardedLogWriter}
import graft.etl.SessionEtl

/** Full reference topology E2E (SURVEY.md §2.7): producer → source stream
  * → ETL consumer → routed destination streams → firehose file delivery,
  * with dead-letter on the side.
  */
class TopologySpec extends SparkTestBase {
  import spark.implicits._

  private def record(sid: String, country: String, q1: Int, q2: Int,
      customer: Int = 1): String =
    s"""{"session_id": "$sid", "customer_number": $customer, "city": "X",
       | "country": "$country", "credit_limit": 10, "browse_history": [
       | {"product_code": "P1", "quantity": $q1, "in_shopping_cart": true},
       | {"product_code": "P2", "quantity": "$q2", "in_shopping_cart": false}]}"""
      .stripMargin.replace("\n", "")

  test("producer → etl consumer → routed dest streams → firehose files") {
    val base = Files.createTempDirectory("graft-topo").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    ShardedLog.createStream(src, 2)
    ShardedLog.createStream(usa, 2)
    ShardedLog.createStream(intl, 2)

    // producer (PutRecord, keyed by session_id)
    ShardedLog.putRecord(src, "a1", record("a1", "USA", 2, 1).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "b2", record("b2", "Colombia", 3, 4).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "c3", "corrupt{{{".getBytes("UTF-8"))

    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt-etl",
      trigger = Trigger.ProcessingTime(0))
    try etl.processAllAvailable() finally etl.stop()

    // destination streams hold enriched serialized records, keyed correctly
    val usaRows = spark.read.format("graft.connector.shardedlog.ShardedLogSource")
      .option("path", usa).load()
      .selectExpr("partition_key", "CAST(data AS STRING) AS data").collect()
    assert(usaRows.length == 1)
    assert(usaRows.head.getString(0) == "a1")
    assert(usaRows.head.getString(1).contains("\"overall_product_quantity\": 3"))
    assert(usaRows.head.getString(1).contains("\"overall_in_shopping_cart\": 2"))

    val intlRows = spark.read.format("graft.connector.shardedlog.ShardedLogSource")
      .option("path", intl).load()
      .selectExpr("partition_key", "CAST(data AS STRING) AS data").collect()
    assert(intlRows.length == 1 && intlRows.head.getString(0) == "b2")
    assert(intlRows.head.getString(1).contains("\"overall_product_quantity\": 7"))

    // dead-letter captured the corrupt record
    val errs = spark.read.json(s"$base/errors")
    assert(errs.count() == 1)
    assert(errs.select("error").as[String].collect().head == "corrupt_json")

    // firehose delivery drains the dest stream to JSON files
    val fh = Topology.startFirehose(spark, usa, s"$base/s3-usa",
      s"$base/ckpt-fh", trigger = Trigger.ProcessingTime(0))
    try fh.processAllAvailable() finally fh.stop()
    val delivered = spark.read.json(s"$base/s3-usa")
    assert(delivered.count() == 1)
    assert(delivered.select("partition_key").as[String].collect().head == "a1")
  }

  /** One payload per dead-letter class, with its class. */
  private val dead = Seq(
    "corrupt{{{" -> "corrupt_json",
    """{"country": "USA", "browse_history": []}""" -> "missing_session_id",
    """{"session_id": "d2", "browse_history": []}""" -> "missing_country",
    """{"session_id": "d3", "country": "USA"}""" -> "missing_browse_history",
    record("d4", "USA", 1, 1).replace("\"quantity\": 1", "\"quantity\": \"one\"") ->
      "bad_quantity")

  /** A micro-batch source of every channel: `usa`, `international` and one
    * record per dead-letter class, keyed by session id.
    */
  private def mixedSource(base: String, n: Int): (String, Map[String, String]) = {
    val src = s"$base/source"
    ShardedLog.createStream(src, 2)
    (0 until n - dead.size).foreach { i =>
      val sid = s"s$i"
      val country = if (i % 2 == 0) "USA" else "Peru"
      ShardedLog.putRecord(src, sid, record(sid, country, i, 1).getBytes("UTF-8"))
    }
    dead.zipWithIndex.foreach { case ((payload, _), i) =>
      ShardedLog.putRecord(src, s"d$i", payload.getBytes("UTF-8"))
    }
    (src, dead.toMap)
  }

  private def persistedRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("each micro-batch is scanned once and its cache is freed") {
    val base = Files.createTempDirectory("graft-topo-once").toString
    val n = 40
    val (src, deadClasses) = mixedSource(base, n)
    val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(usa, intl).foreach(ShardedLog.createStream(_, 2))
    val before = persistedRddIds
    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt",
      trigger = Trigger.ProcessingTime(0), maxRecordsPerPoll = 8)
    try etl.processAllAvailable() finally etl.stop()

    // one source read per record, over several batches (2 shards × 8 cap)
    assert(etl.recentProgress.count(_.numInputRows > 0) > 1)
    assert(etl.recentProgress.map(_.numInputRows).sum == n)
    assert(persistedRddIds -- before == Set.empty[Int])

    def keys(dir: String) = ShardedLog.shardMeta(dir).flatMap(si =>
      ShardedLog.read(dir, si.name, 0L, ShardedLog.endOffsets(dir)(si.name))
        .map(_.partitionKey)).sorted
    val valid = (0 until n - deadClasses.size).map(i => s"s$i")
    assert(keys(usa) == valid.filter(_.drop(1).toInt % 2 == 0).sorted)
    assert(keys(intl) == valid.filter(_.drop(1).toInt % 2 == 1).sorted)
    val errs = spark.read.json(s"$base/errors")
      .select($"payload", $"error").as[(String, String)].collect().toMap
    assert(errs == deadClasses)
    // dead-letter fields: the four pass-through columns, payload, error
    val line = spark.read.textFile(s"$base/errors").first()
    val fields = """"([a-z_]+)":""".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(fields == Seq("shard", "sequence_number", "arrival_timestamp",
      "partition_key", "payload", "error"))
  }

  test("a failing batch body leaves nothing persisted") {
    def failingRun(name: String, destStreams: String => Map[String, String],
        errorsDir: String => String): Unit = {
      val base = Files.createTempDirectory(s"graft-topo-$name").toString
      val (src, _) = mixedSource(base, 10)
      val before = persistedRddIds
      val etl = Topology.startEtlConsumer(spark, src, destStreams(base),
        errorsDir = errorsDir(base), checkpointDir = s"$base/ckpt",
        trigger = Trigger.ProcessingTime(0))
      try intercept[StreamingQueryException](etl.processAllAvailable())
      finally etl.stop()
      assert(persistedRddIds -- before == Set.empty[Int], name)
    }
    // before any job: the destination stream does not exist
    failingRun("no-dest", base => Map("usa" -> s"$base/missing"), base => s"$base/errors")
    // after the cached batch fed the route write: errors/ is a plain file
    failingRun("bad-errors", { base =>
      val usa = s"$base/usa"; val intl = s"$base/intl"
      Seq(usa, intl).foreach(ShardedLog.createStream(_, 2))
      Map("usa" -> usa, "international" -> intl)
    }, base => Files.createFile(Paths.get(s"$base/errors")).toString)
  }

  test("one Spark job per micro-batch, with or without dead letters") {
    val base = Files.createTempDirectory("graft-topo-jobs").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    val errors = new java.io.File(s"$base/errors")
    Seq(src, usa, intl).foreach(ShardedLog.createStream(_, 2))
    // jobs per batch id of the ETL query, read from the job properties
    val queryId = new AtomicReference[String]()
    val jobs = new ConcurrentHashMap[Long, AtomicInteger]()
    val marker = s"topo-jobs-marker-${System.nanoTime()}"
    val drained = new AtomicReference[CountDownLatch]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("sql.streaming.queryId") == queryId.get))
          jobs.computeIfAbsent(p.get.getProperty("streaming.sql.batchId").toLong,
            _ => new AtomicInteger()).incrementAndGet()
        if (p.exists(_.getProperty("spark.jobGroup.id") == marker)) drained.get.countDown()
      }
    }
    val sc = spark.sparkContext
    /** Jobs per batch, once the listener bus has delivered every job start. */
    def jobsPerBatch(): Map[Long, Int] = {
      drained.set(new CountDownLatch(1))
      sc.setJobGroup(marker, "listener bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.get.await(30, TimeUnit.SECONDS))
      jobs.asScala.map { case (b, n) => b -> n.get }.toMap
    }
    (0 until 20).foreach { i =>
      ShardedLog.putRecord(src, s"v$i",
        record(s"v$i", if (i % 2 == 0) "USA" else "Chile", i, 1).getBytes("UTF-8"))
    }
    sc.addSparkListener(listener)
    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = errors.toString, checkpointDir = s"$base/ckpt",
      trigger = Trigger.ProcessingTime(0), maxRecordsPerPoll = 1000)
    try {
      queryId.set(etl.id.toString)
      etl.processAllAvailable()
      val clean = jobsPerBatch()
      assert(clean.nonEmpty)
      assert(clean.values.forall(_ <= 1), s"jobs per batch without dead letters: $clean")
      val written = Option(errors.list()).toSeq.flatten
      assert(written.isEmpty, s"a batch without dead letters wrote $written")

      dead.zipWithIndex.foreach { case ((payload, _), i) =>
        ShardedLog.putRecord(src, s"d$i", payload.getBytes("UTF-8"))
      }
      ShardedLog.putRecord(src, "v20", record("v20", "USA", 1, 1).getBytes("UTF-8"))
      etl.processAllAvailable()
      val withDead = jobsPerBatch() -- clean.keySet
      assert(withDead.nonEmpty)
      assert(withDead.values.forall(_ <= 1), s"jobs per batch with dead letters: $withDead")
    } finally {
      etl.stop()
      sc.removeSparkListener(listener)
    }
    val errs = spark.read.json(errors.toString)
      .select($"payload", $"error").as[(String, String)].collect().toMap
    assert(errs == dead.toMap)
    assert(ShardedLog.endOffsets(usa).values.sum + ShardedLog.endOffsets(intl).values.sum == 21L)
  }

  test("dead-letter lines are byte for byte those of Spark's JSON writer") {
    val base = Files.createTempDirectory("graft-topo-dlbytes").toString
    val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(usa, intl).foreach(ShardedLog.createStream(_, 2))
    // quotes, control characters and non-ASCII text; one valid record
    val payloads = dead.map(_._1) ++ Seq("say \"hi\"\u0001\t\u001f\n{",
      "caf\u00e9 \u2603 \ud834\udd1e {", record("v0", "USA", 1, 1))
    // a null key or arrival is omitted from the line; the arrivals carry
    // milliseconds, zero milliseconds and a half-hour zone offset
    val rows = payloads.zipWithIndex.map { case (p, i) =>
      Row("shard-00000", i.toLong,
        if (i == 1) null else new java.sql.Timestamp(1700000000000L + i * 3600123L * (i % 2)),
        if (i == 2) null else s"k$i", p.getBytes("UTF-8"))
    }
    val schema = StructType(ShardedLogSource.schema.fields.map(_.copy(nullable = true)))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      val tagged = SessionEtl.sinkProjection(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
      ShardedLogWriter.appendInPlace(tagged, $"route",
        Map("usa" -> usa, "international" -> intl), $"session_id", $"data",
        Some(ShardedLogWriter.SideLines(SessionEtl.deadLetterJson(tagged),
          s"$base/task", p => s"part-$p.json")))
      SessionEtl.deadLetter(tagged).write.json(s"$base/spark")
    } finally spark.conf.set("spark.sql.session.timeZone", zone)

    /** The bytes of the one JSON part file under `dir`. */
    def partFile(dir: String): Array[Byte] = {
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      assert(parts.length == 1, s"$dir: ${parts.toSeq}")
      Files.readAllBytes(parts.head.toPath)
    }
    val task = partFile(s"$base/task")
    val written = partFile(s"$base/spark")
    assert(new String(task, "UTF-8") == new String(written, "UTF-8"))
    assert(task.sameElements(written))
    // one line per dead letter, each a root value with no separator
    val lines = new String(task, "UTF-8").split("\n", -1).toSeq
    assert(lines.last.isEmpty && lines.init.size == payloads.size - 1)
    assert(lines.init.forall(_.startsWith("{\"shard\":")))
    assert(lines(1).contains("\"partition_key\":\"k1\"") && !lines(1).contains("arrival"))
    assert(!lines(2).contains("partition_key"))
    assert(lines(0).contains("\"arrival_timestamp\":\"2023-11-15T03:43:20.000+05:30\""))
    assert(lines(3).contains("\"arrival_timestamp\":\"2023-11-15T06:43:20.369+05:30\""))
    assert(ShardedLog.endOffsets(usa).values.sum == 1L)
  }

  test("later micro-batches reuse the compiled ETL code") {
    val base = Files.createTempDirectory("graft-topo-codegen").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(src, usa, intl).foreach(ShardedLog.createStream(_, 2))
    def produce(round: Int): Unit = (0 until 400).foreach { i =>
      val sid = s"r$round-$i"
      ShardedLog.putRecord(src, sid,
        record(sid, if (i % 2 == 0) "USA" else "Chile", i % 7, 1).getBytes("UTF-8"))
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    produce(0)
    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt",
      trigger = Trigger.ProcessingTime(0), maxRecordsPerPoll = 1000)
    try {
      etl.processAllAvailable()
      val before = compiles.getCount
      (1 to 3).foreach { round =>
        Thread.sleep(5) // a later batch clock
        produce(round)
        etl.processAllAvailable()
      }
      assert(compiles.getCount - before == 0L,
        "a micro-batch compiled code the previous batch had compiled")
    } finally etl.stop()
    assert(etl.recentProgress.count(_.numInputRows > 0) >= 4)
    assert(ShardedLog.endOffsets(usa).values.sum + ShardedLog.endOffsets(intl).values.sum == 1600L)
  }

  test("a running ETL consumer delivers every record once and in per-key order " +
    "through a source split and a merge") {
    val base = Files.createTempDirectory("graft-topo-reshard").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(src, usa, intl).foreach(ShardedLog.createStream(_, 2))
    // four keys in each quarter of the hash space, so that the split's
    // parent and both merge parents hold a backlog of several polls;
    // `customer_number` passes through the ETL byte for byte, so it carries
    // a per-key counter to the destination
    val keys = (0 to 3).flatMap(q => Iterator.from(0).map(i => s"k$i")
      .filter(k => (ShardedLog.hash60(k) >>> 58) == q).take(4))
    val next = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val deadKeys = scala.collection.mutable.ArrayBuffer.empty[String]
    /** Five records per key plus two dead letters, appended to each open
      * shard in one call so that a shard's backlog lands at once.
      */
    def produce(phase: Int): Unit = {
      val valid = (0 until 5).flatMap(_ => keys.zipWithIndex).map { case (k, i) =>
        val n = next(k); next(k) = n + 1
        k -> record(k, if (i % 2 == 0) "USA" else "Peru", 1, 1, customer = n)
      }
      val dl = dead.take(2).zipWithIndex.map { case ((payload, _), i) =>
        s"x$phase-$i" -> payload
      }
      deadKeys ++= dl.map(_._1)
      val now = System.currentTimeMillis()
      (valid ++ dl).groupBy { case (k, _) => ShardedLog.openShardFor(src, k) }
        .foreach { case (shard, recs) =>
          ShardedLog.appendLines(src, shard,
            recs.map { case (k, json) => (k, json.getBytes("UTF-8"), now) })
        }
    }
    produce(0)
    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt",
      trigger = Trigger.ProcessingTime(0), maxRecordsPerPoll = 5)
    val (left, right, merged) = try {
      val (l, r) = ShardedLog.splitShard(src, "shard-00000")
      produce(1)
      etl.processAllAvailable()
      produce(2)
      val child = ShardedLog.mergeShards(src, r, "shard-00001")
      produce(3)
      etl.processAllAvailable()
      (l, r, child)
    } finally etl.stop()

    // each reshard happened with the parents' backlog unread: a batch
    // planned after it (one that knows the child) still read the parents
    def offsets(json: String) =
      Option(json).fold(Map.empty[String, Long])(ShardedLogOffset.fromJson(_).shards)
    val progress = etl.recentProgress.map(_.sources.head)
      .map(p => (offsets(p.startOffset), offsets(p.endOffset)))
    def readAfter(child: String, parent: String): Boolean = progress.exists {
      case (from, to) =>
        to.contains(child) && to.getOrElse(parent, 0L) > from.getOrElse(parent, 0L)
    }
    assert(readAfter(left, "shard-00000"), "split had no unread parent backlog")
    assert(readAfter(merged, right) && readAfter(merged, "shard-00001"),
      "merge had no unread parent backlog")

    // every record arrives once: destination streams plus errors/ rows
    val delivered = for {
      dir <- Seq(usa, intl)
      si <- ShardedLog.shardMeta(dir)
      r <- ShardedLog.read(dir, si.name, 0L, ShardedLog.endOffsets(dir)(si.name))
    } yield {
      val n = """"customer_number": (\d+)""".r
        .findFirstMatchIn(new String(r.data, "UTF-8")).get.group(1).toInt
      (r.partitionKey, n)
    }
    val produced = keys.flatMap(k => (0 until next(k)).map(k -> _))
    assert(delivered.size == delivered.distinct.size, "duplicate delivery")
    assert(delivered.sorted == produced.sorted)
    val errs = spark.read.json(s"$base/errors").select($"partition_key").as[String]
      .collect().toSeq
    assert(errs.sorted == deadKeys.sorted)

    // per key, destination order by (shard, sequence_number) is the counter
    delivered.groupBy(_._1).foreach { case (k, recs) =>
      assert(recs.map(_._2) == recs.indices, s"$k out of order: ${recs.map(_._2)}")
    }
  }
}
