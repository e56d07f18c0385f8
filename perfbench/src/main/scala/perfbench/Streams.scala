package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.app.Topology
import graft.connector.shardedlog.ShardedLog

/** The reference topology as the stream workloads run it: a 4-shard
  * source, the ETL consumer, `usa`/`international` destination streams
  * with 2 shards each (the reference's `ShardCount=2`), a Firehose sink
  * per destination and the `errors/` dead-letter directory.
  */
final class Topo(spark: SparkSession, dir: File) {
  private def path(n: String) = new File(dir, n).getPath
  val src = path("src")
  val dest = Map("usa" -> path("usa"), "international" -> path("intl"))
  val out = Map("usa" -> path("out-usa"), "international" -> path("out-intl"))
  val errors = path("errors")
  ShardedLog.createStream(src, Streams.SourceShards)
  dest.values.foreach(ShardedLog.createStream(_, Streams.DestShards))

  /** Wide-open admission: the per-shard poll cap never binds, so the
    * measured rates are the engine's, not the reference's Limit=200.
    */
  def startEtl(trigger: Trigger): StreamingQuery =
    Topology.startEtlConsumer(spark, src, dest, errors, path("ckpt-etl"),
      trigger, maxRecordsPerPoll = Streams.WideOpen)

  def startFirehoses(trigger: Trigger): Map[String, StreamingQuery] =
    dest.map { case (route, d) =>
      route -> Topology.startFirehose(spark, d, out(route),
        path(s"ckpt-fh-$route"), trigger)
    }
}

/** One record read back from a Firehose sink file. */
final case class Seen(rid: Int, usaSink: Boolean, visibleMs: Double,
    quantity: Long, inCart: Long, products: Long, prefixHash: Int,
    prefixLen: Int)

/** Follows a Firehose sink's `_spark_metadata` commit log. A record is
  * visible once the commit that lists its file exists; each committed
  * file is read exactly once. A record's visible time is when `poll` found
  * its commit or, with `commitStamps`, the commit file's modification time
  * (for a sink read only after its query ended).
  */
final class SinkReader(outDir: String, usa: Boolean, commitStamps: Boolean = false) {
  private val mapper = new ObjectMapper()
  private var nextBatch = 0L
  private val read = mutable.HashSet.empty[String]
  val seen = ArrayBuffer.empty[Seen]

  /** Reads every commit not read yet; returns the number of records. */
  def poll(): Int = {
    val before = seen.size
    val meta = new File(outDir, "_spark_metadata")
    var more = true
    while (more) {
      val plain = new File(meta, nextBatch.toString)
      val compact = new File(meta, s"$nextBatch.compact")
      val log = if (plain.exists()) plain else if (compact.exists()) compact else null
      if (log == null) more = false
      else {
        val visibleMs =
          if (commitStamps) Files.getLastModifiedTime(log.toPath).to(TimeUnit.MICROSECONDS) / 1000.0
          else Clock.nowMs
        Files.readAllLines(log.toPath, UTF_8).asScala.drop(1).foreach { entry =>
          val file = mapper.readTree(entry).get("path").asText()
          if (read.add(file))
            Files.readAllLines(Paths.get(new java.net.URI(file)), UTF_8)
              .asScala.foreach(l => seen += parse(l, visibleMs))
        }
        nextBatch += 1
      }
    }
    seen.size - before
  }

  /** The ETL appends the four derived fields after the input's fields,
    * so the input is the text before `processing_timestamp`.
    */
  private def parse(line: String, visibleMs: Double): Seen = {
    val data = mapper.readTree(line).get("data").asText()
    val cut = data.lastIndexOf(", \"processing_timestamp\": ")
    val prefix = if (cut < 0) data else data.substring(0, cut)
    def long(f: String): Long = {
      val at = data.indexOf(s"\"$f\": ", math.max(cut, 0))
      if (at < 0) -1L
      else {
        val from = at + f.length + 4
        var end = from
        while (end < data.length && data.charAt(end).isDigit) end += 1
        if (end == from) -1L else data.substring(from, end).toLong
      }
    }
    Seen(Streams.ridOf(data), usa, visibleMs,
      long("overall_product_quantity"), long("overall_in_shopping_cart"),
      long("total_different_products"), MurmurHash3.stringHash(prefix),
      prefix.length)
  }
}

/** Output checks shared by both stream workloads. Every failed record id
  * is collected once; `notes` keeps the first few reasons.
  */
final class StreamCheck(expected: IndexedSeq[Expected]) {
  val failed = mutable.BitSet.empty
  val notes = ArrayBuffer.empty[String]
  val visibleMs = Array.fill(expected.size)(-1.0)
  val destArrivalMs = Array.fill(expected.size)(-1.0)

  private def fail(rid: Int, why: => String): Unit = {
    if (rid >= 0 && rid < expected.size) failed += rid
    if (notes.size < 20) notes += why
  }

  /** Sink records: each valid record once, in its route, with the four
    * derived attributes the benchmark recomputes and its input bytes.
    */
  def sinks(seen: Iterable[Seen]): Unit = seen.foreach { s =>
    if (s.rid < 0 || s.rid >= expected.size) fail(-1, s"unknown rid ${s.rid} in sink")
    else {
      val e = expected(s.rid)
      if (e.kind != 0) fail(s.rid, s"malformed rid ${s.rid} delivered")
      else if (visibleMs(s.rid) >= 0) fail(s.rid, s"rid ${s.rid} delivered twice")
      else {
        visibleMs(s.rid) = s.visibleMs
        if (s.usaSink != e.usa) fail(s.rid, s"rid ${s.rid} in wrong route")
        if (s.quantity != e.quantity || s.inCart != e.inCart ||
            s.products != e.products)
          fail(s.rid, s"rid ${s.rid} derived attributes " +
            s"(${s.quantity},${s.inCart},${s.products}) != " +
            s"(${e.quantity},${e.inCart},${e.products})")
        if (s.prefixHash != e.prefixHash || s.prefixLen != e.prefixLen)
          fail(s.rid, s"rid ${s.rid} input fields not passed through")
      }
    }
  }

  /** Destination logs: each valid record once, and per session_id the
    * generation order kept within each destination shard.
    */
  def destLogs(topo: Topo): Unit = {
    val inDest = mutable.BitSet.empty
    topo.dest.values.foreach { d =>
      ShardedLog.endOffsets(d).foreach { case (shard, end) =>
        val last = mutable.HashMap.empty[String, Int]
        ShardedLog.read(d, shard, 0L, end).foreach { r =>
          val rid = Streams.ridOf(r.data)
          if (rid < 0 || rid >= expected.size) fail(-1, s"unknown rid in $shard")
          else {
            if (!inDest.add(rid)) fail(rid, s"rid $rid twice in destination logs")
            destArrivalMs(rid) = r.arrivalMillis.toDouble
            last.get(r.partitionKey).foreach { prev =>
              if (prev > rid) fail(rid, s"session ${r.partitionKey} out of order in $shard")
            }
            last(r.partitionKey) = rid
          }
        }
      }
    }
    expected.foreach { e =>
      if (e.kind == 0 && !inDest.contains(e.rid))
        fail(e.rid, s"rid ${e.rid} missing from destination logs")
    }
  }

  /** Dead letters: each malformed record once, with its error class. */
  def deadLetters(errorsDir: String): Unit = {
    val mapper = new ObjectMapper()
    val got = mutable.BitSet.empty
    Option(new File(errorsDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json")).foreach { f =>
        Files.readAllLines(f.toPath, UTF_8).asScala.foreach { l =>
          val n = mapper.readTree(l)
          val rid = Streams.ridOf(n.get("payload").asText())
          if (rid < 0 || rid >= expected.size) fail(-1, "unknown rid in errors/")
          else {
            val e = expected(rid)
            if (!got.add(rid)) fail(rid, s"rid $rid dead-lettered twice")
            if (Gen.ErrorClasses(e.kind) != n.get("error").asText())
              fail(rid, s"rid $rid error ${n.get("error").asText()}, " +
                s"expected '${Gen.ErrorClasses(e.kind)}'")
          }
        }
      }
    expected.foreach { e =>
      if (e.kind != 0 && !got.contains(e.rid))
        fail(e.rid, s"malformed rid ${e.rid} missing from errors/")
    }
  }

  /** Valid records no sink delivered. */
  def missingFromSinks(): Unit = expected.foreach { e =>
    if (e.kind == 0 && visibleMs(e.rid) < 0)
      fail(e.rid, s"rid ${e.rid} never visible in a sink")
  }

  def report: Map[String, Any] = Map(
    "attempted" -> expected.size, "valid" -> expected.count(_.kind == 0),
    "failed" -> failed.size, "notes" -> notes.toList)
}

object Streams {
  val SourceShards = 4
  val DestShards = 2
  val Sessions = 2000
  val WideOpen = 10000000
  /** Records/s of the two stream_live steps: about 2 % and 25 % of the
    * drain capacity measured at local[4] (see perfbench/README.md).
    */
  val LowRate = 400.0
  val HighRate = 5000.0
  /** Latency limit on p99 of a stream_live step. */
  val P99LimitMs = 5000.0
  /** A record not visible this long after its due time counts as missed. */
  val DeadlineMs = 20000.0
  /** Backlog of stream_drain: about 15-20 s at local[4] (see
    * perfbench/README.md).
    */
  val DrainRecords = 400000
  /** Records of the untimed warm-up drain. */
  val WarmRecords = 2000
  /** The local[1] baseline of the traced drain uses a quarter of it. */
  val BaselineRecords = DrainRecords / 4

  /** The `rid` of a payload or ETL output: it is always the first field. */
  def ridOf(text: String): Int = {
    val head = "{\"rid\": "
    if (!text.startsWith(head)) -1
    else {
      var end = head.length
      while (end < text.length && text.charAt(end).isDigit) end += 1
      if (end == head.length) -1 else text.substring(head.length, end).toInt
    }
  }

  def ridOf(data: Array[Byte]): Int =
    ridOf(new String(data, 0, math.min(data.length, 32), UTF_8))

  private def progress(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      Map("batch_id" -> p.batchId, "timestamp" -> p.timestamp,
        "num_input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  private def committedRecords(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(o => "\\d+".r.findAllIn(o.replaceAll("\"[^\"]*\"", "")).map(_.toLong).sum)
      .getOrElse(0L)

  /** Appends records due by now, grouped by shard, and keeps the producer
    * samples: one append time per `appendLines` call, and per record the
    * source arrival stamp and how late the generator ran.
    */
  final class Producer(src: String, gen: Gen) {
    val appendMs = ArrayBuffer.empty[Double]
    val arrivalMs = ArrayBuffer.empty[Double]
    val lateMs = ArrayBuffer.empty[Double]
    val appended = new AtomicLong()

    def append(recs: Seq[(String, String, Array[Byte])], dueMs: Seq[Double]): Unit = {
      val started = Clock.nowMs
      val arrival = mutable.HashMap.empty[String, Long]
      recs.groupBy(_._1).foreach { case (shard, rs) =>
        val stamp = System.currentTimeMillis()
        arrival(shard) = stamp
        val t0 = Clock.nowMs
        ShardedLog.appendLines(src, shard, rs.map { case (_, k, d) => (k, d, stamp) })
        appendMs += Clock.nowMs - t0
      }
      recs.zip(dueMs).foreach { case ((shard, _, _), due) =>
        arrivalMs += arrival(shard).toDouble
        lateMs += started - due
      }
      appended.addAndGet(recs.size)
    }

    /** Open loop: `rate` records/s for `seconds`, each timed from its due
      * time whatever the system does. Appends are batched on a 5 ms tick.
      */
    def openLoop(rate: Double, seconds: Double): Unit = {
      val n = math.round(rate * seconds).toInt
      val t0 = Clock.nowMs + 5
      var i = 0
      while (i < n) {
        val now = Clock.nowMs
        var j = i
        while (j < n && t0 + j * 1000.0 / rate <= now) j += 1
        if (j > i) {
          val dues = (i until j).map(k => t0 + k * 1000.0 / rate)
          append(dues.map(gen.next), dues)
          i = j
        }
        LockSupport.parkNanos(5000000L)
      }
    }
  }

  /** Polls both sinks (and the ETL's committed offsets) on its own thread
    * until stopped.
    */
  final class Watcher(topo: Topo, producer: Producer, etl: StreamingQuery) extends Thread("perfbench-watcher") {
    val readers = topo.out.map { case (route, d) => new SinkReader(d, route == "usa") }
    val seenCount = new AtomicLong()
    val backlog = ArrayBuffer.empty[(Double, Long)]
    @volatile private var running = true
    setDaemon(true)

    override def run(): Unit = {
      var lastBacklog = 0.0
      while (running) {
        readers.foreach(r => seenCount.addAndGet(r.poll()))
        val now = Clock.nowMs
        if (now - lastBacklog >= 100) {
          backlog += ((now, producer.appended.get - committedRecords(etl)))
          lastBacklog = now
        }
        Thread.sleep(5)
      }
      readers.foreach(r => seenCount.addAndGet(r.poll()))
    }

    def finish(): Unit = { running = false; join() }
  }

  private def validCount(gen: Gen): Long = gen.expected.count(_.kind == 0).toLong

  private def awaitVisible(w: Watcher, gen: Gen): Unit = {
    val want = validCount(gen)
    val deadline = Clock.nowMs + DeadlineMs
    while (w.seenCount.get < want && Clock.nowMs < deadline) Thread.sleep(10)
  }

  /** stream_live: warm-up, then `low` and `high` each for half the run. */
  def live(a: RunArgs): Map[String, Any] = {
    val work = Main.fresh(a.work)
    val spark = Main.session(work)
    val sched = new SchedTrace
    val topo = new Topo(spark, new File(work, "live"))
    val gen = new Gen(a.seed, Sessions, SourceShards)
    val producer = new Producer(topo.src, gen)
    val etl = topo.startEtl(Trigger.ProcessingTime("1 second"))
    val fh = topo.startFirehoses(Trigger.ProcessingTime("1 second"))
    val watcher = new Watcher(topo, producer, etl)
    watcher.start()
    // warm-up: both rates, long enough for the JIT to reach the per-record
    // and per-batch paths before anything is timed
    producer.openLoop(HighRate, 3.0)
    producer.openLoop(LowRate, 2.0)
    awaitVisible(watcher, gen)
    val readyMs = Clock.nowMs
    if (a.trace) spark.sparkContext.addSparkListener(sched)

    val steps = ArrayBuffer.empty[Map[String, Any]]
    Seq("low" -> LowRate, "high" -> HighRate).foreach { case (name, rate) =>
      val first = gen.expected.size
      val t0 = Clock.nowMs
      producer.openLoop(rate, a.seconds / 2.0)
      val t1 = Clock.nowMs
      awaitVisible(watcher, gen)
      steps += Map("name" -> name, "rate" -> rate, "first_rid" -> first,
        "end_rid" -> gen.expected.size, "start_ms" -> t0, "end_ms" -> t1,
        "settled_ms" -> Clock.nowMs)
    }
    watcher.finish()
    val queries = Map("etl" -> etl) ++ fh.map { case (r, q) => s"firehose_$r" -> q }
    val prog = queries.map { case (n, q) => n -> progress(q) }
    val ids = queries.map { case (n, q) => q.id.toString -> n }
    queries.values.foreach(_.stop())
    Thread.sleep(300)

    val check = new StreamCheck(gen.expected.toIndexedSeq)
    watcher.readers.foreach(r => check.sinks(r.seen))
    check.missingFromSinks()
    check.destLogs(topo)
    check.deadLetters(topo.errors)
    val valid = gen.expected.filter(_.kind == 0)
    Map("workload" -> "live", "trace" -> a.trace,
      "ready_ms" -> readyMs,
      "limits" -> Map("p99_ms" -> P99LimitMs, "deadline_ms" -> DeadlineMs),
      "steps" -> steps.toList,
      "records" -> Map(
        "rid" -> valid.map(_.rid),
        "due_ms" -> valid.map(_.dueMs),
        "source_ms" -> valid.map(e => producer.arrivalMs(e.rid)),
        "dest_ms" -> valid.map(e => check.destArrivalMs(e.rid)),
        "visible_ms" -> valid.map(e => check.visibleMs(e.rid))),
      "late_ms" -> producer.lateMs, "append_ms" -> producer.appendMs,
      "backlog" -> watcher.backlog.map { case (t, b) => Seq(t, b.toDouble) },
      "progress" -> prog, "query_ids" -> ids,
      "sched" -> (if (a.trace) sched.snapshot else Map.empty),
      "check" -> check.report)
  }

  /** One closed-loop drain of a pre-generated backlog: ETL with
    * Trigger.AvailableNow, then both Firehose sinks the same way.
    */
  def drainOnce(spark: SparkSession, dir: File, seed: Long, n: Int,
      trace: Option[SchedTrace]): Map[String, Any] = {
    val topo = new Topo(spark, dir)
    val gen = new Gen(seed, Sessions, SourceShards)
    val producer = new Producer(topo.src, gen)
    val chunk = 20000
    var i = 0
    while (i < n) {
      val m = math.min(chunk, n - i)
      val now = Clock.nowMs
      val dues = Seq.fill(m)(now)
      producer.append(dues.map(gen.next), dues)
      i += m
    }
    trace.foreach(spark.sparkContext.addSparkListener)
    val d0 = Clock.nowMs
    val etl = topo.startEtl(Trigger.AvailableNow())
    etl.awaitTermination()
    val d1 = Clock.nowMs
    val fh = topo.startFirehoses(Trigger.AvailableNow())
    fh.values.foreach(_.awaitTermination())
    val d2 = Clock.nowMs
    val queries = Map("etl" -> etl) ++ fh.map { case (r, q) => s"firehose_$r" -> q }

    val check = new StreamCheck(gen.expected.toIndexedSeq)
    val readers = topo.out.map { case (route, d) => new SinkReader(d, route == "usa", commitStamps = true) }
    readers.foreach { r => r.poll(); check.sinks(r.seen) }
    // records per commit time: every record of a commit turns visible at once
    val visible = readers.toSeq.flatMap(_.seen).groupBy(_.visibleMs).toSeq.sortBy(_._1)
      .map { case (t, s) => Seq(t, s.size.toDouble) }
    check.missingFromSinks()
    check.destLogs(topo)
    check.deadLetters(topo.errors)
    Map("records" -> n, "ready_ms" -> d0, "etl_ms" -> (d1 - d0),
      "firehose_ms" -> (d2 - d1), "visible" -> visible, "append_ms" -> producer.appendMs,
      "progress" -> queries.map { case (k, q) => k -> progress(q) },
      "query_ids" -> queries.map { case (k, q) => q.id.toString -> k },
      "check" -> check.report)
  }

  /** stream_drain: one drain at local[4]; the traced run adds a local[1]
    * drain of a smaller backlog as the single-threaded baseline.
    */
  def drain(a: RunArgs): Map[String, Any] = {
    val work = Main.fresh(a.work)
    val spark = Main.session(work)
    val sched = new SchedTrace
    // a tiny drain through its own topology pays the one-off code generation
    // of the ETL and Firehose plans, which is set-up, not per-batch cost
    drainOnce(spark, new File(work, "warm"), a.seed + 2, WarmRecords, None)
    val main = drainOnce(spark, new File(work, "drain"), a.seed, DrainRecords,
      if (a.trace) Some(sched) else None)
    val traced = if (a.trace) sched.snapshot else Map.empty
    spark.stop()
    val baseline = if (!a.trace) Map.empty else {
      val single = Main.session(work, 1)
      val r = drainOnce(single, new File(work, "drain1"), a.seed + 1,
        BaselineRecords, None)
      single.stop()
      r
    }
    Map("workload" -> "drain", "trace" -> a.trace,
      "ready_ms" -> main("ready_ms"), "drain" -> main,
      "baseline_local1" -> baseline, "sched" -> traced)
  }
}
