package graft.connector.shardedlog

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Storage layer of the sharded-log connector: a Kinesis-like ordered,
  * sharded, replayable log over a local directory (SURVEY.md §1.1 — the
  * environment has no Kinesis/Kafka connector jars and zero egress, so the
  * stream substrate is modeled, not linked).
  *
  * Layout: `<streamDir>/shard-00000`, `shard-00001`, … — one append-only
  * file per shard, one record per line:
  * `seq \t arrivalMillis \t base64(key) \t base64(data)`.
  *
  * Semantics reproduced from the reference:
  *  - shard count fixed at stream creation (`create_stream ShardCount=2`,
  *    Solution.ipynb cell 24);
  *  - partition key → shard via the MD5 hash-range split exactly like
  *    Kinesis (README.md:244-256): shard = md5(key)·N / 2⁶⁰ over the first
  *    60 bits — same records land on the same shards as a real stream with
  *    evenly split hash ranges;
  *  - sequence numbers are per-shard monotonic line indexes
  *    (consumer.py:120,174);
  *  - records with the same partition key keep production order within
  *    their shard (single appender per shard).
  *
  * I/O path: [[appendLines]] is the one encoder (every writer calls it);
  * it streams records into bounded byte chunks under the shard lock and
  * leaves the shard's seq→byte index current, so a poll right after an
  * append reads nothing. [[read]] parses lines at byte level from the
  * nearest index anchor.
  */
object ShardedLog {

  final case class Record(shard: String, sequenceNumber: Long,
      arrivalMillis: Long, partitionKey: String, data: Array[Byte])

  /** Lineage + hash-range metadata for one shard (Kinesis DescribeStream
    * analog, README.md:57-69 of the reference). `start`/`endEx` bound the
    * shard's slice of the 60-bit md5 hash space; `parents` is non-empty for
    * shards created by split/merge; a closed shard (`open == false`) takes
    * no further writes and its end offset is final.
    */
  final case class ShardInfo(name: String, start: Long, endEx: Long,
      parents: Seq[String], open: Boolean)

  /** Size of the hash space: first 60 bits of md5. */
  val HashSpace: Long = 1L << 60

  private val MetaFile = "shards.json"

  def shardName(i: Int): String = f"shard-$i%05d"

  /** S8 "DDL": create the stream directory with N shard files and the
    * lineage metadata (even hash-range split, no parents, all open).
    */
  def createStream(streamDir: String, shardCount: Int): Unit = {
    val dir = new File(streamDir)
    dir.mkdirs()
    (0 until shardCount).foreach { i =>
      new File(dir, shardName(i)).createNewFile()
    }
    writeMeta(streamDir, evenMeta((0 until shardCount).map(shardName)))
  }

  /** Even hash-range split over the given shard names: shard i covers
    * exactly the keys where `(hash60 * N) >> 60 == i` (the [[shardFor]]
    * arithmetic), i.e. [ceil(i·2⁶⁰/N), ceil((i+1)·2⁶⁰/N)).
    */
  private def evenMeta(names: Seq[String]): Seq[ShardInfo] = {
    val n = names.size
    def bound(i: Int): Long =
      ((BigInt(i) * HashSpace + n - 1) / n).toLong
    names.zipWithIndex.map { case (name, i) =>
      ShardInfo(name, bound(i), bound(i + 1), Nil, open = true)
    }
  }

  /** Shard metadata. Corruption posture (r13): every stream is created by
    * [[createStream]], which writes shards.json atomically — so a MISSING
    * meta file next to existing shard files means the metadata was
    * deleted, not that the stream predates lineage support. The old
    * silent even-split fallback would mis-derive post-reshard state
    * (closed parents revived as open, ranges overlapping the children's),
    * silently double-routing writes; fail loudly instead. A meta file
    * that exists but doesn't parse (torn write, garbage bytes) also
    * fails loudly, with the stream dir in the message.
    */
  def shardMeta(streamDir: String): Seq[ShardInfo] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val f = new File(streamDir, MetaFile)
    if (f.exists()) {
      try {
        org.json4s.jackson.JsonMethods
          .parse(new String(Files.readAllBytes(f.toPath), UTF_8))
          .extract[Seq[ShardInfo]]
      } catch { case e: Exception =>
        throw new IllegalStateException(
          s"corrupt $MetaFile in $streamDir — refusing to guess shard " +
            s"lineage (restore the metadata or recreate the stream): $e", e)
      }
    } else {
      val shards = listShards(streamDir)
      if (shards.nonEmpty) throw new IllegalStateException(
        s"$streamDir has ${shards.size} shard files but no $MetaFile — " +
          "metadata deleted? An even-split guess would mis-route writes " +
          "on any stream that was ever resharded; refusing.")
      Nil
    }
  }

  private def writeMeta(streamDir: String, meta: Seq[ShardInfo]): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val tmp = Paths.get(streamDir, MetaFile + ".tmp")
    Files.write(tmp,
      org.json4s.jackson.Serialization.write(meta).getBytes(UTF_8))
    Files.move(tmp, Paths.get(streamDir, MetaFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def metaMonitor(streamDir: String): Object =
    jvmLocks.computeIfAbsent(
      new File(streamDir, MetaFile).getCanonicalPath, _ => new Object)

  private def nextShardIndex(meta: Seq[ShardInfo]): Int =
    meta.map(si => si.name.stripPrefix("shard-").toInt).max + 1

  /** SplitShard: close `shard` and hand each half of its hash range to a
    * new child. Like Kinesis, the parent stops accepting writes and
    * remains readable; consumers must exhaust it before reading the
    * children (enforced by the streaming source's offset holdback).
    */
  def splitShard(streamDir: String, shard: String): (String, String) =
    metaMonitor(streamDir).synchronized {
      val meta = shardMeta(streamDir)
      val info = meta.find(_.name == shard)
        .getOrElse(throw new IllegalArgumentException(s"no shard $shard"))
      require(info.open, s"$shard is closed")
      require(info.endEx - info.start >= 2, s"$shard range too small to split")
      val mid = info.start + (info.endEx - info.start) / 2
      val i = nextShardIndex(meta)
      val left = ShardInfo(shardName(i), info.start, mid, Seq(shard), open = true)
      val right = ShardInfo(shardName(i + 1), mid, info.endEx, Seq(shard), open = true)
      new File(streamDir, left.name).createNewFile()
      new File(streamDir, right.name).createNewFile()
      writeMeta(streamDir,
        meta.map(si => if (si.name == shard) si.copy(open = false) else si)
          ++ Seq(left, right))
      (left.name, right.name)
    }

  /** MergeShards: close two ADJACENT shards and hand their combined hash
    * range to one new child (Kinesis requires adjacency too). The child is
    * readable only after BOTH parents are exhausted.
    */
  def mergeShards(streamDir: String, a: String, b: String): String =
    metaMonitor(streamDir).synchronized {
      val meta = shardMeta(streamDir)
      val ia = meta.find(_.name == a).getOrElse(
        throw new IllegalArgumentException(s"no shard $a"))
      val ib = meta.find(_.name == b).getOrElse(
        throw new IllegalArgumentException(s"no shard $b"))
      require(ia.open && ib.open, "both merge parents must be open")
      require(ia.endEx == ib.start || ib.endEx == ia.start,
        s"$a and $b are not adjacent in the hash space")
      val child = ShardInfo(shardName(nextShardIndex(meta)),
        math.min(ia.start, ib.start), math.max(ia.endEx, ib.endEx),
        Seq(a, b), open = true)
      new File(streamDir, child.name).createNewFile()
      writeMeta(streamDir,
        meta.map(si => if (si.name == a || si.name == b) si.copy(open = false)
          else si) :+ child)
      child.name
    }

  /** First 60 bits of md5(key) — the hash-range coordinate
    * (thread-cached digest, direct bit extraction: this is the per-record
    * streaming write path).
    */
  def hash60(key: String): Long = graft.functions.Md5Bits.hash60(key)

  /** The OPEN shard owning `key`'s hash — the post-resharding routing
    * function (open ranges always tile the hash space: creation tiles it,
    * split/merge preserve the tiling).
    */
  def openShardFor(streamDir: String, key: String): String = {
    val h = hash60(key)
    shardMeta(streamDir)
      .find(si => si.open && h >= si.start && h < si.endEx)
      .getOrElse(throw new IllegalStateException(
        s"no open shard covers hash $h in $streamDir"))
      .name
  }

  def listShards(streamDir: String): Seq[String] = {
    val dir = new File(streamDir)
    Option(dir.list()).getOrElse(Array.empty)
      .filter(_.startsWith("shard-")).sorted.toSeq
  }

  def shardCount(streamDir: String): Int = listShards(streamDir).size

  /** Kinesis-style hash-range shard assignment: first 60 bits of md5(key),
    * range [0, 2⁶⁰) split evenly across N shards. Reproducible in Catalyst
    * as `shiftright(conv(substr(md5(key),1,15),16,10) * N, 60)`.
    */
  def shardFor(key: String, numShards: Int): Int =
    ((BigInt(graft.functions.Md5Bits.hash60(key)) * numShards) >> 60).toInt

  /** Single-record keyed write (≙ PutRecord,
    * producer_from_cli_my_modifications.py:44-49). Returns (shard,
    * sequenceNumber) like the Kinesis response. Thread-safe per JVM.
    */
  def putRecord(streamDir: String, key: String, data: Array[Byte],
      arrivalMillis: Long = System.currentTimeMillis()): (String, Long) = {
    require(shardCount(streamDir) > 0,
      s"stream $streamDir does not exist / has no shards")
    // Range-based routing over the OPEN shards: identical to
    // shardName(shardFor(key, n)) until a split/merge, after which writes
    // go to the owning child (closed parents take no new records).
    val shard = openShardFor(streamDir, key)
    (shard, appendLines(streamDir, shard, Seq((key, data, arrivalMillis))))
  }

  /** Per-path intra-JVM monitors: `FileChannel.lock()` only serializes
    * across PROCESSES — within one JVM an overlapping lock attempt throws
    * OverlappingFileLockException instead of blocking, so two local-mode
    * writer tasks hitting the same shard would crash rather than queue.
    * The monitor serializes same-JVM writers; the channel lock then
    * serializes cross-process ones.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Append a batch of records to ONE shard; returns the first assigned
    * sequence number. Thread-safe in-JVM (per-path monitor) and
    * cross-process (file lock): concurrent writers cannot interleave
    * half-lines or duplicate sequence numbers.
    */
  def appendLines(streamDir: String, shard: String,
      records: Seq[(String, Array[Byte], Long)]): Long =
    appendLines(streamDir, shard, records.iterator)

  /** The log's one encoder: appends `records` to ONE shard straight from
    * the iterator, under the same monitor and file lock as the `Seq` form,
    * and returns the first assigned sequence number. Lines are encoded as
    * bytes into a buffer of [[ChunkBytes]] (or one line, if a record is
    * larger) that is written whenever it fills, so memory is O(chunk)
    * whatever the batch size. Only whole lines are written, so a writer
    * that fails mid-batch leaves a prefix of the batch, never a torn line.
    *
    * Before it returns, the append stores the shard's new index entry
    * (length, mtime, lines, anchors), so the next `endOffsets` or `read`
    * does not rescan the bytes it just wrote.
    */
  def appendLines(streamDir: String, shard: String,
      records: Iterator[(String, Array[Byte], Long)]): Long = {
    val file = new File(streamDir, shard)
    val key = file.getCanonicalPath
    val monitor = jvmLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val raf = new RandomAccessFile(file, "rw")
      val lock = raf.getChannel.lock()
      try {
        val before = refreshIndex(file)
        val start = raf.length()
        raf.seek(start)
        // The index carries forward only from a newline-terminated end; an
        // unterminated tail (external writer) is left to a full rescan.
        val carry = start == 0L ||
          (before.len == start && before.anchors.containsKey(before.lines))
        val anchors = new java.util.TreeMap[Long, Long](before.anchors)
        if (before.lines % IndexStep != 0L) anchors.remove(before.lines)
        anchors.put(0L, 0L)
        val out = new LineEncoder(raf)
        var n = before.lines
        var pos = start
        try {
          records.foreach { case (k, data, arrival) =>
            pos += out.line(n, arrival, k.getBytes(UTF_8), data)
            n += 1
            if (n % IndexStep == 0L) anchors.put(n, pos)
          }
          out.flush()
        } catch { case e: Throwable => indexCache.remove(key); throw e }
        anchors.put(n, pos)
        if (carry && raf.length() == pos)
          indexCache.put(key, ShardIndex(pos, file.lastModified(), n,
            java.util.Collections.unmodifiableNavigableMap(anchors)))
        else indexCache.remove(key)
        before.lines
      } finally {
        lock.release()
        raf.close()
      }
    }
  }

  /** Bytes per append write; see [[appendLines]]. */
  private val ChunkBytes = 1 << 16

  /** Encodes records as log lines, `seq \t arrival \t base64(key) \t
    * base64(data) \n` (standard alphabet, padded), into a buffer written
    * to `raf` when the next line would not fit.
    */
  private final class LineEncoder(raf: RandomAccessFile) {
    private var buf = new Array[Byte](ChunkBytes)
    private var pos = 0
    private var encoded = new Array[Byte](0)

    /** Encodes one line; returns its length in bytes. */
    def line(seq: Long, arrival: Long, key: Array[Byte],
        data: Array[Byte]): Int = {
      val max = 44 + 4 * ((key.length + 2) / 3) + 4 * ((data.length + 2) / 3)
      if (pos + max > buf.length) {
        flush()
        if (max > buf.length) buf = new Array[Byte](max)
      }
      val start = pos
      putLong(seq); put('\t')
      putLong(arrival); put('\t')
      putBase64(key); put('\t')
      putBase64(data); put('\n')
      pos - start
    }

    def flush(): Unit = if (pos > 0) { raf.write(buf, 0, pos); pos = 0 }

    private def put(c: Char): Unit = { buf(pos) = c.toByte; pos += 1 }

    private def putLong(v: Long): Unit =
      if (v < 0) java.lang.Long.toString(v).foreach(put)
      else {
        var digits = 1
        var t = v
        while (t >= 10) { t /= 10; digits += 1 }
        var i = pos + digits
        var x = v
        while (i > pos) { i -= 1; buf(i) = ('0' + x % 10).toByte; x /= 10 }
        pos += digits
      }

    /** Standard Base64 (padded) of `src`, staged in `encoded`: the JDK
      * encoder writes only at the start of its output array.
      */
    private def putBase64(src: Array[Byte]): Unit = {
      val n = 4 * ((src.length + 2) / 3)
      if (encoded.length < n) encoded = new Array[Byte](math.max(n, 2 * encoded.length))
      Base64.getEncoder.encode(src, encoded)
      System.arraycopy(encoded, 0, buf, pos, n)
      pos += n
    }
  }

  /** Per-shard seq→byte-offset index, maintained INCREMENTALLY: the
    * streaming source polls `endOffsets` every trigger (2 s in the
    * topology) and then `read`s from where the last batch stopped. The
    * index makes both O(delta), not O(file):
    *
    *  - `lines`/`len` memoize the last scan; a poll over a grown file
    *    resumes counting at the previous end-of-scan byte (the log is
    *    append-only per shard), so only the appended tail is ever read
    *    again — previously every poll re-streamed the shard from byte 0.
    *  - `anchors` maps line number → byte offset at every [[IndexStep]]-th
    *    line plus each scan boundary, so `read(startSeq)` opens the file
    *    AT the floor anchor (an OS-level seek via `skip`) instead of
    *    `drop(startSeq)` from byte 0 — the round-4 quadratic-over-stream-
    *    lifetime seek.
    *
    * Staleness rules: same (length, mtime) → cached; longer file →
    * incremental resume (any append bumps both); shorter or missing →
    * full invalidation (deleted/recreated streams no longer pin stale
    * entries for the JVM lifetime). The one undetectable case —
    * delete-and-recreate with IDENTICAL byte length within the same
    * mtime millisecond — is outside the supported single-writer-per-
    * shard topology, same as the sequence numbering itself. Entries are
    * only stored when length/mtime are unchanged across the scan, so a
    * mid-scan append can never cache a torn value. [[appendLines]] stores
    * the entry for what it wrote itself, under the shard lock, from the
    * line lengths it encoded.
    */
  private final case class ShardIndex(len: Long, mtime: Long, lines: Long,
      anchors: java.util.NavigableMap[Long, Long])

  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, ShardIndex]()

  /** Lines per byte-offset anchor: a read skips at most this many lines
    * after the seek; the index stays ~16 B per 256 lines (~0.02% of a
    * 20 KB/record shard).
    */
  private val IndexStep = 256L

  /** Bytes actually read from shard files by the scan/read paths —
    * observability hook for [[ShardedLogSpec]]'s no-re-read proof (a
    * second poll must cost O(appended bytes), not O(file)).
    */
  private[graft] val bytesScanned =
    new java.util.concurrent.atomic.AtomicLong()

  private val EmptyIndex =
    ShardIndex(0L, 0L, 0L, new java.util.TreeMap[Long, Long]())

  private def refreshIndex(file: File): ShardIndex = {
    val key = file.getCanonicalPath
    if (!file.exists()) { indexCache.remove(key); return EmptyIndex }
    val len = file.length()
    val mtime = file.lastModified()
    if (len == 0) { indexCache.remove(key); return EmptyIndex }
    val cached = indexCache.get(key)
    if (cached != null && cached.len == len && cached.mtime == mtime)
      return cached
    // Append-only resume: the previous scan boundary is always anchored,
    // so a grown file is scanned from its old end. Anything else (shrunk,
    // or same length with a different mtime) is a rewrite → full rescan.
    val resume = cached != null && len > cached.len &&
      cached.anchors.containsKey(cached.lines)
    val (startByte, startLines) =
      if (resume) (cached.anchors.get(cached.lines).longValue(), cached.lines)
      else (0L, 0L)
    val anchors = new java.util.TreeMap[Long, Long]()
    if (resume) {
      anchors.putAll(cached.anchors)
      // drop the old scan-boundary anchor unless it sits on the grid, so
      // the map stays ~lines/IndexStep entries over any number of polls
      if (cached.lines % IndexStep != 0L) anchors.remove(cached.lines)
    }
    anchors.put(0L, 0L)
    val in = Files.newInputStream(file.toPath)
    var lineStart = startByte // byte where line `n` starts
    val count = try {
      var skipped = 0L
      while (skipped < startByte) {
        val s = in.skip(startByte - skipped)
        if (s <= 0) throw new java.io.IOException(s"cannot seek $key to $startByte")
        skipped += s
      }
      var n = startLines
      var pos = startByte
      val buf = new Array[Byte](1 << 16)
      var read = in.read(buf)
      while (read > 0) {
        bytesScanned.addAndGet(read)
        var i = 0
        while (i < read) {
          if (buf(i) == '\n') {
            n += 1
            lineStart = pos + i + 1
            if (n % IndexStep == 0L) anchors.put(n, lineStart)
          }
          i += 1
        }
        pos += read
        read = in.read(buf)
      }
      n
    } finally in.close()
    // Boundary anchor — where line `count` starts — is recorded only when
    // it is the exact file end (appendLines always newline-terminates).
    // A trailing unterminated line (external writer) leaves the boundary
    // unanchored, which forces the next refresh into a full rescan
    // instead of resuming past the partial bytes.
    if (lineStart == len) anchors.put(count, len)
    val idx = ShardIndex(len, mtime, count,
      java.util.Collections.unmodifiableNavigableMap(anchors))
    if (file.length() == len && file.lastModified() == mtime)
      indexCache.put(key, idx)
    idx
  }

  private def countLines(file: File): Long = refreshIndex(file).lines

  /** Current end sequence (exclusive) per shard. */
  def endOffsets(streamDir: String): Map[String, Long] =
    listShards(streamDir).map { s =>
      s -> countLines(new File(streamDir, s))
    }.toMap

  /** Read buffer of a [[read]]; a shorter range gets a smaller one. */
  private val ReadBytes = 1 << 16

  /** Read buffer of a [[seqAtTimestamp]] probe, which needs one line. */
  private val ProbeBytes = 1 << 13

  /** Reads the lines of a shard file from byte `from` up to byte `until`
    * into one buffer, which grows only for a line longer than itself.
    * After [[next]] returns true the line is `buf[start, end)`, without its
    * `\n`; bytes after the last `\n` before EOF count as a line too.
    * Bytes read are counted into [[bytesScanned]].
    */
  private final class LineReader(file: File, from: Long, until: Long,
      bufBytes: Int) {
    private val raf = new RandomAccessFile(file, "r")
    raf.seek(from)
    private var remaining = until - from
    var buf = new Array[Byte](bufBytes)
    private var lo = 0 // unread bytes are buf[lo, hi)
    private var hi = 0
    var start = 0
    var end = 0

    def next(): Boolean = {
      var i = lo
      while (true) {
        while (i < hi && buf(i) != '\n') i += 1
        if (i < hi) { start = lo; end = i; lo = i + 1; return true }
        val scanned = i - lo
        if (!fill()) {
          if (lo == hi) return false
          start = lo; end = hi; lo = hi
          return true
        }
        i = lo + scanned
      }
      false
    }

    /** Moves the unread bytes to the front, doubling the buffer when they
      * fill it, and reads more; false at EOF or at `until`.
      */
    private def fill(): Boolean = {
      if (remaining <= 0) return false
      if (lo > 0) { System.arraycopy(buf, lo, buf, 0, hi - lo); hi -= lo; lo = 0 }
      if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = raf.read(buf, hi, math.min(buf.length - hi, remaining).toInt)
      if (n <= 0) { remaining = 0; return false }
      bytesScanned.addAndGet(n)
      hi += n
      remaining -= n
      true
    }

    def close(): Unit = raf.close()
  }

  private def indexOf(b: Array[Byte], c: Char, from: Int, to: Int): Int = {
    var i = from
    while (i < to && b(i) != c) i += 1
    if (i < to) i else -1
  }

  /** ASCII digits in `b[from, to)`; anything else goes through
    * `Long.parseLong`, so a sign is accepted and garbage fails as before.
    */
  private def parseLong(b: Array[Byte], from: Int, to: Int): Long = {
    var v = 0L
    var i = from
    if (to - from <= 18)
      while (i < to && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
    if (i == to && to > from) v
    else java.lang.Long.parseLong(new String(b, from, to - from, ISO_8859_1))
  }

  private def decodeBase64(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = Base64.getDecoder.decode(java.nio.ByteBuffer.wrap(b, from, to - from))
    if (out.remaining == out.array.length) out.array
    else java.util.Arrays.copyOf(out.array, out.remaining)
  }

  /** The end of the tab-terminated field that starts at `from`. */
  private def fieldEnd(b: Array[Byte], from: Int, to: Int): Int = {
    val t = indexOf(b, '\t', from, to)
    if (t < 0) throw new IllegalArgumentException("fewer than 4 tab-separated fields")
    t
  }

  /** One line `b[from, to)`: seq, arrival, base64(key), base64(data); the
    * data field runs to the end of the line.
    */
  private def parseRecord(shard: String, b: Array[Byte], from: Int,
      to: Int): Record = {
    val t1 = fieldEnd(b, from, to)
    val t2 = fieldEnd(b, t1 + 1, to)
    val t3 = fieldEnd(b, t2 + 1, to)
    Record(shard, parseLong(b, from, t1), parseLong(b, t1 + 1, t2),
      new String(decodeBase64(b, t2 + 1, t3), UTF_8),
      decodeBase64(b, t3 + 1, to))
  }

  /** Arrival millis of the line `b[from, to)`. */
  private def parseArrival(b: Array[Byte], from: Int, to: Int): Long = {
    val t1 = fieldEnd(b, from, to)
    val t2 = indexOf(b, '\t', t1 + 1, to)
    parseLong(b, t1 + 1, if (t2 < 0) to else t2)
  }

  /** Read records of one shard in [startSeq, endSeq). Opens the file AT
    * the floor byte-anchor for `startSeq` (≤ [[IndexStep]] lines of
    * residual skip) instead of line-dropping from byte 0 — a long-running
    * 2 s-trigger stream pays O(batch), not O(shard-so-far), per
    * micro-batch — and reads no further than the ceiling anchor of
    * `endSeq`. Lines are parsed at byte level: `\t` and `\n` are found in
    * the read buffer, the numbers read as ASCII digits and the key and
    * payload Base64-decoded from their byte ranges. The file is closed
    * when the iterator is exhausted or fails (the streaming source calls
    * this per shard per micro-batch — relying on GC to release the handle
    * would leak file descriptors).
    */
  def read(streamDir: String, shard: String, startSeq: Long,
      endSeq: Long): Iterator[Record] = {
    val file = new File(streamDir, shard)
    if (endSeq <= startSeq) return Iterator.empty
    // A non-empty read range means these sequence numbers were observed
    // committed (the caller's offsets came from a poll of this log); a
    // missing file now is a deleted segment, and serving an empty
    // iterator would silently drop committed records from the stream.
    if (!file.exists()) throw new IllegalStateException(
      s"$shard in $streamDir: file missing but records [$startSeq,$endSeq) " +
        "were committed — shard file deleted?")
    val idx = refreshIndex(file)
    val anchor = idx.anchors.floorEntry(startSeq)
    val (anchorLine, anchorByte) =
      if (anchor == null) (0L, 0L) else (anchor.getKey.longValue(), anchor.getValue.longValue())
    // line `endSeq` starts at or before its ceiling anchor, so the range
    // ends there too
    val ceiling = idx.anchors.ceilingEntry(endSeq)
    val until = if (ceiling == null) Long.MaxValue else ceiling.getValue.longValue()
    val lines = new LineReader(file, anchorByte, until,
      math.max(256L, math.min(ReadBytes.toLong, until - anchorByte)).toInt)
    val wanted = endSeq - startSeq
    new Iterator[Record] {
      private var open = true
      private var skipped = false
      private var pending = false // a line is loaded and not yet served
      private var served = 0L
      private def closeOnce(): Unit = if (open) { open = false; lines.close() }
      override def hasNext: Boolean = {
        if (!pending && open && served < wanted) {
          if (!skipped) {
            var k = startSeq - anchorLine
            while (k > 0 && lines.next()) k -= 1
            skipped = true
          }
          pending = lines.next()
        }
        if (!pending) {
          closeOnce()
          // Early exhaustion = the file lost lines between the offset
          // poll and this read (truncation). Silently under-serving a
          // committed range is data loss; fail the task instead.
          if (served < wanted) throw new IllegalStateException(
            s"$shard in $streamDir: committed range [$startSeq,$endSeq) " +
              s"but only ${startSeq + served} records on disk — truncated?")
        }
        pending
      }
      override def next(): Record = {
        if (!hasNext) throw new NoSuchElementException(s"$shard exhausted")
        pending = false
        val expectedSeq = startSeq + served
        val rec = try parseRecord(shard, lines.buf, lines.start, lines.end)
        catch { case e: Exception =>
          closeOnce()
          throw new IllegalStateException(
            s"$shard in $streamDir: corrupt record at seq $expectedSeq " +
              s"(${lines.end - lines.start} bytes) — torn write or disk damage: $e", e)
        }
        // The embedded sequence number must equal the line's position —
        // a mismatch means the bytes at this offset are not the records
        // that were committed (truncate-then-regrow, segment rewrite):
        // re-serving them under the old offsets would be silently WRONG
        // data, the worst failure mode a replayable log can have.
        if (rec.sequenceNumber != expectedSeq) {
          closeOnce()
          throw new IllegalStateException(
            s"$shard in $streamDir: expected seq $expectedSeq at line " +
              s"$expectedSeq but found ${rec.sequenceNumber} — shard file " +
              "rewritten? Refusing to serve mismatched offsets.")
        }
        served += 1
        rec
      }
    }
  }

  /** First sequence at-or-after a timestamp (≙ AT_TIMESTAMP iterator).
    * Arrival times are non-decreasing within a shard (they are stamped
    * under the append lock — the same server-arrival-order guarantee the
    * reference's AT_TIMESTAMP relies on), so the lookup binary-searches
    * the byte-anchor grid (one single-line read per probe, O(log n)
    * seeks) and then scans at most [[IndexStep]] residual lines — not
    * the whole file as before round 5.
    */
  def seqAtTimestamp(streamDir: String, shard: String, millis: Long): Long = {
    val file = new File(streamDir, shard)
    if (!file.exists()) return 0L
    val idx = refreshIndex(file)
    if (idx.lines == 0) return 0L
    def arrivalAt(byteOff: Long): Long = {
      val r = new LineReader(file, byteOff, idx.len, ProbeBytes)
      try { r.next(); parseArrival(r.buf, r.start, r.end) } finally r.close()
    }
    // last anchor whose FIRST record arrives before `millis` (anchors at
    // or past idx.lines carry no record to probe)
    val anchors = idx.anchors.headMap(idx.lines, false)
      .entrySet().asScala.toIndexedSeq
    var lo = 0
    var hi = anchors.size - 1
    var startLine = 0L
    var startByte = 0L
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      val e = anchors(mid)
      if (arrivalAt(e.getValue) < millis) {
        startLine = e.getKey; startByte = e.getValue; lo = mid + 1
      } else hi = mid - 1
    }
    // residual linear scan (≤ IndexStep lines) from the chosen anchor
    val r = new LineReader(file, startByte, idx.len, ProbeBytes)
    try {
      var seq = startLine
      while (seq < idx.lines && r.next() &&
          parseArrival(r.buf, r.start, r.end) < millis) seq += 1
      seq
    } finally r.close()
  }
}
