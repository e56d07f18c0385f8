package graft.connector

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.connector.shardedlog.{ShardSlice, ShardedLog, ShardedLogMicroBatchStream, ShardedLogOffset}
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** Disk-damage robustness of the sharded-log source (r12 VERDICT item 6):
  * kill-and-resume is spec-proven elsewhere; these cases prove the source
  * FAILS LOUDLY — never silently skips records or re-serves reused
  * sequence numbers — under damage the process model can't produce:
  * torn tails, truncated segments, deleted segments, rewritten segments,
  * and corrupt/deleted lineage metadata. The seq→byte index makes torn
  * tails a real case (`ShardedLog.refreshIndex` resumes at cached
  * anchors), so each mode is pinned as a contract, not left to luck.
  *
  * No SparkSession needed: every guard lives in the storage layer or the
  * MicroBatchStream offset arithmetic, both directly constructible.
  */
class ShardedLogCorruptionSpec extends AnyFunSuite {

  private def newStream(shards: Int = 1): String = {
    val dir = Files.createTempDirectory("graft-log-corrupt").toString + "/stream"
    ShardedLog.createStream(dir, shards)
    dir
  }

  private def put(dir: String, key: String, s: String): Unit =
    ShardedLog.putRecord(dir, key, s.getBytes("UTF-8"), 1000L)

  private def shardFile(dir: String) = new java.io.File(dir, "shard-00000")

  private def truncateTo(dir: String, bytes: Long): Unit = {
    val raf = new RandomAccessFile(shardFile(dir), "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  private def stream(dir: String) =
    new ShardedLogMicroBatchStream(dir, Map("maxrecordsperpoll" -> "200"))

  test("torn tail: a half-written record is invisible, never half-served") {
    val dir = newStream()
    (0 until 10).foreach(i => put(dir, s"k$i", s"v$i"))
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 10L)
    // cut the LAST line in half (simulates a crash mid-append / torn
    // write): the partial bytes must not be counted or served
    val f = shardFile(dir)
    truncateTo(dir, f.length() - 5)
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 9L,
      "partial trailing line must not count as a committed record")
    val got = ShardedLog.read(dir, "shard-00000", 0L, 9L).toSeq
    assert(got.map(_.sequenceNumber) == (0L until 9L))
    assert(new String(got.last.data, "UTF-8") == "v8")
  }

  test("torn tail: the next append starts on a fresh line, not on the torn bytes") {
    val dir = newStream()
    (0 until 10).foreach(i => put(dir, s"k$i", s"v$i"))
    truncateTo(dir, shardFile(dir).length() - 5)
    put(dir, "k9", "v9-retried")
    assert(ShardedLog.endOffsets(dir)("shard-00000") == 10L)
    val got = ShardedLog.read(dir, "shard-00000", 0L, 10L).toSeq
    assert(got.map(_.sequenceNumber) == (0L until 10L))
    assert(new String(got.last.data, "UTF-8") == "v9-retried")
  }

  test("truncated segment: reading a committed range that shrank fails loudly") {
    val dir = newStream()
    (0 until 10).foreach(i => put(dir, s"k$i", s"v$i"))
    // a consumer checkpointed end=10; then the file loses 4 full records
    val lines = Files.readAllLines(shardFile(dir).toPath)
    Files.write(shardFile(dir).toPath,
      (0 until 6).map(lines.get).mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[IllegalStateException] {
      ShardedLog.read(dir, "shard-00000", 0L, 10L).toSeq
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("truncated segment: the next offset poll refuses to regress") {
    val dir = newStream()
    (0 until 10).foreach(i => put(dir, s"k$i", s"v$i"))
    val lines = Files.readAllLines(shardFile(dir).toPath)
    Files.write(shardFile(dir).toPath,
      (0 until 3).map(lines.get).mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    // checkpoint says 10 records committed; the log now ends at 3 — if
    // this returned an offset map instead of throwing, later appends
    // would re-serve seqs 3..10 with DIFFERENT records
    val e = intercept[IllegalStateException] {
      stream(dir).latestOffset(
        ShardedLogOffset(Map("shard-00000" -> 10L)), ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("regressed"))
  }

  test("deleted segment: poll and read both fail loudly, never skip") {
    val dir = newStream()
    (0 until 5).foreach(i => put(dir, s"k$i", s"v$i"))
    assert(shardFile(dir).delete())
    val ePoll = intercept[IllegalStateException] {
      stream(dir).latestOffset(
        ShardedLogOffset(Map("shard-00000" -> 5L)), ReadLimit.allAvailable())
    }
    assert(ePoll.getMessage.contains("gone"))
    val eRead = intercept[IllegalStateException] {
      ShardedLog.read(dir, "shard-00000", 0L, 5L)
    }
    assert(eRead.getMessage.contains("deleted"))
    // r14: an UNSTARTED shard (committed 0) disappearing ALSO fails —
    // offset 0 only says nothing was read, not that nothing was written;
    // the vanished file may have held unread records (ADVICE r13)
    val dir2 = newStream(2)
    val keep = ShardedLog.listShards(dir2).head
    assert(new java.io.File(dir2, ShardedLog.listShards(dir2).last).delete())
    val e0 = intercept[IllegalStateException] {
      stream(dir2).latestOffset(
        ShardedLogOffset(Map(keep -> 0L)), ReadLimit.allAvailable())
    }
    assert(e0.getMessage.contains("gone"))
  }

  test("deleted parent file after a split fails the poll, never advances children") {
    val dir = newStream(1)
    (0 until 4).foreach(i => put(dir, s"k$i", s"v$i"))
    val (l, r) = ShardedLog.splitShard(dir, "shard-00000")
    // the closed parent's segment vanishes; without the shards.json
    // cross-check, lineage holdback reads the parent as exhausted
    // (end 0) and silently advances the children past its 4 records —
    // even when the parent is absent from the checkpointed offset map
    assert(shardFile(dir).delete())
    val e = intercept[IllegalStateException] {
      stream(dir).latestOffset(
        ShardedLogOffset(Map(l -> 0L, r -> 0L)), ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("gone"))
    assert(e.getMessage.contains("shard-00000"))
  }

  test("at_sequence_number beyond a young shard's end waits, never throws or regresses") {
    val dir = newStream(1)
    (0 until 3).foreach(i => put(dir, s"k$i", s"v$i"))
    val st = new ShardedLogMicroBatchStream(dir, Map(
      "maxrecordsperpoll" -> "200",
      "startingposition" -> "at_sequence_number:10"))
    val init = st.initialOffset().asInstanceOf[ShardedLogOffset]
    assert(init.shards == Map("shard-00000" -> 10L))
    // healthy shard still below the seed: the poll must WAIT (offset
    // pinned at 10, no slice) — the r13 truncation guard threw here,
    // and a plain min(end, from+cap) would regress the offset to 3 and
    // later serve records 3..9 the seed asked to skip
    val off = st.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[ShardedLogOffset]
    assert(off.shards("shard-00000") == 10L)
    assert(st.planInputPartitions(init, off).isEmpty)
    // once the log catches up, exactly seq >= 10 is served
    (3 until 12).foreach(i => put(dir, s"k$i", s"v$i"))
    val off2 = st.latestOffset(off, ReadLimit.allAvailable())
      .asInstanceOf[ShardedLogOffset]
    assert(off2.shards("shard-00000") == 12L)
    val slices = st.planInputPartitions(off, off2)
    assert(slices.length == 1)
    assert(slices.head.asInstanceOf[ShardSlice].startSeq == 10L)
    assert(slices.head.asInstanceOf[ShardSlice].endSeq == 12L)
  }

  test("seeded stream still refuses truncation once reads advanced past the seed") {
    val dir = newStream(1)
    (0 until 10).foreach(i => put(dir, s"k$i", s"v$i"))
    val st = new ShardedLogMicroBatchStream(dir, Map(
      "maxrecordsperpoll" -> "200",
      "startingposition" -> "after_sequence_number:1"))
    // checkpoint advanced to 8 (> seed 2), then the file shrinks to 5
    // records: the seeded-start exemption must NOT mask real damage
    val lines = Files.readAllLines(shardFile(dir).toPath)
    Files.write(shardFile(dir).toPath,
      (0 until 5).map(lines.get).mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[IllegalStateException] {
      st.latestOffset(
        ShardedLogOffset(Map("shard-00000" -> 8L)), ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("regressed"))
  }

  test("rewritten segment: embedded seq != line position is refused") {
    val dir = newStream()
    (0 until 6).foreach(i => put(dir, s"k$i", s"v$i"))
    // overwrite the file with the TAIL of itself (lines 2..5 now sit at
    // positions 0..3): a rewritten/compacted segment under unchanged
    // offsets — byte-level plausible, record-level wrong
    val lines = Files.readAllLines(shardFile(dir).toPath)
    Files.write(shardFile(dir).toPath,
      (2 until 6).map(lines.get).mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[IllegalStateException] {
      ShardedLog.read(dir, "shard-00000", 0L, 4L).toSeq
    }
    assert(e.getMessage.contains("rewritten"))
  }

  test("garbage record bytes fail with shard+seq context, not a bare parse error") {
    val dir = newStream()
    (0 until 3).foreach(i => put(dir, s"k$i", s"v$i"))
    Files.write(shardFile(dir).toPath,
      "notarecord\n".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val e = intercept[IllegalStateException] {
      ShardedLog.read(dir, "shard-00000", 0L, 4L).toSeq
    }
    assert(e.getMessage.contains("corrupt record"))
    assert(e.getMessage.contains("seq 3"))
  }

  test("corrupt shards.json fails loudly with the stream dir named") {
    val dir = newStream()
    Files.write(Paths.get(dir, "shards.json"), "{torn".getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[IllegalStateException] { ShardedLog.shardMeta(dir) }
    assert(e.getMessage.contains("corrupt shards.json"))
    assert(e.getMessage.contains(dir))
  }

  test("deleted shards.json with live shard files is refused, not guessed") {
    val dir = newStream(2)
    // after a reshard the even-split guess would revive closed parents
    // with ranges overlapping their children — refuse even pre-reshard
    Files.delete(Paths.get(dir, "shards.json"))
    val e = intercept[IllegalStateException] { ShardedLog.shardMeta(dir) }
    assert(e.getMessage.contains("no shards.json"))
    // a genuinely empty/nonexistent stream dir is simply empty metadata
    assert(ShardedLog.shardMeta(
      Files.createTempDirectory("graft-empty").toString).isEmpty)
  }
}
