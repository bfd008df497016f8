package graft

import graft.log.{FileTopicLog, InMemoryLog, SegmentCodec, TopicLog}
import graft.model.{Payload, TopicBucket}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Invariants of the append-only bucket log, derived from the reference's
  * queue semantics (`internal/broker/queue/queue.go:49-61`,
  * `pkg/utils/collection/concurrent_list.go:63-73`): range reads are
  * clamped slices, append order is preserved per bucket, offsets are dense,
  * and replay from offset k yields exactly the suffix. FIXTURES.md §A lists
  * these as the property-test contract.
  */
class LogSpec extends AnyFunSuite {

  private val tb = TopicBucket("t", "b0")
  private def payloads(n: Int, tag: Byte = 0): Seq[Payload] =
    (0 until n).map(i => Payload(i, Array(tag, i.toByte)))

  private def fileLog(): FileTopicLog =
    new FileTopicLog(Files.createTempDirectory("graftlog"))

  // storage-plane paths are Hadoop paths; tests poke them via java.nio
  private def nio(p: org.apache.hadoop.fs.Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri)

  private def logs(): Seq[(String, TopicLog)] =
    Seq("mem" -> new InMemoryLog, "file" -> fileLog())

  test("append then range == clamped slice (queue.go:58-61 semantics)") {
    for ((name, log) <- logs()) {
      val xs = payloads(10)
      log.append(tb, xs)
      assert(log.range(tb, 0, 5).map(_.id) == (0 until 5), name)
      assert(log.range(tb, 7, 100).map(_.id) == (7 until 10), name)
      assert(log.range(tb, 10, 20).isEmpty, name)
      assert(log.range(tb, 5, 3).isEmpty, name)
      assert(log.size(tb) == 10, name)
    }
  }

  test("multi-append preserves order and dense offsets") {
    for ((name, log) <- logs()) {
      log.append(tb, payloads(3, 1))
      log.append(tb, payloads(4, 2))
      val all = log.range(tb, 0, Long.MaxValue)
      assert(all.map(_.offset) == (0L until 7L), name)
      assert(all.map(r => r.data(0)) == Seq[Byte](1, 1, 1, 2, 2, 2, 2), name)
    }
  }

  test("fan-out: two readers each observe the full log independently") {
    for ((name, log) <- logs()) {
      log.append(tb, payloads(6))
      // Consumers are just offsets; both replay everything (SURVEY §2
      // delivery-semantics note, core.go:46-64).
      val c1 = log.range(tb, 0, log.size(tb))
      val c2 = log.range(tb, 0, log.size(tb))
      assert(c1.map(_.id) == c2.map(_.id), name)
      assert(c1.size == 6, name)
    }
  }

  test("idempotent positional append (exactly-once epoch retry)") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    val rows = payloads(5).map(p => (p, now))
    log.appendAt(tb, 0L, rows)
    log.appendAt(tb, 0L, rows) // retried epoch: no-op
    assert(log.size(tb) == 5)
    assert(log.range(tb, 0, 99).size == 5)
    // a later-timestamped replay of the SAME records is still the no-op
    // (frame identity is timestamp-insensitive)
    log.appendAt(tb, 0L, payloads(5).map(p => (p, now + 9999)))
    assert(log.size(tb) == 5)
    // same offsets, DIFFERENT records = a second writer took these offsets
    // (single-writer contract violated): loud failure, never silent loss
    val e = intercept[IllegalStateException] {
      log.appendAt(tb, 0L, payloads(5, tag = 7).map(p => (p, now)))
    }
    assert(e.getMessage.contains("DIFFERENT records"), e.getMessage)
    assert(log.range(tb, 0, 99).map(_.data(0)) == Seq[Byte](0, 0, 0, 0, 0),
      "committed records untouched by the refused append")
  }

  test("a committed segment is NEVER overwritten: a foreign same-range publish is refused") {
    // the two-live-holders corner: a stalled holder resumes after its lock
    // was stolen and re-publishes the same offsets the new holder already
    // committed — the commit log must refuse it, never replace the
    // committed segment
    val log = fileLog()
    val now = System.currentTimeMillis()
    log.appendAt(tb, 0L, payloads(3, tag = 1).map(p => (p, now)))
    val target = log.segments(tb).head._1
    val before = Files.readAllBytes(nio(target)).toSeq

    // a "resumed holder" staging DIFFERENT content for the same range
    val staged = new org.apache.hadoop.fs.Path(log.bucketDir(tb), ".tmp-usurped")
    SegmentCodec.write(log.fs, staged, payloads(3, tag = 9).map(p => (p, now)))
    val e = intercept[IllegalStateException] {
      log.publishStaged(tb, Seq(SegFacts.staged(log.fs, staged, 0L)))
    }
    assert(e.getMessage.contains("DIFFERENT records"), e.getMessage)
    assert(log.segments(tb).map(_._1) == Seq(target))
    assert(Files.readAllBytes(nio(target)).toSeq == before,
      "committed segment bytes must be untouched")
    Files.deleteIfExists(nio(staged))

    // and a successful publish consumes the staged file (no leak)
    val staged2 = new org.apache.hadoop.fs.Path(log.bucketDir(tb), ".tmp-fresh")
    SegmentCodec.write(log.fs, staged2, payloads(2, tag = 2).map(p => (p, now)))
    assert(log.publishStaged(tb, Seq(SegFacts.staged(log.fs, staged2, 3L))).head.isDefined)
    assert(!Files.exists(nio(staged2)))
    assert(log.size(tb) == 5)
  }

  test("segment name round-trip") {
    val n = SegmentCodec.dataName(42L, 7L)
    assert(!SegmentCodec.isSparse(n))
    assert(SegmentCodec.dataName(42L, 7L) != n, "unique per call")
    val k = SegmentCodec.sparseName(40L, 9L)
    assert(SegmentCodec.isSparse(k) && k != SegmentCodec.sparseName(40L, 9L))
  }

  test("commit records round-trip with their stats; the retired four-field A line is refused loudly") {
    // a record written by one CommitLog reads back field for field
    // through a cold instance, in a delta and in a checkpoint
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = new HPath("file:" + Files.createTempDirectory("graftrec"), ".commitlog")
    val fs = graft.log.LogFs.get(dir, new org.apache.hadoop.conf.Configuration())
    val writer = new graft.log.CommitLog(fs, dir, 2)
    val recs = Seq(
      graft.log.SegMeta(SegmentCodec.dataName(42L, 7L), 42L, 7L, -5L, 1700000000123L, 4096L, 7L),
      graft.log.SegMeta(SegmentCodec.sparseName(49L, 9L), 49L, 9L,
        Long.MaxValue, Long.MinValue, 0L, 0L))
    recs.foreach(r => assert(writer.tryCommit(writer.read(), Seq(r), Set.empty).isDefined))
    assert(new graft.log.CommitLog(fs, dir, 2).read().segs == recs)
    (0 until 2).foreach(_ => assert(writer.tryCommit(writer.read(),
      Seq(SegFacts.meta(SegmentCodec.dataName(0L, 1L), 100L, 1L)), Set.empty).isDefined))
    assert(fs.exists(new HPath(dir, f"k-${2L}%020d")), "a checkpoint was written")
    assert(new graft.log.CommitLog(fs, dir, 2).read().segs.take(2) == recs)
    // the retired format carried offsets only; parsing it as zero stats
    // would make every ts predicate prune the segment and every byte
    // budget ignore it, and reading it as empty would lose the bucket
    for (kind <- Seq("c", "k")) {
      val log = fileLog()
      val cl = new java.io.File(log.bucketDir(tb).toUri.getPath, ".commitlog")
      cl.mkdirs()
      Files.write(cl.toPath.resolve(f"$kind-${if (kind == "c") 0L else 64L}%020d"),
        s"A 0 5 ${SegmentCodec.dataName(0L, 5L)}".getBytes("UTF-8"))
      for (read <- Seq[() => Any](() => log.segments(tb), () => log.size(tb),
          () => log.offsetForTimestamp(tb, 0L))) {
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains("retired four-field commit line") &&
          e.getMessage.contains(s"$kind-"), e.getMessage)
      }
    }
  }

  test("property: range(i,j) == slice for arbitrary appends (seeded, 200 cases)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val log = new InMemoryLog
      var expected = Vector.empty[Int]
      (1 to rnd.nextInt(4)).foreach { _ =>
        val n = rnd.nextInt(21)
        val xs = (0 until n).map(k => Payload(expected.size + k, Array[Byte]()))
        log.append(TopicBucket("p", "b"), xs)
        expected = expected ++ xs.map(_.id)
      }
      val i = rnd.nextInt(71)
      val j = rnd.nextInt(71)
      val got = log.range(TopicBucket("p", "b"), i.toLong, j.toLong).map(_.id)
      val want = expected.slice(i, math.min(j, expected.size))
      assert(got == want, s"i=$i j=$j size=${expected.size}")
    }
  }

  test("truncateBefore drops old segments, preserves offsets, keeps newest") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      log.appendAt(tb, i * 5L, payloads(5).map(p => (p, now)))
    }
    assert(log.size(tb) == 20)
    val deleted = log.truncateBefore(tb.topic, 12L)
    assert(deleted == 2) // segments [0,5) and [5,10); [10,15) straddles → kept
    assert(log.size(tb) == 20) // end offset unchanged
    assert(log.range(tb, 0, 100).map(_.offset) == (10L until 20L))
    // truncating everything still keeps the newest segment
    log.truncateBefore(tb.topic, 999L)
    assert(log.size(tb) == 20)
    assert(log.range(tb, 0, 100).map(_.offset) == (15L until 20L))
    // appends continue from the preserved end offset
    log.append(tb, payloads(2))
    assert(log.range(tb, 20, 100).map(_.offset) == (20L until 22L))
  }

  test("truncateOlderThan drops aged segments, replay from retained offset exact") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i => log.appendAt(tb, i * 5L, payloads(5).map(p => (p, now))) }
    // age the first two segments' files by an hour
    log.segments(tb).take(2).foreach { case (p, _, _) =>
      java.nio.file.Files.setLastModifiedTime(nio(p),
        java.nio.file.attribute.FileTime.fromMillis(now - 3600 * 1000L))
    }
    val deleted = log.truncateOlderThan(tb.topic, maxAgeMillis = 60 * 1000L, nowMillis = now)
    assert(deleted == 2)
    assert(log.size(tb) == 20) // end offset unchanged
    assert(log.range(tb, 10, 100).map(_.offset) == (10L until 20L))
    assert(log.range(tb, 10, 100).map(_.id) == payloads(5).map(_.id) ++ payloads(5).map(_.id))
    // everything aged: newest segment survives regardless
    log.segments(tb).foreach { case (p, _, _) =>
      java.nio.file.Files.setLastModifiedTime(nio(p),
        java.nio.file.attribute.FileTime.fromMillis(now - 3600 * 1000L))
    }
    log.truncateOlderThan(tb.topic, maxAgeMillis = 60 * 1000L, nowMillis = now)
    assert(log.size(tb) == 20)
    assert(log.range(tb, 0, 100).map(_.offset) == (15L until 20L))
  }

  test("truncateToBytes keeps the trailing byte budget, preserves offsets, keeps newest") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      log.appendAt(tb, i * 5L, payloads(5).map(p => (p, now)))
    }
    val segs = log.segments(tb)
    assert(segs.size == 4)
    val segBytes = segs.map { case (p, _, _) => log.fs.getFileStatus(p).getLen }
    assert(segBytes.forall(_ > 0))
    // budget = the last two segments exactly → first two expire
    val floors2 = log.byteFloors(tb.topic, segBytes.drop(2).sum)
    assert(floors2 == Map(tb.bucket -> 10L), floors2.toString)
    assert(log.truncateToBytes(tb.topic, segBytes.drop(2).sum) == 2)
    assert(log.size(tb) == 20) // end offset unchanged
    assert(log.range(tb, 0, 100).map(_.offset) == (10L until 20L))
    // within budget now: a second run is a no-op
    assert(log.truncateToBytes(tb.topic, segBytes.drop(2).sum) == 0)
    // budget smaller than the newest segment alone: newest still survives
    assert(log.truncateToBytes(tb.topic, 1L) == 1)
    assert(log.size(tb) == 20)
    assert(log.range(tb, 0, 100).map(_.offset) == (15L until 20L))
    // the contiguous-prefix rule: once a segment overflows, OLDER tiny
    // segments expire with it (no kept holes). Build small-BIG-small:
    val tb2 = graft.model.TopicBucket(tb.topic, "b1")
    log.appendAt(tb2, 0L, payloads(1).map(p => (p, now)))            // small
    log.appendAt(tb2, 1L, (0 until 40).map(i =>
      (graft.model.Payload(i, Array.fill(64)(7: Byte)), now)))       // big
    log.appendAt(tb2, 41L, payloads(1).map(p => (p, now)))           // small
    val s2 = log.segments(tb2).map { case (p, _, _) => log.fs.getFileStatus(p).getLen }
    // budget covers newest + NOT the big middle → floor lands at the big
    // segment's end; the tiny head expires despite fitting by itself
    assert(log.byteFloors(tb.topic, s2.last + 1).get("b1").contains(41L))
  }

  test("sameFrames: timestamp-insensitive, payload/id-sensitive") {
    val dir = Files.createTempDirectory("frames")
    val a = dir.resolve("a"); val b = dir.resolve("b"); val c = dir.resolve("c")
    val rows = payloads(5)
    SegmentCodec.write(a, rows.map(r => (r, 1000L)))
    SegmentCodec.write(b, rows.map(r => (r, 2000L))) // same records, new clock
    SegmentCodec.write(c, payloads(5, tag = 9).map(r => (r, 1000L)))
    assert(SegmentCodec.sameFrames(a, b))
    assert(!SegmentCodec.sameFrames(a, c))
    assert(!SegmentCodec.sameFrames(a, dir.resolve("missing")))
  }

  test("createTopic registers buckets; topics/buckets enumerable") {
    val log = fileLog()
    val tbs = log.createTopic("orders", 4)
    assert(tbs.size == 4)
    assert(log.buckets("orders").map(_.bucket) == Seq("b0000", "b0001", "b0002", "b0003"))
    assert(log.topics() == Seq("orders"))
  }

  test("vacuum sweeps staging leftovers and superseded epoch markers, keeps the newest + intents") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    log.appendAt(tb, 0L, payloads(3, 1).map(p => (p, now)))
    val fs = log.fs
    val topicDir = new org.apache.hadoop.fs.Path(log.root, "t")
    def touch(p: org.apache.hadoop.fs.Path): Unit = {
      fs.mkdirs(p.getParent); val o = fs.create(p, true); o.close()
    }
    // crashed-publish leftovers + epoch-marker namespace of two queries
    touch(new org.apache.hadoop.fs.Path(log.bucketDir(tb), ".tmp-crashed"))
    touch(new org.apache.hadoop.fs.Path(topicDir, ".staging/stage-1-2-b0-dead"))
    val q = new org.apache.hadoop.fs.Path(topicDir, ".commits/query-1")
    Seq("epoch-1", "epoch-2", "epoch-9", "epoch-5.intent").foreach(m =>
      touch(new org.apache.hadoop.fs.Path(q, m)))
    val swept = log.vacuum("t", graceMs = 0L, nowMillis = now + 60000)
    // .tmp + staging + epoch-1 + epoch-2 (epoch-9 is newest; intent kept)
    assert(swept == 4, s"swept $swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(q, "epoch-9")), "newest marker kept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(q, "epoch-5.intent")), "intent kept")
    assert(log.range(tb, 0, 3).map(_.data(0)) == Seq[Byte](1, 1, 1), "segments untouched")
    assert(log.segments(tb).size == 1)
  }

  test("compactSegments: read ≡ identity, offsets/floor/size unchanged, groups bounded") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    // 10 tiny epoch-shaped segments (3 rows each)
    (0 until 10).foreach { e =>
      log.appendAt(tb, e * 3L, payloads(3, e.toByte).map(p => (p, now)))
    }
    val before = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq))
    assert(log.segments(tb).size == 10)
    // target sized for ~5 tiny segments per merged file → two groups
    val segBytes = log.fs.getFileStatus(log.segments(tb).head._1).getLen
    val merged = log.compactSegments("t", targetBytes = segBytes * 5)
    assert(merged == 10, s"all 10 tiny segments merge away, got $merged")
    val segsAfter = log.segments(tb)
    assert(segsAfter.size == 2, s"two bounded groups, got ${segsAfter.map(_._1.getName)}")
    assert(segsAfter.map(s => (s._2, s._3)) == Seq((0L, 15L), (15L, 15L)))
    assert(log.size(tb) == 30 && log.firstOffset(tb) == 0L)
    val after = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq))
    assert(after == before, "compaction must be invisible to reads")
    // idempotent: nothing left to merge
    assert(log.compactSegments("t", targetBytes = segBytes * 5) == 0)
  }

  test("compactSegments respects retention gaps and the contiguity rule") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    (0 until 6).foreach { e =>
      log.appendAt(tb, e * 2L, payloads(2, e.toByte).map(p => (p, now)))
    }
    assert(log.truncateBefore("t", 4L) == 2) // head gone: floor now 4
    val before = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id))
    assert(log.compactSegments("t") == 4)
    assert(log.segments(tb).map(s => (s._2, s._3)) == Seq((4L, 8L)),
      "merge starts at the retained floor, never bridges into the gap")
    assert(log.firstOffset(tb) == 4L, "floor preserved")
    assert(log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id)) == before)
  }

  test("compactSegments heals a crashed prior attempt (merged published, manifest not swapped)") {
    // the crash window of the commit-log protocol: the merged data file is
    // written but the commit log (the bucket's manifest) never swapped —
    // the orphan stays invisible, the next pass compacts, vacuum sweeps it
    val log = fileLog()
    val now = System.currentTimeMillis()
    (0 until 4).foreach { e =>
      log.appendAt(tb, e * 2L, payloads(2, e.toByte).map(p => (p, now)))
    }
    val before = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq))
    // simulate the crash window: the merged data file exists (byte concat
    // of all four members) but its commit never landed
    val members = log.segments(tb).map(_._1)
    val orphan = new org.apache.hadoop.fs.Path(log.bucketDir(tb),
      SegmentCodec.dataName(0L, 8L))
    val out = java.nio.file.Files.newOutputStream(nio(orphan))
    members.foreach(m => out.write(java.nio.file.Files.readAllBytes(nio(m))))
    out.close()
    // readers never see the uncommitted file
    assert(log.segments(tb).map(_._1) == members)
    assert(log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq)) == before)
    // the next compaction pass merges the committed members as usual
    assert(log.compactSegments("t") == 4)
    assert(log.segments(tb).map(s => (s._2, s._3)) == Seq((0L, 8L)))
    assert(log.segments(tb).head._1 != orphan)
    assert(log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq)) == before)
    // and vacuum sweeps the crashed attempt's file past its grace window
    assert(log.vacuum("t", graceMs = 0L, nowMillis = now + 60000) == 1)
    assert(!log.fs.exists(orphan))
    assert(log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq)) == before)
  }

  test("offsetForTimestamp: boundaries, out-of-order stamps, commit-record stats, compaction, retention") {
    val dir = Files.createTempDirectory("tsseek")
    val log = new FileTopicLog(dir)
    def rows(tag: Byte, tss: Seq[Long], base: Int) =
      tss.zipWithIndex.map { case (t, i) => (Payload(base + i, Array(tag)), t) }
    // seg0 ts [10,20,30]; seg1 [40,25,50] (25 is LATE data); seg2 [60,70]
    log.appendAt(tb, 0L, rows(1, Seq(10L, 20L, 30L), 0))
    log.appendAt(tb, 3L, rows(2, Seq(40L, 25L, 50L), 3))
    log.appendAt(tb, 6L, rows(3, Seq(60L, 70L), 6))

    def seeks(): Seq[Long] =
      Seq(Long.MinValue, 10L, 11L, 30L, 31L, 25L, 45L, 70L, 71L)
        .map(log.offsetForTimestamp(tb, _))
    // 25 → offset 2 (ts 30 is the FIRST record >= 25; the late ts-25 frame
    // at offset 4 sits behind it, as Kafka's running-max time index gives);
    // 45 → offset 5 (seg1's late frame skipped: 40,25 < 45, 50 >= 45);
    // 71 → 8 = end (nothing qualifies)
    val expect = Seq(0L, 0L, 1L, 2L, 3L, 2L, 5L, 7L, 8L)
    assert(seeks() == expect)

    // appendAt recorded each segment's ts range in its commit record (and
    // the seeks above TRUSTED it — wrong recorded values would have
    // failed them); no side file holds them
    def tsRanges() = log.segmentRecords(tb).map { case (_, m) => (m.minTs, m.maxTs) }
    assert(tsRanges() == Seq((10L, 30L), (25L, 50L), (60L, 70L)))
    assert(!dir.resolve("t").resolve("b0").toFile.list().exists(_.startsWith(".ts")))

    // in-place compaction combines the members' records: the merged
    // segment's range is (min, max) of theirs — no re-scan needed
    assert(log.compactSegments("t") == 3)
    assert(tsRanges() == Seq((10L, 70L)))
    assert(seeks() == expect, "seek invariant under compaction")

    // retention: a timestamp predating every retained record resolves to
    // the floor (earliest retained), never below it
    val log2 = new FileTopicLog(Files.createTempDirectory("tsseek2"))
    log2.appendAt(tb, 0L, rows(1, Seq(10L, 20L), 0))
    log2.appendAt(tb, 2L, rows(2, Seq(30L, 40L), 2))
    log2.truncateBefore("t", 2L)
    assert(log2.offsetForTimestamp(tb, Long.MinValue) == 2L)
    assert(log2.offsetForTimestamp(tb, 35L) == 3L)

    // empty bucket
    val log3 = new FileTopicLog(Files.createTempDirectory("tsseek3"))
    assert(log3.offsetForTimestamp(TopicBucket("t", "b9"), 0L) == 0L)
  }

  test("createTopic refuses names that collide with subscription syntax or metadata dirs") {
    val log = fileLog()
    log.createTopic("ok.name_1-x", 1) // the full legal alphabet
    for (bad <- Seq("a,b", "a/b", ".hidden", "", "sp ace", "unicodé"))
      intercept[IllegalArgumentException] { log.createTopic(bad, 1) }
  }

  test("metadata caches: append, compaction and retention each bust the cached view") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    def stamped(tag: Byte, base: Int, tss: Seq[Long]) =
      tss.zipWithIndex.map { case (t, i) => (Payload(base + i, Array(tag)), t) }
    log.appendAt(tb, 0L, stamped(1, 0, Seq(10L, 20L)))
    log.appendAt(tb, 2L, stamped(2, 2, Seq(30L, 40L)))
    // warm the cached commit-log view and its seek index
    assert(log.offsetForTimestamp(tb, 25L) == 2L)
    assert(log.offsetForTimestamp(tb, 25L) == 2L) // warm hit
    assert(log.metaCacheEntries > 0, "caches populated")
    // APPEND moves the manifest → the cached seek view must see new rows
    log.appendAt(tb, 4L, stamped(3, 4, Seq(50L, 60L)))
    assert(log.offsetForTimestamp(tb, 55L) == 5L, "append busts the cache")
    assert(log.segments(tb).size == 3)
    // COMPACTION replaces segments → cached boundary resolution must follow
    assert(log.compactSegments("t") == 3)
    assert(log.segments(tb).map(s => (s._2, s._3)) == Seq((0L, 6L)))
    assert(log.offsetForTimestamp(tb, 25L) == 2L, "compaction busts the cache")
    assert(log.offsetForTimestamp(tb, 55L) == 5L)
    // RETENTION drops head segments → seek floor must move
    log.appendAt(tb, 6L, stamped(4, 6, Seq(70L)))
    log.truncateBefore("t", 6L)
    assert(log.offsetForTimestamp(tb, Long.MinValue) == 6L,
      "retention busts the cache: floor is the earliest retained offset")
    // explicit topic invalidation drops every entry
    log.invalidateTopicCaches("t")
    assert(log.metaCacheEntries == 0, "invalidateTopicCaches clears the topic")
    assert(log.offsetForTimestamp(tb, 70L) == 6L, "cold reread still correct")
  }

  test("metadata caches are BOUNDED: a tiny cap evicts, eviction never changes results") {
    // the seam: cap the cache at ~nothing, so every put evicts the rest
    def tiny() = new FileTopicLog(Files.createTempDirectory("graftlru")) {
      override private[graft] def metaCacheMaxWeight: Long = 1L
    }
    val capped = tiny()
    val reference = fileLog()
    val now = System.currentTimeMillis()
    for (log <- Seq(capped, reference); b <- 0 until 4) {
      val tbx = TopicBucket("t", s"b$b")
      log.appendAt(tbx, 0L, (0 until 3).map(i => (Payload(i, Array(b.toByte)), 10L * (i + 1))))
      log.appendAt(tbx, 3L, (0 until 2).map(i => (Payload(3 + i, Array(b.toByte)), 40L + 10L * i)))
    }
    // interleave seeks across buckets so the capped instance thrashes
    val probes = for (b <- 0 until 4; ts <- Seq(Long.MinValue, 15L, 45L, 99L)) yield (b, ts)
    val fromCapped = probes.map { case (b, ts) =>
      capped.offsetForTimestamp(TopicBucket("t", s"b$b"), ts) }
    val fromRef = probes.map { case (b, ts) =>
      reference.offsetForTimestamp(TopicBucket("t", s"b$b"), ts) }
    assert(fromCapped == fromRef, "eviction is invisible to results")
    assert(capped.metaCacheWeight <= 2L, // one over-cap survivor
      s"cap enforced, weight=${capped.metaCacheWeight}")
    assert(reference.metaCacheEntries >= 4, "uncapped instance retains entries")
  }

  test("compaction tolerates a member vanishing mid-concat (racing retention)") {
    val log = fileLog()
    val now = System.currentTimeMillis()
    (0 until 6).foreach { e =>
      log.appendAt(tb, e * 2L, payloads(2, e.toByte).map(p => (p, now)))
    }
    val before = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq))
    val segBytes = log.fs.getFileStatus(log.segments(tb).head._1).getLen
    // two groups of 3; a "retention job" deletes a member of group 1
    // between plan and concat — exactly the unlocked phase-2 window
    var sabotaged = false
    val racingConcat: Seq[graft.log.ConcatTask] => Map[String, String] = { tasks =>
      assert(tasks.size == 2, s"two planned merges, got ${tasks.size}")
      if (!sabotaged) {
        sabotaged = true
        // a real retention pass commits the removal of group 1's first
        // member ([0,2)) and deletes its file
        assert(tasks.head.members.head == log.segments(tb).head._1.toString)
        assert(log.truncateBefore("t", 2L) == 1)
      }
      log.localConcat(tasks)
    }
    // the call SUCCEEDS: group 1 is dropped (its member vanished), group 2
    // merges — one racing truncate must not fail the whole compaction
    val merged = log.compactSegments("t", targetBytes = segBytes * 3,
      concat = racingConcat)
    assert(merged == 3, s"the surviving group still merges, got $merged")
    val segs = log.segments(tb).map(s => (s._2, s._3))
    assert(segs.contains((6L, 6L)), s"group 2 merged: $segs")
    // the vanished member's rows are gone (retention deleted them); the
    // rest of group 1 is intact and unmerged
    val after = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq))
    assert(after == before.filterNot { case (o, _, _) => o < 2L },
      "only the deleted member's rows are missing")
  }

  test("frame codec: per-codec round-trip, skip walk, raw fallback for tiny/incompressible payloads") {
    import graft.log.Codecs
    val dir = Files.createTempDirectory("codec")
    val text = ("the quick brown fox jumps over the lazy dog " * 40).getBytes("UTF-8")
    val tiny = "id:7".getBytes("UTF-8")
    val rnd = new scala.util.Random(7)
    val noise = Array.fill[Byte](2048)(rnd.nextInt().toByte) // incompressible
    val rows = Seq(
      (Payload(1, text), 1000L),
      (Payload(2, tiny), 2000L),
      (Payload(3, noise), 3000L),
      (Payload(4, Array.emptyByteArray), 4000L))
    for (codec <- Seq(Codecs.Deflate, Codecs.Lz4, Codecs.Zstd)) {
      val f = dir.resolve(s"c$codec")
      SegmentCodec.writeFrames(Files.newOutputStream(f), rows, codec)
      // full decode round-trips exactly
      val back = { val it = SegmentCodec.read(f); try it.toList finally it.close() }
      assert(back.map(_._1) == Seq(1, 2, 3, 4), s"codec $codec ids")
      assert(back.map(_._2) == Seq(1000L, 2000L, 3000L, 4000L), s"codec $codec ts")
      assert(back.zip(rows).forall { case ((_, _, d), (p, _)) =>
        java.util.Arrays.equals(d, p.data) }, s"codec $codec payloads")
      // header-only walk sees the same ids/ts without touching payloads
      val heads = {
        val it = new SegmentCodec.FrameIterator(Files.newInputStream(f), skipData = true)
        try it.toList finally it.close()
      }
      assert(heads.map(h => (h._1, h._2)) == back.map(b => (b._1, b._2)),
        s"codec $codec header walk")
      assert(heads.forall(_._3.isEmpty))
      // the compressible payload actually shrank the file vs raw
      val raw = dir.resolve(s"raw$codec")
      SegmentCodec.writeFrames(Files.newOutputStream(raw), rows, Codecs.None)
      assert(Files.size(f) < Files.size(raw),
        s"codec $codec: ${Files.size(f)} !< ${Files.size(raw)}")
      // determinism: a replayed write produces identical bytes (the
      // sameFrames size prefilter and segment replay identity rely on it)
      val f2 = dir.resolve(s"c$codec-replay")
      SegmentCodec.writeFrames(Files.newOutputStream(f2), rows, codec)
      assert(java.util.Arrays.equals(Files.readAllBytes(f), Files.readAllBytes(f2)))
      assert(SegmentCodec.sameFrames(f, f2))
    }
    // mixed frames in ONE stream (codec config changed mid-topic, segments
    // byte-concatenated): raw + deflate + zstd frames read seamlessly
    val mixed = dir.resolve("mixed")
    val out = Files.newOutputStream(mixed)
    SegmentCodec.writeFrames(out, rows.take(2), Codecs.None) // closes out
    val out2 = Files.newOutputStream(mixed, java.nio.file.StandardOpenOption.APPEND)
    SegmentCodec.writeFrames(out2, rows.drop(2), Codecs.Zstd)
    val mixedBack = { val it = SegmentCodec.read(mixed); try it.toList finally it.close() }
    assert(mixedBack.map(_._1) == Seq(1, 2, 3, 4))
    assert(mixedBack.zip(rows).forall { case ((_, _, d), (p, _)) =>
      java.util.Arrays.equals(d, p.data) })
    // unknown flag bits (a future engine's frame) are loud, not garbage
    // (0x80 is the last unassigned bit — 0x40 became record headers in r18)
    val future = dir.resolve("future")
    val dos = new java.io.DataOutputStream(Files.newOutputStream(future))
    dos.writeInt(-(1 + 12)); dos.writeByte(0x80); dos.writeInt(1); dos.writeLong(0L)
    dos.close()
    val it = SegmentCodec.read(future)
    val e = intercept[java.io.IOException] { it.next() }
    assert(e.getMessage.contains("unknown flag"), e.getMessage)
    it.close()
  }

  test("compactKeyed: latest record per key at original offsets; floor/end unchanged; heal completes a crash") {
    val log = fileLog()
    log.createTopic("kc", 1)
    val tbk = TopicBucket("kc", "b0000")
    def put(id: Int, v: String, ts: Long): Unit =
      log.appendAt(tbk, log.size(tbk), Seq((Payload(id, v.getBytes), ts)))
    // key-update stream: keys 1..3 written multiple times across segments
    put(1, "a1", 10); put(2, "b1", 20); put(1, "a2", 30) // offsets 0,1,2
    put(3, "c1", 40); put(2, "b2", 50)                   // offsets 3,4
    put(1, "a3", 60)                                     // offset 5
    val endBefore = log.size(tbk)
    assert(log.compactKeyed("kc") == 6, "all six single-record segments replaced")
    // the log is now one sparse segment holding the latest per key at
    // ORIGINAL offsets: 1->5(a3), 2->4(b2), 3->3(c1)
    val segs = log.segments(tbk)
    assert(segs.size == 1 && SegmentCodec.isSparse(segs.head._1.getName))
    val rec = log.segmentRecords(tbk).head._2
    assert((rec.rows, rec.minTs, rec.maxTs) == ((3L, 40L, 60L)), rec.toString)
    assert(rec.bytes == log.fs.getFileStatus(segs.head._1).getLen)
    assert(segs.head._2 == 0L && segs.head._3 == 6L, "span covers [0,6)")
    assert(log.size(tbk) == endBefore, "end offset unchanged")
    val got = log.range(tbk, 0, 10).map(r => (r.offset, r.id, new String(r.data)))
    assert(got == Seq((3L, 3, "c1"), (4L, 2, "b2"), (5L, 1, "a3")))
    // the rewrite's stats travelled beside its path into the record: the
    // bucket holds nothing but the product and the commit log
    assert(log.fs.listStatus(log.bucketDir(tbk)).map(_.getPath.getName).sorted.toSeq ==
      Seq(".commitlog", segs.head._1.getName), "no side file")
    // re-compaction of a lone sparse segment is a no-op
    assert(log.compactKeyed("kc") == 0)
    // new updates append after; keyed compaction merges sparse + dense
    put(3, "c2", 70); put(4, "d1", 80) // offsets 6,7
    assert(log.compactKeyed("kc") == 3)
    val got2 = log.range(tbk, 0, 10).map(r => (r.offset, r.id, new String(r.data)))
    assert(got2 == Seq((4L, 2, "b2"), (5L, 1, "a3"), (6L, 3, "c2"), (7L, 4, "d1")))
    assert(log.size(tbk) == 8L)
    // crash: plant the sparse product of a crashed keyed compaction
    // (written, never committed) — it stays invisible, the next pass
    // completes the compaction, and vacuum sweeps the orphan
    log.createTopic("kh", 1)
    val tbh = TopicBucket("kh", "b0000")
    log.appendAt(tbh, 0L, Seq((Payload(1, "x1".getBytes), 10L),
      (Payload(1, "x2".getBytes), 20L)))
    val dir = log.bucketDir(tbh)
    val sparse = new org.apache.hadoop.fs.Path(dir, SegmentCodec.sparseName(0L, 2L))
    val out = new java.io.DataOutputStream(log.fs.create(sparse, true))
    SegmentCodec.writeFrame(out, 1, 20L, "x2".getBytes, offset = 1L)
    out.close()
    assert(log.range(tbh, 0, 2).map(r => (r.offset, new String(r.data))) ==
      Seq((0L, "x1"), (1L, "x2")), "the uncommitted product is invisible")
    assert(log.compactKeyed("kh") == 1, "the next pass compacts the dense member")
    val healed = log.segmentRecords(tbh).map { case (p, m) => (p.getName, m.rows) }
    assert(healed.size == 1 && healed.head._1 != sparse.getName &&
      healed.head._2 == 1L, healed.toString)
    assert(log.range(tbh, 0, 2).map(r => (r.offset, new String(r.data))) ==
      Seq((1L, "x2")))
    assert(log.vacuum("kh", graceMs = 0L,
      nowMillis = System.currentTimeMillis() + 60000) == 1)
    assert(!log.fs.exists(sparse))
    // clamp (the pin composition): only the suffix at/above the clamp
    // rewrites; pinned prefix segments stay byte-identical
    log.createTopic("kp", 1)
    val tbp = TopicBucket("kp", "b0000")
    (0 until 4).foreach(i => log.appendAt(tbp, i.toLong,
      Seq((Payload(7, s"v$i".getBytes), 10L * (i + 1)))))
    val prefixNames = log.segments(tbp).take(2).map(_._1.getName)
    assert(log.compactKeyed("kp", minStartByBucket = Map("b0000" -> 2L)) == 2)
    val after = log.segments(tbp)
    assert(after.take(2).map(_._1.getName) == prefixNames, "pinned prefix untouched")
    assert(log.range(tbp, 0, 4).map(r => (r.offset, new String(r.data))) ==
      Seq((0L, "v0"), (1L, "v1"), (3L, "v3")), "suffix compacted, prefix intact")
  }

  test("byte-concat compaction never groups across a sparse member") {
    val log = fileLog()
    log.createTopic("kb", 1)
    val tbk = TopicBucket("kb", "b0000")
    (0 until 3).foreach(i => log.appendAt(tbk, i.toLong,
      Seq((Payload(i, Array(i.toByte)), 10L))))
    assert(log.compactKeyed("kb") == 3)
    // dense segments appended after the sparse product
    (3 until 6).foreach(i => log.appendAt(tbk, i.toLong,
      Seq((Payload(i, Array(i.toByte)), 20L))))
    val before = log.range(tbk, 0, 10).map(r => (r.offset, r.id))
    // size-based compaction may merge the dense RUN but must not absorb
    // the sparse segment into a byte-concat group
    log.compactSegments("kb")
    val segs = log.segments(tbk)
    assert(segs.exists(s => SegmentCodec.isSparse(s._1.getName)),
      "sparse product survives byte-concat compaction")
    assert(log.range(tbk, 0, 10).map(r => (r.offset, r.id)) == before)
  }

  test("explicit-offset frames: cursor rule in range/timestampAt, sparse tail gap") {
    import graft.log.Codecs
    val log = fileLog()
    log.createTopic("sparse", 1)
    // hand-build a sparse segment [0, 10) retaining offsets 2, 5, 9 —
    // exactly what key compaction produces — via the extended frame writer
    val tbs = TopicBucket("sparse", "b0000")
    val dir = log.bucketDir(tbs)
    log.fs.mkdirs(dir)
    val seg = new org.apache.hadoop.fs.Path(dir, ".staged-sparse")
    val out = new java.io.DataOutputStream(log.fs.create(seg, true))
    SegmentCodec.writeFrame(out, 2, 2000L, "v2".getBytes, Codecs.None, offset = 2L)
    SegmentCodec.writeFrame(out, 5, 5000L, ("v5" * 100).getBytes, Codecs.Zstd, offset = 5L)
    SegmentCodec.writeFrame(out, 9, 9000L, "v9".getBytes, Codecs.None, offset = 9L)
    out.close()
    log.publishStaged(tbs, Seq(SegFacts.staged(log.fs, seg, 0L).copy(count = 10L)))
    // range: retained records surface at their ORIGINAL offsets; gaps skip
    val all = log.range(tbs, 0, 10)
    assert(all.map(r => (r.offset, r.id)) == Seq((2L, 2), (5L, 5), (9L, 9)))
    assert(new String(all(1).data) == "v5" * 100, "compressed sparse payload decodes")
    // sub-range pruning over the sparse map
    assert(log.range(tbs, 3, 9).map(_.offset) == Seq(5L))
    assert(log.range(tbs, 6, 9).isEmpty, "a gap-only sub-range reads empty")
    // timestampAt: first record AT-OR-AFTER the asked offset
    assert(log.timestampAt(tbs, 2) == Some(2000L))
    assert(log.timestampAt(tbs, 3) == Some(5000L), "gap resolves forward")
    assert(log.timestampAt(tbs, 9) == Some(9000L))
    // offsetForTimestamp walks explicit offsets correctly
    assert(log.offsetForTimestamp(tbs, 5000L) == 5L)
    assert(log.offsetForTimestamp(tbs, 5001L) == 9L)
  }

  test("keyed rewrite under a tiny key budget spills to sorted runs and stays byte-identical") {
    import graft.log.Codecs
    val log = fileLog()
    log.createTopic("cap", 1)
    val tbc = TopicBucket("cap", "b0000")
    val dir = log.bucketDir(tbc)
    // three members, 4000 frames, 997 distinct keys (coprime stride so
    // every key repeats across members), negative ids included to pin the
    // unsigned run ordering; payloads vary per offset so a wrong retained
    // offset would change bytes, not just counts
    val nKeys = 997
    def keyAt(off: Long): Int = {
      val k = ((off * 31) % nKeys).toInt
      if (k % 5 == 0) -k - 1 else k // mix negative ids in
    }
    var off = 0L
    val memberPaths = (0 until 3).map { m =>
      val count = if (m == 2) 2000L else 1000L
      val p = new org.apache.hadoop.fs.Path(dir, SegmentCodec.dataName(off, count))
      val o = new java.io.DataOutputStream(log.fs.create(p, true))
      (0L until count).foreach { i =>
        SegmentCodec.writeFrame(o, keyAt(off + i), 1000L + off + i,
          s"payload-${off + i}".getBytes("UTF-8"))
      }
      o.close()
      val start = off
      off += count
      (p, start)
    }
    val fast = new org.apache.hadoop.fs.Path(dir, ".out-fast")
    val slow = new org.apache.hadoop.fs.Path(dir, ".out-spill")
    val rFast = SegmentCodec.rewriteLatestPerKey(log.fs, memberPaths, fast,
      Codecs.Zstd) // in-heap path (default budget)
    assert(rFast.spillRuns == 0,
      "the default budget must stay on the in-heap path here")
    // budget of 64 entries over 997 distinct keys: the spill path runs,
    // with many runs and many offset-runs — the per-call count is THIS
    // call's, exact under concurrent compactions in the JVM
    val rSlow = SegmentCodec.rewriteLatestPerKey(log.fs, memberPaths, slow,
      Codecs.Zstd, maxKeys = 64)
    assert(rSlow.spillRuns > 10,
      "the tiny budget must actually take the sorted-spill path")
    // budget 8 over 4000 frames => ~500 runs: past the 256 merge fan-in
    // cap, so the group-wise consolidation pass engages — output must
    // STILL be byte-identical (latest-per-id collapse is associative)
    val slower = new org.apache.hadoop.fs.Path(dir, ".out-spill8")
    val rSlower = SegmentCodec.rewriteLatestPerKey(log.fs, memberPaths, slower,
      Codecs.Zstd, maxKeys = 8)
    def stats(r: SegmentCodec.KeyedRewrite) = (r.rows, r.minTs, r.maxTs)
    assert(stats(rSlower) == stats(rFast))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(nio(fast)),
      java.nio.file.Files.readAllBytes(nio(slower))),
      "consolidated-merge output must stay byte-identical")
    assert(stats(rFast) == stats(rSlow), s"stats must match: $rFast vs $rSlow")
    assert(rFast.rows == nKeys.toLong, "one retained record per distinct key")
    val bFast = java.nio.file.Files.readAllBytes(nio(fast))
    val bSlow = java.nio.file.Files.readAllBytes(nio(slow))
    assert(java.util.Arrays.equals(bFast, bSlow),
      "spill path must emit byte-identical output (deterministic republish)")
    // and the retained set really is latest-per-key at original offsets
    val it = SegmentCodec.read(log.fs, slow)
    val got = try {
      val b = Seq.newBuilder[(Long, Int)]
      while (it.hasNext) { val (id, _, _) = it.next(); b += ((it.explicitOffset, id)) }
      b.result()
    } finally it.close()
    val want = (0L until off).map(o => (o, keyAt(o)))
      .groupBy(_._2).map(_._2.last).toSeq.sortBy(_._1)
    assert(got == want)
    // no spill litter left behind in the task's temp dir
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val litter = tmpDir.listFiles((_, n) => n.startsWith("graft-keyed-"))
    assert(litter == null || litter.isEmpty,
      s"spill runs must be deleted, found ${Option(litter).map(_.toSeq)}")
  }

  test("tombstone payloads (null data) round-trip both log planes; empty stays distinct") {
    for ((name, log) <- logs()) {
      log.append(tb, Seq(Payload(1, "v1".getBytes),
        Payload(2, null), Payload(3, Array.emptyByteArray)))
      val got = log.range(tb, 0, 3).map(r => (r.id, r.data == null,
        r.data != null && r.data.isEmpty))
      assert(got == Seq((1, false, false), (2, true, false), (3, false, true)),
        s"$name: $got")
    }
  }

  test("tombstones: null data frames round-trip, compact away after retention, spill-path parity") {
    import graft.log.Codecs
    val log = fileLog()
    log.createTopic("ts", 1)
    val tbt = TopicBucket("ts", "b0000")
    val dir = log.bucketDir(tbt)
    log.fs.mkdirs(dir)
    // seg1 [0,3): values for keys 1,2,3; seg2 [3,5): tombstone key 2
    // (OLD ts), update key 3; an EMPTY payload for key 1 would be a
    // VALUE, not a delete — pin the distinction
    val s1 = new org.apache.hadoop.fs.Path(dir, SegmentCodec.dataName(0L, 3L))
    val o1 = new java.io.DataOutputStream(log.fs.create(s1, true))
    SegmentCodec.writeFrame(o1, 1, 1000L, Array.emptyByteArray) // empty VALUE
    SegmentCodec.writeFrame(o1, 2, 1001L, "v2".getBytes)
    SegmentCodec.writeFrame(o1, 3, 1002L, "v3".getBytes)
    o1.close()
    val s2 = new org.apache.hadoop.fs.Path(dir, SegmentCodec.dataName(3L, 2L))
    val o2 = new java.io.DataOutputStream(log.fs.create(s2, true))
    SegmentCodec.writeFrame(o2, 2, 2000L, null) // tombstone, ts 2000
    SegmentCodec.writeFrame(o2, 3, 2001L, "v3b".getBytes)
    o2.close()
    // raw read: the tombstone surfaces as a null-data frame
    val it0 = SegmentCodec.read(log.fs, s2)
    val (id0, _, d0) = it0.next()
    assert(id0 == 2 && d0 == null && it0.tombstone)
    val (_, _, d1) = it0.next()
    assert(d1 != null && !it0.tombstone)
    it0.close()
    val members = Seq((s1, 0L), (s2, 3L))
    // PASS 1 over RAW members: the delete is retained even under a
    // MAXIMAL floor — aging is by CLEAN time, a raw member never drops
    // its tombstones (one pass must leave the delete visible), and the
    // record's own event-time ts (2000, 'old') is never consulted —
    // latest-per-key = {1@0 empty, 2@3 tomb, 3@4}. The product name is
    // sparse-marked like a real publish, so the aging arms below see it
    // as a compaction product.
    val keep = new org.apache.hadoop.fs.Path(dir, ".out-keep-k.log")
    val rKeep = SegmentCodec.rewriteLatestPerKey(log.fs, members, keep,
      tombstoneFloorMs = Long.MaxValue)
    assert(rKeep.rows == 3L, s"first-pass tombstone retained, got $rKeep")
    val kit = SegmentCodec.read(log.fs, keep)
    val kept = Iterator.continually {
      val (id, _, d) = kit.next()
      (kit.explicitOffset, id, d == null, kit.tombstone)
    }.take(3).toSeq
    kit.close()
    assert(kept == Seq((0L, 1, false, false), (3L, 2, true, true),
      (4L, 3, false, false)), s"got $kept")
    assert(new String(SegmentCodec.read(log.fs, keep).next()._3) == "",
      "the empty-array VALUE survives as a value, not a delete")
    // the product is sparse but FRESH: a second pass whose floor sits
    // 24 h in the past still retains the delete (the clean-time window
    // has not elapsed) and stays byte-stable — a tombstone re-frames as
    // a tombstone, not as an empty value
    val dayAgo = System.currentTimeMillis() - 86400000L
    val young = new org.apache.hadoop.fs.Path(dir, ".out-young")
    val rYoung = SegmentCodec.rewriteLatestPerKey(log.fs, Seq((keep, 0L)),
      young, tombstoneFloorMs = dayAgo)
    assert(rYoung.rows == 3L, s"young product keeps the delete, got $rYoung")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(nio(keep)),
      java.nio.file.Files.readAllBytes(nio(young))))
    // backdate the product past the horizon (2 days): the delete has now
    // been observable in a compacted product for a full window — the key
    // drops entirely
    log.fs.setTimes(keep, System.currentTimeMillis() - 2 * 86400000L, -1)
    val drop = new org.apache.hadoop.fs.Path(dir, ".out-drop")
    val rDrop = SegmentCodec.rewriteLatestPerKey(log.fs, Seq((keep, 0L)),
      drop, tombstoneFloorMs = dayAgo)
    assert(rDrop.rows == 2L, s"aged tombstone drops its key, got $rDrop")
    val dit = SegmentCodec.read(log.fs, drop)
    val ids = Iterator.continually(dit.next()._1).take(2).toSeq
    dit.close()
    assert(ids == Seq(1, 3))
    // spill path parity under tombstone aging (budget floor is 8)
    val spill = new org.apache.hadoop.fs.Path(dir, ".out-spill")
    SegmentCodec.rewriteLatestPerKey(log.fs, Seq((keep, 0L)), spill,
      maxKeys = 8, tombstoneFloorMs = dayAgo)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(nio(drop)),
      java.nio.file.Files.readAllBytes(nio(spill))))
  }

  test("zstd-dict: small-record ratio win, round-trip, skip walk, mixed concat, loud corruption") {
    import graft.log.Codecs
    val dir = Files.createTempDirectory("graftdict")
    // 2000 small JSON-ish records sharing structure — the shape per-frame
    // zstd can't touch (most are under MinCompressBytes=64 and each
    // compresses in isolation)
    val rows = (0 until 2000).map { i =>
      (Payload(i, s"""{"user":"u$i","event":"click","page":"/home","n":$i}"""
        .getBytes("UTF-8")), 1000L + i)
    }
    def writeAs(codec: Int, name: String): java.nio.file.Path = {
      val p = dir.resolve(name)
      SegmentCodec.writeFrames(Files.newOutputStream(p), rows, codec)
      p
    }
    val plain = writeAs(Codecs.Zstd, "plain")
    val dicted = writeAs(Codecs.ZstdDict, "dict")
    val rawLen = rows.map(_._1.data.length + 16).sum
    assert(Files.size(dicted) * 10 < rawLen.toLong * 8,
      s"dict must cut >=20% vs raw: ${Files.size(dicted)} vs $rawLen")
    assert(Files.size(dicted) < Files.size(plain),
      s"dict must beat plain zstd on small records: " +
        s"${Files.size(dicted)} vs ${Files.size(plain)}")
    // exact round-trip, dict frames invisible to record iteration
    val it = SegmentCodec.read(dicted)
    val got = Iterator.continually(it.next()).takeWhile(_ => true)
      .take(2000).map { case (id, ts, d) => (id, ts, new String(d, "UTF-8")) }.toSeq
    assert(!it.hasNext); it.close()
    assert(got == rows.map { case (p, ts) => (p.id, ts, new String(p.data, "UTF-8")) })
    // header-only walk skips dict and payload bytes alike
    val hit = new SegmentCodec.FrameIterator(Files.newInputStream(dicted), skipData = true)
    var n = 0
    while (hit.hasNext) { hit.next(); n += 1 }
    hit.close()
    assert(n == 2000, s"skip walk must count records only, got $n")
    // sub-threshold file: too few records to train — plain zstd fallback
    val tiny = dir.resolve("tiny")
    SegmentCodec.writeFrames(Files.newOutputStream(tiny), rows.take(5), Codecs.ZstdDict)
    val tit = SegmentCodec.read(tiny)
    assert(Iterator.continually(tit.next()).take(5).map(_._1).toSeq == (0 until 5))
    tit.close()
    // byte-concat of dict + v1-raw + dict files reads seamlessly in order
    val other = dir.resolve("other")
    SegmentCodec.writeFrames(Files.newOutputStream(other),
      rows.take(10).map { case (p, ts) => (Payload(p.id + 1000, p.data), ts) },
      Codecs.None)
    val cat = dir.resolve("cat")
    Files.write(cat, Files.readAllBytes(dicted) ++ Files.readAllBytes(other)
      ++ Files.readAllBytes(dicted))
    val cit = SegmentCodec.read(cat)
    val ids = Iterator.continually(cit.next()).take(4010).map(_._1).toSeq
    assert(!cit.hasNext); cit.close()
    assert(ids == (0 until 2000) ++ (1000 until 1010) ++ (0 until 2000))
    // corruption loudness: a dict-compressed frame with NO preceding dict
    val bytes = Files.readAllBytes(dicted)
    // find the dict frame length to cut it out: first frame is the dict
    val dl = -java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt()
    val headless = bytes.drop(4 + dl)
    val bad = dir.resolve("bad")
    Files.write(bad, headless)
    val bit = SegmentCodec.read(bad)
    val e = intercept[java.io.IOException] {
      while (bit.hasNext) bit.next()
    }
    bit.close()
    assert(e.getMessage.contains("before any dict frame"), e.getMessage)
    // a dangling trailing dict frame (torn write) is loud, not silent
    val dang = dir.resolve("dang")
    Files.write(dang, bytes ++ bytes.take(4 + dl))
    val dit = SegmentCodec.read(dang)
    val e2 = intercept[java.io.IOException] { while (dit.hasNext) dit.next() }
    dit.close()
    assert(e2.getMessage.contains("dangling dict frame"), e2.getMessage)
  }

  test("deflate decompress is loud on trailing bytes past the stream end") {
    import graft.log.Codecs
    val raw = ("the quick brown fox " * 20).getBytes("UTF-8")
    val comp = Codecs.compress(Codecs.Deflate, raw)
    // the honest stream round-trips
    assert(Codecs.decompress(Codecs.Deflate, comp, raw.length).sameElements(raw))
    // a torn/overwritten frame body whose prefix still inflates to rawLen
    // must take the loud-corruption path, not a silent accept
    val torn = comp ++ Array[Byte](1, 2, 3, 4)
    val e = intercept[java.io.IOException] {
      Codecs.decompress(Codecs.Deflate, torn, raw.length)
    }
    assert(e.getMessage.contains("torn or overwritten"))
  }

  test("record headers (KIP-82): round-trip per codec, tombstone headers, skip walk, keyed rewrite, loud corruption") {
    import graft.log.Codecs
    val dir = Files.createTempDirectory("hdrs")
    def hs(kvs: (String, Array[Byte])*): Array[(String, Array[Byte])] =
      kvs.toArray
    def hview(h: Array[(String, Array[Byte])]): Seq[(String, Option[String])] =
      if (h == null) null
      else h.toSeq.map { case (k, v) =>
        (k, Option(v).map(new String(_, "UTF-8"))) }
    val big = ("lorem ipsum dolor sit amet " * 40).getBytes("UTF-8")
    for (codec <- Seq(Codecs.None, Codecs.Zstd, Codecs.ZstdDict)) {
      val f = dir.resolve(s"h$codec")
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(Files.newOutputStream(f)))
      val fw = new SegmentCodec.FrameWriter(out, codec, trainRecords = 3)
      // duplicate keys + a null value + non-ASCII: all legal, order kept
      fw.write(1, 1000L, big, headers =
        hs("trace" -> "t-1".getBytes("UTF-8"), "trace" -> "t-2".getBytes("UTF-8"),
          "schéma" -> null))
      fw.write(2, 2000L, big) // no headers: flag unset, zero wire cost
      fw.write(3, 3000L, null, headers = hs("why" -> "gdpr".getBytes("UTF-8"))) // tombstone + headers
      fw.write(4, 4000L, big, headers = Array.empty) // empty normalizes to none
      fw.write(5, 5000L, "tiny".getBytes("UTF-8"), offset = 41L,
        headers = hs("k" -> "v".getBytes("UTF-8"))) // explicit offset + headers
      fw.finish(); out.close()

      val it = SegmentCodec.read(f)
      try {
        val r1 = it.next()
        assert(r1._1 == 1 && java.util.Arrays.equals(r1._3, big))
        assert(hview(it.headers) == Seq(("trace", Some("t-1")),
          ("trace", Some("t-2")), ("schéma", None)), s"codec $codec r1")
        val r2 = it.next()
        assert(r2._1 == 2 && it.headers == null, s"codec $codec r2")
        val r3 = it.next()
        assert(r3._1 == 3 && r3._3 == null && it.tombstone)
        assert(hview(it.headers) == Seq(("why", Some("gdpr"))),
          s"codec $codec tombstone headers")
        val r4 = it.next()
        assert(r4._1 == 4 && it.headers == null, s"codec $codec empty→none")
        val r5 = it.next()
        assert(r5._1 == 5 && it.explicitOffset == 41L &&
          hview(it.headers) == Seq(("k", Some("v"))), s"codec $codec r5")
        assert(!it.hasNext)
      } finally it.close()

      // metadata walk (readHeaders default): header blocks SKIPPED, not
      // parsed — ids/ts exact, zero header allocation
      val mit = new SegmentCodec.FrameIterator(Files.newInputStream(f),
        skipData = true, parseHeaders = false)
      try {
        val meta = mit.toList
        assert(meta.map(_._1) == Seq(1, 2, 3, 4, 5), s"codec $codec meta ids")
        assert(mit.headers == null)
      } finally mit.close()

      // headers-projected, payload-pruned walk: headers parse, payloads seek
      val hit = new SegmentCodec.FrameIterator(Files.newInputStream(f),
        skipData = true, parseHeaders = true)
      try {
        val h1 = hit.next()
        assert(h1._3.isEmpty && hview(hit.headers).size == 3,
          s"codec $codec pruned+headers")
      } finally hit.close()
    }

    // sameFrames is headers-sensitive: same (id, data), different headers
    // must compare UNEQUAL (a replayed epoch must not lose its headers)
    val a = dir.resolve("same-a"); val b = dir.resolve("same-b"); val c = dir.resolve("same-c")
    for ((f, tag) <- Seq((a, "x"), (b, "x"), (c, "y"))) {
      val o = new java.io.DataOutputStream(Files.newOutputStream(f))
      SegmentCodec.writeFrame(o, 1, 1L, "d".getBytes("UTF-8"),
        headers = hs("h" -> tag.getBytes("UTF-8")))
      o.close()
    }
    assert(SegmentCodec.sameFrames(a, b))
    assert(!SegmentCodec.sameFrames(a, c))

    // keyed rewrite keeps the retained record's headers (and only the
    // retained one's) — across the dict re-train path too
    val log = fileLog()
    log.createTopic("h", 1)
    val tbh = TopicBucket("h", "b0000")
    val bdir = log.bucketDir(tbh)
    val member = new org.apache.hadoop.fs.Path(bdir, SegmentCodec.dataName(0L, 4L))
    val mo = new java.io.DataOutputStream(log.fs.create(member, true))
    SegmentCodec.writeFrame(mo, 7, 1L, "old".getBytes("UTF-8"),
      headers = hs("v" -> "old".getBytes("UTF-8")))
    SegmentCodec.writeFrame(mo, 8, 2L, "only".getBytes("UTF-8"))
    SegmentCodec.writeFrame(mo, 7, 3L, "new".getBytes("UTF-8"),
      headers = hs("v" -> "new".getBytes("UTF-8"), "n" -> null))
    SegmentCodec.writeFrame(mo, 9, 4L, "last".getBytes("UTF-8"),
      headers = hs("z" -> "9".getBytes("UTF-8")))
    mo.close()
    val outp = new org.apache.hadoop.fs.Path(bdir, ".out-h")
    val r = SegmentCodec.rewriteLatestPerKey(log.fs, Seq((member, 0L)), outp,
      Codecs.Zstd)
    assert(r.rows == 3)
    val rit = SegmentCodec.read(log.fs, outp)
    try {
      val got = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Seq[(String, Option[String])])]
      while (rit.hasNext) {
        val (id, _, d) = rit.next()
        got += ((id, new String(d, "UTF-8"), Option(hview(rit.headers)).getOrElse(Seq.empty)))
      }
      assert(got.toSeq == Seq(
        (8, "only", Seq.empty),
        (7, "new", Seq(("v", Some("new")), ("n", None))),
        (9, "last", Seq(("z", Some("9"))))))
    } finally rit.close()

    // corruption is loud: a header block length past the frame bound, and
    // a header count that can't fit the block
    val badLen = dir.resolve("bad-len")
    val d1 = new java.io.DataOutputStream(Files.newOutputStream(badLen))
    d1.writeInt(-(1 + 12 + 4)); d1.writeByte(0x40); d1.writeInt(1)
    d1.writeLong(0L); d1.writeInt(999) // blockLen 999 > frame
    d1.close()
    val bit = SegmentCodec.read(badLen)
    val e1 = intercept[java.io.IOException] { bit.next() }
    assert(e1.getMessage.contains("header block length"), e1.getMessage)
    bit.close()
    val badCount = dir.resolve("bad-count")
    val d2 = new java.io.DataOutputStream(Files.newOutputStream(badCount))
    d2.writeInt(-(1 + 12 + 4 + 8)); d2.writeByte(0x40); d2.writeInt(1)
    d2.writeLong(0L); d2.writeInt(8); d2.writeInt(7) // count 7 in an 8-byte block
    d2.close()
    val cit = SegmentCodec.read(badCount)
    val e2 = intercept[java.io.IOException] { cit.next() }
    assert(e2.getMessage.contains("header count"), e2.getMessage)
    cit.close()
  }

  test("LogFs.putIfAbsent: racers on one path, exactly one wins, readers never see partial bytes (file, hdfstest, ostest)") {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.hdfstest.impl", classOf[StrictHdfsTestFs].getName)
    conf.set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    conf.set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    val racers = 6
    val size = 1 << 16
    def raceRounds(fs: org.apache.hadoop.fs.FileSystem, dir: HPath, label: String): Unit = {
      (0 until 15).foreach { round =>
        val p = new HPath(dir, s"c-$round")
        val barrier = new java.util.concurrent.CyclicBarrier(racers + 1)
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val winner = new java.util.concurrent.atomic.AtomicInteger(-1)
        val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val threads = (0 until racers).map { t =>
          new Thread(() => {
            barrier.await()
            try if (graft.log.LogFs.putIfAbsent(fs, p, Array.fill(size)(t.toByte))) {
              wins.incrementAndGet(); winner.set(t)
            } catch { case e: Throwable => bad.add(s"racer $t: $e") }
          })
        }
        // a concurrent reader: any visible file is whole and one writer's
        val reader = new Thread(() => {
          barrier.await()
          while (!done.get) {
            try {
              val in = fs.open(p)
              val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
              if (bytes.length != size || bytes.distinct.length != 1)
                bad.add(s"reader saw ${bytes.length} bytes, ${bytes.distinct.length} distinct")
            } catch { case _: java.io.FileNotFoundException => () }
          }
        })
        (threads :+ reader).foreach(_.start())
        threads.foreach(_.join()); done.set(true); reader.join()
        assert(bad.isEmpty, s"$label round $round: ${bad.toArray.mkString("; ")}")
        assert(wins.get == 1, s"$label round $round: ${wins.get} winners")
        val in = fs.open(p)
        val fin = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        assert(fin.toSeq == Seq.fill(size)(winner.get.toByte), s"$label: winner's bytes")
      }
      assert(!fs.listStatus(dir).exists(_.getPath.getName.startsWith(".")),
        s"$label: no temp or claim files left behind")
    }
    for ((scheme, atomicRename) <- Seq("file" -> true, "hdfstest" -> true, "ostest" -> false)) {
      val dir = new HPath(s"$scheme:" + Files.createTempDirectory("pia"))
      val fs = graft.log.LogFs.get(dir, conf)
      assert(graft.log.LogFs.atomicRename(fs) == atomicRename, scheme)
      raceRounds(fs, dir, scheme)
    }
    // a local mount without hard links (FAT/exFAT, some network mounts)
    // raises EPERM-shaped FileSystemExceptions: the claim-file fallback
    // must keep exactly one winner among the same racing threads
    val dir = new HPath("file:" + Files.createTempDirectory("pia-linkless"))
    val fs = graft.log.LogFs.get(dir, conf)
    val seam = graft.log.LogFs.createLink
    graft.log.LogFs.createLink = (link, existing) =>
      throw new java.nio.file.FileSystemException(link.toString, existing.toString,
        "Operation not permitted")
    try {
      raceRounds(fs, dir, "file without hard links")
      val p = new HPath(dir, "pointer")
      assert(graft.log.LogFs.putIfAbsent(fs, p, "first".getBytes("UTF-8")))
      assert(!graft.log.LogFs.putIfAbsent(fs, p, "second".getBytes("UTF-8")))
      assert(new String(Files.readAllBytes(nio(fs.makeQualified(p))), "UTF-8") == "first")
      // a claim its crashed claimant left behind is stolen once stale
      val q = new HPath(dir, "orphaned")
      val claim = nio(fs.makeQualified(new HPath(dir, ".claim-orphaned")))
      Files.createFile(claim)
      Files.setLastModifiedTime(claim, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L))
      assert(graft.log.LogFs.putIfAbsent(fs, q, "late".getBytes("UTF-8")))
      assert(new String(Files.readAllBytes(nio(fs.makeQualified(q))), "UTF-8") == "late")
      assert(!fs.listStatus(dir).exists(_.getPath.getName.startsWith(".")))
    } finally graft.log.LogFs.createLink = seam
  }

  test("commit-log read cache: a planner looping segments()/offsetForTimestamp beside 300 appends sees dense offsets") {
    val log = fileLog()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planner = new Thread(() => while (!stop.get) {
      try {
        val segs = log.segments(tb) // throws on an overlap
        segs.sliding(2).foreach {
          case Seq(a, b) if a._2 + a._3 != b._2 =>
            errors.add(s"not dense: [${a._2},+${a._3}) then ${b._2}")
          case _ =>
        }
        log.offsetForTimestamp(tb, System.currentTimeMillis() - 5L)
      } catch { case e: Throwable => errors.add(e.toString) }
    })
    planner.start()
    val counts = (0 until 300).map(i => 1 + i % 3)
    try counts.foreach(n => log.append(tb, payloads(n)))
    finally { stop.set(true); planner.join() }
    assert(errors.isEmpty, errors.toArray.take(5).mkString("; "))
    val all = log.range(tb, 0, Long.MaxValue)
    assert(all.size == counts.sum)
    assert(all.map(_.offset) == (0L until counts.sum.toLong), "offsets dense")
    assert(log.segments(tb).size == 300)
  }

  test("commit-log read cache: another instance committing past two checkpoint intervals + GC is fully seen") {
    val dir = Files.createTempDirectory("graftgc").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = new FileTopicLog(dir, conf, 4)
    val writer = new FileTopicLog(dir, conf, 4) // stands in for another driver
    (0 until 3).foreach(i => reader.append(tb, payloads(1, i.toByte)))
    assert(reader.size(tb) == 3) // warm: reader caches version 2
    val commitDir = new org.apache.hadoop.fs.Path(reader.bucketDir(tb), ".commitlog")
    def versionFiles() = reader.fs.listStatus(commitDir).map(_.getPath.getName).toSet
    assert(versionFiles().contains(f"c-${2L}%020d"))
    (3 until 20).foreach(i => writer.append(tb, payloads(1, i.toByte)))
    assert(!versionFiles().contains(f"c-${2L}%020d") &&
      !versionFiles().contains(f"c-${3L}%020d"),
      s"GC removed the reader's cached version and its successor: ${versionFiles()}")
    assert(reader.size(tb) == 20, "every commit of the other instance is seen")
    assert(reader.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.data(0))) ==
      (0 until 20).map(i => (i.toLong, i.toByte)))
    // and the reader's own next append lands after them, not on a GC'd slot
    assert(reader.append(tb, payloads(1, 20.toByte)) == 20L)
    assert(writer.size(tb) == 21 && writer.segments(tb).size == 21)
  }

  test("commit-log read cache: a GC that passes a reader mid read-ahead sends it to a full read") {
    import graft.log.CommitLog
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = new HPath("file:" + Files.createTempDirectory("graftra"), ".commitlog")
    val writer = new CommitLog(graft.log.LogFs.get(dir, conf), dir, 2)
    // the reader's filesystem runs `hook` once, right after its next open
    val hook = new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
    val hooked = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def open(f: HPath, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
        val in = super.open(f, bufferSize)
        hook.getAndSet(() => ())()
        in
      }
    }
    hooked.initialize(java.net.URI.create("file:///"), conf)
    val reader = new CommitLog(hooked, dir, 2)
    def commit(i: Int): Unit = {
      val st = writer.read()
      assert(writer.tryCommit(st, Seq(SegFacts.meta(s"d$i", i, 1)), Set.empty).isDefined)
    }
    (0 until 3).foreach(commit)
    assert(reader.read().version == 2) // warm at version 2
    commit(3); commit(4) // the next read reads ahead from c-3
    // while the reader holds c-3 open, the writer commits past GC floors
    // that remove c-3 and c-4: c-4 is then absent but was committed, so
    // the reader must not settle on version 3
    hook.set(() => (5 until 12).foreach(commit))
    val st = reader.read()
    val names = hooked.listStatus(dir).map(_.getPath.getName).toSet
    assert(!names.contains(f"c-${3L}%020d") && !names.contains(f"c-${4L}%020d"),
      s"GC removed the versions behind the reader: $names")
    assert(st.version == 11 && st.segs.map(_.name) == (0 until 12).map(i => s"d$i"),
      s"reader saw version ${st.version}")
  }

  test("a bucket in the retired rename layout (seg-*.log, no .commitlog/) is refused loudly") {
    val log = fileLog()
    val dir = log.bucketDir(tb)
    log.fs.mkdirs(dir)
    SegmentCodec.write(log.fs,
      new org.apache.hadoop.fs.Path(dir, "seg-00000000000000000000-0000000003.log"),
      payloads(3).map(p => (p, 0L)))
    for (op <- Seq[() => Any](() => log.segments(tb), () => log.size(tb),
        () => log.range(tb, 0, 10), () => log.append(tb, payloads(1)))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("rename-published layout"), e.getMessage)
    }
    // an empty bucket still reads as empty
    assert(log.size(TopicBucket("t", "b1")) == 0L)
  }

  test("file: log instance writes Hadoop's default modes without a chmod process; the sticky bit keeps Hadoop's path") {
    import org.apache.hadoop.fs.permission.FsPermission
    def mode(f: java.io.File): Int =
      Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Integer].intValue & 0xfff
    // the log's own instance, through a real append: bucket directories
    // and segment files
    val log = fileLog()
    assert(log.fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    val tb = log.createTopic("perm", 1).head
    log.append(tb, Seq(Payload(1, Array[Byte](1))))
    val conf = log.fs.getConf
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val bucket = nio(log.bucketDir(tb)).toFile
    val segs = bucket.listFiles().filter(_.getName.startsWith("data-"))
    assert(segs.nonEmpty)
    segs.foreach(f => assert(mode(f) == fileMode, f"${f.getName} ${mode(f)}%o"))
    assert(mode(bucket) == dirMode, f"${mode(bucket)}%o")
    // a fresh instance under a stricter umask applies it exactly as
    // Hadoop's FsPermission arithmetic does
    val strict = new org.apache.hadoop.conf.Configuration(conf)
    strict.set(FsPermission.UMASK_LABEL, "027")
    val fs = new org.apache.hadoop.fs.LocalFileSystem(new graft.log.SpawnFreeLocalFs)
    fs.initialize(java.net.URI.create("file:///"), strict)
    val dir = Files.createTempDirectory("graftperm").resolve("a/b").toFile
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(dir.toURI)))
    val file = new java.io.File(dir, "f")
    fs.create(new org.apache.hadoop.fs.Path(file.toURI), true).close()
    val u027 = new FsPermission("027")
    assert(mode(dir) == FsPermission.getDirDefault.applyUMask(u027).toShort.toInt,
      f"${mode(dir)}%o")
    assert(mode(dir.getParentFile) == FsPermission.getDirDefault.applyUMask(u027).toShort.toInt)
    assert(mode(file) == FsPermission.getFileDefault.applyUMask(u027).toShort.toInt,
      f"${mode(file)}%o")
    // a mode PosixFilePermission cannot express falls back to Hadoop
    fs.setPermission(new org.apache.hadoop.fs.Path(dir.toURI), new FsPermission(0x3ff.toShort))
    assert(mode(dir) == 0x3ff, f"sticky bit expected, got ${mode(dir)}%o")
    fs.setPermission(new org.apache.hadoop.fs.Path(dir.toURI), new FsPermission(0x1c0.toShort))
    assert(mode(dir) == 0x1c0, f"${mode(dir)}%o")
    fs.close()
  }
}
