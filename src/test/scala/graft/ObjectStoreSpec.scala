package graft

import graft.log.{CommitLog, FileTopicLog, SegmentCodec}
import graft.model.{Payload, TopicBucket}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The LogSpec contract suite re-run over [[ObjectStoreTestFs]] (no atomic
  * rename, PUT-visibility at close, conditional-PUT create-exclusive):
  * certifies the commit-log protocol on its conditional-PUT arm — publish,
  * replay idempotency, foreign-writer refusal, retention, checkpoint GC,
  * and optimistic concurrency all without ever relying on a rename being
  * atomic.
  */
class ObjectStoreSpec extends AnyFunSuite {

  private def conf(extra: (String, String)*): Configuration = {
    val c = new Configuration()
    c.set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    // register the rig's scheme alongside the real object stores so the
    // commit log takes the conditional-PUT arm of put-if-absent for it
    c.set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private def tmp(): String = Files.createTempDirectory("ostore").toString
  private def newLog(extra: (String, String)*): FileTopicLog =
    new FileTopicLog("ostest:" + tmp(), conf(extra: _*))
  private def payloads(n: Int, tag: Byte = 0): Seq[Payload] =
    (0 until n).map(i => Payload(i, Array(tag, i.toByte)))
  private val tb = TopicBucket("t", "b0")

  test("append/range over the store: dense offsets, data invisible until committed") {
    val log = newLog()
    log.append(tb, payloads(5, 1))
    log.append(tb, payloads(4, 2))
    val all = log.range(tb, 0, Long.MaxValue)
    assert(all.map(_.offset) == (0L until 9L))
    assert(all.map(_.data(0)) == Seq[Byte](1, 1, 1, 1, 1, 2, 2, 2, 2))
    // an uncommitted data file (crashed writer) is invisible to every view
    val orphan = new HPath(log.bucketDir(tb), "data-garbage-orphan.log")
    SegmentCodec.write(log.fs, orphan, payloads(3, 9).map(p => (p, 0L)))
    assert(log.size(tb) == 9)
    assert(log.range(tb, 0, Long.MaxValue).size == 9)
  }

  test("appendAt replay is a no-op; same offsets with different records fail loudly") {
    val log = newLog()
    val now = System.currentTimeMillis()
    log.appendAt(tb, 0L, payloads(3, 1).map(p => (p, now)))
    // replay: same range, same records (fresh timestamps) — no-op
    log.appendAt(tb, 0L, payloads(3, 1).map(p => (p, now + 999)))
    assert(log.size(tb) == 3)
    assert(log.segments(tb).size == 1, "replay must not add a segment")
    // same range, different records — the single-writer violation
    val e = intercept[IllegalStateException] {
      log.appendAt(tb, 0L, payloads(3, 7).map(p => (p, now)))
    }
    assert(e.getMessage.contains("DIFFERENT"))
    // overlapping range — loud refusal
    val e2 = intercept[IllegalStateException] {
      log.appendAt(tb, 1L, payloads(5, 7).map(p => (p, now)))
    }
    assert(e2.getMessage.contains("overlap"))
    assert(log.range(tb, 0, 3).map(_.data(0)) == Seq[Byte](1, 1, 1),
      "committed records untouched by the refused writers")
  }

  test("publishStaged: replay consumes the staged file; foreign content fails loudly") {
    val log = newLog()
    val fs = log.fs
    val now = System.currentTimeMillis()
    def stage(tag: Byte): HPath = {
      val p = new HPath(log.bucketDir(tb), s".staged-${java.util.UUID.randomUUID()}")
      SegmentCodec.write(fs, p, payloads(4, tag).map(q => (q, now)))
      p
    }
    val s1 = stage(1)
    log.publishStaged(tb, Seq(SegFacts.staged(log.fs, s1, 0L)))
    assert(!fs.exists(s1), "staged file consumed by the publish")
    assert(log.size(tb) == 4)
    // epoch replay: same offsets, same records — consumed, no new segment
    val s2 = stage(1)
    log.publishStaged(tb, Seq(SegFacts.staged(log.fs, s2, 0L)))
    assert(!fs.exists(s2))
    assert(log.segments(tb).size == 1)
    // foreign writer: same offsets, different records
    val s3 = stage(9)
    val e = intercept[IllegalStateException] { log.publishStaged(tb, Seq(SegFacts.staged(log.fs, s3, 0L))) }
    assert(e.getMessage.contains("DIFFERENT"))
    assert(log.range(tb, 0, 4).map(_.data(0)) == Seq[Byte](1, 1, 1, 1))
  }

  test("retention: offsets preserved, floor advances, newest segment survives") {
    val log = newLog()
    val now = System.currentTimeMillis()
    log.appendAt(tb, 0L, payloads(5, 1).map(p => (p, now)))
    log.appendAt(tb, 5L, payloads(5, 2).map(p => (p, now)))
    log.appendAt(tb, 10L, payloads(5, 3).map(p => (p, now)))
    assert(log.truncateBefore("t", 10L) == 2)
    assert(log.firstOffset(tb) == 10L)
    assert(log.size(tb) == 15L)
    val rest = log.range(tb, 0, Long.MaxValue)
    assert(rest.map(_.offset) == (10L until 15L), "surviving offsets absolute")
    // time-based: everything is "old", but the newest segment must survive
    assert(log.truncateOlderThan("t", 0L, now + 1000000L) == 0)
    assert(log.size(tb) == 15L)
    // deleted data files are really gone from the store
    val files = log.fs.listStatus(log.bucketDir(tb))
      .map(_.getPath.getName).filter(_.startsWith("data-"))
    assert(files.length == 1, s"expected 1 surviving data file, got ${files.toSeq}")
  }

  test("topic config round-trips over the store (whole-object PUT, no rename)") {
    val log = newLog()
    val now = System.currentTimeMillis()
    log.createTopic("t", 1)
    log.appendAt(tb, 0L, payloads(3, 1).map(p => (p, now)))
    val cfg = graft.connector.TopicConfig(retentionBytes = Some(1L << 30),
      autoCompactSegments = Some(8))
    graft.connector.TopicConfig.write(log, "t", cfg)
    assert(graft.connector.TopicConfig.read(log, "t") == cfg)
    // replace whole-document (second PUT), then clear
    graft.connector.TopicConfig.write(log, "t",
      graft.connector.TopicConfig(retentionMs = Some(1000L)))
    assert(graft.connector.TopicConfig.read(log, "t").render == "retentionMs=1000")
    graft.connector.TopicConfig.write(log, "t", graft.connector.TopicConfig())
    assert(graft.connector.TopicConfig.read(log, "t").isEmpty)
  }

  test("commit-log checkpoints bound the version directory; state survives GC") {
    val log = new FileTopicLog("ostest:" + tmp(), conf(), 4) // interval seam
    val now = System.currentTimeMillis()
    (0 until 20).foreach { i =>
      log.appendAt(tb, i.toLong, Seq((Payload(i, Array(i.toByte)), now)))
    }
    assert(log.size(tb) == 20)
    assert(log.range(tb, 0, Long.MaxValue).map(_.id) == (0 until 20))
    val versions = log.fs.listStatus(new HPath(log.bucketDir(tb), ".commitlog"))
      .map(_.getPath.getName).sorted
    // 20 commits at interval 4: GC keeps ~one interval behind the newest
    // checkpoint, so the listing stays O(interval), not O(commits)
    assert(versions.length <= 12,
      s"commit dir must stay bounded after GC, got ${versions.length}: ${versions.toSeq}")
    assert(versions.exists(_.startsWith("k-")), "checkpoints present")
    // a FRESH log instance (new reader) resolves the same state post-GC
    val log2 = new FileTopicLog("ostest:" + log.root.toUri.getPath, conf())
    assert(log2.size(tb) == 20)
  }

  test("compaction in manifest mode: one commit swaps members for merged; read ≡ identity") {
    val log = newLog()
    val now = System.currentTimeMillis()
    (0 until 8).foreach { e =>
      log.appendAt(tb, e * 2L, payloads(2, e.toByte).map(p => (p, now)))
    }
    val before = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq))
    assert(log.segments(tb).size == 8)
    assert(log.compactSegments("t") == 8)
    assert(log.segments(tb).map(s => (s._2, s._3)) == Seq((0L, 16L)))
    assert(log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id, r.data.toSeq)) == before,
      "compaction must be invisible to reads")
    assert(log.firstOffset(tb) == 0L && log.size(tb) == 16L)
    // exactly one live data file remains on the store
    val files = log.fs.listStatus(log.bucketDir(tb))
      .map(_.getPath.getName).filter(_.startsWith("data-"))
    assert(files.length == 1, s"members deleted after the commit: ${files.toSeq}")
    assert(log.compactSegments("t") == 0, "idempotent")
  }

  test("vacuum removes crash-orphaned data files, never committed ones") {
    val log = newLog()
    val now = System.currentTimeMillis()
    log.appendAt(tb, 0L, payloads(3, 1).map(p => (p, now)))
    log.appendAt(tb, 3L, payloads(3, 2).map(p => (p, now)))
    // a crashed writer's uncommitted data file (invisible, but on disk)
    val orphan = new HPath(log.bucketDir(tb), "data-00000000000000000006-0000000003-deadbeef.log")
    SegmentCodec.write(log.fs, orphan, payloads(3, 9).map(p => (p, now)))
    val before = log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id))
    // inside the grace window: kept (could be an in-flight publish)
    assert(log.vacuum("t", graceMs = 3600000L) == 0)
    assert(log.fs.exists(orphan))
    // past the grace window: swept
    assert(log.vacuum("t", graceMs = 0L, nowMillis = now + 10000) == 1)
    assert(!log.fs.exists(orphan), "orphan gone")
    assert(log.range(tb, 0, Long.MaxValue).map(r => (r.offset, r.id)) == before,
      "committed data untouched")
    assert(log.segments(tb).size == 2)
  }

  test("optimistic concurrency: two uncoordinated appenders lose no rows; contention is metadata-only") {
    val root = tmp()
    val a = new FileTopicLog("ostest:" + root, conf())
    val b = new FileTopicLog("ostest:" + root, conf())
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    ObjectStoreTestFs.dataPuts.set(0)
    val threads = Seq((a, 1), (b, 2)).map { case (l, t) =>
      new Thread(() => (0 until 10).foreach { _ =>
        try l.append(tb, payloads(3, t.toByte))
        catch { case _: Throwable => errors.incrementAndGet() }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.get == 0, "manifest-mode append retries, it must not fail")
    val all = a.range(tb, 0, Long.MaxValue)
    assert(all.size == 60, s"every row lands exactly once, got ${all.size}")
    assert(all.map(_.offset) == (0L until 60L), "offsets dense")
    assert(all.count(_.data(0) == 1) == 30 && all.count(_.data(0) == 2) == 30)
    // a lost commit race re-commits the ALREADY-written data file under the
    // fresh start (SegMeta carries offsets authoritatively; the file name's
    // embedded start is advisory) — so 20 logical appends mean exactly 20
    // segment PUTs no matter how many races were lost
    assert(ObjectStoreTestFs.dataPuts.get == 20,
      s"expected one data PUT per append, got ${ObjectStoreTestFs.dataPuts.get}")
  }

  test("CommitLog resurrection guard: a stale writer's GC'd version never silently vanishes") {
    val log = newLog()
    val fs = log.fs
    val dir = new HPath(new HPath(new HPath(log.root, "t"), "b0"), ".commitlog")
    val cl = new CommitLog(fs, dir, checkpointInterval = 4)
    // stale writer reads at version -1 …
    val stale = cl.read()
    // … then 12 commits + checkpoints land meanwhile (GC floor passes v=0)
    var st = cl.read()
    (0 until 12).foreach { i =>
      st = cl.tryCommit(st, Seq(SegFacts.meta(s"data-x$i", i.toLong, 1L)), Set.empty).get
    }
    // the stale writer now tries to commit version 0 — create-exclusive
    // would WIN (c-0 was GC'd); the guard must detect and refuse
    assert(cl.tryCommit(stale, Seq(SegFacts.meta("data-stale", 99L, 1L)), Set.empty).isEmpty,
      "resurrected version must be refused, not silently ignored by readers")
    val now = cl.read()
    assert(now.segs.size == 12 && !now.segs.exists(_.name == "data-stale"))
  }

  test("put-if-absent refusal classifies through the TYPED branch per scheme (ostest + local)") {
    // ostest: refusal surfaces at close() as FileAlreadyExistsException
    // (the conditional-PUT shape) — two writers racing one version
    val log = newLog()
    val dir = new HPath(new HPath(new HPath(log.root, "t"), "b0"), ".commitlog")
    val cl = new CommitLog(log.fs, dir, 64)
    val st = cl.read()
    assert(cl.tryCommit(st, Seq(SegFacts.meta("data-a", 0L, 2L)), Set.empty).isDefined)
    assert(cl.tryCommit(st, Seq(SegFacts.meta("data-b", 0L, 2L)), Set.empty).isEmpty,
      "stale writer refused through the typed conditional-PUT branch")
    assert(cl.read().segs.map(_.name) == Vector("data-a"))
    // local: the hard-link arm refuses through java.nio's typed class
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(conf())
    val ldir = new HPath(tmp(), ".commitlog")
    val lcl = new CommitLog(lfs, ldir, 64)
    val lst = lcl.read()
    assert(lcl.tryCommit(lst, Seq(SegFacts.meta("data-a", 0L, 2L)), Set.empty).isDefined)
    assert(lcl.tryCommit(lst, Seq(SegFacts.meta("data-b", 0L, 2L)), Set.empty).isEmpty)
    assert(lcl.read().segs.map(_.name) == Vector("data-a"))
  }

  test("untyped IOException classification: already-exists refuses, parent-missing rethrows") {
    // listed as non-atomic-rename: the classifier belongs to the
    // create(overwrite = false) arm of put-if-absent
    val fs = new UntypedFaultTestFs
    fs.initialize(java.net.URI.create("untypedfault:///"),
      conf("graft.log.nonAtomicRenameSchemes" -> "untypedfault"))
    // a fault whose message merely CONTAINS "exist" ("Parent path does not
    // exist") must surface as the storage fault it is — the old
    // contains("exist") sniff classified it as a lost race and burned the
    // caller's bounded retries into a misleading contention error
    val noDir = new HPath(tmp() + "/gone/.nomkdir")
    val cl = new CommitLog(fs, noDir, 4)
    val e = intercept[java.io.IOException] {
      cl.tryCommit(graft.log.CommitState(-1L, Vector.empty),
        Seq(SegFacts.meta("data-a", 0L, 1L)), Set.empty)
    }
    assert(e.getMessage.contains("Parent path does not exist"),
      s"storage fault must rethrow as itself, got: ${e.getMessage}")
    // an UNTYPED "already exists" with the target observably present is a
    // genuine refusal (store-specific exception shape) — classified via
    // the logged message-sniff + exists-probe last resort
    val dir = new HPath(tmp(), ".commitlog")
    val cl2 = new CommitLog(fs, dir, 4)
    val st = cl2.read()
    assert(cl2.tryCommit(st, Seq(SegFacts.meta("data-a", 0L, 1L)), Set.empty).isDefined)
    assert(cl2.tryCommit(st, Seq(SegFacts.meta("data-b", 0L, 1L)), Set.empty).isEmpty,
      "untyped already-exists with target present is a put-if-absent refusal")
    assert(cl2.read().segs.map(_.name) == Vector("data-a"))
  }

  test("the bucket lock still functions as a throttle (conditional-PUT create-exclusive)") {
    val log = newLog()
    log.fs.mkdirs(log.bucketDir(tb))
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val t1 = new Thread(() => log.withBucketLock(tb) { order.add(1); Thread.sleep(150); order.add(2) })
    t1.start(); Thread.sleep(50)
    log.withBucketLock(tb) { order.add(3) }
    t1.join()
    assert(order.toArray.toSeq == Seq(1, 2, 3), "second holder waited for release")
  }

  test("timestamp seek over the store: exact offsets, stats from the commit records, compaction-safe") {
    val log = newLog()
    def rows(tag: Byte, tss: Seq[Long], base: Int) =
      tss.zipWithIndex.map { case (t, i) =>
        (Payload(base + i, Array(tag)), t) }
    log.appendAt(tb, 0L, rows(1, Seq(10L, 20L, 30L), 0))
    log.appendAt(tb, 3L, rows(2, Seq(40L, 25L, 50L), 3))
    def seeks(): Seq[Long] =
      Seq(Long.MinValue, 25L, 31L, 45L, 51L).map(log.offsetForTimestamp(tb, _))
    val expect = Seq(0L, 2L, 3L, 5L, 6L)
    assert(seeks() == expect)
    // the stats travel in the commit records: a second reader instance
    // reads them from the log and agrees
    val log2 = new FileTopicLog("ostest:" + log.root.toUri.getPath, conf())
    assert(Seq(Long.MinValue, 25L, 31L, 45L, 51L)
      .map(log2.offsetForTimestamp(tb, _)) == expect)
    // compaction renames nothing; the merged record combines the members'
    assert(log.compactSegments("t") == 2)
    assert(log.segmentRecords(tb).map { case (_, m) => (m.minTs, m.maxTs) } == Seq((10L, 50L)))
    assert(seeks() == expect, "seek invariant under manifest-mode compaction")
  }

  test("compressed segments over the store: publish, mixed read, manifest-mode compaction, seek") {
    import graft.log.Codecs
    val log = newLog()
    val text = (i: Int) => (s"doc-$i: " + ("lorem ipsum dolor " * 20)).getBytes("UTF-8")
    val stamped = (0 until 40).map(i => (Payload(i, text(i)), 100L + i))
    // stage a zstd-compressed frame file and publish it through the
    // sequenced commit (the connector's publish path)
    val staged = new HPath(log.root, s".staged-${java.util.UUID.randomUUID()}")
    SegmentCodec.write(log.fs, staged, stamped, Codecs.Zstd)
    val compressedLen = log.fs.getFileStatus(staged).getLen
    assert(compressedLen * 3 < stamped.map(_._1.data.length + 16L).sum,
      "zstd must shrink repetitive text >=3x on this rig too")
    assert(log.publishStaged(tb, Seq(SegFacts.staged(log.fs, staged, 0L))).head.isDefined)
    // mixed bucket: a raw append lands after the compressed segment
    log.append(tb, (40 until 50).map(i => Payload(i, text(i))))
    def content() = log.range(tb, 0, 100).map(r => (r.offset, r.id, new String(r.data)))
    val before = content()
    assert(before.map(_._2) == (0 until 50))
    assert(before.forall { case (o, id, s) => o == id && s.startsWith(s"doc-$id:") })
    // compaction byte-concats mixed raw+compressed members
    assert(log.compactSegments("t") > 0)
    assert(log.segments(tb).size == 1)
    assert(content() == before, "compaction over mixed frames is invisible")
    // header-walk seek never decompresses; ts stats combined at compaction
    assert(log.offsetForTimestamp(tb, 100L + 25) == 25L)
  }

  test("keyed compaction in manifest mode: latest per key via one put-if-absent commit") {
    val log = newLog()
    // key-update stream across three committed data files
    log.append(tb, Seq(Payload(1, "a1".getBytes), Payload(2, "b1".getBytes)))
    log.append(tb, Seq(Payload(1, "a2".getBytes), Payload(3, "c1".getBytes)))
    log.append(tb, Seq(Payload(2, "b2".getBytes)))
    assert(log.compactKeyed("t") == 3, "three data files replaced")
    val segs = log.segments(tb)
    assert(segs.size == 1 && SegmentCodec.isSparse(segs.head._1.getName))
    assert(segs.head._2 == 0L && segs.head._3 == 5L, "span covers [0,5)")
    val got = log.range(tb, 0, 10).map(r => (r.offset, r.id, new String(r.data)))
    assert(got == Seq((2L, 1, "a2"), (3L, 3, "c1"), (4L, 2, "b2")))
    // end offset unchanged: the next append lands at 5
    assert(log.append(tb, Seq(Payload(9, "z".getBytes))) == 5L)
    // re-compaction merges the sparse product with the new tail
    assert(log.compactKeyed("t") == 2)
    assert(log.range(tb, 0, 10).map(r => (r.offset, r.id)) ==
      Seq((2L, 1), (3L, 3), (4L, 2), (5L, 9)))
  }

  test("zstd-dict frames over manifest mode: in-stream dict survives the put-if-absent publish and byte-concat") {
    val log = newLog()
    // small structured payloads — the dict codec's target shape
    val pay = (i: Int) =>
      s"""{"sensor":"s${i % 7}","reading":$i,"unit":"c"}""".getBytes("UTF-8")
    val stamped = (0 until 600).map(i => (Payload(i, pay(i)), 100L + i))
    val staged = new HPath(log.root, s".staged-${java.util.UUID.randomUUID()}")
    SegmentCodec.write(log.fs, staged, stamped, graft.log.Codecs.ZstdDict)
    assert(log.publishStaged(tb, Seq(SegFacts.staged(log.fs, staged, 0L))).head.isDefined)
    // raw tail after the dict segment (mixed bucket), then byte-concat:
    // the concatenated object is (dict, records...) ++ (raw records...)
    log.append(tb, (600 until 620).map(i => Payload(i, pay(i))))
    def content() = log.range(tb, 0, 1000).map(r => (r.offset, r.id, new String(r.data)))
    val before = content()
    assert(before.size == 620 &&
      before.forall { case (o, id, s) => o == id && s.contains(s"\"reading\":$id,") })
    assert(log.compactSegments("t") > 0)
    assert(log.segments(tb).size == 1)
    assert(content() == before,
      "byte-concat across the dict boundary is invisible on this rig too")
    // header-walk seek over dict frames never decodes payloads
    assert(log.offsetForTimestamp(tb, 100L + 300) == 300L)
  }
}
