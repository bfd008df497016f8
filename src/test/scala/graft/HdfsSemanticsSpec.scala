package graft

import graft.api.Ripple
import graft.log.FileTopicLog
import graft.model.{Payload, TopicBucket}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Test filesystem with HDFS rename semantics: local disk underneath, but
  * a file `rename` REFUSES an existing target atomically (HDFS's namenode
  * behavior; POSIX rename would replace) and the scheme is non-`file`, so
  * every NON-LOCAL branch of the storage plane runs for real —
  * `createLockExclusive`'s `fs.create(lock, false)` arm,
  * `LogFs.putIfAbsent`'s temp + rename arm, and `renameOverwrite`'s
  * delete+retry window (which the `file:` scheme never enters because
  * POSIX rename replaces in one step).
  *
  * This substitutes for the MiniDFSCluster suite the round-9 verdict asked
  * for: `hadoop-minicluster` cannot resolve in this build (offline coursier
  * cache carries only scalatest/scalacheck; /opt/spark/jars has only the
  * shaded hadoop-client), so the strict-rename semantics are enforced here
  * instead of by a namenode. A file rename is a hard link + unlink of the
  * source, so the refusal is atomic among threads of one host, as the
  * namenode's is; create(overwrite = false) stays RawLocal's
  * check-then-act, the one HDFS property this rig does not reproduce.
  */
class StrictHdfsTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "hdfstest"
  override def getUri: java.net.URI = java.net.URI.create("hdfstest:///")
  override def rename(src: HPath, dst: HPath): Boolean = {
    val s = pathToFile(src).toPath
    val d = pathToFile(dst).toPath
    if (!java.nio.file.Files.isRegularFile(s)) {
      if (exists(dst)) false else super.rename(src, dst)
    } else {
      try {
        java.nio.file.Files.createLink(d, s) // HDFS refuses an existing target
        java.nio.file.Files.delete(s)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException => false
      }
    }
  }
}

class HdfsSemanticsSpec extends AnyFunSuite {

  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.hdfstest.impl", classOf[StrictHdfsTestFs].getName)
    c
  }
  private def tmp(): String = Files.createTempDirectory("hdfssem").toString
  private def newLog(): FileTopicLog = new FileTopicLog("hdfstest:" + tmp(), conf())
  private def payloads(n: Int, tag: Byte = 0): Seq[Payload] =
    (0 until n).map(i => Payload(i, Array(tag, i.toByte)))
  private val tb = TopicBucket("t", "b0")

  test("append/range/idempotent-retry over strict-rename FS (non-local publish path)") {
    val log = newLog()
    assert(!log.fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    log.append(tb, payloads(5, 1))
    log.append(tb, payloads(4, 2))
    val all = log.range(tb, 0, Long.MaxValue)
    assert(all.map(_.offset) == (0L until 9L), "dense offsets over strict FS")
    assert(all.map(r => r.data(0)) == Seq[Byte](1, 1, 1, 1, 1, 2, 2, 2, 2))
    // idempotent positional retry: the second publish of the same range
    // finds the committed twin and is a no-op
    val now = System.currentTimeMillis()
    log.appendAt(tb, 9L, payloads(3, 3).map(p => (p, now)))
    log.appendAt(tb, 9L, payloads(3, 3).map(p => (p, now)))
    assert(log.size(tb) == 12)
  }

  test("CommitLog put-if-absent refusal classifies through the typed branch (hdfstest)") {
    val log = newLog()
    val dir = new HPath(log.bucketDir(tb), ".commitlog")
    val cl = new graft.log.CommitLog(log.fs, dir, 64)
    val st = cl.read()
    assert(cl.tryCommit(st, Seq(SegFacts.meta("data-a", 0L, 2L)), Set.empty).isDefined)
    // a second writer at the same stale version: the temp + rename arm's
    // rename refuses the existing version file
    assert(cl.tryCommit(st, Seq(SegFacts.meta("data-b", 0L, 2L)), Set.empty).isEmpty)
    assert(cl.read().segs.map(_.name) == Vector("data-a"))
  }

  test("putIfAbsent refuses an existing segment via the rename-refusal arm") {
    val log = newLog()
    val now = System.currentTimeMillis()
    log.appendAt(tb, 0L, payloads(3, 1).map(p => (p, now)))
    assert(graft.log.LogFs.atomicRename(log.fs), "hdfstest takes the rename arm")
    val target = log.segments(tb).head._1
    val before = log.range(tb, 0, 3).map(_.data(0))
    assert(!graft.log.LogFs.putIfAbsent(log.fs, target, Array[Byte](9, 9, 9)),
      "strict rename must refuse the existing segment")
    assert(log.range(tb, 0, 3).map(_.data(0)) == before,
      "committed segment untouched after the refusal")
    assert(!log.fs.listStatus(log.bucketDir(tb)).exists(_.getPath.getName.startsWith(".tmp-")),
      "the refused temp file is removed")
  }

  test("non-local create-exclusive lock arm + concurrent appenders stay dense") {
    val log = newLog()
    // the fs.create(lock, false) branch refuses a second holder
    val lock = new HPath(log.bucketDir(tb), ".lock")
    log.fs.mkdirs(log.bucketDir(tb))
    val out = log.fs.create(lock, false)
    out.write("holder".getBytes("UTF-8")); out.close()
    intercept[java.io.IOException] { log.fs.create(lock, false) }
    log.fs.delete(lock, false)
    // Two concurrent appenders, no lock: each commit is a temp + refusing
    // rename of the next version file, so exactly one wins each version
    // and the loser retries at the new end offset. The contract: every
    // append either LANDS or fails LOUDLY — never a silent row loss — and
    // the landed log stays dense (the silent-loss case is rows missing
    // with NOTHING thrown, which the count below catches exactly).
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val caught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => (0 until 5).foreach { _ =>
        try log.append(tb, payloads(3, t.toByte))
        catch { case e: Exception => caught.add(e); errors.incrementAndGet() }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = log.range(tb, 0, Long.MaxValue)
    assert(all.size + 3 * errors.get == 30,
      s"every append must land or fail loudly: ${all.size} rows + " +
        s"${errors.get} loud refusals; caught=" +
        caught.toArray(Array.empty[Throwable]).toSeq
          .map(e => e.getClass.getSimpleName + ": " + e.getMessage).mkString(" || "))
    assert(all.map(_.offset) == (0L until all.size.toLong),
      "landed offsets stay dense over strict FS")
  }

  test("topic-config rewrite exercises the delete+retry rename window; seek, retention + floor work") {
    import graft.connector.TopicConfig
    val log = newLog()
    val now = System.currentTimeMillis()
    log.createTopic("t", 1)
    TopicConfig.write(log, "t", TopicConfig(retentionMs = Some(60000L)))
    // the document exists now: strict rename refuses to replace it, so the
    // rewrite must take renameOverwrite's delete+retry arm
    TopicConfig.write(log, "t", TopicConfig(retentionMs = Some(120000L),
      compression = Some("lz4")))
    val cfg = TopicConfig.read(log, "t")
    assert(cfg.retentionMs.contains(120000L) && cfg.compression.contains("lz4"), cfg.toString)
    assert(!log.fs.listStatus(new HPath(log.root, "t"))
      .exists(_.getPath.getName.startsWith(".tmp-")), "no temp file left behind")
    log.appendAt(tb, 0L, payloads(5, 1).map(p => (p, now)))
    log.appendAt(tb, 5L, payloads(5, 2).map(p => (p, now + 1)))
    log.appendAt(tb, 10L, payloads(5, 3).map(p => (p, now + 2)))
    assert(log.offsetForTimestamp(tb, now + 1) == 5L)
    assert(log.segments(TopicBucket("t", "b0")).map(_._2) == Seq(0L, 5L, 10L))
    assert(log.truncateBefore("t", 5L) == 1)
    assert(log.firstOffset(tb) == 5L)
    assert(log.size(tb) == 15L)
    assert(log.range(tb, 0, Long.MaxValue).map(_.offset) == (5L until 15L))
  }

  test("connector round-trip over the hdfstest scheme") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-hdfs-sem")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.hadoopConfiguration
      .set("fs.hdfstest.impl", classOf[StrictHdfsTestFs].getName)
    import spark.implicits._
    val root = "hdfstest:" + tmp()
    Ripple.createTopic(root, "hs", numBuckets = 2)
    val df = (0 until 40).map(i => (i, s"m$i".getBytes("UTF-8"))).toDF("id", "data")
    Ripple.write(df, root, "hs", numBuckets = 2)
    val back = Ripple.read(spark, root, "hs")
    assert(back.count() == 40)
    assert(back.agg(org.apache.spark.sql.functions.sum("id"))
      .collect().head.getLong(0) == (0 until 40).sum.toLong)
    // a second write re-runs the whole publish protocol (staging, intent,
    // stage move, commit) over strict rename semantics
    Ripple.write(df, root, "hs", numBuckets = 2)
    assert(Ripple.read(spark, root, "hs").count() == 80)
    assert(Ripple.endOffsets(root, "hs").values.sum == 80L)
  }

  test("compressed connector round-trip over strict-rename semantics") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-hdfs-sem")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.hadoopConfiguration
      .set("fs.hdfstest.impl", classOf[StrictHdfsTestFs].getName)
    import spark.implicits._
    val root = "hdfstest:" + tmp()
    Ripple.createTopic(root, "hz", numBuckets = 2)
    Ripple.setTopicConfig(root, "hz",
      graft.connector.TopicConfig(compression = Some("lz4")))
    val text = (i: Int) => (s"m$i: " + ("abcdefgh " * 20)).getBytes("UTF-8")
    val df = (0 until 40).map(i => (i, text(i))).toDF("id", "data")
    Ripple.write(df, root, "hz", numBuckets = 2) // zero writer options
    val back = Ripple.read(spark, root, "hz")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("data").cast("string"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back == (0 until 40).map(i => (i, new String(text(i)))).toSet)
    // the on-disk frames actually compressed under the strict-rename
    // publish protocol (staging file → stage move → commit)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val onDisk = log.buckets("hz").flatMap(log.segments)
      .map { case (p, _, _) => log.fs.getFileStatus(p).getLen }.sum
    assert(onDisk * 2 < (0 until 40).map(text(_).length + 16L).sum,
      s"lz4 must shrink repetitive text >=2x, got $onDisk")
  }
}
