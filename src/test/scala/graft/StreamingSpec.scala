package graft

import graft.api.Ripple
import graft.streaming.TopicStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Event-time streaming semantics over topic data (SURVEY Table B
  * streaming rows): windows, sessions, watermark+dedup, stream-static and
  * stream-stream joins, custom keyed state, consumer-group emulation.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graftstream").toString
  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def runToMemory(df: DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("tumbling window with watermark aggregates by event time") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    mem.addData((ts(0), 1L, 1.0), (ts(2), 1L, 2.0), (ts(7), 2L, 3.0),
      (ts(12), 1L, 4.0), (ts(30), 9L, 0.0)) // last event advances watermark past 10:15
    val events = mem.toDF().toDF("ts", "user_id", "value")
    runToMemory(
      TopicStreams.windowedCounts(events, "ts", "5 minutes", "5 minutes"),
      "win", mode = "append")
    val rows = spark.table("win").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
    assert(rows.contains(("2024-01-01 10:00:00.0", 2L)), rows.toString)
    assert(rows.contains(("2024-01-01 10:05:00.0", 1L)), rows.toString)
    assert(rows.contains(("2024-01-01 10:10:00.0", 1L)), rows.toString)
  }

  test("lifted pubsub stream decodes each payload once: one PayloadJson, no JsonToStructs") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "pj", numBuckets = 2)
    val events = (0 until 200).map { i =>
      (i, PayloadCorpus.pubsubEvent(i, i, "view", i, i % 7, 1767225600000L + i * 60000L)
        .getBytes("UTF-8"))
    }
    Ripple.write(events.toDF("id", "data"), root, "pj", numBuckets = 2)
    // no trailing no-data epoch: the last execution is the one that decoded
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val lifted = TopicStreams.lift(Ripple.readStream(s, root, "pj"), PayloadCorpus.pubsubSchema)
      .withColumn("ets", timestamp_millis(col("ts_ms")))
    val q = TopicStreams.windowedCounts(lifted, "ets", "3650 days", "1 hour")
      .writeStream.format("memory").queryName("pj_windows").outputMode("update")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      def count(p: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
        plan.flatMap(_.expressions.flatMap(_.collect { case e if p(e) => e })).size
      assert(count(_.isInstanceOf[graft.functions.PayloadJson]) == 1, plan.toString)
      assert(count(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.JsonToStructs]) == 0, plan.toString)
    } finally q.stop()
    // update mode: a window re-emitted by a later epoch carries its running totals
    val totals = s.table("pj_windows").groupBy("win_start")
      .agg(max("n").as("n"), max("total").as("total"))
      .agg(sum("n"), sum("total")).collect().head
    assert(totals.getLong(0) == 200L && totals.getLong(1) == (0 until 200).map(_ % 7).sum)
  }

  test("sliding window emits overlapping buckets") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    mem.addData((ts(1), 1L, 1.0), (ts(3), 1L, 1.0), (ts(30), 1L, 1.0))
    val events = mem.toDF().toDF("ts", "user_id", "value")
    runToMemory(
      TopicStreams.windowedCounts(events, "ts", "1 minute", "10 minutes",
        slide = Some("5 minutes")), "slide")
    val rows = spark.table("slide").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    // events at 10:01 and 10:03 fall in [09:55,10:05) and [10:00,10:10)
    assert(rows("2024-01-01 09:55:00.0") == 2L, rows.toString)
    assert(rows("2024-01-01 10:00:00.0") == 2L, rows.toString)
  }

  test("session window merges activity within gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    // user 1: bursts at 10:00-10:02 (one session), then 10:20 (new session);
    // closing event far in the future advances the watermark
    mem.addData((ts(0), 1L, 1.0), (ts(1), 1L, 1.0), (ts(2), 1L, 1.0),
      (ts(20), 1L, 1.0), (ts(59), 9L, 1.0))
    val events = mem.toDF().toDF("ts", "user_id", "value")
    runToMemory(
      TopicStreams.sessionCounts(events, "ts", "1 minute", "5 minutes",
        col("user_id")), "sess")
    val sessions = spark.table("sess").filter(col("key") === 1L).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(3))).toSet
    assert(sessions.contains(("2024-01-01 10:00:00.0", 3L)), sessions.toString)
    assert(sessions.contains(("2024-01-01 10:20:00.0", 1L)), sessions.toString)
  }

  test("dropDuplicatesWithinWatermark upgrades at-least-once to exactly-once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    mem.addData((ts(0), 100L, 1.0), (ts(0, 30), 100L, 1.0), // duplicate id
      (ts(1), 101L, 2.0))
    val events = mem.toDF().toDF("ts", "event_id", "value")
    runToMemory(
      TopicStreams.dedupById(events, Seq("event_id"), "ts", "10 minutes"),
      "dedup")
    assert(spark.table("dedup").count() == 2)
  }

  test("stream-static join enriches topic stream against a dimension") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    mem.addData((0L, 1.5), (1L, 2.5), (2L, 3.5))
    val stream = mem.toDF().toDF("nation_id", "value")
    val dim = Seq((0L, "KENYA"), (1L, "PERU")).toDF("nation_id", "n_name")
    runToMemory(TopicStreams.enrich(stream, dim, Seq("nation_id")), "enriched")
    val got = spark.table("enriched").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((0L, "KENYA"), (1L, "PERU"))) // id 2 has no dim row
  }

  test("streaming novelDocs: drops historical content, dedups in-stream, keeps novel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val historical = Seq((1L, "seen before text"), (2L, "also historical")).toDF("id", "text")
    val histFp = historical.select(
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
    val (bits, k) = graft.ops.Dedup.historicalBloom(historical, "text", 100L, 0.01)

    for ((bloomOpt, name) <- Seq(
        (None, "novel_plain"),
        (Some((bits, k)), "novel_bloom"))) {
      val mem = MemoryStream[(Timestamp, Long, String)]
      mem.addData(
        (ts(0), 10L, "Seen   BEFORE text"), // historical modulo case/spacing → dropped
        (ts(1), 11L, "fresh document one"), // novel → kept
        (ts(2), 12L, "fresh document one"), // in-stream duplicate → dropped
        (ts(3), 13L, "fresh document two")) // novel → kept
      val stream = mem.toDF().toDF("ts", "doc_id", "text")
      runToMemory(
        TopicStreams.novelDocs(stream, histFp, "text", "ts", "10 minutes", bloomOpt),
        name)
      val kept = spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 13L), s"$name kept $kept")
    }
  }

  test("streaming model-based quality filter: classifier logit matches batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the q121 classifier is a pure per-row expression, so the SAME
    // predicate curates a live stream unchanged — the batch/stream
    // unification the engine promises for scan-pass stages
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "zig zag zug"),
      (3L, "one two three four five six"), (4L, "lorem ipsum dolor sit"))
    val batch = docs.toDF("doc_id", "text")
    val expect = graft.ops.TextAnalysis.qualityClassify(batch, "doc_id", "text")
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val filtered = mem.toDF().toDF("doc_id", "text")
      .filter(graft.ops.TextAnalysis.classifierLogit(col("text")) > 0d)
    runToMemory(filtered, "stream_quality")
    val got = spark.table("stream_quality").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == expect, s"stream kept $got, batch kept $expect")
    assert(got.nonEmpty && got.size < docs.size,
      s"fixture should split: kept $got of ${docs.map(_._1).toSet}")
  }

  test("streaming near-dup vs persisted LSH index via foreachBatch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the historical corpus is indexed ONCE on disk; each micro-batch
    // probes it with the full batch API through foreachBatch — the
    // idiomatic Spark shape for per-batch index probes (band-key
    // stream-static equi-joins can't express "drop doc if ANY band
    // verifies" without a per-doc aggregate, which append mode forbids)
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen quality liquor jugs today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh-stream-idx").toString
    graft.ops.Dedup.saveMinhashIndex(hist, "doc_id", "text", dir,
      threshold = 0.5, numFiles = 2)
    val idx = graft.ops.Dedup.loadMinhashIndex(spark, dir)

    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (10L, "the quick brown fox jumps over the lazy dog"),   // near-dup of 1
      (11L, "a completely different sentence about databases and rivers"),
      (12L, "pack my box with five dozen quality liquor jugs"))// near-dup of 2
    val kept = scala.collection.mutable.Set.empty[Long]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        kept ++= graft.ops.Dedup.novelAgainstMinhashIndex(idx, batch,
            "doc_id", "text", threshold = 0.5)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(kept.toSet == Set(11L), s"kept $kept, expected only the novel doc")
  }

  test("streaming index maintenance: restart-safe append ≡ rebuild (MinHash + BM25)") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    import org.apache.spark.sql.streaming.Trigger
    def corpus(lo: Int, hi: Int): DataFrame =
      (lo until hi).map(i => (i.toLong,
        s"unique$i words alpha$i beta$i gamma$i shared tokens appear here"))
        .toDF("doc_id", "text")

    val mhDir = tmp(); val bmDir = tmp()
    graft.ops.Dedup.saveMinhashIndex(corpus(0, 10), "doc_id", "text", mhDir,
      threshold = 0.5, numFiles = 2)
    graft.ops.Retrieval.saveBm25Index(corpus(0, 10), "doc_id", "text", bmDir,
      numFiles = 2)

    // the crawl stream: a ripple topic (checkpoint-resumable source, so the
    // restart is REAL recovery, not a fresh MemoryStream)
    val root = tmp(); val ckpt = tmp()
    Ripple.createTopic(root, "crawl", numBuckets = 1)
    def produce(lo: Int, hi: Int): Unit =
      Ripple.write(corpus(lo, hi).select(col("doc_id").cast("int").as("id"),
        col("text").cast("binary").as("data")).coalesce(1), root, "crawl", 1)

    val mhSink = IndexMaintenance.minhashAppendSink(mhDir, "doc_id", "text",
      numFiles = 2)
    val bmSink = IndexMaintenance.bm25AppendSink(bmDir, "doc_id", "text",
      numFiles = 2)
    def drain(): Unit = {
      val q = Ripple.readStream(spark, root, "crawl", maxOffsetsPerTrigger = 4)
        .select(col("id").cast("long").as("doc_id"),
          col("data").cast("string").as("text"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, e: Long) => mhSink(b, e); bmSink(b, e); () }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain did not finish")
    }
    produce(10, 20); drain()          // multi-epoch (rate cap 4): epochs 0..
    produce(20, 25); drain()          // RESTART from the same checkpoint

    def mhRows(dir: String) = {
      val i = graft.ops.Dedup.loadMinhashIndex(spark, dir)
      (i.bands.select("id", "band", "bandHash").collect()
         .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq,
       i.shingles.select("id", "sh").collect()
         .map(r => (r.getLong(0), r.getSeq[Long](1).mkString(","))).sorted.toSeq)
    }
    def bmRows(dir: String) = {
      val i = graft.ops.Retrieval.loadBm25Index(spark, dir)
      // name-ordered projection: the delete path's clustered rewrite may
      // lay columns out in a different physical order (reads are by name)
      val cols = i.postings.columns.sorted.map(col).toIndexedSeq
      (i.nDocs, i.avgdl,
       i.postings.select(cols: _*).collect()
         .map(_.toSeq.mkString("|")).sorted.toSeq)
    }

    // append ≡ rebuild, both families
    val mhRef = tmp(); val bmRef = tmp()
    graft.ops.Dedup.saveMinhashIndex(corpus(0, 25), "doc_id", "text", mhRef,
      threshold = 0.5, numFiles = 2)
    graft.ops.Retrieval.saveBm25Index(corpus(0, 25), "doc_id", "text", bmRef,
      numFiles = 2)
    assert(mhRows(mhDir) == mhRows(mhRef), "MinHash append ≠ rebuild")
    assert(bmRows(bmDir) == bmRows(bmRef), "BM25 append ≠ rebuild")

    // a replayed COMMITTED epoch is a no-op (the exactly-once marker)
    val replay = corpus(10, 14)
    mhSink(replay, 0L); bmSink(replay, 0L)
    assert(mhRows(mhDir) == mhRows(mhRef) && bmRows(bmDir) == bmRows(bmRef),
      "replaying a committed epoch must not change the indexes")

    // a CRASHED attempt (intent marker live, rows partially/fully written,
    // no commit) heals to exactly-once on replay — never double-appends
    val crashed = corpus(30, 34)
    val nextEpoch = 1000L
    def plantIntent(dir: String): Unit = {
      val p = java.nio.file.Paths.get(dir, "_epoch_intent")
      java.nio.file.Files.write(p, nextEpoch.toString.getBytes("UTF-8"))
    }
    // worst case: the crash landed AFTER the full append (marker missing)
    graft.ops.Dedup.appendToMinhashIndex(crashed, "doc_id", "text", mhDir,
      numFiles = 2)
    graft.ops.Retrieval.appendToBm25Index(crashed, "doc_id", "text", bmDir,
      numFiles = 2)
    plantIntent(mhDir); plantIntent(bmDir)
    mhSink(crashed, nextEpoch); bmSink(crashed, nextEpoch)
    val mhRef2 = tmp(); val bmRef2 = tmp()
    val full = corpus(0, 25).unionAll(crashed)
    graft.ops.Dedup.saveMinhashIndex(full, "doc_id", "text", mhRef2,
      threshold = 0.5, numFiles = 2)
    graft.ops.Retrieval.saveBm25Index(full, "doc_id", "text", bmRef2,
      numFiles = 2)
    assert(mhRows(mhDir) == mhRows(mhRef2),
      "healed MinHash epoch must equal the rebuild (no double-append)")
    assert(bmRows(bmDir) == bmRows(bmRef2),
      "healed BM25 epoch must equal the rebuild (no double-append)")
  }

  test("streaming ANN index maintenance: epochs ≡ batch appends, replay no-op, crash heal (IVF + IVF-PQ)") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    import graft.ops.Similarity
    def vecs(lo: Int, hi: Int): DataFrame =
      (lo until hi).map { i =>
        val r = new scala.util.Random(i)
        (i.toLong, Array.fill(8)(r.nextDouble()))
      }.toDF("vec_id", "embedding")
    def copyDir(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
      java.nio.file.Files.walk(s).forEach { p =>
        val t = d.resolve(s.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    def assignedRows(dir: String) =
      Similarity.loadIvfIndex(spark, dir).assigned
        .select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def codeRows(dir: String) =
      spark.read.parquet(s"$dir/codes")
        .select("vec_id", "cid", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Int](2).mkString(","))).sorted.toSeq

    // same trained geometry on both sides: save once, copy the directory
    val ivfA = tmp() + "/ivf"; val ivfB = tmp() + "/ivfref"
    val pqA = tmp() + "/ivfpq"; val pqB = tmp() + "/ivfpqref"
    Similarity.saveIvfIndex(vecs(0, 40), "vec_id", "embedding", ivfA,
      numCentroids = 4, kmeansIters = 1, numFiles = 2)
    Similarity.saveIvfPqIndex(vecs(0, 40), "vec_id", "embedding", pqA,
      dim = 8, numCentroids = 4, m = 4, ksub = 8, numFiles = 2)
    copyDir(ivfA, ivfB); copyDir(pqA, pqB)

    val ivfSink = IndexMaintenance.ivfAppendSink(ivfA, "vec_id", "embedding",
      numFiles = 2)
    val pqSink = IndexMaintenance.ivfPqAppendSink(pqA, "vec_id", "embedding",
      numFiles = 2)
    // two epochs through the sinks ≡ the same batches through the batch
    // append path (saved centroids/codebooks — NOT a retrain)
    Seq((vecs(40, 50), 0L), (vecs(50, 55), 1L)).foreach { case (b, e) =>
      ivfSink(b, e); pqSink(b, e)
      Similarity.appendToIvfIndex(spark, ivfB, b, "vec_id", "embedding",
        numFiles = 2)
      Similarity.appendToIvfPqIndex(spark, pqB, b, "vec_id", "embedding",
        numFiles = 2)
    }
    assert(assignedRows(ivfA) == assignedRows(ivfB), "IVF epochs ≠ batch appends")
    assert(codeRows(pqA) == codeRows(pqB), "IVF-PQ epochs ≠ batch appends")

    // a replayed COMMITTED epoch is a no-op
    ivfSink(vecs(40, 50), 0L); pqSink(vecs(40, 50), 0L)
    assert(assignedRows(ivfA) == assignedRows(ivfB), "IVF replay double-appended")
    assert(codeRows(pqA) == codeRows(pqB), "IVF-PQ replay double-appended")

    // crash heal, worst case: the full append landed but no commit marker —
    // the healed epoch must scrub (delete-by-id) then append exactly once
    val crashed = vecs(60, 64)
    Similarity.appendToIvfIndex(spark, ivfA, crashed, "vec_id", "embedding",
      numFiles = 2)
    Similarity.appendToIvfPqIndex(spark, pqA, crashed, "vec_id", "embedding",
      numFiles = 2)
    Seq(ivfA, pqA).foreach { d =>
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "_epoch_intent"),
        "1000".getBytes("UTF-8"))
    }
    ivfSink(crashed, 1000L); pqSink(crashed, 1000L)
    Similarity.appendToIvfIndex(spark, ivfB, crashed, "vec_id", "embedding",
      numFiles = 2)
    Similarity.appendToIvfPqIndex(spark, pqB, crashed, "vec_id", "embedding",
      numFiles = 2)
    assert(assignedRows(ivfA) == assignedRows(ivfB),
      "healed IVF epoch must equal one batch append (no double rows)")
    assert(codeRows(pqA) == codeRows(pqB),
      "healed IVF-PQ epoch must equal one batch append (no double rows)")
    // the maintained index still probes: an appended vector is its own NN
    val idx = Similarity.loadIvfIndex(spark, ivfA)
    val probe = vecs(60, 61).select((col("vec_id") + 9000L).as("vec_id"),
      col("embedding"))
    val hit = Similarity.ivfTopKWithIndex(idx, probe, "vec_id", "embedding",
      k = 1, nProbe = 2).collect().head
    assert(hit.getLong(1) == 60L, s"appended vector not its own NN: $hit")
  }

  test("crawl admission sink: novel-only index growth, cross-epoch dedup, crash heal") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    val dir = tmp()
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen quality liquor jugs today"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.saveMinhashIndex(hist, "doc_id", "text", dir,
      threshold = 0.5, numFiles = 2)

    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (epoch, id)
    val admit = IndexMaintenance.minhashAdmitSink(dir, "doc_id", "text",
      threshold = 0.5,
      sink = (df, ep) => kept ++= df.select("doc_id").collect()
        .map(r => ep -> r.getLong(0)),
      numFiles = 2)

    // epoch 0: one near-dup of history (dropped), one novel (admitted)
    admit(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a completely different sentence about databases and rivers flowing"))
      .toDF("doc_id", "text"), 0L)
    // epoch 1: a near-dup of the EPOCH-0 ADMITTED doc (dropped — the index
    // grew), plus a novel doc
    admit(Seq(
      (20L, "a completely different sentence about databases and rivers"),
      (21L, "seven wandering musicians crossed the silent valley before dawn"))
      .toDF("doc_id", "text"), 1L)
    assert(kept.toList == List(0L -> 11L, 1L -> 21L),
      s"admitted $kept: near-dups of history AND of admitted docs must drop")

    // committed-epoch replay: no-op (no re-admission, no index growth)
    val bandsBefore = spark.read.parquet(s"$dir/bands").count()
    admit(Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 0L)
    assert(kept.size == 2 && spark.read.parquet(s"$dir/bands").count() == bandsBefore)

    // crashed epoch 2 (novel rows fully appended, intent live, no commit):
    // the heal scrubs and replays — admitted ONCE, sink sees it ONCE more
    val batchC = Seq(
      (30L, "entirely fresh content about mountains glaciers and morning light"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.appendToMinhashIndex(batchC, "doc_id", "text", dir,
      numFiles = 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_epoch_intent"),
      "2".getBytes("UTF-8"))
    admit(batchC, 2L)
    assert(kept.toList == List(0L -> 11L, 1L -> 21L, 2L -> 30L))

    // the admitted index ≡ a rebuild over history + admitted docs only
    val ref = tmp()
    graft.ops.Dedup.saveMinhashIndex(hist.unionAll(Seq(
      (11L, "a completely different sentence about databases and rivers flowing"),
      (21L, "seven wandering musicians crossed the silent valley before dawn"),
      (30L, "entirely fresh content about mountains glaciers and morning light"))
      .toDF("doc_id", "text")), "doc_id", "text", ref,
      threshold = 0.5, numFiles = 2)
    def rows(p: String) = {
      val df = spark.read.parquet(p)
      val cols = df.columns.sorted.map(col).toIndexedSeq
      df.select(cols: _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    assert(rows(s"$dir/bands") == rows(s"$ref/bands"), "bands ≡ rebuild")
    assert(rows(s"$dir/shingles") == rows(s"$ref/shingles"), "shingles ≡ rebuild")
  }

  test("admission sink: intra-batch near-pair admits exactly one with dropIntraBatchNearDups") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    val dir = tmp()
    graft.ops.Dedup.saveMinhashIndex(
      Seq((1L, "pack my box with five dozen quality liquor jugs today"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, threshold = 0.5, numFiles = 2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val admit = IndexMaintenance.minhashAdmitSink(dir, "doc_id", "text",
      threshold = 0.5,
      sink = (df, _) => kept ++= df.select("doc_id").collect().map(_.getLong(0)),
      numFiles = 2, dropIntraBatchNearDups = true)
    // one batch carrying a planted near-pair (10 ~ 11) plus a distinct doc
    admit(Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "seven wandering musicians crossed the silent valley before dawn"))
      .toDF("doc_id", "text"), 0L)
    assert(kept.sorted.toList == List(10L, 12L),
      s"admitted $kept: the near-pair must admit exactly its representative")
    // the representative now guards LATER epochs too
    admit(Seq((20L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text"), 1L)
    assert(kept.sorted.toList == List(10L, 12L), s"admitted $kept")
  }

  test("admission sink: per-epoch pins are released, the pinned set stops growing") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    val dir = tmp()
    graft.ops.Dedup.saveMinhashIndex(
      Seq((1L, "pack my box with five dozen quality liquor jugs today"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, threshold = 0.5, numFiles = 2)
    var admitted = 0L
    val admit = IndexMaintenance.minhashAdmitSink(dir, "doc_id", "text",
      threshold = 0.5, sink = (df, _) => admitted += df.count(),
      numFiles = 2, dropIntraBatchNearDups = true)
    // every epoch pins MinHash pairs, cluster labels and probe results;
    // compare SETS of persistent RDD ids so a concurrent GC cannot flake it
    def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val after = (0 until 6).map { ep =>
      // epoch-private vocabularies: each epoch has its own near-pair and
      // one distinct doc, never a near-dup of an earlier epoch's
      def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$ep$i").mkString(" ")
      admit(Seq(
        (100L * ep + 10, words("a", 10)),
        (100L * ep + 11, words("a", 9)),
        (100L * ep + 12, words("b", 10)))
        .toDF("doc_id", "text"), ep.toLong)
      pins
    }
    assert(admitted == 12, s"admitted $admitted docs over 6 epochs, expected 2 each")
    for (ep <- 2 until 6)
      assert((after(ep) -- after(1)).isEmpty,
        s"epoch $ep left pins ${after(ep) -- after(1)}")
  }

  test("admission sink: representative itself near-dup to the INDEX drops the whole cluster") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    val dir = tmp()
    // the index already holds the content the whole batch cluster orbits
    graft.ops.Dedup.saveMinhashIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, threshold = 0.5, numFiles = 2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val admit = IndexMaintenance.minhashAdmitSink(dir, "doc_id", "text",
      threshold = 0.5,
      sink = (df, _) => kept ++= df.select("doc_id").collect().map(_.getLong(0)),
      numFiles = 2, dropIntraBatchNearDups = true)
    // an intra-batch near-pair (10 ~ 11) whose REPRESENTATIVE (10, the
    // canonical minimum) is itself a near-dup of the indexed doc: the
    // intra-batch stage keeps only 10, then the index probe must drop it
    // too — the planted cluster admits ZERO, and a distinct doc rides along
    admit(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog today"),
      (12L, "seven wandering musicians crossed the silent valley before dawn"))
      .toDF("doc_id", "text"), 0L)
    assert(kept.sorted.toList == List(12L),
      s"admitted $kept: the whole near-dup cluster must drop when its " +
        "representative is near-dup to the index")
  }

  test("admission sink: string ids cluster on their own type (no long-cast null-out)") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    val dir = tmp()
    // non-default sketch geometry: the intra-batch pass must take its
    // params from the index, sharing one similarity definition
    graft.ops.Dedup.saveMinhashIndex(
      Seq(("seed-doc", "pack my box with five dozen quality liquor jugs today"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 2, numHashes = 32,
      threshold = 0.5, seed = 7L, numFiles = 2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val admit = IndexMaintenance.minhashAdmitSink(dir, "doc_id", "text",
      threshold = 0.5,
      sink = (df, _) => kept ++= df.select("doc_id").collect().map(_.getString(0)),
      numFiles = 2, dropIntraBatchNearDups = true)
    // UUID-ish ids are NOT long-castable: the long-cast cluster path would
    // null every edge and silently admit both halves of the near-pair
    admit(Seq(
      ("b-doc", "the quick brown fox jumps over the lazy dog"),
      ("a-doc", "the quick brown fox jumps over the lazy dog tonight"),
      ("c-doc", "seven wandering musicians crossed the silent valley before dawn"))
      .toDF("doc_id", "text"), 0L)
    assert(kept.sorted.toList == List("a-doc", "c-doc"),
      s"admitted $kept: exactly the canonical-min representative and the " +
        "distinct doc — a silent both-admitted means ids were long-cast")
  }

  test("semantic admission sink: embedding novelty growth, intra-batch cluster drop, replay, crash heal") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    import graft.ops.Similarity
    val dir = tmp()
    // unit-axis embeddings; "near" = a 1e-4 perturbation (cosine ≈ 1)
    def axis(i: Int, eps: Double = 0.0): Array[Double] = {
      val v = Array.fill(8)(0.0); v(i) = 1.0
      if (eps != 0.0) v((i + 1) % 8) = eps
      v
    }
    val hist = Seq((1L, axis(0)), (2L, axis(1))).toDF("vec_id", "embedding")
    Similarity.saveIvfIndex(hist, "vec_id", "embedding", dir,
      numCentroids = 2, kmeansIters = 1, numFiles = 2)

    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val admit = IndexMaintenance.ivfAdmitSink(dir, "vec_id", "embedding",
      tau = 0.95,
      sink = (df, ep) => kept ++= df.select("vec_id").collect()
        .map(r => ep -> r.getLong(0)),
      nProbe = 2, numFiles = 2, dropIntraBatchNearDups = true)

    // epoch 0: a semantic near-dup of history (dropped), a novel axis
    // (admitted), and an intra-batch near-pair of a FOURTH axis — only its
    // canonical-min representative survives the batch, then it is novel
    // against the index and admitted
    admit(Seq(
      (10L, axis(0, 1e-4)),             // ≈ history vec 1 → dropped
      (11L, axis(2)),                   // novel → admitted
      (12L, axis(3)), (13L, axis(3, 1e-4))) // intra-batch pair → 12 only
      .toDF("vec_id", "embedding"), 0L)
    assert(kept.sorted.toList == List(0L -> 11L, 0L -> 12L), s"admitted $kept")

    // epoch 1: near-dup of an EPOCH-0 ADMITTED vector (the index grew) +
    // an intra-batch pair whose representative is near-dup to the INDEX —
    // the whole cluster drops
    admit(Seq(
      (20L, axis(2, 1e-4)),                  // ≈ admitted 11 → dropped
      (21L, axis(0, 1e-4)), (22L, axis(0, 2e-4)), // cluster ≈ history 1 → zero
      (23L, axis(4)))                        // novel → admitted
      .toDF("vec_id", "embedding"), 1L)
    assert(kept.sorted.toList == List(0L -> 11L, 0L -> 12L, 1L -> 23L),
      s"admitted $kept")

    // committed-epoch replay: no-op (no re-admission, no index growth)
    val before = spark.read.parquet(s"$dir/assigned").count()
    admit(Seq((10L, axis(0, 1e-4))).toDF("vec_id", "embedding"), 0L)
    assert(kept.size == 3 &&
      spark.read.parquet(s"$dir/assigned").count() == before)

    // crashed epoch 2 (novel row fully appended, intent live, no commit):
    // the heal scrubs by id and replays — admitted ONCE
    val batchC = Seq((30L, axis(5))).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(spark, dir, batchC, "vec_id", "embedding",
      numFiles = 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_epoch_intent"),
      "2".getBytes("UTF-8"))
    admit(batchC, 2L)
    assert(kept.sorted.toList ==
      List(0L -> 11L, 0L -> 12L, 1L -> 23L, 2L -> 30L), s"admitted $kept")
    // maintained index holds exactly history + admitted, each assigned once
    val ids = spark.read.parquet(s"$dir/assigned")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 11L, 12L, 23L, 30L), ids.toString)
  }

  test("index maintenance: a foreign query's leftover intent refuses the scrub loudly") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    implicit val ctx = spark.sqlContext
    val dir = tmp()
    graft.ops.Dedup.saveMinhashIndex(
      Seq((1L, "unique1 alpha1 beta1 gamma1")).toDF("doc_id", "text"),
      "doc_id", "text", dir, threshold = 0.5, numFiles = 2)
    // a prior query crashed BEFORE its first commit: intent for epoch 0
    // with its queryId, no _last_epoch — the committed-range check cannot
    // see it, so the scrub-owner check must
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_epoch_intent"),
      "0\ndead-query-uuid".getBytes("UTF-8"))
    val sink = IndexMaintenance.minhashAppendSink(dir, "doc_id", "text",
      numFiles = 2)
    val mem = MemoryStream[(Long, String)]
    mem.addData((10L, "unique10 alpha10 beta10 gamma10"))
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", tmp())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) => sink(b, e); () }
      .start()
    val e = intercept[Exception] { q.processAllAvailable() }
    try q.stop() catch { case _: Throwable => () }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(e).exists(m => m.contains("_epoch_intent") && m.contains("dead-query-uuid")),
      s"expected the foreign-intent refusal, got: ${messages(e)}")
    // nothing appended, nothing scrubbed: the seed doc is intact
    val ids = spark.read.parquet(s"$dir/shingles")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"index must be untouched, got $ids")
  }

  test("index maintenance: an ownerless marker advance preserves the recorded owner") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    implicit val ctx = spark.sqlContext
    val dir = tmp()
    graft.ops.Dedup.saveMinhashIndex(
      Seq((1L, "unique1 alpha1 beta1 gamma1")).toDF("doc_id", "text"),
      "doc_id", "text", dir, threshold = 0.5, numFiles = 2)
    val sink = IndexMaintenance.minhashAppendSink(dir, "doc_id", "text",
      numFiles = 2)
    def maintain(ckpt: String, rows: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      mem.addData(rows: _*)
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) => sink(b, e); () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // streaming query commits epoch 0 and stamps its queryId
    maintain(tmp(), Seq((10L, "unique10 alpha10 beta10 gamma10")))
    val ownerLine = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_last_epoch")), "UTF-8")
      .linesIterator.toList.lift(1)
    assert(ownerLine.exists(_.nonEmpty), "queryId stamped by the stream")
    // a manual batch-side backfill (owner None) advances the epoch: the
    // recorded owner must be READ THROUGH, not erased — else this one
    // backfill disables the foreign-query protection
    sink(Seq((11L, "unique11 alpha11 beta11 gamma11")).toDF("doc_id", "text"), 5L)
    val after = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_last_epoch")), "UTF-8")
      .linesIterator.toList
    assert(after.headOption.contains("5"), s"epoch advanced: $after")
    assert(after.lift(1) == ownerLine,
      s"owner must survive the ownerless advance: before=$ownerLine after=${after.lift(1)}")
    // and the protection still fires for a fresh-checkpoint query
    val e = intercept[Exception] {
      maintain(tmp(), Seq((12L, "unique12 alpha12 beta12 gamma12")))
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(e).exists(_.contains("resetEpochMarkers")),
      s"foreign-query check must still fire: ${messages(e)}")
  }

  test("index maintenance: foreign-query epoch in committed range fails loudly; reset helper heals") {
    import spark.implicits._
    import graft.streaming.IndexMaintenance
    implicit val ctx = spark.sqlContext
    val dir = tmp()
    graft.ops.Dedup.saveMinhashIndex(
      (0 until 4).map(i => (i.toLong, s"unique$i alpha$i beta$i gamma$i"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, threshold = 0.5, numFiles = 2)
    val sink = IndexMaintenance.minhashAppendSink(dir, "doc_id", "text",
      numFiles = 2)

    def maintain(ckpt: String, rows: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      mem.addData(rows: _*)
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, e: Long) => sink(b, e); () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // query 1 (checkpoint A) commits epoch 0 and stamps its queryId
    maintain(tmp(), Seq((10L, "unique10 alpha10 beta10 gamma10")))
    val lastMarker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_last_epoch")), "UTF-8")
    assert(lastMarker.linesIterator.size == 2,
      s"marker must carry the queryId, got: $lastMarker")

    // query 2 (FRESH checkpoint) restarts its epoch counter at 0 — inside
    // query 1's committed range — and must FAIL LOUDLY, not silently skip
    val e = intercept[Exception] {
      maintain(tmp(), Seq((11L, "unique11 alpha11 beta11 gamma11")))
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(e).exists(_.contains("resetEpochMarkers")),
      s"expected the epoch-sequence mismatch error, got: ${messages(e)}")
    // the refused append really was refused
    val idsAfterRefusal = spark.read.parquet(s"$dir/shingles")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!idsAfterRefusal.contains(11L))

    // the documented hand-over: reset markers, then a new query maintains
    IndexMaintenance.resetEpochMarkers(spark, dir)
    maintain(tmp(), Seq((12L, "unique12 alpha12 beta12 gamma12")))
    val ref = tmp()
    graft.ops.Dedup.saveMinhashIndex(
      ((0 until 4).map(i => (i.toLong, s"unique$i alpha$i beta$i gamma$i")) ++
        Seq((10L, "unique10 alpha10 beta10 gamma10"),
            (12L, "unique12 alpha12 beta12 gamma12")))
        .toDF("doc_id", "text"),
      "doc_id", "text", ref, threshold = 0.5, numFiles = 2)
    def rows(p: String) = {
      val df = spark.read.parquet(p)
      val cols = df.columns.sorted.map(col).toIndexedSeq
      df.select(cols: _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    assert(rows(s"$dir/bands") == rows(s"$ref/bands"),
      "post-reset maintenance must equal the rebuild")
    assert(rows(s"$dir/shingles") == rows(s"$ref/shingles"))
  }

  test("stream-stream join within time bound") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    clicks.addData((1L, ts(0)), (2L, ts(5)))
    buys.addData((1L, ts(2)), (2L, ts(40))) // user 2 buys too late
    val left = clicks.toDF().toDF("user_id", "click_ts")
    val right = buys.toDF().toDF("r_user_id", "buy_ts")
    runToMemory(
      TopicStreams.streamStreamJoin(left, right, "user_id",
        "click_ts", "buy_ts", "10 minutes", "'10' MINUTE"), "ssj")
    val got = spark.table("ssj").select("user_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L), got.toString)
  }

  test("flatMapGroupsWithState audits per-bucket offset continuity") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[TopicStreams.OffsetEvent]
    mem.addData(
      TopicStreams.OffsetEvent("b0", 0), TopicStreams.OffsetEvent("b0", 1),
      TopicStreams.OffsetEvent("b0", 1), // dup
      TopicStreams.OffsetEvent("b0", 3), // gap (2 missing)
      TopicStreams.OffsetEvent("b1", 0))
    val audited = TopicStreams.auditOffsets(mem.toDS())
    val q = audited.writeStream.format("memory").queryName("audit")
      .outputMode("update").option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val byBucket = spark.table("audit").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(byBucket("b0") == ((3L, 4L, 1L, 1L)), byBucket.toString) // max 3, 4 rows, 1 gap, 1 dup
    assert(byBucket("b1") == ((0L, 1L, 0L, 0L)))
  }

  test("transformWithState keeps running per-user totals (RocksDB store)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[TopicStreams.UserEvent]
      mem.addData(TopicStreams.UserEvent(1L, 10.0), TopicStreams.UserEvent(1L, 5.0),
        TopicStreams.UserEvent(2L, 1.0))
      val q = TopicStreams.runningTotals(mem.toDS())
        .writeStream.format("memory").queryName("tws")
        .outputMode("update").option("checkpointLocation", tmp()).start()
      try {
        q.processAllAvailable()
        mem.addData(TopicStreams.UserEvent(1L, 2.5)) // second batch: state carries over
        q.processAllAvailable()
        val latest = spark.table("tws").groupBy("user_id")
          .agg(max("total").as("t"), max("events").as("n")).collect()
          .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
        assert(latest(1L) == ((17.5, 3L)), latest.toString)
        assert(latest(2L) == ((1.0, 1L)), latest.toString)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming minhash near-dup drops cross-batch near-duplicates, keeps novel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = (1 to 30).map(i => s"tok$i").mkString(" ")
      val pert = (1 to 29).map(i => s"tok$i").mkString(" ") + " other" // ~0.8 jaccard vs base
      val other = (100 to 130).map(i => s"word$i").mkString(" ")
      val third = (200 to 230).map(i => s"gram$i").mkString(" ")
      val mem = MemoryStream[(Long, String)]
      mem.addData((1L, base), (2L, other))
      val out = TopicStreams.dropNearDups(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.6)
      val q = out.toDF().writeStream.format("memory").queryName("ndd")
        .outputMode("update").option("checkpointLocation", tmp()).start()
      try {
        q.processAllAvailable()
        // second micro-batch: 3 is a near-dup of 1 (from batch ONE), 4 is novel
        mem.addData((3L, pert), (4L, third))
        q.processAllAvailable()
        val kept = spark.table("ndd").select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept == Set(1L, 2L, 4L), s"kept $kept")
        // payload survives the band fan-out/fan-in
        val textOf = spark.table("ndd").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(textOf(1L) == base && textOf(4L) == third, textOf.toString)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("end-to-end curation pipeline: topic stream -> novelty -> quality -> clustered parquet") {
    import spark.implicits._
    val root = tmp(); val outDir = tmp()
    Ripple.createTopic(root, "docs", numBuckets = 2)

    // produce: 3 novel quality docs, 1 historical-content doc, 1 in-stream
    // duplicate, 1 too-short doc
    val goodText = "a perfectly reasonable document with more than ten whitespace tokens in it"
    val docs = Seq(
      (1L, goodText + " one"),
      (2L, goodText + " two"),
      (3L, "seen before text that the historical corpus already has"),
      (4L, goodText + " one"), // duplicate content of doc 1
      (5L, "too short"),
      (6L, goodText + " three"))
      .toDF("doc_id", "text")
    Ripple.write(Ripple.pack(docs, col("doc_id")), root, "docs", numBuckets = 2)

    val historical = Seq(
      "seen before text that the historical corpus already has").toDF("text")
    val histFp = historical.select(
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))

    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val stream = Ripple.lift(Ripple.readStream(spark, root, "docs"), schema)
      .select(col("doc_id"), col("text"), col("_ts").as("ts"))
    val curated = TopicStreams.novelDocs(stream, histFp, "text", "ts", "10 minutes")

    val q = curated.writeStream
      .option("checkpointLocation", tmp())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batch-side tail: quality gate, per-source cap, clustered layout
        val quality = batch.filter(
          size(split(trim(col("text")), "\\s+")) >= 10)
        val capped = graft.ops.Sampling.capPerGroup(
          quality, lit("all"), col("doc_id"), maxRows = 100)
        if (!capped.isEmpty)
          graft.ops.Layout.writeClustered(capped.select("doc_id", "text"),
            outDir, Seq(col("doc_id")), numFiles = 2)
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // dropped: 3 (historical content), 5 (too short). docs 1 and 4 share a
    // fingerprint → exactly ONE of them survives the in-stream dedup
    // (which one is arrival order within the batch). 2 and 6 always kept.
    assert(out.intersect(Set(1L, 4L)).size == 1, s"dup pair mishandled: $out")
    assert(Set(2L, 6L).subsetOf(out) && !out.contains(3L) && !out.contains(5L),
      s"pipeline kept $out")
  }

  test("trending tokens: per-window MG leaderboard refreshes across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Timestamp)]
      val docs = mem.toDF().toDF("doc_id", "text", "ts")
      val trending = TopicStreams.trendingTokens(docs, "text", "ts",
        windowLen = "10 minutes", k = 3, capacity = 64)
      val q = trending.toDF().writeStream.format("memory").queryName("trend")
        .outputMode("update").option("checkpointLocation", tmp()).start()
      try {
        mem.addData((1L, "apple apple banana", ts(1)), (2L, "apple cherry", ts(5)))
        q.processAllAvailable()
        mem.addData((3L, "banana banana banana banana", ts(7)),
          (4L, "zebra zebra", ts(15)))
        q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val rows = spark.table("trend").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val wins = rows.map(_._1).distinct.sorted
    assert(wins.length == 2, s"expected two windows: $rows")
    val (winA, winB) = (wins(0), wins(1))
    // batch 1 leaderboard for window A: apple 3 at rank 1 (counts exact
    // below capacity)
    assert(rows.contains((winA, "apple", 3L, 1)), rows.mkString(","))
    // batch 2 merges state: banana 1+4=5 overtakes apple 3
    assert(rows.contains((winA, "banana", 5L, 1)), rows.mkString(","))
    assert(rows.contains((winA, "apple", 3L, 2)), rows.mkString(","))
    // the second window ranks independently
    assert(rows.contains((winB, "zebra", 2L, 1)), rows.mkString(","))
  }

  test("streaming crawl hygiene: domain + term blocklists filter a live stream per-row") {
    import spark.implicits._
    import graft.ops.WebText
    val root = tmp()
    Ripple.createTopic(root, "crawl", numBuckets = 2)
    val good = "a perfectly reasonable document with more than ten whitespace tokens"
    val rows = Seq(
      (1L, good + " one", "https://ok.org/a"),
      (2L, good + " SpamWord", "https://ok.org/b"),   // blocked term (case-shifted)
      (3L, good + " three", "https://ads.example.com/x"), // blocked domain
      (4L, good + " four", "https://fine.net/y"))
      .toDF("doc_id", "text", "url")
    Ripple.write(Ripple.pack(rows, col("doc_id")), root, "crawl", numBuckets = 2)
    val schema = new StructType().add("doc_id", LongType)
      .add("text", StringType).add("url", StringType)
    val stream = Ripple.lift(Ripple.readStream(spark, root, "crawl"), schema)
    // the blocklist expressions are stateless per-row predicates, so they
    // compose onto a streaming scan exactly like any other filter
    val filtered = WebText.filterBlockedTerms(
      WebText.filterBlockedDomains(stream, col("url"), Seq("example.com")),
      col("text"), Seq("spamword"))
    runToMemory(filtered.select("doc_id"), "curated_stream")
    val out = spark.table("curated_stream").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L), s"stream filters kept $out")
  }

  test("streaming curation: shared row stages match batch, in-watermark dup dropped, corpus stages refused") {
    import spark.implicits._
    import graft.ops.Curate
    implicit val ctx = spark.sqlContext
    val good = "a perfectly reasonable document with more than ten distinct whitespace tokens"
    val cfg = Curate.Config(normalizeUnicode = false,
      blockedTerms = Seq("spamword"), qualityFilter = true)
    val rows = Seq(
      (ts(0), 1L, good + " one"),
      (ts(0, 30), 2L, good + " SpamWord"),      // blocked term
      (ts(1), 3L, "too short"),                 // quality filter
      (ts(1, 30), 4L, good + " one"),           // exact dup of 1 (in watermark)
      (ts(2), 5L, good + " five"))
    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData(rows: _*)
    val stream = mem.toDF().toDF("ts", "doc_id", "text")
    val out = Curate.runStream(stream, "text", cfg, "ts", "10 minutes")
    runToMemory(out.select("doc_id"), "curated_live")
    val got = spark.table("curated_live").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 5L), s"stream curation kept $got")
    // PII masking is a row stage, so it streams for free through the same
    // shared chain — the landed text is already scrubbed
    val mem2 = MemoryStream[(Timestamp, Long, String)]
    mem2.addData((ts(0), 1L, good + " reach admin@example.org today"))
    val masked = Curate.runStream(mem2.toDF().toDF("ts", "doc_id", "text"),
      "text", cfg.copy(maskPiiKinds = Seq("email")), "ts", "10 minutes")
    runToMemory(masked.select("text"), "curated_pii")
    assert(spark.table("curated_pii").head().getString(0)
      .endsWith("reach [EMAIL] today"))
    // the row-stage chain is literally the batch one: same survivors
    // (before dedup) on the same data
    val batch = Curate.rowStages(rows.toDF("ts", "doc_id", "text"), "text", cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(1L, 4L, 5L), s"batch row stages kept $batch")
    // a corpus-wide stage in the config must refuse loudly, not silently
    // under-curate the stream
    val bad = cfg.copy(dsirTargetSources = Seq("src0"))
    val e = intercept[IllegalArgumentException] {
      Curate.runStream(stream, "text", bad, "ts", "10 minutes")
    }
    assert(e.getMessage.contains("batch passes"))
    // near-dup IS streamable (transformWithState stage) — but only with an
    // id column, and not stacked on exact dedup (which it subsumes)
    val nd = cfg.copy(nearDupThreshold = Some(0.7), exactDedup = false)
    val e2 = intercept[IllegalArgumentException] {
      Curate.runStream(stream, "text", nd, "ts", "10 minutes")
    }
    assert(e2.getMessage.contains("idCol"))
    val e3 = intercept[IllegalArgumentException] {
      Curate.runStream(stream, "text", nd.copy(exactDedup = true),
        "ts", "10 minutes", idCol = Some("doc_id"))
    }
    assert(e3.getMessage.contains("subsumes"))
  }

  test("streaming curation: opt-in near-dup stage drops cross-batch near-dups via runStream") {
    import spark.implicits._
    import graft.ops.Curate
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val good = "a perfectly reasonable document with more than ten distinct whitespace tokens"
      val base = good + " " + (1 to 20).map(i => s"tok$i").mkString(" ")
      val pert = good + " " + (1 to 19).map(i => s"tok$i").mkString(" ") + " other"
      val third = good + " " + (100 to 120).map(i => s"word$i").mkString(" ")
      val cfg = Curate.Config(normalizeUnicode = false, qualityFilter = true,
        exactDedup = false, nearDupThreshold = Some(0.6))
      val mem = MemoryStream[(Timestamp, Long, String)]
      mem.addData((ts(0), 1L, base), (ts(0, 30), 2L, "too short"))
      val out = Curate.runStream(mem.toDF().toDF("ts", "doc_id", "text"),
        "text", cfg, "ts", "10 minutes", idCol = Some("doc_id"))
      assert(out.columns.toSeq == Seq("doc_id", "text")) // documented narrowing
      val q = out.writeStream.format("memory").queryName("curated_nd")
        .outputMode("update").option("checkpointLocation", tmp()).start()
      try {
        q.processAllAvailable()
        // batch 2: 3 is a near-dup of 1 (admitted in batch ONE), 4 is novel
        mem.addData((ts(1), 3L, pert), (ts(1, 30), 4L, third))
        q.processAllAvailable()
        val kept = spark.table("curated_nd").select("doc_id")
          .collect().map(_.getLong(0)).toSet
        assert(kept == Set(1L, 4L), s"runStream near-dup kept $kept")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("source metrics: offsets/time behind latest appear in progress events and track a planted backlog") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "met", numBuckets = 1)
    // 20 rows with explicit, spread timestamps (one per second) so the
    // ts stats in the commit records make behind-latest TIME computable
    val base = 1700000000000L
    val df = (0 until 20).map(i =>
        (i, s"m$i".getBytes("UTF-8"), new java.sql.Timestamp(base + 1000L * i)))
      .toDF("id", "data", "ts").repartition(1).sortWithinPartitions("id")
    Ripple.write(df, root, "met", numBuckets = 1)
    // capped trigger: 4 rows per batch over a 20-row backlog → the
    // intermediate progress events must SHOW the shrinking backlog
    val q = spark.readStream.format("ripple")
      .option("path", root).option("topic", "met")
      .option("maxOffsetsPerTrigger", 4L).load()
      .writeStream.format("memory").queryName("met_out")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("met_out").count() == 20)
      val progresses = q.recentProgress.toSeq
        .filter(p => p.sources.nonEmpty && p.sources(0).metrics != null &&
          !p.sources(0).metrics.isEmpty)
      assert(progresses.nonEmpty, "progress events must carry source metrics")
      def m(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
          k: String): Option[String] =
        Option(p.sources(0).metrics.get(k))
      val behinds = progresses.flatMap(m(_, "maxOffsetsBehindLatest")).map(_.toLong)
      // Kafka-convention keys present; backlog visible mid-drain, zero at end
      assert(behinds.nonEmpty && behinds.max > 0,
        s"a capped drain must report a positive backlog mid-stream: $behinds")
      assert(behinds.min == 0L, s"the final batch must report caught-up: $behinds")
      assert(progresses.forall(p => m(p, "minOffsetsBehindLatest").isDefined &&
        m(p, "avgOffsetsBehindLatest").isDefined))
      // behind-latest TIME from the records' ts stats: rows are 1 s apart, so an
      // n-row backlog reads as >= (n-1) seconds and <= 19 s (conservative
      // upper bound off the segment min stat)
      val lagging = progresses.filter(p =>
        m(p, "maxOffsetsBehindLatest").exists(_.toLong > 0))
      val tsLags = lagging.flatMap(m(_, "maxTsBehindLatestMs")).map(_.toLong)
      assert(tsLags.nonEmpty, "backlogged events must carry time lag")
      assert(tsLags.forall(l => l >= 0 && l <= 19000L), tsLags.toString)
      assert(tsLags.max >= 4000L,
        s"a >=5-row backlog over 1 s-spaced rows reads as >= 4 s: $tsLags")
    } finally q.stop()
  }

  test("streaming trigger plane reads ZERO frames over a 500-segment backlog (metrics + admission are metadata-only)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingReadFs].getName)
    val root = "cntfs:" + tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("zf", "b0000")
    log.fs.mkdirs(log.bucketDir(tb))
    // 500 published segments in one commit, each record carrying its ts
    // stats as every publish path writes them
    val rowsPer = 5
    val base = 1700000000000L
    log.publishStaged(tb, (0 until 500).map { i =>
      val p = new org.apache.hadoop.fs.Path(log.bucketDir(tb), s".staged-$i")
      val bytes = graft.log.SegmentCodec.write(log.fs, p,
        (0 until rowsPer).map(j => (graft.model.Payload(j, Array[Byte](1)), base + i)))
      graft.log.SegMeta(p.toString, i.toLong * rowsPer, rowsPer.toLong, base + i, base + i,
        bytes, rowsPer.toLong)
    })
    // one fresh segment past the backlog — the only rows the query consumes
    log.append(tb, (0 until 6).map(i => graft.model.Payload(100 + i, Array[Byte](2))))
    CountingReadFs.dataOpens.set(0L)
    val q = spark.readStream.format("ripple")
      .option("path", root).option("topic", "zf")
      .option("startingOffset", 2500L) // end of the 500-segment backlog
      .option("minOffsetsPerTrigger", 5L)
      .option("maxOffsetsPerTrigger", 100L)
      .load().select(col("offset"), col("id"))
      .writeStream.format("memory").queryName("zf_out")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("zf_out").count() == 6, "exactly the fresh rows consumed")
      // progress events carried the full metrics surface (offset + time lag
      // keys appear whenever a backlog was observed; offset keys always)
      val progresses = q.recentProgress.toSeq.filter(p =>
        p.sources.nonEmpty && p.sources(0).metrics != null &&
          !p.sources(0).metrics.isEmpty)
      assert(progresses.nonEmpty, "progress events must carry source metrics")
      assert(progresses.forall(p =>
        p.sources(0).metrics.get("maxOffsetsBehindLatest") != null))
    } finally q.stop()
    // THE claim: planning + admission + metrics over the 500-segment
    // backlog opened only the ONE consumed segment's frames — a
    // frame-reading metrics/planning path would show ~500 opens
    val opens = CountingReadFs.dataOpens.get
    assert(opens > 0 && opens <= 4,
      s"expected <=4 data-file opens (the consumed segment only), got $opens")
  }

  test("consumer-group emulation: fresh checkpoint replays, resumed continues") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "cg", numBuckets = 1)
    val payloads = (0 until 10).map(i => (i, s"m$i".getBytes)).toDF("id", "data")
    Ripple.write(payloads, root, "cg")

    val ckpt = tmp() // consumer identity
    Ripple.createTopic(root, "cgout", numBuckets = 1)
    // consumer = topic→topic pipeline with a durable checkpoint cursor
    def drain(): Long = {
      val (stream, cp) = TopicStreams.consumerStream(spark, root, "cg", ckpt)
      val q = stream.select(col("id"), col("data"))
        .writeStream.format("ripple")
        .option("path", root).option("topic", "cgout")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(30000)
      Ripple.read(spark, root, "cgout").count()
    }
    assert(drain() == 10)               // first run: full replay
    Ripple.write(payloads, root, "cg")  // 10 more
    assert(drain() == 20)               // resumed cursor: only the new rows appended
    // a second consumer (fresh checkpoint) replays the full log independently
    val (stream2, cp2) = TopicStreams.consumerStream(spark, root, "cg", tmp())
    val q2 = stream2.writeStream.format("memory").queryName("cg_other")
      .option("checkpointLocation", cp2).start()
    try { q2.processAllAvailable(); assert(spark.table("cg_other").count() == 20) }
    finally q2.stop()
  }

  test("routed writes: topicColumn fans one stream out; exactly-once across a crash between topics") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = tmp()
    Ripple.createTopic(root, "rta", numBuckets = 1)
    Ripple.createTopic(root, "rtb", numBuckets = 1)
    val mem = MemoryStream[(Int, String, String)]
    def df = mem.toDF().toDF("id", "payload", "target")
      .select(col("id"), col("payload").cast("binary").as("data"), col("target"))
    val cp = tmp()
    def start() = df.writeStream.format("ripple")
      .option("path", root).option("topicColumn", "target")
      .option("checkpointLocation", cp).start()
    mem.addData((1, "a1", "rta"), (2, "b1", "rtb"), (3, "a2", "rta"))
    // crash INJECTED between the two topics' publishes: topic rta commits
    // its marker, rtb never runs — the classic fan-out torn-epoch window
    @volatile var crashed = false
    graft.connector.RipplePublish.interTopicSeam = t =>
      if (t == "rta" && !crashed) { crashed = true; sys.error("injected crash between topics") }
    val q1 = start()
    try intercept[Exception] { q1.processAllAvailable() }
    finally { q1.stop(); graft.connector.RipplePublish.interTopicSeam = _ => () }
    assert(crashed, "the seam must have fired")
    // rta published before the crash; rtb did not
    assert(Ripple.read(spark, root, "rta").count() == 2)
    assert(Ripple.read(spark, root, "rtb").count() == 0)
    // restart from the same checkpoint: the epoch replays — rta's marker
    // makes its re-publish a drop-staged no-op (no duplicates), rtb
    // completes
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    def content(t: String) = Ripple.read(spark, root, t)
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(content("rta") == Set((0L, 1, "a1"), (1L, 3, "a2")),
      s"rta exactly once, got ${content("rta")}")
    assert(content("rtb") == Set((0L, 2, "b1")))
    // steady state: further epochs fan out normally
    mem.addData((4, "b2", "rtb"), (5, "a3", "rta"))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(content("rta").map(_._2) == Set(1, 3, 5))
    assert(content("rtb").map(_._2) == Set(2, 4))
    // per-topic persisted config applies to the routed writer: rtb gets
    // compression, rta stays raw — resolved per topic at the executor
    Ripple.setTopicConfig(root, "rtb",
      graft.connector.TopicConfig(compression = Some("zstd")))
    val pad = "x" * 400
    mem.addData((6, "A" + pad, "rta"), (7, "B" + pad, "rtb"))
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    assert(content("rta").map(_._2) == Set(1, 3, 5, 6))
    assert(content("rtb").exists(r => r._2 == 7 && r._3 == "B" + pad))
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    def lastSegLen(t: String): Long = {
      val segs = log.segments(graft.model.TopicBucket(t, "b0000"))
      log.fs.getFileStatus(segs.last._1).getLen
    }
    assert(lastSegLen("rtb") * 3 < lastSegLen("rta"),
      s"rtb's epoch must be zstd-framed: ${lastSegLen("rtb")} vs ${lastSegLen("rta")}")
    // loud refusals: unknown topic (never auto-created), null topic
    val e1 = intercept[Exception] {
      Seq((9, "x".getBytes, "nosuch")).toDF("id", "data", "target")
        .write.format("ripple").option("path", root)
        .option("topicColumn", "target").mode("append").save()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(e1).exists(_.contains("does not exist")), chain(e1).mkString("|"))
    val e2 = intercept[Exception] {
      Seq((9, "x".getBytes, null: String)).toDF("id", "data", "target")
        .write.format("ripple").option("path", root)
        .option("topicColumn", "target").mode("append").save()
    }
    assert(chain(e2).exists(_.contains("NULL")), chain(e2).mkString("|"))
    // a routed conf cannot READ
    val e3 = intercept[Exception] {
      spark.read.format("ripple").option("path", root)
        .option("topicColumn", "target").load().count()
    }
    assert(chain(e3).exists(m => m.contains("routes WRITES")),
      chain(e3).mkString("|"))
  }

  test("streaming table view maintains latest-per-key across epochs, deletes, and a restart") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = tmp()
      Ripple.createTopic(root, "ktab", numBuckets = 2)
      def w(rows: Seq[(Int, String)]): Unit =
        Ripple.write(rows.toDF("id", "payload")
          .select(col("id"), col("payload").cast("binary").as("data")),
          root, "ktab", 2)
      def del(ids: Int*): Unit =
        Ripple.write(ids.toDF("id")
          .select(col("id"), lit(null).cast("binary").as("data")),
          root, "ktab", 2)
      w(Seq(1 -> "a1", 2 -> "b1", 3 -> "c1"))
      w(Seq(1 -> "a2", 4 -> "d1"))
      del(2)
      val cp = tmp()
      // the memory sink cannot recover a checkpoint, and the restart arm
      // is the point — collect emissions through foreachBatch instead
      val collected =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String, Boolean)]
      def drain(): Unit = {
        // tiny trigger cap => the view is maintained across MANY epochs,
        // not reduced in one batch
        val q = TopicStreams.readTableStream(spark, root, "ktab", maxPerTrigger = 2)
          .writeStream.outputMode("update")
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[TopicStreams.TableUpsert], _: Long) =>
              val rows = df.collect().map(u => (u.id, u.offset,
                Option(u.data).map(new String(_)).orNull, u.deleted))
              collected.synchronized { collected ++= rows }
              ()
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(60000) finally q.stop()
      }
      drain()
      def emissions = collected.synchronized { collected.toVector }
      // key 1 was upserted twice (a1 then a2) in different epochs, then
      // key 2 retracted — the per-epoch changelog, not a final snapshot
      assert(emissions.count(_._1 == 1) == 2, emissions.mkString(","))
      assert(emissions.filter(_._1 == 2).map(_._4).toSeq.contains(true),
        "the tombstone must emit a deleted=true retraction")
      // restart arm: more updates + a delete land, the SAME checkpoint
      // resumes and applies only the new rows
      w(Seq(3 -> "c2", 5 -> "e1"))
      del(1)
      drain()
      // final state = last emission per key, deletes applied
      val finalState = emissions.groupBy(_._1).map { case (id, es) =>
        id -> es.maxBy(_._2) }.collect {
        case (id, (_, _, payload, false)) => id -> payload }
      assert(finalState == Map(3 -> "c2", 4 -> "d1", 5 -> "e1"),
        finalState.toString)
      // row-identical to the batch table view of the same log
      val batch = Ripple.readTable(spark, root, "ktab")
        .select(col("id"), col("data").cast("string"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toMap
      assert(batch == finalState,
        s"drained stream state $finalState must equal batch readTable $batch")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("consumer-group members split buckets disjointly; union = topic; overlap refused") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "grp", numBuckets = 4)
    Ripple.write((1 to 40).map(i => (i, s"p$i".getBytes)).toDF("id", "data"),
      root, "grp", 4)
    // two member queries under ONE consumerId, running concurrently;
    // each member owns its OWN managed checkpoint (members can never
    // share one), collected through foreachBatch
    val got = Map(0 -> scala.collection.mutable.ArrayBuffer.empty[(String, Int)],
      1 -> scala.collection.mutable.ArrayBuffer.empty[(String, Int)])
    def member(i: Int) = Ripple
      .readStreamMember(spark, root, "grp", "cg", member = i, members = 2)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("bucket", "id").collect()
            .map(r => (r.getString(0), r.getInt(1)))
          got(i).synchronized { got(i) ++= rows }
          ()
      }
      .option("checkpointLocation",
        Ripple.memberCheckpoint(root, "grp", "cg", i, 2)).start()
    val q0 = member(0); val q1 = member(1)
    try { q0.processAllAvailable(); q1.processAllAvailable() }
    finally { q0.stop(); q1.stop() }
    val b0 = got(0).synchronized(got(0).map(_._1).toSet)
    val b1 = got(1).synchronized(got(1).map(_._1).toSet)
    assert(b0.nonEmpty && b1.nonEmpty, s"both members must own buckets: $b0 / $b1")
    assert(b0.intersect(b1).isEmpty, s"bucket ownership must be disjoint: $b0 / $b1")
    val ids = got(0).map(_._2).toSet ++ got(1).map(_._2).toSet
    assert(ids == (1 to 40).toSet, "the union of members must cover the topic")
    // cursor accounting: each member committed its own file; the merged
    // group position covers every bucket of the topic
    val cursor = Ripple.consumerOffsets(root, "grp")("cg")
    assert(cursor.keySet == (b0 ++ b1), cursor.toString)
    assert(cursor.values.sum == 40, cursor.toString)
    // a member of a DIFFERENT layout overlaps — refused at query start
    val q3 = Ripple.readStreamMember(spark, root, "grp", "cg", 0, 3)
      .writeStream.format("memory").queryName("g3")
      .option("checkpointLocation", tmp()).start()
    val e = intercept[Exception] {
      try q3.processAllAvailable() finally q3.stop() }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("member claims")), chain(e).mkString("|"))
    // rebalance-on-restart: drop the claims with the group stopped, then
    // the new layout starts cleanly and resumes from the merged cursor
    Ripple.dropGroupClaims(root, "grp", "cg")
    Ripple.write(Seq((41, "p41".getBytes)).toDF("id", "data"), root, "grp", 4)
    val qs = (0 until 3).map { i =>
      Ripple.readStreamMember(spark, root, "grp", "cg", i, 3)
        .writeStream.format("memory").queryName(s"h$i")
        .option("checkpointLocation", tmp()).start()
    }
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    val resumed = (0 until 3).flatMap(i =>
      spark.table(s"h$i").select("id").as[Int].collect()).toSet
    assert(resumed == Set(41),
      s"the new layout must resume from the group cursor, got $resumed")
    // loud option hygiene: a member needs the shared consumerId, both
    // knobs, and a valid index
    val e2 = intercept[Exception] {
      spark.read.format("ripple").option("path", root).option("topic", "grp")
        .option("groupMember", 0).option("groupMembers", 2).load().count()
    }
    assert(chain(e2).exists(_.contains("consumerId")), chain(e2).mkString("|"))
    val e3 = intercept[Exception] {
      spark.read.format("ripple").option("path", root).option("topic", "grp")
        .option("consumerId", "cg").option("groupMembers", 2).load().count()
    }
    assert(chain(e3).exists(_.contains("set BOTH")), chain(e3).mkString("|"))
  }


  // ---- file: checkpoint manager and spawn-free local I/O ----

  private val ManagerKey = graft.streaming.LocalCheckpointFileManager.Key
  private val SparkDefaultManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileContextBasedCheckpointFileManager"
  private val eventSchema = StructType(Seq(
    StructField("user", StringType), StructField("value", DoubleType)))

  private def localManager(dir: String): graft.streaming.LocalCheckpointFileManager =
    new graft.streaming.LocalCheckpointFileManager(
      new org.apache.hadoop.fs.Path(new java.io.File(dir).toURI),
      spark.sparkContext.hadoopConfiguration)

  private def writeVia(out: org.apache.hadoop.fs.FSDataOutputStream, s: String): Unit =
    out.write(s.getBytes("UTF-8"))

  private def listNames(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("file: log and checkpoint I/O start no Hadoop Shell process (JFR jdk.ProcessStart)") {
    import spark.implicits._
    val root = tmp()
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    // Hadoop's Shell probes for `setsid` once per JVM, in its static
    // initializer: load it first so only per-operation spawns count
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val epochs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    try {
      Ripple.createTopic(root, "sp", numBuckets = 2)
      val lg = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
      (0 until 20).foreach { i =>
        lg.append(graft.model.TopicBucket("sp", f"b${i % 2}%04d"), (0 until 5).map { j =>
          graft.model.Payload(i * 5 + j, s"""{"user":"u$j","value":1.0}""".getBytes("UTF-8"))
        })
      }
      Ripple.writePacked((0 until 30).map(i => (s"w$i", 2.0)).toDF("user", "value"),
        root, "sp", col("user"), numBuckets = 2)
      val agg = TopicStreams.windowedCounts(
        TopicStreams.lift(Ripple.readStream(spark, root, "sp", maxOffsetsPerTrigger = 40L,
          consumerId = Some("agg")), eventSchema), "_ts", "1 hour", "10 seconds")
      val q = agg.writeStream.outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, e: Long) => b.count(); epochs.add(e); () }
        .option("checkpointLocation", Ripple.consumerCheckpoint(root, "sp", "agg"))
        .start()
      assert(q.awaitTermination(120000), "the drain must finish")
      assert(q.exception.isEmpty, q.exception.toString)
    } finally {
      rec.stop()
      rec.dump(dump)
      rec.close()
    }
    assert(epochs.size >= 3, s"130 rows at 40 per trigger run >= 3 epochs, got $epochs")
    assert(Ripple.consumerOffsets(root, "sp")("agg").values.sum == 130L)
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    Files.deleteIfExists(dump)
    val viaShell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    assert(viaShell.isEmpty, s"${viaShell.size} Hadoop Shell spawns, the first:\n" +
      viaShell.headOption.fold("")(e => e.getString("command") + "\n" +
        e.getStackTrace.getFrames.asScala.take(20)
          .map(f => s"  ${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}")
          .mkString("\n")))
  }

  test("checkpoint manager: a refused createAtomic throws FileAlreadyExistsException and leaves no temp file") {
    val dir = tmp()
    val fm = localManager(dir)
    assert(fm.delegate.getClass.getSimpleName == "LocalCheckpointFiles")
    assert(fm.isLocal)
    val p = new org.apache.hadoop.fs.Path(new java.io.File(dir, "0").toURI)
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    writeVia(first, "one")
    first.close()
    val second = fm.createAtomic(p, overwriteIfPossible = false)
    writeVia(second, "two")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](second.close())
    second.cancel() // what Spark's metadata log does next; a no-op here
    assert(new String(Files.readAllBytes(new java.io.File(dir, "0").toPath), "UTF-8") == "one")
    assert(listNames(dir) == Set("0"), "no temp file and no .crc sidecar")
  }

  test("checkpoint manager: cancel() publishes nothing and leaves no temp file") {
    val dir = tmp()
    val fm = localManager(dir)
    val p = new org.apache.hadoop.fs.Path(new java.io.File(dir, "state.delta").toURI)
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    writeVia(out, "partial")
    assert(listNames(dir).exists(_.endsWith(".tmp")), "the write goes to a temp file")
    out.cancel()
    out.close() // after cancel, close must not publish
    assert(listNames(dir).isEmpty, listNames(dir).toString)
    assert(!fm.exists(p))
  }

  test("checkpoint manager: a replace drops the stale .crc, so checksum-verifying readers see the new bytes") {
    val dir = tmp()
    val f = new java.io.File(dir, "1")
    val p = new org.apache.hadoop.fs.Path(f.toURI)
    // Spark's shared local filesystem keeps checksums, as Spark's default
    // checkpoint manager does
    val shared = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val old = shared.create(p, true)
    old.write("old bytes".getBytes("UTF-8"))
    old.close()
    assert(listNames(dir) == Set("1", ".1.crc"))
    val fm = localManager(dir)
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    writeVia(out, "new bytes, longer than the old")
    out.close()
    assert(listNames(dir) == Set("1"), listNames(dir).toString)
    val in = shared.open(p)
    try assert(new String(in.readAllBytes(), "UTF-8") == "new bytes, longer than the old")
    finally in.close()
  }

  test("checkpoint manager: non-file: checkpoints keep Spark's default manager") {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.hdfstest.impl", classOf[StrictHdfsTestFs].getName)
    conf.set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    conf.set(ManagerKey, classOf[graft.streaming.LocalCheckpointFileManager].getName)
    val vanilla = new org.apache.hadoop.conf.Configuration(conf)
    vanilla.unset(ManagerKey)
    for (scheme <- Seq("hdfstest", "ostest")) {
      val p = new org.apache.hadoop.fs.Path(s"$scheme:${tmp()}")
      val installed = org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(p, conf)
      val fm = installed.asInstanceOf[graft.streaming.LocalCheckpointFileManager]
      val spark0 = org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(p, vanilla)
      assert(fm.delegate.getClass == spark0.getClass, s"$scheme: ${fm.delegate.getClass}")
      assert(fm.delegate.getClass.getName.startsWith(
        "org.apache.spark.sql.execution.streaming.checkpointing."))
    }
  }

  test("checkpoint manager: the provider installs it only in a session that names none") {
    val root = tmp()
    Ripple.createTopic(root, "inst", numBuckets = 1)
    def loadIn(s: SparkSession): Unit = {
      SparkSession.setActiveSession(s)
      try s.read.format("ripple").option("path", root).option("topic", "inst").load()
      finally SparkSession.setActiveSession(spark)
    }
    val optedOut = spark.newSession()
    optedOut.conf.set(ManagerKey, SparkDefaultManager)
    loadIn(optedOut)
    assert(optedOut.conf.get(ManagerKey) == SparkDefaultManager)
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(ManagerKey).isEmpty)
    loadIn(fresh)
    assert(fresh.conf.get(ManagerKey) == classOf[graft.streaming.LocalCheckpointFileManager].getName)
  }

  test("checkpoint manager: a query resumes exactly once from a checkpoint Spark's default manager wrote") {
    import spark.implicits._
    val root = tmp()
    val ckpt = tmp()
    Ripple.createTopic(root, "rs", numBuckets = 2)
    Ripple.write((0 until 40).map(i => (i, s"a$i".getBytes("UTF-8"))).toDF("id", "data"),
      root, "rs", numBuckets = 2)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def drain(s: SparkSession): Unit = {
      SparkSession.setActiveSession(s)
      try {
        val q = Ripple.readStream(s, root, "rs", maxOffsetsPerTrigger = 15L)
          .groupBy(col("bucket")).count()
          .writeStream.outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach(r => counts.put(r.getString(0), r.getLong(1))); ()
          }
          .option("checkpointLocation", ckpt).start()
        assert(q.awaitTermination(120000), "the drain must finish")
        assert(q.exception.isEmpty, q.exception.toString)
      } finally SparkSession.setActiveSession(spark)
    }
    val sparkManaged = spark.newSession()
    sparkManaged.conf.set(ManagerKey, SparkDefaultManager)
    drain(sparkManaged)
    val crcs = Files.walk(java.nio.file.Paths.get(ckpt))
    val crcCount = try crcs.iterator().asScala.count(_.toString.endsWith(".crc"))
      finally crcs.close()
    assert(crcCount > 0, "Spark's default manager writes .crc sidecars")
    Ripple.write((40 until 70).map(i => (i, s"b$i".getBytes("UTF-8"))).toDF("id", "data"),
      root, "rs", numBuckets = 2)
    val resumed = spark.newSession()
    drain(resumed)
    assert(resumed.conf.get(ManagerKey) ==
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    // the running count per bucket is exactly that bucket's rows: no offset
    // replayed from the older epochs, none skipped
    val ends = Ripple.endOffsets(root, "rs")
    assert(ends.values.sum == 70L)
    assert(counts.asScala.toMap == ends, s"${counts.asScala} vs $ends")
  }
}
