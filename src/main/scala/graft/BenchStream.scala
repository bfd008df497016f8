package graft

import graft.api.Ripple

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Streaming-throughput bench for the `ripple` connector — the number the
  * reference exists to produce: rows/sec through produce → replicate →
  * consume (`internal/broker/producer/server/core.go:21-34` feeds the queue,
  * `internal/broker/consumer/server/core.go:46-64` streams it back out).
  * The reference publishes no measured figure, only a capacity envelope
  * (1,000 messages buffered per connection, `config.toml:21-22`, recorded
  * in BASELINE.md); this bench records ours so a regression in the
  * connector's hot path (frame codec, admission control, offset planning)
  * shows up as a number, not a hunch.
  *
  * Shape: the sf events table is JSON-packed and produced through the
  * batch DSv2 sink (the produce path, exactly-once commit protocol on),
  * then consumed back through the micro-batch source under a row cap that
  * forces ~16 epochs — each epoch lifts the payloads to columns and runs a
  * watermarked tumbling-window aggregation, the canonical streaming
  * consumer. Reported: produce and consume rows/sec and per-epoch latency
  * (from the query's own progress telemetry).
  */
object BenchStream {

  /** `consumeSec` is the UNCAPPED drain (peak throughput); `cappedSec` the
    * rate-capped ~16-epoch drain the latency stats come from (small-batch
    * rates are dominated by Spark's fixed per-epoch cost — state-store
    * commit + offset log — which is exactly what epoch_ms reports).
    *
    * EPOCH-COST DIAGNOSIS (round 6, SPARK_GRAFT_STREAM_DEBUG=1 profile):
    * per-epoch `durationMs` at 32 shuffle partitions — latestOffset 1 ms,
    * getBatch 0.3 ms, walCommit 41 ms, commitOffsets 48 ms, addBatch
    * ~730 ms. The connector's polling (commit-log reads in `sizes()` /
    * segment listing in `planInputPartitions`) is the 1 ms — NOT the
    * bottleneck; addBatch is, and inside it the stateful window agg's 32
    * HDFS-backed state-store instances pay ~200 ms of update+commit EACH
    * per epoch for a state of ~250 rows. Fix: the stream section
    * right-sizes `spark.sql.shuffle.partitions` (4) before starting the
    * query — state-store count is pinned per checkpoint at query start,
    * so this is exactly where partition sizing belongs. Measured: 32
    * partitions → 1.8-7k rows/s capped, 3.4 s worst epoch; 4 partitions →
    * ~12.8k rows/s, 450 ms avg epoch. At a real 100 TB deployment the
    * state is millions of windows and hundreds of partitions is correct;
    * for a 6k-row micro-batch holding 250 state rows it was pure
    * per-instance overhead.
    */
  case class StreamStats(rows: Long, produceSec: Double, consumeSec: Double,
      cappedSec: Double, epochs: Int, epochMsAvg: Double, epochMsMax: Double,
      extraJson: String = "") {
    def produceRowsPerSec: Double = if (produceSec > 0) rows / produceSec else 0
    def consumeRowsPerSec: Double = if (consumeSec > 0) rows / consumeSec else 0
    def cappedRowsPerSec: Double = if (cappedSec > 0) rows / cappedSec else 0
    /** End-to-end produce→consume rate — the headline number. */
    def rowsPerSec: Double =
      if (produceSec + consumeSec > 0) rows / (produceSec + consumeSec) else 0
    def json: String =
      s"""{"stream_rows":$rows,"stream_rows_per_sec":${math.rint(rowsPerSec)},""" +
        s""""stream_produce_rows_per_sec":${math.rint(produceRowsPerSec)},""" +
        s""""stream_consume_rows_per_sec":${math.rint(consumeRowsPerSec)},""" +
        s""""stream_capped_rows_per_sec":${math.rint(cappedRowsPerSec)},""" +
        s""""stream_epochs":$epochs,"stream_epoch_ms_avg":${math.rint(epochMsAvg)},""" +
        s""""stream_epoch_ms_max":${math.rint(epochMsMax)}$extraJson}"""
  }

  /** The payload schema the consumer lifts back out of the JSON blobs. */
  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  def run(spark: SparkSession, sfDir: String, numBuckets: Int = 8,
      targetEpochs: Int = 16): StreamStats = {
    val root = Files.createTempDirectory("graft-bench-stream").toString
    val topic = "bench"
    Ripple.createTopic(root, topic, numBuckets)

    // events.ts type drifts across testdata drops (nanos-as-long vs
    // timestamp[us]) — use the shared schema-dispatching reader
    val src = graft.queries.Relational.events(spark, sfDir)
    val packed = Ripple.pack(src, col("event_id"))
      .localCheckpoint() // pin upstream prep OUTSIDE the measured window
    val rows = packed.count()

    val t0 = System.nanoTime()
    Ripple.write(packed, root, topic, numBuckets)
    val produceSec = (System.nanoTime() - t0) / 1e9

    // One consumer pipeline, run twice from fresh checkpoints (= fresh
    // consumer IDs, full replay each): rate-capped for the per-epoch
    // latency profile, uncapped for peak drain throughput.
    def consume(cap: Long): (Double, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
      val lifted = Ripple.lift(
        Ripple.readStream(spark, root, topic, maxOffsetsPerTrigger = cap),
        eventSchema)
      val t1 = System.nanoTime()
      val q = lifted
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("graft-bench-ck").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // SPARK_GRAFT_STREAM_DEBUG=1: per-epoch phase breakdown (addBatch /
      // getBatch / latestOffset / walCommit / commitOffsets / stateMemory)
      // to stderr — the diagnosis loop for epoch-overhead questions.
      if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("1"))
        q.recentProgress.foreach(p => System.err.println(s"[stream-epoch] ${p.json}"))
      ((System.nanoTime() - t1) / 1e9, q.recentProgress.filter(_.numInputRows > 0))
    }
    // Right-size state partitioning for the stream's actual state (~250
    // window rows): partitions are pinned into the checkpoint at query
    // start, so set before and restore after (the batch bench and sf1
    // probe must keep the session's 32).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(4, prevShuffle.toInt).toString)
    val (cappedSec, eps) =
      try consume(math.max(rows / targetEpochs, 1L))
      finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val (consumeSec, _) = consume(Long.MaxValue)

    val durs = eps.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    StreamStats(rows, produceSec, consumeSec, cappedSec, eps.length,
      if (durs.nonEmpty) durs.sum / durs.length else 0.0,
      if (durs.nonEmpty) durs.max else 0.0,
      compactCell(spark))
  }

  /** Segment-compaction cell (round-11 verdict #2): a streaming sink at
    * high trigger rates publishes ~10^4 tiny segments per bucket per hour;
    * planning stays cheap via the commit log but the SCAN pays one input
    * partition (one task, one open/close) per tiny file. Measure a real
    * scan over a 2000-tiny-segment bucket before and after in-place
    * compaction, plus the compaction cost itself. Failure degrades to
    * missing fields, never fails the stream bench.
    */
  private def compactCell(spark: SparkSession): String = try {
    val root = Files.createTempDirectory("graft-bench-compact").toString
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    val tb = graft.model.TopicBucket("tiny", "b0000")
    log.fs.mkdirs(log.bucketDir(tb))
    val nSegs = 2000
    val rowsPer = 5
    val now = System.currentTimeMillis()
    log.publishStaged(tb, (0 until nSegs).map { i =>
      val p = new org.apache.hadoop.fs.Path(log.bucketDir(tb), s".staged-$i")
      val bytes = graft.log.SegmentCodec.write(log.fs, p,
        // one distinct ts per segment so the seek cell below has a real
        // 2000-step time axis (compaction/scan cells ignore ts)
        (0 until rowsPer).map(j => (graft.model.Payload(j, Array[Byte](1)), now + i)))
      graft.log.SegMeta(p.toString, i.toLong * rowsPer, rowsPer.toLong, now + i, now + i,
        bytes, rowsPer.toLong)
    })
    // Timestamp-seek cell (round 12): COLD reads the commit log and builds
    // the bucket's view and running-max index from the 2000 records'
    // maxTs (no frame scan); WARM reuses that index and walks ONE boundary
    // segment — the cold/warm split measures the commit-log read
    // (DESIGN §14.7).
    val seekTarget = now + nSegs / 2
    def seekSec(): Double = {
      val t = System.nanoTime()
      val o = log.offsetForTimestamp(tb, seekTarget)
      require(o == (nSegs / 2).toLong * rowsPer, s"seek returned $o")
      (System.nanoTime() - t) / 1e9
    }
    val seekCold = seekSec()
    val seekWarm = seekSec()
    def scanSec(): Double = {
      val t = System.nanoTime()
      // a real frame scan: max(id) is NOT metadata-answerable (only
      // COUNT(*) / MIN/MAX(offset) / MIN/MAX(ts) complete-push), so every
      // tiny segment costs a task + open + header walk — the per-file
      // cost this cell exists to measure. max("offset") stopped measuring
      // anything when the round-12 metadata-aggregate pushdown landed
      // (the 0.048 s "2000-segment scans" in BENCH_HISTORY were driver
      // plan time); the plan assert keeps a future pushdown widening from
      // silently re-voiding the cell.
      val df = Ripple.read(spark, root, "tiny")
        .agg(org.apache.spark.sql.functions.max("id"))
      require(!df.queryExecution.executedPlan.toString.contains("metadata-agg"),
        "scan cell must read frames, not a metadata answer")
      val m = df.head().getInt(0)
      require(m == rowsPer - 1, s"scan saw wrong ids: $m")
      (System.nanoTime() - t) / 1e9
    }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val before = scanSec()
    val t = System.nanoTime()
    val merged = log.compactSegments("tiny")
    val compactSec = (System.nanoTime() - t) / 1e9
    val segsAfter = log.segments(tb).size
    val after = scanSec()
    try log.fs.delete(log.root, true) // scratch cleanup, outside timed windows
    catch { case _: java.io.IOException => () }
    s""","compact_segs_before":$nSegs,"compact_segs_after":$segsAfter,""" +
      s""""compact_merged":$merged,"compact_sec":${r3(compactSec)},""" +
      s""""compact_scan_before_sec":${r3(before)},"compact_scan_after_sec":${r3(after)},""" +
      s""""seek_segs":$nSegs,"seek_cold_sec":${r3(seekCold)},"seek_warm_sec":${r3(seekWarm)}"""
  } catch { case e: Throwable =>
    System.err.println(s"[bench] compact cell failed: ${e.getMessage}")
    ""
  }

  /** Standalone entry point: one JSON line, same fields Bench merges in. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-stream")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, sfDir).json)
    spark.stop()
  }
}
