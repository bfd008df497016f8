package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Ripple
import graft.connector.TopicConfig
import graft.log.{FileTopicLog, LogFs}
import graft.model.{Payload, TopicBucket}
import graft.ops.Curate
import graft.streaming.TopicStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** What one run shares: the session, the tracer, the topic root, the seed,
  * the size scale and the output-check tally.
  */
final class Ctx(var spark: SparkSession, var tracer: Tracer, val root: String,
    val seed: Long, val scale: Double, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(what: String, ok: Boolean, detail: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = s"check failed: $what: $detail"
      failures += msg
      System.err.println(msg)
    }
    ok
  }

  def span[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  def scaled(n: Int, min: Int): Int = math.max(min, (n * scale).toInt)
}

/** A measured phase: end-to-end figures plus what the layers reported. */
final case class Phase(e2e: Map[String, Double], layer: Map[String, Double],
    info: Map[String, Any] = Map.empty)

/** A workload's records in the shape the layer probes take them. Without
  * a text column, the ops probes read each record's JSON as its text.
  * `rawBytes` is the payload size before compression, 0 when not tracked.
  */
final case class ProbeInput(frame: SparkSession => DataFrame, idCol: String,
    textCol: Option[String], topic: String, rawBytes: Long, rows: Long)

trait Workload {
  type State
  def name: String
  /** Create and fill a fresh topic: the repeated part of set-up. */
  def prepare(ctx: Ctx, rep: Int): State
  /** Release what a prepared state holds (running queries, pins). */
  def release(ctx: Ctx, st: State): Unit = ()
  def measure(ctx: Ctx, st: State, seconds: Double): Phase
  /** The untimed run before the measurement; it releases `st`. */
  def warmUp(ctx: Ctx, st: State, seconds: Double): Unit = {
    measure(ctx, st, seconds)
    release(ctx, st)
  }
  def probeInput(ctx: Ctx, st: State): ProbeInput
  /** The end-to-end metric the tracing overhead is read from. */
  def headline: (String, Boolean) // (metric, higher is better)
}

object Workloads {
  val all: Seq[Workload] = Seq(PubsubJson, StreamTail, ScanLog, CurateDocs)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n'; expected one of ${all.map(_.name).mkString(", ")}"))

  val Buckets = 8

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, secs(t0))
  }

  /** Evaluate every column of `df` without collecting it. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def du(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  def topicDir(ctx: Ctx, topic: String): String = s"${ctx.root}/$topic"

  def topicLog(ctx: Ctx): FileTopicLog = FileTopicLog.cached(ctx.root, LogFs.activeHadoopConf)

  def parseEnds(json: String): Map[String, Long] =
    if (json == null) Map.empty else graft.connector.RippleOffset.fromJson(json).ends

  /** Wall-clock ms at which an epoch committed. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  /** Per-layer figures from a streaming query's progress reports. */
  def streamLayer(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val eps = ps.filter(_.numInputRows > 0)
    def d(k: String) = eps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
    val states = eps.flatMap(_.stateOperators.headOption)
    def srcMax(k: String) = ps.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.metrics).flatMap(m => Option(m.get(k)))).map(_.toDouble)
      .foldLeft(0.0)(math.max)
    Map(
      "stream.epochs" -> eps.size.toDouble,
      "stream.epoch_ms_p50" -> Stats.pct(d("triggerExecution"), 50),
      "stream.epoch_ms_p99" -> Stats.pct(d("triggerExecution"), 99),
      "stream.latest_offset_ms_mean" -> Stats.mean(d("latestOffset")),
      "stream.get_batch_ms_mean" -> Stats.mean(d("getBatch")),
      "stream.query_planning_ms_mean" -> Stats.mean(d("queryPlanning")),
      "stream.add_batch_ms_mean" -> Stats.mean(d("addBatch")),
      "stream.wal_commit_ms_mean" -> Stats.mean(d("walCommit")),
      "stream.commit_offsets_ms_mean" -> Stats.mean(d("commitOffsets")),
      "stream.state_rows" -> states.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max),
      "stream.state_memory_bytes" -> states.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max),
      "stream.state_commit_ms_mean" -> Stats.mean(states.map(_.commitTimeMs.toDouble)),
      "connector.offsets_behind_max" -> srcMax("maxOffsetsBehindLatest"),
      "connector.ts_behind_ms_max" -> srcMax("maxTsBehindLatestMs"))
  }

  /** The consumer side shared by the event workloads: lift the JSON
    * payloads and keep a windowed count and sum of `value` by event time.
    * Window updates land in `sink`, keyed by window start.
    */
  def windowedAgg(ctx: Ctx, topic: String, windowLen: String,
      maxPerTrigger: Long, consumer: Option[String]): DataFrame = {
    val stream = Ripple.readStream(ctx.spark, ctx.root, topic, maxPerTrigger, consumer)
    val lifted = TopicStreams.lift(stream, Gen.eventSchema)
      .withColumn("ets", timestamp_millis(col("ts_ms")))
    TopicStreams.windowedCounts(lifted, "ets", "3650 days", windowLen)
  }

  /** Exchanges in the plan of a query's last epoch; every epoch of these
    * queries runs the same plan. A foreachBatch sink only sees the epoch's
    * result, so the query-execution listener cannot count them.
    */
  def epochExchanges(q: StreamingQuery): Long = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
        if w.streamingQuery.lastExecution != null =>
      EngineListener.countExchanges(w.streamingQuery.lastExecution.executedPlan)
    case _ => 0L
  }

  /** Probe records for the event workloads: a generator batch of their
    * own, apart from every batch the workload publishes.
    */
  def eventProbeInput(ctx: Ctx, topic: String): ProbeInput = {
    val (seed, n, parts) = (ctx.seed, ctx.scaled(120000, 2000), ctx.cores)
    ProbeInput(spark => {
      import spark.implicits._
      spark.sparkContext.parallelize(0 until parts, parts)
        .mapPartitions(_.flatMap(p => Gen.events(seed, 9999, p, n / parts))).toDF()
    }, "user", None, topic, 0L, n.toLong / parts * parts)
  }

  def sinkInto(into: ConcurrentHashMap[Long, (Long, Long)]): (DataFrame, Long) => Unit =
    (df, _) => df.collect().foreach { r =>
      into.put(r.getTimestamp(0).getTime, (r.getLong(2), r.getLong(3)))
    }

  def sameTotals(got: ConcurrentHashMap[Long, (Long, Long)],
      want: collection.Map[Long, (Long, Long)]): Boolean =
    got.asScala.toMap == want.toMap

  def diffTotals(got: ConcurrentHashMap[Long, (Long, Long)],
      want: collection.Map[Long, (Long, Long)]): String = {
    val g = got.asScala.toMap; val w = want.toMap
    (g.keySet ++ w.keySet).toSeq.sorted.filter(k => g.get(k) != w.get(k)).take(5)
      .map(k => s"window $k: got ${g.get(k)} want ${w.get(k)}").mkString("; ")
  }
}

import Workloads._

/** Rounds of bulk publish of JSON events through `Ripple.writePacked`,
  * each followed by a named consumer catching up with AvailableNow in four
  * capped epochs, lifting the payloads into a 1-hour windowed count and sum.
  */
object PubsubJson extends Workload {
  val name = "pubsub_json"
  val headline = ("consume_rows_per_s", true)
  final class State(val topic: String) {
    val expected = mutable.Map.empty[Long, (Long, Long)]
    val sink = new ConcurrentHashMap[Long, (Long, Long)]()
    var rows = 0L
    var batch = 0
    var last: DataFrame = _
    var streamExchanges = 0L
  }

  def roundRows(ctx: Ctx): Int = ctx.scaled(160000, 4000)
  val EpochsPerRound = 4L

  private def generate(ctx: Ctx, st: State, n: Int): DataFrame = ctx.span("gen", "events") {
    val spark = ctx.spark
    import spark.implicits._
    val parts = ctx.cores
    val per = n / parts
    val (seed, b) = (ctx.seed, st.batch)
    st.batch += 1
    val df = spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitions(_.flatMap(p => Gen.events(seed, b, p, per))).toDF().cache()
    df.count()
    (0 until parts).foreach(p => Gen.windowTotals(Gen.events(seed, b, p, per), Gen.HourMs, st.expected))
    st.rows += per.toLong * parts
    df
  }

  private def produce(ctx: Ctx, st: State, df: DataFrame): Double =
    timed(ctx.span("api", "writePacked") {
      Ripple.writePacked(df, ctx.root, st.topic, col("user"), Buckets)
    })._2

  private def consume(ctx: Ctx, st: State, maxPerTrigger: Long): (Double, Seq[StreamingQueryProgress]) =
    ctx.span("streaming", "catch_up") {
      val t0 = System.nanoTime()
      // the state is six 1-hour windows: one state partition per core, not
      // one per shuffle slot (the first start fixes it in the checkpoint)
      val conf = ctx.spark.conf
      val shuffle = conf.get("spark.sql.shuffle.partitions")
      conf.set("spark.sql.shuffle.partitions", ctx.cores.toString)
      val q = try windowedAgg(ctx, st.topic, "1 hour", maxPerTrigger, Some("agg"))
        .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
        .foreachBatch(sinkInto(st.sink))
        .option("checkpointLocation", Ripple.consumerCheckpoint(ctx.root, st.topic, "agg"))
        .start()
      finally conf.set("spark.sql.shuffle.partitions", shuffle)
      ctx.tracer.startedQuery(q)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      st.streamExchanges += epochExchanges(q) * q.recentProgress.count(_.numInputRows > 0)
      (secs(t0), q.recentProgress.toSeq)
    }

  /** One round: (wall ms when the records went to the producer, publish
    * seconds, catch-up seconds, the catch-up's progress reports).
    */
  private def round(ctx: Ctx, st: State, n: Int): (Long, Double, Double, Seq[StreamingQueryProgress]) = {
    val df = generate(ctx, st, n)
    val sentMs = System.currentTimeMillis()
    val tp = produce(ctx, st, df)
    if (st.last != null) st.last.unpersist()
    st.last = df
    val (tc, ps) = consume(ctx, st, math.max(1L, n / EpochsPerRound))
    ctx.check(s"$name window totals after ${st.rows} records", sameTotals(st.sink, st.expected),
      diffTotals(st.sink, st.expected))
    val consumed = ps.map(_.numInputRows).sum
    ctx.check(s"$name consumed records", consumed == n.toLong / ctx.cores * ctx.cores,
      s"consumed $consumed of $n")
    (sentMs, tp, tc, ps)
  }

  def prepare(ctx: Ctx, rep: Int): State = {
    val st = new State(s"events_r$rep")
    Ripple.createTopic(ctx.root, st.topic, Buckets)
    round(ctx, st, ctx.scaled(40000, 800)) // warm-up round: code paths compiled, consumer registered
    st
  }

  override def release(ctx: Ctx, st: State): Unit = if (st.last != null) st.last.unpersist()

  def measure(ctx: Ctx, st: State, seconds: Double): Phase = rounds(ctx, st, seconds, roundRows(ctx))

  /** Quarter-size rounds: the per-round and per-epoch code paths, which
    * the JIT reaches last, run about four times as often as in the
    * measurement.
    */
  override def warmUp(ctx: Ctx, st: State, seconds: Double): Unit = {
    rounds(ctx, st, seconds, roundRows(ctx) / 4)
    release(ctx, st)
  }

  private def rounds(ctx: Ctx, st: State, seconds: Double, n: Int): Phase = {
    val t0 = System.nanoTime()
    val prod, cons = mutable.ArrayBuffer.empty[Double]
    // per round: (latency ms, records) of each epoch
    val lat = mutable.ArrayBuffer.empty[Seq[(Double, Long)]]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    while (prod.isEmpty || secs(t0) < seconds) {
      val (sentMs, tp, tc, ps) = round(ctx, st, n)
      val rows = (n / ctx.cores * ctx.cores).toDouble
      prod += rows / tp
      cons += rows / tc
      // every record of an epoch waited from its hand-off to the producer
      // until that epoch committed
      lat += ps.filter(_.numInputRows > 0).map(p => ((commitMs(p) - sentMs).toDouble, p.numInputRows))
      progress ++= ps
    }
    // A round's records share its four commit times, so a percentile
    // pooled over all records is set by the slowest round or two; the
    // median over rounds of each round's percentile is not.
    def latPct(q: Double) = Stats.median(lat.toSeq.map(Stats.weightedPct(_, q)))
    val disk = du(topicDir(ctx, st.topic)).toDouble
    Phase(
      Map("produce_rows_per_s" -> Stats.median(prod.toSeq),
        "consume_rows_per_s" -> Stats.median(cons.toSeq),
        "latency_p50_ms" -> latPct(50),
        "latency_p95_ms" -> latPct(95),
        "disk_bytes_per_row" -> disk / st.rows),
      streamLayer(progress.toSeq) ++ Map(
        "log.bytes_on_disk" -> disk,
        "spark.stream_exchanges" -> st.streamExchanges.toDouble),
      Map("rounds" -> prod.size, "round_rows" -> n, "latency_samples" -> lat.flatten.map(_._2).sum,
        "latency_epochs" -> lat.map(_.size).sum, "latency_p99_ms" -> latPct(99),
        "latency_pooled_p95_ms" -> Stats.weightedPct(lat.flatten.toSeq, 95),
        "produce_rows_per_s" -> prod.toSeq, "consume_rows_per_s" -> cons.toSeq,
        "latency_op" -> "record handed to writePacked to commit of the catch-up epoch that counted it"))
  }

  def probeInput(ctx: Ctx, st: State): ProbeInput = eventProbeInput(ctx, st.topic)
}

/** Open loop: one generator thread appends small batches of events to the
  * eight buckets on a fixed schedule through `FileTopicLog.append`, while a
  * streaming query lifts them into a windowed aggregate in update mode.
  * Latency runs from each event's due time to the commit of the epoch that
  * counted it.
  */
object StreamTail extends Workload {
  val name = "stream_tail"
  val headline = ("latency_p50_ms", false)
  val TickMs = 100L
  val BatchRows = 100 // rows per tick: 1000 rows/s over the eight buckets
  val TriggerMs = 1000L
  val WarmUpS = 3.0

  final case class Append(bucket: Int, first: Long, n: Int, dueMs: Long)

  /** Warm-up load: an append every 25 ms and back-to-back epochs, so the
    * per-append and per-epoch code paths run about four and three times as
    * often as under the measured schedule.
    */
  val WarmTickMs = 25L
  val WarmTriggerMs = 0L

  final class State(val topic: String, val tickMs: Long, val triggerMs: Long) {
    val expected = mutable.Map.empty[Long, (Long, Long)]
    val sink = new ConcurrentHashMap[Long, (Long, Long)]()
    val appends = mutable.ArrayBuffer.empty[Append]
    var query: StreamingQuery = _
    var nextId = 0L
    var rows = 0L
  }

  private def batch(ctx: Ctx, st: State, dueMs: Long, n: Int): Seq[Payload] = {
    val r = Gen.rng(ctx.seed, 2, st.nextId)
    val evs = (0 until n).map(i => Gen.event(r, st.nextId + i, dueMs))
    st.nextId += n
    Gen.windowTotals(evs.iterator, 10000L, st.expected)
    evs.map(e => Payload(e.user.hashCode & Int.MaxValue, e.json.getBytes("UTF-8")))
  }

  def prepare(ctx: Ctx, rep: Int): State = start(ctx, s"tail_r$rep", TickMs, TriggerMs)

  private def start(ctx: Ctx, topic: String, tickMs: Long, triggerMs: Long): State = {
    val st = new State(topic, tickMs, triggerMs)
    Ripple.createTopic(ctx.root, st.topic, Buckets, Gen.eventSchema)
    val lg = topicLog(ctx)
    val now = System.currentTimeMillis()
    (0 until Buckets).foreach { b =>
      val first = lg.append(TopicBucket(st.topic, f"b$b%04d"), batch(ctx, st, now, BatchRows))
      st.appends += Append(b, first, BatchRows, now)
      st.rows += BatchRows
    }
    // a small stream: two state-store partitions, not one per shuffle slot
    ctx.spark.conf.set("spark.sql.shuffle.partitions", "2")
    st.query = ctx.span("streaming", "start") {
      windowedAgg(ctx, st.topic, "10 seconds", Long.MaxValue, None)
        .writeStream.outputMode("update").trigger(Trigger.ProcessingTime(triggerMs))
        .foreachBatch(sinkInto(st.sink))
        .option("checkpointLocation", s"${ctx.root}/_ckpt_${st.topic}")
        .start()
    }
    ctx.tracer.startedQuery(st.query)
    st.query.processAllAvailable()
    st
  }

  override def release(ctx: Ctx, st: State): Unit =
    if (st.query != null && st.query.isActive) st.query.stop()

  /** At the measured schedule an epoch runs about once a second, so the
    * JIT would still be speeding the per-epoch path up through the
    * measurement, by as much as half, at a pace set by the host. The
    * warm-up runs the same load on a faster schedule instead.
    */
  override def warmUp(ctx: Ctx, st: State, seconds: Double): Unit = {
    release(ctx, st)
    val w = start(ctx, s"${st.topic}_warm", WarmTickMs, WarmTriggerMs)
    // measure() adds WarmUpS of load of its own before it measures
    try measure(ctx, w, math.max(1.0, seconds - WarmUpS)) finally release(ctx, w)
  }

  def measure(ctx: Ctx, st: State, seconds: Double): Phase = {
    val lg = topicLog(ctx)
    val appendMs, lateMs = mutable.ArrayBuffer.empty[Double]
    @volatile var genError: Throwable = null
    val genStartMs = System.currentTimeMillis() + 50
    // the first WarmUpS of load are sent and checked but not measured
    val tickMs = st.tickMs
    val warmTicks = (WarmUpS * 1000 / tickMs).toLong
    val startMs = genStartMs + warmTicks * tickMs
    val ticks = warmTicks + (seconds * 1000 / tickMs).toLong
    val skewNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val gen = new Thread(() => {
      try {
        var i = 0L
        while (i < ticks && genError == null) {
          val due = genStartMs + i * tickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val b = (i % Buckets).toInt
          val rows = batch(ctx, st, due, BatchRows)
          val t0 = System.nanoTime()
          if (i >= warmTicks) lateMs += math.max(0.0, (t0 + skewNs) / 1e6 - due)
          val first = ctx.span("log", "append") {
            lg.append(TopicBucket(st.topic, f"b$b%04d"), rows)
          }
          if (i >= warmTicks) appendMs += (System.nanoTime() - t0) / 1e6
          st.appends += Append(b, first, BatchRows, due)
          st.rows += BatchRows
          i += 1
        }
      } catch { case e: Throwable => genError = e }
    }, "perfbench-generator")
    val measuredFrom = st.appends.size + warmTicks.toInt
    gen.start()
    gen.join()
    val sentMs = System.currentTimeMillis()
    if (genError != null) throw genError
    ctx.span("streaming", "drain")(st.query.processAllAvailable())
    val progress = st.query.recentProgress.toSeq
    val exchanges = epochExchanges(st.query)
    st.query.stop()
    st.query.exception.foreach(e => throw e)

    // every offset of every bucket counted by exactly one epoch
    val ends = (0 until Buckets).map(b => st.appends.filter(_.bucket == b).map(a => a.first + a.n).maxOption.getOrElse(0L))
    val ranges = Array.fill(Buckets)(mutable.ArrayBuffer.empty[(Long, Long, Long)]) // (from, until, commitMs)
    progress.filter(_.numInputRows > 0).foreach { p =>
      val src = p.sources.head
      val from = parseEnds(src.startOffset); val until = parseEnds(src.endOffset)
      val commit = commitMs(p)
      until.foreach { case (k, e) =>
        val b = k.stripPrefix("b").toInt
        val s = from.getOrElse(k, 0L)
        if (e > s) ranges(b) += ((s, e, commit))
      }
    }
    var misplaced = 0L
    (0 until Buckets).foreach { b =>
      var next = 0L
      ranges(b).sortBy(_._1).foreach { case (s, e, _) =>
        if (s != next) misplaced += math.abs(s - next)
        next = e
      }
      misplaced += math.abs(ends(b) - next)
    }
    ctx.check(s"$name offsets counted exactly once", misplaced == 0, s"$misplaced offsets lost or repeated")
    ctx.check(s"$name window totals", sameTotals(st.sink, st.expected), diffTotals(st.sink, st.expected))

    val lat = mutable.ArrayBuffer.empty[Double]
    st.appends.drop(measuredFrom).foreach { a =>
      val rs = ranges(a.bucket)
      (a.first until a.first + a.n).foreach { o =>
        rs.find(r => o >= r._1 && o < r._2) match {
          case Some(r) => lat += (r._3 - a.dueMs).toDouble
          case None => lat += Double.PositiveInfinity // a lost record misses every limit
        }
      }
    }
    val sent = (st.appends.size - measuredFrom) * BatchRows
    ctx.attempted += sent
    ctx.failed += lat.count(_.isInfinite)
    def startMsOf(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    val eps = progress.filter(p => p.numInputRows > 0 && startMsOf(p) >= startMs)
    val windowS = (sentMs - startMs) / 1000.0
    // The rates are the open loop's achieved ones: about the offered
    // 1000 rows/s while the log and the stream keep up, lower once a
    // backlog builds. What one append or one epoch costs is in the
    // per-layer figures (log.append_ms_*, stream.epoch_ms_*); as rates
    // (rows per append over its 10th-percentile time, median over epochs
    // of rows per second of epoch time) they spread 0.17 and 0.20 of their
    // median over ten runs, set by how fast each JVM happens to run.
    // An epoch takes what was appended since the previous epoch started,
    // so the epochs that start inside the window consumed what arrived
    // from the start of the one before them; they are done when the last
    // commits.
    val first = progress.indexWhere(startMsOf(_) >= startMs)
    val inWindow = progress.drop(first).takeWhile(startMsOf(_) < sentMs)
    val consumeRate = if (first < 1 || inWindow.isEmpty) 0.0 else inWindow.map(_.numInputRows).sum /
      ((commitMs(inWindow.last) - startMsOf(progress(first - 1))) / 1000.0)
    val epochRates = eps.map(p => p.numInputRows / (p.durationMs.get("triggerExecution").doubleValue / 1000))
    val disk = du(topicDir(ctx, st.topic)).toDouble
    Phase(
      Map("produce_rows_per_s" -> sent / windowS,
        "consume_rows_per_s" -> consumeRate,
        "latency_p50_ms" -> Stats.pct(lat.toSeq, 50),
        "latency_p95_ms" -> Stats.pct(lat.toSeq, 95),
        "disk_bytes_per_row" -> disk / st.rows),
      streamLayer(progress.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= startMs)) ++ Map(
        "log.append_ms_p50" -> Stats.pct(appendMs.toSeq, 50),
        "log.append_ms_p99" -> Stats.pct(appendMs.toSeq, 99),
        "log.bytes_on_disk" -> disk,
        "gen.late_ms_p99" -> Stats.pct(lateMs.toSeq, 99),
        "spark.stream_exchanges" -> (exchanges * eps.size).toDouble,
        "gen.rows_per_s_achieved" -> sent / windowS),
      Map("rate_rows_per_s" -> BatchRows * 1000 / tickMs, "tick_ms" -> tickMs, "trigger_ms" -> st.triggerMs,
        "batch_rows" -> BatchRows, "latency_samples" -> lat.size,
        "append_capacity_rows_per_s" -> BatchRows / (Stats.pct(appendMs.toSeq, 10) / 1000),
        "epoch_capacity_rows_per_s" -> Stats.median(epochRates),
        "append_ms" -> Seq(10, 25, 50, 75, 90).map(q => q.toString -> Stats.pct(appendMs.toSeq, q)).toMap,
        "latency_p99_ms" -> Stats.pct(lat.toSeq, 99),
        "latency_op" -> "event due time to commit of the epoch that counted it"))
  }

  def probeInput(ctx: Ctx, st: State): ProbeInput = eventProbeInput(ctx, st.topic)
}

/** A zstd-compressed topic of opaque, time-stamped payloads built from many
  * small appends, then a seeded closed loop of reads (timestamp seek, offset
  * range, full aggregate, table view, metadata) with a small append every
  * few queries.
  */
object ScanLog extends Workload {
  val name = "scan_log"
  val headline = ("latency_p50_ms", false)
  val Keys = 20000
  /** One cycle of the closed loop; a small append to one bucket follows
    * every second query.
    */
  val Cycle = Seq("read_timestamp", "read_range", "describe", "read_timestamp",
    "read_range", "full_aggregate", "read_timestamp", "read_range", "describe", "read_table")

  final case class Rec(id: Int, ts: Long, data: Array[Byte]) {
    lazy val crc: Long = { val c = new java.util.zip.CRC32; c.update(data); c.getValue }
  }
  final class State(val topic: String) {
    val buckets = Array.fill(Buckets)(mutable.ArrayBuffer.empty[Rec])
    var nextTs = Gen.T0
    var writes = 0
    def rows: Long = buckets.map(_.size.toLong).sum
  }

  /** One publish of `parts` partitions of `perPart` records; ids are
    * distinct within a publish, timestamps rise in partition order.
    */
  private def append(ctx: Ctx, st: State, parts: Int, perPart: Int,
      bucket: Option[Int] = None): Double = {
    val r = Gen.rng(ctx.seed, 4, st.writes)
    st.writes += 1
    val ids = mutable.LinkedHashSet.empty[Int]
    while (ids.size < parts * perPart)
      ids += bucket.fold(r.nextInt(Keys))(b => r.nextInt(Keys / Buckets) * Buckets + b)
    val recs = ids.toSeq.map { id =>
      st.nextTs += 1
      Rec(id, st.nextTs, Gen.payload(r, Gen.payloadSize(r)))
    }
    val spark = ctx.spark
    import spark.implicits._
    val df = spark.sparkContext.parallelize(
        recs.map(x => (x.id, x.data, new java.sql.Timestamp(x.ts), f"b${x.id % Buckets}%04d")), parts)
      .toDF("id", "data", "ts", "bucket")
    val (_, t) = timed(ctx.span("connector", "write")(Ripple.write(df, ctx.root, st.topic, Buckets)))
    recs.foreach(x => st.buckets(x.id % Buckets) += x)
    t
  }

  def prepare(ctx: Ctx, rep: Int): State = {
    val st = new State(s"scan_r$rep")
    Ripple.createTopic(ctx.root, st.topic, Buckets)
    Ripple.setTopicConfig(ctx.root, st.topic, TopicConfig(compression = Some("zstd")))
    (0 until 4).foreach(_ => append(ctx, st, 2, ctx.scaled(768, 16)))
    st
  }

  private def agg2(df: DataFrame, second: org.apache.spark.sql.Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(second), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def measure(ctx: Ctx, st: State, seconds: Double): Phase = {
    val r = Gen.rng(ctx.seed, 5)
    val spark = ctx.spark
    val (root, topic) = (ctx.root, st.topic)
    val lat, prod, scan = mutable.ArrayBuffer.empty[Double]
    val kinds = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    var q = 0
    while (q % Cycle.size != 0 || secs(t0) < seconds) {
      if (q % 2 == 1) {
        val n = ctx.scaled(32, 8)
        prod += n / append(ctx, st, 1, n, Some(st.writes % Buckets))
      }
      val all = st.buckets.toSeq.flatten
      val kind0 = Cycle(q % Cycle.size)
      val (kind, run, want) =
        if (kind0 == "read_timestamp") {
          val span = st.nextTs - Gen.T0
          val from = Gen.T0 + r.nextLong(span)
          val until = from + 1 + r.nextLong(span / 4 + 1)
          val w = all.filter(x => x.ts >= from && x.ts < until)
          ("read_timestamp", () => ctx.span("connector", "read_timestamp")(
            agg2(Ripple.readTimestamp(spark, root, topic, from, until), length(col("data")))),
            (w.size.toLong, w.map(_.data.length.toLong).sum))
        } else if (kind0 == "read_range") {
          val minEnd = st.buckets.map(_.size).min
          val from = r.nextInt(math.max(1, minEnd)).toLong
          val until = from + 1 + r.nextInt(200)
          val w = st.buckets.toSeq.flatMap(_.slice(from.toInt, until.toInt))
          ("read_range", () => ctx.span("connector", "read_range")(
            agg2(Ripple.readRange(spark, root, topic, from, until), length(col("data")))),
            (w.size.toLong, w.map(_.data.length.toLong).sum))
        } else if (kind0 == "full_aggregate") {
          ("full_aggregate", () => ctx.span("connector", "full_aggregate")(
            agg2(Ripple.read(spark, root, topic), crc32(col("data")))),
            (all.size.toLong, all.map(_.crc).sum))
        } else if (kind0 == "read_table") {
          val latest = st.buckets.toSeq.flatMap(_.groupBy(_.id).values.map(_.last))
          ("read_table", () => ctx.span("connector", "read_table")(
            agg2(Ripple.readTable(spark, root, topic), crc32(col("data")))),
            (latest.size.toLong, latest.map(_.crc).sum))
        } else {
          ("describe", () => ctx.span("log", "describe") {
            val d = Ripple.describeTopic(root, topic)
            val e = Ripple.endOffsets(root, topic)
            (d.rows, e.valuesIterator.sum)
          }, (all.size.toLong, all.size.toLong))
        }
      val (got, t) = timed(run())
      lat += t * 1000
      kinds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += t * 1000
      if (kind == "full_aggregate") scan += got._1 / t
      ctx.check(s"$name $kind", got == want, s"got $got want $want")
      q += 1
    }
    val disk = du(topicDir(ctx, topic)).toDouble
    val raw = st.buckets.iterator.flatten.map(_.data.length.toLong).sum
    Phase(
      Map("produce_rows_per_s" -> Stats.median(prod.toSeq),
        "consume_rows_per_s" -> Stats.median(scan.toSeq),
        "latency_p50_ms" -> Stats.pct(lat.toSeq, 50),
        "latency_p95_ms" -> Stats.pct(lat.toSeq, 95),
        "disk_bytes_per_row" -> disk / st.rows),
      Map("log.bytes_on_disk" -> disk, "log.compress_ratio" -> raw / disk),
      Map("queries" -> kinds.map { case (k, v) => k -> v.size }.toMap,
        "query_ms_p50" -> kinds.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
        "latency_samples" -> lat.size,
        "latency_op" -> "one query of the closed-loop mix", "rows" -> st.rows))
  }

  def probeInput(ctx: Ctx, st: State): ProbeInput = {
    val recs = st.buckets.toSeq.flatten.map(x => (x.id, new String(x.data, "UTF-8"), new java.sql.Timestamp(x.ts)))
    val raw = st.buckets.iterator.flatten.map(_.data.length.toLong).sum
    ProbeInput(spark => {
      import spark.implicits._
      spark.sparkContext.parallelize(recs, ctx.cores).toDF("id", "payload_text", "ts")
    }, "id", Some("payload_text"), st.topic, raw, recs.size.toLong)
  }
}

/** A document corpus with planted exact and near duplicates, published to
  * a typed topic, read back with `readLifted` and run through
  * `Curate.run` with exact dedup and MinHash near-dup on.
  */
object CurateDocs extends Workload {
  val name = "curate_docs"
  val headline = ("consume_rows_per_s", true)
  val cfg = Curate.Config(qualityFilter = false, nearDupThreshold = Some(0.8))
  private val produced = mutable.ArrayBuffer.empty[Double]

  final class State(val topic: String, val docs: Seq[Gen.Doc], val keep: Set[Long])

  def prepare(ctx: Ctx, rep: Int): State = {
    val (docs, keep) = Gen.corpus(ctx.seed, ctx.scaled(1200, 200), 0.3)
    val st = new State(s"docs_r$rep", docs, keep)
    val spark = ctx.spark
    import spark.implicits._
    val df = spark.sparkContext.parallelize(docs, ctx.cores).toDF().cache()
    df.count()
    Ripple.createTopic(ctx.root, st.topic, Buckets)
    val (_, t) = timed(ctx.span("api", "writePacked")(
      Ripple.writePacked(df, ctx.root, st.topic, col("doc_id"), Buckets)))
    df.unpersist()
    produced += docs.size / t
    st
  }

  def curate(ctx: Ctx, st: State): Array[Long] = ctx.span("ops", "curate") {
    val docs = ctx.span("connector", "read_lifted")(
      Ripple.readLifted(ctx.spark, ctx.root, st.topic).select("doc_id", "text", "src"))
    Curate.run(docs, "doc_id", "text", "src", cfg).docs
      .select("doc_id").collect().map(_.getLong(0))
  }

  def measure(ctx: Ctx, st: State, seconds: Double): Phase = {
    val lat = mutable.ArrayBuffer.empty[Double]
    // the first passes compile the operators' code paths; they are not timed
    var warmUp = 2
    val t0 = System.nanoTime()
    while (lat.size < 3 || secs(t0) < seconds) {
      val (ids, t) = timed(curate(ctx, st))
      if (warmUp > 0) warmUp -= 1 else lat += t * 1000
      ctx.check(s"$name survivors", ids.length == st.keep.size && ids.toSet == st.keep,
        s"${ids.length} survivors, ${ids.toSet.diff(st.keep).size} unexpected, " +
          s"${st.keep.diff(ids.toSet).size} missing")
    }
    val disk = du(topicDir(ctx, st.topic)).toDouble
    Phase(
      Map("produce_rows_per_s" -> Stats.median(produced.toSeq),
        "consume_rows_per_s" -> st.docs.size / (Stats.median(lat.toSeq) / 1000),
        "latency_p50_ms" -> Stats.pct(lat.toSeq, 50),
        "latency_p95_ms" -> Stats.pct(lat.toSeq, 95),
        "disk_bytes_per_row" -> disk / st.docs.size),
      Map("log.bytes_on_disk" -> disk),
      Map("docs" -> st.docs.size, "kept" -> st.keep.size, "passes" -> lat.size, "latencies_ms" -> lat.toSeq,
        "latency_samples" -> lat.size, "latency_op" -> "one readLifted + Curate.run pass"))
  }

  def probeInput(ctx: Ctx, st: State): ProbeInput = {
    val docs = st.docs
    ProbeInput(spark => {
      import spark.implicits._
      spark.sparkContext.parallelize(docs, ctx.cores).toDF()
    }, "doc_id", Some("text"), st.topic, docs.map(_.text.length.toLong).sum, docs.size.toLong)
  }
}
