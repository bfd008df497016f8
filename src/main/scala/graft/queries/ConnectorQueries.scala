package graft.queries

import graft.api.Ripple
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Correctness-gate queries that exercise the `ripple` connector itself:
  * rows are produced into a topic (SURVEY A3), consumed back (A8), lifted
  * from opaque payloads to columns (§1.3), and the result must match a
  * DuckDB oracle over the ORIGINAL table — proving the log round-trip is
  * lossless and replay-from-offset is exact (A9, minus the reference's
  * over-advance bug).
  */
object ConnectorQueries {

  private def scratch(): String = {
    val p = java.nio.file.Paths.get("target", "ripple-scratch",
      java.util.UUID.randomUUID().toString)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** events → pack to JSON payloads → topic (8 buckets) → read → lift →
    * aggregate. Oracle aggregates the original parquet directly.
    */
  def roundtripAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "events", numBuckets = 8)
    Ripple.write(Ripple.pack(ev, col("event_id")), root, "events", numBuckets = 8)
    val lifted = Ripple.lift(Ripple.read(s, root, "events"), eventSchema)
    lifted.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Replay-from-offset: events written in event_id order into one bucket
    * (offset == event_id since ids are dense from 0), then read only
    * offsets >= 100 — must equal `WHERE event_id >= 100` on the source.
    * Exercises offset pushdown → segment pruning on the scan.
    */
  def replaySuffix(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(1).sortWithinPartitions("event_id")
    Ripple.createTopic(root, "events1", numBuckets = 1)
    Ripple.write(Ripple.pack(ev, col("event_id")), root, "events1", numBuckets = 1)
    Ripple.lift(Ripple.readRange(s, root, "events1", from = 100L, until = Long.MaxValue),
        eventSchema)
      .select(col("event_id"), col("event_type"), col("_offset").as("offset"))
  }

  /** File-source surface (SURVEY Table B scan row: parquet/json/csv):
    * events → JSON/CSV files → read back with explicit schema → aggregate;
    * the oracle aggregates the original parquet, so the round-trip must be
    * lossless (doubles survive via shortest-repr text).
    */
  private def fileSourceAgg(s: SparkSession, d: String, format: String): DataFrame = {
    // fixed path + overwrite (not a UUID dir per call): repeated bench
    // samples reuse the directory instead of accumulating copies. The
    // topic queries above keep UUID roots — a topic log is append-only by
    // contract, so "overwrite" doesn't exist for it.
    val out = java.nio.file.Paths.get("target", "ripple-scratch",
      s"events-$format").toString
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.write.format(format).option("header", "true").mode("overwrite").save(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.format(format).option("header", "true").schema(schema).load(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        max(col("event_id")).as("max_id"))
  }

  private val fileSourceOracleSql =
    """SELECT event_type, count(1) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
      |  max(event_id) AS max_id
      |FROM events GROUP BY 1""".stripMargin

  /** Schema-registry surface (round 12): events written via `writePacked`
    * (registers the payload schema in topic metadata), read back through
    * the connector's LIFTED scan (option `lift` — payload parsed
    * executor-side from the REGISTERED schema, no caller schema anywhere),
    * aggregated. Oracle aggregates the original parquet.
    */
  def liftedTopicAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.writePacked(ev, root, "typed", col("event_id"), numBuckets = 8)
    Ripple.readLifted(s, root, "typed")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        max(col("event_id")).as("max_id"))
  }

  /** In-place segment compaction is invisible to queries (round 12):
    * events land as MANY tiny segments (eight chunked appends — the
    * streaming-sink shape), `compactSegments` merges them in place, and
    * the post-compaction read must equal the oracle over the original
    * parquet — offsets preserved, no row lost or duplicated.
    */
  def compactInPlaceAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "cpt", numBuckets = 1)
    (0 until 8).foreach { i =>
      val chunk = ev.filter(pmod(col("event_id"), lit(8)) === i)
      Ripple.write(Ripple.pack(chunk, col("event_id")).coalesce(1),
        root, "cpt", numBuckets = 1)
    }
    Ripple.compactSegments(root, "cpt")
    Ripple.lift(Ripple.read(s, root, "cpt"), eventSchema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Inline auto-compaction (round 13): events land as eight chunked
    * publishes with sink option `autoCompactSegments = 3`, so merges fire
    * REPEATEDLY mid-ingest (every time the bucket reaches 3 segments) —
    * the read-back aggregate must still equal the oracle over the
    * original parquet: offsets preserved, no row lost or duplicated by
    * any merge, and the final topic stays at a bounded segment count
    * (asserted in-place; a silent compaction bug hash-fails the gate).
    */
  def autoCompactAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "acg", numBuckets = 1)
    (0 until 8).foreach { i =>
      val chunk = ev.filter(pmod(col("event_id"), lit(8)) === i)
      Ripple.pack(chunk, col("event_id")).coalesce(1)
        .write.format("ripple")
        .option("path", root).option("topic", "acg").option("buckets", 1)
        .option("autoCompactSegments", 3)
        .mode("append").save()
    }
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segs = log.segments(graft.model.TopicBucket("acg", "b0000")).size
    require(segs <= 3, s"auto-compaction must bound segments, got $segs")
    Ripple.lift(Ripple.read(s, root, "acg"), eventSchema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Snapshot pinning (round 12): write the first 600 events, capture a
    * snapshot token, then append the rest AND compact the log in place —
    * the pinned read must still see exactly the pre-capture corpus (appends
    * invisible, compaction transparent). Oracle: `event_id < 600` on the
    * source parquet.
    */
  def snapshotPinAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "snap", numBuckets = 4)
    Ripple.write(Ripple.pack(ev.filter(col("event_id") < 600), col("event_id")),
      root, "snap", numBuckets = 4)
    val token = Ripple.snapshot(root, "snap")
    Ripple.write(Ripple.pack(ev.filter(col("event_id") >= 600), col("event_id")),
      root, "snap", numBuckets = 4)
    Ripple.compactSegments(root, "snap")
    Ripple.lift(Ripple.readSnapshot(s, root, "snap", token), eventSchema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Schema evolution round trip (round 13): the first producer registers
    * a NARROW schema — `event_id` INT, `event_type` — for the early rows;
    * the registry then evolves by a lossless WIDENING (event_id INT→LONG)
    * plus an additive nullable `value` column (version 1 → version 2), and
    * a second producer writes the remaining rows under the widened shape.
    * One lifted read of the whole topic parses old and new blobs with the
    * CURRENT schema: old int literals lift exactly as longs (sum over
    * event_id is the drift detector), old rows carry NULL value (the
    * late_value aggregate only sums post-evolution rows). The oracle
    * replays both halves on the source parquet.
    */
  def schemaEvolveAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    Ripple.writePacked(
      ev.filter(col("event_id") < 600)
        .select(col("event_id").cast("int").as("event_id"), col("event_type")),
      root, "sev", col("event_id"), numBuckets = 4)
    val widened = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    Ripple.evolveTopicSchema(root, "sev", widened)
    Ripple.writePacked(ev.filter(col("event_id") >= 600), root, "sev",
      col("event_id"), numBuckets = 4)
    Ripple.readLifted(s, root, "sev")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        sum(when(col("value").isNotNull,
            col("value").cast(DecimalType(30, 6))))
          .cast("double").as("late_value"))
  }

  /** Timestamp seek (round 12 — Kafka `offsetsForTimes` parity): events
    * are written ts-ORDERED into one bucket, so per-bucket offsets are
    * ts-monotone and the seek read IS the `ts >= T` set — no belt filter
    * anywhere, a wrong seek in either direction hash-fails. T is the
    * millisecond-FLOORED ts of event 600: frame timestamps floor micros
    * to millis, and for an integral-millis T, `floor_ms(ts) >= T ⇔
    * ts >= T`, so the engine's frame compare and the oracle's
    * full-precision compare select the same rows.
    */
  def tsSeekAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    Ripple.createTopic(root, "tseek", numBuckets = 1)
    Ripple.write(
      Ripple.pack(ev.repartition(1).sortWithinPartitions("ts", "event_id"),
        col("event_id"), col("ts")),
      root, "tseek", numBuckets = 1)
    val t = ev.filter(col("event_id") === 600)
      .select(col("ts")).collect().head.getTimestamp(0).getTime
    val schema = StructType(eventSchema.fields.toSeq :+
      StructField("ts", TimestampType))
    Ripple.lift(Ripple.readTimestamp(s, root, "tseek", t), schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Consumer reset (round 13, Kafka `--reset-offsets` parity): events
    * ts-ordered into one bucket (the q154 construction), a named consumer
    * reset `ToTimestamp(T)`, and the read FROM the reset cursor must be
    * exactly the `ts >= T` set — the reset position IS the ts-seek
    * offset, so an off-by-anything reset hash-fails against the q154
    * oracle shape (the drain/checkpoint-drop mechanics are spec-gated;
    * this gates the POSITION the whole tool turns on).
    */
  def consumerResetAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    Ripple.createTopic(root, "crs", numBuckets = 1)
    Ripple.write(
      Ripple.pack(ev.repartition(1).sortWithinPartitions("ts", "event_id"),
        col("event_id"), col("ts")),
      root, "crs", numBuckets = 1)
    val t = ev.filter(col("event_id") === 600)
      .select(col("ts")).collect().head.getTimestamp(0).getTime
    val target = Ripple.resetConsumer(root, "crs", "gate",
      Ripple.ConsumerReset.ToTimestamp(t))
    val schema = StructType(eventSchema.fields.toSeq :+
      StructField("ts", TimestampType))
    Ripple.lift(Ripple.readRange(s, root, "crs",
        from = target("b0000"), until = Long.MaxValue), schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Topic-level config drives the sink's retention (q165, Kafka
    * `retention.ms`-on-the-topic parity): segment 1 lands via a sink
    * write carrying NO retention options, its publish mtime is planted
    * 10 days old, `retentionMs = 1 day` is persisted ON the topic, and
    * segment 2 lands — again with zero writer options. The second
    * publish must apply the topic's policy (drop segment 1, floor to
    * 200); the full lifted read then equals the oracle's
    * `event_id >= 200` aggregate. A sink that ignores the persisted
    * config (floor stays 0 → 0-prefixed aggregate) or over-applies it
    * hash-fails.
    */
  def topicConfigRetentionAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "cfg", numBuckets = 1)
    def slice(lo: Int, hi: Int) = ev
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .repartition(1).sortWithinPartitions("event_id")
    Ripple.write(Ripple.pack(slice(0, 200), col("event_id")),
      root, "cfg", numBuckets = 1)
    // age segment 1 by 10 days (time retention cuts by publish mtime)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("cfg", "b0000")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    log.segments(tb).foreach { case (p, _, _) => log.fs.setTimes(p, old, old) }
    Ripple.setTopicConfig(root, "cfg", graft.connector.TopicConfig(
      retentionMs = Some(24L * 3600 * 1000)))
    Ripple.write(Ripple.pack(slice(200, Int.MaxValue), col("event_id")),
      root, "cfg", numBuckets = 1)
    val floor = Ripple.earliestOffsets(root, "cfg")("b0000")
    require(floor == 200L,
      s"the second publish must apply the topic's retentionMs, floor=$floor")
    Ripple.lift(Ripple.read(s, root, "cfg"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Consumer expiry unblocks protected retention (q164): a DEAD
    * consumer's cursor (committed once, idle 10 planted days) clamps
    * `protectConsumers` retention to offset 100 — the cut is refused
    * while a LIVE consumer at 300 never constrained it.
    * [[Ripple.expireConsumers]] (the Kafka `offsets.retention.minutes`
    * analog) collects exactly the dead ID; the SAME truncate then lands
    * at 200, and the suffix read from the new floor must equal the
    * oracle's `event_id >= 200` aggregate — an expiry that dropped the
    * wrong consumer, missed the dead one (floor stays 0), or
    * over-truncated past 200 all hash-fail. Control-flow invariants
    * (refused-then-allowed floors, expired ID list, live survivor) are
    * `require`d in-body.
    */
  def consumerExpiryAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "cex", numBuckets = 1)
    def slice(lo: Int, hi: Int) = ev
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .repartition(1).sortWithinPartitions("event_id")
    Ripple.write(Ripple.pack(slice(0, 200), col("event_id")),
      root, "cex", numBuckets = 1)
    Ripple.write(Ripple.pack(slice(200, Int.MaxValue), col("event_id")),
      root, "cex", numBuckets = 1)
    graft.connector.ConsumerOffsets.commit(root, "cex", "dead", Map("b0000" -> 100L))
    graft.connector.ConsumerOffsets.commit(root, "cex", "live", Map("b0000" -> 300L))
    // age the dead consumer's observable activity by 10 days (dir mtime +
    // cursor mtime are what lastActivityMs reads; planted, not slept)
    val fs = graft.log.LogFs.get(new HPath(root), graft.log.LogFs.activeHadoopConf)
    val dDir = new HPath(new HPath(new HPath(root, "cex"), ".consumers"), "dead")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    fs.setTimes(new HPath(dDir, "cursor.json"), old, old)
    fs.setTimes(dDir, old, old)
    // the dead cursor clamps the protected cut: nothing below 100 is a
    // whole segment, so the floor must not move
    Ripple.truncateBefore(root, "cex", 200L, protectConsumers = true)
    val clamped = Ripple.earliestOffsets(root, "cex")("b0000")
    require(clamped == 0L,
      s"dead cursor must clamp the protected cut (floor stays 0), got $clamped")
    val expired = Ripple.expireConsumers(root, "cex",
      olderThanMs = 24L * 3600 * 1000)
    require(expired == Seq("dead"), s"expected exactly 'dead' expired, got $expired")
    require(Ripple.consumerOffsets(root, "cex").keySet == Set("live"),
      "the live consumer must survive expiry")
    Ripple.truncateBefore(root, "cex", 200L, protectConsumers = true)
    val floor = Ripple.earliestOffsets(root, "cex")("b0000")
    require(floor == 200L, s"expiry must unblock the cut to 200, got $floor")
    Ripple.lift(Ripple.readRange(s, root, "cex",
        from = floor, until = Long.MaxValue), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** The remaining [[Ripple.resetConsumer]] arms, oracle-gated in one
    * parameterized pass (q160 covers ToTimestamp): events land sorted in
    * ONE bucket so offset == event_id exactly (the q41 discipline), the
    * first 200-row segment is truncated away so EARLIEST resolves to the
    * RETENTION FLOOR (200) and not 0, LATEST to the end (reads nothing),
    * and ToOffsets to an explicit mid-log cursor. Each arm's returned
    * target drives a suffix read whose aggregate the DuckDB oracle
    * reproduces from the parquet — a wrong target (e.g. earliest=0, the
    * reference's no-floor behavior at `core.go:46-64`) hash-fails.
    */
  def consumerResetArmsAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "cra", numBuckets = 1)
    def slice(lo: Int, hi: Int) = ev
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .repartition(1).sortWithinPartitions("event_id")
    val n = ev.count()
    // two segments: [0,200) then [200,n) — retention can then cut exactly
    // at offset 200
    Ripple.write(Ripple.pack(slice(0, 200), col("event_id")),
      root, "cra", numBuckets = 1)
    Ripple.write(Ripple.pack(slice(200, Int.MaxValue), col("event_id")),
      root, "cra", numBuckets = 1)
    Ripple.truncateBefore(root, "cra", 200L)
    val schema = eventSchema
    def armAgg(arm: String, target: Map[String, Long]): DataFrame =
      Ripple.lift(Ripple.readRange(s, root, "cra",
          from = target("b0000"), until = Long.MaxValue), schema)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(arm).as("arm"), col("n"), col("total_value"), col("n_users"))
    val earliest = Ripple.resetConsumer(root, "cra", "g_e", Ripple.ConsumerReset.Earliest)
    val latest = Ripple.resetConsumer(root, "cra", "g_l", Ripple.ConsumerReset.Latest)
    val explicit = Ripple.resetConsumer(root, "cra", "g_o",
      Ripple.ConsumerReset.ToOffsets(Map("b0000" -> 600L)))
    require(latest("b0000") == n, s"latest must be the end offset $n, got $latest")
    armAgg("earliest", earliest)
      .unionAll(armAgg("latest", latest))
      .unionAll(armAgg("explicit", explicit))
  }

  /** Multi-topic subscribe (round 12, Kafka `subscribe` parity): events
    * split by event_id parity across TWO topics (schemas registered by
    * `writePacked`, equal by construction), read back as ONE lifted frame
    * through the comma subscription — the union must reproduce the whole
    * corpus exactly, so a topic lost, double-read, or cross-wired by the
    * colliding bucket names hash-fails against the unfiltered oracle.
    */
  def multiTopicAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.writePacked(ev.filter(pmod(col("event_id"), lit(2)) === 0),
      root, "evena", col("event_id"), numBuckets = 4)
    Ripple.writePacked(ev.filter(pmod(col("event_id"), lit(2)) === 1),
      root, "evodd", col("event_id"), numBuckets = 4)
    Ripple.readLifted(s, root, "evena,evodd")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** ts-predicate segment pruning (round 12): events packed with their
    * timestamps into 4 buckets in NATURAL (unordered) per-bucket ts
    * order, filtered by `_ts >= T` on the lifted read. The pushed
    * predicate prunes whole segments by their commit records' ts stats
    * AND is re-applied row-wise by Spark, so the result is exactly
    * `WHERE ts >= T` regardless of ordering; T is millisecond-integral (event 700's
    * floored ts) so frame-millis ≡ full-precision compare.
    */
  def tsPruneAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    Ripple.createTopic(root, "tspr", numBuckets = 4)
    Ripple.write(Ripple.pack(ev, col("event_id"), col("ts")),
      root, "tspr", numBuckets = 4)
    val t = ev.filter(col("event_id") === 700)
      .select(col("ts")).collect().head.getTimestamp(0)
    val schema = StructType(eventSchema.fields.toSeq :+
      StructField("ts", TimestampType))
    Ripple.lift(Ripple.read(s, root, "tspr"), schema)
      .filter(col("_ts") >= lit(new java.sql.Timestamp(t.getTime)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Metadata MIN/MAX aggregate pushdown (round 12): count + offset and
    * timestamp extrema answered from the segments' commit records, zero
    * frames read (the ConnectorSpec asserts the plan; this
    * gate asserts the VALUES). Offsets equal event_ids by the q41
    * construction (dense ids, one bucket, id order); ts extrema are
    * frame millis, so the oracle floors to milliseconds before taking
    * epoch values.
    */
  def metaAggQuery(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .repartition(1).sortWithinPartitions("event_id")
    Ripple.createTopic(root, "magg", numBuckets = 1)
    Ripple.write(Ripple.pack(ev, col("event_id"), col("ts")),
      root, "magg", numBuckets = 1)
    Ripple.read(s, root, "magg").agg(
      count(lit(1)).as("n"),
      min(col("offset")).as("min_off"),
      max(col("offset")).as("max_off"),
      unix_millis(min(col("ts"))).as("min_ts_ms"),
      unix_millis(max(col("ts"))).as("max_ts_ms"))
  }

  /** events → topic (8 buckets) → `DESCRIBE TOPIC` through the SQL admin
    * parser ([[graft.GraftSqlParser]]) → aggregate the per-bucket rows.
    * Parsed EXPLICITLY (not via spark.sql) so the gate holds on sessions
    * built without `spark.sql.extensions`; the statement text and command
    * are exactly what the injected parser serves. Oracle: row count of
    * the source parquet (dense per-bucket offsets ⇒ Σ rows == COUNT(*)),
    * 8 created buckets, floors all zero.
    */
  def sqlDescribeAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "evdesc", numBuckets = 8)
    Ripple.write(Ripple.pack(ev, col("event_id")), root, "evdesc", numBuckets = 8)
    val plan = new graft.GraftSqlParser(s.sessionState.sqlParser)
      .parsePlan(s"DESCRIBE TOPIC evdesc IN '$root'")
    val cmd = plan.asInstanceOf[graft.DescribeTopicCommand]
    val described = s.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(cmd.run(s)).asJava,
      StructType(cmd.output.map(a =>
        StructField(a.name, a.dataType, a.nullable))))
    described.agg(
      sum(col("rows")).as("n_rows"),
      count(lit(1)).as("n_buckets"),
      sum(col("floor")).as("total_floor"))
  }

  /** Segment compression end-to-end (q166, Kafka `compression.type`
    * parity): `compression=zstd` is persisted ON the topic, three packed
    * slices land with ZERO writer options (so the config must apply), then
    * the full Kafka-shaped lifecycle runs over the compressed segments —
    * time retention cuts the aged first slice (floor 200), compaction
    * byte-concatenates the compressed survivors into one segment, a
    * timestamp seek resolves inside it, and the lifted suffix read must
    * equal the oracle's `event_id >= 200` aggregate. In-body requires pin
    * the non-negotiables the hash can't see: the on-disk footprint of the
    * compressed topic is under 60% of a raw twin's AT EQUAL ROWS (the
    * whole point of the feature), the floor landed at 200, compaction
    * reached one segment, and the seek resolved to a real offset.
    */
  def compressedTopicAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    // `pad` pushes each packed JSON payload past the per-frame compression
    // floor (Codecs.MinCompressBytes — compact event JSON alone is ~60 B,
    // which the writer correctly leaves raw) and gives the codec realistic
    // repetitive text to bite on; the lift parses only eventSchema's
    // fields, so the oracle never sees it
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        repeat(col("event_type"), 40).as("pad"))
    // parallel writes (no repartition(1)): this gate's invariants are
    // SEGMENT-level — retention cuts whole aged segments and the oracle
    // aggregates a value range — so row order within a slice is free and
    // the per-frame zstd work spreads across cores instead of
    // serializing (the cell was the round's heaviest at 5.5 s single-
    // partition; q167-style gates that pin "latest per key" still order)
    def slice(lo: Int, hi: Int) = Ripple.pack(
      ev.filter(col("event_id") >= lo && col("event_id") < hi), col("event_id"))
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    def bytes(topic: String): Long = {
      val tb = graft.model.TopicBucket(topic, "b0000")
      log.segmentRecords(tb).map(_._2.bytes).sum
    }
    // raw twin (equal rows, no codec) — the footprint yardstick
    Ripple.createTopic(root, "craw", numBuckets = 1)
    Ripple.write(slice(0, Int.MaxValue), root, "craw", numBuckets = 1)
    Ripple.createTopic(root, "czip", numBuckets = 1)
    Ripple.setTopicConfig(root, "czip", graft.connector.TopicConfig(
      compression = Some("zstd")))
    val tb = graft.model.TopicBucket("czip", "b0000")
    Ripple.write(slice(0, 200), root, "czip", numBuckets = 1)
    // slice 1 may span several segments (parallel staging); ALL of them
    // are the aged prefix the time cut must drop
    val aged = log.segments(tb).map(_._1)
    Ripple.write(slice(200, 400), root, "czip", numBuckets = 1)
    Ripple.write(slice(400, Int.MaxValue), root, "czip", numBuckets = 1)
    require(bytes("czip") * 10 < bytes("craw") * 6,
      s"zstd on packed JSON must cut the footprint >40%: " +
        s"${bytes("czip")} vs raw ${bytes("craw")}")
    // retention over compressed segments: age slice 1, cut by time
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    aged.foreach(p => log.fs.setTimes(p, old, old))
    Ripple.truncateOlderThan(root, "czip", 24L * 3600 * 1000)
    val floor = Ripple.earliestOffsets(root, "czip")("b0000")
    require(floor == 200L, s"retention must cut the aged slice, floor=$floor")
    // compaction: byte-concat of the compressed survivors
    require(Ripple.compactSegments(root, "czip") > 0, "two segments must merge")
    require(log.segments(tb).size == 1,
      s"compaction must leave one segment, got ${log.segments(tb).size}")
    // timestamp seek INSIDE the compressed merged segment (header walk —
    // ts stats carried across the merge, payloads never decompressed)
    val seekTo = log.offsetForTimestamp(tb, 0L) // everything qualifies
    require(seekTo == 200L, s"seek must land on the retained floor, got $seekTo")
    Ripple.lift(Ripple.read(s, root, "czip"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Key-based log compaction (q167, Kafka `cleanup.policy=compact`
    * parity): events become a KEY-UPDATE stream — key = event_id % 500,
    * written in event_id order across three packed slices — so each key's
    * LATEST value is its row with the maximum event_id. After
    * [[Ripple.compactKeyed]] the lifted read must equal the oracle's
    * latest-per-key selection exactly: a compaction that keeps the wrong
    * generation (first-write wins), loses a key, or resurrects a
    * superseded row hash-fails. In-body requires pin the structural
    * claims: every bucket collapses to ONE sparse segment and the end
    * offsets are unchanged (offsets are preserved, Kafka's compacted-topic
    * contract).
    */
  def keyedCompactionAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def slice(lo: Int, hi: Int) = Ripple.pack(
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .repartition(1).sortWithinPartitions("event_id"),
      pmod(col("event_id"), lit(500)).cast("int"))
    Ripple.createTopic(root, "kcq", numBuckets = 2)
    Ripple.write(slice(0, 300), root, "kcq", numBuckets = 2)
    Ripple.write(slice(300, 700), root, "kcq", numBuckets = 2)
    Ripple.write(slice(700, Int.MaxValue), root, "kcq", numBuckets = 2)
    val endsBefore = Ripple.endOffsets(root, "kcq")
    require(Ripple.compactKeyed(root, "kcq") > 0, "segments must compact")
    require(Ripple.endOffsets(root, "kcq") == endsBefore,
      "keyed compaction preserves end offsets")
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    log.buckets("kcq").foreach { tb =>
      val segs = log.segments(tb)
      require(segs.size == 1 &&
        graft.log.SegmentCodec.isSparse(segs.head._1.getName),
        s"bucket ${tb.bucket} must hold one sparse segment, got " +
          segs.map(_._1.getName).mkString(", "))
    }
    Ripple.lift(Ripple.read(s, root, "kcq"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Tombstone key-deletion under key compaction (q171, Kafka null-value +
    * `delete.retention.ms` parity, CLEAN-TIME aging per KIP-534). The q167
    * key-update stream (key = event_id % 500) gets a DELETE wave: one
    * tombstone (NULL `data`) per key ≡ 0 (mod 7), stamped 10 days old —
    * deliberately OLDER than the horizon, because aging must count from
    * when the tombstone first survives a compaction, never from the
    * producer's event-time stamp. Compaction pass 1 under a 24 h horizon
    * must RETAIN every latest-per-key tombstone — an engine trusting the
    * record ts drops them right here and no lagging reader ever observes
    * the deletes (in-body require: exactly the planted tombstones
    * survive, as null-data rows at their original offsets). Fresh updates
    * (event_id >= 700) then re-create some deleted keys, the pass-1
    * products' mtimes are backdated two days (simulated elapsed clean
    * time), and pass 2 under the same 24 h horizon drops the aged
    * tombstones with their keys. The lifted read must equal the oracle's
    * "latest per key, minus keys whose final state is the delete" — an
    * engine that loses the delete (key resurrects), drops it early
    * (lagging readers miss it), ages by the wrong clock, or breaks
    * delete-then-recreate hash-fails.
    */
  def tombstoneCompactionAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val keyExpr = pmod(col("event_id"), lit(500)).cast("int")
    def slice(lo: Int, hi: Int) = Ripple.pack(
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .repartition(1).sortWithinPartitions("event_id"), keyExpr)
    Ripple.createTopic(root, "tqc", numBuckets = 2)
    Ripple.write(slice(0, 300), root, "tqc", numBuckets = 2)
    Ripple.write(slice(300, 700), root, "tqc", numBuckets = 2)
    // the delete wave: a tombstone per key ≡ 0 (mod 7), 10 days old; ids
    // must hash EXACTLY as Ripple.pack hashes the key column
    import s.implicits._
    val delKeys = (0 until 500).filter(_ % 7 == 0)
    Ripple.write(delKeys.toDF("k")
      .select(
        pmod(hash(col("k").cast("int")), lit(Int.MaxValue)).cast("int").as("id"),
        lit(null).cast("binary").as("data"),
        lit(new java.sql.Timestamp(
          System.currentTimeMillis() - 10L * 24 * 3600 * 1000)).as("ts"))
      .repartition(1), root, "tqc", numBuckets = 2)
    val endsBefore = Ripple.endOffsets(root, "tqc")
    // pass 1 (24 h horizon vs 10-day-old producer stamps): deletes must
    // survive their FIRST compaction — aging is by clean time, not ts
    Ripple.setTopicConfig(root, "tqc", graft.connector.TopicConfig(
      tombstoneRetentionMs = Some(24L * 3600 * 1000)))
    require(Ripple.compactKeyed(root, "tqc") > 0, "pass 1 must compact")
    require(Ripple.endOffsets(root, "tqc") == endsBefore,
      "keyed compaction preserves end offsets")
    val midTombs = Ripple.read(s, root, "tqc").filter(col("data").isNull).count()
    require(midTombs == delKeys.size,
      s"pass 1 must retain all ${delKeys.size} first-pass tombstones, got $midTombs")
    // re-create some deleted keys, simulate two days of clean time
    // (backdate the pass-1 products), then pass 2 ages the deletes out
    Ripple.write(slice(700, Int.MaxValue), root, "tqc", numBuckets = 2)
    val tlog = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    tlog.buckets("tqc").foreach { tb =>
      tlog.segments(tb).collect {
        case (p, _, _) if graft.log.SegmentCodec.isSparse(p.getName) =>
          tlog.fs.setTimes(p,
            System.currentTimeMillis() - 2L * 24 * 3600 * 1000, -1)
      }
    }
    require(Ripple.compactKeyed(root, "tqc") > 0, "pass 2 must compact")
    require(Ripple.read(s, root, "tqc").filter(col("data").isNull).count() == 0,
      "pass 2 must age every tombstone out")
    Ripple.lift(Ripple.read(s, root, "tqc"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Read-time latest-per-key TABLE view (q174, Kafka Streams KTable
    * parity): the q171 fixture — key updates, a tombstone wave (keys ≡ 0
    * mod 7), recreates (event_id >= 700) — read through
    * [[Ripple.readTable]] with NO compaction pass ever run. The view must
    * equal the oracle's "latest per key, minus keys whose final state is
    * the delete" over the raw log: the READ side of the compaction
    * contract q170/q171 pin on the write side (the reference makes every
    * consumer replay the whole log and reduce client-side,
    * `internal/broker/consumer/server/core.go:46-64`). In-body requires
    * pin what the hash can't see: the PLAIN read still surfaces every
    * row including the deletes (the view composes, it doesn't mutate),
    * the view carries no tombstone rows, and the SQL spelling
    * `READ TOPIC … AS TABLE` returns the identical frame.
    */
  def readTableAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val keyExpr = pmod(col("event_id"), lit(500)).cast("int")
    def slice(lo: Int, hi: Int) = Ripple.pack(
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .repartition(1).sortWithinPartitions("event_id"), keyExpr)
    Ripple.createTopic(root, "rtv", numBuckets = 2)
    Ripple.write(slice(0, 300), root, "rtv", numBuckets = 2)
    Ripple.write(slice(300, 700), root, "rtv", numBuckets = 2)
    import s.implicits._
    val delKeys = (0 until 500).filter(_ % 7 == 0)
    Ripple.write(delKeys.toDF("k")
      .select(
        pmod(hash(col("k").cast("int")), lit(Int.MaxValue)).cast("int").as("id"),
        lit(null).cast("binary").as("data"))
      .repartition(1), root, "rtv", numBuckets = 2)
    Ripple.write(slice(700, Int.MaxValue), root, "rtv", numBuckets = 2)
    // the view composes over the log — the plain envelope read still
    // surfaces every delete as a null-data row
    require(Ripple.read(s, root, "rtv").filter(col("data").isNull).count()
      == delKeys.size, "plain read must surface every tombstone")
    val view = Ripple.readTable(s, root, "rtv")
    require(view.filter(col("data").isNull).count() == 0,
      "the table view must carry no tombstone rows")
    // SQL spelling parity: READ TOPIC … AS TABLE is the same frame
    val sqlView = org.apache.spark.sql.graft.bridge.ofRows(s,
      new graft.GraftSqlParser(s.sessionState.sqlParser)
        .parsePlan(s"READ TOPIC rtv AS TABLE IN '$root'"))
    require(sqlView.select(col("id"), col("offset"))
        .exceptAll(view.select(col("id"), col("offset"))).count() == 0 &&
        sqlView.count() == view.count(),
      "READ TOPIC … AS TABLE must equal Ripple.readTable")
    Ripple.lift(view, eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** STREAMING latest-per-key table view (q178): the q174 fixture —
    * key updates, a tombstone wave (keys ≡ 0 mod 7), recreates
    * (event_id >= 700) — consumed as a rate-capped STREAM through
    * [[graft.streaming.TopicStreams.tableViewStream]], with a RESTART in
    * the middle (the last slice lands after the first drain stops; the
    * second drain resumes the same checkpoint). Each epoch emits
    * upserts/retractions for its touched keys; the drained changelog,
    * reduced to last-emission-per-key with deletes applied, must be
    * row-identical to the batch [[Ripple.readTable]] of the same log —
    * and the final aggregate equals the q174 oracle. This is the
    * MAINTAINED version of the reference's replay-and-reduce consumer
    * loop (`internal/broker/consumer/server/core.go:46-64`): keyed state
    * rides the checkpoint instead of re-reading the log every poll.
    */
  def streamTableViewAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val keyExpr = pmod(col("event_id"), lit(500)).cast("int")
    def slice(lo: Int, hi: Int) = Ripple.pack(
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .repartition(1).sortWithinPartitions("event_id"), keyExpr)
    Ripple.createTopic(root, "rtvs", numBuckets = 2)
    Ripple.write(slice(0, 300), root, "rtvs", numBuckets = 2)
    Ripple.write(slice(300, 700), root, "rtvs", numBuckets = 2)
    import s.implicits._
    val delKeys = (0 until 500).filter(_ % 7 == 0)
    Ripple.write(delKeys.toDF("k")
      .select(
        pmod(hash(col("k").cast("int")), lit(Int.MaxValue)).cast("int").as("id"),
        lit(null).cast("binary").as("data"))
      .repartition(1), root, "rtvs", numBuckets = 2)
    val cp = scratch()
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Array[Byte], Boolean)]
    var epochs = 0
    def drain(): Unit = {
      val q = graft.streaming.TopicStreams
        .readTableStream(s, root, "rtvs", maxPerTrigger = 256)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            graft.streaming.TopicStreams.TableUpsert], _: Long) =>
          val rows = df.collect().map(u => (u.id, u.offset, u.data, u.deleted))
          collected.synchronized { collected ++= rows; epochs += 1 }
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      require(q.awaitTermination(300000), "table-view drain must finish")
      q.stop()
    }
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass", rocks)
    try {
      drain()
      require(epochs > 2, s"the rate cap must force many epochs, got $epochs")
      require(collected.exists(_._4),
        "the tombstone wave must emit deleted=true retractions")
      // restart arm: the recreate slice lands AFTER the first drain; the
      // same checkpoint resumes and applies only the new rows
      Ripple.write(slice(700, Int.MaxValue), root, "rtvs", numBuckets = 2)
      drain()
    } finally prevProvider match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    // drained changelog -> final state: last emission per key, deletes out
    val finalState = collected.groupBy(_._1).map { case (id, es) =>
      id -> es.maxBy(_._2) }.collect {
      case (id, (_, off, data, false)) => (id, off, data) }.toSeq
    // row-identical to the batch table view of the same log
    val batch = Ripple.readTable(s, root, "rtvs")
      .select(col("id"), col("offset")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    require(finalState.map(t => (t._1, t._2)).toSet == batch,
      s"drained stream state (${finalState.size} keys) must equal batch " +
        s"readTable (${batch.size} keys)")
    finalState.map { case (id, off, data) => (id, off, new String(data, "UTF-8")) }
      .toDF("id", "offset", "json")
      .withColumn("v", from_json(col("json"), eventSchema))
      .select(col("v.*"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Consumer-group load-splitting (q179): 40k-row topic over 4 buckets,
    * TWO streaming member queries under ONE consumerId draining
    * concurrently — each owns the bucket subset `hash(bucket) % 2 == i`
    * (static assignment claimed at query start). In-body requires pin
    * disjoint ownership, full coverage, per-member cursor accounting
    * (the merged group position spans every bucket at the log end), and
    * the loud refusal of a 3-way member against standing 2-way claims.
    * The members' UNION must aggregate to the oracle over the source
    * table — a split that drops or double-reads a bucket hash-fails.
    * The reference fans out (every consumer ID replays the FULL log,
    * `internal/broker/consumer/server/core.go:46-64`); this is the
    * work-SHARING face the reference lacks.
    */
  def consumerGroupAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "cgrp", numBuckets = 4)
    Ripple.write(Ripple.pack(ev, col("event_id")), root, "cgrp", numBuckets = 4)
    val collected = Map(
      0 -> scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])],
      1 -> scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])])
    def member(i: Int) = Ripple
      .readStreamMember(s, root, "cgrp", "gate", member = i, members = 2)
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("bucket", "data").collect()
          .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
        collected(i).synchronized { collected(i) ++= rows }
        ()
      }
      .option("checkpointLocation",
        Ripple.memberCheckpoint(root, "cgrp", "gate", i, 2))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val q0 = member(0); val q1 = member(1)
    require(q0.awaitTermination(300000), "member 0 must finish")
    require(q1.awaitTermination(300000), "member 1 must finish")
    q0.stop(); q1.stop()
    val b0 = collected(0).map(_._1).toSet
    val b1 = collected(1).map(_._1).toSet
    require(b0.nonEmpty && b1.nonEmpty && b0.intersect(b1).isEmpty,
      s"members must own disjoint non-empty bucket sets: $b0 / $b1")
    // per-member cursor accounting: the merged group position covers
    // every bucket at its end
    val cursor = Ripple.consumerOffsets(root, "cgrp")("gate")
    require(cursor.keySet == b0 ++ b1 &&
      cursor.values.sum == collected(0).size + collected(1).size,
      s"group cursor must span every bucket at the log end, got $cursor")
    // a member of a DIFFERENT layout is refused at query start
    val q3 = Ripple.readStreamMember(s, root, "cgrp", "gate", 0, 3)
      .writeStream.foreachBatch { (_: DataFrame, _: Long) => () }
      .option("checkpointLocation", scratch()).start()
    val refused =
      try { q3.processAllAvailable(); false }
      catch { case e: Exception =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
          .exists(x => Option(x.getMessage).exists(_.contains("member claims")))
      } finally q3.stop()
    require(refused, "a 3-way member against 2-way claims must refuse loudly")
    import s.implicits._
    (collected(0) ++ collected(1)).toSeq.map(t => new String(t._2, "UTF-8"))
      .toDF("json")
      .withColumn("v", from_json(col("json"), eventSchema))
      .select(col("v.*"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** SQL hygiene verbs end-to-end (q175): the two weekly-cron calls —
    * [[Ripple.vacuumSnapshots]] and [[Ripple.expireConsumers]] — driven
    * through [[graft.GraftSqlParser]] statements. A TTL'd pin expires and
    * `VACUUM SNAPSHOTS` collects exactly it; a DEAD consumer's cursor
    * (idle 10 planted days) clamps `protectConsumers` retention to
    * offset 100 until `EXPIRE CONSUMERS (olderThanMs = 24 h)` deletes
    * exactly the dead ID — the SAME truncate then lands at 200, and the
    * suffix read equals the oracle's `event_id >= 200` aggregate.
    * Registry states (pin present → vacuumed, refused-then-allowed
    * floors, expired ID list, live survivor) are `require`d in-body;
    * statements are parsed explicitly so the gate holds on sessions
    * without `spark.sql.extensions`.
    */
  def sqlHygieneAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "hyg", numBuckets = 1)
    def slice(lo: Int, hi: Int) = ev
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .repartition(1).sortWithinPartitions("event_id")
    Ripple.write(Ripple.pack(slice(0, 200), col("event_id")),
      root, "hyg", numBuckets = 1)
    Ripple.write(Ripple.pack(slice(200, Int.MaxValue), col("event_id")),
      root, "hyg", numBuckets = 1)
    val parser = new graft.GraftSqlParser(s.sessionState.sqlParser)
    def runCmd(sql: String): Seq[org.apache.spark.sql.Row] =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(s)
    // --- VACUUM SNAPSHOTS: an expired TTL'd pin is collected, exactly it
    runCmd(s"PIN SNAPSHOT fleeting ON hyg (ttlMs = 1) IN '$root'")
    Thread.sleep(30)
    require(Ripple.snapshots(root, "hyg").map(_.name) == Seq("fleeting"),
      "the expired pin is still registered until vacuumed")
    require(runCmd(s"VACUUM SNAPSHOTS ON hyg (graceMs = 3600000) IN '$root'")
      .head.getInt(2) == 0, "a pin expired less than graceMs ago survives")
    require(runCmd(s"VACUUM SNAPSHOTS ON hyg IN '$root'").head.getInt(2) == 1,
      "default grace must collect the expired pin")
    require(Ripple.snapshots(root, "hyg").isEmpty, "registry empty after vacuum")
    // --- EXPIRE CONSUMERS: the dead cursor stops clamping retention
    graft.connector.ConsumerOffsets.commit(root, "hyg", "dead", Map("b0000" -> 100L))
    graft.connector.ConsumerOffsets.commit(root, "hyg", "live", Map("b0000" -> 300L))
    val fs = graft.log.LogFs.get(new HPath(root), graft.log.LogFs.activeHadoopConf)
    val dDir = new HPath(new HPath(new HPath(root, "hyg"), ".consumers"), "dead")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    fs.setTimes(new HPath(dDir, "cursor.json"), old, old)
    fs.setTimes(dDir, old, old)
    Ripple.truncateBefore(root, "hyg", 200L, protectConsumers = true)
    require(Ripple.earliestOffsets(root, "hyg")("b0000") == 0L,
      "dead cursor must clamp the protected cut before expiry")
    val ex = runCmd(
      s"EXPIRE CONSUMERS ON hyg (olderThanMs = ${24L * 3600 * 1000}) IN '$root'")
    require(ex.map(_.getString(0)) == Seq("dead"),
      s"exactly the dead consumer expires, got $ex")
    require(Ripple.consumerOffsets(root, "hyg").keySet == Set("live"),
      "the live consumer survives SQL expiry")
    Ripple.truncateBefore(root, "hyg", 200L, protectConsumers = true)
    val floor = Ripple.earliestOffsets(root, "hyg")("b0000")
    require(floor == 200L, s"expiry must unblock the cut to 200, got $floor")
    Ripple.lift(Ripple.readRange(s, root, "hyg",
        from = floor, until = Long.MaxValue), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Record headers end-to-end (q176, KIP-82 / the Kafka connector's
    * `includeHeaders` parity): every event is produced with per-record
    * headers carrying its event_type, user_id and decimal value NEXT TO
    * an opaque payload; an update wave rewrites `event_id < 100` with an
    * extra ("gen","2") header; keyed compaction reduces to
    * latest-per-key — headers must survive the rewrite. The final frame
    * derives EVERY output column from HEADER bytes over a
    * payload-PRUNED projection (`data` never read), so the oracle match
    * proves the headers plane end-to-end: write encode, frame codec,
    * compaction carry-through, pruned decode. In-body requires pin the
    * opt-in contract (the default envelope read has no headers column)
    * and `READ TOPIC … WITH HEADERS` SQL parity.
    */
  def recordHeadersAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id").cast("int").as("id"), col("user_id"),
        col("event_type"), col("value"))
    def packH(df: DataFrame, gen2: Boolean): DataFrame = {
      val base = Seq(
        struct(lit("etype").as("key"),
          col("event_type").cast("binary").as("value")),
        struct(lit("uid").as("key"),
          col("user_id").cast("string").cast("binary").as("value")),
        struct(lit("val").as("key"),
          col("value").cast(DecimalType(30, 6)).cast("string")
            .cast("binary").as("value")))
      val hs = if (gen2) base :+ struct(lit("gen").as("key"),
        lit("2".getBytes("UTF-8")).as("value")) else base
      df.select(col("id"),
          col("event_type").cast("binary").as("data"), // payload is NOT what the gate reads
          array(hs: _*).as("headers"))
        .repartition(1).sortWithinPartitions("id")
    }
    Ripple.createTopic(root, "rh", numBuckets = 2)
    Ripple.write(packH(ev, gen2 = false), root, "rh", numBuckets = 2)
    Ripple.write(packH(ev.filter(col("id") < 100), gen2 = true),
      root, "rh", numBuckets = 2)
    val total = ev.count()
    // headers are OPT-IN: the classic envelope is wire-stable
    require(!Ripple.read(s, root, "rh").columns.contains("headers"),
      "default read must not grow a headers column")
    // SQL spelling parity before compaction
    val sqlN = org.apache.spark.sql.graft.bridge.ofRows(s,
      new graft.GraftSqlParser(s.sessionState.sqlParser)
        .parsePlan(s"READ TOPIC rh WITH HEADERS IN '$root'"))
      .filter(col("headers").isNotNull).count()
    require(sqlN == total + 100,
      s"READ TOPIC … WITH HEADERS must see every record's headers, got $sqlN")
    require(Ripple.compactKeyed(root, "rh") > 0, "keyed compaction must run")
    // round 19: headers COMPOSE with the table view — the latest-per-key
    // reduction keeps the WINNING record's headers in its max_by struct,
    // and `READ TOPIC … WITH HEADERS AS TABLE` is the same frame (r18
    // refused the combination; a silent drop would lose the gen2 marker
    // the n_gen2 column derives from)
    val view = Ripple.tableView(Ripple.readWithHeaders(s, root, "rh"))
    require(view.columns.contains("headers"),
      "the table view of a headers read must keep the headers column")
    val sqlView = org.apache.spark.sql.graft.bridge.ofRows(s,
      new graft.GraftSqlParser(s.sessionState.sqlParser)
        .parsePlan(s"READ TOPIC rh WITH HEADERS AS TABLE IN '$root'"))
    require(sqlView.select(col("id"), col("offset"))
        .exceptAll(view.select(col("id"), col("offset"))).count() == 0 &&
        sqlView.count() == view.count() &&
        sqlView.columns.contains("headers"),
      "READ TOPIC … WITH HEADERS AS TABLE must equal the Scala view")
    // payload-pruned projection: every output derives from header bytes
    // of each key's WINNING record through the view
    val t = view.select("id", "headers")
    def h(key: String) =
      expr(s"cast(filter(headers, x -> x.key = '$key')[0].value as string)")
    t.groupBy(h("etype").as("etype"))
      .agg(count(lit(1)).as("n"),
        count(when(expr("exists(headers, x -> x.key = 'gen')"), lit(1)))
          .as("n_gen2"),
        sum(h("uid").cast("long")).as("total_uid"),
        sum(h("val").cast(DecimalType(30, 6))).cast("double").as("total_value"))
  }

  /** SQL admin WRITE statements end-to-end (q168): the q165 scenario with
    * every admin action driven through [[graft.GraftSqlParser]] statements
    * instead of Scala calls — `CREATE TOPIC` registers the topic,
    * `ALTER TOPIC … SET (retentionMs = …)` persists the policy, and a
    * zero-option sink write must then apply it (drop the aged first
    * slice, floor 200). Statements are parsed EXPLICITLY so the gate holds
    * on sessions built without `spark.sql.extensions`. The lifted read
    * equals the oracle's `event_id >= 200` aggregate — a DDL layer that
    * parses but doesn't persist, or persists the wrong key, hash-fails.
    */
  def sqlAdminDdlAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def slice(lo: Int, hi: Int) = ev
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .repartition(1).sortWithinPartitions("event_id")
    val parser = new graft.GraftSqlParser(s.sessionState.sqlParser)
    def runCmd(sql: String): Seq[org.apache.spark.sql.Row] =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(s)
    val created = runCmd(s"CREATE TOPIC cfgsql (numBuckets = 1) IN '$root'")
    require(created.head.getInt(1) == 1, s"CREATE TOPIC returned $created")
    Ripple.write(Ripple.pack(slice(0, 200), col("event_id")),
      root, "cfgsql", numBuckets = 1)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("cfgsql", "b0000")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    log.segments(tb).foreach { case (p, _, _) => log.fs.setTimes(p, old, old) }
    val altered = runCmd(
      s"ALTER TOPIC cfgsql SET (retentionMs = ${24L * 3600 * 1000}) IN '$root'")
    require(altered.head.getString(1) == "retentionMs=86400000",
      s"ALTER TOPIC returned $altered")
    Ripple.write(Ripple.pack(slice(200, Int.MaxValue), col("event_id")),
      root, "cfgsql", numBuckets = 1)
    val floor = Ripple.earliestOffsets(root, "cfgsql")("b0000")
    require(floor == 200L,
      s"the SQL-set retentionMs must drive the sink's retention, floor=$floor")
    Ripple.lift(Ripple.read(s, root, "cfgsql"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Per-segment zstd dictionary (q173): the SMALL-RECORD compression
    * recovery path. Payloads here are ~45-byte JSON rows — under the
    * per-frame 64 B floor, so plain `zstd` leaves every one RAW (its
    * topic is the equal-rows control); `zstd-dict` trains a dictionary on
    * the segment's first payloads, ships it as an in-stream DICT frame,
    * and compresses every record against the shared structure. In-body
    * requires pin a >=25% footprint cut vs the plain-zstd twin, then the
    * config is dropped and a RAW slice appends (mixed dict/raw segments),
    * and byte-concat compaction merges across the dict boundary — the
    * lifted read over the merged mixed topic must equal the oracle
    * exactly. A dict plane that corrupts payloads, loses the dictionary
    * across concatenation, or mis-frames the boundary hash-fails.
    */
  def dictCompressionAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d).select(col("event_id"), col("event_type"))
    val smallSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType)))
    def slice(m: Int) = ev
      .filter(pmod(col("event_id"), lit(3)) === m)
      .select(col("event_id").cast("int").as("id"),
        to_json(struct(col("event_id"), col("event_type"))).cast("binary").as("data"))
      .repartition(1).sortWithinPartitions("id")
    for ((t, codec) <- Seq("dct" -> "zstd-dict", "dcz" -> "zstd")) {
      Ripple.createTopic(root, t, numBuckets = 1)
      Ripple.setTopicConfig(root, t,
        graft.connector.TopicConfig(compression = Some(codec)))
      Ripple.write(slice(0), root, t, numBuckets = 1)
      Ripple.write(slice(1), root, t, numBuckets = 1)
    }
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    def bytes(t: String): Long =
      log.segmentRecords(graft.model.TopicBucket(t, "b0000")).map(_._2.bytes).sum
    // two bars: >=15% TOTAL footprint cut (the ~21-byte record envelope
    // is incompressible by design — offsets and the skip walk need it —
    // so total is envelope-floored on 40 B payloads), and >=25% of the
    // PAYLOAD bytes reclaimed (the dictionary-effectiveness claim
    // proper; plain zstd reclaims ZERO here — every payload is under its
    // 64 B floor and stays raw, which is why its topic doubles as the
    // equal-rows raw control). Measured at these bars' setting: ~20%
    // total, ~29% payload at sf0.01.
    val n = Ripple.read(s, root, "dcz").count()
    // the ratio bars need enough records for the fixed dictionary bytes
    // (~2.4 KB per segment) to amortize — at sf0.001's 667-row corpus
    // they cannot; the correctness claims below hold at every scale
    if (n >= 5000) {
      require(bytes("dct") * 20 < bytes("dcz") * 17,
        s"the dictionary must cut >=15% total vs per-frame zstd on small " +
          s"JSON: ${bytes("dct")} vs ${bytes("dcz")}")
      val payloadBytes = bytes("dcz") - 16L * n // v1 envelope is 16 B/record
      require((bytes("dcz") - bytes("dct")) * 4 >= payloadBytes,
        s"the dictionary must reclaim >=25% of payload bytes: saved " +
          s"${bytes("dcz") - bytes("dct")} of $payloadBytes")
    }
    // drop the codec; a RAW slice appends — mixed dict/raw segments —
    // then byte-concat compaction merges ACROSS the dict boundary
    Ripple.setTopicConfig(root, "dct", graft.connector.TopicConfig())
    Ripple.write(slice(2), root, "dct", numBuckets = 1)
    Ripple.compactSegments(root, "dct")
    require(log.segments(graft.model.TopicBucket("dct", "b0000")).size == 1,
      "mixed dict/raw members must byte-concat into one segment")
    Ripple.lift(Ripple.read(s, root, "dct"), smallSchema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"),
        max(col("event_id")).as("hi"))
  }

  /** SQL lifecycle verbs end-to-end (q172): the nightly retention +
    * compaction jobs driven ENTIRELY through [[graft.GraftSqlParser]]
    * statements — `ALTER TOPIC … TRUNCATE (olderThanMs = …)` cuts the
    * aged head slice (floor 200, exactly like q168's config-driven cut,
    * but as an imperative statement), then `COMPACT TOPIC … KEYED`
    * collapses the key-update stream (key = event_id % 500) to
    * latest-per-key. The lifted read must equal the oracle's
    * "latest per key among event_id >= 200" — a TRUNCATE that cuts the
    * wrong boundary or a KEYED compaction that keeps the wrong
    * generation hash-fails.
    */
  def sqlLifecycleAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val keyExpr = pmod(col("event_id"), lit(500)).cast("int")
    def slice(lo: Int, hi: Int) = Ripple.pack(
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .repartition(1).sortWithinPartitions("event_id"), keyExpr)
    val parser = new graft.GraftSqlParser(s.sessionState.sqlParser)
    def runCmd(sql: String): Seq[org.apache.spark.sql.Row] =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(s)
    runCmd(s"CREATE TOPIC lcq (numBuckets = 1) IN '$root'")
    Ripple.write(slice(0, 200), root, "lcq", numBuckets = 1)
    Ripple.write(slice(200, 700), root, "lcq", numBuckets = 1)
    // age the head segment 10 days, then run the retention cut in SQL
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("lcq", "b0000")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    log.segments(tb).take(1).foreach { case (p, _, _) => log.fs.setTimes(p, old, old) }
    val cut = runCmd(
      s"ALTER TOPIC lcq TRUNCATE (olderThanMs = ${24L * 3600 * 1000}) IN '$root'")
    require(cut.head.getInt(2) == 1 &&
      Ripple.earliestOffsets(root, "lcq")("b0000") == 200L,
      s"SQL TRUNCATE must cut exactly the aged head slice, got $cut")
    Ripple.write(slice(700, Int.MaxValue), root, "lcq", numBuckets = 1)
    val comp = runCmd(s"COMPACT TOPIC lcq KEYED IN '$root'")
    require(comp.head.getBoolean(1) && comp.head.getInt(2) > 0,
      s"SQL COMPACT KEYED must compact, got $comp")
    require(log.segments(tb).forall(seg =>
      graft.log.SegmentCodec.isSparse(seg._1.getName)),
      "the bucket must hold only sparse segments after KEYED compaction")
    Ripple.lift(Ripple.read(s, root, "lcq"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Routed (fan-out) writes (q169): ONE write whose rows route to two
    * topics by a data column (`topicColumn` — the Kafka-sink topic-column
    * parity), then a multi-topic subscription reads both back and the
    * union aggregate must equal the oracle over ALL events grouped by the
    * routing class. A router that drops rows, routes to the wrong topic,
    * or double-publishes hash-fails (the per-topic grouping keys the agg).
    */
  def routedWriteAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "rw0", numBuckets = 2)
    Ripple.createTopic(root, "rw1", numBuckets = 2)
    // framed by hand (not Ripple.pack — its id is a HASH of the key; the
    // routing class must be event_id's own parity to match the oracle)
    ev.select(
        col("event_id").cast("int").as("id"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).cast("binary").as("data"),
        concat(lit("rw"), pmod(col("event_id"), lit(2))).as("target"))
      .write.format("ripple").option("path", root)
      .option("topicColumn", "target").mode("append").save()
    Ripple.lift(Ripple.readTopics(s, root, Seq("rw0", "rw1")), eventSchema)
      .groupBy(col("_topic").as("topic"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** `cleanupPolicy=compact` at the sink (q170): the topic persists
    * `cleanupPolicy=compact` + `autoCompactSegments=3`, then FOUR
    * zero-option key-update writes land — crossing the threshold must
    * trigger KEY compaction inside the sink's commit path (latest per
    * key, sparse segment), not a byte-concat merge. The final lifted
    * read equals the oracle's latest-per-key selection — a sink that
    * byte-concats (keeps every update) or drops the wrong generation
    * hash-fails. In-body requires pin the mechanism: after the writes
    * the bucket holds a sparse segment and FEWER rows than written.
    */
  def cleanupPolicyCompactAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "cpq", numBuckets = 1)
    Ripple.setTopicConfig(root, "cpq", graft.connector.TopicConfig(
      cleanupPolicy = Some("compact"), autoCompactSegments = Some(3)))
    def slice(lo: Int, hi: Int) = ev
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .repartition(1).sortWithinPartitions("event_id")
      .select(
        pmod(col("event_id"), lit(300)).cast("int").as("id"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).cast("binary").as("data"))
    val total = Relational.events(s, d).count()
    Ripple.write(slice(0, 250), root, "cpq", numBuckets = 1)
    Ripple.write(slice(250, 500), root, "cpq", numBuckets = 1)
    Ripple.write(slice(500, 800), root, "cpq", numBuckets = 1)
    Ripple.write(slice(800, Int.MaxValue), root, "cpq", numBuckets = 1)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("cpq", "b0000")
    require(log.segments(tb).exists(seg =>
      graft.log.SegmentCodec.isSparse(seg._1.getName)),
      "the sink must have keyed-compacted (sparse segment expected), got " +
        log.segments(tb).map(_._1.getName).mkString(", "))
    val kept = Ripple.read(s, root, "cpq").count()
    require(kept < total, s"compaction must reclaim superseded keys " +
      s"($kept vs $total written)")
    Ripple.lift(Ripple.read(s, root, "cpq"), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Cross-topic transactions end-to-end (q177, the Kafka-transactions /
    * `isolation.level=read_committed` analog — [[graft.connector
    * .TxnMarkers]]). A staging topic feeds a routed TRANSACTIONAL stream
    * fanning events to two topics by key parity. Act 1: a crash injected
    * between the two topics' publishes tears the epoch — in-body requires
    * pin that the PLAIN read sees the torn half (read_uncommitted parity)
    * while `readCommitted` sees NOTHING of the epoch on either topic
    * (both participants hold pending markers), and that an innocent
    * later append stalls behind the LSO too. The replay then commits the
    * transaction: pendings clear, committed == plain. Act 2: a second
    * slice tears the same way and is resolved the OTHER way — SQL
    * `ABORT TRANSACTIONS` fences the dead epoch and records the
    * published ranges; the aborted rows stay visible to plain reads but
    * are SUBTRACTED from `readCommitted`, and `VACUUM TRANSACTIONS`
    * refuses to collect a marker still hiding retained rows. The final
    * committed state across both topics must hash-equal the oracle over
    * exactly the committed slice — an engine that leaks a torn epoch,
    * loses the abort, or subtracts the wrong offsets fails. The
    * reference has no cross-topic visibility story at all: each produce
    * is an independent append (`internal/broker/producer/server/
    * core.go:21-34`) and consumers see whatever landed (`consumer/
    * server/core.go:46-64`).
    */
  def txnReadCommittedAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch()
    val ev = Relational.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Ripple.createTopic(root, "txs", numBuckets = 1)
    Ripple.createTopic(root, "txa", numBuckets = 1)
    Ripple.createTopic(root, "txb", numBuckets = 1)
    def stage(lo: Int, hi: Int): Unit = Ripple.write(
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .repartition(1).sortWithinPartitions("event_id")
        .select(col("event_id").cast("int").as("id"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type"),
            col("value"))).cast("binary").as("data")),
      root, "txs", numBuckets = 1)
    val cp = scratch()
    def run(expectCrash: Boolean): Unit = {
      val q = s.readStream.format("ripple")
        .option("path", root).option("topic", "txs").load()
        .select(col("id"), col("data"),
          when(pmod(col("id"), lit(2)) === 0, "txa").otherwise("txb")
            .as("target"))
        .writeStream.format("ripple")
        .option("path", root).option("topicColumn", "target")
        .option("transactional", "true")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try {
        q.awaitTermination(120000)
        require(!expectCrash, "the injected crash must fail the query")
      } catch {
        case e: Exception =>
          require(expectCrash, s"unexpected streaming failure: ${e.getMessage}")
      } finally q.stop()
    }
    def crashBetweenTopics(): Unit = {
      var crashed = false
      graft.connector.RipplePublish.interTopicSeam = t =>
        if (t == "txa" && !crashed) {
          crashed = true; sys.error("q177 injected crash between topics")
        }
      try run(expectCrash = true)
      finally graft.connector.RipplePublish.interTopicSeam = _ => ()
      require(crashed, "the inter-topic seam must have fired")
    }
    def sql(stmt: String): DataFrame = org.apache.spark.sql.graft.bridge.ofRows(
      s, new graft.GraftSqlParser(s.sessionState.sqlParser).parsePlan(stmt))
    val aAll = ev.filter(col("event_id") < 400).count()
    val aEven = ev.filter(col("event_id") < 400 &&
      pmod(col("event_id"), lit(2)) === 0).count()
    val bEven = ev.filter(col("event_id") >= 400 && col("event_id") < 600 &&
      pmod(col("event_id"), lit(2)) === 0).count()
    require(aEven > 0 && aEven < aAll && bEven > 0, "fixture needs both parities")

    // ── Act 1: torn epoch → replay COMMITS the transaction
    stage(0, 400)
    crashBetweenTopics()
    require(Ripple.read(s, root, "txa").count() == aEven,
      "plain read must see the torn half (read_uncommitted parity)")
    require(Ripple.read(s, root, "txb").count() == 0, "txb never published")
    require(Ripple.readCommitted(s, root, "txa").count() == 0 &&
      Ripple.readCommitted(s, root, "txb").count() == 0,
      "readCommitted must withhold the whole in-flight epoch")
    require(
      graft.connector.TxnMarkers.listPending(
        graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf),
        "txa").size == 1,
      "the torn epoch must hold a pending marker")
    run(expectCrash = false) // replay completes the transaction
    require(Ripple.readCommitted(s, root, "txa").count() == aEven &&
      Ripple.readCommitted(s, root, "txb").count() == aAll - aEven,
      "after commit the whole epoch is stable")

    // ── Act 2: torn epoch → admin ABORT resolves it the other way
    stage(400, 600)
    crashBetweenTopics()
    require(Ripple.read(s, root, "txa").count() == aEven + bEven,
      "the second torn half lands in txa")
    // round 19: the abort names ONLY txa — the participant set recorded
    // in every pending resolves the WHOLE transaction (one row per
    // participant), and the sibling has nothing left to abort
    val abortedA = sql(s"ABORT TRANSACTIONS ON txa (olderThanMs = 0) IN '$root'").collect()
    require(abortedA.length == 2 &&
      abortedA.exists(r => r.getString(2) == "txa" && r.getString(3).nonEmpty) &&
      abortedA.exists(r => r.getString(2) == "txb" && r.getString(3).isEmpty),
      s"aborting one participant must resolve both, got ${abortedA.toSeq}")
    require(sql(s"ABORT TRANSACTIONS ON txb (olderThanMs = 0) IN '$root'")
      .collect().isEmpty, "the sibling was already resolved")
    require(Ripple.read(s, root, "txa").count() == aEven + bEven,
      "aborted rows stay in the log for plain reads")
    require(Ripple.readCommitted(s, root, "txa").count() == aEven,
      "readCommitted must subtract exactly the aborted ranges")
    // r18 ADVICE #1 regression arm: a checkpoint replay of the
    // admin-aborted epoch must not publish the sibling — before round 19
    // txa's pre-crash commit marker made the replay publish txb and
    // clear every pending, splitting the epoch into an aborted-
    // subtracted half and a committed-visible half
    run(expectCrash = false)
    require(Ripple.read(s, root, "txb").count() == aAll - aEven,
      "the fenced replay must not publish the aborted epoch's txb half")
    require(Ripple.readCommitted(s, root, "txa").count() == aEven &&
      Ripple.readCommitted(s, root, "txb").count() == aAll - aEven,
      "readCommitted must show no half of the aborted transaction")
    val vac = sql(s"VACUUM TRANSACTIONS ON txa IN '$root'").collect()(0)
    require(vac.getInt(2) == 0,
      "vacuum must keep a marker whose aborted rows are still retained")

    // committed state across the fan-out = exactly the committed slice
    Ripple.lift(Ripple.readCommitted(s, root, "txa")
        .unionByName(Ripple.readCommitted(s, root, "txb")), eventSchema)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q170_cleanup_policy_compact" -> (cleanupPolicyCompactAgg _),
    "q177_txn_read_committed" -> (txnReadCommittedAgg _),
    "q169_routed_write" -> (routedWriteAgg _),
    "q168_sql_admin_ddl" -> (sqlAdminDdlAgg _),
    "q167_keyed_compaction" -> (keyedCompactionAgg _),
    "q171_tombstone_compaction" -> (tombstoneCompactionAgg _),
    "q172_sql_lifecycle" -> (sqlLifecycleAgg _),
    "q173_dict_compression" -> (dictCompressionAgg _),
    "q174_read_table" -> (readTableAgg _),
    "q175_sql_hygiene" -> (sqlHygieneAgg _),
    "q176_record_headers" -> (recordHeadersAgg _),
    "q178_stream_table_view" -> (streamTableViewAgg _),
    "q179_consumer_group" -> (consumerGroupAgg _),
    "q166_compressed_topic" -> (compressedTopicAgg _),
    "q161_sql_describe" -> (sqlDescribeAgg _),
    "q162_consumer_reset_arms" -> (consumerResetArmsAgg _),
    "q164_consumer_expiry" -> (consumerExpiryAgg _),
    "q165_topic_config_retention" -> (topicConfigRetentionAgg _),
    "q158_schema_evolve" -> (schemaEvolveAgg _),
    "q159_auto_compact" -> (autoCompactAgg _),
    "q160_consumer_reset" -> (consumerResetAgg _),
    "q156_ts_prune" -> (tsPruneAgg _),
    "q157_meta_agg" -> (metaAggQuery _),
    "q155_multi_topic" -> (multiTopicAgg _),
    "q154_ts_seek" -> (tsSeekAgg _),
    "q153_snapshot_pin" -> (snapshotPinAgg _),
    "q40_topic_roundtrip_agg" -> (roundtripAgg _),
    "q41_topic_replay_suffix" -> (replaySuffix _),
    "q151_lifted_topic" -> (liftedTopicAgg _),
    "q152_compact_inplace" -> (compactInPlaceAgg _),
    "q42_json_source" -> ((s, d) => fileSourceAgg(s, d, "json")),
    "q43_csv_source" -> ((s, d) => fileSourceAgg(s, d, "csv")),
    // ORC: the columnar alternative to parquet (binary round-trip, no text
    // re-parse — doubles survive bit-exactly by format, not by repr)
    "q84_orc_source" -> ((s, d) => fileSourceAgg(s, d, "orc")),
    // Z-order layout round-trip: write events z-ordered on (event_id,
    // user_id), read back through a 2-D range predicate, aggregate — the
    // result must be layout-independent (oracle scans the original
    // parquet); the multi-dimensional file-skipping property itself is
    // asserted in OpsSpec
    "q94_zorder_roundtrip" -> ((s, d) => {
      val out = java.nio.file.Paths.get("target", "ripple-scratch",
        "events-zorder").toString
      val ev = Relational.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.ops.Layout.writeZOrdered(ev, out,
        Seq(col("event_id"), col("user_id")), numFiles = 8)
      s.read.parquet(out)
        .filter(col("event_id") < 500 && col("user_id") < 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"))
    }),
    // compaction round-trip: a 6-append small-file swarm compacts in place
    // (rename-swapped, range-clustered); the read-back aggregate must be
    // layout-independent — the oracle scans the original parquet
    "q104_compact_roundtrip" -> ((s, d) => {
      val out = java.nio.file.Paths.get("target", "ripple-scratch",
        "events-compact").toString
      val ev = Relational.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      (0 until 6).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(6)) === i)
          .write.mode("append").parquet(out)
      }
      graft.ops.Layout.compact(s, out, Seq(col("event_id")), numFiles = 4)
      s.read.parquet(out)
        .filter(col("event_id") < 800)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 6))).cast("double").as("total_value"))
    }),
    // salted skewed join: the salt spreads each hot l_orderkey over 8
    // sub-partitions, the dim side replicates 8×, and the output is BY
    // CONSTRUCTION the plain join — which is exactly what the unsalted
    // oracle proves
    "q99_salted_join" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.ops.Skew.saltedJoin(li, ord, Seq("l_orderkey"), salts = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(30, 6))).cast("double").as("sum_qty"))
    }),
    // bucketed co-located join: both sides written hash-bucketed on the
    // join key (the pay-the-exchange-once-at-ingest layout); the join
    // itself plans with zero shuffles (asserted in OpsSpec) and must match
    // the plain-join oracle. Ingest is [[q100Ingest]] — separated so the
    // bench reports layout cost and join cost as TWO numbers (round 4's
    // 1.89 s was 95% one-time ingest and read as join cost).
    "q100_bucketed_join" -> ((s, d) => {
      q100Ingest(s, d)
      s.table("q100_li")
        .join(s.table("q100_ord"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(30, 6))).cast("double").as("sum_qty"))
    }))

  /** Bucketed-table ingest for q100 — the pay-once layout write. Skipped
    * when this session already ingested the same sf dir (marker file), so
    * repeated bench samples of q100 measure the JOIN, not the ingest;
    * `force` re-runs it for the bench's explicit ingest metric.
    */
  def q100Ingest(s: SparkSession, d: String, force: Boolean = false): Unit = {
    val root = java.nio.file.Paths.get("target", "ripple-scratch")
    val marker = root.resolve("q100.src")
    val cur = if (java.nio.file.Files.exists(marker))
      new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8) else ""
    if (!force && cur == d && s.catalog.tableExists("q100_li") &&
        s.catalog.tableExists("q100_ord")) return
    graft.ops.Layout.writeBucketed(
      s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity")),
      "q100_li", "l_orderkey", numBuckets = 8, Some(s"$root/q100_li"))
    graft.ops.Layout.writeBucketed(
      s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus")),
      "q100_ord", "o_orderkey", numBuckets = 8, Some(s"$root/q100_ord"))
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.write(marker,
      d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  val oracle: Map[String, String] = Map(
    "q158_schema_evolve" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(CASE WHEN event_id >= 600
        |            THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE)
        |    AS late_value
        |FROM events GROUP BY 1""".stripMargin,
    "q159_auto_compact" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q160_consumer_reset" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= (SELECT date_trunc('milliseconds', ts) FROM events
        |             WHERE event_id = 600)
        |GROUP BY 1""".stripMargin,
    "q156_ts_prune" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= (SELECT date_trunc('milliseconds', ts) FROM events
        |             WHERE event_id = 700)
        |GROUP BY 1""".stripMargin,
    "q161_sql_describe" ->
      """SELECT count(1) AS n_rows, CAST(8 AS BIGINT) AS n_buckets,
        |  CAST(0 AS BIGINT) AS total_floor
        |FROM events""".stripMargin,
    "q165_topic_config_retention" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id >= 200""".stripMargin,
    "q166_compressed_topic" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id >= 200""".stripMargin,
    // boundary 800: the sink's keyed compaction fires inside write 3's
    // commit (segment count crosses 3), covering exactly event_id < 800;
    // write 4's rows land after it — Kafka's compacted-topic contract is
    // "AT LEAST the latest per key", and the oracle pins precisely that
    // boundary semantics
    "q170_cleanup_policy_compact" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE e.event_id >= 800
        |   OR e.event_id = (SELECT max(e2.event_id) FROM events e2
        |                    WHERE e2.event_id % 300 = e.event_id % 300
        |                      AND e2.event_id < 800)""".stripMargin,
    "q169_routed_write" ->
      """SELECT 'rw' || CAST(event_id % 2 AS VARCHAR) AS topic,
        |  count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q168_sql_admin_ddl" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id >= 200""".stripMargin,
    "q167_keyed_compaction" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE e.event_id = (SELECT max(e2.event_id) FROM events e2
        |                    WHERE e2.event_id % 500 = e.event_id % 500)""".stripMargin,
    // q177: the committed cross-topic state is exactly the first slice —
    // the second slice's torn epoch was aborted and must not count
    "q177_txn_read_committed" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id < 400""".stripMargin,
    "q171_tombstone_compaction" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE e.event_id = (SELECT max(e2.event_id) FROM events e2
        |                    WHERE e2.event_id % 500 = e.event_id % 500)
        |  AND NOT (e.event_id % 500 % 7 = 0 AND e.event_id < 700)""".stripMargin,
    // q174 reads the SAME final state as q171 — but computed at READ
    // time over the raw, never-compacted log (the view is the oracle's
    // latest-per-key-minus-deletes reduction itself)
    "q174_read_table" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE e.event_id = (SELECT max(e2.event_id) FROM events e2
        |                    WHERE e2.event_id % 500 = e.event_id % 500)
        |  AND NOT (e.event_id % 500 % 7 = 0 AND e.event_id < 700)""".stripMargin,
    // q178 maintains the SAME final state as q174 — but as a streaming
    // changelog (keyed state across rate-capped epochs + a restart),
    // reduced to last-emission-per-key with deletes applied
    "q178_stream_table_view" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE e.event_id = (SELECT max(e2.event_id) FROM events e2
        |                    WHERE e2.event_id % 500 = e.event_id % 500)
        |  AND NOT (e.event_id % 500 % 7 = 0 AND e.event_id < 700)""".stripMargin,
    // q179: two group members' drains UNION to exactly the source table
    "q179_consumer_group" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events""".stripMargin,
    "q173_dict_compression" ->
      """SELECT event_type, count(1) AS n, min(event_id) AS lo,
        |  max(event_id) AS hi
        |FROM events GROUP BY 1""".stripMargin,
    "q172_sql_lifecycle" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE e.event_id >= 200
        |  AND e.event_id = (SELECT max(e2.event_id) FROM events e2
        |                    WHERE e2.event_id % 500 = e.event_id % 500
        |                      AND e2.event_id >= 200)""".stripMargin,
    "q164_consumer_expiry" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id >= 200""".stripMargin,
    "q175_sql_hygiene" ->
      """SELECT count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id >= 200""".stripMargin,
    // q176: the Spark side derives every column from RECORD HEADER bytes
    // over a payload-pruned scan of the compacted topic; the oracle is
    // the same reduction straight off the source table
    "q176_record_headers" ->
      """SELECT event_type AS etype, count(1) AS n,
        |  count(CASE WHEN event_id < 100 THEN 1 END) AS n_gen2,
        |  CAST(SUM(user_id) AS BIGINT) AS total_uid,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "q162_consumer_reset_arms" ->
      """SELECT 'earliest' AS arm, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id >= 200
        |UNION ALL
        |SELECT 'latest', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'explicit', count(1),
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE),
        |  count(DISTINCT user_id)
        |FROM events WHERE event_id >= 600""".stripMargin,
    "q157_meta_agg" ->
      """SELECT count(1) AS n,
        |  min(event_id) AS min_off, max(event_id) AS max_off,
        |  epoch_ms(date_trunc('milliseconds', min(ts))) AS min_ts_ms,
        |  epoch_ms(date_trunc('milliseconds', max(ts))) AS max_ts_ms
        |FROM events""".stripMargin,
    "q155_multi_topic" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q154_ts_seek" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= (SELECT date_trunc('milliseconds', ts) FROM events
        |             WHERE event_id = 600)
        |GROUP BY 1""".stripMargin,
    "q153_snapshot_pin" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id < 600 GROUP BY 1""".stripMargin,
    "q40_topic_roundtrip_agg" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q151_lifted_topic" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  max(event_id) AS max_id
        |FROM events GROUP BY 1""".stripMargin,
    "q152_compact_inplace" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q41_topic_replay_suffix" ->
      """SELECT event_id, event_type, event_id AS offset
        |FROM events WHERE event_id >= 100""".stripMargin,
    "q42_json_source" -> fileSourceOracleSql,
    "q43_csv_source" -> fileSourceOracleSql,
    "q84_orc_source" -> fileSourceOracleSql,
    "q94_zorder_roundtrip" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id < 500 AND user_id < 50
        |GROUP BY 1""".stripMargin,
    "q104_compact_roundtrip" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id < 800
        |GROUP BY 1""".stripMargin,
    "q99_salted_join" ->
      """SELECT o_orderstatus, count(1) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q100_bucketed_join" ->
      """SELECT o_orderstatus, count(1) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)
}
