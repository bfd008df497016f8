package graft.connector

import graft.log.{FileTopicLog, LogFs, SerializableHadoopConf}
import graft.model.Schemas

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 provider for the `ripple` topic-log format.
  *
  * This is the Spark-native rendering of the reference's whole data plane:
  * the bootstrap metadata lookup (`server/exposed/produce.go:14-27`,
  * `consume.go:14-27`) becomes table resolution from options; produce
  * (`internal/broker/producer/server/core.go:21-34`) becomes the write
  * side; AskQuery batch reads (`internal/broker/consumer/server/core.go:
  * 46-64`) become the scan/micro-batch side.
  *
  * Usage:
  * {{{
  *   spark.read.format("ripple").option("path", root).option("topic", "t").load()
  *   df.write.format("ripple").option("path", root).option("topic", "t")
  *     .mode("append").save()
  *   spark.readStream.format("ripple")... / df.writeStream.format("ripple")...
  * }}}
  *
  * Options:
  *   - `path` (required): log root directory
  *   - `topic` (required unless `topicPattern`): topic name, or a
  *     comma-separated list (Kafka `subscribe`) — reads union the topics,
  *     the envelope's `topic` column disambiguates, and streaming offset
  *     keys become `topic/bucket` (single-topic checkpoints keep bare
  *     bucket keys). A multi-topic SUBSCRIPTION write is refused (route
  *     by a data column via `topicColumn` instead); snapshots stay
  *     single-topic; a lifted
  *     multi-topic read requires all registered schemas equal
  *   - `topicPattern` (exclusive with `topic`): Java regex resolved
  *     against the log's topics once at plan/start time (Kafka
  *     `subscribePattern`); matching nothing fails loudly
  *   - `topicColumn` (write only; exclusive with `topic`/`topicPattern`):
  *     ROUTED fan-out — each row's target topic comes from the named
  *     STRING column (the Kafka sink's topic-column parity). Target
  *     topics must already exist (no auto-create from executors — a typo
  *     must not mint a topic); per-topic bucket counts and the persisted
  *     `compression` resolve per discovered topic; publish runs the full
  *     per-topic protocol, so per-(topic, query, epoch) markers keep
  *     exactly-once even across a crash between two topics' publishes.
  *     VISIBILITY CONTRACT: write-path atomicity is PER TOPIC, not
  *     across topics — topics publish in sorted order within an epoch,
  *     so in the window between a crash and the replayed epoch
  *     completing, a PLAIN reader can observe earlier-sorted topics'
  *     rows for that epoch while later-sorted topics still lack theirs
  *     (the replay closes the gap without duplicates). A consumer
  *     needing cross-topic agreement sets `readCommitted` and the
  *     writer `transactional` — the Kafka-transactions analog below.
  *     NULL topics are loud; reads refuse the option
  *   - `transactional` (write, default false; requires a streaming
  *     epoch — batch appends refuse loudly): marks each epoch's rows
  *     IN FLIGHT until every participating topic commits, via a pending
  *     marker per topic ([[TxnMarkers]] — Kafka transactions as
  *     visibility metadata, not write-path atomicity). Costs three
  *     small metadata writes per topic per epoch; plain readers are
  *     unaffected. A writer that dies mid-transaction leaves the epoch
  *     pending until its replay commits it or an admin abort
  *     ([[graft.api.Ripple.abortStaleTxns]] / SQL `ABORT TRANSACTIONS`)
  *     fences it
  *   - `readCommitted` (read, default false; batch + streaming;
  *     exclusive with `snapshot`): Kafka
  *     `isolation.level=read_committed` — each bucket caps at its
  *     STABLE end (below every in-flight transaction's pending floor;
  *     the LSO, including the honest stall behind a hung transaction)
  *     and aborted-transaction ranges are subtracted from the scan.
  *     Plain reads are `read_uncommitted`: everything published is
  *     visible, including torn or aborted epochs' rows. Topics with no
  *     transactional writer read identically either way; the option
  *     costs one `.commits` listing per topic at plan time. SQL:
  *     `READ TOPIC t COMMITTED`
  *   - `bucket`: restrict to a single bucket
  *   - `buckets`: bucket count used when the write auto-creates the topic
  *     (default 4)
  *   - `startingOffset`/`endingOffset` (batch read): per-bucket offset
  *     range, applied to every bucket. An EXPLICIT `startingOffset` below a
  *     bucket's retention floor fails loudly (see `allowDataLoss`); when
  *     absent, reads start at the earliest RETAINED offset
  *   - `startingTimestamp`/`endingTimestamp` (read, epoch millis): resolve
  *     each bucket's offset range by record timestamp — Kafka's
  *     `offsetsForTimes` seek ([[graft.log.FileTopicLog.offsetForTimestamp]]:
  *     earliest offset with `ts >= t`, correct for out-of-order stamps via
  *     the running-max argument, O(one boundary segment) via the per-segment
  *     maxTs in the commit records). `startingTimestamp` also seeds a FRESH streaming checkpoint
  *     (a managed `consumerId` cursor and a resumed checkpoint still win);
  *     `endingTimestamp` is batch-only. Exclusive with `startingOffset`
  *     and `snapshot` — two fixed starts have no defensible winner. A
  *     timestamp predating retention means "earliest retained"
  *   - `allowDataLoss` (read, default false): when a requested or resumed
  *     offset lies below a bucket's first surviving segment (retention
  *     truncated past it), `false` fails the query with the truncation
  *     floor in the message; `true` logs the lost range and skips to the
  *     floor — the `failOnDataLoss` analog of the Kafka source
  *   - `maxOffsetsPerTrigger` (streaming read): global per-micro-batch row
  *     cap, the analog of the reference's `AskQuery.Count` (`core.go:16-19`);
  *     allocated proportionally to per-bucket backlog
  *   - `minOffsetsPerTrigger`/`maxTriggerDelayMs` (streaming read): hold a
  *     trigger until the backlog reaches the minimum or the delay (default
  *     15 min) expires — fewer, fuller micro-batches under trickle input
  *     (Kafka source semantics; ignored under Trigger.AvailableNow)
  *   - `startingPosition` (streaming read): `latest` tails NEW records
  *     from query start (fresh checkpoints only — resume goes through the
  *     checkpoint; batch reads refuse it), `earliest` names the default;
  *     exclusive with `startingOffset`/`startingTimestamp`
  *   - `preferredHosts` (read): comma-separated executor hosts for stable
  *     per-bucket locality pinning
  *   - `retentionMs` (write): expire whole segments older than this at each
  *     publish (offsets preserved; newest segment kept)
  *   - `retentionBytes` (write): per bucket, keep at most this many
  *     trailing segment bytes at each publish (Kafka `retention.bytes`;
  *     whole segments, newest kept, offsets preserved) — bounds a
  *     runaway stream's footprint; composes with `retentionMs` (each is
  *     a floor advance, the deeper cut wins)
  *   - `autoCompactSegments` (write, default 0 = off): when any bucket
  *     reaches this many segments after a publish, merge adjacent runs
  *     in place ([[graft.api.Ripple.compactSegments]] — offsets, floors
  *     and cursors untouched; readers holding stale plans re-resolve) —
  *     the inline answer to streaming one-segment-per-epoch
  *     proliferation, amortized to one merge pass every N epochs
  *   - `compactDistributeMinBytes` (write, default 16 MB): merges at or
  *     above this size run as a Spark job (executors move the bytes, the
  *     driver commits metadata only — [[DistributedConcat]]); smaller
  *     merges stay driver-local where job latency would exceed the copy.
  *     0 distributes everything (test/ops hook); `Long.MaxValue`
  *     restores the round-13 driver-side copy
  *   - `compression` (write, default none): per-frame payload codec
  *     (`zstd`|`lz4`|`deflate`|`zstd-dict` — Kafka `compression.type`
  *     parity; see [[graft.log.Codecs]]). `zstd-dict` trains a
  *     per-segment dictionary on the first payloads and ships it as an
  *     in-stream dict frame — the small-JSON/telemetry recovery path
  *     where per-frame compression can't see cross-record redundancy.
  *     Usually persisted as a TOPIC config so
  *     every writer applies it; the explicit option wins per key
  *   - `cleanupPolicy` (write, default delete): `compact` makes the
  *     `autoCompactSegments` threshold trigger KEY compaction (latest
  *     record per id at its original offset) instead of byte-concat,
  *     dirty-ratio amortized — Kafka `cleanup.policy=compact`. A NULL
  *     `data` cell writes a TOMBSTONE ("delete this key"): readers see
  *     `data IS NULL`, and compaction drops the key once the tombstone
  *     has sat in a compacted product for `tombstoneRetentionMs` of
  *     clean time (the first pass always leaves the delete visible)
  *   - `compactionKeyHeap` (write, default 4M entries): per-task cap on
  *     keyed compaction's id→offset state (Kafka
  *     `log.cleaner.dedupe.buffer.size` analog); key counts beyond it
  *     spill to sorted runs on task-local disk — memory stays bounded at
  *     any cardinality
  *   - `tombstoneRetentionMs` (write, default 24 h): how long a
  *     latest-per-key tombstone stays observable AFTER it first survives
  *     a compaction (clean-time aging — producer event-time stamps never
  *     age a delete) so lagging readers observe it before the key
  *     vanishes (Kafka `delete.retention.ms`)
  *   - `includeHeaders` (read, default false): append the record-headers
  *     column — `headers ARRAY<STRUCT<key STRING, value BINARY>>`
  *     (`_headers` under `lift`), null for a record that carries none;
  *     order and duplicate keys preserved (KIP-82, the Kafka connector's
  *     option of the same name). Write headers by giving the sink an
  *     optional `headers` column of the same shape. Pruning-aware: a
  *     projection keeping `headers` but not `data` still seeks past
  *     payload bytes and parses only the raw header blocks
  *   - `lift` (read, default false): expose the topic's REGISTERED payload
  *     schema ([[TopicSchemas]]) as typed columns (underscore-prefixed
  *     envelope metadata + payload fields), decoded executor-side in the
  *     session time zone by [[graft.functions.PayloadJsonDecoder]], so the
  *     values equal [[graft.api.Ripple.lift]]'s; loud when the topic has
  *     no registered schema. The schema is CAPTURED at
  *     query/plan time: a RUNNING lifted stream keeps the shape it
  *     started with across a concurrent [[TopicSchemas.evolve]] (a frame
  *     cannot change columns mid-query) and picks the evolution up on
  *     restart — old rows then lift with NULLs in the added columns
  *   - `snapshot` (batch read): a [[TopicSnapshot]] token pinning each
  *     bucket to the offset range committed at capture time
  *     ([[graft.api.Ripple.snapshot]]). Appends after the capture are
  *     invisible; compaction is transparent (offsets preserved); retention
  *     past a pinned floor fails loudly (honors `allowDataLoss`); a pinned
  *     bucket missing from the log, or a log that ends BELOW a pinned end,
  *     fails loudly. Batch only — a streaming query pins via its checkpoint
  *   - `root` (alias for `path`, wins over it): use in
  *     `CREATE TABLE ... USING ripple OPTIONS (root ..., topic ...)` —
  *     the session catalog rewrites/injects `path` itself
  */
class RippleDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ripple"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("includeHeaders", false)) Schemas.envelopeWithHeaders
    else Schemas.envelope

  /** Also names the `file:` checkpoint manager for the session's
    * streaming queries ([[graft.streaming.LocalCheckpointFileManager]]),
    * unless the session names one itself.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    graft.streaming.LocalCheckpointFileManager.install()
    new RippleTable(new CaseInsensitiveStringMap(properties))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object RippleConf {
  def apply(options: CaseInsensitiveStringMap): RippleConf = {
    // `root` is an accepted alias for `path` and WINS over it: on
    // CREATE TABLE ... USING ripple the session catalog rewrites any `path`
    // OPTION into the table location and injects its own warehouse `path`
    // into the table properties, so SQL-defined tables declare
    // OPTIONS (root '...', topic '...') and the injected path must lose.
    val path = Option(options.get("root")).orElse(Option(options.get("path"))).getOrElse(
      throw new IllegalArgumentException("ripple: option 'path' (or 'root') is required"))
    val topicOpt = Option(options.get("topic"))
    val patternOpt = Option(options.get("topicPattern"))
    val topicColOpt = Option(options.get("topicColumn"))
    if (topicOpt.isDefined && patternOpt.isDefined)
      throw new IllegalArgumentException(
        "ripple: options 'topic' and 'topicPattern' are exclusive — name " +
          "the subscription one way")
    if (topicColOpt.isDefined && (topicOpt.isDefined || patternOpt.isDefined))
      throw new IllegalArgumentException(
        "ripple: 'topicColumn' routes each row by the named column — it " +
          "is exclusive with 'topic'/'topicPattern' (a routed write names " +
          "its topics in the data)")
    if (topicOpt.isEmpty && patternOpt.isEmpty && topicColOpt.isEmpty)
      throw new IllegalArgumentException(
        "ripple: option 'topic' (or 'topicPattern') is required")
    // ROUTED writes (`topicColumn`): target topics are data-dependent —
    // the conf carries no subscription and the scan side refuses it
    if (topicColOpt.isDefined)
      return RippleConf(
        root = path,
        topic = "",
        topics = Seq.empty,
        bucket = None,
        numBuckets = options.getInt("buckets", 4),
        startingOffset = 0L,
        endingOffset = Long.MaxValue,
        maxOffsetsPerTrigger = Long.MaxValue,
        retentionMs = options.getLong("retentionMs", Long.MaxValue),
        retentionBytes = options.getLong("retentionBytes", Long.MaxValue),
        autoCompactSegments = options.getInt("autoCompactSegments", 0),
        compactDistributeMinBytes = options.getLong("compactDistributeMinBytes",
          DistributedConcat.DefaultMinBytes),
        compression = Option(options.get("compression")).getOrElse("none"),
        compressionSet = options.containsKey("compression"),
        cleanupPolicy = Option(options.get("cleanupPolicy")).getOrElse("delete"),
        cleanupPolicySet = options.containsKey("cleanupPolicy"),
        compactionKeyHeap = options.getInt("compactionKeyHeap",
          graft.log.SegmentCodec.DefaultKeyHeapEntries),
        compactionKeyHeapSet = options.containsKey("compactionKeyHeap"),
        tombstoneRetentionMs = options.getLong("tombstoneRetentionMs",
          graft.log.SegmentCodec.DefaultTombstoneRetentionMs),
        tombstoneRetentionMsSet = options.containsKey("tombstoneRetentionMs"),
        retentionMsSet = options.containsKey("retentionMs"),
        retentionBytesSet = options.containsKey("retentionBytes"),
        autoCompactSegmentsSet = options.containsKey("autoCompactSegments"),
        compactDistributeMinBytesSet =
          options.containsKey("compactDistributeMinBytes"),
        transactional = options.getBoolean("transactional", false),
        topicColumn = topicColOpt.filter(_.trim.nonEmpty).map(_.trim)
          .orElse(throw new IllegalArgumentException(
            "ripple: 'topicColumn' must name a column")))
        .validated
    // `topic` accepts a comma-separated list (Kafka `subscribe`);
    // `topicPattern` a Java regex resolved against the log's topics ONCE,
    // here at conf build (Kafka `subscribePattern`: the subscription is
    // fixed at query start; topics created later need a restart).
    val topics: Seq[String] = topicOpt match {
      case Some(t) =>
        val ts = t.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        if (ts.isEmpty) throw new IllegalArgumentException(
          "ripple: option 'topic' names no topics")
        ts.distinct
      case None =>
        val re = patternOpt.get.r
        val ts = FileTopicLog.cached(path, LogFs.activeHadoopConf)
          .topics().filter(t => re.pattern.matcher(t).matches()).sorted
        if (ts.isEmpty) throw new IllegalArgumentException(
          s"ripple: topicPattern '${patternOpt.get}' matches no topic in " +
            s"'$path' — an empty subscription reads nothing, loudly")
        ts
    }
    RippleConf(
      root = path,
      topic = topics.mkString(","),
      topics = topics,
      bucket = Option(options.get("bucket")),
      numBuckets = options.getInt("buckets", 4),
      startingOffset = options.getLong("startingOffset", 0L),
      endingOffset = options.getLong("endingOffset", Long.MaxValue),
      maxOffsetsPerTrigger = options.getLong("maxOffsetsPerTrigger", Long.MaxValue),
      minOffsetsPerTrigger = options.getLong("minOffsetsPerTrigger", 0L),
      maxTriggerDelayMs = options.getLong("maxTriggerDelayMs", 15L * 60 * 1000),
      startingPosition = Option(options.get("startingPosition")).map {
        case p @ ("earliest" | "latest") => p
        case other => throw new IllegalArgumentException(
          s"ripple: startingPosition must be 'earliest' or 'latest', got '$other'")
      },
      preferredHosts = Option(options.get("preferredHosts"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
      retentionMs = options.getLong("retentionMs", Long.MaxValue),
      retentionBytes = options.getLong("retentionBytes", Long.MaxValue),
      autoCompactSegments = options.getInt("autoCompactSegments", 0),
      compactDistributeMinBytes = options.getLong("compactDistributeMinBytes",
        DistributedConcat.DefaultMinBytes),
      compression = Option(options.get("compression")).getOrElse("none"),
      compressionSet = options.containsKey("compression"),
      cleanupPolicy = Option(options.get("cleanupPolicy")).getOrElse("delete"),
      cleanupPolicySet = options.containsKey("cleanupPolicy"),
      compactionKeyHeap = options.getInt("compactionKeyHeap",
        graft.log.SegmentCodec.DefaultKeyHeapEntries),
      compactionKeyHeapSet = options.containsKey("compactionKeyHeap"),
      tombstoneRetentionMs = options.getLong("tombstoneRetentionMs",
        graft.log.SegmentCodec.DefaultTombstoneRetentionMs),
      tombstoneRetentionMsSet = options.containsKey("tombstoneRetentionMs"),
      // presence flags: an EXPLICIT writer option must win over the
      // topic's persisted config even when it spells the default/"off"
      // value — sentinel-guessing would make "this one writer opts out"
      // inexpressible (see TopicConfig.applyDefaults)
      retentionMsSet = options.containsKey("retentionMs"),
      retentionBytesSet = options.containsKey("retentionBytes"),
      autoCompactSegmentsSet = options.containsKey("autoCompactSegments"),
      compactDistributeMinBytesSet = options.containsKey("compactDistributeMinBytes"),
      consumerId = Option(options.get("consumerId")).map(ConsumerOffsets.requireValidId),
      groupMember = options.getInt("groupMember", -1),
      groupMembers = options.getInt("groupMembers", 1),
      transactional = options.getBoolean("transactional", false),
      readCommitted = options.getBoolean("readCommitted", false),
      // An EXPLICIT startingOffset is a positional read request — reading
      // past a retention floor it names is data loss and fails loudly; the
      // absent default means "earliest retained" (Kafka's `earliest`), which
      // can never lose data. The distinction must be captured here because
      // both arrive at the scan as the same Long.
      startingOffsetSet = options.containsKey("startingOffset"),
      allowDataLoss = options.getBoolean("allowDataLoss", false),
      lift = options.getBoolean("lift", false),
      includeHeaders = options.getBoolean("includeHeaders", false),
      snapshot = Option(options.get("snapshot")).map { tok =>
        val (snapTopic, ranges, _) = TopicSnapshot.decode(tok)
        if (snapTopic != topics.head) throw new IllegalArgumentException(
          s"ripple: snapshot token was captured from topic '$snapTopic', " +
            s"not '${topics.head}' — a pin must not silently read a " +
            "different topic")
        ranges
      },
      snapshotSchemaV = Option(options.get("snapshot"))
        .flatMap(tok => TopicSnapshot.decode(tok)._3),
      startingTimestamp =
        if (options.containsKey("startingTimestamp"))
          Some(options.getLong("startingTimestamp", 0L)) else None,
      endingTimestamp =
        if (options.containsKey("endingTimestamp"))
          Some(options.getLong("endingTimestamp", 0L)) else None)
      .validated
  }
}

/** Immutable, serializable connector configuration (ships to executors).
  * `hconf` carries the driver's Hadoop configuration so every side —
  * planning, executor readers/writers, driver publish — resolves `root`
  * against the same filesystem ([[graft.log.LogFs]]).
  */
case class RippleConf(
    root: String,
    topic: String,
    bucket: Option[String],
    numBuckets: Int,
    startingOffset: Long,
    endingOffset: Long,
    maxOffsetsPerTrigger: Long,
    minOffsetsPerTrigger: Long = 0L,
    maxTriggerDelayMs: Long = 15L * 60 * 1000,
    startingPosition: Option[String] = None,
    preferredHosts: Seq[String] = Seq.empty,
    retentionMs: Long = Long.MaxValue,
    retentionBytes: Long = Long.MaxValue,
    autoCompactSegments: Int = 0,
    compactDistributeMinBytes: Long = DistributedConcat.DefaultMinBytes,
    compression: String = "none",
    compressionSet: Boolean = false,
    cleanupPolicy: String = "delete",
    cleanupPolicySet: Boolean = false,
    compactionKeyHeap: Int = graft.log.SegmentCodec.DefaultKeyHeapEntries,
    compactionKeyHeapSet: Boolean = false,
    tombstoneRetentionMs: Long = graft.log.SegmentCodec.DefaultTombstoneRetentionMs,
    tombstoneRetentionMsSet: Boolean = false,
    topicColumn: Option[String] = None,
    retentionMsSet: Boolean = false,
    retentionBytesSet: Boolean = false,
    autoCompactSegmentsSet: Boolean = false,
    compactDistributeMinBytesSet: Boolean = false,
    consumerId: Option[String] = None,
    groupMember: Int = -1,
    groupMembers: Int = 1,
    transactional: Boolean = false,
    readCommitted: Boolean = false,
    startingOffsetSet: Boolean = false,
    allowDataLoss: Boolean = false,
    lift: Boolean = false,
    includeHeaders: Boolean = false,
    snapshot: Option[Map[String, (Long, Long)]] = None,
    snapshotSchemaV: Option[Int] = None,
    startingTimestamp: Option[Long] = None,
    endingTimestamp: Option[Long] = None,
    topics: Seq[String] = Seq.empty,
    hconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] =
      LogFs.activeBroadcast) {
  /** The subscription (>= 1 topic); `topic` alone means a single-topic
    * read, the overwhelmingly common case and the wire-stable one (its
    * streaming offset keys stay bare bucket names, so existing
    * checkpoints keep resuming).
    */
  def topicList: Seq[String] = if (topics.nonEmpty) topics else Seq(topic)
  def multiTopic: Boolean = topicList.size > 1
  /** Streaming offset key for a bucket: bare bucket name single-topic
    * (checkpoint compatibility), `topic/bucket` under a multi-topic
    * subscription (bucket names collide across topics by construction).
    */
  def streamKey(tb: graft.model.TopicBucket): String =
    if (multiTopic) s"${tb.topic}/${tb.bucket}" else tb.bucket
  def keyBucket(key: String): graft.model.TopicBucket =
    if (multiTopic) {
      val i = key.indexOf('/')
      if (i < 0) throw new IllegalStateException(
        s"ripple: offset key '$key' lacks the topic/bucket form a " +
          "multi-topic subscription writes — the checkpoint was written " +
          "by a single-topic query; keep the original subscription")
      graft.model.TopicBucket(key.substring(0, i), key.substring(i + 1))
    } else graft.model.TopicBucket(topicList.head, key)
  /** Option-combination checks that need the fully-built conf. Timestamp
    * seek and positional/pinned reads both fix the start of the read — a
    * query naming two different starts has no defensible winner, so the
    * combinations are refused instead of silently prioritized (same
    * posture as snapshot + streaming).
    */
  private[connector] def validated: RippleConf = {
    if (startingTimestamp.isDefined && startingOffsetSet)
      throw new IllegalArgumentException(
        "ripple: options 'startingTimestamp' and 'startingOffset' both fix " +
          "the read start — set one")
    if ((startingTimestamp.isDefined || endingTimestamp.isDefined) &&
        snapshot.isDefined)
      throw new IllegalArgumentException(
        "ripple: a 'snapshot' pin already fixes each bucket's offset " +
          "range; timestamp options cannot combine with it")
    for (s <- startingTimestamp; e <- endingTimestamp)
      if (e <= s) throw new IllegalArgumentException(
        s"ripple: endingTimestamp ($e) must be greater than " +
          s"startingTimestamp ($s)")
    if (multiTopic && snapshot.isDefined)
      throw new IllegalArgumentException(
        "ripple: a snapshot token pins ONE topic — capture and read each " +
          "topic's pin separately instead of a multi-topic subscription")
    if (startingPosition.isDefined &&
        (startingOffsetSet || startingTimestamp.isDefined))
      throw new IllegalArgumentException(
        "ripple: 'startingPosition' and an explicit " +
          "startingOffset/startingTimestamp both fix the read start — " +
          "set one")
    if (minOffsetsPerTrigger < 0 || maxTriggerDelayMs <= 0)
      throw new IllegalArgumentException(
        "ripple: minOffsetsPerTrigger must be >= 0 and maxTriggerDelayMs > 0")
    if (compactDistributeMinBytes < 0)
      throw new IllegalArgumentException(
        "ripple: compactDistributeMinBytes must be >= 0 (0 distributes " +
          "every merge; Long.MaxValue keeps every merge driver-local)")
    graft.log.Codecs.id(compression) // loud on an unknown codec name
    if (cleanupPolicy != "delete" && cleanupPolicy != "compact")
      throw new IllegalArgumentException(
        s"ripple: cleanupPolicy must be 'delete' or 'compact', got " +
          s"'$cleanupPolicy'")
    if (compactionKeyHeap < 1024)
      throw new IllegalArgumentException(
        s"ripple: compactionKeyHeap must be >= 1024 entries, got " +
          s"$compactionKeyHeap — it caps keyed compaction's per-task " +
          "id->offset state (the Kafka log.cleaner.dedupe.buffer.size " +
          "analog); past it the rewrite spills to sorted runs")
    if (readCommitted && snapshot.isDefined)
      throw new IllegalArgumentException(
        "ripple: a 'snapshot' pin fixes each bucket's offset range at " +
          "capture time — it cannot compose with 'readCommitted' (whose " +
          "caps move as transactions resolve); read one way")
    if (tombstoneRetentionMs < 0)
      throw new IllegalArgumentException(
        s"ripple: tombstoneRetentionMs must be >= 0, got " +
          s"$tombstoneRetentionMs (0 drops a latest-per-key tombstone at " +
          "its SECOND compaction — the first pass always leaves the " +
          "delete visible; the Kafka delete.retention.ms analog)")
    // consumer-group load-splitting: both knobs or neither, a valid
    // member index, a shared consumerId to claim and commit under, and
    // no competing bucket pin
    if (groupMembers < 1) throw new IllegalArgumentException(
      s"ripple: groupMembers must be >= 1, got $groupMembers")
    if (groupMembers > 1 || groupMember >= 0) {
      if (groupMember < 0 || groupMember >= groupMembers)
        throw new IllegalArgumentException(
          s"ripple: groupMember must be in [0, groupMembers), got " +
            s"member $groupMember of $groupMembers — set BOTH options")
      if (consumerId.isEmpty) throw new IllegalArgumentException(
        "ripple: consumer-group splitting (groupMember/groupMembers) " +
          "needs the shared 'consumerId' the members claim buckets and " +
          "commit cursors under")
      if (bucket.isDefined) throw new IllegalArgumentException(
        "ripple: an explicit 'bucket' pin and groupMember/groupMembers " +
          "both fix the bucket set — read one way")
      if (snapshot.isDefined) throw new IllegalArgumentException(
        "ripple: a snapshot pin reads the WHOLE captured topic — it " +
          "cannot compose with a group member's bucket subset")
    }
    this
  }
  def log: FileTopicLog = FileTopicLog.cached(root, hconf.value.value)
  /** The registered payload schema (lifted reads); loud when absent. A
    * multi-topic lifted read requires every subscribed topic to carry the
    * SAME registered schema — silently unioning divergent shapes would
    * null-pad whichever side is missing columns.
    */
  def payloadSchema: StructType = snapshotSchemaV match {
    // a pinned read lifts with the schema version the token was CUT under
    // (snapshot is single-topic by validation) — evolving the registry
    // after the capture must not change what the pinned corpus looks like
    case Some(v) if snapshot.isDefined =>
      TopicSchemas.schemaAt(log, topicList.head, v)
    case _ =>
      val ss = topicList.map(t => t -> TopicSchemas.require(log, t))
      val distinct = ss.map(_._2).distinct
      if (distinct.size > 1) throw new IllegalArgumentException(
        s"ripple: lifted multi-topic read needs ONE registered schema; " +
          ss.map { case (t, s) => s"$t: ${s.simpleString}" }.mkString("; "))
      distinct.head
  }
  /** Consumer-group assignment: bucket NAME hashed over the member count
    * (String.hashCode is spec-fixed, so every member computes the same
    * map with no coordination). Hashing the name — not a sorted index —
    * keeps existing assignments STABLE when `addBuckets` grows the topic:
    * a new bucket lands on exactly one member, nothing else moves.
    */
  def memberOf(bucketName: String): Int =
    ((bucketName.hashCode % groupMembers) + groupMembers) % groupMembers

  def buckets: Seq[graft.model.TopicBucket] = {
    val all = topicList.flatMap(t => log.buckets(t))
    val mine =
      if (groupMembers > 1) all.filter(tb => memberOf(tb.bucket) == groupMember)
      else all
    bucket match {
      case Some(b) => mine.filter(_.bucket == b)
      case None    => mine
    }
  }
}

class RippleTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsRead with SupportsWrite {
  private val conf = RippleConf(options)

  /** Catalog reads/writes (`CREATE TABLE ... USING ripple` + SQL) pass the
    * table's stored properties to [[getTable]] but NOT to the per-scan
    * options, so scan/write builders must see table-level conf merged with
    * per-operation options (per-operation wins).
    */
  private def merged(opts: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String](options)
    m.putAll(opts)
    new CaseInsensitiveStringMap(m)
  }

  override def name(): String = s"ripple:${conf.topic}"
  /** Envelope by default; with option `lift 'true'` the table exposes the
    * REGISTERED payload columns directly (underscore-prefixed envelope
    * metadata + typed payload fields, [[TopicSchemas]]) — the catalog face
    * of the schema registry: `CREATE TABLE ... USING ripple OPTIONS (root
    * ..., topic ..., lift 'true')` is a fully typed table with no
    * caller-supplied schema.
    */
  override def schema(): StructType =
    if (conf.lift) Schemas.lifted(conf.payloadSchema, conf.includeHeaders)
    else if (conf.includeHeaders) Schemas.envelopeWithHeaders
    else Schemas.envelope

  override def capabilities(): java.util.Set[TableCapability] =
    Set(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = RippleConf(merged(opts))
    if (conf.topicColumn.isDefined) throw new IllegalArgumentException(
      "ripple: 'topicColumn' routes WRITES by a data column — a read names " +
        "its subscription with 'topic' (comma-list) or 'topicPattern'")
    new RippleScanBuilder(conf)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new RippleWriteBuilder(RippleConf(merged(info.options())), info.schema(), info.queryId())
}
