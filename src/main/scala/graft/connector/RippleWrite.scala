package graft.connector

import graft.log.{FileTopicLog, LogFs, SegmentCodec}
import graft.model.TopicBucket

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructType, TimestampType}

import java.io.DataOutputStream
import scala.collection.mutable

/** Write side of the `ripple` connector — the Spark rendering of the
  * reference's produce path (`internal/broker/producer/server/core.go:21-34`):
  * executors append frames to staged per-bucket files (the data plane),
  * and the driver's commit publishes them with assigned offsets (the
  * control plane). Commit-message aggregation on the driver replaces the
  * reference's follower-ack counting (`internal/broker/ack/ack.go:68-117`)
  * — same pattern, but transactional. Durability/replication belongs to
  * the filesystem, not a gossip push (SURVEY A4). All paths go through the
  * Hadoop FileSystem API ([[graft.log.LogFs]]), so staging and publish work
  * against the same `hdfs://`/`file:/` root on every executor.
  *
  * Input schema: `id INT` (required), `data BINARY` (required), optional
  * `bucket STRING` (route explicitly), optional `ts TIMESTAMP`, optional
  * `headers ARRAY<STRUCT<key STRING, value BINARY>>` (KIP-82 record
  * headers — per-record trace ids / content types that must not live
  * inside the payload; read back with `includeHeaders=true`). Without a
  * bucket column, rows route by `id % numBuckets` — deterministic
  * placement, unlike the reference's random-with-replacement broker choice
  * (`internal/broker/broker.go:93-99`).
  *
  * Exactly-once for streaming: each epoch's segments are staged under a
  * name containing the epoch id, and the publish step skips buckets whose
  * epoch-commit marker already exists, so a replayed epoch is a no-op.
  */
class RippleWriteBuilder(conf: RippleConf, schema: StructType, queryId: String)
    extends WriteBuilder {
  override def build(): Write = new RippleWrite(conf, schema, queryId)
}

class RippleWrite(conf: RippleConf, schema: StructType, queryId: String) extends Write {
  override def toBatch: BatchWrite = new RippleBatchWrite(conf, schema)
  override def toStreaming: StreamingWrite = new RippleStreamingWrite(conf, schema, queryId)
}

/** Which input columns feed the frame fields; resolved once on the driver. */
case class WriteShape(idIdx: Int, dataIdx: Int, bucketIdx: Int, tsIdx: Int,
    topicIdx: Int = -1, headersIdx: Int = -1)

object WriteShape {
  /** True iff `dt` is the record-headers shape
    * ([[graft.model.Schemas.headersType]]): ARRAY of STRUCT(key STRING,
    * value BINARY) — nullability flags don't matter, field names and
    * types do (a typo'd headers column must be loud, not silently
    * dropped).
    */
  private def isHeadersType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(st: StructType, _) =>
        st.fields.length == 2 &&
          st.fields(0).name.equalsIgnoreCase("key") &&
          st.fields(0).dataType == StringType &&
          st.fields(1).name.equalsIgnoreCase("value") &&
          st.fields(1).dataType == BinaryType
      case _ => false
    }

  def resolve(schema: StructType,
      topicColumn: Option[String] = None): WriteShape = {
    def idx(name: String, tpe: org.apache.spark.sql.types.DataType): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (i >= 0 && schema(i).dataType != tpe)
        throw new IllegalArgumentException(
          s"ripple write: column '$name' must be $tpe, got ${schema(i).dataType}")
      i
    }
    val id = idx("id", IntegerType)
    val data = idx("data", BinaryType)
    if (id < 0 || data < 0)
      throw new IllegalArgumentException(
        s"ripple write needs 'id INT' and 'data BINARY' columns; got ${schema.simpleString}")
    val topicIdx = topicColumn.map { c =>
      val i = idx(c, StringType)
      if (i < 0) throw new IllegalArgumentException(
        s"ripple write: topicColumn '$c' is not a column of the input " +
          s"(got ${schema.simpleString})")
      i
    }.getOrElse(-1)
    // optional record headers (KIP-82): ARRAY<STRUCT<key STRING, value
    // BINARY>>, the same shape `includeHeaders=true` reads back
    val headersIdx = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase("headers"))
      if (i >= 0 && !isHeadersType(schema(i).dataType))
        throw new IllegalArgumentException(
          "ripple write: column 'headers' must be ARRAY<STRUCT<key STRING, " +
            s"value BINARY>>, got ${schema(i).dataType.simpleString}")
      i
    }
    WriteShape(id, data, idx("bucket", StringType), idx("ts", TimestampType),
      topicIdx, headersIdx)
  }
}

/** One staged frame file and the facts its commit record will carry:
  * `count` records stamped within (`minTs`, `maxTs`), `bytes` long — the
  * writer task tracks all of them while framing. `partitionId` is the
  * replay-stable identity of the producing task: a replayed epoch stages
  * new file names (UUIDs), but the same (bucket, partitionId) carries the
  * same bytes when the batch is deterministic — which is what lets a
  * crashed publish be completed idempotently from its intent record.
  */
case class StagedFile(bucket: String, path: String, count: Long,
  minTs: Long, maxTs: Long, bytes: Long,
  partitionId: Int = -1, topic: String = "")
case class RippleCommitMessage(staged: Seq[StagedFile]) extends WriterCommitMessage

/** The topic's bucket count is registry metadata (the reference keeps it in
  * the ZK topic tree, `internal/topic/topic.go:12-25`) — a write against an
  * existing topic MUST route by the registered bucket count, not by the
  * writer's `buckets` option, or two writers with different options would
  * scatter the same key across different bucket layouts. The option only
  * seeds auto-creation of a missing topic.
  */
object EffectiveBuckets {
  private def requireSingleTopic(conf: RippleConf): Unit =
    if (conf.multiTopic) throw new IllegalArgumentException(
      s"ripple write: a write targets ONE topic, got " +
        s"'${conf.topicList.mkString(",")}' — multi-topic subscriptions " +
        "are a READ surface")
  def resolve(conf: RippleConf): RippleConf = {
    // ROUTED write (`topicColumn`): target topics are data-dependent, so
    // nothing resolves here — bucket counts and the per-topic config fold
    // happen per discovered topic (executor routing / per-topic publish).
    if (conf.topicColumn.isDefined) return conf
    requireSingleTopic(conf)
    // fold the topic's persisted config in FIRST (Kafka topic-level
    // retention/compaction policy applies to every writer by default;
    // explicitly-set writer options win per key) — once, driver-side,
    // at write start
    val withConfig = TopicConfig.applyDefaults(conf)
    val registered = withConfig.log.buckets(withConfig.topic).size
    if (registered > 0) withConfig.copy(numBuckets = registered)
    else {
      withConfig.log.createTopic(withConfig.topic, withConfig.numBuckets)
      withConfig
    }
  }
}

class RippleBatchWrite(conf0: RippleConf, schema: StructType) extends BatchWrite {
  private val conf = EffectiveBuckets.resolve(conf0)
  private val shape = WriteShape.resolve(schema, conf.topicColumn)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RippleWriterFactory(conf, shape)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    RipplePublish.publish(conf, messages, epochId = None)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    RipplePublish.abort(conf, messages)
}

class RippleStreamingWrite(conf0: RippleConf, schema: StructType, queryId: String)
    extends StreamingWrite {
  private val conf = EffectiveBuckets.resolve(conf0)
  private val shape = WriteShape.resolve(schema, conf.topicColumn)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new RippleWriterFactory(conf, shape)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    RipplePublish.publish(conf, messages, epochId = Some(epochId), queryId = queryId)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    RipplePublish.abort(conf, messages)
}

class RippleWriterFactory(conf: RippleConf, shape: WriteShape)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RippleDataWriter(conf, shape, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new RippleDataWriter(conf, shape, partitionId, taskId)
}

/** Executor-side writer: one staged frame file per routed (topic, bucket).
  * Single-topic writes route by `conf.topic`; a ROUTED write
  * (`topicColumn`) takes each row's topic from the named column — target
  * topics must already exist (a typo'd topic name must never mint a
  * topic from an executor; there is no safe distributed auto-create), and
  * per-topic bucket counts / codecs resolve lazily from the registry.
  */
class RippleDataWriter(conf: RippleConf, shape: WriteShape,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private val fs: FileSystem =
    LogFs.get(new HPath(conf.root), conf.hconf.value.value)

  private def stagingDir(topic: String): HPath =
    new HPath(new HPath(new HPath(conf.root), topic), ".staging")

  /** Per-topic route/frame parameters, resolved once per topic per task.
    * Single-topic: the driver already folded the topic config into the
    * conf (EffectiveBuckets) — use it verbatim. Routed: read the registry
    * (bucket count MUST exist) and fold the topic's compression unless
    * the writer set it explicitly.
    */
  private case class TopicShape(numBuckets: Int, codec: Int)
  private val topicShapes = mutable.Map.empty[String, TopicShape]
  private def shapeFor(topic: String): TopicShape =
    topicShapes.getOrElseUpdate(topic, {
      if (shape.topicIdx < 0)
        TopicShape(conf.numBuckets, graft.log.Codecs.id(conf.compression))
      else {
        val log = graft.log.FileTopicLog.cached(conf.root, conf.hconf.value.value)
        val n = log.buckets(topic).size
        if (n == 0) throw new IllegalArgumentException(
          s"ripple: routed write names topic '$topic' which does not exist " +
            "under the root — create it first (routed writes never " +
            "auto-create)")
        val codecName =
          if (conf.compressionSet) conf.compression
          else TopicConfig.read(log, topic).compression.getOrElse("none")
        TopicShape(n, graft.log.Codecs.id(codecName))
      }
    })

  private case class Open(path: HPath, raw: org.apache.hadoop.fs.FSDataOutputStream,
    out: DataOutputStream, fw: SegmentCodec.FrameWriter, var count: Long,
    var minTs: Long = Long.MaxValue, var maxTs: Long = Long.MinValue)
  private val open = mutable.Map.empty[(String, String), Open]
  private val mkdirsDone = mutable.Set.empty[String]

  private def routeTopic(row: InternalRow): String =
    if (shape.topicIdx < 0) conf.topic
    else if (row.isNullAt(shape.topicIdx))
      throw new IllegalArgumentException(
        s"ripple: routed write got a NULL '${conf.topicColumn.get}' — every " +
          "row must name its target topic")
    else row.getUTF8String(shape.topicIdx).toString

  private def routeBucket(row: InternalRow, numBuckets: Int): String =
    if (shape.bucketIdx >= 0 && !row.isNullAt(shape.bucketIdx))
      row.getUTF8String(shape.bucketIdx).toString
    else {
      val id = row.getInt(shape.idIdx)
      f"b${math.floorMod(id, numBuckets)}%04d"
    }

  override def write(row: InternalRow): Unit = {
    val topic = routeTopic(row)
    val ts = shapeFor(topic)
    val bucket = routeBucket(row, ts.numBuckets)
    val o = open.getOrElseUpdate((topic, bucket), {
      val dir = stagingDir(topic)
      if (mkdirsDone.add(topic)) fs.mkdirs(dir)
      val p = new HPath(dir,
        s"stage-$taskId-$partitionId-$bucket-${java.util.UUID.randomUUID()}")
      val raw = fs.create(p, true)
      val out = new DataOutputStream(new java.io.BufferedOutputStream(raw, 1 << 16))
      Open(p, raw, out, new SegmentCodec.FrameWriter(out, ts.codec), 0L)
    })
    val id = row.getInt(shape.idIdx)
    // Kafka null-value parity: a NULL data cell produces a TOMBSTONE
    // frame ("delete this key" under cleanupPolicy=compact; readers see
    // data IS NULL). An empty byte array stays an ordinary empty value.
    val data = if (row.isNullAt(shape.dataIdx)) null
               else row.getBinary(shape.dataIdx)
    val tsMillis =
      if (shape.tsIdx >= 0 && !row.isNullAt(shape.tsIdx)) row.getLong(shape.tsIdx) / 1000L
      else System.currentTimeMillis()
    if (tsMillis < o.minTs) o.minTs = tsMillis
    if (tsMillis > o.maxTs) o.maxTs = tsMillis
    // optional record headers (KIP-82): a NULL/empty cell writes none
    // (flag bit unset — zero wire cost); a NULL key inside is loud
    val headers: graft.log.SegmentCodec.Headers =
      if (shape.headersIdx < 0 || row.isNullAt(shape.headersIdx)) null
      else {
        val a = row.getArray(shape.headersIdx)
        val n = a.numElements()
        if (n == 0) null
        else {
          val hs = new Array[(String, Array[Byte])](n)
          var i = 0
          while (i < n) {
            val s = a.getStruct(i, 2)
            if (s == null || s.isNullAt(0))
              throw new IllegalArgumentException(
                "ripple write: record header with a NULL key — every " +
                  "header needs a key")
            hs(i) = (s.getUTF8String(0).toString,
              if (s.isNullAt(1)) null else s.getBinary(1))
            i += 1
          }
          hs
        }
      }
    // shared frame codec: raw positional frames when codec == none (the
    // wire-stable v1 layout); self-describing compressed frames otherwise;
    // the FrameWriter owns the zstd-dict train-then-reference protocol
    o.fw.write(id, tsMillis, data, headers = headers)
    o.count += 1
  }

  override def commit(): WriterCommitMessage = {
    val staged = open.toSeq.sortBy(_._1).map { case ((topic, bucket), o) =>
      o.fw.finish()
      o.out.close()
      StagedFile(bucket, o.path.toString, o.count, o.minTs, o.maxTs,
        o.raw.getPos, partitionId, topic)
    }
    RippleCommitMessage(staged)
  }

  override def abort(): Unit = open.values.foreach { o =>
    // free the FrameWriter's trained compression ctx (native zstd memory
    // — invisible to GC, would leak across task retries) WITHOUT
    // flushing: the staged file is being discarded
    try o.fw.dispose() catch { case _: Throwable => () }
    try o.out.close() catch { case _: Throwable => () }
    try fs.delete(o.path, false) catch { case _: Throwable => () }
  }

  override def close(): Unit = ()
}

/** Driver-side publish: assign offsets per bucket and publish staged files
  * as offset-ranged segments — one commit to each touched bucket's
  * [[graft.log.CommitLog]] per epoch, through
  * [[graft.log.FileTopicLog.publishStaged]]. Pure metadata on
  * rename-capable filesystems (a rename within one Hadoop filesystem
  * relinks, it does not copy).
  */
object RipplePublish {

  /** The `min.cleanable.dirty.ratio` decision for one bucket: keyed-
    * compact now (true) or byte-concat and wait (false), by ROW counts
    * from the commit records — dirty (dense) rows against cleaned
    * (sparse, retained) rows. Rows are codec-independent, so a compressed
    * sparse product never makes the gate fire 3-5x early the way raw-vs-
    * compressed BYTES would, and they are exact on every scheme.
    */
  private[connector] def keyedDirtyReady(segs: Seq[graft.log.SegMeta]): Boolean = {
    val (sparse, dense) = segs.partition(s => SegmentCodec.isSparse(s.name))
    dense.map(_.rows).sum >= sparse.map(_.rows).sum
  }

  /** Hold the locks of every bucket in `tbs` (pre-sorted — all publishers
    * acquire in bucket order, so no deadlock) around `body`.
    */
  private def withLocks[A](log: FileTopicLog, tbs: Seq[TopicBucket])(body: => A): A =
    tbs match {
      case Seq() => body
      case head +: tail => log.withBucketLock(head)(withLocks(log, tail)(body))
    }

  /** Streaming exactly-once across the crash window between segment commit
    * and epoch marker: offsets are assigned ONCE and recorded in a
    * write-ahead INTENT file before any segment lands. A replayed epoch
    * whose intent exists re-publishes at the SAME offsets — the committed
    * range's frame identity makes that a no-op — instead of
    * re-assigning fresh offsets past its own earlier segments (which would
    * duplicate the data). The plan keys on (bucket, partitionId): a replay
    * stages new file names, but a deterministic batch produces the same
    * bytes per partition. Protocol per epoch:
    *
    *   1. final marker exists            → committed; drop staged, done
    *   2. acquire all touched bucket locks (sorted order)
    *   3. intent exists (crashed attempt) → reuse its plan
    *      else assign offsets from the committed end offsets and write
    *      the intent atomically BEFORE any segment lands
    *   4. commit each bucket's staged files at their planned offsets in
    *      ONE commit-log commit (idempotent: an already-committed range is
    *      frame-compared, never replaced)
    *   5. write final marker, drop intent
    *
    * Batch writes (no epoch identity) skip the intent: a crash mid-publish
    * fails the job visibly, and re-running a failed batch append is
    * at-least-once by contract, as with any file sink.
    */
  def publish(conf: RippleConf, messages: Array[WriterCommitMessage],
      epochId: Option[Long], queryId: String = ""): Unit = synchronized {
    val staged = messages.collect { case RippleCommitMessage(s) => s }.flatten
      .filter(_.count > 0)
      // deterministic, replay-stable publish order
      .sortBy(s => (s.topic, s.bucket, s.partitionId, s.path))
    // TRANSACTIONAL epoch visibility (the Kafka-transactions analog, see
    // TxnMarkers): pending markers land for EVERY participating topic
    // before the first publish and clear only after the last — a
    // `readCommitted` reader withholds the epoch's rows across the whole
    // crash window, per topic AND per bucket. Batch appends have no epoch
    // identity to resolve a pending against, so the option refuses them.
    if (conf.transactional && epochId.isEmpty)
      throw new UnsupportedOperationException(
        "ripple: 'transactional' holds an epoch's rows from readCommitted " +
          "readers until every participating topic commits — a BATCH " +
          "append has no epoch identity (and is at-least-once by " +
          "contract); use writeStream, or drop the option")
    val txn = conf.transactional && epochId.isDefined
    val qd = if (queryId.isEmpty) "unknown-query" else queryId
    if (conf.topicColumn.isEmpty) {
      for (e <- epochId if txn)
        writePendingTxn(conf.log, conf.topic, qd, e, staged, Seq(conf.topic))
      val committed = publishTopic(conf, staged, epochId, queryId, txn,
        Seq(conf.topic))
      for (e <- epochId if txn && committed)
        clearPendingTxn(conf.log, Seq(conf.topic), qd, e)
    } else {
      // ROUTED write: one full per-topic publish (locks, intent, marker,
      // retention, auto-compaction) per discovered topic, in sorted order.
      // Exactly-once across a crash BETWEEN topics comes from the
      // per-(topic, query, epoch) markers: a replayed epoch re-runs every
      // topic, and each completed topic's marker turns its re-publish
      // into a drop-staged no-op while the crashed topic completes from
      // its intent.
      val byTopic = staged.groupBy(_.topic).toSeq.sortBy(_._1)
      byTopic.foreach { case (t, _) =>
        require(t.nonEmpty, "ripple: routed write staged a file with no topic") }
      // every participant's pending records the FULL topic set (r18
      // ADVICE #1): an admin abort resolves the whole transaction from
      // any one marker, and a partially-aborted epoch can never be
      // half-cleared by a replay — no marker is blind to its siblings
      val participants = byTopic.map(_._1)
      for (e <- epochId if txn)
        byTopic.foreach { case (t, files) =>
          writePendingTxn(conf.log, t, qd, e, files, participants) }
      val outcomes = byTopic.map { case (t, files) =>
        // fold THIS topic's persisted config (explicit writer options win
        // per key — same resolution as a single-topic write start)
        val tconf = TopicConfig.applyDefaults(
          conf.copy(topic = t, topics = Seq(t), topicColumn = None))
        val committed = publishTopic(tconf, files, epochId, queryId, txn,
          participants)
        interTopicSeam(t)
        committed
      }
      // The transaction's commit point: pendings clear ONLY when every
      // participant committed. A topic whose publish was abandoned by an
      // abort fence leaves the OTHER participants' pendings standing —
      // their rows stay capped from readCommitted readers until the
      // admin finishes aborting the transaction (SHOW TRANSACTIONS shows
      // them aging); clearing here would split the transaction into a
      // committed half and an aborted half.
      for (e <- epochId if txn && outcomes.forall(identity))
        clearPendingTxn(conf.log, byTopic.map(_._1), qd, e)
    }
  }

  /** Drop the PENDING transaction marker for (topic, query, epoch) with
    * the per-bucket stable floors — current end offsets, at or above
    * which the epoch's rows (if any land) will sit. Skipped when the
    * topic already committed this epoch (replay), is fenced by an admin
    * abort (publishTopic will drop the staged files), or a crashed
    * attempt's marker already stands (ITS floors predate any publish and
    * must win — re-deriving floors after a partial publish would uncap
    * the crashed attempt's rows).
    */
  private def writePendingTxn(log: FileTopicLog, topic: String, qdir: String,
      epoch: Long, files: Seq[StagedFile],
      participants: Seq[String]): Unit = {
    val fs = log.fs
    val commits = new HPath(new HPath(new HPath(log.root, topic), ".commits"), qdir)
    if (fs.exists(new HPath(commits, s"epoch-$epoch"))) return
    if (fs.exists(TxnMarkers.abortedPath(log, topic, qdir, epoch))) return
    val pend = TxnMarkers.pendingPath(log, topic, qdir, epoch)
    if (fs.exists(pend)) return
    val floors = files.map(_.bucket).distinct.map { b =>
      b -> log.endOffsetListed(TopicBucket(topic, b))
    }.toMap
    log.writeFileAtomic(pend, TxnMarkers.renderFloors(floors, participants))
  }

  /** The transaction's commit point for readers: pendings clear in sorted
    * topic order only after EVERY participating topic published. A failed
    * delete is SURFACED (r18 ADVICE #3): the pending it leaves behind
    * keeps capping `readCommitted` reads until an `ABORT TRANSACTIONS`
    * pass notices every participant committed and finishes this clear —
    * an operator hunting a stuck LSO needs the trail.
    */
  private def clearPendingTxn(log: FileTopicLog, topics: Seq[String],
      qdir: String, epoch: Long): Unit =
    topics.sorted.foreach { t =>
      val p = TxnMarkers.pendingPath(log, t, qdir, epoch)
      try log.fs.delete(p, false)
      catch { case e: java.io.IOException =>
        System.err.println(s"ripple: clearing committed transaction " +
          s"(query=$qdir, epoch=$epoch) failed to delete pending marker " +
          s"$p: ${e.getMessage} — readCommitted reads of '$t' stay capped " +
          "until ABORT TRANSACTIONS resolves the fully-committed epoch")
      }
    }

  /** Test seam: runs after each topic of a ROUTED publish completes, so a
    * spec can crash the query between two topics deterministically. No-op
    * in production.
    */
  private[graft] var interTopicSeam: String => Unit = _ => ()

  /** Returns true when the epoch is COMMITTED for this topic (published
    * now, or a replay finding its marker); false when an abort fence made
    * this attempt drop its staged files — the caller's transaction clear
    * must not run on a fenced outcome.
    */
  private def publishTopic(conf: RippleConf, staged: Seq[StagedFile],
      epochId: Option[Long], queryId: String, txn: Boolean = false,
      txnParticipants: Seq[String] = Nil): Boolean = {
    val log = conf.log
    val fs = log.fs
    // Epoch idempotency marker keyed by QUERY IDENTITY + epoch: epochs
    // restart at 0 for a query restarted with a fresh checkpoint, and two
    // concurrent queries writing the same topic both count from 0 — a
    // marker keyed by epoch alone made publish() silently drop their
    // batches (round-1 ADVICE, high).
    val qdir = if (queryId.isEmpty) "unknown-query" else queryId
    val commits = new HPath(new HPath(new HPath(log.root, conf.topic), ".commits"), qdir)
    val marker = epochId.map(e => new HPath(commits, s"epoch-$e"))
    val intent = epochId.map(e => new HPath(commits, s"epoch-$e.intent"))
    // The abort fence OUTRANKS the commit marker (r18 ADVICE #1): a
    // participant whose publish completed before the whole transaction
    // was admin-aborted carries BOTH — its rows are recorded as aborted
    // ranges, so a replay finding the pair must report the fenced
    // outcome (false), never "committed"; reporting true would let
    // outcomes.forall clear the SIBLINGS' pendings and split the epoch
    // into a committed-visible half and an aborted-subtracted half.
    val earlyFence = txn && epochId.exists(e =>
      fs.exists(TxnMarkers.abortedPath(log, conf.topic, qdir, e)))
    if (!earlyFence && marker.exists(fs.exists(_))) {
      staged.foreach(f =>
        try fs.delete(new HPath(f.path), false) catch { case _: Throwable => () })
      intent.foreach(p => try fs.delete(p, false) catch { case _: Throwable => () })
      return true
    }
    // Abort fence (transactional epochs): an admin abortStaleTxns decided
    // this (query, epoch) is dead — a replay must not publish. Checked
    // twice: here (fast path) and again INSIDE the bucket locks below,
    // because the fence write is lock-free — whichever of fence-writer
    // and replay acquires the locks second sees the other's state
    // (TxnMarkers.abortStale clamps to published segments under the same
    // locks).
    val fence = if (txn) epochId.map(e =>
      TxnMarkers.abortedPath(log, conf.topic, qdir, e)) else None
    def abandonFenced(): Boolean = fence.exists(fs.exists(_)) && {
      staged.foreach(f =>
        try fs.delete(new HPath(f.path), false) catch { case _: Throwable => () })
      intent.foreach(p => try fs.delete(p, false) catch { case _: Throwable => () })
      // The PENDING marker stays (round 19): the abort that wrote this
      // fence harvests the pending's recorded ranges under the bucket
      // locks before deleting it — an abandon racing in between must not
      // destroy the only record of which offsets the dead epoch
      // published (the fence would then subtract nothing and the aborted
      // rows would leak into readCommitted). Until the abort's harvest
      // lands, the standing pending keeps the bucket capped — the
      // conservative direction.
      true
    }
    if (abandonFenced()) return false

    staged.map(_.bucket).distinct.foreach { b =>
      require(!b.startsWith(".") && b.matches("[A-Za-z0-9._-]+"),
        s"invalid bucket name '$b'")
    }
    val byBucket = staged.groupBy(_.bucket).toSeq.sortBy(_._1)
    val tbs = byBucket.map { case (b, _) => TopicBucket(conf.topic, b) }
    tbs.foreach(tb => fs.mkdirs(log.bucketDir(tb)))

    val stagedKeys = staged.map(f => (f.bucket, f.partitionId))
    require(stagedKeys.distinct.size == stagedKeys.size,
      s"duplicate (bucket, partitionId) in commit messages: $stagedKeys — " +
        "one staged file per bucket per partition is the writer contract")

    withLocks(log, tbs) {
      if (abandonFenced()) return false
      // (bucket, partitionId) -> (start, count)
      val plan: Map[(String, Int), (Long, Long)] =
        intent.filter(fs.exists(_)) match {
          case Some(i) => // crashed attempt: complete ITS assignment
            val p = log.readFileUtf8(i).split('\n').filter(_.nonEmpty)
              .map { line =>
                val Array(b, pid, s, c) = line.split(' ')
                (b, pid.toInt) -> (s.toLong, c.toLong)
              }.toMap
            // determinism must hold in BOTH directions: every planned
            // entry re-staged, every staged entry planned
            if (p.keySet != stagedKeys.toSet) throw new IllegalStateException(
              s"replayed epoch staged ${stagedKeys.toSet} but the recorded " +
                s"intent planned ${p.keySet} — the batch is not deterministic")
            p
          case None =>
            val assigned = byBucket.flatMap { case (bucket, files) =>
              val tb = TopicBucket(conf.topic, bucket)
              var next = log.endOffsetListed(tb)
              files.map { f =>
                val entry = (bucket, f.partitionId) -> (next, f.count)
                next += f.count
                entry
              }
            }.toMap
            intent.foreach { i =>
              log.writeFileAtomic(i, assigned.toSeq.sortBy(_._1)
                .map { case ((b, p), (s, c)) => s"$b $p $s $c" }
                .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            assigned
        }

      // Transactional epochs: upgrade the pending marker from floor form
      // to the EXACT per-bucket ranges before any segment lands — an
      // admin abort can then clamp to precisely the dead epoch's offsets
      // (a floor-form pending provably published nothing: segments only
      // land after this write). Idempotent on replay — the intent makes
      // the plan, and so the rendered ranges, identical.
      if (txn) epochId.foreach { e =>
        val perBucket = plan.toSeq.groupBy(_._1._1).map { case (b, es) =>
          b -> (es.map(_._2._1).min, es.map(_._2._2).sum)
        }
        log.writeFileAtomic(TxnMarkers.pendingPath(log, conf.topic, qdir, e),
          TxnMarkers.renderRanges(perBucket, txnParticipants))
      }

      byBucket.foreach { case (bucket, files) =>
        val tb = TopicBucket(conf.topic, bucket)
        // An intent's recorded offsets may have been taken while the
        // crashed query was down (its lock went stale and another writer
        // published). Exactly-once is then unrecoverable — the only honest
        // outcome is a loud, diagnosable failure BEFORE publishing anything,
        // not an overlapping segment that bricks the bucket.
        val existing = log.segmentsRaw(tb)
        files.foreach { f =>
          plan.get((bucket, f.partitionId)).foreach { case (start, count) =>
            existing.foreach { case (p, s, c) =>
              if (s < start + count && s + c > start && !(s == start && c == count))
                throw new IllegalStateException(
                  s"intent range [$start,+$count) for ($bucket, p${f.partitionId}) " +
                    s"overlaps existing segment $p — another writer took these " +
                    "offsets while the epoch was down; exactly-once cannot be " +
                    "preserved for this epoch")
            }
          }
        }
        val ranges = files.map { f =>
          val (start, count) = plan.getOrElse((bucket, f.partitionId),
            throw new IllegalStateException(
              s"replayed epoch staged ($bucket, p${f.partitionId}) absent from " +
                "the recorded intent — the batch is not deterministic"))
          if (count != f.count) throw new IllegalStateException(
            s"replayed epoch count mismatch for ($bucket, p${f.partitionId}): " +
              s"intent $count vs staged ${f.count} — the batch is not deterministic")
          graft.log.SegMeta(f.path, start, count, f.minTs, f.maxTs, f.bytes, count)
        }
        // ONE commit for all of this bucket's files, each under the record
        // the writer task stated: a range already committed with the same
        // frames (epoch replay) is a no-op, a foreign writer's different
        // frames fail loudly
        log.publishStaged(tb, ranges)
      }
    }
    marker.foreach { m => log.writeFileAtomic(m, Array.emptyByteArray) }
    intent.foreach(p => try fs.delete(p, false) catch { case _: Throwable => () })
    // Topic retention policy applied at publish time (the natural hook —
    // retention is a metadata-only op here, see TopicLog.truncateOlderThan;
    // the reference's TTL was never implemented, core.go:45 TODO). The
    // byte policy (Kafka retention.bytes, round 13) composes: each is a
    // floor advance, so applying both keeps whichever cut is deeper.
    // Live registered snapshot pins clamp the sink's retention exactly as
    // the admin facade's (graft.api.Ripple.pinSnapshot): THIS is the
    // "routine retention job" that must never silently destroy a pinned
    // training corpus. One .snapshots listing per policy per commit; a
    // pinless topic pays a single FileNotFound-answered listStatus.
    if (conf.retentionMs != Long.MaxValue || conf.retentionBytes != Long.MaxValue) {
      val pinFloors = SnapshotPins.liveFloors(log, conf.topic)
      if (conf.retentionMs != Long.MaxValue)
        log.truncateOlderThan(conf.topic, conf.retentionMs,
          protectedFloors = pinFloors)
      if (conf.retentionBytes != Long.MaxValue) {
        val floors = log.byteFloors(conf.topic, conf.retentionBytes)
        val clamped = floors.map { case (b, f) =>
          b -> pinFloors.get(b).fold(f)(math.min(f, _)) }
        log.truncateBefore(conf.topic, clamped)
      }
    }
    // Inline auto-compaction (round 13): a streaming sink publishes one
    // segment per bucket per epoch — 10^4 tiny files/bucket/hour at high
    // trigger rates. When any JUST-PUBLISHED bucket's segment count
    // reaches the threshold, merge adjacent runs in place right here in
    // the driver's commit path (offset-preserving, so concurrent readers
    // re-resolve; amortized cost one merge pass every N epochs — the
    // alternative is an external compaction job every operator forgets
    // to run). The probe is restricted to the epoch's TOUCHED buckets:
    // an untouched bucket's count didn't change, and a full-topic probe
    // would be 10^4 commit-log reads per epoch on a wide topic. The BYTES
    // do not run here (round 14): merges >= compactDistributeMinBytes go
    // through a Spark job — executors copy, this commit path commits
    // metadata only — so the driver never becomes the stream's byte
    // relay and the trigger-loop stall is one job's wall time across all
    // crossing buckets, not a sequential per-bucket driver copy.
    if (conf.autoCompactSegments > 0) {
      val crossed = tbs.filter(tb =>
        log.segments(tb).size >= conf.autoCompactSegments)
      if (crossed.nonEmpty) {
        if (conf.cleanupPolicy == "compact") {
          // Kafka `cleanup.policy=compact`: the threshold triggers KEY
          // compaction — a crossed bucket collapses to the latest record
          // per id (one sparse segment). Same clamp discipline as
          // retention: live snapshot pins' captured ranges stay
          // byte-stable; re-encoding uses the resolved codec.
          //
          // Amortization (the 100 TB shape): a keyed pass rewrites the
          // WHOLE bucket including its already-compacted sparse prefix,
          // so running it on every count-crossing would make lifetime
          // rewrite bytes quadratic in topic size. Kafka's cleaner gates
          // on `min.cleanable.dirty.ratio` (default 0.5) for exactly this
          // reason — so does this path: a bucket keyed-compacts only when
          // its DENSE (dirty) rows reach its sparse (cleaned) rows;
          // below the ratio the dense suffix byte-concats instead (cheap,
          // keeps the segment count bounded) and the keys reclaim on a
          // later pass. Total rewrite cost stays O(2x data), Kafka's
          // bound. The rows come from the commit records — see
          // [[keyedDirtyReady]].
          val (ready, defer) = crossed.partition(tb =>
            keyedDirtyReady(log.segmentRecords(tb).map(_._2)))
          if (ready.nonEmpty) {
            val mover = DistributedConcat.activeSession match {
              case Some(s) =>
                DistributedConcat.keyedRunner(s, log, conf.compactDistributeMinBytes)
              case None => log.localKeyed _
            }
            log.compactKeyed(conf.topic,
              onlyBuckets = Some(ready.map(_.bucket).toSet),
              rewrite = mover, codec = graft.log.Codecs.id(conf.compression),
              minStartByBucket = SnapshotPins.liveCeilings(log, conf.topic),
              keyHeap = conf.compactionKeyHeap,
              tombstoneRetentionMs = conf.tombstoneRetentionMs)
          }
          if (defer.nonEmpty) {
            val mover = DistributedConcat.activeSession match {
              case Some(s) =>
                DistributedConcat.runner(s, log, conf.compactDistributeMinBytes)
              case None => log.localConcat _
            }
            log.compactSegments(conf.topic,
              onlyBuckets = Some(defer.map(_.bucket).toSet), concat = mover)
          }
        } else {
          val mover = DistributedConcat.activeSession match {
            case Some(s) => DistributedConcat.runner(s, log, conf.compactDistributeMinBytes)
            case None => log.localConcat _
          }
          log.compactSegments(conf.topic,
            onlyBuckets = Some(crossed.map(_.bucket).toSet), concat = mover)
        }
      }
    }
    true
  }

  def abort(conf: RippleConf, messages: Array[WriterCommitMessage]): Unit = {
    val fs = conf.log.fs
    messages.collect { case RippleCommitMessage(s) => s }.flatten
      .foreach(f => try fs.delete(new HPath(f.path), false) catch { case _: Throwable => () })
  }
}
