package graft.connector

import graft.log.{FileTopicLog, LogFs, SegMeta, SegmentCodec, SerializableHadoopConf}
import graft.model.TopicBucket

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Scan builder with column pruning and offset/bucket predicate pushdown.
  *
  * Pushdown is the scan-level optimization the reference lacks entirely
  * (SURVEY §4 — "no rewrites of any kind"): an `offset >= k` predicate
  * prunes whole segment files by their name-encoded [start, start+count)
  * range, the moral equivalent of Kafka's index-based seek, and `bucket =`
  * prunes bucket directories.
  */
class RippleScanBuilder(conf: RippleConf) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private var prunedSchema: StructType =
    if (conf.lift)
      graft.model.Schemas.lifted(conf.payloadSchema, conf.includeHeaders)
    else if (conf.includeHeaders) graft.model.Schemas.envelopeWithHeaders
    else graft.model.Schemas.envelope
  private var pushed: Array[Filter] = Array.empty

  // Narrowed scan bounds derived from pushed offset predicates.
  private var lo: Long = conf.startingOffset
  private var hi: Long = conf.endingOffset
  private var bucketEq: Option[String] = conf.bucket
  private var limit: Option[Int] = None
  private var metaAggs: Option[Seq[MetaAgg]] = None
  // Conservative floor-millis bounds from pushed ts predicates (segment
  // pruning only — the predicates are ALSO returned for re-evaluation).
  private var tsPredLo: Option[Long] = None
  private var tsPredHi: Option[Long] = None

  private def offCol = if (conf.lift) "_offset" else "offset"
  private def tsCol = if (conf.lift) "_ts" else "ts"

  /** COUNT(*) / MIN/MAX(offset) / MIN/MAX(ts) over a topic are METADATA:
    * per-bucket offsets are dense by the log contract (LogSpec;
    * overlapping segments fail loudly), so count and offset extrema are
    * clamped-range arithmetic over the segment manifests, and ts extrema
    * come from the per-segment stats in the commit records
    * ([[graft.log.FileTopicLog.segmentRecords]]) — no frames opened.
    * Spark only offers the aggregation here when every filter was FULLY
    * pushed (offset/bucket bounds are; ts predicates are not — they are
    * re-evaluated, so their presence declines this path). The ts extrema
    * additionally require an UNCUT offset range: segment stats describe
    * whole segments, and retention only ever removes whole segments, so
    * (lo, hi) = (0, ∞) makes them exact. Complete pushdown: the scan
    * emits ONE row.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    parseMetaAggs(agg).isDefined

  private def parseMetaAggs(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[Seq[MetaAgg]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Min, Max}
    // Snapshot reads decline metadata answers: the uniform [lo, hi) clamp
    // doesn't know per-bucket pins, and a metadata answer would skip the
    // snapshot's loud floor/end validation. Timestamp-seek options decline
    // for the same per-bucket-range reason.
    if (conf.snapshot.isDefined || conf.startingTimestamp.isDefined ||
        conf.endingTimestamp.isDefined) return None
    // read-committed reads cap each bucket at its stable end and subtract
    // aborted ranges — per-bucket state the uniform [lo, hi) arithmetic
    // here cannot express; the row scan applies it instead
    if (conf.readCommitted) return None
    // 'latest' must reach RippleScan.toBatch's loud batch refusal, not a
    // metadata answer that ignores the position
    if (conf.startingPosition.contains("latest")) return None
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty)
      return None
    def name(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
          Some(nr.fieldNames.mkString("."))
        case _ => None
      }
    val uncut = lo == 0L && hi == Long.MaxValue && !conf.startingOffsetSet
    val parsed = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(MetaAgg.Count)
      case m: Min => name(m.column) match {
        case Some(c) if c == offCol => Some(MetaAgg.MinOff)
        case Some(c) if c == tsCol && uncut => Some(MetaAgg.MinTs)
        case _ => None
      }
      case m: Max => name(m.column) match {
        case Some(c) if c == offCol => Some(MetaAgg.MaxOff)
        case Some(c) if c == tsCol && uncut => Some(MetaAgg.MaxTs)
        case _ => None
      }
      case _ => None
    }
    if (parsed.forall(_.isDefined)) Some(parsed.map(_.get)) else None
  }

  /** The metadata-only aggregate scan derives COUNT(*) and MIN/MAX(offset)
    * from dense-offset arithmetic over segment (start, count) — a SPARSE
    * (key-compacted) segment breaks that premise (retained rows < span,
    * first retained offset > start), so the pushdown is REFUSED whenever
    * any subscribed bucket holds a sparse segment overlapping the pushed
    * window and Spark runs the real aggregate instead. That fallback is
    * still cheap: COUNT(*) prunes every column, so readers take the
    * payload-skip header walk.
    */
  private def anySparseOverlap(): Boolean =
    conf.buckets.exists { tb =>
      conf.log.segments(tb).exists { case (p, s, c) =>
        s < hi && s + c > lo && graft.log.SegmentCodec.isSparse(p.getName)
      }
    }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    parseMetaAggs(agg) match {
      case Some(as) if !anySparseOverlap() => metaAggs = Some(as); true
      case _ => false
    }

  /** LIMIT n over a topic caps the segments PLANNED, not just the rows
    * returned: planning stops once the accumulated slice rows cover n, so
    * `LIMIT 10` against a 10^6-segment topic reads one segment instead of
    * scheduling a full-bucket scan. Partial pushdown (Spark keeps its own
    * limit operator): the cap bounds work, Spark enforces exact row count.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** Floor-to-millis of a pushed timestamp literal plus whether the
    * literal is EXACTLY integral millis (frames store millis; floored
    * thresholds keep every pruning comparison CONSERVATIVE, and the
    * integral flag lets strict bounds tighten by one where that is still
    * exact — the predicate is re-evaluated row-wise anyway).
    */
  private def tsMillisOf(v: Any): Option[(Long, Boolean)] = v match {
    case t: java.sql.Timestamp =>
      Some((t.getTime, t.getNanos % 1000000 == 0))
    case i: java.time.Instant =>
      val micros = java.lang.Math.addExact(
        java.lang.Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L)
      Some((java.lang.Math.floorDiv(micros, 1000L),
        java.lang.Math.floorMod(micros, 1000L) == 0L))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // lifted tables carry the metadata columns under underscore names
    val offC = offCol
    val tsC = tsCol
    val bktCol = if (conf.lift) "_bucket" else "bucket"
    def isTsPred(f: Filter): Boolean = f match {
      case GreaterThan(`tsC`, v) => tsMillisOf(v).isDefined
      case GreaterThanOrEqual(`tsC`, v) => tsMillisOf(v).isDefined
      case LessThan(`tsC`, v) => tsMillisOf(v).isDefined
      case LessThanOrEqual(`tsC`, v) => tsMillisOf(v).isDefined
      case EqualTo(`tsC`, v) => tsMillisOf(v).isDefined
      case _ => false
    }
    val (accepted, rejected) = filters.partition {
      case GreaterThan(`offC`, _: Long) => true
      case GreaterThanOrEqual(`offC`, _: Long) => true
      case LessThan(`offC`, _: Long) => true
      case LessThanOrEqual(`offC`, _: Long) => true
      case EqualTo(`offC`, _: Long) => true
      case EqualTo(`bktCol`, _: String) => true
      case f => isTsPred(f)
    }
    def tightenLo(ms: Long): Unit =
      tsPredLo = Some(tsPredLo.fold(ms)(math.max(_, ms)))
    def tightenHi(ms: Long): Unit =
      tsPredHi = Some(tsPredHi.fold(ms)(math.min(_, ms)))
    accepted.foreach {
      case GreaterThan(`offC`, v: Long) => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual(`offC`, v: Long) => lo = math.max(lo, v)
      case LessThan(`offC`, v: Long) => hi = math.min(hi, v)
      case LessThanOrEqual(`offC`, v: Long) => hi = math.min(hi, v + 1)
      case EqualTo(`offC`, v: Long) => lo = math.max(lo, v); hi = math.min(hi, v + 1)
      case EqualTo(`bktCol`, v: String) => bucketEq = Some(v)
      // ts predicates prune SEGMENTS by their recorded (min, max) stats —
      // the parquet-footer trick for the topic log. Floored-millis bounds
      // are conservative in every case (`>`/`>=` keep any segment whose
      // max reaches the floor; `<`/`<=` keep any whose min doesn't exceed
      // it), and exactness comes from Spark re-applying the predicate.
      case GreaterThan(`tsC`, v) =>
        val (ms, integral) = tsMillisOf(v).get
        // rows with ts > X have ts_ms >= X+1 when X is integral millis
        tightenLo(if (integral) ms + 1 else ms)
      case GreaterThanOrEqual(`tsC`, v) => tightenLo(tsMillisOf(v).get._1)
      case LessThan(`tsC`, v) =>
        val (ms, integral) = tsMillisOf(v).get
        // rows with ts < X have ts_ms <= X-1 when X is integral millis
        tightenHi(if (integral) ms - 1 else ms)
      case LessThanOrEqual(`tsC`, v) => tightenHi(tsMillisOf(v).get._1)
      case EqualTo(`tsC`, v) =>
        val (ms, _) = tsMillisOf(v).get
        tightenLo(ms); tightenHi(ms)
      case _ =>
    }
    pushed = accepted
    // Offsets/bucket prune exactly — nothing needs re-evaluation. The ts
    // predicates prune only whole segments, so they go BACK to Spark for
    // row-wise evaluation (partial pushdown, like file-source stats).
    rejected ++ accepted.filter(isTsPred)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedSchema = requiredSchema

  override def build(): Scan =
    if (metaAggs.isDefined)
      new RippleMetaAggScan(conf.copy(bucket = bucketEq), lo, hi, metaAggs.get)
    else new RippleScan(conf.copy(bucket = bucketEq), prunedSchema, lo, hi,
      limit, tsPredLo, tsPredHi)
}

/** Metadata aggregates the scan can answer whole (complete pushdown). */
sealed trait MetaAgg
object MetaAgg {
  case object Count extends MetaAgg
  case object MinOff extends MetaAgg
  case object MaxOff extends MetaAgg
  case object MinTs extends MetaAgg
  case object MaxTs extends MetaAgg
}

/** Read-side data-loss guard — the `failOnDataLoss` analog of the Kafka
  * source, and the read-side twin of the reference's offset over-advance bug
  * (`internal/broker/consumer/server/core.go:61-62`) this connector refused
  * to replicate on the commit side: a resume/replay offset below a bucket's
  * first surviving segment means retention truncated rows the reader was
  * promised, and skipping them silently turns exactly-once into
  * sometimes-lossy. Default: FAIL with the truncation floor in the message.
  * `allowDataLoss=true`: log the lost range and proceed from the floor.
  */
object RippleDataLoss {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Validate a requested read position `from` against the bucket's
    * truncation `floor`; returns the effective (possibly advanced) position.
    */
  def check(conf: RippleConf, topic: String, bucket: String, from: Long,
      floor: Long): Long =
    if (from >= floor) from
    else if (conf.allowDataLoss) {
      log.warn(s"ripple: skipping lost offsets [$from, $floor) of topic " +
        s"'$topic' bucket '$bucket' (retention truncated past the " +
        "requested position; allowDataLoss=true)")
      floor
    } else throw new IllegalStateException(
      s"ripple: offsets [$from, $floor) of topic '$topic' bucket " +
        s"'$bucket' were removed by retention (earliest retained offset is " +
        s"$floor). Reading would silently lose ${floor - from} records. " +
        "Restart from a fresh checkpoint / drop the stale startingOffset, " +
        "or set option allowDataLoss=true to skip the lost range and log it.")
}

/** Metadata-only aggregate scan — COUNT(*) / MIN/MAX(offset) /
  * MIN/MAX(ts): one partition, one row, zero frames read outside a
  * partially covered sparse segment. All values are computed on the
  * DRIVER at plan time from the segments' commit records; the single
  * emitted row just carries them.
  */
class RippleMetaAggScan(conf: RippleConf, lo: Long, hi: Long,
    aggs: Seq[MetaAgg]) extends Scan {
  import org.apache.spark.sql.types.{StructField, LongType, TimestampType}
  override def readSchema(): StructType = StructType(aggs.map {
    case MetaAgg.Count  => StructField("count(*)", LongType, nullable = false)
    case MetaAgg.MinOff => StructField("min(offset)", LongType)
    case MetaAgg.MaxOff => StructField("max(offset)", LongType)
    case MetaAgg.MinTs  => StructField("min(ts)", TimestampType)
    case MetaAgg.MaxTs  => StructField("max(ts)", TimestampType)
  })
  override def description(): String =
    s"ripple topic=${conf.topic} metadata-agg [${aggs.mkString(",")}] " +
      s"offsets=[$lo,${if (hi == Long.MaxValue) "∞" else hi})"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val log = conf.log
      var total = 0L
      var minOff = Long.MaxValue
      var maxOff = Long.MinValue
      var minTs = Long.MaxValue
      var maxTs = Long.MinValue
      val needTs = aggs.contains(MetaAgg.MinTs) || aggs.contains(MetaAgg.MaxTs)
      conf.buckets.foreach { tb =>
        val segs = log.segmentRecords(tb)
        val logEnd =
          if (segs.isEmpty) 0L else segs.map { case (_, m) => m.start + m.count }.max
        val end = math.min(hi, logEnd)
        // An EXPLICIT startingOffset below the retention floor would
        // silently under-count — same guard as the row scan (absent →
        // earliest). Sum per-SEGMENT overlap with [from, end) — NOT
        // size − lo: retention removes head segments, so live rows start
        // at the first surviving one, exactly what a real scan reads.
        val floor = segs.headOption.map(_._2.start).getOrElse(0L)
        val from =
          if (conf.startingOffsetSet)
            RippleDataLoss.check(conf, tb.topic, tb.bucket, lo, floor)
          else lo
        // The pushdown was accepted only when NO sparse segment overlapped
        // the window — but a keyed compaction can land BETWEEN pushdown
        // and execution (a concurrent compact-policy writer, or an
        // explicit compactKeyed between two actions on one DataFrame).
        // Dense span arithmetic over a sparse segment would silently
        // over-count and report reclaimed offsets, so sparse segments are
        // RE-DETECTED here and answered honestly — from METADATA when it
        // suffices: a window that covers the WHOLE segment (the common
        // case — compaction produces one bucket-spanning product) takes
        // the retained count from the commit record, zero I/O. The
        // payload-skip header walk (O(retained keys) header bytes — still
        // far cheaper than the row scan this replaced) runs only for a
        // partially-overlapped product, or when offset EXTREMA are
        // requested (retained records sit at arbitrary positions inside
        // the span — only the frames know).
        val needOff =
          aggs.contains(MetaAgg.MinOff) || aggs.contains(MetaAgg.MaxOff)
        var rows = 0L
        segs.foreach { case (p, m) =>
          val start = m.start
          val ovlFrom = math.max(from, start)
          val ovlEnd = math.min(end, start + m.count)
          if (ovlEnd > ovlFrom) {
            if (!graft.log.SegmentCodec.isSparse(m.name)) {
              rows += ovlEnd - ovlFrom
              minOff = math.min(minOff, ovlFrom)
              maxOff = math.max(maxOff, ovlEnd - 1)
            } else if (!needOff && ovlFrom <= start && ovlEnd >= start + m.count) {
              rows += m.rows
            } else {
              val it = graft.log.SegmentCodec.readHeaders(log.fs, p)
              try {
                var cur = start - 1
                while (it.hasNext) {
                  it.next()
                  cur = if (it.explicitOffset >= 0) it.explicitOffset else cur + 1
                  if (cur >= ovlFrom && cur < ovlEnd) {
                    rows += 1
                    minOff = math.min(minOff, cur)
                    maxOff = math.max(maxOff, cur)
                  }
                }
              } finally it.close()
            }
          }
        }
        total += rows
        if (needTs) {
          // the builder only offers ts extrema on an UNCUT range, so
          // every live segment contributes whole — per-segment stats
          // are exact (an empty segment's sentinels change nothing)
          segs.foreach { case (_, m) =>
            if (m.minTs < minTs) minTs = m.minTs
            if (m.maxTs > maxTs) maxTs = m.maxTs
          }
        }
      }
      val values: Array[Any] = aggs.map {
        case MetaAgg.Count  => java.lang.Long.valueOf(total): Any
        case MetaAgg.MinOff =>
          if (total == 0) null else java.lang.Long.valueOf(minOff)
        case MetaAgg.MaxOff =>
          if (total == 0) null else java.lang.Long.valueOf(maxOff)
        case MetaAgg.MinTs  =>
          if (total == 0) null else java.lang.Long.valueOf(minTs * 1000L)
        case MetaAgg.MaxTs  =>
          if (total == 0) null else java.lang.Long.valueOf(maxTs * 1000L)
      }.toArray
      Array(RippleMetaAggPartition(values))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(p: InputPartition): PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private var emitted = false
            private val row = new GenericInternalRow(
              p.asInstanceOf[RippleMetaAggPartition].values)
            override def next(): Boolean = { val r = !emitted; emitted = true; r }
            override def get(): InternalRow = row
            override def close(): Unit = ()
          }
      }
  }
}

case class RippleMetaAggPartition(values: Array[Any]) extends InputPartition

/** Batch/stream scan over a topic. Implements [[SupportsRuntimeFiltering]]
  * on `bucket`: when the scan sits under a join whose key is the bucket
  * column, Spark's dynamic partition pruning ships the build side's bucket
  * values here at EXECUTION time and whole bucket directories drop out of
  * `planInputPartitions` — the DSv2 analog of Hive-partition DPP, and the
  * difference between reading one bucket and reading a 10^4-bucket topic
  * when a dimension join selects one routing key at 100 TB. The narrowed
  * set lives on the scan instance because `BatchScanExec` materializes the
  * [[Batch]] first and calls `filter` later; the batch re-reads it at plan
  * time. Ignoring an un-handled runtime filter is safe: the join above
  * still applies the predicate row-wise.
  */
class RippleScan(conf: RippleConf, schema: StructType, lo: Long, hi: Long,
    limit: Option[Int] = None,
    tsPredLo: Option[Long] = None,
    tsPredHi: Option[Long] = None) extends Scan with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  @volatile private[graft] var runtimeBuckets: Option[Set[String]] = None

  /** Per-bucket offset bounds resolved from `startingTimestamp` /
    * `endingTimestamp` — memoized on the scan instance so statistics and
    * planning share one resolution (each seek walks one boundary
    * segment's headers). A bucket that appears after resolution
    * (concurrent create) resolves on demand.
    */
  private lazy val tsSeekBounds: Map[graft.model.TopicBucket, (Long, Long)] =
    if (conf.startingTimestamp.isEmpty && conf.endingTimestamp.isEmpty) Map.empty
    else {
      val log = conf.log
      conf.buckets.map(tb => tb -> resolveTs(log, tb)).toMap
    }

  private def resolveTs(log: graft.log.FileTopicLog,
      tb: graft.model.TopicBucket): (Long, Long) = (
    conf.startingTimestamp.map(t => log.offsetForTimestamp(tb, t)).getOrElse(0L),
    conf.endingTimestamp.map(t => log.offsetForTimestamp(tb, t))
      .getOrElse(Long.MaxValue))

  private[graft] def tsRange(tb: graft.model.TopicBucket): (Long, Long) =
    if (conf.startingTimestamp.isEmpty && conf.endingTimestamp.isEmpty)
      (0L, Long.MaxValue)
    else tsSeekBounds.getOrElse(tb, resolveTs(conf.log, tb))

  // Stats-time snapshot of the read-committed caps (estimates only — the
  // row scan re-resolves at plan time; aborted-range subtraction is
  // skipped here, erring high, which only errs against broadcasting).
  private lazy val committedStats: Map[graft.model.TopicBucket, Long] =
    TxnStableEnds(conf)

  /** Statistics from the segments' commit records — no data file opened
    * or statted. Without this, a DSv2 relation defaults to
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue), so a 1 KB topic joined
    * against a 100 TB fact table could NEVER be auto-broadcast and every
    * topic join would sort-merge. Rows and bytes are each segment's
    * recorded rows and bytes prorated by its clamped [lo, hi) overlap
    * (exact for dense segments, an estimate inside a sparse one), capped
    * by a pushed LIMIT. The numbers reflect pushdown, like a file
    * source's post-pruning stats.
    */
  override def estimateStatistics(): Statistics = memoizedStats

  // One listing pass per scan instance: optimizer rules can recompute
  // stats on plan copies, and the walk is O(segments).
  private lazy val memoizedStats: Statistics = {
    val log = conf.log
    var rows = 0L
    var bytes = 0L
    conf.buckets.foreach { tb =>
      // A pinned bucket clamps to its snapshot range; a bucket absent from
      // the token (created after capture) contributes nothing. A
      // timestamp-seek read clamps to the resolved per-bucket seek range
      // (exclusive with snapshot by conf validation).
      val (blo, bhi) = conf.snapshot match {
        case None    =>
          val (tlo, thi) = tsRange(tb)
          (math.max(lo, tlo), math.min(hi, thi))
        case Some(m) => m.get(tb.bucket) match {
          case Some((s, e)) => (math.max(lo, s), math.min(hi, e))
          case None         => (0L, 0L)
        }
      }
      val end = math.min(math.min(bhi, log.size(tb)),
        committedStats.getOrElse(tb, Long.MaxValue))
      log.segmentRecords(tb).foreach { case (_, m) =>
        val overlap = math.max(0L, math.min(end, m.start + m.count) - math.max(blo, m.start))
        if (overlap > 0) {
          rows += m.rows * overlap / m.count
          bytes += m.bytes * overlap / m.count
        }
      }
    }
    val cappedRows = limit.map(l => math.min(l.toLong, rows)).getOrElse(rows)
    val cappedBytes =
      if (rows == 0) 0L else (bytes.toDouble * cappedRows / rows).toLong
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(cappedBytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(cappedRows)
    }
  }

  // Only advertise `bucket` when it survived column pruning: Spark's
  // PartitionPruning rule resolves filterAttributes against the scan's
  // OUTPUT and throws (killing the whole query, join key notwithstanding)
  // on a reference the pruned schema no longer carries.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (schema.fieldNames.contains("bucket"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("bucket"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case In("bucket", vs) => vs.iterator.filter(_ != null).map(_.toString).toSet
      case EqualTo("bucket", v) if v != null => Set(v.toString)
    }
    if (sets.nonEmpty) runtimeBuckets = Some(sets.reduce(_ intersect _))
  }

  override def readSchema(): StructType = schema
  override def description(): String =
    s"ripple topic=${conf.topic} offsets=[$lo,${if (hi == Long.MaxValue) "∞" else hi})" +
      limit.map(l => s" limit=$l").getOrElse("") +
      (if (tsPredLo.isEmpty && tsPredHi.isEmpty) ""
       else s" tsPrune=[${tsPredLo.getOrElse("-∞")}," +
         s"${tsPredHi.getOrElse("∞")}]ms")
  override def toBatch: Batch = {
    if (conf.startingPosition.contains("latest"))
      throw new UnsupportedOperationException(
        "ripple: startingPosition 'latest' tails NEW records — a batch " +
          "read of it is empty by definition; use spark.readStream, or " +
          "drop the option ('earliest' is the batch default)")
    new RippleBatch(conf, schema, lo, hi, limit, () => runtimeBuckets, tsRange,
      tsPredLo, tsPredHi)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (conf.snapshot.isDefined) throw new UnsupportedOperationException(
      "ripple: option 'snapshot' pins a BATCH read; a streaming query pins " +
        "its position through the checkpoint — drop the option or read with " +
        "spark.read")
    if (conf.endingTimestamp.isDefined) throw new UnsupportedOperationException(
      "ripple: option 'endingTimestamp' bounds a BATCH read; a streaming " +
        "query is unbounded — drop the option or read with spark.read")
    new RippleMicroBatchStream(conf, schema, tsPredLo, tsPredHi)
  }
}

/** Segment pruning by the commit records' (minTs, maxTs) against pushed
  * timestamp predicate bounds — the parquet-footer trick for the topic
  * log. Bounds are floored millis (conservative) and Spark re-evaluates
  * the predicate row-wise, so a kept-but-useless segment costs I/O, never
  * correctness; a segment is dropped only when its whole ts range misses
  * the predicate (an empty segment's sentinels miss every predicate).
  * Pure metadata: the records come with the cached commit state.
  */
object RippleTsPrune {
  def apply(segs: Seq[(HPath, SegMeta)],
      tsLo: Option[Long], tsHi: Option[Long]): Seq[(HPath, SegMeta)] =
    if (tsLo.isEmpty && tsHi.isEmpty) segs
    else segs.filter { case (_, m) =>
      tsLo.forall(l => m.maxTs >= l) && tsHi.forall(h => m.minTs <= h)
    }
}

/** One input partition per live segment slice — at scale, reads of a
  * bucket parallelize across its segment files while preserving per-bucket
  * offset order within each partition (ordering across partitions is the
  * reader's concern, as in any partitioned log).
  */
case class RippleInputPartition(
    root: String, topic: String, bucket: String,
    segPath: String, segStart: Long, from: Long, until: Long,
    hosts: Array[String] = Array.empty)
  extends InputPartition {
  /** Locality hint: pin each bucket's reads to a stable host so a bucket's
    * segments land on the same executor across triggers (page-cache and
    * state locality) — the role the reference's consumer load-balancer
    * plays (`internal/broker/consumer/loadbalancer/loadbalancer.go:13-19`).
    * Hosts come from the `preferredHosts` option; empty → no preference
    * (Spark schedules freely).
    */
  override def preferredLocations(): Array[String] =
    if (hosts.isEmpty) Array.empty
    else Array(hosts(math.floorMod(bucket.hashCode, hosts.length)))
}

/** Per-bucket stable-end caps for a `readCommitted` read — empty when the
  * option is off, so plain reads never list the transaction-marker plane
  * (see [[TxnMarkers]]). Resolved fresh at plan/batch time, mirroring the
  * sparse re-detection posture: a transaction resolving between two
  * actions on one DataFrame is honored at execution.
  */
private[connector] object TxnStableEnds {
  def apply(conf: RippleConf): Map[graft.model.TopicBucket, Long] =
    if (!conf.readCommitted) Map.empty
    else conf.topicList.flatMap { t =>
      TxnMarkers.stableEnds(conf.log, t).map { case (b, v) =>
        graft.model.TopicBucket(t, b) -> v }
    }.toMap
}

/** Both read-committed maps — stable-end caps AND aborted ranges — from
  * ONE marker-plane listing per topic, for the sites that need both
  * (the batch planner). Empty pair when the option is off.
  */
private[connector] object TxnReadState {
  def apply(conf: RippleConf): (Map[graft.model.TopicBucket, Long],
      Map[graft.model.TopicBucket, Seq[(Long, Long)]]) =
    if (!conf.readCommitted) (Map.empty, Map.empty)
    else {
      val perTopic = conf.topicList.map(t =>
        t -> TxnMarkers.listAll(conf.log, t))
      (perTopic.flatMap { case (t, (pend, _)) =>
        TxnMarkers.stableEndsOf(pend).map { case (b, v) =>
          graft.model.TopicBucket(t, b) -> v }
      }.toMap,
        perTopic.flatMap { case (t, (_, abrt)) =>
          TxnMarkers.abortedRangesOf(abrt).map { case (b, v) =>
            graft.model.TopicBucket(t, b) -> v }
        }.toMap)
    }
}

/** Aborted offset ranges per bucket for a `readCommitted` read — the
  * Kafka aborted-transaction-index analog; empty when the option is off.
  */
private[connector] object TxnAbortedRanges {
  def apply(conf: RippleConf): Map[graft.model.TopicBucket, Seq[(Long, Long)]] =
    if (!conf.readCommitted) Map.empty
    else conf.topicList.flatMap { t =>
      TxnMarkers.abortedRanges(conf.log, t).map { case (b, v) =>
        graft.model.TopicBucket(t, b) -> v }
    }.toMap
}

class RippleBatch(conf: RippleConf, schema: StructType, lo: Long, hi: Long,
    limit: Option[Int] = None,
    runtimeBuckets: () => Option[Set[String]] = () => None,
    tsRange: graft.model.TopicBucket => (Long, Long) =
      _ => (0L, Long.MaxValue),
    tsPredLo: Option[Long] = None,
    tsPredHi: Option[Long] = None) extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val log = conf.log
    // Runtime (DPP) bucket narrowing — read at plan time, not construction
    // time: the filter arrives after the batch exists.
    val live = runtimeBuckets() match {
      case Some(keep) => conf.buckets.filter(tb => keep.contains(tb.bucket))
      case None => conf.buckets
    }
    // read-committed isolation, resolved at PLAN time (each action sees
    // the transactions resolved by then): stable-end caps from pending
    // markers, aborted-range subtraction from abort records. ORDER
    // MATTERS: segments are listed BEFORE the markers — the write side
    // drops a transaction's pending before any of its segments land, so
    // any unstable segment this listing can see has its pending visible
    // to the (later) marker listing. Listing markers first would open a
    // window where an epoch pends AND publishes in between and its rows
    // sail past a cap that missed them.
    val segsByTb: Map[graft.model.TopicBucket, Seq[(HPath, SegMeta)]] =
      live.map(tb => tb -> log.segmentRecords(tb)).toMap
    val (txnCaps, txnAborted) = TxnReadState(conf)
    // Snapshot pin: a bucket the token names but the log no longer has
    // means the pinned corpus is partly GONE — fail loudly (checked against
    // the un-narrowed disk listing so bucket pruning/DPP can't mask it).
    conf.snapshot.foreach { m =>
      val disk = log.buckets(conf.topic).map(_.bucket).toSet
      val gone = m.keysIterator.filterNot(disk.contains).toSeq.sorted
      if (gone.nonEmpty) throw new IllegalStateException(
        s"ripple: snapshot of topic '${conf.topic}' pins bucket(s) " +
          s"${gone.mkString(", ")} that no longer exist in the log — the " +
          "pinned corpus cannot be reproduced")
    }
    val all = live.flatMap { tb =>
      // A pinned bucket reads its captured [floor, end) intersected with
      // any pushed offset bounds; a bucket absent from the token (created
      // after capture) is invisible to the pin. A timestamp-seek read
      // intersects with the resolved per-bucket seek range instead
      // (exclusive with snapshot by conf validation).
      val range = conf.snapshot match {
        case None    =>
          val (tlo, thi) = tsRange(tb)
          Some((math.max(lo, tlo), math.min(hi, thi)))
        case Some(m) => m.get(tb.bucket).map { case (s, e) =>
          (math.max(lo, s), math.min(hi, e)) }
      }
      range.toSeq.flatMap { case (blo, bhi) =>
        val segs = segsByTb(tb)
        val logEnd = if (segs.isEmpty) 0L else segs.map { case (_, m) => m.start + m.count }.max
        // The log is append-only, so a pinned end above the CURRENT end
        // means segments were deleted outside retention — never skip it.
        conf.snapshot.flatMap(_.get(tb.bucket)).foreach { case (_, sHi) =>
          if (logEnd < sHi) throw new IllegalStateException(
            s"ripple: snapshot pinned topic '${conf.topic}' bucket " +
              s"'${tb.bucket}' through offset $sHi but the log now ends at " +
              s"$logEnd — segments were deleted outside the append-only " +
              "contract; the pinned corpus cannot be reproduced")
        }
        val end = math.min(math.min(bhi, logEnd),
          txnCaps.getOrElse(tb, Long.MaxValue))
        // Data-loss guard: an EXPLICIT startingOffset below the retention
        // floor is a positional read of truncated rows — fail (or skip+log
        // under allowDataLoss). The absent default means "earliest
        // retained". A snapshot floor is always positional: retention past
        // it means pinned rows are gone.
        val floor = segs.headOption.map(_._2.start).getOrElse(0L)
        val from =
          if (conf.startingOffsetSet || conf.snapshot.isDefined)
            RippleDataLoss.check(conf, tb.topic, tb.bucket, blo, floor)
          else blo
        // ts-stat segment pruning runs LAST, on the raw listing: floor,
        // logEnd and the snapshot validation above must see every
        // surviving segment, pruned or not.
        RippleTsPrune(segs, tsPredLo, tsPredHi).flatMap {
          case (path, m) if m.start < end && m.start + m.count > from =>
            // a readCommitted read subtracts aborted-transaction ranges —
            // one partition per surviving sub-range (plain reads pass
            // through: no ranges, one slice)
            TxnMarkers.subtract(math.max(from, m.start),
              math.min(end, m.start + m.count),
              txnAborted.getOrElse(tb, Seq.empty)).map { case (a, b) =>
              (RippleInputPartition(conf.root, tb.topic, tb.bucket,
                path.toString, m.start, a, b, conf.preferredHosts.toArray), m)
            }
          case _ => Seq.empty
        }
      }
    }.toArray
    limit match {
      case None => all.map(_._1).toArray[InputPartition]
      case Some(l) =>
        // LIMIT is order-free: take slices until they cover l rows, trim
        // the last one — the rest of the topic is never planned.
        val out = Array.newBuilder[InputPartition]
        var need = l.toLong
        var i = 0
        while (need > 0 && i < all.length) {
          val (p, m) = all(i)
          // rows the slice provably holds: the record's rows minus the
          // offsets outside the slice — exact for a dense segment, a
          // LOWER bound for a sparse one, whose offset arithmetic
          // OVERSTATES rows (stopping early would silently under-deliver
          // the limit)
          val rows = math.max(0L, m.rows - (m.count - (p.until - p.from)))
          // an offset trim could cut a sparse slice's retained records, so
          // only dense slices trim; Spark's own limit operator enforces
          // exactness either way
          out += (if (rows <= need || graft.log.SegmentCodec.isSparse(m.name)) p
                  else p.copy(until = p.from + need))
          need -= math.min(rows, need)
          i += 1
        }
        out.result()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RippleReaderFactory(schema, conf.hconf, conf.lift,
      SQLConf.get.sessionLocalTimeZone)
}

/** Ships the driver's Hadoop configuration to executor-side readers so the
  * segment paths resolve against the same filesystem (`hdfs://`, `file:/`)
  * the planner listed them from. `lift` switches readers to the typed
  * payload view (underscore metadata + decoded JSON payload columns),
  * decoded in `timeZoneId`, the planning session's time zone.
  */
class RippleReaderFactory(schema: StructType,
    hconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    lift: Boolean, timeZoneId: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RipplePartitionReader(partition.asInstanceOf[RippleInputPartition], schema, hconf,
      lift, timeZoneId)
}

/** Streams frames from one segment slice; the executor-side analog of the
  * reference's `Queue.SubArray` range read
  * (`internal/broker/queue/queue.go:58-61`).
  */
class RipplePartitionReader(p: RippleInputPartition, schema: StructType,
    hconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    lift: Boolean, timeZoneId: String)
    extends PartitionReader[InternalRow] {

  /** Open the planned segment file; when it VANISHED between planning and
    * this task (in-place compaction replaced it — [[graft.log.FileTopicLog
    * .compactSegments]]), re-resolve by OFFSET RANGE against the current
    * segment view: compaction preserves offsets, so exactly one live
    * segment covers `[from, until)` (merges are contiguous supersets). A
    * range no live segment covers means retention truncated it mid-query —
    * that stays a loud failure, same as planning after the truncate.
    */
  // Column-pruned payload skip: when neither the raw `data` column nor
  // any lifted payload field survived pruning, the frame walk skips
  // payload bytes entirely (stream seek, zero allocation) — a
  // metadata-only projection over a 100 TB topic pays header bytes, not
  // payload bytes.
  private def needsPayload: Boolean =
    if (lift) schema.fields.exists(f =>
      !Set("_topic", "_bucket", "_offset", "_id", "_ts", "_headers")
        .contains(f.name))
    else schema.fieldNames.contains("data")

  // Record headers are their own pruning axis: a projection that keeps
  // `headers` but drops `data` still seeks past payload bytes and parses
  // only the (small, raw) header blocks.
  private def needsHeaders: Boolean =
    schema.fieldNames.contains(if (lift) "_headers" else "headers")

  private val (it, itStart) = {
    val seg = new HPath(p.segPath)
    def open(fs: org.apache.hadoop.fs.FileSystem, path: HPath) =
      if (needsPayload) SegmentCodec.read(fs, path)
      else SegmentCodec.readHeaders(fs, path, withRecordHeaders = needsHeaders)
    try (open(LogFs.get(seg, hconf.value.value), seg), p.segStart)
    catch {
      case _: java.io.FileNotFoundException =>
        val log = FileTopicLog.cached(p.root, hconf.value.value)
        log.segments(TopicBucket(p.topic, p.bucket))
          .find { case (_, s, c) => s <= p.from && s + c >= p.until } match {
          case Some((path2, s2, _)) => (open(log.fs, path2), s2)
          case None => throw new java.io.FileNotFoundException(
            s"planned segment ${p.segPath} is gone and offsets " +
              s"[${p.from},${p.until}) of ${p.topic}/${p.bucket} are no longer " +
              "covered — retention truncated them after this query planned")
        }
    }
  }
  private var off = itStart        // next POSITIONAL offset (cursor)
  private var curOff: Long = -1L   // the just-decoded record's offset
  private var cur: InternalRow = _

  private val topicU = UTF8String.fromString(p.topic)
  private val bucketU = UTF8String.fromString(p.bucket)

  /** Lifted payload decoding (schema-registry reads): the pruned schema's
    * non-underscore fields, decoded from each frame's JSON payload by
    * [[graft.functions.PayloadJsonDecoder]] in the session time zone —
    * the decoder [[graft.api.Ripple.lift]] runs, so a lifted scan returns
    * `lift(read(...))`'s values, partial results of a type-mismatched
    * record included. Pruning works through Jackson: a 2-field read of a
    * 50-field payload tokenizes but never materializes the other 48.
    * Malformed payloads yield null payload columns (PERMISSIVE), not a
    * poisoned partition — blobs written by pre-registry producers stay
    * readable as nulls next to their envelope metadata.
    */
  private val liftedFieldNames =
    Set("_topic", "_bucket", "_offset", "_id", "_ts", "_headers")
  private val payloadSchema = StructType(
    if (lift) schema.fields.filter(f => !liftedFieldNames.contains(f.name)).toIndexedSeq
    else Nil)
  private val payloadParse: Option[graft.functions.PayloadJsonDecoder] =
    if (payloadSchema.isEmpty) None
    else Some(new graft.functions.PayloadJsonDecoder(payloadSchema, timeZoneId))

  // Precomputed per-field extractors for the pruned schema. Envelope mode
  // uses the bare names; lifted mode the underscore names, with every other
  // field positional into the parsed payload row.
  private val getters: Array[(Int, Long, Array[Byte], InternalRow) => Any] =
    schema.fields.map { f =>
      (f.name, lift) match {
        case ("topic", false) | ("_topic", true) =>
          (_: Int, _: Long, _: Array[Byte], _: InternalRow) => topicU
        case ("bucket", false) | ("_bucket", true) =>
          (_: Int, _: Long, _: Array[Byte], _: InternalRow) => bucketU
        case ("offset", false) | ("_offset", true) =>
          (_: Int, _: Long, _: Array[Byte], _: InternalRow) => java.lang.Long.valueOf(curOff)
        case ("id", false) | ("_id", true) =>
          (id: Int, _: Long, _: Array[Byte], _: InternalRow) => java.lang.Integer.valueOf(id)
        case ("data", false) =>
          (_: Int, _: Long, d: Array[Byte], _: InternalRow) => d
        case ("headers", false) | ("_headers", true) =>
          // record headers (KIP-82): read off the iterator's per-frame
          // state, Kafka-connector shape ARRAY<STRUCT<key, value>>;
          // null for a record that carries none
          (_: Int, _: Long, _: Array[Byte], _: InternalRow) => {
            val hs = it.headers
            if (hs == null) null
            else {
              val arr = new Array[Any](hs.length)
              var j = 0
              while (j < hs.length) {
                arr(j) = InternalRow(UTF8String.fromString(hs(j)._1), hs(j)._2)
                j += 1
              }
              new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
            }
          }
        case ("ts", false) | ("_ts", true) =>
          (_: Int, ts: Long, _: Array[Byte], _: InternalRow) =>
            java.lang.Long.valueOf(ts * 1000L) // millis → micros
        case (other, true) =>
          val idx = payloadSchema.fieldIndex(other)
          val dt = f.dataType
          (_: Int, _: Long, _: Array[Byte], pr: InternalRow) =>
            if (pr == null || pr.isNullAt(idx)) null else pr.get(idx, dt)
        case (other, false) =>
          throw new IllegalArgumentException(s"unknown column $other")
      }
    }

  override def next(): Boolean = {
    while (it.hasNext && off < p.until) {
      val (id, ts, data) = it.next()
      // sparse-aware cursor rule: a key-compacted segment's frames carry
      // EXPLICIT offsets (retained records keep their original positions);
      // an explicit frame sets the cursor, a positional one is cursor++.
      // Offsets stay monotone either way, so range pruning is unchanged.
      curOff = if (it.explicitOffset >= 0) it.explicitOffset else off
      off = curOff + 1
      if (curOff >= p.from && curOff < p.until) {
        val pr = if (payloadParse.isEmpty) null else payloadParse.get.decode(data)
        val values = new Array[Any](getters.length)
        var i = 0
        while (i < getters.length) { values(i) = getters(i)(id, ts, data, pr); i += 1 }
        cur = new GenericInternalRow(values)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = cur
  override def close(): Unit = it.close() // releases the handle WITHOUT decoding the tail
}

/** Pure admission-control math for the streaming source's row cap. */
object RippleAdmission {

  /** Split `cap` rows over buckets proportionally to their backlog:
    * floors + largest-remainder (ties by bucket name, so the result is
    * deterministic), with every non-empty bucket taking >= 1 whenever
    * `cap >= #non-empty` — no bucket starves under a sustained cap. When
    * `cap < #non-empty` (degenerate), the cap largest backlogs advance.
    * Invariants (property-tested): takes sum to min(cap, total backlog);
    * no take exceeds its backlog; empty buckets take 0.
    */
  def allocate(backlog: Map[String, Long], cap: Long): Map[String, Long] = {
    val total = backlog.valuesIterator.sum
    if (total <= cap) return backlog
    val nonEmpty = backlog.toSeq.filter(_._2 > 0).sortBy(_._1)
    val k = nonEmpty.size.toLong
    val takes = scala.collection.mutable.Map.empty[String, Long]
    if (cap < k) {
      nonEmpty.sortBy { case (b, n) => (-n, b) }.take(cap.toInt)
        .foreach { case (b, _) => takes(b) = 1L }
    } else {
      val rest = cap - k
      val restTotal = total - k
      // min-1 each, then proportional floors over the remaining backlog.
      // BigInt products: rest × backlog overflows Long at the design point
      // (cap 1e9 × backlog 1e10 ≈ 1e19 > Long.MaxValue), and a wrapped
      // negative floor would break the cap invariant.
      def share(n: Long): Long =
        if (restTotal == 0) 0L else (BigInt(rest) * (n - 1) / restTotal).toLong
      def frac(n: Long): BigInt =
        if (restTotal == 0) BigInt(0) else -(BigInt(rest) * (n - 1) % restTotal)
      nonEmpty.foreach { case (b, n) => takes(b) = 1L + share(n) }
      var rem = cap - takes.valuesIterator.sum
      val order = nonEmpty.sortBy { case (b, n) => (frac(n), b) }
      var progressed = true
      while (rem > 0 && progressed) {
        progressed = false
        order.foreach { case (b, n) =>
          if (rem > 0 && takes(b) < n) { takes(b) += 1; rem -= 1; progressed = true }
        }
      }
    }
    takes.toMap
  }
}

/** Micro-batch source: the Spark-native consume loop. `latestOffset` is the
  * log end (the reference's `queue.Size()` poll, `core.go:52-56`),
  * `planInputPartitions(start, end)` the SubArray slice, and the rate cap
  * `maxOffsetsPerTrigger` the `AskQuery.Count` batch size (`core.go:16-19`).
  * Offset commit is the checkpoint's job — transactional with the batch,
  * unlike the reference's async ZK write with its over-advance bug
  * (`core.go:61-62`).
  */
class RippleMicroBatchStream(conf: RippleConf, schema: StructType,
    tsPredLo: Option[Long] = None, tsPredHi: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  // Consumer-group load-splitting (round 19): a member claims its static
  // layout at QUERY START — one claim file per (member, count) under the
  // shared consumerId, refused loudly when a different member COUNT
  // already holds claims (mixed layouts would double-read buckets). The
  // reference has no work-sharing at all (every consumer ID replays the
  // full log, `internal/broker/consumer/server/core.go:46-64`); this is
  // the Kafka consumer-group analog with static assignment —
  // rebalance-on-restart, never mid-flight.
  if (conf.groupMembers > 1) {
    val id = conf.consumerId.get // validated non-empty with the options
    conf.topicList.foreach { t =>
      ConsumerOffsets.claimMember(conf.root, t, id,
        conf.groupMember, conf.groupMembers)
    }
  }

  /** Per-progress-event source metrics (Kafka-source convention): an
    * operator watching a 100 TB ingest reads backlog from every
    * `StreamingQueryProgress.sources[i].metrics`, not from a separate
    * driver call ([[graft.api.Ripple.consumerStatus]] stays the
    * out-of-band twin). All values come from the segments' commit
    * records — zero frames read:
    *
    *   - `minOffsetsBehindLatest` / `maxOffsetsBehindLatest` /
    *     `avgOffsetsBehindLatest`: records between the last consumed
    *     offset and the live log end, per bucket (Kafka's exact names).
    *   - `maxTsBehindLatestMs`: behind-latest TIME — newest stamped ts
    *     minus the earliest unread segment's min-ts stat, maxed over
    *     buckets. Segment stats bound the first unread record's stamp
    *     from below, so the reported lag is a conservative UPPER bound
    *     (exact when the consumed offset sits on a segment boundary —
    *     the steady state, since epochs consume whole tails).
    *
    * The reference's only lag signal is the consumer's ZK offset
    * (`internal/broker/consumer/server/core.go:46-64`).
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val out = new java.util.HashMap[String, String]()
    if (!latestConsumedOffset.isPresent) return out
    // on resume Spark hands the offset-log's raw SerializedOffset, not a
    // deserialized RippleOffset — accept both (the Kafka source does the
    // same re-parse in its metrics())
    val consumed = latestConsumedOffset.get match {
      case r: RippleOffset => r.ends
      case o => RippleOffset.fromJson(o.json()).ends
    }
    val log = conf.log
    val now = sizes()
    if (now.isEmpty) return out
    val behind = now.map { case (k, end) =>
      k -> math.max(0L, end - consumed.getOrElse(k, conf.startingOffset))
    }
    out.put("minOffsetsBehindLatest", behind.valuesIterator.min.toString)
    out.put("maxOffsetsBehindLatest", behind.valuesIterator.max.toString)
    out.put("avgOffsetsBehindLatest",
      (behind.valuesIterator.sum.toDouble / behind.size).toString)
    // behind-latest time from per-segment (min, max) ts stats only; a
    // transient IO race (concurrent retention/compaction) degrades to the
    // offset metrics alone — a metrics read must never fail the query
    try {
      var maxLag = -1L
      behind.foreach { case (k, b) =>
        if (b > 0) {
          val tb = conf.keyBucket(k)
          val from = consumed.getOrElse(k, conf.startingOffset)
          val segs = log.segmentRecords(tb).map(_._2)
          segs.find(m => m.start + m.count > from).foreach { firstUnread =>
            val latestTs = segs.iterator.map(_.maxTs).foldLeft(Long.MinValue)(math.max)
            if (latestTs > Long.MinValue)
              maxLag = math.max(maxLag, math.max(0L, latestTs - firstUnread.minTs))
          }
        }
      }
      if (maxLag >= 0) out.put("maxTsBehindLatestMs", maxLag.toString)
    } catch { case _: java.io.IOException => () }
    out
  }

  /** Per-subscription end offsets keyed by [[RippleConf.streamKey]] —
    * bare bucket names single-topic (checkpoint-stable), `topic/bucket`
    * under a multi-topic subscription.
    */
  private def sizes(): Map[String, Long] = {
    val log = conf.log
    // read-committed streaming: each bucket's deliverable end is its
    // stable offset — Kafka's LSO. A micro-batch simply stops short of an
    // in-flight transaction's rows and picks them up on the trigger after
    // it commits; a hung transaction holds the stream here until an admin
    // abort resolves it (Kafka read_committed semantics, including the
    // stall). Re-resolved per trigger — O(marker files) driver metadata.
    // Sizes are listed BEFORE the markers (same ordering argument as the
    // batch planner: a pending precedes its segments, so an end this
    // listing can see implies its pending is visible below).
    val raw = conf.buckets.map(tb => tb -> log.size(tb))
    val caps = TxnStableEnds(conf)
    raw.map { case (tb, sz) =>
      conf.streamKey(tb) -> math.min(sz, caps.getOrElse(tb, Long.MaxValue))
    }.toMap
  }

  /** Trigger.AvailableNow support: the log end is pinned ONCE at query
    * start and every subsequent `latestOffset` aims at that frozen target
    * — so the query drains exactly the rows that existed at start (in
    * rate-capped micro-batches, unlike Trigger.Once's single giant batch)
    * and stops, even while producers keep appending. Without this trait
    * Spark silently degrades AvailableNow to Once and IGNORES the row cap.
    */
  @volatile private var availableNowTarget: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(sizes())
  /** Frozen end under AvailableNow; the live log end otherwise. */
  private def targetSizes(): Map[String, Long] =
    availableNowTarget.getOrElse(sizes())

  /** Start offset for a FRESH checkpoint: `startingOffset` per bucket — or,
    * when a `consumerId` names a managed cursor that has committed before,
    * that cursor (per-bucket; buckets it has never seen fall back to
    * `startingOffset`). A RESUMED checkpoint never calls this — the
    * checkpoint wins, see [[ConsumerOffsets]].
    *
    * An ABSENT `startingOffset` means "earliest retained": the fresh start
    * clamps to each bucket's truncation floor, so a retained-then-truncated
    * topic starts cleanly instead of tripping the data-loss guard on rows
    * nobody asked for. An explicit value (or a loaded cursor) is kept as-is
    * — if it lies below the floor, [[planInputPartitions]] fails loudly
    * (that IS lost data).
    */
  override def initialOffset(): Offset = {
    // Managed cursors live per topic; under a multi-topic subscription
    // each topic's cursor loads independently and lands under its
    // qualified key.
    val cursor: Map[String, Long] = conf.consumerId.map { id =>
      conf.topicList.flatMap { t =>
        ConsumerOffsets.load(conf.root, t, id)
          .getOrElse(Map.empty[String, Long])
          .map { case (b, o) =>
            conf.streamKey(TopicBucket(t, b)) -> o }
      }.toMap
    }.getOrElse(Map.empty)
    val log = conf.log
    RippleOffset(sizes().map { case (b, bucketEnd) =>
      val start = cursor.get(b) match {
        case Some(c) => c
        case None if conf.startingOffsetSet => conf.startingOffset
        // `startingTimestamp` seeds the fresh start by seek (Kafka's
        // startingOffsetsByTimestamp); a cursor above already won, and a
        // resumed checkpoint never reaches initialOffset at all.
        case None if conf.startingTimestamp.isDefined =>
          log.offsetForTimestamp(conf.keyBucket(b),
            conf.startingTimestamp.get)
        // 'latest': tail from the CURRENT end — the backlog is invisible
        // (Kafka's streaming startingOffsets=latest); resume still goes
        // through the checkpoint, never back through here. Under
        // readCommitted, "the end" is the STABLE end (sizes() is already
        // capped): starting above an in-flight transaction would skip its
        // rows if it later commits.
        case None if conf.startingPosition.contains("latest") =>
          bucketEnd
        case None => math.max(conf.startingOffset,
          log.firstOffset(conf.keyBucket(b)))
      }
      b -> start })
  }

  override def getDefaultReadLimit: ReadLimit = {
    val parts = Seq(
      if (conf.minOffsetsPerTrigger > 0)
        Some(ReadLimit.minRows(conf.minOffsetsPerTrigger,
          conf.maxTriggerDelayMs)) else None,
      if (conf.maxOffsetsPerTrigger != Long.MaxValue)
        Some(ReadLimit.maxRows(conf.maxOffsetsPerTrigger)) else None).flatten
    parts match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  // For minOffsetsPerTrigger: when the last emitted batch fired (delay
  // clock for maxTriggerDelayMs). Kafka-source semantics: hold the
  // trigger while backlog < min, release on the delay expiring — and
  // ignore the minimum entirely under Trigger.AvailableNow (a drain must
  // finish, not wait for rows that will never come).
  @volatile private var lastTriggerMs: Long = System.currentTimeMillis()

  /** Rate-limited end offset: the row cap is allocated PROPORTIONALLY to
    * each bucket's backlog (as the Kafka source does), with every non-empty
    * bucket guaranteed >= 1 row whenever the cap covers the bucket count —
    * round 1 spent the cap in bucket-name order, so under a sustained cap
    * b0000 drained first and high-numbered buckets starved indefinitely.
    * Allocation math lives in [[RippleAdmission.allocate]] (pure,
    * property-tested).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val now = targetSizes()
    val s = start.asInstanceOf[RippleOffset].ends
    val from = now.map { case (b, _) => b -> s.getOrElse(b, conf.startingOffset) }
    val backlog = now.map { case (b, end) => b -> math.max(0L, end - from(b)) }
    // flatten a composite limit into its min/max parts
    val parts: Seq[ReadLimit] = limit match {
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.toSeq
      case one => Seq(one)
    }
    val minPart = parts.collectFirst {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMinRows => m }
    val maxPart = parts.collectFirst { case m: ReadMaxRows => m }
    // Hold the trigger while the backlog is under the minimum and the
    // delay clock has not expired — but never under AvailableNow (the
    // frozen drain target must be reached regardless of batch sizes).
    val nowMs = System.currentTimeMillis()
    minPart match {
      case Some(m) if availableNowTarget.isEmpty &&
          backlog.valuesIterator.sum < m.minRows &&
          nowMs - lastTriggerMs < m.maxTriggerDelayMs =>
        return RippleOffset(from) // no batch this trigger
      case _ =>
    }
    lastTriggerMs = nowMs
    maxPart match {
      case Some(mr) =>
        val takes = RippleAdmission.allocate(backlog, mr.maxRows())
        RippleOffset(from.map { case (b, f) => b -> (f + takes.getOrElse(b, 0L)) })
      case None => RippleOffset(now)
    }
  }

  override def reportLatestOffset(): Offset = RippleOffset(targetSizes())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used via SupportsAdmissionControl")

  /** Checkpoint offsets re-enter here on resume. A SINGLE-topic query
    * handed a MULTI-topic checkpoint would find `topic/bucket`-qualified
    * keys that never match its bare bucket keys — every lookup would fall
    * back to `startingOffset` and the whole topic would silently
    * re-deliver. [[RippleConf.keyBucket]] already fails loudly in the
    * reverse direction (multi-topic query on a single-topic checkpoint);
    * this is the symmetric guard: bucket names are path components, so a
    * '/' in an offset key can ONLY be a multi-topic subscription's
    * qualified form.
    */
  override def deserializeOffset(json: String): Offset = {
    val off = RippleOffset.fromJson(json)
    if (!conf.multiTopic) {
      val qualified = off.ends.keysIterator.filter(_.contains('/')).toSeq.sorted
      if (qualified.nonEmpty) throw new IllegalStateException(
        s"ripple: offset key '${qualified.head}' carries the topic/bucket " +
          "form a multi-topic subscription writes, but this query " +
          s"subscribes to the single topic '${conf.topicList.head}' — " +
          "resuming would silently re-read from startingOffset; keep the " +
          "original subscription or start a fresh checkpoint")
    }
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RippleOffset].ends
    val e = end.asInstanceOf[RippleOffset].ends
    val log = conf.log
    val txnAborted = TxnAbortedRanges(conf)
    e.toSeq.sortBy(_._1).flatMap { case (bucket, until) =>
      val from0 = s.getOrElse(bucket, conf.startingOffset)
      if (until <= from0) Seq.empty
      else {
        val tb = conf.keyBucket(bucket)
        val segs = log.segmentRecords(tb)
        // Data-loss guard: a resumed checkpoint offset (or managed cursor,
        // or explicit startingOffset) below the bucket's first surviving
        // segment means retention truncated committed-but-unread rows.
        // Fail loudly by default; allowDataLoss=true skips to the floor.
        val floor = segs.headOption.map(_._2.start).getOrElse(0L)
        val from = RippleDataLoss.check(conf, tb.topic, tb.bucket, from0, floor)
        // readCommitted: aborted-transaction ranges below the stable end
        // (recorded by an admin abort since the last trigger) are
        // subtracted — the same index the batch scan applies
        val aborted = txnAborted.getOrElse(tb, Seq.empty)
        RippleTsPrune(segs, tsPredLo, tsPredHi).flatMap {
          case (path, m) if m.start < until && m.start + m.count > from =>
            TxnMarkers.subtract(math.max(from, m.start),
              math.min(until, m.start + m.count), aborted).map { case (a, b) =>
              RippleInputPartition(conf.root, tb.topic, tb.bucket,
                path.toString, m.start, a, b, conf.preferredHosts.toArray)
            }
          case _ => Seq.empty
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RippleReaderFactory(schema, conf.hconf, conf.lift,
      SQLConf.get.sessionLocalTimeZone)

  /** The checkpoint is the PRIMARY commit log; a configured `consumerId`
    * additionally records the committed end as a broker-side cursor (always
    * behind-or-equal the checkpoint — at-least-once on fresh-checkpoint
    * resume, never over-advanced; see [[ConsumerOffsets]]).
    */
  override def commit(end: Offset): Unit = conf.consumerId.foreach { id =>
    val ends = end.asInstanceOf[RippleOffset].ends
    // a group member commits to its OWN cursor file — cursor.json is a
    // whole-map swap and sibling members would clobber each other's
    // buckets through it; ConsumerOffsets.load merges the member files
    val member =
      if (conf.groupMembers > 1) Some((conf.groupMember, conf.groupMembers))
      else None
    if (!conf.multiTopic)
      ConsumerOffsets.commit(conf.root, conf.topicList.head, id, ends, member)
    else ends.toSeq.map { case (k, o) => (conf.keyBucket(k), o) }
      .groupBy(_._1.topic).foreach { case (t, xs) =>
        ConsumerOffsets.commit(conf.root, t, id,
          xs.map { case (tb, o) => tb.bucket -> o }.toMap, member)
      }
  }
  override def stop(): Unit = ()
}
