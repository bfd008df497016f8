package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** Event-time streaming semantics over topic streams (SURVEY §2 Table B
  * streaming rows + §7 step 5). The reference has NO time semantics at all
  * — `Payload` carries no timestamp and nothing ever windows, drops late
  * data, or holds keyed state (offsets in ZK are the only state, SURVEY
  * A9). These operators are the sanctioned gap-fill, expressed as
  * Structured Streaming built-ins so state management, watermarking and
  * recovery ride the checkpoint.
  */
object TopicStreams {

  /** Lift a ripple envelope stream's JSON payloads into columns: this is
    * [[graft.api.Ripple.lift]], which serves batch and streaming alike.
    */
  def lift(stream: DataFrame, schema: StructType): DataFrame =
    graft.api.Ripple.lift(stream, schema)

  /** Tumbling or sliding event-time window aggregation with a watermark
    * bounding state (late data beyond `lateness` is dropped — the
    * reference never drops anything because it never reorders by time).
    */
  def windowedCounts(events: DataFrame, tsCol: String, lateness: String,
      windowLen: String, slide: Option[String] = None,
      extraKeys: Seq[Column] = Seq.empty): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None    => window(col(tsCol), windowLen)
    }
    events.withWatermark(tsCol, lateness)
      .groupBy(win +: extraKeys: _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("n"), col("total"))
  }

  /** Session windows: activity grouped by gaps > `gap` per key. */
  def sessionCounts(events: DataFrame, tsCol: String, lateness: String,
      gap: String, key: Column): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), key.as("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("key"), col("n"))

  /** Exactly-once-per-id view of an at-least-once stream: streaming
    * dropDuplicates with watermark-bounded dedup state. This upgrades the
    * reference's delivery contract (at-least-once into the log, SURVEY §2
    * delivery notes) to exactly-once per message id.
    */
  def dedupById(events: DataFrame, idCols: Seq[String], tsCol: String,
      lateness: String): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream-static join: enrich a topic stream against a dimension table
    * (broadcast by Catalyst when small — no stream state needed).
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(dim, keys)

  /** Stream-stream inner join within a time bound; both sides watermarked
    * so join state is evictable.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      tsLeft: String, tsRight: String, lateness: String,
      bound: String): DataFrame =
    left.withWatermark(tsLeft, lateness)
      .join(right.withWatermark(tsRight, lateness),
        expr(s"""$key = r_$key AND $tsRight BETWEEN $tsLeft AND $tsLeft + INTERVAL $bound"""))

  /** Streaming incremental dedup — the streaming face of
    * [[graft.ops.Dedup.novelAgainst]]: admit a document from the stream
    * only if its normalized-content fingerprint is (a) not in the static
    * historical corpus and (b) not already seen earlier in the stream
    * within the watermark horizon.
    *
    * Composition, in plan order:
    *   1. per-row fingerprint (codegen'd, stateless);
    *   2. optional Bloom prefilter over the historical fingerprints — at
    *      100 TB the historical side is far too big to broadcast, so the
    *      bitset (built once, batch-side, via
    *      [[graft.ops.Dedup.historicalBloom]]) rejects the novel majority
    *      per-row with zero stream state, and only bloom-positive rows
    *      reach the anti-join;
    *   3. stream-static left_anti join against the (narrow, fingerprint-
    *      only) historical projection — exactness: bloom false positives
    *      die here, and rows the bloom already cleared skip the join via
    *      the union of the two branches;
    *   4. `dropDuplicatesWithinWatermark` on the fingerprint — intra-stream
    *      dedup with watermark-bounded state (two crawls of the same page
    *      minutes apart admit exactly one copy).
    */
  def novelDocs(stream: DataFrame, historicalFp: DataFrame, textCol: String,
      tsCol: String, lateness: String,
      bloom: Option[(Array[Long], Int)] = None): DataFrame = {
    // NULL text rows are dropped (same contract as Dedup.novelAgainst: a
    // NULL fingerprint would anti-join as "novel" on every micro-batch).
    val fp = stream
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .filter(col("__fp").isNotNull)
      .withWatermark(tsCol, lateness)
    val hist = historicalFp.select(col("fp").as("__fp"))
    val unseen = bloom match {
      case Some((bits, k)) =>
        val may = graft.functions.bloom.might_contain(xxhash64(col("__fp")), bits, k)
        fp.filter(!may).unionByName(
          fp.filter(may).join(hist, Seq("__fp"), "left_anti"))
      case None => fp.join(hist, Seq("__fp"), "left_anti")
    }
    unseen.dropDuplicatesWithinWatermark("__fp").drop("__fp")
  }

  // ---- streaming MinHash near-dup dedup -------------------------------

  /** One LSH band probe: `band_key` routes the doc to the keyed state
    * shared by everything that collides in this band; `text` rides only
    * the band-0 probe so the fan-out shuffles each payload once, not
    * numBands times (signatures — numHashes longs — do ride every probe:
    * each band's state verifies against the FULL signature, not just its
    * slice).
    */
  case class NearDupProbe(band_key: Long, doc_id: Long, sig: Array[Long],
      text: String)
  case class NearDupVerdict(doc_id: Long, matched: Boolean, text: String)
  case class AdmittedDoc(doc_id: Long, text: String)

  /** Deterministic band key: splitmix64 fold of the band index and that
    * band's signature slice — self-consistent between arrivals, which is
    * all a routing key needs.
    */
  private def bandHashOf(sig: Array[Long], band: Int, rowsPerBand: Int): Long = {
    var h = graft.functions.BloomParams.mix(0x9E3779B9L + band)
    var i = band * rowsPerBand
    val end = i + rowsPerBand
    while (i < end) { h = graft.functions.BloomParams.mix(h ^ sig(i)); i += 1 }
    h
  }

  /** Fraction of equal signature components — the unbiased MinHash
    * estimator of jaccard similarity, over ALL numHashes components (far
    * stronger evidence than the rowsPerBand-component collision that
    * routed the pair here).
    */
  private def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a == null || b == null || a.length != b.length || a.length == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Keyed state per band key: the signatures seen in this band, TTL'd so
    * the horizon (and state size) is bounded at 100 TB stream rates. A new
    * arrival is a near-dup if ANY stored (or same-batch earlier) signature
    * estimates jaccard ≥ threshold. Signatures insert optimistically —
    * even a matched doc's signature is recorded, so later members of the
    * same near-dup cluster match against whichever arrived first (cluster
    * semantics: first arrival is the representative; matching a dropped
    * member still means "same cluster"). `maxPerBand` caps per-key state:
    * past it, new signatures still VERIFY against the stored ones but are
    * not added (a band that hot is a near-dup storm already represented).
    */
  class NearDupBandProcessor(threshold: Double, maxPerBand: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, NearDupProbe, NearDupVerdict] {
    @transient private var seen: ListState[(Long, Array[Long])] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[(Long, Array[Long])](
        "sigs", Encoders.product[(Long, Array[Long])], ttl)

    override def handleInputRows(key: Long, rows: Iterator[NearDupProbe],
        timerValues: TimerValues): Iterator[NearDupVerdict] = {
      val stored = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
      seen.get().foreach(stored += _)
      // eager: state updates must land inside this call, not when the
      // downstream operator happens to drain a lazy iterator
      val out = rows.map { r =>
        val matched = stored.exists { case (id, s) =>
          id != r.doc_id && estJaccard(s, r.sig) >= threshold
        }
        if (stored.length < maxPerBand) {
          seen.appendValue((r.doc_id, r.sig))
          stored += ((r.doc_id, r.sig))
        }
        NearDupVerdict(r.doc_id, matched, r.text)
      }.toVector
      out.iterator
    }
  }

  /** Stateless fan-in: a doc is admitted iff NO band matched. Runs keyed
    * by doc_id over just this micro-batch's verdict rows (all of a doc's
    * verdicts are produced in the batch that carried the doc).
    */
  class NearDupReduceProcessor
      extends StatefulProcessor[Long, NearDupVerdict, AdmittedDoc] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()

    override def handleInputRows(key: Long, rows: Iterator[NearDupVerdict],
        timerValues: TimerValues): Iterator[AdmittedDoc] = {
      var matched = false
      var text: String = null
      rows.foreach { v =>
        if (v.matched) matched = true
        if (v.text != null) text = v.text
      }
      if (matched) Iterator.empty else Iterator.single(AdmittedDoc(key, text))
    }
  }

  /** Streaming MinHash near-dup dedup — the streaming face of
    * [[graft.ops.Dedup.minhashNearDups]], and the near-dup extension of
    * [[novelDocs]] (which is exact-fingerprint only): admit a document
    * only if no earlier document within the TTL horizon estimates jaccard
    * ≥ threshold against it.
    *
    * Shape: per-row signature (the same codegen'd
    * [[graft.ops.Dedup.minhashSignature]] as batch), band fan-out with
    * payload on one probe, banded keyed state in `transformWithState`
    * (band→signature list with TTL), per-doc fan-in. Banding means a doc
    * only ever compares against state that collided with it in some band —
    * the S-curve sparsity that makes this viable at stream rate; the
    * full-signature estimate inside the state does the verifying.
    */
  def dropNearDups(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3, numHashes: Int = 64,
      seed: Long = 42L, maxPerBand: Int = 128,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    val (bands, rowsPerBand) = graft.ops.Dedup.lshParams(numHashes, threshold)
    val typed = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"),
        graft.ops.Dedup.minhashSignature(col(textCol), shingleSize, numHashes, seed)
          .as("sig"))
      .as[(Long, String, Array[Long])]
    val probes = typed.flatMap { case (id, text, sig) =>
      (0 until bands).iterator.map { b =>
        NearDupProbe(bandHashOf(sig, b, rowsPerBand), id, sig,
          if (b == 0) text else null)
      }
    }
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    val verdicts = probes.groupByKey(_.band_key)
      .transformWithState(new NearDupBandProcessor(threshold, maxPerBand, ttl),
        timeMode, OutputMode.Update())
    verdicts.groupByKey(_.doc_id)
      .transformWithState(new NearDupReduceProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One token observation inside an event-time window. */
  case class TermObs(win_start: Long, token: String)

  /** One leaderboard row: rank 1..k within its window as of the emitting
    * micro-batch (Update semantics — later batches re-emit the window's
    * refreshed top-k; readers keep the latest rows per (win_start, rank)).
    */
  case class Trending(win_start: Long, token: String, approx_count: Long,
      rank: Int)

  /** Per-window Misra–Gries state: at most `capacity` (token, count)
    * entries regardless of vocabulary size — the bounded-state property
    * that makes a per-window leaderboard viable on an unbounded token
    * stream. Below capacity the counts are EXACT; past it they are the
    * classic MG lower bounds (undercount ≤ dropped/capacity), which
    * preserves every token with true frequency > n/capacity.
    */
  class TrendingProcessor(k: Int, capacity: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, TermObs, Trending] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("mg", Encoders.STRING,
        Encoders.scalaLong, ttl)

    override def handleInputRows(key: Long, rows: Iterator[TermObs],
        timerValues: TimerValues): Iterator[Trending] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      counts.iterator().foreach { case (t, c) => m(t) = c }
      rows.foreach { r => m(r.token) = m.getOrElse(r.token, 0L) + 1L }
      // MG compaction: drop the smallest counts from every survivor until
      // the table fits — each pass subtracts the evicted minimum from all
      // (the decrement-all step, batched)
      while (m.size > capacity) {
        val min = m.valuesIterator.min
        val dead = m.iterator.filter(_._2 <= min).map(_._1).toList
        dead.foreach(m -= _)
        m.keysIterator.toList.foreach(t => m(t) = m(t) - min)
      }
      counts.clear()
      m.foreach { case (t, c) => counts.updateValue(t, c) }
      m.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex.iterator
        .map { case ((t, c), i) => Trending(key, t, c, i + 1) }
    }
  }

  /** Live per-window trending tokens — the streaming face of the q80
    * exact heavy hitters: tokens bucket into event-time windows, each
    * window keeps a bounded Misra–Gries table in `transformWithState`, and
    * every micro-batch re-emits the touched windows' refreshed top-k
    * (Update leaderboard semantics). State per window is O(capacity)
    * whatever the vocabulary; `ttl` retires windows past the horizon so
    * total state is windows-in-horizon × capacity. MapState requires the
    * RocksDB state store provider (as all transformWithState ops here).
    */
  def trendingTokens(docs: DataFrame, textCol: String, tsCol: String,
      windowLen: String, k: Int = 10, capacity: Int = 256,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Trending] = {
    import docs.sparkSession.implicits._
    // null ts would decode into TermObs's primitive win_start and kill the
    // query; a row without an event time has no window to trend in
    val obs = docs.filter(col(textCol).isNotNull && col(tsCol).isNotNull)
      .select(window(col(tsCol), windowLen).getField("start")
          .cast("long").as("win_start"),
        explode(graft.ops.TextAnalysis.words(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .as[TermObs]
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    obs.groupByKey(_.win_start)
      .transformWithState(new TrendingProcessor(k, capacity, ttl),
        timeMode, OutputMode.Update())
  }

  // ---- custom keyed state: per-bucket offset auditing -----------------

  /** Envelope subset for state tracking. */
  case class OffsetEvent(bucket: String, offset: Long)

  /** Continuity report per bucket: highest offset seen, rows delivered,
    * gaps detected (offset jumps), duplicates (offset replays).
    */
  case class BucketAudit(bucket: String, maxOffset: Long, delivered: Long,
      gaps: Long, dups: Long)

  /** Keyed custom state via flatMapGroupsWithState: audits per-bucket
    * offset continuity — the streaming-state rendering of the reference's
    * consumer-offset bookkeeping (`core.go:46-64`), minus its over-advance
    * bug (A9): we *detect* gaps instead of creating them.
    */
  def auditOffsets(envelope: Dataset[OffsetEvent]): Dataset[BucketAudit] = {
    import envelope.sparkSession.implicits._
    envelope.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketAudit, BucketAudit](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (bucket: String, rows: Iterator[OffsetEvent], state: GroupState[BucketAudit]) =>
          val prev = state.getOption.getOrElse(BucketAudit(bucket, -1L, 0L, 0L, 0L))
          var (maxOff, delivered, gaps, dups) =
            (prev.maxOffset, prev.delivered, prev.gaps, prev.dups)
          rows.toSeq.sortBy(_.offset).foreach { r =>
            if (r.offset <= maxOff) dups += 1
            else {
              if (r.offset != maxOff + 1) gaps += 1
              maxOff = r.offset
            }
            delivered += 1
          }
          val next = BucketAudit(bucket, maxOff, delivered, gaps, dups)
          state.update(next)
          Iterator(next)
      }
  }

  // ---- transformWithState: per-key running aggregate with TTL ---------

  case class UserEvent(user_id: Long, value: Double)
  case class UserTotal(user_id: Long, total: Double, events: Long)

  /** Spark 4 arbitrary-state API (`transformWithState` — the Table B
    * "stateful ops" row at its newest surface): per-user running totals in
    * a `ValueState` with an optional TTL, which is the state-size control
    * a 100 TB keyed-state pipeline needs (SURVEY §7 "what's hard"). Needs
    * the RocksDB state store provider.
    */
  class RunningTotalProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, UserEvent, UserTotal] {
    @transient private var state: ValueState[(Double, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Double, Long)](
        "agg", Encoders.product[(Double, Long)], ttl)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserTotal] = {
      val (prevSum, prevN) = Option(state.get()).getOrElse((0.0, 0L))
      var sum = prevSum; var n = prevN
      rows.foreach { r => sum += r.value; n += 1 }
      state.update((sum, n))
      Iterator(UserTotal(key, sum, n))
    }
  }

  /** Running per-user totals over an event stream via transformWithState.
    * A non-NONE TTL requires processing-time semantics, so the time mode
    * follows the TTL (Spark rejects TTL under TimeMode.None).
    */
  def runningTotals(events: Dataset[UserEvent],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor(ttl), timeMode, OutputMode.Update())
  }

  // ---- streaming latest-per-key TABLE view (maintained KTable) --------

  /** Envelope subset the table-view state machine consumes. */
  case class TableRecord(topic: String, bucket: String, offset: Long, id: Int,
      data: Array[Byte], ts: java.sql.Timestamp)

  /** One change emitted by [[tableViewStream]]: the key's new latest
    * record, or its deletion (`deleted = true` — the record was a
    * tombstone). A downstream keyed store applying upserts/deletes in
    * emission order materializes exactly [[graft.api.Ripple.tableView]]
    * of the log read so far.
    */
  case class TableUpsert(topic: String, bucket: String, offset: Long, id: Int,
      data: Array[Byte], ts: java.sql.Timestamp, deleted: Boolean)

  /** Keyed state per (topic, bucket, id): the latest offset applied and
    * whether the key is live. Buckets deliver offsets in order across
    * micro-batches (the source plans contiguous ranges), so "latest" is
    * max-offset within the batch, and a tombstone CLEARS the state —
    * matching Kafka Streams' KTable semantics, where a delete removes the
    * store entry; any later record for the key carries a higher offset by
    * construction and re-creates it. State is therefore bounded by LIVE
    * keys, not log length (plus an optional TTL for keyed churn with an
    * event horizon).
    */
  class TableViewProcessor(ttl: TTLConfig)
      extends StatefulProcessor[(String, String, Int), TableRecord, TableUpsert] {
    @transient private var latest: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Long]("latest", Encoders.scalaLong, ttl)

    override def handleInputRows(key: (String, String, Int),
        rows: Iterator[TableRecord],
        timerValues: TimerValues): Iterator[TableUpsert] = {
      var winner: TableRecord = null
      rows.foreach { r =>
        if (winner == null || r.offset > winner.offset) winner = r }
      if (winner == null) Iterator.empty
      else {
        // a replayed batch at-or-behind the applied offset is a no-op
        // re-emission guard (exactly-once state, at-least-once emission);
        // exists() distinguishes "no state" from a real applied offset 0
        val applied = if (latest.exists()) latest.get() else -1L
        if (winner.offset <= applied) Iterator.empty
        else {
          if (winner.data == null) latest.clear()
          else latest.update(winner.offset)
          Iterator.single(TableUpsert(key._1, key._2, winner.offset, key._3,
            winner.data, winner.ts, deleted = winner.data == null))
        }
      }
    }
  }

  /** CONTINUOUSLY maintained latest-per-key table view of a topic stream —
    * the streaming completion of [[graft.api.Ripple.tableView]] (round-18
    * q174 answers the same question point-in-time; this keeps answering
    * it): each micro-batch emits one upsert per touched key (its new
    * latest record) and one `deleted = true` retraction per tombstoned
    * key. The reference makes every consumer replay the full log and
    * reduce client-side on EVERY poll
    * (`internal/broker/consumer/server/core.go:46-64`); here the
    * reduction is incremental keyed state riding the checkpoint —
    * restart-safe, never re-reading the log.
    *
    * Scale shape: ONE hash exchange on (topic, bucket, id) — identical
    * keying to the batch view's `max_by` — into `transformWithState`
    * keyed state bounded by LIVE keys (tombstones delete their entry);
    * per-epoch output is bounded by keys touched in the epoch, not state
    * size. Needs the RocksDB state store provider, like every
    * `transformWithState` operator here.
    */
  def tableViewStream(envelope: DataFrame,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[TableUpsert] = {
    import envelope.sparkSession.implicits._
    val typed = envelope.select(col("topic"), col("bucket"), col("offset"),
      col("id"), col("data"), col("ts")).as[TableRecord]
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    typed.groupByKey(r => (r.topic, r.bucket, r.id))
      .transformWithState(new TableViewProcessor(ttl), timeMode,
        OutputMode.Update())
  }

  /** [[tableViewStream]] over a `ripple` source subscription — the
    * maintained `READ TOPIC t AS TABLE`.
    */
  def readTableStream(spark: org.apache.spark.sql.SparkSession, root: String,
      topic: String,
      maxPerTrigger: Long = Long.MaxValue): Dataset[TableUpsert] =
    tableViewStream(
      graft.api.Ripple.readStream(spark, root, topic, maxPerTrigger))

  /** Consumer-group emulation (SURVEY "what's hard"): the reference gives
    * every consumer ID an independent cursor over the full log
    * (`core.go:46-64` — fan-out, not work-sharing). In Spark, a consumer
    * ID IS a streaming query checkpoint: starting a new query with a fresh
    * `checkpointLocation` replays the topic from offset zero; resuming an
    * existing checkpoint continues from the committed cursor. This helper
    * just names that mapping.
    */
  def consumerStream(spark: org.apache.spark.sql.SparkSession, root: String,
      topic: String, consumerCheckpoint: String,
      maxPerTrigger: Long = Long.MaxValue): (DataFrame, String) =
    (graft.api.Ripple.readStream(spark, root, topic, maxPerTrigger), consumerCheckpoint)
}
