package graft.streaming

import graft.ops.{Dedup, HashFamily, Materialize, Retrieval, Similarity}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming maintenance of the persisted retrieval/near-dup indexes: keep
  * a MinHash-LSH index ([[Dedup.saveMinhashIndex]] lifecycle), a BM25
  * index ([[Retrieval.saveBm25Index]] lifecycle) and the ANN indexes
  * ([[Similarity.saveIvfIndex]]/[[Similarity.saveIvfPqIndex]] lifecycles)
  * current from a crawl stream via `foreachBatch`, with the same
  * epoch-marker exactly-once
  * discipline the ripple connector's sink uses
  * ([[graft.connector.RipplePublish]]): a replayed epoch must be a no-op,
  * and a crashed mid-append epoch must heal to exactly-once on replay —
  * never double-append (which would break the append ≡ rebuild gate both
  * index families carry).
  *
  * Protocol (per index directory; SINGLE MAINTAINING STREAM per index —
  * the same single-writer contract every index maintenance pass already
  * has):
  *
  *   1. `_last_epoch` holds the highest fully-applied foreachBatch epoch.
  *      An arriving epoch <= it is a replay of a committed epoch: no-op.
  *   2. `_epoch_intent` is written (tmp + atomic rename) BEFORE the
  *      append. An arriving epoch that matches a live intent is the
  *      replay of a CRASHED attempt — the batch's rows may be partially
  *      present — so the epoch first SCRUBS its own ids via the index's
  *      delete path (delete ≡ rebuild is already gated, and deleting ids
  *      the crash never wrote is a no-op), then appends fresh.
  *   3. After the append, `_last_epoch` advances and the intent clears.
  *
  * Structured Streaming re-executes at most the one uncommitted epoch
  * (same epochId, same data — the source is replayable), so the expensive
  * scrub runs only on the first epoch after a crash, never steady-state.
  * Both markers live INSIDE the index directory: the index is
  * self-describing about its maintenance position, and a separate batch
  * writer cannot accidentally share the epoch sequence.
  *
  * EPOCH-SEQUENCE IDENTITY: epoch ids are per-QUERY (foreachBatch
  * batchIds restart at 0 under a NEW checkpoint), so both markers carry
  * the maintaining query's ID next to the epoch. The streaming queryId is
  * the right identity — it lives in the checkpoint, so it is STABLE
  * across same-checkpoint restarts (whose replay of the one uncommitted
  * epoch must stay a silent no-op) and FRESH under a new checkpoint
  * (whose restarted epoch counter must NOT silently no-op). The runId
  * would false-alarm every legitimate restart. An epoch <= `_last_epoch`
  * arriving from a DIFFERENT query therefore FAILS LOUDLY — a fresh
  * checkpoint pointed at a maintained index without clearing the markers
  * would otherwise silently skip every append until the new counter
  * passed the old one. For the intentional case (new maintaining query
  * over an index whose delivered position is handled out-of-band, e.g.
  * the broker-side consumer cursor), call [[resetEpochMarkers]] first.
  * Markers written by pre-ID versions of this helper (no query ID line)
  * and epochs applied OUTSIDE a streaming query (manual heals, batch
  * backfills through the same sink function) keep the legacy silent
  * no-op — neither side can prove a foreign sequence there.
  */
object IndexMaintenance {

  /** foreachBatch function appending each micro-batch to a persisted
    * MinHash-LSH index at `path` (exactly-once; see class doc):
    * {{{
    *   stream.writeStream
    *     .foreachBatch(IndexMaintenance.minhashAppendSink(path, "id", "text"))
    *     .option("checkpointLocation", ckpt).start()
    * }}}
    * Batch ids must be new to the index (the append contract); the crawl
    * dedup shape that guarantees it is filtering each batch through
    * [[Dedup.novelAgainstMinhashIndex]] first.
    */
  def minhashAppendSink(path: String, idCol: String, textCol: String,
      hash64: HashFamily = HashFamily.Xx64, numFiles: Int = 8)
      : (DataFrame, Long) => Unit = (batch, epochId) =>
    applyEpoch(batch, path, epochId)(
      append = Dedup.appendToMinhashIndex(batch, idCol, textCol, path,
        hash64, numFiles),
      scrub = Dedup.deleteFromMinhashIndex(batch.select(col(idCol)), idCol,
        path))

  /** foreachBatch function appending each micro-batch to a persisted BM25
    * index at `path` (exactly-once; see class doc). The scrub path also
    * repairs the stats pair from the postings ([[Retrieval.repairBm25Stats]])
    * because a crash can land anywhere between the postings append and the
    * stats bump — recomputing from the postings is exact either way.
    */
  def bm25AppendSink(path: String, idCol: String, textCol: String,
      numFiles: Int = 8): (DataFrame, Long) => Unit = (batch, epochId) =>
    applyEpoch(batch, path, epochId)(
      append = Retrieval.appendToBm25Index(batch, idCol, textCol, path,
        numFiles),
      scrub = {
        Retrieval.deleteFromBm25Index(batch.select(col(idCol)), idCol, path)
        Retrieval.repairBm25Stats(batch.sparkSession, path)
      })

  /** foreachBatch function appending each micro-batch of embeddings to a
    * persisted IVF index at `path` (exactly-once; see class doc). Vectors
    * are assigned to the SAVED centroids — an append changes which vectors
    * exist, not the trained geometry, the same contract as the batch
    * [[Similarity.appendToIvfIndex]]; the maintained index therefore
    * equals the batch-append path, NOT a from-scratch retrain. Scrub is
    * delete-by-id (tombstone-free clustered rewrite), so a crashed epoch
    * heals wherever it died.
    */
  def ivfAppendSink(path: String, idCol: String, vecCol: String,
      numFiles: Int = 4): (DataFrame, Long) => Unit = (batch, epochId) =>
    applyEpoch(batch, path, epochId)(
      append = Similarity.appendToIvfIndex(batch.sparkSession, path, batch,
        idCol, vecCol, numFiles),
      scrub = Similarity.deleteFromIvfIndex(batch.select(col(idCol)), idCol,
        path))

  /** [[ivfAppendSink]] for the fused IVF-PQ index: each batch is
    * residual-encoded with the saved centroids AND codebooks
    * ([[Similarity.appendToIvfPqIndex]]).
    */
  def ivfPqAppendSink(path: String, idCol: String, vecCol: String,
      numFiles: Int = 4): (DataFrame, Long) => Unit = (batch, epochId) =>
    applyEpoch(batch, path, epochId)(
      append = Similarity.appendToIvfPqIndex(batch.sparkSession, path,
        batch, idCol, vecCol, numFiles),
      scrub = Similarity.deleteFromIvfPqIndex(batch.select(col(idCol)),
        idCol, path))

  /** The crawl-ADMISSION composition — the deployment shape streaming
    * index maintenance exists for: per micro-batch, keep only the
    * documents with NO verified near-dup in the persisted index
    * ([[Dedup.novelAgainstMinhashIndex]]), append EXACTLY the kept ones to
    * the index (so later batches dedup against them), and hand the kept
    * batch to `sink` — all under the same exactly-once epoch guard. A
    * crashed epoch heals correctly BY CONSTRUCTION: the scrub deletes the
    * whole batch's ids (novel-subset appends are removed, unknown ids
    * no-op), so the replay recomputes the SAME novel set against the same
    * pre-batch index state.
    *
    * Contracts, stated: `sink` re-runs when a crashed epoch replays —
    * give it an idempotent-per-epoch target (a parquet epoch partition
    * overwrite, or the ripple sink through its own writeStream, whose
    * epoch markers already no-op replays; a blind batch append is NOT
    * idempotent). Intra-batch near-dups: the index is probed as it stood
    * BEFORE the batch, so near-copies arriving in the SAME micro-batch
    * would both be admitted — `dropIntraBatchNearDups = true` closes that
    * by keeping one representative per within-batch near-dup cluster
    * (same banded pair generation as the batch pipeline, pair-bounded to
    * the micro-batch) before the index probe. Representative choice is
    * [[Dedup.dupClusters]]'s canonical minimum, so the admitted set is
    * deterministic under replay. Off by default: a stream that already
    * dedups upstream ([[TopicStreams.dropNearDups]]) shouldn't pay the
    * per-batch pair stage twice.
    */
  def minhashAdmitSink(path: String, idCol: String, textCol: String,
      threshold: Double, sink: (DataFrame, Long) => Unit,
      hash64: HashFamily = HashFamily.Xx64, numFiles: Int = 8,
      dropIntraBatchNearDups: Boolean = false)
      : (DataFrame, Long) => Unit = (batch, epochId) =>
    applyEpoch(batch, path, epochId)(
      append = {
        val idx = Dedup.loadMinhashIndex(batch.sparkSession, path)
        val base =
          if (!dropIntraBatchNearDups) batch
          else {
            // the intra-batch pass and the index probe must share ONE
            // similarity definition: take the sketch geometry from the
            // index's persisted params, not library defaults — an index
            // saved with non-default shingle/hash/band settings would
            // otherwise drop by one definition and admit by another
            val pairs = Dedup.minhashNearDups(batch, idCol, textCol,
                shingleSize = idx.shingleSize, numHashes = idx.numHashes,
                numBands = idx.numBands, threshold = threshold,
                seed = idx.seed, hash64 = hash64)
              .select(col("id_a"), col("id_b"))
            // dupClustersAny: ids keep their own type — the long-cast path
            // would NULL out string/UUID ids and silently admit both halves
            // of every near-pair
            val drop = Dedup.dupClustersAny(pairs)
              .filter(col("id") =!= col("cluster"))
              .select(col("id").as("__graft_dup_id"))
            batch.join(drop, col(idCol) === col("__graft_dup_id"), "left_anti")
          }
        val novel = Dedup.novelAgainstMinhashIndex(idx, base, idCol,
          textCol, threshold, hash64)
        Dedup.appendToMinhashIndex(novel, idCol, textCol, path, hash64,
          numFiles)
        sink(novel, epochId)
      },
      scrub = Dedup.deleteFromMinhashIndex(batch.select(col(idCol)), idCol,
        path))

  /** The SEMANTIC crawl-admission composition: per micro-batch, keep only
    * the documents whose embedding has NO near neighbor (cosine >= `tau`)
    * in the persisted IVF index ([[Similarity.novelAgainstIvfIndex]] —
    * cell-bounded threshold semi-join), append exactly those to the index
    * (saved-centroid assignment), and hand the kept batch to `sink` — the
    * embedding twin of [[minhashAdmitSink]] for near-dups that share no
    * surface n-grams (translations, paraphrases, templated rewrites).
    * Same exactly-once epoch discipline; scrub is delete-by-id.
    *
    * `dropIntraBatchNearDups` closes the both-in-one-batch corner with a
    * hyperplane-LSH + exact-cosine pass INSIDE the batch
    * ([[Dedup.embeddingNearDups]] at the same `tau`, dims from the saved
    * centroids); representative choice is [[Dedup.dupClustersAny]]'s
    * canonical minimum, deterministic under replay. The LSH banding only
    * affects candidate recall — membership is always the exact cosine at
    * `tau`, ONE similarity definition with the index probe.
    */
  def ivfAdmitSink(path: String, idCol: String, vecCol: String,
      tau: Double, sink: (DataFrame, Long) => Unit, nProbe: Int = 4,
      numFiles: Int = 4, dropIntraBatchNearDups: Boolean = false)
      : (DataFrame, Long) => Unit = (batch, epochId) =>
    applyEpoch(batch, path, epochId)(
      append = {
        val idx = Similarity.loadIvfIndex(batch.sparkSession, path)
        val base =
          if (!dropIntraBatchNearDups) batch
          else {
            val pairs = graft.ops.Dedup.embeddingNearDups(batch, idCol,
                vecCol, dim = idx.cm.head.length, threshold = tau)
              .select(col("id_a"), col("id_b"))
            val drop = graft.ops.Dedup.dupClustersAny(pairs)
              .filter(col("id") =!= col("cluster"))
              .select(col("id").as("__graft_dup_id"))
            batch.join(drop, col(idCol) === col("__graft_dup_id"), "left_anti")
          }
        val novel = Similarity.novelAgainstIvfIndex(idx, base, idCol,
          vecCol, tau, nProbe)
        Similarity.appendToIvfIndex(batch.sparkSession, path, novel, idCol,
          vecCol, numFiles)
        sink(novel, epochId)
      },
      scrub = Similarity.deleteFromIvfIndex(batch.select(col(idCol)), idCol,
        path))

  /** Delete the epoch markers at `path` — the explicit reset for handing
    * an index to a NEW maintaining query (fresh checkpoint). Only correct
    * when the new query's source position is arranged to re-deliver none
    * of the already-appended ids (e.g. resuming from the broker-side
    * consumer cursor); the loud epoch-sequence mismatch in [[applyEpoch]]
    * points here precisely so that arrangement is a conscious step, not a
    * default.
    */
  def resetEpochMarkers(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val dir = new HPath(path)
    val fs = graft.log.LogFs.get(dir, spark.sparkContext.hadoopConfiguration)
    try fs.delete(new HPath(dir, "_last_epoch"), false)
    catch { case _: java.io.IOException => () }
    try fs.delete(new HPath(dir, "_epoch_intent"), false)
    catch { case _: java.io.IOException => () }
  }

  /** The exactly-once epoch wrapper (package-visible for direct testing).
    * Runs `scrub` only when `epochId` matches a live intent marker — the
    * one ambiguous epoch after a crash — then `append`, then commits the
    * epoch. Markers carry the maintaining streaming queryId (see class
    * doc); a committed-range epoch from a FOREIGN query fails loudly.
    */
  private[graft] def applyEpoch(batch: DataFrame, path: String,
      epochId: Long)(append: => Unit, scrub: => Unit): Unit = {
    val spark = batch.sparkSession
    val dir = new HPath(path)
    val fs = graft.log.LogFs.get(dir, spark.sparkContext.hadoopConfiguration)
    val lastP = new HPath(dir, "_last_epoch")
    val intentP = new HPath(dir, "_epoch_intent")
    // The streaming queryId: set as a thread-local property on the stream
    // execution thread foreachBatch functions run on; absent (None) for
    // direct batch-side calls (manual heals, tests), which keep the
    // legacy can't-prove-foreign no-op semantics.
    val owner: Option[String] =
      Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

    // marker format: "<epoch>\n<queryId>"; pre-ID markers are one line
    def readMarker(p: HPath): Option[(Long, Option[String])] =
      try {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](256)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          val lines = new String(buf.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8).trim.split('\n')
          Some((lines(0).trim.toLong,
            lines.drop(1).headOption.map(_.trim).filter(_.nonEmpty)))
        } finally in.close()
      } catch { case _: java.io.IOException | _: NumberFormatException => None }

    def writeAtomic(p: HPath, v: Long): Unit = {
      val tmp = new HPath(dir, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
      // an ownerless (batch-side) caller must not ERASE the recorded
      // owner: read the current owner through, or one manual backfill
      // that advances _last_epoch would silently disable the loud
      // foreign-query check for every subsequent fresh-checkpoint query
      val effOwner = owner.orElse(readMarker(p).flatMap(_._2))
      val body = v.toString + effOwner.fold("")("\n" + _)
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, p)) { // replace semantics on HDFS-style refusal
        fs.delete(p, false)
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"marker swap $tmp -> $p failed twice")
        }
      }
    }

    val (last, lastOwner) = readMarker(lastP).getOrElse((-1L, None))
    if (epochId <= last) {
      // Only a same-query replay may no-op silently. A KNOWN foreign query
      // in the committed range means a fresh checkpoint was pointed at a
      // maintained index: silently skipping its appends until the new
      // counter passes `last` is exactly the data loss this engine fails
      // loudly on everywhere else.
      for (o <- owner; lo <- lastOwner; if o != lo)
        throw new IllegalStateException(
          s"index at $path: epoch $epochId from streaming query $o is " +
            s"inside the committed range of query $lo (_last_epoch=$last). " +
            "A new maintaining query (fresh checkpoint) restarts its epoch " +
            "counter, so continuing would SILENTLY SKIP appends. Either " +
            "resume the original checkpoint, or — after arranging that the " +
            "new query re-delivers none of the already-appended ids — call " +
            "IndexMaintenance.resetEpochMarkers(path) and restart.")
      return // committed epoch replayed by its own query: no-op
    }
    // one scope per epoch: it releases every pin the scrub and append take
    Materialize.scoped {
      readMarker(intentP).foreach { case (intentEpoch, intentOwner) =>
        if (intentEpoch == epochId) {
          // The scrub deletes this batch's ids from the index — only safe
          // when the intent really is OUR crashed attempt. A leftover intent
          // from a DIFFERENT query (it crashed before its first commit, so
          // the committed-range check above cannot catch it) colliding with
          // our epoch number would scrub ids that legitimately exist in the
          // index; same rationale, same loud failure.
          for (o <- owner; io <- intentOwner; if o != io)
            throw new IllegalStateException(
              s"index at $path: live _epoch_intent for epoch $epochId belongs " +
                s"to streaming query $io, but query $o is maintaining the " +
                "index. Scrubbing another query's crashed attempt would " +
                "delete ids this batch never wrote. Heal or abandon the old " +
                "query's attempt first (resetEpochMarkers after arranging " +
                "re-delivery), then restart.")
          scrub // crashed attempt: heal
        }
      }
      writeAtomic(intentP, epochId)
      append
    }
    writeAtomic(lastP, epochId)
    try fs.delete(intentP, false) catch { case _: java.io.IOException => () }
  }
}
