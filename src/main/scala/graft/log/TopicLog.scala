package graft.log

import graft.model.{LogRecord, Payload, TopicBucket}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, InputStream, OutputStream}
import scala.collection.mutable

/** Append-only per-bucket message log.
  *
  * Semantics mirror the reference's in-memory queue
  * (`internal/broker/queue/queue.go:32-61` in ripple-mq/ripple-server):
  * `append` pushes records at the tail, `range(from, until)` reads a slice
  * by offset with a clamped upper bound
  * (`pkg/utils/collection/concurrent_list.go:63-73`), and per-bucket order
  * is total. Unlike the reference the log is durable and bounded only by
  * storage — the reference keeps everything in RAM forever (TTL TODO at
  * `internal/broker/consumer/server/core.go:45`), which does not survive a
  * restart and cannot scale; replication comes from the storage layer
  * rather than a leader/follower gossip push
  * (`internal/broker/producer/server/core.go:68-103`).
  *
  * Single-writer-per-bucket is assumed, exactly as in the reference, where
  * the elected leader is the sole appender for its bucket
  * (`internal/lighthouse/election/election.go:50-79`).
  */
trait TopicLog {

  /** Append records; returns the offset of the first appended record.
    * Records become readable atomically and in order.
    */
  def append(tb: TopicBucket, rows: Seq[Payload]): Long

  /** Read offsets `[from, until)`; `until` is clamped to `size` — the
    * semantics of `Queue.SubArray` (`queue.go:58-61`).
    */
  def range(tb: TopicBucket, from: Long, until: Long): Seq[LogRecord]

  /** Current end offset (== number of records ever appended). */
  def size(tb: TopicBucket): Long

  def buckets(topic: String): Seq[TopicBucket]
}

/** Pure in-memory log for unit tests and property checks — the closest
  * analog of the reference's `ConcurrentList`-backed queue
  * (`pkg/utils/collection/concurrent_list.go:39-73`).
  */
final class InMemoryLog extends TopicLog {
  private val store = mutable.Map.empty[TopicBucket, mutable.ArrayBuffer[LogRecord]]

  private def buf(tb: TopicBucket) = synchronized {
    store.getOrElseUpdate(tb, mutable.ArrayBuffer.empty)
  }

  override def append(tb: TopicBucket, rows: Seq[Payload]): Long = synchronized {
    val b = buf(tb)
    val start = b.size.toLong
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    rows.zipWithIndex.foreach { case (p, i) =>
      b += LogRecord(tb.topic, tb.bucket, start + i, p.id, p.data, now)
    }
    start
  }

  override def range(tb: TopicBucket, from: Long, until: Long): Seq[LogRecord] = synchronized {
    val b = buf(tb)
    val lo = math.max(0L, from)
    val hi = math.min(until, b.size.toLong)
    if (hi <= lo) Seq.empty else b.slice(lo.toInt, hi.toInt).toSeq
  }

  override def size(tb: TopicBucket): Long = synchronized(buf(tb).size.toLong)

  override def buckets(topic: String): Seq[TopicBucket] = synchronized {
    store.keys.filter(_.topic == topic).toSeq.sortBy(_.bucket)
  }
}

/** Segment file layout + frame codec for the durable log.
  *
  * A segment is a data file `data-<start20>-<count10>-<uuid>.log` holding
  * `count` records beginning at offset `start`; it is live once the
  * bucket's [[CommitLog]] lists it ([[FileTopicLog]]), under a record
  * that also carries its rows, (minTs, maxTs) and byte length
  * ([[SegMeta]]) — the format has no footer, and readers never need
  * one for those facts. Frames are
  * length-prefixed, the same wire discipline as the reference's transport
  * (`pkg/server/asynctcp/transport.go:114-145` — 4-byte big-endian length
  * prefix), but with a fixed header instead of GOB (which the reference
  * itself flags as non-portable, `internal/broker/consumer/server/core.go:14`):
  *
  * {{{ [len:int32][id:int32][tsMillis:int64][data:len-12 bytes] }}}
  *
  * A NEGATIVE length prefix marks the extended (v2) frame layout carrying a
  * compressed payload and/or an explicit record offset — see [[writeFrame]]
  * for the exact shape and [[Codecs]] for the compression design. Frames
  * are self-describing PER FRAME, so one file (and one bucket) can mix
  * raw/compressed/sparse frames freely: compaction stays a plain byte
  * concatenation, and a topic whose `compression` config changes mid-life
  * keeps reading correctly.
  *
  * Segments are immutable once committed, and a retried epoch that
  * re-publishes the same offset range with the same records is a no-op —
  * this is what makes the streaming sink idempotent/exactly-once,
  * replacing the reference's ack-counting (`internal/broker/ack/ack.go:68-117`).
  *
  * All I/O is stream-based so segments read/write identically through
  * `org.apache.hadoop.fs.FileSystem` (the storage plane, [[LogFs]]) and
  * plain `java.nio` (unit tests).
  */
object SegmentCodec {
  val DataPrefix = "data-"
  val SegmentSuffix = ".log"
  /** File-name prefix of the retired rename-published layout; a bucket
    * holding such files is refused, never read as empty.
    */
  val LegacyPrefix = "seg-"

  /** Unique data-file name for a DENSE segment `[start, start+count)`.
    * The embedded offsets are advisory — the commit log carries them
    * authoritatively ([[SegMeta]]) — and the FULL UUID is deliberate: two
    * appenders racing the same start must never collide on a name, or the
    * commit winner would publish a segment whose bytes are the loser's
    * rows.
    */
  def dataName(start: Long, count: Long): String =
    f"$DataPrefix$start%020d-$count%010d-${java.util.UUID.randomUUID()}$SegmentSuffix"

  /** Name of a SPARSE segment — the product of key-based compaction
    * ([[FileTopicLog.compactKeyed]]): it covers the offset SPAN
    * `[start, start+span)` but holds only the retained records, each
    * frame carrying its original offset explicitly. The span keeps every
    * offset-arithmetic invariant (end offset, range pruning, overlap
    * checks) working unchanged; the retained count lives in the commit
    * record's `rows` ([[SegMeta]]). The `-k-` field is a flag only: it
    * tells readers that the frames carry explicit offsets.
    */
  def sparseName(start: Long, span: Long): String =
    f"$DataPrefix$start%020d-$span%010d-k-${java.util.UUID.randomUUID()}$SegmentSuffix"

  /** Is this segment/data file SPARSE (key-compacted: frames carry
    * explicit offsets; retained records <= the span)? The `k` field
    * cannot collide with a UUID field — hex has no 'k'.
    */
  def isSparse(name: String): Boolean =
    name.stripSuffix(SegmentSuffix).split('-').contains("k")

  /** Extended-frame flag bits (see the class doc's v2 layout). Bit 5
    * marks a DICT frame: a payload-less-RECORD frame whose body is a
    * zstd dictionary for the [[Codecs.ZstdDict]] record frames that
    * FOLLOW it in the same byte stream. Dict frames are not records —
    * they consume no offset, carry no id/ts, and every iterator skips
    * them transparently — which is what keeps the whole protocol
    * (byte-concat compaction, heal, stats, republish verification)
    * unaware of dictionaries: a concatenated file is a sequence of
    * (dict, records...) runs, each self-describing in order.
    */
  private val CodecMask = 0x07
  private val HasOffsetFlag = 0x08
  private val TombstoneFlag = 0x10
  private val DictFrameFlag = 0x20
  private val HeadersFlag = 0x40
  private val KnownFlags =
    CodecMask | HasOffsetFlag | TombstoneFlag | DictFrameFlag | HeadersFlag

  /** One record's headers: ordered (key, value) pairs, duplicate keys
    * legal, value nullable — Kafka record-header parity (KIP-82: trace
    * ids, content types, schema hints that must not live inside the
    * payload). `null` headers = the record carries none (flag bit 6
    * unset — zero wire cost for the overwhelmingly common no-header
    * record); an EMPTY array is normalized to none on write.
    */
  type Headers = Array[(String, Array[Byte])]

  /** Size in bytes of the encoded header block (excluding the 4-byte
    * block-length prefix): `[count:int32]` then per header
    * `[keyLen:int32][key utf8][valLen:int32, -1 = null][val]`. Headers
    * stay RAW in a compressed frame — pruned scans and the keyed-
    * compaction header walk must read them without a codec context.
    */
  private def headerBlockSize(hs: Headers): Int = {
    var n = 4
    var i = 0
    while (i < hs.length) {
      val (k, v) = hs(i)
      n += 4 + k.getBytes(java.nio.charset.StandardCharsets.UTF_8).length +
        4 + (if (v == null) 0 else v.length)
      i += 1
    }
    n
  }

  private def writeHeaderBlock(out: DataOutputStream, hs: Headers): Unit = {
    out.writeInt(headerBlockSize(hs))
    out.writeInt(hs.length)
    var i = 0
    while (i < hs.length) {
      val (k, v) = hs(i)
      if (k == null) throw new IllegalArgumentException(
        "record header with a NULL key — every header needs a key")
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length)
      out.write(kb)
      if (v == null) out.writeInt(-1)
      else { out.writeInt(v.length); out.write(v) }
      i += 1
    }
  }

  /** True when `hs` names at least one header (the write-side gate for
    * flag bit 6).
    */
  private def hasHeaders(hs: Headers): Boolean = hs != null && hs.length > 0

  /** Write ONE frame. The classic positional layout is kept verbatim for
    * raw frames (wire-stable — every pre-compression segment remains a
    * byte-identical valid stream); a frame that carries a compressed
    * payload and/or an explicit offset uses the self-describing EXTENDED
    * layout, marked by a NEGATIVE length prefix:
    *
    * {{{
    *   v1: [len:int32>=12][id:int32][ts:int64][data: len-12 bytes]
    *   v2: [-len:int32][flags:uint8][offset:int64 if flags&8]
    *       [id:int32][ts:int64]
    *       [hdrBlockLen:int32][headers block if flags&64]
    *       [rawLen:int32 if codec!=0][payload]
    * }}}
    *
    * `flags` bits 0–2 carry the codec id ([[Codecs]]), bit 3 marks an
    * explicit record offset (sparse segments — key compaction), bit 6 a
    * record-HEADERS block (KIP-82 parity, see [[Headers]] — kept RAW even
    * when the payload compresses, and length-prefixed so a pruned scan
    * skips it in one seek); unknown
    * bits are refused at read (a frame written by a newer engine must not
    * decode as garbage). Self-description is PER FRAME, which is what lets
    * compaction keep concatenating segments bytewise across codec/config
    * changes, and mixed frames coexist in one file.
    *
    * Compression policy: payloads under [[Codecs.MinCompressBytes]] and
    * payloads the codec fails to shrink stay raw — so a compressed frame
    * is always strictly smaller than its raw form, and pathological inputs
    * never regress.
    *
    * `offset < 0` means positional (the reader's cursor assigns it).
    *
    * TOMBSTONE convention (Kafka null-value parity, flag bit 4): a NULL
    * `data` writes a payload-less tombstone frame — "this key is
    * deleted". An EMPTY array stays a legal value (the two are distinct
    * on the wire and on read: tombstones read back as null). Key
    * compaction retains a latest-per-key tombstone until it ages past
    * the topic's `tombstoneRetentionMs`, then drops the key entirely.
    */
  def writeFrame(out: DataOutputStream, id: Int, tsMillis: Long,
      data: Array[Byte], codec0: Int = Codecs.None, offset: Long = -1L,
      headers: Headers = null): Unit = {
    // the DICT protocol needs writer state (train, emit the dict frame,
    // then reference it) — that lives in [[FrameWriter]], which the
    // sink, writeFrames and the keyed rewrite all use; a DIRECT
    // writeFrame under zstd-dict degrades to plain zstd, a legal mix
    val codec = if (codec0 == Codecs.ZstdDict) Codecs.Zstd else codec0
    val hdrs = hasHeaders(headers)
    val hdrLen = if (hdrs) 4 + headerBlockSize(headers) else 0
    if (data == null) { // tombstone: v2 frame, no payload, codec irrelevant
      // tombstones MAY carry headers (Kafka parity — a delete's trace id)
      val flags = TombstoneFlag | (if (offset >= 0) HasOffsetFlag else 0) |
        (if (hdrs) HeadersFlag else 0)
      val len = 1 + (if (offset >= 0) 8 else 0) + 12 + hdrLen
      out.writeInt(-len)
      out.writeByte(flags)
      if (offset >= 0) out.writeLong(offset)
      out.writeInt(id)
      out.writeLong(tsMillis)
      if (hdrs) writeHeaderBlock(out, headers)
      return
    }
    val d = data
    val comp =
      if (codec == Codecs.None || d.length < Codecs.MinCompressBytes) null
      else {
        val c = Codecs.compress(codec, d)
        if (c.length + 5 < d.length) c else null // 5 = flags + rawLen overhead
      }
    if (comp == null && offset < 0 && !hdrs) {
      out.writeInt(4 + 8 + d.length)
      out.writeInt(id)
      out.writeLong(tsMillis)
      out.write(d)
    } else {
      val effCodec = if (comp == null) Codecs.None else codec
      val flags = effCodec | (if (offset >= 0) HasOffsetFlag else 0) |
        (if (hdrs) HeadersFlag else 0)
      val body = if (comp == null) d else comp
      val len = 1 + (if (offset >= 0) 8 else 0) + 12 + hdrLen +
        (if (effCodec != Codecs.None) 4 else 0) + body.length
      out.writeInt(-len)
      out.writeByte(flags)
      if (offset >= 0) out.writeLong(offset)
      out.writeInt(id)
      out.writeLong(tsMillis)
      if (hdrs) writeHeaderBlock(out, headers)
      if (effCodec != Codecs.None) out.writeInt(d.length)
      out.write(body)
    }
  }

  /** Emit a DICT frame: `[-len][flags=DictFrameFlag][dict bytes]` — the
    * zstd dictionary for the [[Codecs.ZstdDict]] record frames that
    * follow in this stream. Not a record: no id/ts/offset, consumes no
    * cursor position.
    */
  def writeDictFrame(out: DataOutputStream, dict: Array[Byte]): Unit = {
    out.writeInt(-(1 + dict.length))
    out.writeByte(DictFrameFlag)
    out.write(dict)
  }

  /** One [[Codecs.ZstdDict]] record frame against an emitted dict; falls
    * back to a raw frame when the dictionary does not pay on this payload.
    */
  private[log] def writeFrameWithDict(out: DataOutputStream, id: Int,
      tsMillis: Long, data: Array[Byte],
      dict: com.github.luben.zstd.ZstdCompressCtx, offset: Long,
      headers: Headers = null): Unit = {
    if (data == null || data.length < Codecs.DictMinCompressBytes) {
      writeFrame(out, id, tsMillis, data, Codecs.None, offset, headers)
      return
    }
    val comp = Codecs.compressWithDict(dict, data)
    if (comp.length + 5 >= data.length) {
      writeFrame(out, id, tsMillis, data, Codecs.None, offset, headers)
      return
    }
    val hdrs = hasHeaders(headers)
    val hdrLen = if (hdrs) 4 + headerBlockSize(headers) else 0
    val flags = Codecs.ZstdDict | (if (offset >= 0) HasOffsetFlag else 0) |
      (if (hdrs) HeadersFlag else 0)
    val len = 1 + (if (offset >= 0) 8 else 0) + 12 + hdrLen + 4 + comp.length
    out.writeInt(-len)
    out.writeByte(flags)
    if (offset >= 0) out.writeLong(offset)
    out.writeInt(id)
    out.writeLong(tsMillis)
    if (hdrs) writeHeaderBlock(out, headers)
    out.writeInt(data.length)
    out.write(comp)
  }

  /** Stateful frame emitter — the one place the [[Codecs.ZstdDict]]
    * protocol lives. Non-dict codecs pass straight through to
    * [[writeFrame]]. Under zstd-dict, the first `trainRecords` payloads
    * buffer in memory (bounded: records per staged file batch), a
    * dictionary trains on them, a DICT frame is emitted, and every
    * record (buffered + subsequent) compresses against it; when the file
    * closes under the threshold, or training fails (too small/uniform a
    * sample), records flush as plain zstd frames — a legal mix the
    * reader handles per frame. Call [[finish]] before closing the
    * stream: it flushes a sub-threshold buffer and releases the
    * dictionary's native memory.
    */
  final class FrameWriter(out: DataOutputStream, codec: Int,
      trainRecords: Int = 256) {
    private val buf =
      if (codec == Codecs.ZstdDict)
        scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Array[Byte], Long, Headers)]
      else null
    private var dict: com.github.luben.zstd.ZstdCompressCtx = null
    private var trained = false

    def write(id: Int, tsMillis: Long, data: Array[Byte],
        offset: Long = -1L, headers: Headers = null): Unit =
      if (codec != Codecs.ZstdDict)
        writeFrame(out, id, tsMillis, data, codec, offset, headers)
      else if (trained) emit(id, tsMillis, data, offset, headers)
      else {
        buf += ((id, tsMillis, data, offset, headers))
        if (buf.size >= trainRecords) train()
      }

    private def emit(id: Int, tsMillis: Long, data: Array[Byte],
        offset: Long, headers: Headers): Unit =
      if (dict == null)
        writeFrame(out, id, tsMillis, data, Codecs.Zstd, offset, headers)
      else writeFrameWithDict(out, id, tsMillis, data, dict, offset, headers)

    private def train(): Unit = {
      trained = true
      val samples = buf.iterator.map(_._3)
        .filter(d => d != null && d.length > 0).toSeq
      Codecs.trainDict(samples).foreach { d =>
        writeDictFrame(out, d)
        dict = Codecs.dictCompressCtx(d)
      }
      buf.foreach { case (id, ts, data, off, hs) => emit(id, ts, data, off, hs) }
      buf.clear()
    }

    /** Flush a sub-threshold buffer (plain zstd — no dict is worth a
      * handful of records) and free the trained dictionary.
      */
    def finish(): Unit = {
      if (codec == Codecs.ZstdDict && !trained) {
        trained = true
        buf.foreach { case (id, ts, data, off, hs) =>
          writeFrame(out, id, ts, data, Codecs.Zstd, off, hs) }
        buf.clear()
      }
      dispose()
    }

    /** Free the compression context WITHOUT flushing — the abort path
      * (the output file is being discarded, but the trained ctx's native
      * zstd memory is invisible to GC and would leak across task
      * retries). Idempotent; [[finish]] calls it too.
      */
    def dispose(): Unit =
      if (dict != null) { dict.close(); dict = null }
  }

  /** Frame-encode `rows` onto `out` (closed by the caller's wrapper). */
  def writeFrames(raw: OutputStream, rows: Seq[(Payload, Long)],
      codec: Int = Codecs.None): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(raw, 1 << 16))
    val fw = new FrameWriter(out, codec)
    try {
      rows.foreach { case (p, tsMillis) => fw.write(p.id, tsMillis, p.data) }
      fw.finish()
    } finally { fw.dispose(); out.close() }
  }

  def write(file: java.nio.file.Path, rows: Seq[(Payload, Long)]): Unit =
    writeFrames(java.nio.file.Files.newOutputStream(file), rows)

  /** Frame-encode `rows` into `file`; returns the file's length. */
  def write(fs: FileSystem, file: HPath, rows: Seq[(Payload, Long)],
      codec: Int = Codecs.None): Long = {
    val out = fs.create(file, true)
    writeFrames(out, rows, codec)
    out.getPos
  }

  /** Frame iterator with an explicit `close()`: an offset-pruned read that
    * stops mid-segment releases the stream WITHOUT decoding the remaining
    * frames (round 1 drained the iterator to close — O(segment) wasted I/O
    * per pruned scan). `skipData = true` walks headers only — payload
    * bytes are SKIPPED (a stream seek, never allocated), the column-pruned
    * read path for projections that drop `data`: a metadata-only scan of a
    * 100 TB topic should pay header bytes, not payload bytes.
    */
  final class FrameIterator(raw: InputStream, skipData: Boolean = false,
      parseHeaders: Boolean = true)
      extends Iterator[(Int, Long, Array[Byte])] with AutoCloseable {
    private val in = new DataInputStream(new BufferedInputStream(raw, 1 << 16))
    private var eof = false
    private var nextLen = readLen()
    private def readLen(): Int = {
      val len = try in.readInt()
                catch { case _: java.io.EOFException => in.close(); eof = true; 0 }
      if (!eof && len >= 0 && len < 12) throw new java.io.IOException(
        s"corrupt frame: length prefix $len < 12-byte header")
      len
    }

    /** The just-returned frame's EXPLICIT offset, or -1 for a positional
      * frame (the caller's cursor assigns it). Explicit offsets appear in
      * sparse segments — key compaction retains the latest record per key
      * AT ITS ORIGINAL OFFSET, so positional assignment no longer holds
      * there; a reader's cursor rule is: explicit sets the cursor,
      * positional is cursor++ (sparse writers stamp EVERY frame explicit,
      * so a dense tail concatenated after a sparse run can never inherit
      * a mid-gap cursor).
      */
    var explicitOffset: Long = -1L

    /** True iff the just-returned frame is a TOMBSTONE ("key deleted" —
      * Kafka null-value parity). Tombstones return `data = null` (an
      * empty array stays a distinct legal value).
      */
    var tombstone: Boolean = false

    /** The just-returned frame's record HEADERS ([[Headers]] — ordered
      * (key, value) pairs, KIP-82 parity), or null when the frame carries
      * none, or when this iterator was opened with `parseHeaders = false`
      * (metadata walks skip the block in one seek, zero allocation).
      */
    var headers: Headers = null

    /** The stream's CURRENT zstd dictionary — set by the most recent
      * DICT frame, referenced by [[Codecs.ZstdDict]] record frames.
      */
    private var curDict: com.github.luben.zstd.ZstdDecompressCtx = null
    private def setDict(bytes: Array[Byte]): Unit = {
      if (curDict != null) curDict.close()
      curDict = Codecs.dictDecompressCtx(bytes)
    }

    override def hasNext: Boolean = !eof
    override def next(): (Int, Long, Array[Byte]) = {
      while (true) {
        if (nextLen >= 0) { // v1 positional frame
          explicitOffset = -1L
          tombstone = false
          headers = null
          val id = in.readInt()
          val ts = in.readLong()
          val data =
            if (skipData) { skipFully(nextLen - 12L); Array.emptyByteArray }
            else { val d = new Array[Byte](nextLen - 12); in.readFully(d); d }
          nextLen = readLen()
          return (id, ts, data)
        }
        // v2 extended frame (compressed payload / explicit offset / dict)
        val absLen = -nextLen
        val flags = in.readUnsignedByte()
        if ((flags & ~KnownFlags) != 0) throw new java.io.IOException(
          f"corrupt or future frame: unknown flag bits 0x$flags%02x — " +
            "written by a newer engine?")
        if ((flags & DictFrameFlag) != 0) {
          // a DICT frame is not a record: install (or skip) the
          // dictionary and continue to the next frame
          if (flags != DictFrameFlag) throw new java.io.IOException(
            f"corrupt frame: dict frame with extra flag bits 0x$flags%02x")
          val dictLen = absLen - 1
          if (dictLen < 0) throw new java.io.IOException(
            s"corrupt frame: dict length $dictLen")
          if (skipData) skipFully(dictLen.toLong)
          else { val d = new Array[Byte](dictLen); in.readFully(d); setDict(d) }
          nextLen = readLen()
          if (eof) throw new java.io.IOException(
            "segment ends with a dangling dict frame — torn write")
        } else {
          val codec = flags & CodecMask
          val hasOff = (flags & HasOffsetFlag) != 0
          tombstone = (flags & TombstoneFlag) != 0
          val hasHdrs = (flags & HeadersFlag) != 0
          explicitOffset = if (hasOff) in.readLong() else -1L
          val id = in.readInt()
          val ts = in.readLong()
          // fixed prefix consumed so far: flags + offset? + id + ts
          val fixedLen = 1 + (if (hasOff) 8 else 0) + 12
          headers = null
          var hdrTotal = 0
          if (hasHdrs) {
            val blockLen = in.readInt()
            hdrTotal = 4 + blockLen
            if (blockLen < 4 || fixedLen + hdrTotal > absLen)
              throw new java.io.IOException(
                s"corrupt frame: header block length $blockLen out of " +
                  s"bounds (frame $absLen)")
            if (parseHeaders) {
              val count = in.readInt()
              // each header costs >= 8 bytes (two length prefixes), so a
              // corrupt count can't drive an over-allocation past the
              // already-validated block length
              if (count < 0 || 4 + count.toLong * 8 > blockLen)
                throw new java.io.IOException(
                  s"corrupt frame: header count $count exceeds block $blockLen")
              val hs = new Array[(String, Array[Byte])](count)
              var consumed = 4
              var i = 0
              while (i < count) {
                val kl = in.readInt()
                if (kl < 0 || consumed + 8 + kl > blockLen)
                  throw new java.io.IOException(
                    s"corrupt frame: header key length $kl overruns block")
                val kb = new Array[Byte](kl)
                in.readFully(kb)
                val vl = in.readInt()
                consumed += 8 + kl
                val v = if (vl < 0) null else {
                  if (consumed + vl > blockLen)
                    throw new java.io.IOException(
                      s"corrupt frame: header value length $vl overruns block")
                  val vb = new Array[Byte](vl)
                  in.readFully(vb)
                  consumed += vl
                  vb
                }
                hs(i) = (new String(kb, java.nio.charset.StandardCharsets.UTF_8), v)
                i += 1
              }
              if (consumed != blockLen) throw new java.io.IOException(
                s"corrupt frame: header block declares $blockLen bytes, " +
                  s"entries consume $consumed")
              headers = hs
            } else skipFully(blockLen.toLong)
          }
          val headerLen = fixedLen + hdrTotal +
            (if (codec != Codecs.None) 4 else 0)
          if (absLen < headerLen) throw new java.io.IOException(
            s"corrupt frame: extended length $absLen < header $headerLen")
          if (tombstone && (absLen != headerLen || codec != Codecs.None))
            throw new java.io.IOException(
              s"corrupt frame: tombstone carries a payload (len $absLen)")
          val data =
            if (tombstone) null
            else if (skipData) {
              // everything after ts/headers (the rawLen field, if any,
              // plus the payload) is skipped in one seek — flags/offset/
              // id/ts/headers are already consumed, so absLen minus those
              // is what remains
              skipFully((absLen - fixedLen - hdrTotal).toLong)
              Array.emptyByteArray
            } else if (codec == Codecs.None) {
              val d = new Array[Byte](absLen - headerLen)
              in.readFully(d); d
            } else {
              val rawLen = in.readInt()
              if (rawLen < 0) throw new java.io.IOException(
                s"corrupt frame: negative raw length $rawLen")
              val comp = new Array[Byte](absLen - headerLen)
              in.readFully(comp)
              if (codec == Codecs.ZstdDict) {
                if (curDict == null) throw new java.io.IOException(
                  "corrupt stream: zstd-dict frame before any dict frame")
                Codecs.decompressWithDict(curDict, comp, rawLen)
              } else Codecs.decompress(codec, comp, rawLen)
            }
          nextLen = readLen()
          return (id, ts, data)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def skipFully(n: Long): Unit = {
      var toSkip = n
      while (toSkip > 0) {
        val s = in.skip(toSkip)
        if (s > 0) toSkip -= s
        else { in.readByte(); toSkip -= 1 }
      }
    }

    override def close(): Unit = {
      eof = true
      if (curDict != null) { try curDict.close() catch { case _: Throwable => () }; curDict = null }
      try in.close() catch { case _: Throwable => () }
    }
  }

  /** Iterate all frames of a segment: (id, tsMillis, data). */
  def read(file: java.nio.file.Path): FrameIterator =
    new FrameIterator(java.nio.file.Files.newInputStream(file))

  def read(fs: FileSystem, file: HPath): FrameIterator =
    new FrameIterator(fs.open(file))

  /** Header-only iterate: (id, tsMillis, empty) with payload bytes
    * skipped, for `data`-pruned scans. Record-header blocks are skipped
    * too (metadata walks don't pay their allocation); pass
    * `withRecordHeaders = true` for a scan that projects `headers` but
    * not `data` — payload bytes stay skipped, header blocks parse.
    */
  def readHeaders(fs: FileSystem, file: HPath,
      withRecordHeaders: Boolean = false): FrameIterator =
    new FrameIterator(fs.open(file), skipData = true,
      parseHeaders = withRecordHeaders)

  /** Hard per-task budget for keyed compaction's id → last-offset state,
    * in ENTRIES — the Kafka `log.cleaner.dedupe.buffer.size` analog, but
    * a cap on the FAST path rather than on coverage: where Kafka's
    * cleaner does a partial pass when the dedupe buffer fills, this
    * rewrite falls over to a sort-based external path and still compacts
    * the WHOLE bucket in one pass with O(budget) heap (sorted spill runs
    * on task-local disk, k-way merged). The default is the 128 MB-class
    * budget Kafka ships (peak task heap ≈ 48 bytes/entry across the map
    * and the spill buffers it hands off to). Loudly configurable per
    * topic (`compactionKeyHeap`) — a 10^9-key bucket compacts in bounded
    * memory either way; raising the budget just avoids the spill I/O.
    */
  val DefaultKeyHeapEntries: Int = 4 << 20

  /** Result of one [[rewriteLatestPerKey]] call: the product's `path`
    * and the facts its commit record carries — retained `rows`, their
    * (`minTs`, `maxTs`) (the (MaxValue, MinValue) sentinels when nothing
    * was retained) and the file's length in `bytes`. `spillRuns` counts
    * the sorted runs THIS call wrote on its budget fallover (0 = the
    * in-heap path carried it) — per-call observability for specs and the
    * bench's high-cardinality probe cell (proof the bounded path actually
    * engaged for the rewrite under test, not merely that some concurrent
    * compaction in the JVM spilled).
    */
  final case class KeyedRewrite(path: String, rows: Long, minTs: Long,
      maxTs: Long, bytes: Long, spillRuns: Long)

  /** Scratch file for a keyed-compaction spill run: Spark's provisioned
    * local dirs when running inside a Spark JVM (driver or executor),
    * `java.io.tmpdir` only for bare-JVM callers — a 10^9-key bucket
    * spills ~12 GB of runs, which must land on the cluster's scratch
    * disks, not a root-volume `/tmp`.
    */
  private[graft] def spillFile(suffix: String): java.io.File =
    java.io.File.createTempFile("graft-keyed-", suffix,
      org.apache.spark.sql.graft.bridge.sparkLocalDir().orNull)

  /** Two-pass latest-per-key rewrite — the frame-level worker of key-based
    * log compaction (`cleanup.policy=compact` parity; the envelope's
    * `id INT` is the key). Pass 1 walks HEADERS only (payloads seeked
    * past, never decompressed) building id → last offset; pass 2 decodes
    * and re-frames exactly the records whose offset is their key's last,
    * each with an EXPLICIT offset (the segment becomes sparse: retained
    * records keep their original positions) and re-encoded under `codec`.
    * `members` are (path, startOffset) in offset order — last write wins
    * across files exactly as within one. Returns the retained row count.
    *
    * Memory bound: the id → offset state is capped at `maxKeys` entries
    * ([[DefaultKeyHeapEntries]]). Under the cap it is one in-heap LongMap
    * (the common case: a bucket's distinct keys fit Kafka's dedupe-buffer
    * class). The moment the cap trips, the state spills to SORTED RUNS on
    * task-local disk — (id, offset) pairs sorted by id, latest offset per
    * id per run — which a k-way merge reduces to the retained-offset set,
    * itself spilled as offset-sorted runs and stream-merged against the
    * offset-ascending frame walk of pass 2. Task heap stays O(maxKeys)
    * REGARDLESS of key cardinality; the output is byte-identical to the
    * in-heap path (same retained set, same offset-order emission), so
    * crashed-attempt republish verification ([[sameFrames]]) and the
    * deterministic-product discipline hold across the fallover.
    */
  /** Default tombstone horizon for key compaction — Kafka's
    * `delete.retention.ms` default (24 h): a latest-per-key tombstone
    * that has been OBSERVABLE in a compacted product for less than this
    * is retained (lagging readers must observe the delete); an older one
    * drops with its key.
    */
  val DefaultTombstoneRetentionMs: Long = 86400000L

  /** Tombstone aging is by CLEAN time, not record time (Kafka
    * `delete.retention.ms` ages from the cleaner pass, KIP-534): a
    * tombstone is droppable only when (a) it already SURVIVED a prior
    * compaction — it sits in a SPARSE member — so one pass always leaves
    * the delete visible, and (b) that product landed (file modification
    * time) before `tombstoneFloorMs`. The record's own `ts` is
    * producer/event time and is never consulted: a delete written NOW
    * with an old event-time stamp must still be observable for the full
    * horizon. Member mtimes are immutable once published, so duplicate
    * and speculative attempts of one task still emit byte-identical
    * products.
    */
  def rewriteLatestPerKey(fs: FileSystem, members: Seq[(HPath, Long)],
      out: HPath, codec: Int = Codecs.None,
      maxKeys: Int = DefaultKeyHeapEntries,
      tombstoneFloorMs: Long = Long.MinValue): KeyedRewrite = {
    require(maxKeys >= 8, s"keyed-compaction key budget too small: $maxKeys")
    var spillRuns = 0L
    val runs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    try {
      // ---- pass 1: id -> last offset, in heap until the budget trips ----
      var map: scala.collection.mutable.LongMap[Long] =
        new scala.collection.mutable.LongMap[Long](1 << 10)
      var ids: Array[Int] = null // spill buffers, allocated on first trip
      var offs: Array[Long] = null
      var n = 0
      // One sorted spill run from the buffered (id, offset) pairs. Buffer
      // arrival order is offset-ascending (the walk is), so per id the
      // max arrival seq carries the latest offset: pack (unsigned id <<
      // 32 | seq), sort, keep each id group's last entry. Map-dump chunks
      // have distinct ids, so the group-collapse is a no-op there.
      def flushRun(): Unit = if (n > 0) {
        // sign-flip for an UNSIGNED primitive sort: uids >= 2^31 (negative
        // ids) would otherwise set the packed sign bit and sort FIRST in
        // the run while the k-way merge compares uids unsigned — the
        // misordered runs would stop the cross-run collapse for those ids
        val packed = new Array[Long](n)
        var i = 0
        while (i < n) {
          packed(i) = ((ids(i) & 0xffffffffL) << 32 | i.toLong) ^ Long.MinValue
          i += 1
        }
        java.util.Arrays.sort(packed)
        spillRuns += 1
        val f = spillFile(".run")
        runs += f
        val o = new DataOutputStream(new BufferedOutputStream(
          new java.io.FileOutputStream(f), 1 << 16))
        try {
          i = 0
          while (i < n) {
            val uid = (packed(i) ^ Long.MinValue) >>> 32
            while (i + 1 < n && ((packed(i + 1) ^ Long.MinValue) >>> 32) == uid)
              i += 1
            o.writeInt(uid.toInt)
            o.writeLong(offs(((packed(i) ^ Long.MinValue) & 0xffffffffL).toInt))
            i += 1
          }
        } finally o.close()
        n = 0
      }
      def tripToSpill(): Unit = {
        ids = new Array[Int](maxKeys)
        offs = new Array[Long](maxKeys)
        val m = map; map = null
        m.foreach { case (k, v) =>
          ids(n) = k.toInt; offs(n) = v; n += 1
          if (n == maxKeys) flushRun()
        }
        flushRun()
      }
      members.foreach { case (p, start) =>
        val it = readHeaders(fs, p)
        try {
          var cur = start - 1
          while (it.hasNext) {
            val (id, _, _) = it.next()
            cur = if (it.explicitOffset >= 0) it.explicitOffset else cur + 1
            if (map != null) {
              map(id.toLong) = cur
              if (map.size > maxKeys) tripToSpill()
            } else {
              ids(n) = id; offs(n) = cur; n += 1
              if (n == maxKeys) flushRun()
            }
          }
        } finally it.close()
      }
      val retained: RetainedOffsets =
        if (map != null) new MapRetained(map)
        else {
          flushRun()
          // merge the id-sorted runs: latest offset per id -> the
          // retained-offset set, spilled as offset-sorted runs (reusing
          // the pair buffers — the map is long freed)
          val offRuns = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
          var bn = 0
          def flushOffRun(): Unit = if (bn > 0) {
            java.util.Arrays.sort(offs, 0, bn)
            val f = spillFile(".off")
            offRuns += f
            val o = new DataOutputStream(new BufferedOutputStream(
              new java.io.FileOutputStream(f), 1 << 16))
            try { var i = 0; while (i < bn) { o.writeLong(offs(i)); i += 1 } }
            finally o.close()
            bn = 0
          }
          val merge = new RunMerge(
            consolidateRuns(runs.toSeq, pair = true, runs), pair = true)
          try {
            while (merge.hasNext) {
              offs(bn) = merge.nextLatestOffset(); bn += 1
              if (bn == offs.length) flushOffRun()
            }
          } finally merge.close()
          flushOffRun()
          runs.foreach(f => { f.delete(); () })
          runs.clear()
          runs ++= offRuns // cleanup path owns them now
          new StreamRetained(new RunMerge(
            consolidateRuns(offRuns.toSeq, pair = false, runs), pair = false))
        }
      // ---- pass 2: decode + re-frame exactly the retained offsets ----
      // Through a FrameWriter, so a zstd-dict topic's compacted product
      // RETAINS dictionary compression (trained on the retained rows —
      // deterministic given the retained sequence, so duplicate attempts
      // stay byte-identical); other codecs pass straight through.
      val raw = fs.create(out, true)
      val o = new DataOutputStream(new BufferedOutputStream(raw, 1 << 16))
      val fw = new FrameWriter(o, codec)
      var rows = 0L
      var minTs = Long.MaxValue
      var maxTs = Long.MinValue
      try {
        members.foreach { case (p, start) =>
          // CLEAN-TIME tombstone aging (class doc above): this member's
          // tombstones are droppable only if the member is itself a
          // compaction product (sparse — the delete already survived one
          // pass) that landed before the floor. Raw members NEVER drop
          // their tombstones here, whatever the record ts says.
          val tombDroppable = tombstoneFloorMs != Long.MinValue &&
            SegmentCodec.isSparse(p.getName) &&
            fs.getFileStatus(p).getModificationTime < tombstoneFloorMs
          val it = read(fs, p)
          try {
            var cur = start - 1
            while (it.hasNext) {
              val (id, ts, data) = it.next()
              cur = if (it.explicitOffset >= 0) it.explicitOffset else cur + 1
              // a latest-per-key TOMBSTONE is kept while young (lagging
              // readers must see the delete) and dropped with its key
              // once aged past the floor — Kafka delete.retention.ms.
              // isRetained runs FIRST either way: the streamed retained-
              // offset cursor must advance past dropped tombstones too.
              if (retained.isRetained(id, cur) &&
                  !(it.tombstone && tombDroppable)) {
                // record headers ride along byte-preserved — compaction
                // keeps the retained record WHOLE (KIP-82 parity)
                fw.write(id, ts, data, offset = cur, headers = it.headers)
                rows += 1
                if (ts < minTs) minTs = ts
                if (ts > maxTs) maxTs = ts
              }
            }
          } finally it.close()
        }
        fw.finish()
        o.close()
      } catch {
        case e: Throwable =>
          try o.close() catch { case _: Throwable => () }
          throw e
      } finally { fw.dispose(); retained.close() }
      KeyedRewrite(out.toString, rows, minTs, maxTs, raw.getPos, spillRuns)
    } finally runs.foreach(f => { f.delete(); () })
  }

  /** Pass-2 membership test for [[rewriteLatestPerKey]], consumed in
    * strictly ascending offset order.
    */
  private sealed trait RetainedOffsets extends AutoCloseable {
    def isRetained(id: Int, offset: Long): Boolean
  }

  private final class MapRetained(last: scala.collection.mutable.LongMap[Long])
      extends RetainedOffsets {
    def isRetained(id: Int, offset: Long): Boolean =
      last.getOrElse(id.toLong, -1L) == offset
    def close(): Unit = ()
  }

  /** Stream-merge of the offset-sorted retained runs against the
    * offset-ascending frame walk: offsets are unique, both sides ascend,
    * so membership is a two-pointer advance.
    */
  private final class StreamRetained(merge: RunMerge) extends RetainedOffsets {
    private var want: Long = advance()
    private def advance(): Long =
      if (merge.hasNext) merge.nextOffset() else Long.MinValue
    def isRetained(id: Int, offset: Long): Boolean =
      if (want != Long.MinValue && offset == want) { want = advance(); true }
      else false
    def close(): Unit = merge.close()
  }

  /** Merge fan-in cap: each open run costs a buffered stream (~16 KB) +
    * a heap head, so a pathological budget-to-frames ratio (10^10 frames
    * against a tiny cap) must not hold thousands of streams — groups of
    * this many runs consolidate into one before the final merge.
    */
  private val MaxMergeFanIn = 256

  /** Consolidate `files` down to at most [[MaxMergeFanIn]] runs by
    * merging groups into single runs (latest-per-id collapse for pair
    * runs — associative, so group-wise is exact; plain ascending merge
    * for offset runs). New files register in `cleanup`; consumed group
    * members are deleted eagerly.
    */
  private def consolidateRuns(files: Seq[java.io.File], pair: Boolean,
      cleanup: scala.collection.mutable.ArrayBuffer[java.io.File]): Seq[java.io.File] =
    if (files.size <= MaxMergeFanIn) files
    else {
      val merged = files.grouped(MaxMergeFanIn).map { group =>
        val f = spillFile(".m")
        cleanup += f
        val o = new DataOutputStream(new BufferedOutputStream(
          new java.io.FileOutputStream(f), 1 << 16))
        val m = new RunMerge(group, pair)
        try {
          if (pair) while (m.hasNext) {
            val (uid, off) = m.nextLatestPair()
            o.writeInt(uid.toInt); o.writeLong(off)
          }
          else while (m.hasNext) o.writeLong(m.nextOffset())
        } finally { m.close(); o.close() }
        group.foreach(g => { g.delete(); () })
        f
      }.toSeq
      consolidateRuns(merged, pair, cleanup)
    }

  /** K-way merge over spill-run files. `pair = true` reads (id: int,
    * offset: long) entries ordered by unsigned id and
    * [[nextLatestOffset]] collapses each id's entries across runs to its
    * MAX offset (offsets are globally unique, so max = latest); `pair =
    * false` reads plain ascending offsets and [[nextOffset]] yields the
    * global ascending merge. Heap: one buffered stream + one head entry
    * per run.
    */
  private final class RunMerge(files: Seq[java.io.File], pair: Boolean)
      extends AutoCloseable {
    private final class Head(val in: DataInputStream) {
      var key = 0L // unsigned id (pair) or the offset itself (plain)
      var off = 0L
      var alive = advance()
      def advance(): Boolean =
        try {
          if (pair) { key = in.readInt() & 0xffffffffL; off = in.readLong() }
          else { off = in.readLong(); key = off }
          true
        } catch { case _: java.io.EOFException => in.close(); false }
    }
    private val pq = new java.util.PriorityQueue[Head](
      math.max(1, files.size),
      (a: Head, b: Head) => java.lang.Long.compare(a.key, b.key))
    files.foreach { f =>
      val h = new Head(new DataInputStream(new BufferedInputStream(
        new java.io.FileInputStream(f), 1 << 14)))
      if (h.alive) pq.add(h)
    }
    def hasNext: Boolean = !pq.isEmpty
    def nextLatestOffset(): Long = nextLatestPair()._2
    def nextLatestPair(): (Long, Long) = {
      val uid = pq.peek().key
      var best = Long.MinValue
      while (!pq.isEmpty && pq.peek().key == uid) {
        val h = pq.poll()
        if (h.off > best) best = h.off
        if (h.advance()) pq.add(h)
      }
      (uid, best)
    }
    def nextOffset(): Long = {
      val h = pq.poll()
      val v = h.off
      if (h.advance()) pq.add(h)
      v
    }
    def close(): Unit = {
      pq.forEach(h => try h.in.close() catch { case _: Throwable => () })
      pq.clear()
    }
  }

  /** Frame-level identity IGNORING timestamps: same (id, data) sequence.
    * The replay-idempotency check must use this, not raw byte equality —
    * a writer stamps wall-clock `ts` into frames when the input has no ts
    * column, so a replayed (byte-wise different) epoch still carries the
    * same logical records. Frame layout is fixed-width outside `data`, so
    * equal logical content implies equal file size (cheap prefilter).
    */
  def sameFrames(a: java.nio.file.Path, b: java.nio.file.Path): Boolean = {
    import java.nio.file.Files
    if (!Files.exists(a) || !Files.exists(b)) return false
    if (Files.size(a) != Files.size(b)) return false
    sameFrameStreams(read(a), read(b))
  }

  def sameFrames(fs: FileSystem, a: HPath, b: HPath): Boolean = {
    val (la, lb) =
      try (fs.getFileStatus(a).getLen, fs.getFileStatus(b).getLen)
      catch { case _: java.io.FileNotFoundException => return false }
    if (la != lb) return false
    sameFrameStreams(read(fs, a), read(fs, b))
  }

  private def sameHeaders(a: Headers, b: Headers): Boolean = {
    val la = if (a == null) 0 else a.length
    val lb = if (b == null) 0 else b.length
    if (la != lb) return false
    var i = 0
    while (i < la) {
      if (a(i)._1 != b(i)._1 ||
          !java.util.Arrays.equals(a(i)._2, b(i)._2)) return false
      i += 1
    }
    true
  }

  private def sameFrameStreams(ia: FrameIterator, ib: FrameIterator): Boolean =
    try {
      while (ia.hasNext && ib.hasNext) {
        val (idA, _, dataA) = ia.next()
        val (idB, _, dataB) = ib.next()
        if (idA != idB || !java.util.Arrays.equals(dataA, dataB) ||
            !sameHeaders(ia.headers, ib.headers)) return false
      }
      !ia.hasNext && !ib.hasNext
    } finally { ia.close(); ib.close() }
}

/** One planned compaction merge, in plain strings so a distributed
  * strategy can ship it to an executor task: stream-concatenate `members`
  * (absolute segment paths, offset order) into `out`. `bytes` is the
  * members' total length from their commit records — the routing input
  * for a local-vs-distributed threshold. Frames are length-prefixed with
  * no file header/footer, so the merge is a plain byte concatenation
  * wherever it runs, and the driver derives the product's record from
  * the members' records.
  *
  * A strategy returns, for each task it finished, `out` -> the path it
  * wrote: `out` itself, or an attempt-unique sibling of it (a distributed
  * strategy whose task attempts must not share one file). A task missing
  * from the result was dropped (a member vanished under it). The product
  * is committed under the returned name; it stays a `data-*` name in the
  * bucket directory, so an unreturned attempt's file is swept by vacuum.
  */
case class ConcatTask(members: Seq[String], out: String, bytes: Long)

/** One planned KEY compaction rewrite, shippable to an executor task:
  * decode `members` ((absolute path, start offset), offset order), keep
  * the latest record per key, write the sparse product to `out` under
  * `codec` ([[SegmentCodec.rewriteLatestPerKey]]). `bytes` is total member
  * bytes — the local-vs-distributed routing input. The strategy returns,
  * for each task it finished, `out` -> the [[SegmentCodec.KeyedRewrite]]
  * of the path it wrote (`out` or an attempt-unique sibling, as for
  * [[ConcatTask]]): the product's stats travel with its path, so the
  * commit never reads the product back.
  */
case class KeyedTask(members: Seq[(String, Long)], out: String, bytes: Long,
  codec: Int, maxKeys: Int = SegmentCodec.DefaultKeyHeapEntries,
  tombstoneFloorMs: Long = Long.MinValue)

/** Weight-bounded string-keyed LRU for driver-side metadata: total
  * weight (caller-defined, e.g. segments held) is capped and the
  * least-recently-ACCESSED entries evict first. All operations are
  * synchronized on the map — these caches sit behind one small-file read
  * per miss, so lock cost is noise next to what a hit saves. A single
  * entry heavier than the whole cap is still served (and retained until
  * the next insert) — refusing it would just re-parse every call.
  */
private[log] final class BoundedLru[V <: AnyRef](maxWeight: Long, weigh: V => Long) {
  private var total = 0L
  private val m = new java.util.LinkedHashMap[String, (V, Long)](64, 0.75f, true)

  def get(k: String): Option[V] = m.synchronized(Option(m.get(k)).map(_._1))

  def put(k: String, v: V): Unit = m.synchronized {
    val w = math.max(1L, weigh(v))
    val old = m.put(k, (v, w))
    total += w - (if (old == null) 0L else old._2)
    val it = m.entrySet().iterator() // access order: eldest first
    while (total > maxWeight && it.hasNext) {
      val e = it.next()
      if (e.getKey != k) { total -= e.getValue._2; it.remove() }
    }
  }

  def removeIf(p: String => Boolean): Unit = m.synchronized {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { total -= e.getValue._2; it.remove() }
    }
  }

  def size: Int = m.synchronized(m.size)
  def weight: Long = m.synchronized(total)
}

object FileTopicLog {
  private val cache = scala.collection.concurrent.TrieMap.empty[String, FileTopicLog]

  /** Instrumentation: data bytes stream-copied by THIS JVM's local concat
    * path during segment compaction ([[FileTopicLog.localConcat]]). A
    * distributed compaction's executor-side copies never pass through
    * here, so a spec — and an operator reading driver metrics — can
    * assert a large merge moved ZERO data bytes through the driver (the
    * 100 TB contract for the `autoCompactSegments` sink option: the
    * driver owns the commit log, never the byte relay).
    */
  val localConcatBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shared instance per root URI. The log object is STATELESS — every
    * append/read/lock consults the filesystem — so sharing is safe, and
    * construction does real filesystem work (scheme guard, qualification,
    * root mkdirs) that connector planning would otherwise repeat dozens
    * of times per micro-batch trigger (measured: the capped-drain epoch
    * average grew ~80 ms when every `conf.log` call re-constructed).
    * Hadoop-conf sensitivity follows the [[LogFs]] cache discipline: the
    * first configuration for a root wins for the JVM's lifetime.
    */
  def cached(rootUri: String, hadoopConf: Configuration): FileTopicLog =
    cache.getOrElseUpdate(rootUri, new FileTopicLog(rootUri, hadoopConf))

  /** Pure half of [[FileTopicLog.byteFloors]] (size-based retention):
    * given one bucket's start-sorted `(startOffset, fileBytes)` segments,
    * the earliest retained offset such that the retained TRAILING whole
    * segments total at most `maxBytes` — None when nothing would expire.
    * Tail-first walk with the contiguous-prefix rule: the newest segment
    * always survives, and once a segment overflows the budget every OLDER
    * segment expires with it (a kept hole would violate the floor
    * contract). Property-tested against the brute-force suffix choice.
    */
  private[graft] def byteFloorWalk(segs: Seq[(Long, Long)],
      maxBytes: Long): Option[Long] = {
    if (segs.size <= 1) return None
    var acc = 0L
    var floor = segs.last._1
    var stopped = false
    segs.reverseIterator.zipWithIndex.foreach { case ((start, len), i) =>
      if (!stopped) {
        if (i == 0 || acc + len <= maxBytes) { acc += len; floor = start }
        else stopped = true
      }
    }
    if (floor == segs.head._1) None else Some(floor)
  }
}

/** Durable file-backed log: one directory per topic/bucket holding
  * immutable data files and the bucket's [[CommitLog]] (`.commitlog/`),
  * the authoritative list of which data files are live segments and at
  * which offsets. This is the metadata registry the reference keeps in
  * ZooKeeper (`/<topic>/<bucket>/...` znode tree,
  * `internal/lighthouse/io/io.go:55-156`).
  *
  * The `root` is a Hadoop filesystem URI (`file:/...`, `hdfs://nn/...`,
  * a bare POSIX path resolving against `fs.defaultFS`, …) — every metadata
  * and data operation goes through [[LogFs]], so a 1000-executor cluster
  * addresses one shared log over HDFS exactly as `local[32]` addresses a
  * temp directory.
  *
  * One commit protocol runs on every scheme. A data file is written under
  * a unique name (invisible until committed), then made live — or
  * dropped, compacted, truncated — by one sequenced put-if-absent commit
  * to the bucket's commit log. Exactly one writer wins each commit
  * version, so two drivers can never commit overlapping offsets, and no
  * step depends on rename atomicity or on the bucket lock (which only
  * throttles contention). The one primitive that differs per filesystem
  * is [[LogFs.putIfAbsent]]:
  *
  *   - '''local''' (`file:`): temp file + hard link (`Files.createLink`
  *     refuses an existing target atomically);
  *   - '''HDFS-like''' (atomic rename): temp file + `rename`, which
  *     refuses an existing target;
  *   - '''object stores''' (schemes in `graft.log.nonAtomicRenameSchemes`,
  *     rename = copy+delete): `create(path, overwrite = false)`, a
  *     conditional PUT that is atomic-visible at close.
  *
  * Each commit record carries its segment's facts — offsets, row count,
  * (minTs, maxTs) and byte length ([[SegMeta]]) — as the writer knew them
  * at commit, so every planner reads them from the cached commit state
  * without opening or statting a data file, on every scheme alike.
  * Where rename is atomic, replace-style metadata writes (consumer
  * cursors, markers, topic config) go through temp + rename; object
  * stores write those documents as direct overwriting PUTs (already
  * atomic-visible).
  */
class FileTopicLog private[graft] (rootUri: String, hadoopConf: Configuration,
    checkpointInterval: Int) extends TopicLog {

  def this(rootUri: String, hadoopConf: Configuration) =
    this(rootUri, hadoopConf, CommitLog.CheckpointInterval)

  /** Local-path constructor (tests, single-node tools). */
  def this(root: java.nio.file.Path) = this(root.toString, new Configuration())

  private val scheme: String = {
    val u = new HPath(rootUri).toUri
    Option(u.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
  }

  val fs: FileSystem = LogFs.get(new HPath(rootUri), hadoopConf)
  val root: HPath = fs.makeQualified(new HPath(rootUri))
  private val isLocal = scheme == "file"
  /** Whether this filesystem renames a single file atomically — picks the
    * overwrite style of metadata writes.
    */
  private val renameAtomic = LogFs.atomicRename(fs)
  fs.mkdirs(root)

  private def toNio(p: HPath): java.nio.file.Path = java.nio.file.Paths.get(p.toUri)

  def bucketDir(tb: TopicBucket): HPath = new HPath(new HPath(root, tb.topic), tb.bucket)

  /** tmp + rename with replace semantics on every filesystem: POSIX rename
    * replaces natively; HDFS rename refuses an existing target, so the
    * target is deleted first — a transient not-there window each call site
    * tolerates (a missing cursor, marker or config document only falls
    * back to an earlier lower bound or the defaults).
    */
  private def renameOverwrite(src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(src, dst)) {
        fs.delete(src, false)
        throw new java.io.IOException(s"rename $src -> $dst failed twice")
      }
    }

  private[graft] def writeFileAtomic(path: HPath, bytes: Array[Byte]): Unit = {
    val parent = path.getParent
    fs.mkdirs(parent)
    if (!renameAtomic) {
      // object-store PUT is atomic-visible at close (never torn), so a
      // direct overwrite IS the atomic replace — tmp+rename would add a
      // copy+delete and a non-atomic window
      val out = fs.create(path, true)
      try { out.write(bytes); out.close() }
      catch { case e: Throwable => try out.close() catch { case _: Throwable => () }; throw e }
      return
    }
    val tmp = new HPath(parent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try { out.write(bytes); out.close() }
    catch { case e: Throwable => try fs.delete(tmp, false) catch { case _: Throwable => () }; throw e }
    try renameOverwrite(tmp, path)
    catch { case e: Throwable =>
      try fs.delete(tmp, false) catch { case _: Throwable => () }
      throw e
    }
  }

  private[graft] def readFileUtf8(path: HPath): String =
    new String(readFileBytes(path), java.nio.charset.StandardCharsets.UTF_8)

  private def readFileBytes(path: HPath): Array[Byte] = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** Per-bucket commit-log views, BOUNDED by weight = segments held,
    * capped at [[metaCacheMaxWeight]] with LRU eviction, so a long-lived
    * driver planning over 10^4 buckets × 10^3+ segments never holds the
    * metadata plane of the whole deployment. Eviction is correctness-free
    * by construction: a miss re-reads exactly like a cold call. Entries
    * for a deleted topic are dropped eagerly via [[invalidateTopicCaches]].
    */
  private[graft] def metaCacheMaxWeight: Long = 1L << 20 // def: test seam

  /** One bucket's cached commit-log view: the [[CommitLog]] (whose warm
    * read costs two stats, see its doc), the state it last returned, that
    * state's segments as `(path, record)` and as `(path, start, count)`,
    * and `overlap`, the message of its first overlap (a contract
    * violation, thrown by [[segments]]). `runMaxTs`, the running max of
    * the segments' maxTs, is the timestamp seek's index; it is built on
    * first use and belongs to exactly this state.
    */
  private final class BucketMeta(val log: CommitLog, val state: CommitState,
      val recs: Seq[(HPath, SegMeta)], val overlap: Option[String]) {
    val segs: Seq[(HPath, Long, Long)] = recs.map { case (p, m) => (p, m.start, m.count) }
    lazy val runMaxTs: Array[Long] =
      recs.iterator.map(_._2.maxTs)
        .scanLeft(Long.MinValue)((a, b) => math.max(a, b)).drop(1).toArray
  }
  private val bucketMeta =
    new BoundedLru[BucketMeta](metaCacheMaxWeight, _.recs.size.toLong)

  /** Drop every cached commit-log view belonging to `topic` — called by
    * topic deletion so a long-lived driver does not pin dead metadata
    * until LRU pressure happens to reach it.
    */
  def invalidateTopicCaches(topic: String): Unit =
    bucketMeta.removeIf(_.startsWith(topic + "/"))

  /** Cache introspection for specs: (entries, weight). */
  private[graft] def metaCacheEntries: Int = bucketMeta.size
  private[graft] def metaCacheWeight: Long = bucketMeta.weight

  private def listStatus(dir: HPath): Array[FileStatus] =
    try fs.listStatus(dir)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** The bucket's sequenced commit log — the authoritative segment list. */
  private[graft] def commitLog(tb: TopicBucket): CommitLog =
    bucketMeta.get(tb.path).map(_.log).getOrElse(meta(tb).log)

  /** The cached view of `tb`'s current committed state, rebuilt only when
    * the commit log returns a different state.
    */
  private def meta(tb: TopicBucket): BucketMeta = {
    val cached = bucketMeta.get(tb.path)
    val cl = cached.map(_.log).getOrElse(
      new CommitLog(fs, new HPath(bucketDir(tb), ".commitlog"), checkpointInterval))
    val st = cl.read()
    cached match {
      case Some(m) if m.state eq st => m
      case _ =>
        if (st.version < 0) refuseLegacyLayout(tb)
        val dir = bucketDir(tb)
        val recs = st.segs.map(s => (new HPath(dir, s.name), s))
        val overlap = recs.sliding(2).collectFirst {
          case Seq((_, a), (p2, b)) if a.start + a.count > b.start =>
            s"overlapping segments in ${tb.path}: [${a.start},+${a.count}) " +
              s"overlaps $p2 (single-writer-per-bucket contract violated)"
        }
        val m = new BucketMeta(cl, st, recs, overlap)
        bucketMeta.put(tb.path, m)
        m
    }
  }

  /** A bucket directory with `seg-*` files and no commit log holds the
    * retired rename-published layout. Reading it as empty would silently
    * lose its data, so it is refused.
    */
  private def refuseLegacyLayout(tb: TopicBucket): Unit =
    if (listStatus(bucketDir(tb)).exists { st =>
        val n = st.getPath.getName
        n.startsWith(SegmentCodec.LegacyPrefix) && n.endsWith(SegmentCodec.SegmentSuffix)
      })
      throw new IllegalStateException(
        s"bucket ${tb.path} under $root holds seg-*.log files but no " +
          ".commitlog/: that is the retired rename-published layout, which " +
          "this log does not read; rewrite the topic through a current writer")

  /** Committed segments WITHOUT the overlap check — for the publish path's
    * overlap arbitration, which must be able to observe an overlap in
    * order to report it (the checked view throws on one).
    */
  def segmentsRaw(tb: TopicBucket): Seq[(HPath, Long, Long)] = meta(tb).segs

  /** Committed segments, sorted by start offset: (path, start, count).
    * Gaps are legal (retention); OVERLAPS are not — they mean the
    * single-writer-per-bucket contract was violated and reads would
    * double-count, so fail loudly instead.
    */
  def segments(tb: TopicBucket): Seq[(HPath, Long, Long)] = checkedMeta(tb).segs

  /** [[segments]] with each segment's commit record ([[SegMeta]]): its
    * rows, (minTs, maxTs) and bytes, read from the cached commit state —
    * no data file is opened or statted.
    */
  def segmentRecords(tb: TopicBucket): Seq[(HPath, SegMeta)] = checkedMeta(tb).recs

  private def checkedMeta(tb: TopicBucket): BucketMeta = {
    val m = meta(tb)
    m.overlap.foreach(msg => throw new IllegalStateException(msg))
    m
  }

  /** Crashed-holder takeover threshold. Bucket critical sections are
    * metadata-only (commit-log reads and commits); the bound must cover the
    * slowest section, not typical cost. A section that somehow outlives
    * this loses exclusion — the owner-token release below at least keeps a
    * late finisher from unlocking the NEW holder.
    */
  private val LockStaleMs = 300000L

  /** Atomically create the lock file carrying `token`, failing if it
    * exists. Local filesystems go through `java.nio` `Files.createFile`
    * (true `O_EXCL` — Hadoop's `RawLocalFileSystem.create(overwrite=false)`
    * is check-then-act, which would let two same-host drivers both take the
    * lock); HDFS relies on the namenode-serialized exclusive create.
    */
  private def createLockExclusive(lock: HPath, token: Array[Byte]): Unit =
    if (isLocal) {
      val nioLock = toNio(lock)
      java.nio.file.Files.createFile(nioLock) // atomic create-exclusive
      // token write is a second step: if it fails (disk full, interrupt)
      // release the just-created lock instead of orphaning an ownerless
      // one for the whole staleness window. A process death BETWEEN the
      // two calls still orphans it — the stale steal is the backstop.
      try java.nio.file.Files.write(nioLock, token)
      catch { case e: Throwable => java.nio.file.Files.deleteIfExists(nioLock); throw e }
    } else {
      val out = fs.create(lock, false)
      try { out.write(token); out.close() }
      catch {
        // conditional-PUT stores surface the exclusivity refusal at CLOSE,
        // not create — that loss must NOT delete the winner's lock
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException) =>
          try { out.close() } catch { case _: Throwable => () }
          throw e
        case e: Throwable =>
          try { out.close() } catch { case _: Throwable => () }
          try fs.delete(lock, false) catch { case _: Throwable => () }
          throw e
      }
    }

  /** Cross-driver mutation lock for one bucket: atomic create-exclusive of
    * `.lock` in the bucket directory, stolen if the holder crashed (mtime
    * older than `LockStaleMs`). The filesystem rendering of the
    * reference's per-bucket single-writer election
    * (`internal/lighthouse/election/election.go:50-79`, ZK ephemeral
    * nodes). Correctness never rests on it — the commit log refuses every
    * overlapping commit — so it serves as a contention throttle and as
    * the serialization point of multi-step connector protocols (an
    * epoch's offset assignment, intent and publish; transaction aborts).
    *
    * Steal is ATOMIC: the stale lock is renamed to a unique name first, so
    * of N waiters that all observed staleness exactly one wins the rename;
    * the losers' decisions die with the failed rename — a plain
    * delete-then-create steal lets a slow loser delete the winner's FRESH
    * lock (check-then-act). Release deletes the lock only if it still
    * holds our owner token, which NARROWS (a filesystem has no
    * compare-and-delete, so it cannot fully close) the window where a
    * section that outlived LockStaleMs unlocks its usurper; long holders
    * should call [[touchBucketLock]] between sub-steps to refresh the
    * staleness clock.
    */
  def withBucketLock[A](tb: TopicBucket)(body: => A): A = {
    val dir = bucketDir(tb)
    val lock = new HPath(dir, ".lock")
    val token = java.util.UUID.randomUUID().toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)
    var held = false
    while (!held) {
      try {
        createLockExclusive(lock, token)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          try {
            if (System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime > LockStaleMs) {
              val claimed = new HPath(dir, s".lock-stale-${java.util.UUID.randomUUID()}")
              if (fs.rename(lock, claimed)) // one winner
                fs.delete(claimed, false)
            }
          } catch { case _: java.io.FileNotFoundException => () } // lost or released
          Thread.sleep(5 + scala.util.Random.nextInt(20).toLong)
      }
    }
    try body finally {
      try {
        if (java.util.Arrays.equals(readFileBytes(lock), token))
          fs.delete(lock, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Heartbeat for a held bucket lock: refresh its staleness clock. Call
    * between the sub-steps of a long critical section (commit-log reads
    * at large segment counts) so a live holder is not mistaken for a
    * crashed one.
    */
  def touchBucketLock(tb: TopicBucket): Unit =
    try fs.setTimes(new HPath(bucketDir(tb), ".lock"), System.currentTimeMillis(), -1L)
    catch { case _: java.io.IOException => () }

  override def size(tb: TopicBucket): Long = {
    val segs = segments(tb)
    if (segs.isEmpty) 0L else segs.map { case (_, s, c) => s + c }.max
  }

  /** Earliest RETAINED offset: the start of the first surviving segment
    * (retention deletes whole head segments, so everything below this is
    * gone), 0 for a never-written bucket. The read-side truncation floor the
    * connector's data-loss guard compares resume offsets against — the
    * analog of Kafka's per-partition `earliest`, which the reference cannot
    * express at all (it retains forever in RAM, `core.go:45` TODO).
    */
  def firstOffset(tb: TopicBucket): Long =
    segments(tb).headOption.map(_._2).getOrElse(0L)

  /** End offset of the committed state without the overlap check — what
    * offset assignment on the write path uses.
    */
  def endOffsetListed(tb: TopicBucket): Long = {
    val segs = segmentsRaw(tb) // max() needs no overlap check
    if (segs.isEmpty) 0L else segs.map { case (_, s, c) => s + c }.max
  }

  // --- timestamp seek ------------------------------------------------------

  /** Earliest offset whose record timestamp is `>= tsMillis` — the analog
    * of Kafka's `offsetsForTimes` seek, which the reference cannot express
    * (its replay cursor is offset-only, `core.go:46-64`). Returns the
    * bucket END offset when no record qualifies, and never resolves below
    * the retention floor (only surviving segments are searched), so a
    * timestamp predating retention means "earliest retained" — the same
    * contract as Kafka's `earliest` resolution.
    *
    * Correct for OUT-OF-ORDER record timestamps: the search runs over the
    * running max of per-segment max timestamps, which is monotone by
    * construction — the first offset where the running max reaches
    * `tsMillis` IS the first record with `ts >= tsMillis`, whatever the
    * ordering (Kafka's time-index argument). Cost at scale: the per-segment
    * max-ts values come from the commit records, and the running max is
    * cached with the commit state it was built from, so a seek over a
    * 10^4-segment bucket is a warm commit-log read, a binary search and
    * a header walk of the ONE boundary segment.
    */
  def offsetForTimestamp(tb: TopicBucket, tsMillis: Long): Long =
    offsetForTimestamp(tb, tsMillis, retriesLeft = 3)

  private def offsetForTimestamp(tb: TopicBucket, tsMillis: Long,
      retriesLeft: Int): Long = {
    val m = checkedMeta(tb)
    if (m.recs.isEmpty) return 0L
    val runMax = m.runMaxTs
    if (runMax.last < tsMillis) return m.state.endOffset // nothing qualifies
    // Binary search the running max (monotone by construction): the first
    // segment where it reaches tsMillis holds the globally-first frame
    // with ts >= tsMillis, whatever the record-timestamp ordering.
    var lo = 0
    var hi = runMax.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (runMax(mid) >= tsMillis) hi = mid else lo = mid + 1
    }
    val (p, rec) = m.recs(lo)
    var answer = -1L
    val fit = // headers only: the walk needs ts, never payload bytes
      try SegmentCodec.readHeaders(fs, p)
      catch {
        case e: java.io.FileNotFoundException =>
          // the boundary segment vanished under the cached state
          // (compaction/retention committed after it was read): re-resolve
          // from the commit log's current state
          if (retriesLeft <= 0) throw new java.io.IOException(
            s"seek in ${tb.path} kept resolving to vanished segments — " +
              "metadata churn outran 3 retries", e)
          return offsetForTimestamp(tb, tsMillis, retriesLeft - 1)
      }
    try {
      var cur = rec.start - 1
      while (answer < 0 && fit.hasNext) {
        val (_, ts, _) = fit.next()
        // sparse-aware cursor rule: an explicit frame offset (key-compacted
        // segment) sets the cursor, a positional frame increments it
        cur = if (fit.explicitOffset >= 0) fit.explicitOffset else cur + 1
        if (ts >= tsMillis) answer = cur
      }
    } finally fit.close()
    // the commit record's maxTs is exact, so a boundary segment without a
    // qualifying frame is corruption, not a stale statistic
    if (answer < 0) throw new IllegalStateException(
      s"seek invariant violated in ${tb.path}: segment ${p.getName} " +
        s"records maxTs ${rec.maxTs} >= $tsMillis but no frame qualifies")
    answer
  }

  /** Frame timestamp of the record at `offset` — one bounded segment
    * walk; None when the offset sits below the retention floor or at/after
    * the end. Powers consumer TIME lag (`now − ts(first unconsumed)`,
    * Kafka's consumer time-lag definition) in
    * [[graft.api.Ripple.consumerStatus]].
    */
  def timestampAt(tb: TopicBucket, offset: Long): Option[Long] =
    segments(tb).find { case (_, s, c) => offset >= s && offset < s + c }
      .flatMap { case (p, s, _) =>
        // headers only (no payload/decompress cost); sparse-aware: the
        // answer is the first record AT-OR-AFTER `offset` — identical for
        // dense segments, and for a key-compacted one it is the first
        // record the consumer would actually read next. A sparse tail gap
        // (all retained offsets < `offset`) reads as None, same as "no
        // stamp available".
        val it = SegmentCodec.readHeaders(fs, p)
        try {
          var cur = s - 1
          var found: Option[Long] = None
          while (found.isEmpty && it.hasNext) {
            val (_, t, _) = it.next()
            cur = if (it.explicitOffset >= 0) it.explicitOffset else cur + 1
            if (cur >= offset) found = Some(t)
          }
          found
        } finally it.close()
      }

  /** Tail append by optimistic commit: read the end offset, write the data
    * file once under a unique name, and commit it at that offset. Losing
    * the commit race just means re-reading the new end offset and
    * re-committing the SAME file under the fresh start — the name's
    * embedded start is advisory ([[SegmentCodec.dataName]]) while
    * [[SegMeta]] carries (start, count) authoritatively — so contention
    * costs a small metadata commit per retry, never a segment rewrite. No
    * lock is taken: the commit sequence is the exclusion.
    */
  override def append(tb: TopicBucket, rows: Seq[Payload]): Long = {
    val now = System.currentTimeMillis()
    val cl = commitLog(tb)
    if (rows.isEmpty) return cl.read().endOffset
    fs.mkdirs(bucketDir(tb))
    val n = rows.size.toLong
    var attempt = 0
    var data: HPath = null
    var bytes = 0L
    while (true) {
      val st = cl.read()
      val start = st.endOffset
      if (data == null) {
        data = new HPath(bucketDir(tb), SegmentCodec.dataName(start, n))
        bytes = SegmentCodec.write(fs, data, rows.map(p => (p, now)))
      }
      if (cl.tryCommit(st, Seq(SegMeta(data.getName, start, n, now, now, bytes, n)),
          Set.empty).isDefined)
        return start
      attempt += 1
      if (attempt > 200) {
        // giving up: remove the never-committed data file (vacuum would
        // sweep it eventually, but a loud failure should not leak)
        try fs.delete(data, false) catch { case _: java.io.IOException => () }
        throw new java.io.IOException(
          s"append to ${tb.path} lost the commit race $attempt times — " +
            "pathological contention; shard the topic or batch the writes")
      }
      Thread.sleep(scala.util.Random.nextInt(1 << math.min(attempt, 6)).toLong)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Idempotent positional append: commit a segment `[start, start+n)`.
    * If that range is already committed WITH THE SAME RECORDS (epoch
    * retry), the call is a no-op; a committed range with DIFFERENT content
    * means the single-writer contract was violated (two holders assigned
    * the same offsets) and fails loudly — a silent no-op there would
    * VANISH this call's rows. The identity check is frame-level and
    * timestamp-insensitive ([[SegmentCodec.sameFrames]] semantics) and
    * costs a segment read only on the replay path. Returns `start`.
    */
  def appendAt(tb: TopicBucket, start: Long, rows: Seq[(Payload, Long)]): Long = {
    if (rows.isEmpty) return start
    fs.mkdirs(bucketDir(tb))
    commitRanges(tb, Seq(Pending(start, rows.size.toLong,
      rows.iterator.map(_._2).min, rows.iterator.map(_._2).max,
      q => SegmentCodec.write(fs, q, rows), committed => sameAsRows(committed, rows))))
    start
  }

  /** Frame-level identity of an existing segment against in-memory rows:
    * same (id, data) sequence, timestamps ignored (the
    * [[SegmentCodec.sameFrames]] discipline — a replayed epoch re-stamps
    * wall-clock ts). A missing/unreadable target compares unequal.
    */
  private def sameAsRows(target: HPath, rows: Seq[(Payload, Long)]): Boolean =
    try {
      val it = SegmentCodec.read(fs, target)
      try {
        var i = 0
        while (it.hasNext && i < rows.size) {
          val (id, _, data) = it.next()
          val p = rows(i)._1
          // null == tombstone on both sides; Arrays.equals(null, null) holds
          if (id != p.id || !java.util.Arrays.equals(data, p.data)) return false
          i += 1
        }
        !it.hasNext && i == rows.size
      } finally it.close()
    } catch { case _: java.io.IOException => false }

  /** One dense offset range to make live, with its frames' (`minTs`,
    * `maxTs`): `materialize(p)` must produce the frame file at the unique
    * bucket path `p` (a direct write or a move of a staged file — `p` is
    * invisible until committed, so neither needs atomicity) and return
    * its length; `sameAs(c)` frame-compares the candidate content with an
    * already-committed segment file `c`.
    */
  private case class Pending(start: Long, count: Long, minTs: Long, maxTs: Long,
      materialize: HPath => Long, sameAs: HPath => Boolean)

  /** Positional publish of several ranges of one bucket in ONE commit.
    * Per range: an already-committed twin with the same records is an
    * epoch replay (the candidate is dropped); same-range different-content
    * and overlaps fail loudly, before anything is committed. Returns, per
    * range, the data-file name it committed (None for a replayed twin).
    * A lost commit race re-reads and re-checks, re-committing the files
    * already materialized.
    */
  private def commitRanges(tb: TopicBucket, ranges: Seq[Pending]): Seq[Option[String]] = {
    val cl = commitLog(tb)
    val dir = bucketDir(tb)
    val data = new Array[HPath](ranges.size)
    val bytes = new Array[Long](ranges.size)
    def dropData(): Unit = data.foreach(p =>
      if (p != null) try fs.delete(p, false) catch { case _: java.io.IOException => () })
    var attempt = 0
    while (true) {
      val st = cl.read()
      val twins = ranges.map { r =>
        st.at(r.start, r.count).map { seg =>
          if (!r.sameAs(new HPath(dir, seg.name))) {
            dropData()
            throw new IllegalStateException(
              s"segment [${r.start},+${r.count}) in ${tb.path} is committed with " +
                "DIFFERENT records — two writers assigned the same offsets " +
                "(single-writer contract violated); refusing the silent row loss")
          }
          seg
        }
      }
      ranges.zip(twins).foreach { case (r, twin) =>
        if (twin.isEmpty) st.overlapping(r.start, r.count).foreach { seg =>
          dropData()
          throw new IllegalStateException(
            s"range [${r.start},+${r.count}) for ${tb.path} overlaps committed " +
              s"segment ${seg.name} [${seg.start},+${seg.count}) — another " +
              "writer took these offsets; refusing the overlap")
        }
      }
      val adds = ranges.indices.filter(i => twins(i).isEmpty).map { i =>
        val r = ranges(i)
        if (data(i) == null) {
          val q = new HPath(dir, SegmentCodec.dataName(r.start, r.count))
          bytes(i) = r.materialize(q)
          data(i) = q
        }
        SegMeta(data(i).getName, r.start, r.count, r.minTs, r.maxTs, bytes(i), r.count)
      }
      if (adds.isEmpty || cl.tryCommit(st, adds, Set.empty).isDefined) {
        // a replayed twin's candidate (materialized on an earlier attempt
        // of this loop) is not part of the log
        ranges.indices.foreach { i =>
          if (twins(i).isDefined && data(i) != null)
            try fs.delete(data(i), false) catch { case _: java.io.IOException => () }
        }
        return ranges.indices.map(i =>
          if (twins(i).isEmpty) Some(data(i).getName) else None)
      }
      attempt += 1
      if (attempt > 200) {
        dropData()
        throw new java.io.IOException(
          s"publish of ${ranges.size} range(s) to ${tb.path} lost the commit " +
            s"race $attempt times — pathological contention")
      }
      Thread.sleep(scala.util.Random.nextInt(1 << math.min(attempt, 6)).toLong)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish staged frame files as segments of `tb` — the connector's
    * driver-side commit step. Each staged file comes as the record it is
    * to be committed under: its `name` is the staged file's full path,
    * and its offsets, (minTs, maxTs) and `bytes` are what the writer task
    * recorded while framing it. Each is moved into the bucket under a
    * unique name (a rename within one filesystem; the name is invisible
    * until committed, so a copy-rename is fine too), and ALL of them
    * become live in ONE commit. Replay identity and foreign-writer
    * refusal follow [[appendAt]]: a range already committed with the same
    * frames consumes its staged file as a no-op; different frames or an
    * overlap fail loudly. Returns, per file, the committed data-file name
    * (None for a replayed twin). Every staged file is consumed: moved
    * into the log, or deleted.
    */
  def publishStaged(tb: TopicBucket, staged: Seq[SegMeta]): Seq[Option[String]] = {
    if (staged.isEmpty) return Seq.empty
    fs.mkdirs(bucketDir(tb))
    val origin = staged.map(f => new HPath(f.name))
    val current = origin.toArray
    val published = commitRanges(tb, staged.indices.map { i =>
      val f = staged(i)
      Pending(f.start, f.count, f.minTs, f.maxTs,
        materialize = q => {
          if (!fs.rename(current(i), q))
            throw new java.io.IOException(s"stage move ${current(i)} -> $q failed")
          current(i) = q
          f.bytes
        },
        sameAs = committed => SegmentCodec.sameFrames(fs, committed, current(i)))
    })
    // a replayed twin never moved its staged file: drop the original
    staged.indices.foreach { i =>
      if (published(i).isEmpty && current(i) == origin(i))
        try fs.delete(origin(i), false) catch { case _: java.io.IOException => () }
    }
    published
  }

  override def range(tb: TopicBucket, from: Long, until: Long): Seq[LogRecord] = {
    val hi = math.min(until, size(tb))
    val lo = math.max(0L, from)
    if (hi <= lo) return Seq.empty
    val out = Seq.newBuilder[LogRecord]
    segments(tb).foreach { case (path, start, count) =>
      if (start < hi && start + count > lo) {
        var off = start - 1
        val it = SegmentCodec.read(fs, path)
        try {
          while (it.hasNext && off < hi - 1) {
            val (id, ts, data) = it.next()
            off = if (it.explicitOffset >= 0) it.explicitOffset else off + 1
            if (off >= lo && off < hi)
              out += LogRecord(tb.topic, tb.bucket, off, id, data, new java.sql.Timestamp(ts))
          }
        } finally it.close()
      }
    }
    out.result()
  }

  override def buckets(topic: String): Seq[TopicBucket] =
    listStatus(new HPath(root, topic)).iterator
      // dot-dirs (.staging, .commits) are connector workspace, not buckets
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(st => TopicBucket(topic, st.getPath.getName))
      .toSeq.sortBy(_.bucket)

  def topics(): Seq[String] =
    listStatus(root).iterator
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSeq.sorted

  /** Retention: delete whole segments entirely below `floorOffset` in every
    * bucket (offsets are preserved — names carry absolute starts, so reads
    * from >= floorOffset are unaffected). The reference retains forever
    * in RAM (TTL TODO at `internal/broker/consumer/server/core.go:45`);
    * here retention is a pure metadata op. Returns deleted segment count.
    */
  def truncateBefore(topic: String, floorOffset: Long): Int =
    truncateWhere(topic)((_, seg) => seg.start + seg.count <= floorOffset)

  /** Per-bucket retention floors (bucket name → floor); buckets absent
    * from the map are untouched. The consumer-protecting facade
    * ([[graft.api.Ripple.truncateBefore]]) computes its clamped floors
    * per bucket, which a single global floor cannot express.
    */
  def truncateBefore(topic: String, floors: Map[String, Long]): Int =
    truncateWhere(topic)((tb, seg) =>
      floors.get(tb.bucket).exists(f => seg.start + seg.count <= f))

  /** Time-based retention: delete whole segments older than `maxAgeMillis`
    * (by segment file mtime — set at publish, so always >= the newest
    * record's event time) in every bucket. Offsets are preserved exactly as
    * in [[truncateBefore]]; the reference never implemented its retention
    * TTL (`internal/broker/consumer/server/core.go:45` TODO). Returns the
    * deleted segment count.
    */
  def truncateOlderThan(topic: String, maxAgeMillis: Long,
      nowMillis: Long = System.currentTimeMillis(),
      protectedFloors: Map[String, Long] = Map.empty): Int = {
    val cutoff = nowMillis - maxAgeMillis
    // protectedFloors (bucket → floor): segments whose range reaches the
    // floor survive regardless of age — the clamp the snapshot-pin /
    // consumer-protection facades pass down (graft.api.Ripple); absent
    // buckets are unconstrained
    truncateWhere(topic)((tb, seg) =>
      protectedFloors.get(tb.bucket).forall(f => seg.start + seg.count <= f) &&
        fs.getFileStatus(new HPath(bucketDir(tb), seg.name)).getModificationTime < cutoff)
  }

  /** Size-based retention (Kafka `retention.bytes`): per bucket, keep the
    * largest TRAILING run of whole segments whose recorded bytes total at most
    * `maxBytes` and drop everything older — the missing twin of the
    * time/offset policies, without which a runaway producer fills the
    * store until a time horizon passes. The newest segment always
    * survives, even alone over budget (an emptied bucket would restart
    * offsets at 0 and break monotonicity — same rule as every other
    * truncate). Offsets preserved; returns deleted segment count.
    */
  def truncateToBytes(topic: String, maxBytes: Long): Int =
    truncateBefore(topic, byteFloors(topic, maxBytes))

  /** The per-bucket floors [[truncateToBytes]] would enforce (bucket →
    * earliest retained offset; buckets already within budget are absent).
    * Exposed separately so the consumer-protecting facade
    * ([[graft.api.Ripple.truncateToBytes]]) can clamp them to committed
    * cursors before executing. The walk is tail-first: once a segment
    * overflows the budget, every OLDER segment expires with it (retention
    * is a contiguous prefix drop — a kept hole would violate the floor
    * contract).
    */
  def byteFloors(topic: String, maxBytes: Long): Map[String, Long] = {
    require(maxBytes >= 0, s"maxBytes must be >= 0, got $maxBytes")
    buckets(topic).flatMap { tb =>
      FileTopicLog.byteFloorWalk(
        segmentRecords(tb).map { case (_, m) => (m.start, m.bytes) }, maxBytes)
        .map(tb.bucket -> _)
    }.toMap
  }

  /** Shared retention walk: drop segments matching `expired`, never the
    * newest segment of a bucket (an emptied bucket would restart offsets at
    * 0 and break monotonicity). The removal is committed first — sequenced
    * put-if-absent, so it can never race a publish into a lost update —
    * THEN the data files are deleted: readers resolve the committed state
    * and never plan a ghost segment. No lock is needed; a lost commit race
    * (a concurrent publish advanced the version) re-reads and retries, and
    * so does an `expired` that found a committed file gone (stale state
    * against a concurrent retention commit).
    */
  private def truncateWhere(topic: String)(
      expired: (TopicBucket, SegMeta) => Boolean): Int = {
    var deleted = 0
    buckets(topic).foreach { tb =>
      val cl = commitLog(tb)
      val dir = bucketDir(tb)
      var done = false
      var attempt = 0
      while (!done) {
        val st = cl.read()
        if (st.segs.isEmpty) done = true
        else {
          try {
            // never the newest segment (see above)
            val toDelete = st.segs.dropRight(1).filter(expired(tb, _))
            if (toDelete.isEmpty) done = true
            else if (cl.tryCommit(st, Seq.empty, toDelete.map(_.name).toSet).isDefined) {
              toDelete.foreach { s =>
                if (try fs.delete(new HPath(dir, s.name), false)
                    catch { case _: java.io.IOException => false }) deleted += 1
              }
              done = true
            }
          } catch {
            case _: java.io.FileNotFoundException => ()
          }
          if (!done) {
            attempt += 1
            if (attempt > 50) throw new java.io.IOException(
              s"retention on ${tb.path} lost the commit race $attempt times")
          }
        }
      }
    }
    deleted
  }

  /** Offset-preserving in-place segment compaction: merge runs of ADJACENT
    * (offset-contiguous) segments into single files of up to `targetBytes`,
    * leaving offsets, the retention floor, and consumer cursors untouched —
    * the cure for streaming-sink segment proliferation (one segment per
    * epoch per bucket ≈ 10^4 tiny files/bucket/hour at high trigger rates,
    * which keeps PLANNING cheap via the commit log but proliferates one
    * input partition per tiny segment). Returns the number of segments
    * merged away.
    *
    * Frames are length-prefixed with no file header/footer, so a merged
    * segment is the plain byte concatenation of its members — the merge
    * streams bytes, never decoding frames or holding a segment in memory.
    *
    * Protocol per bucket: write merged data files under unique names
    * (invisible until committed), then ONE put-if-absent commit swaps
    * members for merged atomically; member files are deleted after the
    * commit. Readers see either the old set or the new set, never a mix,
    * and a crash before the commit leaves only unreferenced files for
    * [[vacuum]]. A lost commit race retries on fresh state.
    *
    * A reader that planned input partitions against the OLD segment files
    * re-resolves by OFFSET RANGE when the planned file is gone
    * ([[graft.connector.RipplePartitionReader]]) — offsets are the stable
    * identity; file names are not.
    *
    * '''Where the bytes move''' (round 14): compaction is split into
    * plan (metadata) → concat (data) → commit (metadata, put-if-absent),
    * and the concat step is a strategy:
    * the default [[localConcat]] streams in the calling JVM (counted in
    * [[FileTopicLog.localConcatBytes]]); the connector passes a runner
    * that executes every merge above a byte threshold as ONE Spark job —
    * tasks read members and write the merged file, the driver touches
    * only the commit log ([[graft.connector.DistributedConcat]]). At the
    * 100 TB design point this is the difference between a driver that
    * re-copies the stream's whole byte throughput once per merge
    * generation and one that does O(segments) metadata work.
    */
  def compactSegments(topic: String, targetBytes: Long = 128L << 20,
      minSegments: Int = 2,
      onlyBuckets: Option[Set[String]] = None,
      concat: Seq[ConcatTask] => Map[String, String] = null): Int = {
    require(minSegments >= 2, "minSegments < 2 would rewrite single segments")
    val mover = if (concat == null) localConcat _ else concat
    val tbs = buckets(topic).filter(tb => onlyBuckets.forall(_.contains(tb.bucket)))
    compactAll(tbs, targetBytes, minSegments, mover)
  }

  /** Default byte-mover for [[compactSegments]]: stream-concatenate in the
    * CALLING JVM. Every byte routed here is counted in
    * [[FileTopicLog.localConcatBytes]], so a spec (and an operator) can
    * prove a distributed compaction moved zero data bytes through the
    * driver.
    */
  def localConcat(tasks: Seq[ConcatTask]): Map[String, String] = tasks.flatMap { t =>
    FileTopicLog.localConcatBytes.addAndGet(t.bytes)
    try {
      concatSegments(t.members.map(new HPath(_)), new HPath(t.out))
      Some(t.out -> t.out)
    } catch {
      case _: java.io.FileNotFoundException =>
        // a member vanished mid-copy — the concat phase holds NO bucket
        // lock, so retention or a foreign compactor can legitimately
        // delete one under us. Drop THIS merge (the commit phase's
        // membership/length validation discards it) instead of failing
        // every other bucket's merge with it.
        try fs.delete(new HPath(t.out), false)
        catch { case _: java.io.IOException => () }
        None
    }
  }.toMap

  /** Key-based log compaction — Kafka `cleanup.policy=compact` parity:
    * retain the LATEST record per `id` per bucket, at its ORIGINAL offset
    * (the changelog-topic use case: the log becomes a keyed table whose
    * history below each key's last write is reclaimable). Produces one
    * SPARSE segment per bucket covering the compacted span — frames carry
    * explicit offsets ([[SegmentCodec]] v2), so every reader resolves
    * retained records at their true positions and every offset invariant
    * (end offset, floors, pruning, gaps) holds unchanged. The reference
    * cannot express compaction at all (retention itself is an unimplemented
    * TODO, `internal/broker/consumer/server/core.go:45`).
    *
    * Same 3-phase shape as [[compactSegments]] — plan (metadata only),
    * REWRITE the bytes (`rewrite` strategy: driver-local default, or a
    * Spark job via the connector's distributed runner), then ONE commit
    * swapping the members for the sparse product, whose record carries
    * the retained rows, (minTs, maxTs) and bytes the rewrite task
    * returned beside its path. A product that retained nothing (every
    * record an aged-out tombstone) commits rows 0 and the ts sentinels.
    * A member vanishing mid-rewrite (racing retention) drops that
    * rewrite or loses the commit and replans; a crash before the commit
    * leaves only an unreferenced file.
    *
    * `minStartByBucket` clamps the compaction to offsets AT OR ABOVE the
    * given floor per bucket — the snapshot-pin composition: a live pin
    * needs its captured range byte-stable, so the facade passes each
    * bucket's max live pinned ceiling and only the unpinned SUFFIX
    * compacts (exactly how retention clamps to pinned floors).
    *
    * TOMBSTONES (key deletion, round 17; clean-time aging round 18): a
    * NULL `data` write is the delete marker (Kafka null-value parity; an
    * empty array stays a value). Aging is by CLEAN time — a tombstone
    * drops only once it has SURVIVED a prior compaction (it sits in a
    * sparse product) whose product is older than `tombstoneRetentionMs`
    * (Kafka `delete.retention.ms` / KIP-534 delete horizon). The first
    * pass always leaves the delete visible, and a producer-stamped
    * event-time `ts` can never age a fresh delete out early. The horizon
    * is resolved to an absolute floor ONCE at plan time and shipped in
    * each [[KeyedTask]]; a plan whose members do NOT start at the
    * bucket's retained floor (a snapshot pin clamped the prefix away)
    * ships a DISABLED floor — aging a delete out while an older value
    * generation survives below the clamp would resurrect the key when
    * the pin releases. Returns segments compacted away (members replaced
    * by sparse products + healed).
    */
  def compactKeyed(topic: String, onlyBuckets: Option[Set[String]] = None,
      rewrite: Seq[KeyedTask] => Map[String, SegmentCodec.KeyedRewrite] = null,
      codec: Int = Codecs.None,
      minStartByBucket: Map[String, Long] = Map.empty,
      keyHeap: Int = SegmentCodec.DefaultKeyHeapEntries,
      tombstoneRetentionMs: Long = SegmentCodec.DefaultTombstoneRetentionMs): Int = {
    val mover = if (rewrite == null) localKeyed _ else rewrite
    val tbs = buckets(topic).filter(tb => onlyBuckets.forall(_.contains(tb.bucket)))
    // the floor is resolved ONCE here (plan time) and shipped inside every
    // KeyedTask: duplicate/speculative attempts of one task must emit
    // byte-identical products for the deterministic-republish discipline
    require(tombstoneRetentionMs >= 0,
      s"ripple: tombstoneRetentionMs must be >= 0, got $tombstoneRetentionMs")
    val floor = System.currentTimeMillis() - tombstoneRetentionMs
    compactKeyedAll(tbs, mover, codec, minStartByBucket, keyHeap, floor)
  }

  /** Default rewrite strategy for [[compactKeyed]]: decode in the calling
    * JVM. Member-vanished tolerance mirrors [[localConcat]]. Each
    * result's `spillRuns` is per-call proof for callers asserting the
    * bounded path engaged for THEIR rewrite (the probe cell, specs),
    * exact even when concurrent compactions share the JVM.
    */
  def localKeyed(tasks: Seq[KeyedTask]): Map[String, SegmentCodec.KeyedRewrite] =
    tasks.flatMap { t =>
      try Some(t.out -> SegmentCodec.rewriteLatestPerKey(fs,
        t.members.map { case (p, s) => (new HPath(p), s) }, new HPath(t.out), t.codec,
        t.maxKeys, t.tombstoneFloorMs))
      catch {
        case _: java.io.FileNotFoundException =>
          try fs.delete(new HPath(t.out), false)
          catch { case _: java.io.IOException => () }
          None
      }
    }.toMap

  /** Eligible members of one bucket's keyed compaction: the
    * clamp-filtered suffix. None when there is nothing to do (empty, or a
    * single already-sparse segment — its keys are unique by construction).
    */
  private def keyedMembers(segs: Seq[SegMeta], clamp: Long): Option[Seq[SegMeta]] = {
    val elig = segs.filter(_.start >= clamp)
    if (elig.isEmpty || (elig.size == 1 && SegmentCodec.isSparse(elig.head.name))) None
    else Some(elig)
  }

  private def compactKeyedAll(tbs: Seq[TopicBucket],
      rewrite: Seq[KeyedTask] => Map[String, SegmentCodec.KeyedRewrite], codec: Int,
      clamps: Map[String, Long], keyHeap: Int, tombFloor: Long): Int = {
    case class KeyedPlan(tb: TopicBucket, members: Seq[SegMeta], agingOk: Boolean) {
      val start: Long = members.head.start
      val span: Long = members.last.start + members.last.count - start
      val out = new HPath(bucketDir(tb), SegmentCodec.sparseName(start, span))
    }
    val plans = tbs.flatMap { tb =>
      val segs = commitLog(tb).read().segs
      val clamp = clamps.getOrElse(tb.bucket, Long.MinValue)
      keyedMembers(segs, clamp).map(KeyedPlan(tb, _, agingOk = segs.forall(_.start >= clamp)))
    }
    // tombstone aging only when the plan covers the bucket's WHOLE
    // retained range: a pin-clamped (suffix-only) compaction that aged a
    // delete out could expose a stale pre-pin value as latest-per-key
    // once the pin releases — the delete would be silently lost. Clamped
    // plans ship a disabled floor; the tombstone waits for a full pass.
    val written = rewrite(plans.map(p => KeyedTask(
      p.members.map(m => (new HPath(bucketDir(p.tb), m.name).toString, m.start)),
      p.out.toString, p.members.map(_.bytes).sum, codec, keyHeap,
      if (p.agingOk) tombFloor else Long.MinValue)))
    // a plan absent from the result was dropped by the strategy (a member
    // vanished under its rewrite), which left no product behind
    plans.flatMap(p => written.get(p.out.toString).map(p -> _)).map { case (p, r) =>
      val add = SegMeta(new HPath(r.path).getName, p.start, p.span, r.minTs, r.maxTs, r.bytes, r.rows)
      commitSwaps(p.tb, Seq((p.members.map(_.name), add, true))).map(_._1.size).sum
    }.sum
  }

  /** Contiguous runs of at least `minSegments` segments whose combined
    * bytes fit `targetBytes`. Input must be start-sorted and overlap-free.
    */
  private def compactionGroups(segs: Seq[SegMeta],
      targetBytes: Long, minSegments: Int): Seq[Seq[SegMeta]] = {
    val groups = Seq.newBuilder[Seq[SegMeta]]
    var cur = List.empty[SegMeta] // reversed
    var curBytes = 0L
    def flush(): Unit = {
      if (cur.size >= minSegments) groups += cur.reverse
      cur = Nil; curBytes = 0L
    }
    segs.foreach { seg =>
      // a SPARSE member (key compaction product) never joins a byte-concat
      // group: a dense member concatenated AFTER it would inherit a
      // mid-gap positional cursor. compactKeyed itself re-merges
      // sparse+dense runs (it decodes anyway).
      if (SegmentCodec.isSparse(seg.name)) flush()
      else cur match {
        case prev :: _
            if prev.start + prev.count == seg.start && curBytes + seg.bytes <= targetBytes =>
          cur ::= seg; curBytes += seg.bytes
        case _ =>
          flush()
          if (seg.bytes < targetBytes) { cur = List(seg); curBytes = seg.bytes }
      }
    }
    flush()
    groups.result()
  }

  /** Stream-concatenate `members` (in offset order) into `out`. */
  private def concatSegments(members: Seq[HPath], out: HPath): Unit = {
    val o = fs.create(out, true)
    try members.foreach { m =>
      val in = fs.open(m)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, o, 1 << 16, false)
      finally in.close()
    } finally o.close()
  }

  /** A planned bucket compaction: merged files land under unique names
    * (invisible until their commit), so the byte movement needs no lock at
    * all — only the put-if-absent commit serializes. Each merge's record
    * combines its members' records: (min minTs, max maxTs, sum bytes, sum
    * rows) — a byte concatenation changes none of them.
    */
  private case class CompactPlan(tb: TopicBucket,
      groups: Seq[Seq[SegMeta]], adds: Seq[SegMeta])

  private def compactAll(tbs: Seq[TopicBucket], targetBytes: Long,
      minSegments: Int, concat: Seq[ConcatTask] => Map[String, String]): Int = {
    val plans = tbs.flatMap(planCompaction(_, targetBytes, minSegments))
    // data plane: ALL buckets' merges in one call (one Spark job under a
    // distributed strategy); files are invisible until committed
    val written = concat(plans.flatMap { p =>
      val dir = bucketDir(p.tb)
      p.groups.zip(p.adds).map { case (g, a) =>
        ConcatTask(g.map(m => new HPath(dir, m.name).toString),
          new HPath(dir, a.name).toString, a.bytes) }
    })
    plans.map { p =>
      val dir = bucketDir(p.tb)
      // every merge must exist with EXACTLY its members' combined bytes:
      // the concat phase drops a merge whose member vanished under it
      // (racing retention), and a short file must never be committed
      val done = commitSwaps(p.tb, p.groups.zip(p.adds).map { case (g, a) =>
        val product = written.get(new HPath(dir, a.name).toString).map(new HPath(_))
        val ready = product.exists { f =>
          try fs.getFileStatus(f).getLen == a.bytes
          catch { case _: java.io.FileNotFoundException => false }
        }
        (g.map(_.name), product.fold(a)(f => a.copy(name = f.getName)), ready)
      })
      done.map(_._1.size).sum
    }.sum
  }

  private def planCompaction(tb: TopicBucket, targetBytes: Long,
      minSegments: Int): Option[CompactPlan] = {
    val groups = compactionGroups(commitLog(tb).read().segs, targetBytes, minSegments)
    if (groups.isEmpty) None
    else Some(CompactPlan(tb, groups, groups.map { g =>
      val count = g.map(_.count).sum
      SegMeta(SegmentCodec.dataName(g.head.start, count), g.head.start, count,
        g.map(_.minTs).min, g.map(_.maxTs).max, g.map(_.bytes).sum, g.map(_.rows).sum)
    }))
  }

  /** The commit step of both compactions: in ONE commit against the
    * bucket's CURRENT state, replace each swap's member segments with its
    * product. Appends that landed since the plan are harmless; a swap
    * whose product is not `ready`, or one of whose members is no longer
    * committed (a racing retention or compaction removed it — names are
    * unique and segments immutable, so name presence is range and byte
    * identity), is dropped and its product deleted. A lost commit race
    * re-reads and re-validates; the bytes are never moved again. Member
    * files are deleted after the commit. Returns the committed
    * (members, product) pairs.
    */
  private def commitSwaps(tb: TopicBucket,
      swaps: Seq[(Seq[String], SegMeta, Boolean)]): Seq[(Seq[String], SegMeta)] = {
    val cl = commitLog(tb)
    val dir = bucketDir(tb)
    def rm(name: String): Unit =
      try fs.delete(new HPath(dir, name), false) catch { case _: java.io.IOException => () }
    var attempt = 0
    while (true) {
      val st = cl.read()
      val live = st.segs.iterator.map(_.name).toSet
      val (valid, invalid) = swaps.partition { case (members, _, ready) =>
        ready && members.forall(live) }
      if (valid.isEmpty ||
          cl.tryCommit(st, valid.map(_._2), valid.flatMap(_._1).toSet).isDefined) {
        invalid.foreach(s => rm(s._2.name))
        valid.foreach(_._1.foreach(rm))
        return valid.map(s => (s._1, s._2))
      }
      attempt += 1
      if (attempt > 50) {
        swaps.foreach(s => rm(s._2.name))
        throw new java.io.IOException(
          s"compaction of ${tb.path} lost the commit race $attempt times")
      }
      Thread.sleep(scala.util.Random.nextInt(1 << math.min(attempt, 6)).toLong)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Storage-hygiene sweep (the VACUUM analog of the public Delta/Iceberg
    * pattern): delete files a crash left UNREFERENCED — invisible to
    * readers by protocol, but occupying storage forever at 10^4
    * epochs/bucket/hour scale. Swept, per bucket, when older than
    * `graceMs` (default 1 h — an in-flight writer's file is always
    * younger; it commits or fails within its publish attempt):
    *
    *   - `data-*` files absent from the committed state (crashed
    *     appends/compactions write under unique names that only a commit
    *     makes live);
    *   - `.tmp-*` / `.staged-*` staging leftovers and `.claim-*` files of
    *     a crashed put-if-absent in bucket dirs and their `.commitlog/`,
    *     and the topic's `.staging/` workspace;
    *   - the epoch-marker namespace: non-newest `epoch-N` markers per
    *     query dir (only the newest can still no-op a replay — older
    *     epochs are behind every checkpoint); live `*.intent` files are
    *     KEPT (deleting one would break a crashed epoch's heal).
    *
    * Never touches committed segments, commit versions, locks, or
    * consumer cursors. Returns the number of files deleted.
    */
  def vacuum(topic: String, graceMs: Long = 3600000L,
      nowMillis: Long = System.currentTimeMillis()): Int = {
    val cutoff = nowMillis - graceMs
    var deleted = 0
    def rm(p: HPath): Unit =
      if (try fs.delete(p, false) catch { case _: java.io.IOException => false })
        deleted += 1
    buckets(topic).foreach { tb =>
      val live = segments(tb).map(_._1.getName).toSet
      (listStatus(bucketDir(tb)) ++
          listStatus(new HPath(bucketDir(tb), ".commitlog"))).foreach { st =>
        val name = st.getPath.getName
        val orphanData = st.isFile &&
          name.startsWith(SegmentCodec.DataPrefix) && !live.contains(name)
        val staging = st.isFile && (name.startsWith(".tmp-") ||
          name.startsWith(".staged-") || name.startsWith(".claim-"))
        if ((orphanData || staging) && st.getModificationTime < cutoff)
          rm(st.getPath)
      }
    }
    val topicDir = new HPath(root, topic)
    listStatus(new HPath(topicDir, ".staging")).foreach { st =>
      if (st.isFile && st.getModificationTime < cutoff) rm(st.getPath)
    }
    listStatus(new HPath(topicDir, ".commits")).filter(_.isDirectory).foreach { qdir =>
      val markers = listStatus(qdir.getPath).filter { st =>
        st.isFile && st.getPath.getName.matches("epoch-\\d+")
      }
      if (markers.nonEmpty) {
        val newest = markers.maxBy(st =>
          st.getPath.getName.stripPrefix("epoch-").toLong).getPath.getName
        markers.foreach { st =>
          if (st.getPath.getName != newest && st.getModificationTime < cutoff)
            rm(st.getPath)
        }
      }
    }
    deleted
  }

  /** Create a topic with `numBuckets` buckets — the control-plane op the
    * reference exposes as gRPC `CreateBucket`
    * (`server/exposed/create.go:15-27`). Here it is a pure metadata op:
    * bucket placement/replication is the storage layer's job, so the
    * reference's random-with-replacement replica choice
    * (`internal/broker/broker.go:93-99`) has no equivalent.
    */
  def createTopic(topic: String, numBuckets: Int): Seq[TopicBucket] = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // Kafka's legal-name alphabet. A comma would collide with the
    // connector's multi-topic subscription syntax, '/' with its
    // qualified streaming offset keys, and a leading '.' with the
    // topic-level metadata dirs (.staging/.commits) — refuse at create
    // (the write path auto-creates through here) instead of failing
    // strangely at read time.
    require(topic.nonEmpty && !topic.startsWith(".") &&
      topic.forall(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-'),
      s"illegal topic name '$topic': use [A-Za-z0-9._-]+ without a " +
        "leading dot")
    (0 until numBuckets).map { i =>
      val tb = TopicBucket(topic, f"b$i%04d")
      fs.mkdirs(bucketDir(tb))
      tb
    }
  }
}
