package graft.log

/** Payload compression codecs for the segment frame plane — Kafka's
  * `compression.type` parity (the single biggest footprint lever at the
  * 100 TB design point: text payloads compress 3–5×). The reference has no
  * compression anywhere in its storage or wire plane (segments there are
  * raw GOB bytes in memory, `internal/broker/queue/queue.go`).
  *
  * Design: compression is PER-FRAME (each record's payload compressed
  * independently, carried in a self-describing extended frame — see
  * [[SegmentCodec]]). The alternatives were weighed and rejected for this
  * plane:
  *
  *   - whole-segment compression breaks the payload-skip header walk
  *     (metadata-only scans would decompress 100 TB to read 16-byte
  *     headers) and byte-offset seeks;
  *   - block compression (Kafka's record-batch shape) compresses better on
  *     small records but makes segment BYTE CONCATENATION — this engine's
  *     zero-rewrite compaction primitive — format-aware, and needs a block
  *     index for offset seeks.
  *
  * Per-frame keeps every existing invariant for free: the header walk, the
  * positional offset map, commit-record stats, compaction-by-concatenation, and
  * MIXED compressed/uncompressed segments (even frames) in one bucket. The
  * cost is a lower ratio on very small payloads — which the writer already
  * sidesteps by leaving payloads under [[Codecs.MinCompressBytes]] (and
  * incompressible ones) raw.
  *
  * The small-record gap this leaves (Kafka's batch compression exploits
  * cross-record redundancy; per-frame cannot) is closed by
  * [[Codecs.ZstdDict]]: a per-segment trained dictionary riding
  * IN-STREAM as a dict frame — see its doc below.
  *
  * All codecs come from the Spark runtime classpath (zstd-jni,
  * lz4-java, the JDK's zlib) — the same libraries Spark itself uses for
  * shuffle/event-log compression, so no new dependency.
  */
object Codecs {
  val None = 0
  val Deflate = 1
  val Lz4 = 2
  val Zstd = 3

  /** zstd with a PER-SEGMENT trained dictionary — the small-record
    * recovery path. Per-frame compression cannot see cross-record
    * redundancy (and skips payloads under [[MinCompressBytes]] outright),
    * which is exactly where Kafka's record-batch compression wins on
    * small JSON/telemetry records. A dictionary trained on the segment's
    * FIRST payloads captures the shared structure (field names, enum
    * values, common prefixes) once, and every frame then compresses
    * against it — per-frame framing, skip walks, offset seeks and
    * byte-concat compaction all survive. The dictionary travels IN the
    * stream as a payload-less DICT frame preceding the frames that
    * reference it (see [[SegmentCodec]]'s flag-bit doc) — no sidecars, so
    * the whole publish/compact/heal/vacuum protocol is untouched and
    * concatenated segments stay self-describing.
    */
  val ZstdDict = 4

  /** Payloads below this never compress: the per-frame codec header (5
    * bytes) plus small-input codec overhead exceeds the win, and tiny
    * payloads are usually ids/markers, not text.
    */
  val MinCompressBytes = 64

  /** With a trained dictionary the break-even drops — shared structure
    * makes even ~16-byte payloads shrink past the 5-byte frame overhead.
    */
  val DictMinCompressBytes = 16

  /** Codec id for a config string; loud on an unknown name. */
  def id(name: String): Int = name.toLowerCase(java.util.Locale.ROOT) match {
    case "" | "none" | "uncompressed" => None
    case "deflate" | "gzip" | "zlib"  => Deflate
    case "lz4"                        => Lz4
    case "zstd"                       => Zstd
    case "zstd-dict" | "zstddict"     => ZstdDict
    case other => throw new IllegalArgumentException(
      s"ripple: unknown compression codec '$other' — use " +
        "none|deflate|lz4|zstd|zstd-dict")
  }

  def name(codec: Int): String = codec match {
    case None     => "none"
    case Deflate  => "deflate"
    case Lz4      => "lz4"
    case Zstd     => "zstd"
    case ZstdDict => "zstd-dict"
    case other => throw new IllegalArgumentException(s"unknown codec id $other")
  }

  /** Train a zstd dictionary on `samples` (the segment's first payloads).
    * None when the sample set is too small/uniform for zstd's trainer —
    * the caller falls back to plain [[Zstd]] frames (a legal mix).
    */
  def trainDict(samples: Seq[Array[Byte]], dictBytes: Int = 16 << 10): Option[Array[Byte]] = {
    val total = samples.map(_.length).sum
    if (samples.size < 8 || total < (1 << 10)) return scala.None
    // zstd's trainer degrades to a trivial dictionary when the requested
    // size dwarfs the training bytes — and a LARGE dict also compresses
    // these tiny payloads measurably worse (probed: cut 24.0% at
    // total/4, 19.1% at 4x that): clamp to a quarter of the sample volume
    val target = math.max(256, math.min(dictBytes, total / 4))
    try {
      val t = new com.github.luben.zstd.ZstdDictTrainer(
        math.max(total, 1 << 10), target)
      samples.foreach(t.addSample)
      val d = t.trainSamples()
      if (d.length == 0) scala.None else Some(d)
    } catch { case _: com.github.luben.zstd.ZstdException => scala.None }
  }

  /** Compression context for [[ZstdDict]] frames: MAGICLESS, no embedded
    * content size (the frame header already records rawLen) — the
    * standard zstd frame header would eat ~10 of the bytes the
    * dictionary saves on a 40-byte payload. Level 9: these are small
    * payloads, so the speed cost is negligible and the ratio win is not.
    * The context holds the loaded dictionary across calls; close() it.
    */
  def dictCompressCtx(dict: Array[Byte]): com.github.luben.zstd.ZstdCompressCtx = {
    val c = new com.github.luben.zstd.ZstdCompressCtx()
    c.setMagicless(true); c.setContentSize(false); c.setLevel(9)
    c.loadDict(dict)
    c
  }

  def dictDecompressCtx(dict: Array[Byte]): com.github.luben.zstd.ZstdDecompressCtx = {
    val x = new com.github.luben.zstd.ZstdDecompressCtx()
    x.setMagicless(true)
    x.loadDict(dict)
    x
  }

  def compressWithDict(ctx: com.github.luben.zstd.ZstdCompressCtx,
      raw: Array[Byte]): Array[Byte] = ctx.compress(raw)

  def decompressWithDict(ctx: com.github.luben.zstd.ZstdDecompressCtx,
      comp: Array[Byte], rawLen: Int): Array[Byte] = {
    val out = ctx.decompress(comp, rawLen)
    if (out.length != rawLen) throw new java.io.IOException(
      s"zstd-dict produced ${out.length} bytes, frame recorded $rawLen")
    out
  }

  /** Compress `raw` with `codec`. Deterministic for a given input and
    * library version — segment replay identity relies on equal logical
    * content producing equal bytes within one deployment
    * ([[SegmentCodec.sameFrames]]'s size prefilter).
    */
  def compress(codec: Int, raw: Array[Byte]): Array[Byte] = codec match {
    case Deflate =>
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      try {
        d.setInput(raw); d.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 16)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    case Lz4 =>
      net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor().compress(raw)
    case Zstd =>
      com.github.luben.zstd.Zstd.compress(raw, 3)
    case other => throw new IllegalArgumentException(s"cannot compress with codec $other")
  }

  /** Decompress a frame payload; `rawLen` is the recorded original size
    * (every extended frame carries it — lz4's fast decompressor requires
    * it, and it lets each codec allocate exactly once). A mismatch between
    * the recorded and produced size is LOUD corruption, never a short read.
    */
  def decompress(codec: Int, comp: Array[Byte], rawLen: Int): Array[Byte] = {
    val out = codec match {
      case Deflate =>
        val inf = new java.util.zip.Inflater()
        try {
          inf.setInput(comp)
          val raw = new Array[Byte](rawLen)
          var got = 0
          while (got < rawLen && !inf.finished()) {
            val n = inf.inflate(raw, got, rawLen - got)
            if (n == 0 && inf.needsInput()) throw new java.io.IOException(
              "deflate stream truncated")
            got += n
          }
          if (got != rawLen) throw new java.io.IOException(
            s"deflate produced $got bytes, frame recorded $rawLen")
          // a stream that inflated to rawLen but did not END there (or
          // left unconsumed compressed bytes) is a torn/overwritten frame
          // body that happens to decode to the right length — loud
          // corruption, never a silent accept
          if (!inf.finished()) {
            val extra = inf.inflate(new Array[Byte](1))
            if (extra > 0 || !inf.finished()) throw new java.io.IOException(
              "deflate stream continues past the recorded raw length " +
                s"($rawLen bytes) — torn or overwritten frame body")
          }
          if (inf.getRemaining != 0) throw new java.io.IOException(
            s"deflate stream ended with ${inf.getRemaining} unconsumed " +
              "compressed bytes — torn or overwritten frame body")
          raw
        } finally inf.end()
      case Lz4 =>
        net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
          .decompress(comp, rawLen)
      case Zstd =>
        com.github.luben.zstd.Zstd.decompress(comp, rawLen)
      case other => throw new java.io.IOException(
        s"frame carries unknown codec id $other — written by a newer engine?")
    }
    if (out.length != rawLen) throw new java.io.IOException(
      s"codec ${name(codec)} produced ${out.length} bytes, frame recorded $rawLen")
    out
  }
}
