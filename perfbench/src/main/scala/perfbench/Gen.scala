package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.types._

/** The seeded load generator. Every input a workload hands the program
  * comes from here, as a pure function of the seed and a position, so the
  * benchmark can replay the same stream to compute expected results without
  * asking the program under test.
  */
object Gen {

  /** 2026-01-01T00:00:00Z: base of every generated event time. */
  val T0: Long = 1767225600000L
  val HourMs: Long = 3600000L

  def rng(seed: Long, parts: Long*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach { p => h = java.lang.Long.rotateLeft(h ^ (p * 0xC2B2AE3D27D4EB4FL), 29) * 0x165667B19E3779F9L }
    new SplittableRandom(h)
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- events (pubsub_json, stream_tail) --------------------------------

  final case class Event(event_id: Long, user: String, kind: String,
      page: String, value: Long, ts_ms: Long, ref: String) {
    /** The same JSON `Ripple.pack` produces for this row. */
    def json: String =
      s"""{"event_id":$event_id,"user":"$user","kind":"$kind","page":"$page","value":$value,"ts_ms":$ts_ms,"ref":"$ref"}"""
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user", StringType),
    StructField("kind", StringType), StructField("page", StringType),
    StructField("value", LongType), StructField("ts_ms", LongType),
    StructField("ref", StringType)))

  val Users = 100000
  val ZipfS = 1.1
  private val kinds = Array("view", "click", "search", "add_to_cart",
    "checkout", "purchase", "refund", "share")
  private val refs = Array("direct", "search", "social", "newsletter",
    "partner", "ads")
  @transient private lazy val userZipf = new Zipf(Users, ZipfS)

  /** Event `i` of a stream, with an explicit event time. */
  def event(r: SplittableRandom, id: Long, tsMs: Long): Event =
    Event(id, f"u${userZipf.sample(r)}%07d", kinds(r.nextInt(kinds.length)),
      f"/catalog/item/${r.nextInt(100000)}%05d", r.nextInt(1000).toLong, tsMs,
      refs(r.nextInt(refs.length)))

  /** Batch `batch`, slice `part` of `n` events: event times spread
    * uniformly over the six hours after [[T0]].
    */
  def events(seed: Long, batch: Int, part: Int, n: Int): Iterator[Event] = {
    val r = rng(seed, 1, batch, part)
    val base = (batch.toLong << 32) | (part.toLong << 24)
    Iterator.tabulate(n)(i => event(r, base + i, T0 + r.nextLong(6 * HourMs)))
  }

  /** Expected (count, sum(value)) per 1-hour window start of a batch. */
  def windowTotals(evs: Iterator[Event], windowMs: Long,
      into: scala.collection.mutable.Map[Long, (Long, Long)]): Long = {
    var n = 0L
    evs.foreach { e =>
      val w = e.ts_ms - Math.floorMod(e.ts_ms, windowMs)
      val (c, s) = into.getOrElse(w, (0L, 0L))
      into(w) = (c + 1, s + e.value)
      n += 1
    }
    n
  }

  // ---- opaque payloads (scan_log) ---------------------------------------

  private val vocab: Array[String] = {
    val r = rng(7L, 2)
    val letters = "etaoinshrdlucmfwypvbgkjqxz"
    Array.fill(4096) {
      val len = 2 + r.nextInt(8)
      String.valueOf(Array.fill(len)(letters.charAt(
        math.min(25, (r.nextDouble() * r.nextDouble() * 26).toInt))))
    }
  }

  /** Payload sizes: log-normal around 256 bytes, clipped to [32, 4096]. */
  def payloadSize(r: SplittableRandom): Int = {
    val g = {
      var u = 0.0; var v = 0.0; var s = 0.0
      while ({ u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v; s >= 1 || s == 0 }) ()
      u * math.sqrt(-2 * math.log(s) / s)
    }
    math.max(32, math.min(4096, math.round(256 * math.exp(0.6 * g)).toInt))
  }

  /** A printable, word-structured opaque payload of exactly `size` bytes. */
  def payload(r: SplittableRandom, size: Int): Array[Byte] = {
    val sb = new StringBuilder(size + 16)
    while (sb.length < size) { sb.append(vocab(r.nextInt(vocab.length))); sb.append(' ') }
    sb.setLength(size)
    sb.toString.getBytes(UTF_8)
  }

  // ---- documents with planted duplicate clusters (curate_docs) ----------

  final case class Doc(doc_id: Long, text: String, src: String)

  /** A corpus of `bases` distinct documents; a `dupFrac` share of them get
    * one or two copies, each either exact or near (the base plus one extra
    * trailing word, word-3-shingle Jaccard above 0.98). Ids are a seeded
    * permutation, so a cluster's smallest id is any of its members.
    * Returns the corpus and the ids curation must keep: one per cluster,
    * the smallest.
    */
  def corpus(seed: Long, bases: Int, dupFrac: Double): (Seq[Doc], Set[Long]) = {
    val r = rng(seed, 3)
    val words = new Zipf(vocab.length, 0.7)
    val sources = Array("web", "news", "forum", "books")
    val clusters = (0 until bases).map { _ =>
      val len = 120 + r.nextInt(80)
      val text = Array.fill(len)(vocab(words.sample(r))).mkString(" ")
      val copies =
        if (r.nextDouble() < dupFrac) Seq.fill(1 + r.nextInt(2)) {
          if (r.nextBoolean()) text else text + " " + vocab(words.sample(r))
        } else Nil
      (text +: copies, sources(r.nextInt(sources.length)))
    }
    val total = clusters.map(_._1.size).sum
    val ids = Array.tabulate(total)(i => i.toLong + 1)
    for (i <- ids.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    var k = 0
    val keep = Set.newBuilder[Long]
    val docs = clusters.flatMap { case (texts, src) =>
      val ds = texts.map { t => val d = Doc(ids(k), t, src); k += 1; d }
      keep += ds.map(_.doc_id).min
      ds
    }
    (docs, keep.result())
  }

  /** The generator's parameters, echoed in every result. */
  def params: Map[String, Any] = Map(
    "event_users" -> Users, "event_zipf_s" -> ZipfS,
    "event_window_ms" -> HourMs, "event_span_ms" -> 6 * HourMs,
    "payload_size" -> "lognormal(median 256 B, sigma 0.6) clipped to [32, 4096]",
    "doc_words" -> "120..199 words, Zipf(0.7) over 4096",
    "doc_copies" -> "1-2 per duplicated base, exact or one trailing word added")
}
