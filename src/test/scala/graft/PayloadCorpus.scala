package graft

import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8

/** JSON payloads for the lift parity tests: generated events over a schema
  * with nested struct, array, map, decimal, timestamp and date fields, plus
  * the byte-level edge cases where decoders part ways (BOM, malformed and
  * overlong UTF-8, NUL, truncation, type mismatch, top-level array,
  * trailing garbage, empty and null payloads).
  */
object PayloadCorpus {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", DecimalType(12, 3)),
    StructField("score", DoubleType),
    StructField("flag", BooleanType),
    StructField("at", TimestampType),
    StructField("day", DateType),
    StructField("tags", ArrayType(StringType)),
    StructField("attrs", MapType(StringType, IntegerType)),
    StructField("geo", StructType(Seq(
      StructField("lat", DoubleType),
      StructField("place", StructType(Seq(StructField("city", StringType))))))),
    StructField("items", ArrayType(StructType(Seq(
      StructField("sku", StringType), StructField("qty", IntegerType)))))))

  /** The pubsub event shape: about 130 bytes of JSON per record. */
  val pubsubSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user", StringType),
    StructField("kind", StringType), StructField("page", StringType),
    StructField("value", LongType), StructField("ts_ms", LongType),
    StructField("ref", StringType)))

  def pubsubEvent(id: Long, user: Int, kind: String, page: Int, value: Long,
      tsMs: Long): String =
    f"""{"event_id":$id,"user":"u$user%07d","kind":"$kind","page":"/catalog/item/$page%05d",""" +
      s""""value":$value,"ts_ms":$tsMs,"ref":"direct"}"""

  /** A JSON string literal of `s`: quotes, backslashes and control
    * characters escaped, everything else raw (UTF-8 on the wire).
    */
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Random text: ASCII, Latin-1, CJK, supplementary-plane code points
    * (surrogate pairs in UTF-16), JSON metacharacters and control chars.
    */
  def text(r: scala.util.Random): String = {
    val b = new java.lang.StringBuilder
    (0 until r.nextInt(12)).foreach { _ =>
      r.nextInt(7) match {
        case 0 => b.append((0x20 + r.nextInt(0x5f)).toChar)
        case 1 => b.append((0xa0 + r.nextInt(0x60)).toChar)
        case 2 => b.append((0x4e00 + r.nextInt(0x5000)).toChar)
        case 3 => b.appendCodePoint(0x1f300 + r.nextInt(0x300))
        case 4 => b.appendCodePoint(0x10000 + r.nextInt(0xfffff))
        case 5 => b.append("\"\\/\b\f\n\r\t".charAt(r.nextInt(8)))
        case _ => b.append(r.nextInt(0x20).toChar)
      }
    }
    b.toString
  }

  /** Event `i`: every field present, some dropped, some escaped. Zone-less
    * timestamps parse in the session time zone.
    */
  def event(r: scala.util.Random, i: Int): String = {
    def ts = r.nextInt(4) match {
      case 0 => quote(f"2026-0${1 + r.nextInt(9)}-1${r.nextInt(10)} 0${r.nextInt(10)}:3${r.nextInt(10)}:00")
      case 1 => quote(f"2026-03-29T0${r.nextInt(4)}:1${r.nextInt(10)}:00")
      case 2 => quote(f"2026-01-01T00:00:00${if (r.nextBoolean()) "Z" else "+05:30"}")
      case _ => (1767225600L + r.nextInt(1000000)).toString
    }
    val fields = Seq(
      s""""id":${r.nextLong()}""",
      s""""name":${quote(text(r))}""",
      s""""amount":${BigDecimal(r.nextInt(2000000000)) / 1000 * (if (r.nextBoolean()) 1 else -1)}""",
      s""""score":${r.nextGaussian() * 1e3}""",
      s""""flag":${r.nextBoolean()}""",
      s""""at":$ts""",
      s""""day":${quote(f"2026-1${r.nextInt(3)}-0${1 + r.nextInt(9)}")}""",
      s""""tags":[${Seq.fill(r.nextInt(4))(quote(text(r))).mkString(",")}]""",
      s""""attrs":{${Seq.fill(r.nextInt(4))(s"${quote(text(r))}:${r.nextInt()}").mkString(",")}}""",
      s""""geo":{"lat":${r.nextDouble() * 180 - 90},"place":{"city":${quote(text(r))}}}""",
      s""""items":[${Seq.fill(r.nextInt(3))(
        s"""{"sku":${quote(text(r))},"qty":${r.nextInt(100)}}""").mkString(",")}]""")
    val kept = fields.filter(_ => r.nextInt(8) != 0)
    r.shuffle(kept).mkString("{", ",", "}")
  }

  def events(seed: Long, n: Int): Seq[Array[Byte]] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => event(r, i).getBytes(UTF_8))
  }

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Named edge cases; `null` is a null payload (a tombstone). */
  val edges: Seq[(String, Array[Byte])] = Seq(
    "bom" -> (bytes(0xef, 0xbb, 0xbf) ++ utf8("""{"id":1,"name":"bom"}""")),
    "invalid utf-8" -> (utf8("""{"id":2,"name":"a""") ++ bytes(0xc3, 0x28) ++ utf8("\"}")),
    "overlong utf-8" -> (utf8("""{"id":3,"name":"b""") ++ bytes(0xc0, 0x80) ++ utf8("\"}")),
    "lone continuation" -> (utf8("""{"id":4,"name":"""") ++ bytes(0x80, 0xbf) ++ utf8("\"}")),
    "raw nul in string" -> (utf8("""{"id":5,"name":"n""") ++ bytes(0) ++ utf8("\"}")),
    "escaped nul" -> utf8("{\"id\":6,\"name\":\"n\\u0000ul\"}"),
    "nul after record" -> (utf8("""{"id":7}""") ++ bytes(0)),
    "escaped surrogate pair" -> utf8("{\"id\":8,\"name\":\"\\ud83d\\ude00\"}"),
    "raw supplementary" -> utf8("{\"id\":8,\"name\":\"" + new String(Character.toChars(0x1f600)) + "\"}"),
    "lone escaped surrogate" -> utf8("{\"id\":9,\"name\":\"\\ud800x\"}"),
    "truncated" -> utf8("""{"id":10,"name":"tru"""),
    "truncated nested" -> utf8("""{"id":11,"geo":{"lat":1.5,"place":{"""),
    "type mismatch" -> utf8("""{"id":"zz","name":"x"}"""),
    "nested type mismatch" -> utf8("""{"id":12,"geo":{"lat":"north","place":{"city":"c"}},"name":"y"}"""),
    "array element mismatch" -> utf8("""{"id":13,"items":[{"sku":"s","qty":"many"}],"name":"z"}"""),
    "map value mismatch" -> utf8("""{"id":14,"attrs":{"a":1,"b":"two"},"name":"m"}"""),
    "decimal overflow" -> utf8("""{"id":15,"amount":12345678901234567890.5}"""),
    "decimal rounding" -> utf8("""{"id":16,"amount":1.23456}"""),
    "bad timestamp" -> utf8("""{"id":17,"at":"not a time","day":"2026-02-30"}"""),
    "zone-less timestamp" -> utf8("""{"id":18,"at":"2026-01-01 00:00:00","day":"2026-01-01"}"""),
    "top-level array" -> utf8("""[{"id":19},{"id":20}]"""),
    "top-level scalar" -> utf8("42"),
    "json null" -> utf8("null"),
    "trailing garbage" -> utf8("""{"id":21,"name":"t"} trailing"""),
    "two records" -> utf8("""{"id":22}{"id":23}"""),
    "duplicate key" -> utf8("""{"id":24,"id":25}"""),
    "unknown fields" -> utf8("""{"zzz":[1,{"q":2}],"id":26}"""),
    "whitespace" -> utf8(" \n\t "),
    "empty" -> Array.emptyByteArray,
    "null payload" -> null)
}
