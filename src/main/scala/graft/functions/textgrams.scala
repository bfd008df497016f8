package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Positional word-n-gram hashes from a words array, in ONE pass with ONE
  * reused byte buffer — element i = hash of
  * `words(i) + " " + … + words(i+n−1)`.
  *
  * This replaces the declarative chain
  * `transform(transform(sequence(0, size−n), i => concat_ws(" ",
  * slice(ws, i+1, n))), g => hash(g))`, which allocates O(tokens × n)
  * garbage per row: a `sequence` array, a sliced ArrayData + a
  * `concat_ws` UTF8String per gram, and (for the portable family) an md5
  * HEX STRING plus `conv`'s parse per gram. The heap-ballast experiment
  * (DESIGN §14.7) measured the gram queries as the suite's most
  * GC-sensitive cells — q74-sf1 went 5.7 s → 74.6 s with 67.4 s of GC
  * under heap ballast — so the allocation, not the hashing, is the cost.
  * Here the per-row garbage is the word-bytes array + the output array.
  *
  * Hash families (bit-identical to the declarative forms, property-tested
  * in FunctionsSpec):
  *   - `portable = false`: `XXH64(bytes, seed 42)` ==
  *     `xxhash64(concat_ws(" ", …))` (Spark's default seed).
  *   - `portable = true`: first 60 bits of md5 ==
  *     `conv(substring(md5(s), 1, 15), 16, 10)` —
  *     [[graft.ops.TextAnalysis.portableHash60]] — computed from the
  *     digest bytes directly (nibbles 0..14 big-endian), no hex string.
  *
  * `shortDocWhole`: when the row has fewer than `n` words,
  * `true` emits ONE gram over all words joined (the
  * [[graft.ops.TextAnalysis.shingles]] short-doc branch), `false` emits
  * an empty array (the positional-gram ops' guard branch).
  *
  * Null words are skipped with their separator, matching `concat_ws`.
  */
case class GramHashes(child: Expression, n: Int, portable: Boolean,
    shortDocWhole: Boolean) extends UnaryExpression {
  require(n >= 1, s"gram size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  // generated code calls back into compute(): the per-row work is hundreds
  // of md5/xxh invocations, so the single virtual call is noise, and the
  // surrounding projection stays inside whole-stage codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val self = ctx.addReferenceObj("gramHashes", this, classOf[GramHashes].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($arr);"
    })

  def compute(words: ArrayData): ArrayData = {
    val t = words.numElements()
    if (t < n && !shortDocWhole) return new GenericArrayData(Array.emptyLongArray)
    // word bytes once per row (t small arrays), grams assemble by copy
    val wb = new Array[Array[Byte]](t)
    var total = 0
    var i = 0
    while (i < t) {
      val w = words.getUTF8String(i)
      if (w != null) { wb(i) = w.getBytes; total += wb(i).length }
      i += 1
    }
    val buf = GramHashes.buffer(total + t) // upper bound: all words + seps
    if (t < n) { // shortDocWhole: one gram over everything
      val len = GramHashes.assembleRange(wb, 0, t, buf)
      return new GenericArrayData(Array(GramHashes.hashBytes(buf, len, portable)))
    }
    val out = new Array[Long](t - n + 1)
    var g = 0
    while (g <= t - n) {
      val len = GramHashes.assembleRange(wb, g, g + n, buf)
      out(g) = GramHashes.hashBytes(buf, len, portable)
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
  override def prettyName: String = "gram_hashes"
}

object GramHashes {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val buf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](1 << 12))

  // buffer/assemble/hash are shared with the other fused text kernels
  // ([[CdcChunkStats]]) — one byte-assembly + hash-family definition, so
  // the families cannot drift between expressions.
  private[functions] def buffer(atLeast: Int): Array[Byte] = {
    var b = buf.get()
    if (b.length < atLeast) {
      b = new Array[Byte](Integer.highestOneBit(atLeast - 1) << 1)
      buf.set(b)
    }
    b
  }

  /** Join words [from, until) with single spaces into `out` (concat_ws
    * semantics: null words contribute neither bytes nor separator).
    * Returns the byte length.
    */
  private[functions] def assembleRange(wb: Array[Array[Byte]], from: Int,
      until: Int, out: Array[Byte]): Int = {
    var len = 0
    var first = true
    var i = from
    while (i < until) {
      val w = wb(i)
      if (w != null) {
        if (!first) { out(len) = ' '; len += 1 }
        System.arraycopy(w, 0, out, len, w.length)
        len += w.length
        first = false
      }
      i += 1
    }
    len
  }

  private[functions] def hashBytes(b: Array[Byte], len: Int,
      portable: Boolean): Long =
    if (!portable)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
    else {
      val d = md5.get()
      d.reset()
      d.update(b, 0, len)
      val dig = d.digest()
      // first 15 hex nibbles big-endian == conv(substring(md5,1,15),16,10)
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (dig(k) & 0xffL); k += 1 }
      (v << 4) | ((dig(7) & 0xff) >>> 4)
    }
}

object textgrams {
  /** See [[GramHashes]]. */
  def gram_hashes(words: Column, n: Int, portable: Boolean,
      shortDocWhole: Boolean): Column =
    bridge.column(GramHashes(bridge.expression(words), n, portable, shortDocWhole))

  /** See [[CdcChunkStats]]. */
  def cdc_chunk_stats(words: Column, modulus: Int, portable: Boolean): Column =
    bridge.column(CdcChunkStats(bridge.expression(words), modulus, portable))

  /** See [[WinnowMins]]. */
  def winnow_mins(gramHashes: Column, w: Int): Column =
    bridge.column(WinnowMins(bridge.expression(gramHashes), w))
}
