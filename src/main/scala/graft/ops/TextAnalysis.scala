package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The 64-bit hash family every hash-parametric operator takes (shingle,
  * gram, word, band, line and chunk keys). Two cases, so every fused text
  * kernel covers every caller:
  *   - [[HashFamily.Xx64]]: `xxhash64` — the production default (one hash
  *     per element);
  *   - [[HashFamily.Portable60]]: [[TextAnalysis.portableHash60]] of the
  *     input cast to string — the family the exact cross-engine gates run
  *     on (DuckDB computes the identical longs from md5).
  * `portable` selects the matching family inside the fused kernels
  * ([[graft.functions.GramHashes]], [[graft.functions.CdcChunkStats]]).
  */
sealed trait HashFamily {
  def apply(c: Column): Column
  def portable: Boolean
}

object HashFamily {
  case object Xx64 extends HashFamily {
    def apply(c: Column): Column = xxhash64(c)
    def portable: Boolean = false
  }
  case object Portable60 extends HashFamily {
    // md5 takes bytes: the string cast lets non-string keys (long ids)
    // hash through their decimal rendering, and is a no-op on strings
    def apply(c: Column): Column = TextAnalysis.portableHash60(c.cast("string"))
    def portable: Boolean = true
  }
}

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY §7 step 6). All hot-path expressions are Spark built-ins /
  * higher-order functions — fully codegen'd, no UDFs, so they stay inside
  * WholeStageCodegen and scale linearly over 100 TB of documents with zero
  * shuffles (every operator here is per-row).
  */
object TextAnalysis {

  /** Words of a document: split on whitespace runs after trimming. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Portable 60-bit string hash: the first 15 hex digits of md5, read as
    * an integer. Spark (`conv(substring(md5(s),1,15),16,10)`), DuckDB
    * (`('0x'||substr(md5(s),1,15))::BIGINT`) and any engine with md5
    * compute the identical non-negative long, so sketch pipelines built on
    * it (SimHash bit votes, MinHash permutations, rolling hashes, gram
    * keys) replay bit-for-bit in plain SQL — the hash family the exact
    * cross-engine gates run on. Production defaults stay `xxhash64`
    * (one hash vs md5+hex-parse per element); the gates' md5 cost is paid
    * only where cross-engine exactness is the point.
    */
  def portableHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The fused positional-gram-hash column ([[graft.functions.GramHashes]])
    * of the words array under `family`. Fusion matters because the
    * declarative `sequence→slice→concat_ws→hash` chain's per-gram
    * allocations (slice + concat_ws + md5-hex + conv strings) make the
    * gram ops the suite's most GC-sensitive cells (DESIGN §14.7, measured
    * 13× under heap ballast).
    */
  private[graft] def fusedGramHashes(ws: Column, n: Int, family: HashFamily,
      shortDocWhole: Boolean): Column =
    graft.functions.textgrams.gram_hashes(ws, n, family.portable, shortDocWhole)

  /** C4-style quality thresholds — the ONE definition the q71 filter and
    * the corpus report both build from, so the published pass-rate can
    * never drift from the pipeline's actual keep decision.
    */
  val QualityMinTokens = 10
  val QualityMinUniqRatio = 0.3
  val QualityMaxWordLen = 30

  /** The combined keep decision of the quality filter (true = keep). */
  def qualityKeep(text: Column): Column = {
    val ws = words(text)
    val nTokens = size(ws).cast("long")
    val uniqRatio = size(array_distinct(ws)).cast("double") / size(ws).cast("double")
    val maxWord = array_max(transform(ws, w => length(w))).cast("long")
    nTokens >= QualityMinTokens && uniqRatio >= QualityMinUniqRatio &&
      maxWord <= QualityMaxWordLen
  }

  /** Model-based quality filtering, fasttext/CCNet-shaped: hashed n-gram
    * features (unigram + bigram bag, repeats kept — mean pooling weights
    * frequency), a weight-vector lookup per feature, per-doc mean logit.
    * Scored entirely PER ROW (`transform` + `aggregate` inside the row:
    * zero shuffle, zero join, stays in whole-stage codegen) — the exact
    * plumbing a learned linear classifier needs at 100 TB, where the
    * model rides to executors as plan constants instead of a join side.
    *
    * The weight function here is a deterministic md5-derived stand-in
    * (this environment ships no trained model — the multimodal-stub
    * precedent): bucket = portable-md5(feature) mod `buckets`, weight =
    * portable-md5("qw:" + bucket) mod 2000001 − 1e6, i.e. a fixed
    * pseudo-random vector in [−1e6, 1e6] scaled-int units. Swapping in
    * real fasttext weights replaces ONE function; the pipeline shape —
    * and this gate on it — is unchanged. Integer weight sums keep the
    * gate engine-exact: LONG accumulation, a single double division for
    * the logit, so DuckDB replays every score bit-for-bit.
    *
    * Output: (id, n_feats, logit, keep = logit > 0).
    */
  /** The classifier's hashed feature bag: filtered unigrams + bigrams. */
  private def classifierFeats(text: Column): Column = {
    val ws = filter(words(text), w => length(w) > 0)
    val bigrams = when(size(ws) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", slice(ws, i + 1, lit(2)))))
    concat(ws, bigrams)
  }

  /** `transform(classifierFeats(text), portableHash60)` with the per-
    * feature string churn fused away: unigram hashes are the n=1 portable
    * gram hashes of the filtered words, bigram hashes the n=2 ones —
    * element-for-element the same longs (md5 of the identical gram bytes,
    * positional, duplicates kept), computed straight from the words array
    * through ONE reused buffer instead of a sliced array + concat_ws
    * string + md5-hex string + conv parse per feature.
    */
  private def classifierFeatHashes(text: Column): Column = {
    val ws = filter(words(text), w => length(w) > 0)
    concat(
      graft.functions.textgrams.gram_hashes(ws, 1, portable = true,
        shortDocWhole = false),
      graft.functions.textgrams.gram_hashes(ws, 2, portable = true,
        shortDocWhole = false))
  }

  /** JVM-side replica of [[portableHash60]] — same md5-hex-prefix integer
    * (lowercase hex, first 15 digits, base-16 parse: 60 bits, never
    * negative), for precomputing plan-constant weight tables that must
    * stay bit-identical to the Column formulation.
    */
  private[graft] def portableHash60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 15) { // 15 hex nibbles, big-endian — nibble i of the digest
      val b = d(i / 2) & 0xff
      val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  /** The per-row classifier logit as a plain Column — usable directly as
    * a filter predicate (`classifierLogit(text) > 0`) with no join, e.g.
    * as [[Curate]]'s model-based quality stage or in a streaming select
    * (per-row expressions work unchanged under Structured Streaming).
    */
  def classifierLogit(text: Column, buckets: Int = 4096): Column =
    logitFromFeatHashes(classifierFeatHashes(text), buckets)

  /** The logit over a precomputed feature-hash array. Two fusions vs the
    * round-18 inline formulation, both value-identical:
    *   - the weight lookup md5("qw:" + bucket) has only `buckets` possible
    *     inputs — precomputed once as a plan-constant array (32 KB at the
    *     default 4096) instead of a second md5 + string-build PER FEATURE;
    *   - feature hashing itself is the fused [[classifierFeatHashes]].
    * element_at(table, bucket + 1) returns the identical long the inline
    * formulation computed, so scores (and every oracle replay of the
    * original formula) stay bit-identical.
    */
  private def logitFromFeatHashes(featHashes: Column, buckets: Int): Column = {
    val table = Array.tabulate(buckets)(b =>
      portableHash60Jvm("qw:" + b) % 2000001L - 1000000L)
    def weight(h: Column): Column =
      element_at(typedLit(table.toSeq), (h % buckets).cast("int") + 1)
    val score = aggregate(transform(featHashes, weight _), lit(0L), (acc, w) => acc + w)
    // greatest(n,1): a featureless doc scores logit 0 instead of a
    // divide-by-zero null (mirrored in the oracle SQL)
    score.cast("double") /
      (greatest(size(featHashes).cast("long"), lit(1L)) * 1000000L).cast("double")
  }

  def qualityClassify(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    // feature hashes computed ONCE behind a projection boundary — n_feats
    // and the logit both read the same array (the inline form evaluated
    // the feature chain twice, once per output column)
    Spread.toCores(df)
      .select(col(idCol), classifierFeatHashes(col(textCol)).as("__fh"))
      .select(col(idCol),
        size(col("__fh")).cast("long").as("n_feats"),
        logitFromFeatHashes(col("__fh"), buckets).as("logit"))
      .withColumn("keep", col("logit") > 0d)
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish subword token estimate: words + punctuation marks each count,
    * long words count ~1 token per 4 chars (the common BPE rule of thumb).
    */
  def tokenEstimate(text: Column): Column =
    aggregate(
      transform(words(text), w => greatest(lit(1), ceil(length(w) / 4.0))),
      lit(0L), (acc, x) => acc + x.cast("long"))

  private val StopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that")

  /** Share of stopwords among words — a standard quality signal. */
  def stopwordRatio(text: Column): Column = {
    val sw = array(StopWords.map(lit): _*)
    size(filter(words(text), w => array_contains(sw, lower(w)))).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Share of punctuation characters in the raw text. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", "")))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Mean word length — degenerate values flag boilerplate/garbage. */
  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: penalize extreme length, high
    * punctuation, low stopword incidence (English-like prose heuristic).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 64.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctScore + swScore) / 3.0, 6)
  }

  // ---- Gopher-style repetition/format signals (Rae et al. 2021) -------
  // All per-row string arithmetic in the engine-portable subset (counts
  // via length deltas, line/word predicates via anchored regex) so the
  // same formulas run under any SQL engine for the oracle gate.

  /** Lines of a document (newline-split; no trailing-empty trimming). */
  def docLines(text: Column): Column = split(text, "\n")

  /** Share of lines that start with a bullet marker (•, -, *). */
  def bulletLineRatio(text: Column): Column =
    size(filter(docLines(text), l => l.rlike("^\\s*[•\\-\\*]"))).cast("double") /
      greatest(size(docLines(text)), lit(1)).cast("double")

  /** Share of lines that end with an ellipsis ("..." or "…"). */
  def ellipsisLineRatio(text: Column): Column =
    size(filter(docLines(text), l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") /
      greatest(size(docLines(text)), lit(1)).cast("double")

  /** Symbol-to-word ratio: occurrences of '#' plus "..." per word —
    * high values flag tag soup / truncated scrapes.
    */
  def symbolWordRatio(text: Column): Column = {
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val dots = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    (hashes + dots).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Share of words containing at least one alphabetic character. */
  def alphaWordRatio(text: Column): Column =
    size(filter(words(text), w => w.rlike("[a-zA-Z]"))).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Canonical-form document fingerprint: md5 of lowercased,
    * whitespace-collapsed text. Identical content modulo spacing/case maps
    * to one fingerprint — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling (polynomial) content hash over words — order-sensitive,
    * unlike [[fingerprint]]'s normalization. Horner scheme mod 2^31-1
    * (values stay < 2^36, legal under ANSI arithmetic).
    */
  def rollingHash(text: Column,
      wordHash: HashFamily = HashFamily.Xx64): Column = {
    val m = lit(2147483647L)
    aggregate(words(text), lit(0L),
      (acc, w) => pmod(acc * lit(31L) + pmod(wordHash(w), m), m))
  }

  /** Word n-gram shingles as space-joined strings (n >= 1). The shingle
    * set drives MinHash/Jaccard dedup.
    */
  def shingles(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) < n, array_distinct(array(concat_ws(" ", ws))))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n))))))
  }

  /** Distinct shingle HASHES — `transform(shingles(text, n), hash64)`
    * with the per-gram string churn fused away:
    * [[graft.functions.GramHashes]] emits the positional gram hashes
    * straight from the words array (one reused byte buffer, no sliced
    * arrays / concat_ws strings / md5-hex parses per gram), and
    * `array_distinct` over longs keeps first occurrences exactly like the
    * string-side distinct did — element-wise identical output (the two
    * differ only if two distinct grams of one document collide in the
    * 60/64-bit hash, which both engines of every gate would share
    * anyway). `shortDocWhole = true` is the [[shingles]] short-doc branch
    * (< n words → one gram over the whole text).
    */
  def hashedShingles(text: Column, n: Int, hash64: HashFamily): Column =
    array_distinct(fusedGramHashes(words(text), n, hash64, shortDocWhole = true))

  /** Character n-gram profile language ID — tiny per-language marker-word
    * profiles scored by hit count; deterministic and cheap. A real system
    * would ship trigram frequency tables; the operator shape (per-row
    * scoring against broadcast profiles, argmax) is what matters at scale.
    */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** PII patterns kept RE2-compatible (no lookarounds/backrefs) so the
    * same regexes run in Spark (java.util.regex) and DuckDB (RE2) — and,
    * more importantly, in any engine a 100 TB pipeline might mix in.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}\\b"

  /** Redact emails/phone-shaped tokens — the standard pre-training scrub.
    * Pure per-row regexp_replace chain: codegen'd, shuffle-free, linear.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Overlapping token-window chunks — the standard LLM-corpus chunking op
    * (window of `chunkTokens` words, stride `chunkTokens - overlap`).
    * Returns array<struct<chunk_idx int, chunk string>> for `explode`;
    * per-row expression, no shuffle, scales linearly.
    */
  def chunks(text: Column, chunkTokens: Int, overlap: Int): Column = {
    require(overlap < chunkTokens, s"overlap $overlap must be < chunk $chunkTokens")
    val stride = chunkTokens - overlap
    val ws = words(text)
    transform(sequence(lit(0), greatest(size(ws) - 1, lit(0)), lit(stride)),
      s => struct((s / stride).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(ws, s + 1, lit(chunkTokens))).as("chunk")))
  }

  /** Deterministic content-hash train/test split: assign by the first hex
    * digit of md5(key) — portable across engines and stable across runs,
    * the property an ID- or content-keyed corpus split needs (random()
    * splits are neither reproducible nor join-stable). digits 0..11 →
    * "train" (75%), c..f → "test" (25%).
    */
  def hashSplit(key: Column): Column =
    when(substring(md5(key.cast("string")), 1, 1).isin(
      "0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
      .otherwise("test")

  /** Greedy sequence packing — the sample-packing step of a training
    * pipeline: within each pack group, documents are taken in ascending id
    * order and appended to the current sequence until it would exceed
    * `maxTokens`, then a new sequence starts (a doc longer than maxTokens
    * gets a sequence of its own). Output: (group, id, n_tokens, seq_id,
    * seq_pos), seq_id numbered from 0 within each group.
    *
    * Scale shape: packing is inherently sequential WITHIN a group (each
    * placement depends on the running fill), so the group is the unit of
    * parallelism — one narrow (group, id, n_tokens) shuffle, then a linear
    * walk per group in `flatMapGroups`. The walk buffers the WHOLE group
    * (the `toArray` is O(group) memory on one task, not O(1)): callers
    * choose the group key to bound group size, exactly as with
    * [[Dedup.ngramJaccardNearDups]] blocking.
    */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokensCol: String, groupCol: Column, maxTokens: Int): org.apache.spark.sql.DataFrame = {
    import df.sparkSession.implicits._
    df.select(groupCol.cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (grp: String, it: Iterator[(String, Long, Long)]) =>
        val ds = it.toArray.sortBy(_._2)
        val out = new Array[(String, Long, Long, Long, Long)](ds.length)
        var bin = 0L; var fill = 0L; var pos = 0L
        var i = 0
        while (i < ds.length) {
          val n = ds(i)._3
          if (i > 0 && fill + n > maxTokens) { bin += 1; fill = 0L; pos = 0L }
          fill += n
          out(i) = (grp, ds(i)._2, n, bin, pos)
          pos += 1
          i += 1
        }
        out.iterator
      }
      .toDF("grp", "id", "n_tokens", "seq_id", "seq_pos")
  }

  /** Exact frequent tokens via an approximate candidate pass: tokens whose
    * corpus frequency exceeds n/denom (n = total token positions).
    *
    * Two passes: (1) one scan producing the total count AND a Misra–Gries
    * candidate summary ([[graft.functions.MisraGries]] — bounded k-entry
    * state per partition, shuffles O(partitions × k) regardless of how
    * many distinct tokens exist; the full q70-style groupBy shuffles a
    * partial count for EVERY distinct token, which at web-corpus vocab
    * sizes is the dominant cost); (2) an exact re-count of only the ≤ k
    * candidates. MG guarantees every token with freq > n/(k+1) is in the
    * summary, so with denom ≤ k+1 the final result is EXACT — the sketch
    * only narrows, never decides.
    */
  def heavyTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
      denom: Int, k: Int = 256): org.apache.spark.sql.DataFrame = {
    require(denom > 1 && denom <= k + 1,
      s"need denom <= k+1 for the MG guarantee (got denom=$denom, k=$k)")
    // empty/whitespace-only docs split to [""] — drop the empty token so
    // it neither inflates n nor surfaces as a nonsense "frequent token"
    val toks = Spread.toCores(df)
      .select(explode(words(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.MisraGries(k), org.apache.spark.sql.Encoders.STRING)
    val head = toks.select(mg(col("token")).as("cand"),
      count(lit(1)).as("n")).head()
    val candidates = head.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val n = head.getLong(1)
    // integer-arithmetic threshold: cnt > n/denom ⟺ cnt·denom > n for longs
    toks.filter(col("token").isin(candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * denom > n)
  }

  /** Best-fit-decreasing sequence packing — the bin-packing upgrade of
    * [[packSequences]]'s in-order greedy: sort the group's documents by
    * token count DESCENDING, place each into the FULLEST open sequence it
    * still fits (ties → lowest sequence id), open a new one only when
    * none fits. BFD's classic guarantee (≤ 11/9·OPT + 4 bins) means fewer
    * padded slots per batch than first-fit-in-id-order — padding is pure
    * wasted compute at training time, so utilization is the metric this
    * exists to raise. Deterministic: (tokens DESC, id ASC) placement
    * order, best-fit ties by lowest bin id.
    *
    * Same unit of parallelism as [[packSequences]]: one narrow
    * (group, id, n_tokens) shuffle, a per-group in-memory walk whose
    * buffer is O(group) on one task (packing is inherently sequential
    * within a group — callers size groups accordingly). The
    * fullest-fitting-bin lookup is a linear scan per doc — O(docs × bins)
    * per group; a TreeMap drops it to O(docs log bins) when a group has
    * many thousands of open bins.
    *
    * Docs longer than `maxTokens` get a sequence of their own (same
    * contract as greedy). Output: (grp, id, n_tokens, seq_id, seq_pos) —
    * seq_id in CREATION order, seq_pos in placement order within it.
    */
  def packSequencesBFD(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokensCol: String, groupCol: Column, maxTokens: Int): org.apache.spark.sql.DataFrame = {
    import df.sparkSession.implicits._
    df.select(groupCol.cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (grp: String, it: Iterator[(String, Long, Long)]) =>
        val ds = it.toArray.sortBy(t => (-t._3, t._2))
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = new Array[(String, Long, Long, Long, Long)](ds.length)
        var i = 0
        while (i < ds.length) {
          val n = ds(i)._3
          // fullest bin that still fits; ties → lowest id; none → new bin
          var best = -1
          var bestFill = -1L
          var b = 0
          while (b < fills.length) {
            if (fills(b) + n <= maxTokens && fills(b) > bestFill) {
              best = b; bestFill = fills(b)
            }
            b += 1
          }
          if (best < 0) { fills += 0L; counts += 0L; best = fills.length - 1 }
          out(i) = (grp, ds(i)._2, n, best.toLong, counts(best))
          fills(best) += n
          counts(best) += 1
          i += 1
        }
        out.iterator
      }
      .toDF("grp", "id", "n_tokens", "seq_id", "seq_pos")
  }

  /** LPT (longest-processing-time) shard balancing — the epoch-sharding
    * counterpart of [[packSequencesBFD]]: instead of opening as many
    * capacity-bounded bins as the data needs, assign every document to
    * one of a FIXED `numShards` shards minimizing token skew (makespan):
    * docs in (tokens DESC, id ASC) order each go to the currently
    * LIGHTEST shard (ties → lowest shard id). LPT's classic bound
    * (≤ 4/3 − 1/3m of the optimal makespan) keeps data-parallel epoch
    * shards token-balanced, so no trainer rank idles on a short shard.
    * Deterministic: a pure function of (tokens, id) — the same corpus
    * shards identically on any engine, any partitioning, any day.
    *
    * Same shuffle shape as the packers — one narrow (group, id, n_tokens)
    * shuffle, a per-group in-memory walk — but the walk BUFFERS THE WHOLE
    * GROUP on one task (the fills/counts arrays are O(numShards); the
    * `toArray` placement buffer is O(group)). Unlike the packers, where
    * the caller's pack-group key naturally bounds group size, epoch shard
    * balancing is usually meaningful only over the WHOLE corpus (a
    * constant `groupCol`) — at 10^9 docs that is one task sorting 10^9
    * tuples. THIS EXACT MODE IS FOR BOUNDED GROUPS ONLY; for corpus-scale
    * sharding use [[shardBalanceLPTHierarchical]], which degrades the
    * makespan bound gracefully instead of the cluster. Output:
    * (grp, id, n_tokens, shard, shard_pos) — shard ∈ [0, numShards),
    * shard_pos in placement order.
    */
  def shardBalanceLPT(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokensCol: String, groupCol: Column, numShards: Int): org.apache.spark.sql.DataFrame = {
    require(numShards >= 1, s"numShards=$numShards must be >= 1")
    import df.sparkSession.implicits._
    df.select(groupCol.cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (grp: String, it: Iterator[(String, Long, Long)]) =>
        val ds = it.toArray.sortBy(t => (-t._3, t._2))
        val fills = new Array[Long](numShards)
        val counts = new Array[Long](numShards)
        val out = new Array[(String, Long, Long, Long, Long)](ds.length)
        var i = 0
        while (i < ds.length) {
          var best = 0
          var b = 1
          while (b < numShards) { // lightest shard, ties -> lowest id
            if (fills(b) < fills(best)) best = b
            b += 1
          }
          out(i) = (grp, ds(i)._2, ds(i)._3, best.toLong, counts(best))
          fills(best) += ds(i)._3
          counts(best) += 1
          i += 1
        }
        out.iterator
      }
      .toDF("grp", "id", "n_tokens", "shard", "shard_pos")
  }

  /** Corpus-scale LPT shard balancing — the hierarchical mode that makes
    * [[shardBalanceLPT]]'s natural use (one global group over 10^9 docs)
    * scale-safe. Two levels:
    *
    *   1. '''Sub-group LPT''': docs hash (xxhash64(id) mod `subGroups`)
    *      into G sub-groups; each sub-group runs the exact LPT walk to
    *      `numShards` LOCAL shards. Per-task buffer drops from O(corpus)
    *      to O(corpus/G) — G is the parallelism/memory dial.
    *   2. '''Shard-of-shards merge''': the G × numShards local shards
    *      become super-items (weight = Σ tokens); per group, a driver-side
    *      LPT over those (bounded: G·numShards rows BY CONSTRUCTION,
    *      guarded) assigns each super-item to a final shard, in
    *      (weight DESC, sub ASC, local shard ASC) order. A broadcast map
    *      joins the assignment back — no second wide shuffle.
    *
    * Makespan degrades gracefully and DETERMINISTICALLY: the merge is LPT
    * over super-items, so final spread (max − min shard tokens) is bounded
    * by the LARGEST SUPER-ITEM weight (≈ corpus/(G·numShards) when docs
    * are small relative to sub-groups) rather than exact LPT's
    * largest-document bound — with G ≥ numShards the loss is a few
    * percent, verified by the OpsSpec bound test. Deterministic: a pure
    * function of (id, tokens, G, numShards) — same corpus, same shards,
    * any partitioning, any day. `shard_pos` stays dense placement order
    * within each final shard: local placement order offset by the counts
    * of super-items merged before (computed at merge time, zero extra
    * shuffle).
    *
    * `subGroups = 1` is exactly [[shardBalanceLPT]] (identity-tested).
    * `subHash` maps the id column to the long the sub-group assignment
    * mods — `xxhash64` by default (one hash per row); the oracle gate
    * passes [[HashFamily.Portable60]] so the whole two-level construction
    * replays bit-for-bit in DuckDB SQL.
    */
  def shardBalanceLPTHierarchical(df: org.apache.spark.sql.DataFrame,
      idCol: String, tokensCol: String, groupCol: Column, numShards: Int,
      subGroups: Int = 256,
      subHash: HashFamily = HashFamily.Xx64,
      maxSuperItems: Int = 1 << 18): org.apache.spark.sql.DataFrame = {
    require(numShards >= 1, s"numShards=$numShards must be >= 1")
    require(subGroups >= 1, s"subGroups=$subGroups must be >= 1")
    require(maxSuperItems >= 1 && maxSuperItems < Int.MaxValue,
      s"maxSuperItems=$maxSuperItems must be in [1, Int.MaxValue)")
    val spark = df.sparkSession
    import spark.implicits._

    // Stage 1: exact LPT within each (grp, sub) — the per-task buffer is
    // the sub-group, O(corpus/G).
    val local = df.select(groupCol.cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("sub", pmod(subHash(col("id")), lit(subGroups.toLong)))
      .as[(String, Long, Long, Long)]
      .groupByKey(t => (t._1, t._4))
      .flatMapGroups { (key: (String, Long), it: Iterator[(String, Long, Long, Long)]) =>
        val ds = it.toArray.sortBy(t => (-t._3, t._2))
        val fills = new Array[Long](numShards)
        val counts = new Array[Long](numShards)
        val out = new Array[(String, Long, Long, Long, Long, Long)](ds.length)
        var i = 0
        while (i < ds.length) {
          var best = 0
          var b = 1
          while (b < numShards) {
            if (fills(b) < fills(best)) best = b
            b += 1
          }
          out(i) = (key._1, key._2, ds(i)._2, ds(i)._3, best.toLong, counts(best))
          fills(best) += ds(i)._3
          counts(best) += 1
          i += 1
        }
        out.iterator
      }
      .toDF("grp", "sub", "id", "n_tokens", "lshard", "lpos")

    // Stage 2: super-item weights — one narrow agg to <= groups·G·numShards
    // rows, collected to the driver (bounded BY CONSTRUCTION; guarded).
    // limit(max+1) bounds what can ever land on the driver — the guard
    // fires on maxSuperItems+1 rows, BEFORE memory pressure, not after a
    // multi-GB collect. 2^18 rows is a few tens of MB of driver state;
    // anything bigger means subGroups (or the group count) is mis-sized
    // for this merge. When under the cap, limit returns every row.
    val superItems = local.groupBy("grp", "sub", "lshard")
      .agg(sum("n_tokens").as("w"), count(lit(1)).as("c"))
      .limit(maxSuperItems + 1)
      .collect()
    require(superItems.length <= maxSuperItems,
      s"shard-of-shards merge has ${superItems.length} super-items " +
        s"(> maxSuperItems=$maxSuperItems); lower subGroups — bounded " +
        "driver state is the contract here — or raise maxSuperItems " +
        "explicitly if the driver heap is provisioned for it")

    // Per group: LPT the super-items onto the final shards, tracking each
    // final shard's running doc count so shard_pos can stay dense
    // placement order after the merge.
    val merged = superItems
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
      .iterator.flatMap { case (_, items) =>
        val fills = new Array[Long](numShards)
        val counts = new Array[Long](numShards)
        items.sortBy { case (_, sub, lshard, w, _) => (-w, sub, lshard) }
          .map { case (grp, sub, lshard, w, c) =>
            var best = 0
            var b = 1
            while (b < numShards) {
              if (fills(b) < fills(best)) best = b
              b += 1
            }
            val base = counts(best)
            fills(best) += w
            counts(best) += c
            (grp, sub, lshard, best.toLong, base)
          }
      }.toSeq

    val mergeMap = spark.createDataset(merged)
      .toDF("m_grp", "m_sub", "m_lshard", "shard", "pos_base")

    // Null-safe on grp: groupByKey and the driver merge both treat a NULL
    // group as a real group, so the map-back must too (<=> matches
    // NULL==NULL; plain equi-join would silently drop those rows).
    local.join(broadcast(mergeMap),
        col("grp") <=> col("m_grp") && col("sub") === col("m_sub") &&
          col("lshard") === col("m_lshard"))
      .select(col("grp"), col("id"), col("n_tokens"), col("shard"),
        (col("pos_base") + col("lpos")).as("shard_pos"))
  }

  /** Deterministic span-corruption example generation (the T5/UL2 denoising
    * objective's data step, word-granular): each word is masked when
    * hash(seed:id:pos) mod `denom` == 0 (expected mask rate 1/denom);
    * CONSECUTIVE masked words merge into one span; the corrupted input
    * replaces each span with `<extra_id_k>` (k = span ordinal within the
    * doc) and the target lists each sentinel followed by the words it hid
    * — exactly the seq2seq pair a denoising trainer consumes.
    *
    * Deterministic by construction (no RNG state): the same (seed, id)
    * always yields the same example, so the corpus regenerates
    * identically on any engine, any partitioning, any day — the property
    * that makes training data auditable. Independent per-word masking
    * gives geometric span lengths (mean denom/(denom−1) ≈ 1 at the
    * default); span-length shaping belongs in the hash predicate, not in
    * sequential RNG.
    *
    * Per-row: one flags pass + one higher-order fold, zero shuffle.
    * `hash64` parametric as everywhere ([[HashFamily.Portable60]] for the gate).
    * Output: (idCol, n_words, n_masked, n_spans, corrupted, target).
    */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
      denom: Int = 7, seed: String = "sc0",
      hash64: HashFamily = HashFamily.Xx64): DataFrame = {
    require(denom >= 2, s"denom=$denom must be >= 2")
    val ws = words(col(textCol))
    val flagged = transform(
      sequence(lit(0), size(ws) - 1),
      i => struct(element_at(ws, i + 1).as("w"),
        (pmod(hash64(concat_ws(":", lit(seed), col(idCol), i)),
          lit(denom.toLong)) === 0).as("m")))
    def emptyS = array().cast("array<string>")
    val folded = aggregate(
      flagged,
      struct(emptyS.as("corr"), emptyS.as("tgt"),
        lit(0).as("k"), lit(false).as("prev")),
      (acc, t) => {
        val sentinel = concat(lit("<extra_id_"), acc.getField("k"), lit(">"))
        when(t.getField("m") && !acc.getField("prev"),
          struct(concat(acc.getField("corr"), array(sentinel)).as("corr"),
            concat(acc.getField("tgt"), array(sentinel, t.getField("w"))).as("tgt"),
            (acc.getField("k") + 1).as("k"), lit(true).as("prev")))
        .when(t.getField("m"),
          struct(acc.getField("corr").as("corr"),
            concat(acc.getField("tgt"), array(t.getField("w"))).as("tgt"),
            acc.getField("k").as("k"), lit(true).as("prev")))
        .otherwise(
          struct(concat(acc.getField("corr"), array(t.getField("w"))).as("corr"),
            acc.getField("tgt").as("tgt"),
            acc.getField("k").as("k"), lit(false).as("prev")))
      })
    Spread.toCores(df)
      .select(col(idCol), size(ws).cast("long").as("n_words"),
        size(filter(flagged, t => t.getField("m"))).cast("long").as("n_masked"),
        folded.as("__f"))
      .select(col(idCol), col("n_words"), col("n_masked"),
        col("__f").getField("k").cast("long").as("n_spans"),
        concat_ws(" ", col("__f").getField("corr")).as("corrupted"),
        concat_ws(" ", col("__f").getField("tgt")).as("target"))
  }

  def langId(text: Column): Column = {
    val ws = transform(words(text), lower _)
    // Score per language; argmax via array_max over struct(score, rank,
    // lang). Languages sorted descending get ranks 0..n-1, so on a score
    // tie the max rank — i.e. the lexicographically smallest language —
    // wins deterministically.
    val scored = LangMarkers.toSeq.sortBy(_._1)(Ordering[String].reverse)
      .zipWithIndex.map { case ((lang, markers), rank) =>
        val m = array(markers.map(lit): _*)
        struct(size(filter(ws, w => array_contains(m, w))).as("score"),
          lit(rank).as("rank"), lit(lang).as("lang"))
      }
    array_max(array(scored: _*)).getField("lang")
  }
}
