package graft

import graft.ops.{Bpe, HashFamily, LangModel, Sampling, WebText}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-level checks for the web-curation operators (HTML extraction,
  * URL canonicalization, paragraph dedup, mixture rebalance, LM scoring,
  * BPE) — known inputs with hand-computed outputs, plus the invariants
  * the oracle gate can't express (idempotence, encode identity).
  */
class CurationSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-curation-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def one(s: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(s).toDF("x").select(f(col("x"))).head().getString(0)
  }

  test("htmlExtract: tags, script/style bodies, comments and entities") {
    val html = "<html><head><script>var x = '<p>not text</p>';</script>" +
      "<style>.c{color:red}</style><!-- hidden --></head>" +
      "<body><h1>Title</h1><p>one &amp; two &lt;three&gt;</p>" +
      "<div>four&nbsp;five</div></body></html>"
    assert(one(html, WebText.htmlExtract) == "Title one & two <three> four five")
    // double-escaped text unescapes exactly one level
    assert(one("<p>&amp;lt;</p>", WebText.htmlExtract) == "&lt;")
    // plain text passes through
    assert(one("no markup here", WebText.htmlExtract) == "no markup here")
    // legacy uppercase tags: script/style BODIES must not leak into text
    assert(one("<SCRIPT>var leak=1;</SCRIPT><P>ok</P><STYLE>.x{}</STYLE>",
      WebText.htmlExtract) == "ok")
  }

  test("canonicalizeUrl: case, port, www, fragment, utm, param order; idempotent") {
    val cases = Seq(
      "HTTPS://WWW.Example.COM:443/A/b/?z=1&utm_source=x&a=2#frag" ->
        "https://example.com/A/b?a=2&z=1",
      "http://Host.com:80/path" -> "http://host.com/path",
      "https://h.com/p?utm_a=1&utm_b=2&id=3" -> "https://h.com/p?id=3",
      "https://h.com/p?utm_only=1" -> "https://h.com/p",
      "https://h.com/" -> "https://h.com",
      "https://h.com/x?b=2&a=1" -> "https://h.com/x?a=1&b=2",
      // NON-default ports are distinct origins and must survive
      "http://h.com:443/x" -> "http://h.com:443/x",
      "https://h.com:80/x" -> "https://h.com:80/x",
      "https://h.com:8443/x" -> "https://h.com:8443/x")
    cases.foreach { case (in, want) =>
      assert(one(in, WebText.canonicalizeUrl) == want, s"for $in")
      // canonicalization must be a fixpoint
      val c = one(in, WebText.canonicalizeUrl)
      assert(one(c, WebText.canonicalizeUrl) == c, s"not idempotent for $in")
    }
  }

  test("domain blocklist: label-boundary suffix semantics, host extraction, filter") {
    import spark.implicits._
    val blocklist = Seq("example.com", "ads.tracker.net")
    val cases = Seq(
      ("https://example.com/a", true),          // exact domain
      ("https://www.example.com/a", true),      // subdomain
      ("https://a.b.example.com/a", true),      // deep subdomain
      ("https://notexample.com/a", false),      // partial label must NOT match
      ("https://example.com.evil.org/a", false),// blocked name as INNER label
      ("https://tracker.net/a", false),         // parent of a blocked subdomain
      ("https://x.ads.tracker.net/a", true),    // under the blocked subdomain
      ("HTTP://User:pw@WWW.EXAMPLE.COM:8080/a", true)) // case/userinfo/port
    val df = cases.zipWithIndex
      .map { case ((u, b), i) => (i.toLong, u, b) }.toDF("id", "url", "expect")
    val got = df.select(col("id"), col("expect"),
        WebText.isBlockedDomain(WebText.urlHost(col("url")), blocklist).as("blocked"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    got.foreach { case (id, expect, blocked) =>
      assert(blocked == expect, s"case $id: got $blocked, expected $expect")
    }
    // the filter keeps exactly the non-blocked rows
    val kept = WebText.filterBlockedDomains(df, col("url"), blocklist)
      .select("id").collect().map(_.getLong(0)).toSet
    val expectKept = cases.zipWithIndex.collect { case ((_, false), i) => i.toLong }.toSet
    assert(kept == expectKept)
    // null url → null host → row dropped (predicate null-safe, no throw)
    val withNull = Seq((100L, null: String)).toDF("id", "url")
    assert(WebText.filterBlockedDomains(withNull, col("url"), blocklist).count() == 0)
  }

  test("term blocklist: whole-token case-insensitive match, filter, null-safe") {
    import spark.implicits._
    val blocklist = Seq("spam", "casino")
    val cases = Seq(
      (1L, "win big at the CASINO tonight", true),   // case-insensitive
      (2L, "spam", true),                            // single-token doc
      (3L, "this text mentions spamming", false),    // substring must NOT match
      (4L, "  spam  padded  ", true),                // whitespace runs
      (5L, "perfectly clean text", false),
      (6L, "", false))
    val df = cases.toDF("id", "t", "expect")
    df.select(col("id"), col("expect"),
        WebText.hasBlockedTerm(col("t"), blocklist).as("got"))
      .collect().foreach { r =>
        assert(r.getBoolean(1) == r.getBoolean(2), s"case ${r.getLong(0)}")
      }
    val kept = WebText.filterBlockedTerms(df, col("t"), blocklist)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == cases.collect { case (id, _, false) => id }.toSet)
    // null text: predicate is null → row dropped, no throw
    assert(WebText.filterBlockedTerms(
      Seq((9L, null: String)).toDF("id", "t"), col("t"), blocklist).count() == 0)
  }

  test("blockedTermScore: hand-computed fractions, case-insensitive whole tokens, empty text") {
    import spark.implicits._
    def score(s: String, terms: Seq[String]): Double =
      Seq(s).toDF("x").select(WebText.blockedTermScore(col("x"), terms))
        .head().getDouble(0)
    // 2 flagged of 8 tokens; case-insensitive; whole tokens only
    assert(score("the BAD word and badly phrased bad prose",
      Seq("bad")) == 2.0 / 8)
    // substring containment is NOT a hit (badly != bad)
    assert(score("badly behaving text", Seq("bad")) == 0.0)
    // multiple terms accumulate; repeated hits each count
    assert(score("x y x z", Seq("x", "z")) == 3.0 / 4)
    // empty / whitespace-only text scores 0 (not NaN)
    assert(score("", Seq("bad")) == 0.0)
    assert(score("   ", Seq("bad")) == 0.0)
    intercept[IllegalArgumentException] {
      WebText.blockedTermScore(col("x"), Nil)
    }
  }

  test("maskPii: emails/phones/IPs become typed tokens; counts, kinds, order") {
    import spark.implicits._
    val s = "write to jane.doe+spam@sub.example.co.uk or call +44 20-7946-0958, " +
      "server at 192.168.1.254 and 10.0.0.7; year 2024 and v1.2 stay; " +
      "second address bob@ex.org"
    assert(one(s, c => WebText.maskPii(c)) ==
      "write to [EMAIL] or call [PHONE], server at [IP] and [IP]; " +
        "year 2024 and v1.2 stay; second address [EMAIL]")
    // counts on the unmasked text, per kind
    def cnt(kind: String) = Seq(s).toDF("x")
      .select(WebText.piiCount(col("x"), kind)).head().getLong(0)
    assert(cnt("email") == 2 && cnt("phone") == 1 && cnt("ip") == 2)
    // kind subsetting: only the requested kinds mask (canonical order)
    assert(one(s, c => WebText.maskPii(c, Seq("ip"))).contains("jane.doe+spam@"))
    assert(one(s, c => WebText.maskPii(c, Seq("ip"))).contains("[IP]"))
    // non-PII digit runs survive: years, versions, unprefixed numbers
    val clean = "in 2023 version 3.11 shipped 1500 units at 99.9 percent"
    assert(one(clean, c => WebText.maskPii(c)) == clean)
    // unprefixed phone-shaped runs are NOT masked (conservative contract)
    assert(one("call 555-7946-0958 now", c => WebText.maskPii(c)) ==
      "call 555-7946-0958 now")
    // unknown kind: loud
    intercept[IllegalArgumentException] {
      WebText.maskPii(col("x"), Seq("ssn"))
    }

    // the Curate stage rewrites text before downstream stages see it
    import graft.ops.Curate
    val docs = Seq((1L, "reach admin@corp.example for access", "web"))
      .toDF("doc_id", "text", "source")
    val out = Curate.run(docs, "doc_id", "text", "source",
      Curate.Config(normalizeUnicode = false, qualityFilter = false,
        exactDedup = false, maskPiiKinds = Seq("email"))).docs
    assert(out.select("text").head().getString(0) ==
      "reach [EMAIL] for access")
  }

  test("dedupParagraphs keeps first occurrences in order") {
    val doc = "alpha one\n\nbeta two\n\nalpha one\n\ngamma\n\nbeta two"
    assert(one(doc, WebText.dedupParagraphs) == "alpha one\n\nbeta two\n\ngamma")
    import spark.implicits._
    val n = Seq(doc).toDF("x")
      .select(WebText.paragraphCount(col("x"))).head().getLong(0)
    assert(n == 5L)
  }

  test("gopher rules: hand-computed line/word ratios") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val doc = "• one two\nthree four...\nfive ### six"
    val r = Seq(doc).toDF("t").select(
      TextAnalysis.bulletLineRatio(col("t")),
      TextAnalysis.ellipsisLineRatio(col("t")),
      TextAnalysis.symbolWordRatio(col("t")),
      TextAnalysis.alphaWordRatio(col("t"))).head()
    assert(math.abs(r.getDouble(0) - 1.0 / 3) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0 / 3) < 1e-12)
    // words: [•, one, two, three, four..., five, ###, six] = 8;
    // symbols: 3 hashes + one '...' = 4 → 0.5; alpha words 6/8
    assert(r.getDouble(2) == 0.5, s"symbol ratio ${r.getDouble(2)}")
    assert(r.getDouble(3) == 0.75, s"alpha ratio ${r.getDouble(3)}")
  }

  test("deflate ratio: repetition collapses, diverse text doesn't, empty is 1.0") {
    import spark.implicits._
    import graft.functions.compress.deflate_ratio
    def ratioOf(s: String): Double =
      Seq(s).toDF("t").select(deflate_ratio(col("t"))).head().getDouble(0)
    val repetitive = Seq.fill(500)("spark data").mkString(" ")
    val diverse = (0 until 500).map(i => s"w${i * 7919 % 9973}x$i").mkString(" ")
    assert(ratioOf(repetitive) < 0.05, s"repetitive ${ratioOf(repetitive)}")
    assert(ratioOf(diverse) > 3 * ratioOf(repetitive))
    assert(ratioOf("") == 1.0)
    // deterministic across evaluations (thread-local deflater state reset)
    assert(ratioOf(diverse) == ratioOf(diverse))
    // null propagates (no crash in codegen null path)
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(deflate_ratio(col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("rebalance: over-represented strata downsample to share, rest kept whole") {
    import spark.implicits._
    // heavy: 8000 rows, light: 400, tiny: 100 (total 8500)
    val df = ((0 until 8000).map(i => (i.toLong, "heavy")) ++
      (8000 until 8400).map(i => (i.toLong, "light")) ++
      (8400 until 8500).map(i => (i.toLong, "tiny"))).toDF("id", "src")
    val out = Sampling.rebalance(df, col("src"), col("id"),
      Map("heavy" -> 0.2, "light" -> 0.5))
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // heavy: target 0.2*8500 = 1700 of 8000 → fraction ~0.2125
    val heavy = out("heavy").toDouble
    assert(math.abs(heavy - 1700.0) / 1700.0 < 0.1, s"heavy kept $heavy, want ~1700")
    // light: target 0.5*8500 > 400 → kept whole
    assert(out("light") == 400L)
    // tiny: no target share → dropped
    assert(!out.contains("tiny"))
    // deterministic: second run identical
    val again = Sampling.rebalance(df, col("src"), col("id"),
      Map("heavy" -> 0.2, "light" -> 0.5)).count()
    assert(again == out.values.sum)
  }

  test("bigram LM: hand-computed cross-entropy, fluent < shuffled") {
    import spark.implicits._
    val ref = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val scored = LangModel.perplexityScore(ref, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // pairs: doc1 (a,b)(b,a)(a,b), doc2 (a,b); c2(a,b)=3, c2(b,a)=1;
    // c1(a)=3, c1(b)=1; V=2.
    // doc2: -ln((3+1)/(3+2)) = ln(1.25)
    assert(scored(2L)._1 == 1L)
    assert(math.abs(scored(2L)._2 - math.log(1.25)) < 1e-6)
    // doc1: (-2*ln(4/5) - ln(2/3)) / 3
    val want1 = (-2.0 * math.log(4.0 / 5.0) - math.log(2.0 / 3.0)) / 3.0
    assert(math.abs(scored(1L)._2 - want1) < 1e-6)

    // corpus-trained model ranks in-distribution text below token salad
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = LangModel.train(corpus, "doc_id", "text")
    val probe = Seq(
      (100L, "the fast key order sort table scan merge part window"),
      (200L, "window the merge part fast scan key table order sort")).toDF("doc_id", "text")
    val ce = LangModel.score(probe, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ce(100L) < ce(200L),
      s"fluent ${ce(100L)} should beat shuffled ${ce(200L)}")
  }

  test("BPE: classic merge sequence, encode identity, memoized DataFrame encode") {
    import spark.implicits._
    // Sennrich et al. example: the first merges must be (e,s), (es,t), (est,</w>)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val corpus = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val vocab = Bpe.train(corpus, "text", numMerges = 10)
    val m = vocab.merges
    assert((m(0).left, m(0).right) == ("e", "s"), s"got ${m.take(3)}")
    assert((m(1).left, m(1).right) == ("es", "t"))
    assert((m(2).left, m(2).right) == ("est", Bpe.EndOfWord))
    // encode of an UNSEEN word composes learned merges; concat identity holds
    val toks = Bpe.encodeWord("lowest", vocab)
    assert(toks.mkString("").stripSuffix(Bpe.EndOfWord) == "lowest")
    assert(toks.contains("est" + Bpe.EndOfWord), s"got ${toks.toSeq}")
    // every token is either in-vocab (a merge product) or a single char/EOW
    val products = vocab.merges.map(mm => mm.left + mm.right).toSet
    assert(toks.forall(t => products.contains(t) || t.length == 1 || t == Bpe.EndOfWord))

    // DataFrame encode: token counts consistent with per-word encode
    val enc = Bpe.encode(corpus, "doc_id", "text", vocab).collect().head
    val wantTokens = words.map(w => Bpe.encodeWord(w, vocab).length.toLong).sum
    assert(enc.n_words == words.length.toLong)
    assert(enc.n_bpe_tokens == wantTokens)

    // determinism across partitionings
    val corpus4 = Seq.tabulate(8)(i => (i.toLong, words.mkString(" ")))
      .toDF("doc_id", "text").repartition(4)
    val vocab4 = Bpe.train(corpus4, "text", numMerges = 10)
    assert(vocab4.merges == vocab.merges)
  }

  test("BPE: supplementary-plane characters stay whole code points") {
    import spark.implicits._
    val clef = new String(Character.toChars(0x1D11E)) // U+1D11E, 2 UTF-16 chars
    val word = s"a${clef}b"
    val corpus = Seq((1L, s"$word $word $word")).toDF("doc_id", "text")
    val vocab = Bpe.train(corpus, "text", numMerges = 4)
    // no learned merge side may be a lone surrogate
    def wellFormed(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (Character.isHighSurrogate(c)) {
          if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1))) return false
          i += 2
        } else if (Character.isLowSurrogate(c)) return false
        else i += 1
      }
      true
    }
    assert(vocab.merges.forall(m => wellFormed(m.left) && wellFormed(m.right)))
    val toks = Bpe.encodeWord(word, vocab)
    assert(toks.forall(wellFormed), s"lone surrogate in ${toks.toSeq}")
    assert(toks.mkString("").stripSuffix(Bpe.EndOfWord) == word)
  }

  test("top continuations: hand-computed counts, count-then-word ordering, k cut") {
    import spark.implicits._
    import graft.ops.LangModel
    val df = Seq((1L, "a b a c a b"), (2L, "z a")).toDF("doc_id", "text")
    val got = LangModel.topContinuations(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // pairs: a→b ×2, b→a ×1, a→c ×1, c→a ×1, z→a ×1
    assert(got == Set(
      ("a", "b", 2L, 1L), ("a", "c", 1L, 2L),
      ("b", "a", 1L, 1L), ("c", "a", 1L, 1L), ("z", "a", 1L, 1L)), got.toString)
    // tie-break: equal counts order by word ascending
    val tie = LangModel.topContinuations(
        Seq((1L, "x m x n x m x n")).toDF("doc_id", "text"), "doc_id", "text", k = 2)
      .filter(col("w1") === "x")
      .orderBy(col("rank")).collect().map(_.getString(1)).toSeq
    assert(tie == Seq("m", "n"), tie.toString)
  }

  test("Curate.run: config-driven pipeline drops exactly the right docs") {
    import spark.implicits._
    import graft.ops.Curate
    val good = "a perfectly reasonable document with more than ten whitespace tokens in it"
    val rows = Seq(
      // (id, text, source, url, expectKept)
      (1L, s"<p>$good one</p>", "web", "https://ok.org/1", true),
      (2L, s"<p>$good one</p>", "web", "https://ok.org/2", false),  // exact dup of 1 (post-extract)
      (3L, s"<p>$good two SpamWord</p>", "web", "https://ok.org/3", false), // blocked term
      (4L, s"<p>$good three</p>", "web", "https://ads.bad.com/x", false),   // blocked domain
      (5L, "<p>too short</p>", "web", "https://ok.org/5", false),           // quality
      (6L, "<p>chapter four begins with an entirely different narrative " +
        "about rivers mountains valleys and the people living there</p>",
        "books", "https://ok.org/6", true),
      // near-dup of 6 (two words dropped) — minhash threshold 0.5 cluster
      (7L, "<p>chapter four begins with an entirely different narrative " +
        "about rivers mountains valleys and the people living</p>",
        "books", "https://ok.org/7", false))
      .toDF("doc_id", "text", "source", "url", "expect")
    val cfg = Curate.Config(
      htmlExtract = true,
      blockedDomains = Seq("bad.com"),
      blockedTerms = Seq("spamword"),
      nearDupThreshold = Some(0.5))
    val res = Curate.run(rows, "doc_id", "text", "source", cfg,
      urlCol = Some("url"))
    val kept = res.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = Seq(1L, 6L).toSet
    assert(kept == expect, s"pipeline kept $kept, expected $expect")
    // extraction rewrote the text feeding downstream stages
    assert(!res.docs.select("text").collect().exists(_.getString(0).contains("<p>")))
    // reports: before covers all sources/rows, after reflects the survivors
    val before = res.reportBefore.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = res.reportAfter.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before("web") == 5 && before("books") == 2)
    assert(after("web") == 1 && after("books") == 1)
    // idCol named "id" must not collide with the near-dup drop join
    val renamed = rows.withColumnRenamed("doc_id", "id")
    val keptId = Curate.run(renamed, "id", "text", "source", cfg,
        urlCol = Some("url"))
      .docs.select("id").collect().map(_.getLong(0)).toSet
    assert(keptId == expect)
    // string ids + near-dedup: loud refusal, not a silent ANSI-off no-op
    val strIds = rows.withColumn("doc_id", concat(lit("d-"), col("doc_id")))
    val err = intercept[IllegalArgumentException] {
      Curate.run(strIds, "doc_id", "text", "source", cfg, urlCol = Some("url"))
    }
    assert(err.getMessage.contains("near-dedup"))
  }

  test("Curate.run: trained-classifier stage keeps learned positives, refuses collapse") {
    import spark.implicits._
    import graft.ops.{Curate, Learn}
    // separable corpus: target sources speak "good*", the rest "bad*"
    val docs = (0 until 60).map { i =>
      val src = if (i % 3 == 0) "tgt" else s"oth${i % 2}"
      val words = if (src == "tgt") s"good$i goodcommon shared tok$i extra$i"
                  else s"bad$i badcommon shared tok$i extra$i"
      (i.toLong, src, words + " pad1 pad2 pad3 pad4 pad5 pad6")
    }.toDF("doc_id", "source", "text")
    val cfg = Curate.Config(qualityFilter = false, exactDedup = false,
      normalizeUnicode = false, trainedClassifierSources = Seq("tgt"),
      trainedClassifierEpochs = 5)
    val kept = Curate.run(docs, "doc_id", "text", "source", cfg)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    // the stage keeps exactly the docs the trained model predicts positive
    val expect = Learn.perceptronClassify(docs, "doc_id", "text",
        col("source") === "tgt", epochs = 5)
      .filter(col("predicted") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expect && kept.nonEmpty && kept.size < docs.count(),
      s"kept ${kept.size} of ${docs.count()}")
    // on this separable fixture the learned positives ARE the target docs
    assert(kept == (0 until 60 by 3).map(_.toLong).toSet)
    // unlearnable labels collapse the model to one class -> loud refusal,
    // never a silent full-corpus drop (or a silent keep-everything no-op)
    val flat = (0 until 30).map(i =>
      (i.toLong, if (i < 10) "tgt" else "oth", "same words every time"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      Curate.run(flat, "doc_id", "text", "source", cfg).docs.count()
    }
    assert(e.getMessage.contains("single class"), e.getMessage)
  }

  test("Curate.run: classifier filter and DSIR selection stages compose") {
    import spark.implicits._
    import graft.ops.{Curate, Sampling, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    // classifier stage keeps EXACTLY the logit > 0 docs (same predicate
    // as q121's keep column), everything else off
    val cfgC = Curate.Config(qualityFilter = false, exactDedup = false,
      normalizeUnicode = false, classifierFilter = true)
    val keptC = Curate.run(docs, "doc_id", "text", "source", cfgC)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expectC = TextAnalysis.qualityClassify(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptC == expectC && keptC.nonEmpty && keptC.size < docs.count())
    // DSIR stage keeps exactly the score > 0 docs for the same target set
    val tgt = Seq("src0", "src1", "src2")
    val cfgD = Curate.Config(qualityFilter = false, exactDedup = false,
      normalizeUnicode = false, dsirTargetSources = tgt)
    val keptD = Curate.run(docs, "doc_id", "text", "source", cfgD)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expectD = Sampling.importanceWeights(docs, "doc_id", "text",
        col("source").isin(tgt: _*), wordHash = HashFamily.Xx64)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptD == expectD && keptD.nonEmpty && keptD.size < docs.count())
    // language filter keeps exactly the argmax-en docs
    val cfgL = Curate.Config(qualityFilter = false, exactDedup = false,
      normalizeUnicode = false, allowedLangs = Seq("en"))
    val keptL = Curate.run(docs, "doc_id", "text", "source", cfgL)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expectL = docs.filter(TextAnalysis.langId(col("text")) === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptL == expectL && keptL.nonEmpty)
    // token budgets: each source's kept token total stays within
    // budget + one overshoot doc (the tokenBudgetMix contract)
    val budgets = Map("src0" -> 300L, "src1" -> 150L)
    val cfgT = Curate.Config(qualityFilter = false, exactDedup = false,
      normalizeUnicode = false, tokenBudgets = budgets)
    val outT = Curate.run(docs, "doc_id", "text", "source", cfgT).docs
      .select(col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sum).toMap
    assert(outT.keySet == budgets.keySet, s"unbudgeted sources leaked: $outT")
    for ((src, total) <- outT) {
      val maxDoc = docs.filter(col("source") === src)
        .select(TextAnalysis.tokenCount(col("text")).cast("long"))
        .collect().map(_.getLong(0)).max
      assert(total <= budgets(src) + maxDoc,
        s"$src filled $total > budget ${budgets(src)} + overshoot $maxDoc")
      assert(total > 0, s"$src kept nothing")
    }
    // perplexity-band stage keeps EXACTLY the head+middle docs of the
    // same banding computed directly (the CCNet cut)
    val cfgP = Curate.Config(qualityFilter = false, exactDedup = false,
      normalizeUnicode = false, perplexityBands = Seq("head", "middle"))
    val keptP = Curate.run(docs, "doc_id", "text", "source", cfgP)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expectP = graft.ops.LangModel
      .perplexityBuckets(docs, "doc_id", "text", "source")
      .filter(col("band").isin("head", "middle"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptP == expectP && keptP.nonEmpty && keptP.size < docs.count())
  }

  test("end-to-end batch curation: extract -> quality -> dedup -> rebalance -> pack") {
    import graft.ops.{Dedup, Sampling, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // 1. raw crawl: wrap text in HTML, plus exact-dup pages (same content,
    //    different URL) for every 10th doc
    val crawl = docs.select(col("doc_id"), col("source"),
        concat(lit("<html><body><script>track();</script><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
      .unionAll(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
          concat(lit("<html><body><script>track();</script><p>"), col("text"),
            lit("</p></body></html>")).as("html")))
    val n0 = crawl.count()
    // 2. extract + per-row quality signals in ONE projection pass
    val extracted = crawl.select(col("doc_id"), col("source"),
      graft.ops.WebText.htmlExtract(col("html")).as("text"))
    val quality = extracted.filter(
      TextAnalysis.tokenCount(col("text")) >= 10 &&
        TextAnalysis.alphaWordRatio(col("text")) >= 0.8 &&
        graft.functions.compress.deflate_ratio(col("text")) > 0.1)
    // 3. exact dedup (keep min doc_id per fingerprint)
    val deduped = Dedup.exactDedup(quality, "doc_id", "text")
    val n3 = deduped.count()
    assert(n3 == docs.count(), "every planted exact dup must collapse")
    // script body must never survive extraction
    assert(deduped.filter(col("text").contains("track()")).count() == 0)
    // 4. rebalance to uniform mixture and cap per source
    val shares = (0 until 20).map(i => s"src$i" -> 0.05).toMap
    val balanced = Sampling.rebalance(deduped, col("source"), col("doc_id"), shares)
    val capped = Sampling.capPerGroup(balanced, col("source"), col("doc_id"), 15)
    assert(capped.groupBy("source").count().collect().forall(_.getLong(1) <= 15))
    // 5. pack into training sequences; packing preserves every token
    val withTok = capped.withColumn("nt", TextAnalysis.tokenCount(col("text")))
    val packed = TextAnalysis.packSequences(withTok, "doc_id", "nt",
      col("source"), maxTokens = 256)
    val tokIn = withTok.agg(sum(col("nt"))).head().getLong(0)
    val tokOut = packed.agg(sum(col("n_tokens"))).head().getLong(0)
    assert(tokIn == tokOut, s"packing lost tokens: $tokIn != $tokOut")
    assert(n0 > n3 && n3 >= capped.count(), "pipeline must be monotone shrinking")
  }

  test("BPE: guard refuses an unpruned table past maxTableRows") {
    import spark.implicits._
    val corpus = Seq((1L, (0 until 100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Bpe.trainFromCounts(Bpe.wordCounts(corpus, "text"), numMerges = 5,
        maxTableRows = 50L)
    }
  }
}
