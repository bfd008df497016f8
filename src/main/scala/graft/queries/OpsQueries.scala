package graft.queries

import graft.ops.{Bpe, Dedup, Embeddings, Graph, HashFamily, LangModel, Learn, Multimodal, Report, Retrieval, Sampling, Similarity, TextAnalysis, WebText}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline operator queries (SURVEY §7 step 6) wired into the
  * correctness gate. The fixture documents are all-distinct, so dedup
  * queries union a deterministically perturbed copy (ids shifted by
  * 1,000,000; last 3 words dropped) — planted near-duplicates both engines
  * construct identically.
  */
object OpsQueries {

  // Spread.toCores: the fixture files are single-row-group parquet (one
  // scan task), which would serialize every per-row text/vector stage onto
  // one core; a real corpus has thousands of splits and this no-ops.
  private def docs(s: SparkSession, d: String): DataFrame =
    graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet"))

  // One fixed path per (query, sf dir) — keyed by sf so a dev loop that
  // switches scale factors can't probe a stale index built from other data.
  private def scratch(name: String, d: String): String = {
    val slug = d.replaceAll("[^A-Za-z0-9.]+", "_")
    val p = java.nio.file.Paths.get("target", "ann-index-scratch", slug, name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Build-if-absent gate for the persisted ANN indexes. A 100 TB
    * deployment builds these OFFLINE; rebuilding inside every timed query
    * sample overstates probe cost ~10× (round-6 verdict). The marker file
    * makes the build run at most once per scratch dir; Bench forces a
    * fresh build once per run and reports it as a separate `qNNNi` ingest
    * metric (the q100i pattern), so the query number reads as probe-only.
    *
    * The marker RECORDS A FINGERPRINT of the source sf dir (file names +
    * sizes + mtimes): regenerated testdata under the same path — the
    * round-6 events drift, but for parquet contents — must invalidate the
    * cached index, or every probe would silently search stale data (same
    * hazard the sf1 cache guards with its versioned _SF1_COMPLETE).
    */
  private def ensureBuilt(path: String, d: String, force: Boolean)(build: => Unit): String = {
    val marker = java.nio.file.Paths.get(path, "_GRAFT_BUILT")
    // RECURSIVE walk: a table that is a directory (Spark multi-file
    // parquet) can have its part files rewritten in place without the
    // parent entry's size/mtime changing — fingerprint every file under
    // the sf dir, relative path + size + mtime, sorted for stability.
    val root = java.nio.file.Paths.get(d)
    val fp = {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map { p =>
            val f = p.toFile
            s"${root.relativize(p)}:${f.length}:${f.lastModified}"
          }
          .toArray.sorted.mkString("\n")
      } finally walk.close()
    }
    val stale = !java.nio.file.Files.exists(marker) ||
      java.nio.file.Files.readString(marker) != fp
    if (force || stale) {
      build
      java.nio.file.Files.writeString(marker, fp)
    }
    path
  }

  /** q82's offline artifact: plain IVF index over the embeddings table. */
  private[graft] def q82Index(s: SparkSession, d: String, force: Boolean = false): String = {
    val path = scratch("q82_ivf", d)
    ensureBuilt(path, d, force) {
      Similarity.saveIvfIndex(emb(s, d), "vec_id", "embedding", path,
        numCentroids = 16, kmeansIters = 1, numFiles = 8)
    }
  }

  /** q83's offline artifact: PQ codes + codebooks over the embeddings. */
  private[graft] def q83Index(s: SparkSession, d: String, force: Boolean = false): String = {
    val path = scratch("q83_pq", d)
    ensureBuilt(path, d, force) {
      Similarity.savePqIndex(emb(s, d), "vec_id", "embedding", path,
        dim = 64, m = 8, ksub = 16, trainFraction = 0.25)
    }
  }

  /** q130's offline artifact: MinHash-LSH index (band keys + shingle
    * sets, portable family) over the documents table. */
  private[graft] def q130Index(s: SparkSession, d: String, force: Boolean = false): String = {
    val path = scratch("q130_minhash", d)
    ensureBuilt(path, d, force) {
      Dedup.saveMinhashIndex(docs(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", path, threshold = 0.5,
        hash64 = HashFamily.Portable60, numFiles = 8)
    }
  }

  /** q124's offline artifact: BM25 inverted index (token-clustered
    * postings + corpus stats) over the documents table. */
  private[graft] def q124Index(s: SparkSession, d: String, force: Boolean = false): String = {
    // "s2" = stats schema v2 (n_docs, sum_dl): a scratch dir built by the
    // earlier (n_docs, avgdl) writer must not satisfy the marker
    val path = scratch("q124_bm25_s2", d)
    ensureBuilt(path, d, force) {
      Retrieval.saveBm25Index(docs(s, d), "doc_id", "text", path,
        numFiles = 8)
    }
  }

  /** q123's offline artifact: fused IVF-PQ index over the embeddings. */
  private[graft] def q123Index(s: SparkSession, d: String, force: Boolean = false): String = {
    val path = scratch("q123_ivfpq", d)
    ensureBuilt(path, d, force) {
      Similarity.saveIvfPqIndex(emb(s, d), "vec_id", "embedding", path,
        dim = 64, numCentroids = 16, m = 8, ksub = 16,
        trainFraction = 0.25, numFiles = 8)
    }
  }

  /** q113's offline artifact: IVF index over the planted corpus with
    * `label` carried as filterable metadata. */
  private[graft] def q113Index(s: SparkSession, d: String, force: Boolean = false): String = {
    val path = scratch("q113_ivf_meta", d)
    ensureBuilt(path, d, force) {
      val corpus = plantedEmbeddings(s, d).withColumn("label",
        when(col("vec_id") >= 1000000L, lit(9)).otherwise(lit(0)))
      Similarity.saveIvfIndex(corpus, "vec_id", "embedding", path,
        numCentroids = 16, kmeansIters = 1, numFiles = 8,
        metaCols = Seq("label"))
    }
  }

  private def emb(s: SparkSession, d: String): DataFrame =
    graft.ops.Spread.toCores(s.read.parquet(s"$d/embeddings.parquet"))

  /** Base ∪ perturbed copy (id + 1,000,000, last 3 words dropped). */
  private def docsWithPlantedDups(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("source"), col("text"))
    val ws = split(trim(col("text")), "\\s+")
    val perturbed = docs(s, d).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      col("source"),
      concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text"))
    base.unionAll(perturbed)
  }

  /** base ∪ deterministic wobble twin (vec_id + 1e6, +sin(i)·0.02 per
    * component → cosine ≈ 0.994): the ONE definition of the planted
    * embedding fixture. q57/q91, their `_planted` oracles (whose
    * "expected = ALL pairs" claim rests on that cosine), and the sf1
    * scale probe all build from here — a wobble tweak in one place moves
    * every consumer together.
    */
  def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val base = emb(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val pert = base.select((col("vec_id") + 1000000L).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x + sin(i.cast("double")) * 0.02).as("embedding"))
    base.unionAll(pert)
  }

  /** Portable PQ codebook for q107: entry (j, c, i) = the first 60 bits
    * of md5("pq<j>_<c>_<i>") mapped to [-1, 1). MessageDigest here, Spark
    * `md5`, and DuckDB `md5` all produce the same lowercase-hex digest;
    * long→double conversion and the exact power-of-two scale (2^59) are
    * IEEE-identical in both engines, so the oracle rebuilds these exact
    * doubles in SQL. m=8 subspaces × ksub=16 centroids × dsub=8 dims
    * matches the q79/q83/q95 configuration.
    */
  lazy val portablePqCodebooks: Array[Array[Array[Double]]] =
    Array.tabulate(8, 16, 8) { (j, c, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pq${j}_${c}_$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) /
        576460752303423488.0 - 1.0 // 2^59
    }

  private def md5Unit(s: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) /
      576460752303423488.0 - 1.0 // 2^59, uniform [-1, 1)
  }

  /** Portable hyperplane family for q57 (the [[portablePqCodebooks]] move
    * applied to LSH): plane (p, i) = md5("hp<p>_<i>") mapped to [-1, 1).
    * 8 bands × 12 planes × 64 dims matches
    * [[graft.ops.Dedup.embeddingNearDups]]'s default geometry (round 16 —
    * the old 2 × 6 family made the band join a measured quadratic at sf1;
    * the oracle SQL rebuilds the same 96 planes).
    */
  lazy val portableHyperplanes: Array[Array[Double]] =
    Array.tabulate(96, 64) { (p, i) => md5Unit(s"hp${p}_$i") }

  /** Portable planted-perturbation vector for q57: component i shifts by
    * md5("pt<i>")-derived uniform × 0.02 — the sin(i)·0.02 planting of
    * [[plantedEmbeddings]] rebuilt on a primitive both engines evaluate
    * bit-identically (libm `sin` is NOT guaranteed identical across
    * engines; md5 + IEEE arithmetic is).
    */
  lazy val portableDeltas: Array[Double] =
    Array.tabulate(64)(i => md5Unit(s"pt$i") * 0.02)

  private val plantedSql =
    """SELECT doc_id, source, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, source,
      |  array_to_string(ws[1:greatest(len(ws)-3, 1)], ' ') AS text
      |FROM (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ws
      |      FROM documents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis --------------------------------------------------
    "q50_text_stats" -> ((s, d) => {
      val t = docs(s, d)
      t.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_txt"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.tokenEstimate(col("text")).as("n_bpeish"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.meanWordLen(col("text")).as("mean_word_len"))
    }),
    "q51_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    // rolling hash + langid + quality — a FULL oracle since round 6: the
    // quality and langId formulas are engine-portable arithmetic, and the
    // gate's rolling hash runs over the portable md5 60-bit word family
    // (the q56 trick; the production default stays xxhash64), so DuckDB
    // replays every output column exactly.
    "q52_text_scoring" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.rollingHash(col("text"), HashFamily.Portable60)
          .as("rhash"))),
    // ---- dedup ----------------------------------------------------------
    "q53_dedup_exact" -> ((s, d) => {
      // plant exact dups: two extra verbatim copies of every 10th doc
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val copies = docs(s, d).filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.exactGroups(base.unionAll(copies), "doc_id", "text")
    }),
    // FULL oracle since round 6: run over the portable md5 hash family
    // (production default stays xxhash64) — DuckDB rebuilds the identical
    // 64-permutation signatures (the (a,b) literals are embedded in the
    // generated SQL), band keys and verification sets, so the entire
    // LSH pipeline output is hash-compared, not just planted recall.
    "q54_dedup_minhash" -> ((s, d) =>
      Dedup.minhashNearDups(docsWithPlantedDups(s, d), "doc_id", "text",
        threshold = 0.5, hash64 = HashFamily.Portable60)
        .select(col("id_a"), col("id_b"))), // jaccard value checked in q55
    "q55_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardNearDups(docsWithPlantedDups(s, d), "doc_id", "text",
        blockCol = col("source"), threshold = 0.5)),
    // cross-corpus decontamination: near-dup pairs BETWEEN a training
    // corpus and a partially-contaminated benchmark corpus (every 3rd doc,
    // last 3 words dropped) — the near-dup complement of q69's exact
    // shingle hit-rate. FULL oracle over the portable family; jaccard
    // values included (shared hashes → value-exact cross-engine).
    "q110_cross_neardup" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val ws = split(trim(col("text")), "\\s+")
      val bench = docs(s, d).filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text"))
      Dedup.minhashNearDupsAcross(base, bench, "doc_id", "text",
        threshold = 0.5, hash64 = HashFamily.Portable60)
    }),
    // Exact distributed covariance of the embedding matrix — the
    // corpus-sized half of PCA/whitening (the d×d eigensolve is driver-
    // side by design, [[graft.ops.Embeddings]]). Portable mode: each
    // component floor-quantized to 1e-6 (bit-deterministic in every
    // engine), integer sums in DECIMAL(38,0), one fixed-shape double
    // expression at the end — replay is exact by construction.
    "q132_embedding_cov" -> ((s, d) =>
      Embeddings.embeddingCovariance(emb(s, d), "embedding",
          quantizeStep = Some(1e-6))
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"), col("cov"))),
    // D4 prototype pruning (Tirumala et al. 2023): k-means the embedding
    // space, drop the floor(25%) most-prototypical members of each
    // cluster (nearest their centroid = least marginal information).
    // Portable mode (quantized Lloyd means, q59's machinery) → every
    // assignment, rank and keep decision replays bit-for-bit in SQL.
    "q133_prototype_prune" -> ((s, d) =>
      Embeddings.prototypePrune(emb(s, d), "vec_id", "embedding",
        numClusters = 16, dropFrac = 0.25, kmeansIters = 1,
        meanQuantizeInv = Some(1e9))),
    // CCNet head/middle/tail split (Wenzek et al. 2020): per-source
    // equal-depth thirds of the q89 LM cross-entropy ranking, explicit
    // floor-cut arithmetic instead of engine-convention ntile. The
    // decimal-accumulated score replays exactly, so the full banding does.
    "q134_ppl_buckets" -> ((s, d) =>
      LangModel.perplexityBuckets(docs(s, d), "doc_id", "text", "source")),
    // Leakage-free split: q68's near-dup clusters become the atomic split
    // unit — every planted near-dup pair must land on ONE side of the
    // train/test cut (hash of the cluster id, not the doc id).
    "q135_leakfree_split" -> ((s, d) => {
      val t = docsWithPlantedDups(s, d)
      val pairs = Dedup.ngramJaccardNearDups(t, "doc_id", "text",
        blockCol = col("source"), threshold = 0.5)
      Sampling.leakFreeSplit(t, "doc_id", pairs)
    }),
    // Winnowing (MOSS) fingerprint near-dups: planted prefix-sharing
    // copies must surface as fingerprint-sharing pairs; the portable
    // hash family replays every gram hash, window min and df cut in SQL.
    "q136_winnow_neardup" -> ((s, d) =>
      Dedup.winnowNearDups(docsWithPlantedDups(s, d), "doc_id", "text",
        k = 4, w = 4, minShared = 2, maxDf = 256,
        hash64 = HashFamily.Portable60)),
    // Contrastive triples: planted near-dup pairs as positives, ring
    // negatives — anchor/positive/negative all replayed exactly.
    "q142_contrastive" -> ((s, d) => {
      val t = docsWithPlantedDups(s, d)
      val pairs = Dedup.ngramJaccardNearDups(t, "doc_id", "text",
        blockCol = col("source"), threshold = 0.5)
      Sampling.contrastiveTriples(t, "doc_id", pairs)
    }),
    // T5-style span corruption (denoising training-example generation):
    // deterministic word masking, runs merged to sentinel spans; the
    // portable hash replays every mask bit, sentinel index and both
    // output strings exactly.
    "q141_span_corrupt" -> ((s, d) =>
      TextAnalysis.spanCorrupt(docs(s, d), "doc_id", "text",
        denom = 7, hash64 = HashFamily.Portable60)),
    // Bigram top-k continuations (the LM suggestion table): pure integer
    // (count DESC, word ASC) ranking — every row replays exactly.
    "q140_continuations" -> ((s, d) =>
      LangModel.topContinuations(docs(s, d), "doc_id", "text", k = 3)),
    // Soft dedup: q68's clusters as 1/|cluster| training weights — every
    // copy kept, each duplicated item contributing one unit in total.
    "q139_soft_dedup" -> ((s, d) => {
      val t = docsWithPlantedDups(s, d)
      val pairs = Dedup.ngramJaccardNearDups(t, "doc_id", "text",
        blockCol = col("source"), threshold = 0.5)
      Dedup.softDedupWeights(t, "doc_id", pairs)
    }),
    // Content-defined chunking (FastCDC at word granularity) + cross-doc
    // shared-chunk stats: planted prefix-copies share every chunk not
    // touching the trimmed tail; the portable hash family replays each
    // boundary decision, chunk hash and distinct-doc count in SQL.
    "q138_cdc_chunks" -> ((s, d) =>
      Dedup.cdcSharedChunkStats(docsWithPlantedDups(s, d), "doc_id", "text",
        modulus = 16, minDocs = 2, hash64 = HashFamily.Portable60)),
    // Corpus snapshot diff (dataset versioning): v2 drops every 7th doc,
    // rewrites every 5th survivor, adds copies of every 3rd under new
    // ids — each id must classify added/removed/changed/same exactly.
    "q137_corpus_diff" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("text"))
      val after = t.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
        .unionAll(t.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      Report.corpusDiff(t, after, "doc_id", "text")
    }),
    // Exact 13-gram eval decontamination (GPT-3 appendix C shape): eval
    // suite = full copies (dirty), head-slices with tagged tails
    // (partially dirty — only grams inside the untouched prefix match),
    // and fully tagged docs (clean). Portable gram hashes → the oracle
    // replays every gram key and count bit-for-bit.
    "q131_gram_decontam" -> ((s, d) => {
      val t = docs(s, d)
      val ws = split(trim(col("text")), "\\s+")
      val evalDf = t.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
        .unionAll(t.filter(pmod(col("doc_id"), lit(5)) === 1)
          .select((col("doc_id") + 2000000L).as("eval_id"),
            concat_ws(" ", concat(slice(ws, 1, 15),
              transform(slice(ws, 16, 5), w => concat(w, lit("qq"))))).as("text")))
        .unionAll(t.filter(pmod(col("doc_id"), lit(5)) === 2)
          .select((col("doc_id") + 3000000L).as("eval_id"),
            concat_ws(" ", transform(ws, w => concat(w, lit("qq")))).as("text")))
      Dedup.gramContamination(t, "doc_id", "text", evalDf, "eval_id", "text",
        n = 13, gramHash = HashFamily.Portable60)
    }),
    // q110 driven through the PERSISTED LSH index: history sketched once
    // to disk (band keys clustered for file skipping + shingle sets),
    // batch sketched fresh and probed — identical pairs by construction,
    // so it reuses q110's oracle verbatim. The incremental-crawl shape:
    // a new batch probes yesterday's index instead of re-sketching it.
    "q130_minhash_index" -> ((s, d) => {
      val path = q130Index(s, d) // offline build (once); timed part = probe
      val ws = split(trim(col("text")), "\\s+")
      val bench = docs(s, d).filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text"))
      Dedup.minhashNearDupsIndexed(Dedup.loadMinhashIndex(s, path), bench,
        "doc_id", "text", threshold = 0.5,
        hash64 = HashFamily.Portable60)
    }),
    // FULL oracle since round 6 (same portable-family move as q54): the
    // oracle packs the 60 replayed signature bits into a BIGINT and
    // filters ALL pairs by bit_count(xor) <= 3 — exactly this output,
    // because 4x16 banding is pigeonhole-complete for hamming <= 3.
    "q56_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDups(docsWithPlantedDups(s, d), "doc_id", "text",
        maxHamming = 3, wordHash = HashFamily.Portable60)
        .select(col("id_a"), col("id_b"), col("hamming"))),
    // FULL oracle since round 8: md5-seeded portable hyperplanes
    // (planeOverride) + md5-derived planted perturbation make every band
    // key and every cosine a value DuckDB rebuilds exactly — sig dots,
    // norms and pair dots replay as the same left folds the codegen'd
    // kernels run (the q107 discipline). The production Gaussian-plane
    // path keeps its recall gate in q57_planted.
    "q57_embedding_neardup" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val pert = base.select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), typedlit(portableDeltas.toSeq),
          (x, dd) => x + dd).as("embedding"))
      Dedup.embeddingNearDups(base.unionAll(pert),
          "vec_id", "embedding", dim = 64, threshold = 0.95,
          planeOverride = Some(portableHyperplanes))
        .select(col("id_a"), col("id_b"))
    }),
    // ---- planted-recall oracles (the *_planted family) -------------------
    // q57/q91 are rows-only because their FULL output depends on float
    // cosine internals. The planted perturbed copies, however, are
    // deterministic on BOTH engines — so each sketch gets a second gate
    // asserting zero planted misses, hash-compared against the
    // DuckDB-computed expected pair set. A recall regression (banding bug,
    // hash drift, probe bug) now FAILS the gate instead of passing rows-only.
    // (q54/q56 graduated to FULL oracles in round 6 via the portable hash
    // family; q54_planted below still gates the PRODUCTION xxhash64
    // family's recall, which the portable-family gate doesn't exercise.)
    //
    // MinHash recall gate: every planted pair with exact shingle-Jaccard
    // >= 0.8 (comfortably above the 0.5 S-curve midpoint of the 16x4
    // banding, where the deterministic hash family recalls everything)
    // must be recovered, with the exact-verified jaccard value matching.
    "q54_planted" -> ((s, d) => {
      // restrict to docs whose TWIN still has >= 3 words (>= 6 before the
      // 3-word drop): below that, Spark's whole-text fallback shingle and
      // DuckDB's NULL-padded slice represent degenerate docs differently
      // (latent on the >= 48-char fixtures; explicit so a fixture change
      // can't flip the gate)
      val eligible = docs(s, d)
        .filter(TextAnalysis.tokenCount(col("text")) >= 6)
        .select(col("doc_id").as("id_a"))
      Dedup.minhashNearDups(docsWithPlantedDups(s, d), "doc_id", "text",
          threshold = 0.5)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .filter(col("jaccard") >= 0.8)
        .join(eligible, "id_a")
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),
    // SimHash recall gate over a PORTABLE hash family: md5-derived 60-bit
    // word hashes (computable in both engines) replace xxhash64, so the
    // oracle reproduces the signature bit-for-bit and the expected set is
    // EXACT — 4x16 banding is pigeonhole-complete for hamming <= 3, so
    // recovered == {planted pairs with hamming <= 3}, no slack needed.
    "q56_planted" -> ((s, d) => {
      val hs = transform(graft.ops.TextAnalysis.words(col("text")),
        w => conv(substring(md5(w), 1, 15), 16, 10).cast("long"))
      val sigs = docsWithPlantedDups(s, d)
        .select(col("doc_id").as("id"), hs.as("hs"))
        .select(col("id"), Dedup.simhashFromHashes(col("hs")).as("sig"))
      Dedup.bandedHamming64Pairs(sigs, maxHamming = 3)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),
    // Hyperplane-LSH recall gate: every planted wobble pair sits at cosine
    // ~0.994 >> 0.95, so the expected set is ALL of them; 8 OR-ed bands
    // (vs the default 2) drive the deterministic miss set to empty.
    "q57_planted" -> ((s, d) =>
      Dedup.embeddingNearDups(plantedEmbeddings(s, d), "vec_id", "embedding",
          dim = 64, threshold = 0.95)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))),
    // Cross-corpus SEMANTIC decontamination recall gate: right side = the
    // canonical wobble twins mapped back into their own id space (cosine
    // ~0.994 >> 0.95), 8 OR-ed bands as in q57_planted → the deterministic
    // expected set is ALL (vec_id, vec_id) pairs; restricting to the
    // planted shape keeps the gate exact (cross base-to-base matches are
    // engine-internal float decisions, same rationale as q57).
    "q111_cross_semantic" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val bench = plantedEmbeddings(s, d).filter(col("vec_id") >= 1000000L)
        .select((col("vec_id") - 1000000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupsAcross(base, bench, "vec_id", "embedding",
          dim = 64, threshold = 0.95)
        .filter(col("left_id") === col("right_id"))
        .select(col("left_id"), col("right_id"))
    }),
    // SemDedup recall gate: a planted twin is near-identical to its base,
    // so both land in the same k-means cell; nProbe = 4 (vs the default 2)
    // covers every boundary straddle — at sf0.1 four of 2000 twins had
    // disjoint top-2 probe sets, so the default misses deterministically.
    // The cluster-blocked compare must recover every pair at every SF.
    "q91_planted" -> ((s, d) =>
      Dedup.semanticNearDups(plantedEmbeddings(s, d), "vec_id", "embedding",
          numClusters = 16, threshold = 0.95, nProbe = 4)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))),
    // ---- similarity search ---------------------------------------------
    "q58_knn_bruteforce" -> ((s, d) => {
      val corpus = emb(s, d)
      Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),
    // same contract as q58 through the typed TopKAggregator UDAF —
    // map-side bounded top-k instead of a full window shuffle
    "q63_knn_topk_agg" -> ((s, d) => {
      val corpus = emb(s, d)
      Similarity.bruteForceTopKAgg(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),
    // FULL oracle since round 8: with quantized Lloyd means (1e-9 —
    // order-independent integer sums, one fixed mean shape) every number
    // in the IVF pipeline is SQL-replayable: seed centroids are the 16
    // smallest ids, assignment/probe argmaxes order by (cosine DESC, cid
    // ASC) — TopCentroids' strict-> selection over cid-sorted arrays —
    // and cosines are the same left folds the q57 oracle replays.
    "q59_knn_ivf" -> ((s, d) => {
      val corpus = emb(s, d)
      Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, numCentroids = 16, nProbe = 4,
        meanQuantizeInv = Some(1e9))
    }),
    // ANN self-recovery contract — an EXACT oracle over the approximate
    // index (the q59 ranks stay rows-only, but this invariant is hash-
    // checkable): a corpus vector probed through the IVF path must find
    // ITSELF at rank 1, because its top-1 probe cell IS its assignment
    // cell (same argmax over the same centroids) and exact-cosine scoring
    // puts the identical vector first. Exercises train → assign → probe →
    // score → top-k end to end; a bug anywhere in that chain breaks it.
    "q106_ann_self" -> ((s, d) => {
      val corpus = emb(s, d)
      val probe = corpus.filter(col("vec_id") < 50)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      Similarity.ivfTopK(corpus, probe, "vec_id", "embedding", k = 1,
          numCentroids = 16, nProbe = 1)
        .select((col("query_id") - 5000000L).as("query_id"), col("vec_id"),
          col("rank"))
    }),
    // FILTERED vector search self-exclusion gate: corpus = base ∪ wobble
    // twins, twins labeled 9, index built with `label` carried as
    // metadata, probe restricted to label = 9. Each base vector's nearest
    // label-9 neighbor is its own twin (cosine ≈ 0.994 vs near-orthogonal
    // strangers — the q57_planted separation argument), while its
    // UNfiltered nearest is its identical base copy at cosine 1.0: a
    // broken or post-applied filter flips the answer, so the oracle
    // genuinely gates the filtering. nProbe = 4 covers assignment
    // boundary straddles (the q91_planted finding).
    "q113_filtered_ann" -> ((s, d) => {
      val path = q113Index(s, d) // offline build (once); timed part = probe
      Similarity.ivfTopKWithIndexWhere(Similarity.loadIvfIndex(s, path),
          plantedEmbeddings(s, d).filter(col("vec_id") < 1000000L),
          "vec_id", "embedding", k = 1, pred = col("label") === 9,
          nProbe = 4)
    }),
    // chunk->doc embedding pooling: vec_id % 100 groups play chunk sets;
    // element-wise DECIMAL-exact mean then L2 normalization, exploded to
    // (group, dim, value) scalars for the hash compare. The oracle
    // recomputes every coordinate from the raw floats — a wrong mean,
    // norm, or dimension ordering shifts every output row.
    "q117_mean_pool" -> ((s, d) => {
      val chunks = emb(s, d)
        .select((col("vec_id") % 100).as("g"), col("embedding"))
      Similarity.meanPoolEmbeddings(chunks, "g", "embedding")
        .select(col("g").as("group_id"), col("n_chunks"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("group_id"), col("n_chunks"),
          col("dim").cast("long").as("dim"), col("v"))
    }),
    // product-quantization ANN: 8-byte codes + per-query ADC tables —
    // approximate ranks, so rows-only gate; recall vs brute force is
    // asserted in OpsSpec
    // FULL oracle since round 8: the md5 hash-sample, quantized Lloyd
    // re-centering (floor(x*1e9+0.5) sums), PqEncode's strict-< argmin,
    // PqTables' squared-distance folds and the j-ordered ADC sum are all
    // SQL-replayable value-for-value; DuckDB re-trains both iterations
    // and re-ranks every query.
    "q79_knn_pq" -> ((s, d) => {
      val corpus = emb(s, d)
      // trainFraction < 1: codebooks train on the deterministic hash-sample
      // (the 100 TB shape — the sample is localCheckpointed so Lloyd passes
      // don't rescan the corpus)
      Similarity.pqTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, m = 8, ksub = 16,
        trainFraction = 0.25, meanQuantizeInv = Some(1e9))
    }),
    // persisted-index twins of q59/q79: train+assign/encode ONCE to disk,
    // reload, probe — the index a 100 TB deployment builds offline instead
    // of re-training per query. Round 7 made both FULLY oracle'd by
    // driving the q106 self-recovery contract through the SAVED index
    // (save → load → probe → find self at rank 1 is hash-exact: the
    // probe's top-1 cell IS its assignment cell and exact cosine puts the
    // identical vector first); the richer top-5 ranks stay asserted
    // against the in-memory path in OpsSpec.
    "q82_knn_ivf_index" -> ((s, d) => {
      val path = q82Index(s, d) // offline build (once); timed part = probe
      val probe = emb(s, d).filter(col("vec_id") < 50)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      Similarity.ivfTopKWithIndex(Similarity.loadIvfIndex(s, path), probe,
          "vec_id", "embedding", k = 1, nProbe = 1)
        .select((col("query_id") - 5000000L).as("query_id"), col("vec_id"),
          col("rank"))
    }),
    // the q95_planted contract through the PERSISTED fused index: save →
    // load → probe → exact-refine must recover self at rank 1 (top-1
    // probe cell = assignment cell; residual ADC self-distance is the
    // global minimum over code combinations; the refine pass's exact
    // cosine puts the identical vector strictly first).
    "q123_ivfpq_index_self" -> ((s, d) => {
      val path = q123Index(s, d) // offline build (once); timed part = probe
      val probe = emb(s, d).filter(col("vec_id") < 50)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      Similarity.ivfPqTopKWithIndexRefine(Similarity.loadIvfPqIndex(s, path),
          emb(s, d), probe, "vec_id", "embedding", k = 1, nProbe = 1,
          refine = 8)
        .select((col("query_id") - 5000000L).as("query_id"), col("vec_id"),
          col("rank"))
    }),
    // PQ self-recovery needs the exact-refine tail: ADC alone ties
    // whenever another vector shares the probe's 8-byte codes (self's ADC
    // distance is the GLOBAL minimum — per-subspace argmin — so it can
    // only tie, never lose, but a smaller-id code-collision would out-rank
    // it). refine=8 rescores the ADC top-8 with exact cosine, where the
    // identical vector is strictly first.
    "q83_knn_pq_index" -> ((s, d) => {
      val path = q83Index(s, d) // offline build (once); timed part = probe
      val probe = emb(s, d).filter(col("vec_id") < 50)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      Similarity.pqTopKWithIndexRefine(Similarity.loadPqIndex(s, path),
          emb(s, d), probe, "vec_id", "embedding", k = 1, refine = 8)
        .select((col("query_id") - 5000000L).as("query_id"), col("vec_id"),
          col("rank"))
    }),
    // fused IVF-PQ: coarse cells bound the scan (nProbe/C of the corpus),
    // residual 8-byte codes bound the bytes, exact refine recovers rank
    // quality — the architecture a 100 TB vector index deploys. Approximate
    // → rows-only gate; recall + index round-trip asserted in OpsSpec.
    // FULL oracle since round 8 (completes the ANN family): coarse
    // k-means on unit vectors, residual encode, two PQ Lloyd rounds and
    // the ADC probe all replay with the q59/q79 portable machinery; the
    // exact-cosine refine tail replays as the q57-style folds.
    "q95_knn_ivfpq" -> ((s, d) => {
      val corpus = emb(s, d)
      Similarity.ivfPqTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, numCentroids = 16,
        nProbe = 4, m = 8, ksub = 16, trainFraction = 0.25, refine = 4,
        meanQuantizeInv = Some(1e9))
    }),
    // IVF-PQ self-recovery contract — the q106 invariant driven through
    // the FUSED index: a corpus vector probed through IVF-PQ must find
    // itself at rank 1, because its top-1 probe cell is its assignment
    // cell, its residual ADC self-distance is the (small) quantization
    // error, and the exact-cosine refine pass puts the identical vector
    // first whenever ADC keeps it among the k·refine candidates. refine=8
    // gives the ADC stage 8 candidate slots for a k=1 answer — margin
    // verified empirically at sf0.001/0.01/0.1 (deterministic pipeline:
    // green locally = green at the gate). Exercises coarse train → assign
    // → residual PQ train → encode → probe → ADC → refine end to end.
    "q95_planted" -> ((s, d) => {
      val corpus = emb(s, d)
      val probe = corpus.filter(col("vec_id") < 50)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      Similarity.ivfPqTopK(corpus, probe, "vec_id", "embedding", k = 1,
          dim = 64, numCentroids = 16, nProbe = 1, m = 8, ksub = 16,
          trainFraction = 0.25, refine = 8)
        .select((col("query_id") - 5000000L).as("query_id"), col("vec_id"),
          col("rank"))
    }),
    // PQ encode against the PORTABLE md5-seeded codebook: every 4-bit code
    // is recomputed independently by DuckDB (argmin over 16 centroids per
    // subspace, same left-fold double arithmetic), so the encode kernel —
    // the byte layout a 100 TB PQ index stores — is gated cell-by-cell,
    // not via recall. Same trick as q56's portable hash family: seed the
    // sketch from md5 both engines compute identically, then the whole
    // pipeline replays in SQL.
    "q107_pq_codes" -> ((s, d) =>
      Similarity.pqEncode(emb(s, d), "vec_id", "embedding",
          portablePqCodebooks)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          col("code").cast("long").as("code"))),
    // BM25 full-text retrieval: the lexical face of similarity search —
    // five fixed keyword queries against the document corpus, scored with
    // Lucene-shaped BM25, per-doc sums decimal-accumulated so ranks and
    // scores are engine-exact (the q89 trick)
    "q96_bm25_topk" -> ((s, d) => {
      val qdf = s.createDataFrame(Seq(
        (0L, "spark join merge"), (1L, "window hash scan"),
        (2L, "customer data line"), (3L, "stream batch dup"),
        (4L, "filter sort agg slow"))).toDF("qid", "qtext")
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        qdf, "qid", "qtext", k = 10)
    }),
    // q96 through the PERSISTED inverted index: tokenize+count once to a
    // token-clustered postings table, probe with `token IN (...)` pushed
    // to the scan (file skipping = the inverted-index seek). Identical
    // scoring tail to the live pass ⇒ reuses q96's oracle verbatim.
    "q124_bm25_index" -> ((s, d) => {
      val path = q124Index(s, d) // offline build (once); timed part = probe
      val qdf = s.createDataFrame(Seq(
        (0L, "spark join merge"), (1L, "window hash scan"),
        (2L, "customer data line"), (3L, "stream batch dup"),
        (4L, "filter sort agg slow"))).toDF("qid", "qtext")
      Retrieval.bm25TopKWithIndex(Retrieval.loadBm25Index(s, path),
        qdf, "qid", "qtext", k = 10)
    }),
    // IR evaluation harness: recall@10 / MRR / nDCG@10 of the q96 BM25
    // ranking against deterministic boolean-AND relevance (doc is
    // relevant iff it contains EVERY distinct query term) — the QA gate a
    // retrieval pipeline runs after any index or scorer change. DCG terms
    // go through the DECIMAL(20,6) cast (the q96 ln playbook) so both
    // engines sum identical decimals.
    "q125_ir_eval" -> ((s, d) => {
      val qdf = s.createDataFrame(Seq(
        (0L, "spark join merge"), (1L, "window hash scan"),
        (2L, "customer data line"), (3L, "stream batch dup"),
        (4L, "filter sort agg slow"))).toDF("qid", "qtext")
      // rank through the PERSISTED index probe (score-identical to the
      // live bm25TopK by construction — shared scoring tail, q124's
      // append/compact identity gates) instead of re-scoring the corpus:
      // an evaluation harness at 100 TB probes the index it is grading,
      // it does not re-tokenize the corpus per metric run. The relevance
      // pass below still scans the corpus once — that part IS the gate.
      val ranked = Retrieval.bm25TopKWithIndex(
        Retrieval.loadBm25Index(s, q124Index(s, d)), qdf, "qid", "qtext", k = 10)
      val qterms = qdf.select(col("qid").cast("long").as("query_id"),
        explode(array_distinct(split(trim(col("qtext")), "\\s+"))).as("token"))
      val nterms = qterms.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
      val docToks = docs(s, d).select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("token"))
      val relevant = docToks.join(broadcast(qterms), Seq("token"))
        .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("m"))
        .join(broadcast(nterms), Seq("query_id"))
        .filter(col("m") === col("n_terms"))
        .select(col("query_id"), col("doc_id"))
      Retrieval.evalBinaryRetrieval(ranked, relevant, k = 10)
    }),
    // hybrid retrieval: RRF fusion of the BM25 list (q96's five queries)
    // with the dense cosine list (the same ids' embeddings) — the RAG
    // combiner. Fully oracle-checked: both input rankings already hash-
    // match DuckDB (q96/q58 machinery), and the fused score is a two-term
    // double sum, so ranks, null sides, and scores all replay exactly.
    "q118_hybrid_rrf" -> ((s, d) => {
      val qdf = s.createDataFrame(Seq(
        (0L, "spark join merge"), (1L, "window hash scan"),
        (2L, "customer data line"), (3L, "stream batch dup"),
        (4L, "filter sort agg slow"))).toDF("qid", "qtext")
      val lex = Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
          qdf, "qid", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val corpus = emb(s, d)
      val dense = Similarity.bruteForceTopK(corpus,
          corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, dense, k = 10)
    }),
    // edit-distance fuzzy-dup self-join at ed<=2 over 40-char prefixes;
    // every 5th doc gets a planted one-deletion twin (+1e6). PassJoin
    // blocking has recall exactly 1, so the FULL output (organic pairs
    // included) hash-compares against DuckDB's all-pairs levenshtein.
    "q119_edit_distance" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        substring(trim(col("text")), 1, 40).as("nm"))
      val planted = base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("p", (col("doc_id") % 20 + 3).cast("int"))
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("substring(nm, 1, p - 1)"),
            expr("substring(nm, p + 1)")).as("nm"))
      Dedup.editDistanceNearDups(base.unionByName(planted), "doc_id", "nm",
        k = 2)
    }),
    // cross-table fuzzy linkage at ed<=1: "benchmark" strings (every 7th
    // doc's 30-char prefix with one substituted char, +2e6) matched back
    // to the corpus — the typo-tolerant decontamination / record-linkage
    // shape. Full oracle: all-pairs DuckDB levenshtein.
    "q120_edit_linkage" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        substring(trim(col("text")), 1, 30).as("nm"))
      val bench = corpus.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("p", (col("doc_id") % 10 + 4).cast("int"))
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(expr("substring(nm, 1, p - 1)"), lit("z"),
            expr("substring(nm, p + 1)")).as("nm"))
      Dedup.editDistanceJoin(corpus, bench, "doc_id", "nm", k = 1)
        .select(col("id_l").as("corpus_id"), col("id_r").as("bench_id"),
          col("dist"))
    }),
    // temperature-scaled mixture (α=0.5, XLM-R/mT5 recipe) over a
    // synthesized skewed stratum split (the fixture's sources are
    // uniform, which would degenerate to keep-all): output mixture
    // ∝ √n_s, decided by an integer cross-multiplied hash predicate
    // the oracle replays exactly.
    "q129_temperature_mix" -> ((s, d) => {
      val grp = when(pmod(col("doc_id"), lit(10)) < 5, "big")
        .when(pmod(col("doc_id"), lit(10)) < 8, "mid")
        .otherwise("small")
      Sampling.temperatureMix(
        docs(s, d).select(col("doc_id"), grp.as("grp")),
        col("grp"), col("doc_id"))
    }),
    // model-based quality filtering (fasttext/CCNet shape): hashed
    // unigram+bigram features · md5-derived stand-in weight vector,
    // mean-pooled per-doc logit — scored per row in whole-stage codegen,
    // zero shuffle. Integer weight sums → the oracle replays every logit
    // bit-for-bit.
    "q121_quality_classifier" -> ((s, d) =>
      TextAnalysis.qualityClassify(docs(s, d), "doc_id", "text")),
    // DSIR-shaped importance weighting: hashed-unigram count contrast
    // between a target domain slice (src0-2) and the rest of the pool,
    // cross-multiplied integer discriminant (no floating logs), DECIMAL
    // accumulation — count table bounded at 2^16 rows → broadcast.
    "q122_dsir_weights" -> ((s, d) =>
      Sampling.importanceWeights(docs(s, d), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"),
        wordHash = HashFamily.Portable60)),
    // in-engine classifier TRAINING (batch perceptron over hashed
    // unigrams, weak source labels — q122's framing upgraded from a fixed
    // discriminant to a learned margin): integer-exact updates, so the
    // oracle replays all 3 epochs verbatim
    "q144_perceptron_quality" -> ((s, d) =>
      Learn.perceptronClassify(docs(s, d), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"),
        wordHash = HashFamily.Portable60)),
    // the COMPOSED curation pipeline (Curate.run), end-to-end: quality
    // filter → exact dedup keep-first → MinHash near-dup keep-reps →
    // DSIR selection → per-source cap, all over the portable md5 hash
    // family so the single DuckDB oracle replays the whole chain (each
    // stage's input is the previous stage's OUTPUT — composition is what
    // this gates; every stage is also gated alone: q71/q53/q54+q68/
    // q122/q81). Deliberate exclusions, stated: normalizeUnicode=false
    // (NFC is identity on the ASCII fixture and DuckDB has no NFC
    // builtin); the trained-classifier stage REFUSES on this corpus by
    // design (weak source labels carry no learnable textual signal in
    // the synthetic text — the perceptron collapses to one class, and
    // CurationSpec pins exactly that loud refusal), so learned selection
    // is represented by DSIR here and the perceptron stays gated via
    // q144 + its own spec.
    // blocked-term score (the Dolma-style tagger form of q101's binary
    // filter): flagged-token fraction per doc, terms planted into every
    // 5th doc; integer numerator/denominator → the double divides
    // identically in both engines
    "q150_blocked_term_score" -> ((s, d) => {
      val planted = docs(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" BadWordA neutral badwordb")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
        WebText.blockedTermScore(col("text"),
          Seq("badworda", "badwordb", "neverseen")).as("score"),
        // empty-filtered count — the score's own denominator, so the two
        // output columns can never disagree about what a token is
        size(filter(TextAnalysis.words(col("text")),
          w => length(w) > 0)).cast("long").as("n_tokens"))
    }),
    // PII masking (the RefinedWeb/Dolma scrub): emails/phones/IPs planted
    // into every 7th doc, masked to typed tokens; the gate hashes the
    // masked text AND counts each kind pre-mask — regexes live in the
    // Java-regex ∩ RE2 subset so DuckDB replays masking and counting
    // verbatim.
    "q149_pii_mask" -> ((s, d) => {
      val planted = docs(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com call +1 555-0"),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
            lit(" host 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".7 end")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
        md5(WebText.maskPii(col("text"))).as("masked_md5"),
        WebText.piiCount(col("text"), "email").as("n_email"),
        WebText.piiCount(col("text"), "phone").as("n_phone"),
        WebText.piiCount(col("text"), "ip").as("n_ip"))
    }),
    "q147_curate_pipeline" -> ((s, d) => {
      val cfg = graft.ops.Curate.Config(
        normalizeUnicode = false,
        qualityFilter = true,
        exactDedup = true,
        nearDupThreshold = Some(0.5),
        dsirTargetSources = Seq("src0", "src1", "src2"),
        capPerSource = Some(15),
        wordHash = HashFamily.Portable60)
      graft.ops.Curate.run(docs(s, d), "doc_id", "text", "source", cfg).docs
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
    }),
    // overlapping token-window chunking (20-word windows, 5-word overlap);
    // chunk content proven identical via md5
    "q65_chunking" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.chunks(col("text"), chunkTokens = 20, overlap = 5)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").cast("long").as("chunk_idx"),
          TextAnalysis.tokenCount(col("c.chunk")).cast("long").as("chunk_tokens"),
          md5(col("c.chunk")).as("chunk_md5"))),
    // word-uniqueness / repetition quality signals
    "q66_repetition_stats" -> ((s, d) => {
      val ws = split(trim(col("text")), "\\s+")
      docs(s, d).select(col("doc_id"),
        (size(array_distinct(ws)).cast("double") / size(ws).cast("double")).as("uniq_ratio"),
        array_max(transform(ws, w => length(w))).cast("long").as("max_word_len"))
    }),
    // PII scrub: plant synthetic emails/phones, redact, prove removal —
    // redacted content compared by md5 across engines
    "q67_pii_redaction" -> ((s, d) => {
      val withPii = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-01"), lpad(pmod(col("doc_id"), lit(100)), 2, "0"),
          lit("-9999")).as("text"))
      withPii.select(col("doc_id"),
        md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"),
        (length(col("text")) - length(TextAnalysis.redactPii(col("text"))))
          .cast("long").as("len_delta"))
    }),
    // deterministic 75/25 content-hash split, stratified counts by source
    "q64_train_test_split" -> ((s, d) =>
      docs(s, d)
        .withColumn("split", TextAnalysis.hashSplit(col("doc_id")))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))),
    // near-dup pairs → connected components → (id, cluster=min id):
    // the decision step of dedup; iterative min-label propagation
    "q68_dup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardNearDups(docsWithPlantedDups(s, d),
        "doc_id", "text", blockCol = col("source"), threshold = 0.5)
      Dedup.dupClusters(pairs)
    }),
    // quality-aware cluster resolution over the same pair feed as q68:
    // keep the highest-word-count member of each dup cluster (ties -> min
    // id), singletons keep themselves. The planted dups are TRUNCATED
    // copies, so keep-longest must select every base doc over its planted
    // twin — min-id resolution would pass trivially here, but the oracle
    // window re-ranks by (score DESC, id ASC), so a wrong score column,
    // a lost singleton, or a two-keep cluster all hash-mismatch.
    "q115_keep_best" -> ((s, d) => {
      val planted = docsWithPlantedDups(s, d)
      val pairs = Dedup.ngramJaccardNearDups(planted,
        "doc_id", "text", blockCol = col("source"), threshold = 0.5)
      Dedup.keepBestPerCluster(planted, pairs, "doc_id",
        size(split(trim(col("text")), "\\s+")).cast("long"))
    }),
    // token-budget corpus mixing: even sources get a 600-token budget,
    // odd a 150-token one, src16+ none at all — docs admitted in md5 hash
    // order until each stratum's budget fills (overshoot <= 1 doc). The
    // oracle replays the identical hash order with a single running-sum
    // window; the operator's two-level bucketed prefix sum must be
    // bit-identical to it at every scale.
    "q116_token_budget_mix" -> ((s, d) => {
      val budgets = (0 until 16)
        .map(i => s"src$i" -> (if (i % 2 == 0) 600L else 150L)).toMap
      Sampling.tokenBudgetMix(
        docs(s, d).select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), budgets)
    }),
    // train/test contamination: per test doc, the fraction of its distinct
    // shingles that appear anywhere in the train split (same hash split as
    // q64). At real scale the join key would be xxhash64(shingle) — strings
    // here solely for DuckDB-oracle comparability.
    "q69_contamination" -> ((s, d) => {
      val base = docs(s, d)
        .withColumn("split", TextAnalysis.hashSplit(col("doc_id")))
      val sh = base.select(col("doc_id"), col("split"),
        explode(TextAnalysis.shingles(col("text"), 3)).as("sh"))
      val train = sh.filter(col("split") === "train")
        .select(col("sh").as("tsh")).distinct()
      sh.filter(col("split") === "test")
        .join(train, col("sh") === col("tsh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), count(col("tsh")).as("n_hit"),
          (count(col("tsh")).cast("double") / count(lit(1)).cast("double"))
            .as("hit_ratio"))
    }),
    // vocabulary building: top-20 tokens per source by frequency
    // (ties by token) — explode → partial-agg count → per-group top-k
    "q70_vocab_topk" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n").desc, col("token"))
      docs(s, d)
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 20)
    }),
    // composite quality filter with reason codes (C4-style): per-row only,
    // zero shuffles; keep_flag emitted as 0/1 bigint for oracle parity
    "q71_quality_filter" -> ((s, d) => {
      val ws = split(trim(col("text")), "\\s+")
      val nTokens = size(ws).cast("long")
      val uniqRatio = size(array_distinct(ws)).cast("double") / size(ws).cast("double")
      val maxWord = array_max(transform(ws, w => length(w))).cast("long")
      // thresholds shared with Report.perSource via TextAnalysis.Quality*
      val reasons = concat_ws(";",
        when(nTokens < TextAnalysis.QualityMinTokens, lit("too_short")),
        when(uniqRatio < TextAnalysis.QualityMinUniqRatio, lit("low_diversity")),
        when(maxWord > TextAnalysis.QualityMaxWordLen, lit("long_token")))
      docs(s, d).select(col("doc_id"),
        nTokens.as("n_tokens"),
        reasons.as("reasons"),
        when(reasons === "", 1L).otherwise(0L).as("keep_flag"))
    }),
    // keyword extraction: per doc the top token by term frequency, with
    // corpus document-frequency as the rarity tie-break (tf-idf ranking on
    // integer keys — deterministic across engines, unlike float tf*idf
    // whose last-ulp ln() differences could flip near-ties)
    "q72_keywords" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      val dfreq = toks.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("df").asc, col("token"))
      tf.join(dfreq, "token")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("keyword"),
          col("cnt"), col("df"))
    }),
    // sample packing: greedy fixed-budget sequence packing per source
    // (id order, 256-token budget) — the training-batch assembly step
    "q73_sequence_packing" -> ((s, d) =>
      TextAnalysis.packSequences(
        docs(s, d).withColumn("nt", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", col("source"), maxTokens = 256)),
    // LPT epoch sharding: 8 fixed shards per source, token-balanced —
    // the oracle replays the greedy lightest-shard walk (list-state CTE)
    // reproducible per-epoch training order (the dataloader's shuffle,
    // engine-replayable): position 1..n by md5(seed:epoch:id)
    "q146_epoch_order" -> ((s, d) =>
      Sampling.epochOrder(docs(s, d), "doc_id", "ep", epoch = 1)),
    "q145_shard_balance" -> ((s, d) =>
      TextAnalysis.shardBalanceLPT(
        docs(s, d).withColumn("nt", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", col("source"), numShards = 8)),
    // hierarchical LPT (q145's corpus-scale mode): sub-group LPT then a
    // shard-of-shards merge — the oracle replays BOTH levels (two
    // list-state CTE walks chained through the super-item aggregation).
    // Portable md5 sub-group hash so DuckDB buckets identically
    // (production default stays xxhash64).
    "q148_shard_balance_hier" -> ((s, d) =>
      TextAnalysis.shardBalanceLPTHierarchical(
        docs(s, d).withColumn("nt", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", col("source"), numShards = 4, subGroups = 4,
        subHash = HashFamily.Portable60)),
    // best-fit-decreasing packing (q73's bin-packing upgrade): the oracle
    // replays the FULL BFD walk in DuckDB — a recursive CTE whose state
    // carries the open-bin fill/count LISTS, placing docs in (tokens DESC,
    // id ASC) order into the fullest feasible bin (ties → lowest id)
    "q143_sequence_packing_bfd" -> ((s, d) =>
      TextAnalysis.packSequencesBFD(
        docs(s, d).withColumn("nt", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", col("source"), maxTokens = 256)),
    // duplicated-span coverage: fraction of each doc under word 3-grams
    // that also occur in other documents (the "duplicate text fraction"
    // curation signal — catches partial/boilerplate duplication that
    // whole-document near-dup misses). The gate keys grams with the
    // portable md5 family and the oracle joins on the SAME keys, so both
    // engines share 64-bit collision behavior exactly (production default
    // stays xxhash64).
    // duplicated-span EXCISION (q74's removal mode): rewrite each planted
    // doc with every token covered by a cross-doc duplicated 3-gram
    // removed; gate compares md5 of the rewritten text — a one-token
    // drift anywhere flips the hash. Portable gram keys (the q74 family)
    // so collision behavior is shared with the oracle.
    "q126_excise_spans" -> ((s, d) =>
      Dedup.exciseDupSpans(docsWithPlantedDups(s, d), "doc_id", "text",
          gramHash = HashFamily.Portable60)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))),
    "q74_dup_spans" -> ((s, d) =>
      Dedup.dupSpanStats(docsWithPlantedDups(s, d), "doc_id", "text", n = 3,
        gramHash = HashFamily.Portable60)),
    // deterministic stratified sampling: per-source hash-sample fractions
    // (full src0, half src1, quarter src2, 10% elsewhere) — reproducible
    // and join-stable, unlike rand()
    "q75_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(docs(s, d).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultFraction = 0.1)),
    // int8 embedding quantization: per-vector min-max codes — emitted as
    // integer aggregates (code sum/first/max) plus the double mn/mx scale
    "q76_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(emb(s, d), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("mn"), col("mx"),
          aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          element_at(col("codes"), 1).as("q0"),
          array_max(col("codes")).as("q_max"))),
    // incremental dedup: which incoming docs are content-novel vs a
    // historical corpus — bloom prefilter + exact anti-join confirm;
    // planted re-id'd copies of every 7th doc must NOT come out novel
    // unless their content is outside the historical set
    "q77_bloom_novel" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val hist = base.filter(pmod(col("doc_id"), lit(2)) === 0 ||
        pmod(col("doc_id"), lit(3)) === 0)
      val incoming = base.unionAll(
        base.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      Dedup.novelAgainst(incoming, hist, "doc_id", "text",
        expectedItems = 100000L, fpp = 0.01)
        .select(col("doc_id"))
    }),
    // Unicode canonicalization: NFC + accent folding over text planted
    // with composed (é) vs decomposed (e + U+0301) suffixes — both forms
    // must md5-converge after NFC, across engines
    "q78_normalize" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit(" café señor")) // composed
            .otherwise(lit(" café señor"))) // decomposed
          .as("t"))
      val nfc = graft.functions.textnorm.nfc_normalize(col("t"))
      planted.select(col("doc_id"),
        md5(nfc).as("nfc_md5"),
        md5(graft.functions.textnorm.strip_accents(nfc)).as("ascii_md5"),
        length(nfc).cast("long").as("nfc_len"))
    }),
    // per-source document cap: keep a deterministic 10-doc uniform subset
    // of every source (the anti-domination rule for skewed crawls)
    "q81_cap_per_group" -> ((s, d) =>
      Sampling.capPerGroup(docs(s, d).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), maxRows = 10)),
    // exact frequent tokens (> 1/40 of all token positions) via a
    // Misra-Gries candidate pass + exact re-count — bounded-state shape
    // for huge vocabularies, provably exact output
    "q80_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyTokens(docs(s, d), "text", denom = 40, k = 64)),
    // ---- multimodal -----------------------------------------------------
    "q60_multimodal_meta" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
      media.join(Multimodal.planResize(media, maxSide = 512), Seq("media_id"))
        .select(col("media_id"), col("kind"),
          octet_length(col("bytes")).cast("long").as("n_bytes"),
          col("target_w"), col("target_h"))
    }),
    "q61_multimodal_features" -> ((s, d) => {
      // REAL codec path: text → genuine PNG/WAV/packed-frame bytes →
      // ImageIO/AudioSystem decode → pixel/sample-derived features.
      // PNG and WAV are LOSSLESS, so the decoded pixels/samples equal the
      // deterministic render exactly — the full 16-bin histogram is
      // therefore predictable from the text bytes alone, and the DuckDB
      // oracle recomputes ALL 16 bins analytically (same float32
      // count/total division) without ever touching a codec. A decoder
      // regression anywhere (header parse, pixel order, sample width,
      // frame unpack) lands in some bin and hash-mismatches.
      val media = Multimodal.encodedMediaFromDocuments(docs(s, d))
      val bins = (0 until 16).map(j =>
        element_at(col("features"), j + 1).cast("double").as(f"f$j%02d"))
      Multimodal.extractFeatures(media).toDF()
        .select(Seq(col("media_id"), col("kind"), col("decode_ok")) ++ bins: _*)
    }),
    // perceptual image near-dedup: every image doc gets a brightness-
    // shifted re-render twin (+8 per channel — integer luma shifts exactly,
    // so dHash is bit-identical); banded hamming join must recover the
    // planted pairs. Decode geometry is engine-internal → rows-only gate;
    // recall and invariances asserted in OpsSpec.
    "q97_image_phash" -> ((s, d) => {
      val base = Multimodal.encodedMediaFromDocuments(docs(s, d))
      val shifted = Multimodal.encodedMediaFromDocuments(docs(s, d),
        bias = 8, idOffset = 1000000L)
      Multimodal.nearDupImages(base.union(shifted), maxHamming = 3)
    }),
    "q62_frame_sample" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
        .filter(col("kind") === "video")
      Multimodal.sampleFrames(media, frameBytes = 32, every = 4)
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_bytes"))
    }),
    // ---- web-text extraction & corpus shaping ---------------------------
    // HTML boilerplate extraction: docs wrapped in deterministic HTML both
    // engines construct identically; script/style/comment bodies, tags, and
    // escaped entities must all resolve in the extracted text
    "q85_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>T</title>" +
          "<script type=\"text/javascript\">var x = 1 &amp;&amp; 2;</script>" +
          "<style>.a { color: red }</style><!-- boilerplate --></head><body>" +
          "<div class=\"nav\"><a href=\"/home\">Home</a> | <a href=\"/x\">X</a></div><p>"),
        col("text"),
        lit("</p><div class=\"footer\">&lt;footer&gt; &amp; end</div></body></html>"))
      docs(s, d).select(col("doc_id"), WebText.htmlExtract(html).as("extracted"))
        .withColumn("n_chars_ext", length(col("extracted")).cast("long"))
    }),
    // URL canonicalization: scheme/host case, default port, www, fragment,
    // utm params and param order must all collapse to one dedup key
    "q86_url_canonical" -> ((s, d) => {
      val url = concat(
        lit("HTTPS://WWW.Example"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".COM:443/Docs/Page"), pmod(col("doc_id"), lit(100)).cast("string"),
        lit("/?utm_source=feed&ref="), col("source"),
        lit("&utm_campaign=c"), pmod(col("doc_id"), lit(5)).cast("string"),
        lit("&id="), pmod(col("doc_id"), lit(100)).cast("string"),
        lit("#Sec"), pmod(col("doc_id"), lit(3)).cast("string"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url_canon"))
      docs(s, d).select(col("doc_id"), WebText.canonicalizeUrl(url).as("url_canon"))
        .withColumn("n_same_url", count(lit(1)).over(w).cast("long"))
    }),
    // cross-document line dedup (C4/MassiveText boilerplate pass): lines
    // in >= 2 distinct docs drop, everything else survives in order. The
    // fixture plants, per doc: a 3-way-shared NOTICE line and a 250-way-
    // shared G line (always dropped), a doc-unique U line REPEATED TWICE
    // (distinct-doc count 1 → kept both times: cross-doc only), and a
    // K line shared by doc_id%1000 (kept at sf0.001 where each class has
    // one doc, dropped at sf0.01+ — the threshold is genuinely exercised
    // against corpus size). Keys use the portable md5-60 family so DuckDB
    // replays the identical hash → collisions shared, gate deterministic.
    "q114_line_dedup" -> ((s, d) => {
      val ws = split(concat_ws(" ", trim(col("text")), trim(col("text")),
        trim(col("text"))), "\\s+")
      val uniq = concat(lit("U"), col("doc_id").cast("string"), lit(" "),
        concat_ws(" ", slice(ws, 1, 6)))
      val doc = concat_ws("\n",
        concat(lit("NOTICE "), (col("doc_id") % 3).cast("string")),
        uniq, uniq,
        concat(lit("G"), (col("doc_id") % 250).cast("string")),
        concat(lit("K"), (col("doc_id") % 1000).cast("string")))
      Dedup.dedupLinesAcross(
        docs(s, d).select(col("doc_id"), doc.as("t")), "doc_id", "t",
        minDocs = 2, lineKey = HashFamily.Portable60)
    }),
    // intra-document paragraph dedup: planted repeated paragraph (p1 p2 p1
    // p3) must collapse to first occurrences, order preserved
    "q87_paragraph_dedup" -> ((s, d) => {
      // tripled text guarantees >=24 words, so every paragraph slice is
      // non-empty — DuckDB's concat_ws SKIPS empty strings (Spark keeps
      // them) and NULLs out-of-range list slices, so empty paragraphs are
      // not oracle-comparable
      val ws = split(concat_ws(" ", trim(col("text")), trim(col("text")),
        trim(col("text"))), "\\s+")
      val p1 = concat_ws(" ", slice(ws, 1, 8))
      val p2 = concat_ws(" ", slice(ws, 9, 8))
      val p3 = concat_ws(" ", slice(ws, 17, 8))
      val doc = concat_ws("\n\n", p1, p2, p1, p3)
      docs(s, d).select(col("doc_id"), doc.as("t"))
        .select(col("doc_id"),
          WebText.paragraphCount(col("t")).as("n_paras"),
          WebText.dedupParagraphs(col("t")).as("text_dedup"))
        .withColumn("n_paras_kept", WebText.paragraphCount(col("text_dedup")))
    }),
    // domain blocklist: host extraction (case/userinfo/port) + label-
    // boundary suffix match against a blocked-domain set — example0/3.com
    // block their www. subdomains, ads.example5.com must NOT block
    // www.example5.com (subdomain lists don't match sibling hosts)
    "q98_domain_blocklist" -> ((s, d) => {
      val url = concat(lit("HTTPS://User@WWW.Example"),
        pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".COM:443/Docs/page?x=1"))
      val blocklist = Seq("example0.com", "example3.com", "ads.example5.com")
      docs(s, d).select(col("doc_id"), WebText.urlHost(url).as("host"))
        .withColumn("blocked_flag",
          when(WebText.isBlockedDomain(col("host"), blocklist), 1L).otherwise(0L))
    }),
    // content-term blocklist (C4/Dolma "bad words" filter): tokens planted
    // case-shifted must match case-insensitively, one hash probe per token
    "q101_term_blocklist" -> ((s, d) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" BadWord1")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(9)) === 0, lit(" SpamWord extra")).otherwise(lit("")))
      docs(s, d).select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          when(WebText.hasBlockedTerm(col("t"),
            Seq("badword1", "spamword", "neverpresent")), 1L).otherwise(0L)
            .as("blocked_flag"))
    }),
    // corpus report (dataset-card numbers): per-source volume, token
    // budget, exact-dup overhang, quality pass-rate — one pass, one
    // shuffle, all-integer output (planted dups: every 10th doc copied,
    // as in q53, so n_dup_docs is nonzero)
    "q102_corpus_report" -> ((s, d) => {
      val base = docs(s, d).select(col("source"), col("doc_id"), col("text"))
      val copies = docs(s, d).filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("source"), (col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Report.perSource(base.unionAll(copies), col("source"), col("text"))
    }),
    // PageRank (domain-authority signal) over a deterministic synthetic
    // link graph: 3 damped iterations, per-edge contributions rounded to
    // DECIMAL(30,12) before the exact sum — ranks are partition-order- and
    // engine-independent, so the oracle hash-matches the floats
    "q103_pagerank" -> ((s, d) => {
      val t = docs(s, d)
      val n = t.count()
      val nodes = t.select(col("doc_id").as("id"))
      val edges = t.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % n).as("dst"))
        .unionAll(t.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 3) % n).as("dst")))
        .filter(col("src") =!= col("dst"))
      Graph.pageRank(edges, nodes, iterations = 3)
    }),
    // domain-mixture rebalance: over-represented sources hash-downsample
    // toward their target share, under-represented ones are kept whole
    "q88_domain_rebalance" -> ((s, d) => {
      val shares = (0 until 20)
        .map(i => s"src$i" -> (if (i % 4 == 0) 0.2 else 0.01)).toMap
      Sampling.rebalance(docs(s, d).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), shares)
    }),
    // bigram-LM quality scoring (CCNet shape): per-doc cross-entropy under
    // corpus-trained add-one-smoothed bigram counts
    "q89_lm_score" -> ((s, d) =>
      LangModel.perplexityScore(docs(s, d), docs(s, d), "doc_id", "text")),
    // Gopher-style format/repetition rules (Rae et al. 2021): docs rebuilt
    // into 3 lines with planted bullets/ellipses/symbol runs; line- and
    // word-level ratios plus the combined keep decision, all in the
    // engine-portable string subset
    "q92_gopher_rules" -> ((s, d) => {
      val t3 = concat_ws(" ", trim(col("text")), trim(col("text")), trim(col("text")))
      val ws = split(t3, "\\s+")
      val l1 = concat(
        when(pmod(col("doc_id"), lit(3)) === 0, lit("• ")).otherwise(lit("")),
        concat_ws(" ", slice(ws, 1, 6)))
      val l2 = concat(concat_ws(" ", slice(ws, 7, 6)),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("...")).otherwise(lit("")))
      val l3 = concat(concat_ws(" ", slice(ws, 13, 6)),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" ###")).otherwise(lit("")))
      val doc = concat_ws("\n", l1, l2, l3)
      docs(s, d).select(col("doc_id"), doc.as("t"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("t")).cast("long").as("n_words"),
          TextAnalysis.bulletLineRatio(col("t")).as("bullet_ratio"),
          TextAnalysis.ellipsisLineRatio(col("t")).as("ellipsis_ratio"),
          TextAnalysis.symbolWordRatio(col("t")).as("symbol_ratio"),
          TextAnalysis.alphaWordRatio(col("t")).as("alpha_ratio"))
        .withColumn("keep_flag",
          when(col("bullet_ratio") <= 0.9 && col("ellipsis_ratio") <= 0.3 &&
            col("symbol_ratio") < 0.1 && col("alpha_ratio") >= 0.8, 1L)
            .otherwise(0L))
    }),
    // deflate-compression repetition signal (the Gopher detector n-gram
    // ratios miss: long-period and interleaved repeats). zlib arithmetic
    // is engine-internal → rows-only; value behavior spec-pinned.
    "q93_compress_ratio" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat_ws(" ", Seq.fill(8)(col("text")): _*))
          .otherwise(col("text")).as("t"))
      planted
        .select(col("doc_id"),
          graft.functions.compress.deflate_ratio(col("t")).as("deflate_ratio"))
        .withColumn("repetitive_flag",
          when(col("deflate_ratio") < 0.25, 1L).otherwise(0L))
    }),
    // q93's contract twin (the q12 trick: approximation → oracle-checkable
    // booleans): zlib byte counts stay engine-internal, but deflate MUST
    // squeeze an 8×-repeated document below the 0.25 flag threshold
    // (32 KB window ≫ fixture texts; measured 0.06-0.13) and MUST NOT
    // squeeze prose that far (measured 0.40-0.91) — so the flag equals
    // planted-ness and the ratio sits in (0, 1.05], both exactly
    // predictable by the oracle.
    "q108_deflate_contract" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat_ws(" ", Seq.fill(8)(col("text")): _*))
          .otherwise(col("text")).as("t"))
      planted
        .select(col("doc_id"),
          graft.functions.compress.deflate_ratio(col("t")).as("r"))
        .select(col("doc_id"),
          when(col("r") < 0.25, 1L).otherwise(0L).as("repetitive_flag"),
          (col("r") > 0.0 && col("r") <= 1.05).as("ratio_in_band"))
    }),
    // SemDedup: cluster-blocked cosine near-dup pairs over embeddings with
    // planted perturbed copies, resolved to keep-one clusters via
    // dupClusters. Cluster geometry is engine-internal → rows-only gate;
    // recall + chunk-split identity asserted in OpsSpec.
    // FULL oracle since round 8 (was rows-only): portable planted
    // perturbation (md5 deltas, not libm sin) + quantized Lloyd means
    // make every cluster assignment, unit vector and pair cosine a value
    // DuckDB rebuilds exactly; the cluster closure replays through the
    // q68 recursive-CTE pattern. q91_planted keeps gating the PRODUCTION
    // path (sin planting, double means, nProbe=4 recall).
    "q91_semantic_dedup" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val pert = base.select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), typedlit(portableDeltas.toSeq),
          (x, dd) => x + dd).as("embedding"))
      val pairs = Dedup.semanticNearDups(base.unionAll(pert), "vec_id",
        "embedding", numClusters = 16, threshold = 0.95,
        meanQuantizeInv = Some(1e9))
      Dedup.dupClusters(pairs.select(col("id_a"), col("id_b")))
    }),
    // BPE tokenization: vocab trained on the corpus's word-frequency table
    // (one distributed pass), documents encoded with a per-partition memo.
    // FULL oracle: training is a total order ((count DESC, pair ASC)
    // selection + greedy left-to-right application) and encode replays the
    // merge table in rank order, so DuckDB re-learns the vocab and
    // re-tokenizes every document bit-for-bit (see [[bpeOracleSql]]).
    "q90_bpe_tokenize" -> ((s, d) => {
      val t = docs(s, d)
      val vocab = Bpe.train(t, "text", numMerges = 40)
      Bpe.encode(t, "doc_id", "text", vocab).toDF()
        .select(col("id").as("doc_id"), col("n_words"), col("n_bpe_tokens"),
          concat_ws("|", col("tokens_head")).as("tokens_head"))
    }),
    // q90's contract twin: learned merges stay engine-internal, but the
    // encode must round-trip every word and respect the token-count
    // bounds, and n_words pins the word-splitting convention — all
    // exactly predictable by the oracle (see [[Bpe.encodeContract]]).
    "q109_bpe_contract" -> ((s, d) => {
      val t = docs(s, d)
      val vocab = Bpe.train(t, "text", numMerges = 40)
      Bpe.encodeContract(t, "doc_id", "text", vocab).toDF()
        .select(col("id").as("doc_id"), col("n_words"), col("roundtrip_ok"),
          col("bounds_ok"))
    })
  )

  /** Chained-CTE PageRank oracle (recursive CTEs can't aggregate in the
    * recursive term, so the fixed iteration count unrolls): mirrors
    * [[graft.ops.Graph.pageRank]]'s arithmetic op-for-op — double
    * division, DECIMAL(30,12) contribution rounding, exact sum, double
    * damping.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val sb = new StringBuilder(
      """WITH nodes AS (SELECT doc_id AS id FROM documents),
        |n AS (SELECT CAST(count(1) AS DOUBLE) AS nn FROM nodes),
        |e AS (SELECT src, dst FROM (
        |  SELECT doc_id AS src,
        |    (doc_id * 7 + 1) % (SELECT count(1) FROM documents) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    (doc_id * 13 + 3) % (SELECT count(1) FROM documents)
        |  FROM documents)
        | WHERE src <> dst),
        |outdeg AS (SELECT src, count(1) AS d FROM e GROUP BY 1),
        |pr0 AS (SELECT id, 1.0 / (SELECT nn FROM n) AS pr FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      sb ++= s""",
        |c$i AS (SELECT e.dst, CAST(p.pr / o.d AS DECIMAL(30,12)) AS c
        |  FROM e JOIN pr${i - 1} p ON e.src = p.id
        |  JOIN outdeg o ON e.src = o.src),
        |s$i AS (SELECT dst, sum(c) AS s FROM c$i GROUP BY 1),
        |pr$i AS (SELECT nodes.id,
        |  (1 - 0.85) / (SELECT nn FROM n)
        |    + 0.85 * coalesce(CAST(s AS DOUBLE), 0.0) AS pr
        |  FROM nodes LEFT JOIN s$i ON nodes.id = s$i.dst)""".stripMargin
    }
    sb ++= s"\nSELECT id, pr FROM pr$iters"
    sb.toString
  }

  /** The 16 histogram-bin columns of the q61 oracle: same float32
    * count/total division the decoder performs, widened to double.
    */
  private val featureBinsSql: String = (0 until 16).map { j =>
    "((count(*) FILTER (WHERE bin = %d))::FLOAT / total::FLOAT)::DOUBLE AS f%02d"
      .format(j, j)
  }.mkString(",\n|  ")

  /** q54 exact oracle: replay the ENTIRE MinHash-LSH pipeline in DuckDB
    * over the portable md5 hash family — shingle 60-bit hashes, the same
    * 64 (a·h+b) mod 2^31−1 permutations ([[graft.ops.Dedup.hashParams]]'
    * literals are embedded below, so both engines run identical
    * signatures), md5-keyed 16×4 band keys, band-collision candidates,
    * and the exact hashed-shingle-set Jaccard ≥ 0.5 verification. Every
    * hash is of the same string with the same function on both engines,
    * so even 64-bit collisions produce the same candidate on both sides.
    */
  /** The 64 (a, b) permutation literals shared by every MinHash oracle —
    * the exact output of `Dedup.hashParams(64, 42L)`, so DuckDB runs the
    * same universal-hash family the `MinHashSig` expression runs.
    */
  private lazy val permValues: String =
    graft.ops.Dedup.hashParams(64, 42L).zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")

  /** Lucene-shaped BM25 replay over the five fixed queries — shared by
    * q96 (live pass) and q124 (persisted inverted index): the index probe
    * is score-identical to the live pass by construction, so one oracle
    * gates both.
    */
  private val bm25OracleSql: String =
    """WITH q(query_id, qtext) AS (VALUES
      |  (CAST(0 AS BIGINT), 'spark join merge'),
      |  (CAST(1 AS BIGINT), 'window hash scan'),
      |  (CAST(2 AS BIGINT), 'customer data line'),
      |  (CAST(3 AS BIGINT), 'stream batch dup'),
      |  (CAST(4 AS BIGINT), 'filter sort agg slow')),
      |d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |      FROM documents),
      |dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM d),
      |st AS (SELECT CAST(count(1) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, token, CAST(count(1) AS DOUBLE) AS tf
      |       FROM (SELECT doc_id, unnest(ws) AS token FROM d) GROUP BY 1, 2),
      |qt AS (SELECT query_id,
      |         unnest(list_distinct(string_split_regex(trim(qtext), '\s+'))) AS token
      |       FROM q),
      |mt AS (SELECT tf.* FROM tf WHERE token IN (SELECT DISTINCT token FROM qt)),
      |dfreq AS (SELECT token,
      |            ln(1.0 + ((SELECT n FROM st) - count(1) + 0.5)
      |                     / (count(1) + 0.5)) AS idf
      |          FROM mt GROUP BY token),
      |sc AS (SELECT qt.query_id, mt.doc_id,
      |         sum(CAST(dfreq.idf * mt.tf * (1.2 + 1)
      |           / (mt.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))
      |           AS DECIMAL(30,6))) AS score_dec
      |       FROM mt JOIN dfreq USING (token) JOIN qt USING (token)
      |         JOIN dl ON mt.doc_id = dl.doc_id, st
      |       GROUP BY 1, 2)
      |SELECT query_id, doc_id, rank, score FROM (
      |  SELECT query_id, doc_id, CAST(score_dec AS DOUBLE) AS score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_dec DESC, doc_id) AS BIGINT) AS rank
      |  FROM sc)
      |WHERE rank <= 10""".stripMargin

  private def minhashOracleSql: String = {
    val perms = permValues
    s"""
      |WITH planted AS ($plantedSql),
      |w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      |      FROM planted),
      |sh AS (SELECT doc_id,
      |    CASE WHEN len(ws) < 3 THEN list_distinct([array_to_string(ws, ' ')])
      |      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
      |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS sh
      |  FROM w),
      |hs AS (SELECT doc_id,
      |    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      |  FROM sh),
      |e AS (SELECT doc_id, unnest(hs) AS h FROM hs),
      |perm AS (SELECT * FROM (VALUES $perms) t(j, a, b)),
      |sig AS (SELECT doc_id, j,
      |    min((a * (h % 2147483647) + b) % 2147483647) AS v
      |  FROM e CROSS JOIN perm GROUP BY doc_id, j),
      |bk AS (SELECT doc_id, band,
      |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS key
      |  FROM (SELECT doc_id, j // 4 AS band,
      |          string_agg(v::VARCHAR, ',' ORDER BY j) AS s
      |        FROM sig GROUP BY doc_id, band)),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bk a JOIN bk b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |v AS (SELECT c.id_a, c.id_b,
      |    len(list_intersect(x.hs, y.hs)) AS i,
      |    len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS u
      |  FROM cand c JOIN hs x ON c.id_a = x.doc_id
      |              JOIN hs y ON c.id_b = y.doc_id)
      |SELECT id_a, id_b FROM v WHERE i::DOUBLE / u >= 0.5
      |""".stripMargin
  }

  /** q147 exact oracle: the COMPOSED Curate.run pipeline replayed as one
    * DuckDB query — each stage's CTE consumes the previous stage's output,
    * which is precisely what the per-stage gates cannot check. Stage
    * replicas mirror their stand-alone oracles: quality = q71's keep rule;
    * exact dedup = keep-first on the canonical md5 fingerprint
    * (regexp_replace needs the 'g' flag — DuckDB replaces first-match by
    * default); near-dup = q54's full MinHash machinery (shared
    * [[permValues]]) + q68's closure, keep cluster representatives;
    * DSIR = q122's integer discriminant > 0; cap = q81's hash-order
    * row_number.
    */
  private def curateOracleSql: String = {
    val perms = permValues
    s"""
      |WITH RECURSIVE
      |q AS (
      |  SELECT doc_id, source, text FROM (
      |    SELECT doc_id, source, text,
      |      string_split_regex(trim(text), '\\s+') AS ws
      |    FROM documents)
      |  WHERE len(ws) >= 10
      |    AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.3
      |    AND list_max(list_transform(ws, w -> length(w))) <= 30),
      |ded AS (
      |  SELECT doc_id, source, text FROM (
      |    SELECT doc_id, source, text,
      |      row_number() OVER (
      |        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      |        ORDER BY doc_id) AS rn
      |    FROM q)
      |  WHERE rn = 1),
      |w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM ded),
      |sh AS (SELECT doc_id,
      |    CASE WHEN len(ws) < 3 THEN list_distinct([array_to_string(ws, ' ')])
      |      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
      |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS sh
      |  FROM w),
      |hs AS (SELECT doc_id,
      |    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      |  FROM sh),
      |e AS (SELECT doc_id, unnest(hs) AS h FROM hs),
      |perm AS (SELECT * FROM (VALUES $perms) t(j, a, b)),
      |sig AS (SELECT doc_id, j,
      |    min((a * (h % 2147483647) + b) % 2147483647) AS v
      |  FROM e CROSS JOIN perm GROUP BY doc_id, j),
      |bk AS (SELECT doc_id, band,
      |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS key
      |  FROM (SELECT doc_id, j // 4 AS band,
      |          string_agg(v::VARCHAR, ',' ORDER BY j) AS s
      |        FROM sig GROUP BY doc_id, band)),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bk a JOIN bk b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |pairs AS (SELECT id_a, id_b FROM (
      |    SELECT c.id_a, c.id_b,
      |      len(list_intersect(x.hs, y.hs)) AS i,
      |      len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS u
      |    FROM cand c JOIN hs x ON c.id_a = x.doc_id
      |                JOIN hs y ON c.id_b = y.doc_id) v
      |  WHERE i::DOUBLE / u >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |r(src, dst) AS (SELECT src, dst FROM edges
      |  UNION SELECT r.src, e2.dst FROM r JOIN edges e2 ON r.dst = e2.src),
      |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |       FROM r GROUP BY src),
      |nd AS (SELECT d.doc_id, d.source, d.text FROM ded d
      |  WHERE d.doc_id NOT IN (SELECT id FROM cl WHERE id != cluster)),
      |toks AS (SELECT doc_id,
      |    (('0x' || substr(md5(wd), 1, 15))::BIGINT) % 65536 AS b,
      |    source IN ('src0', 'src1', 'src2') AS tgt
      |  FROM (SELECT doc_id, source,
      |          unnest(list_filter(string_split_regex(trim(text), '\\s+'),
      |            wd -> wd != '')) AS wd
      |        FROM nd)),
      |cnt AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
      |       sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs
      |  FROM toks GROUP BY b),
      |tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns FROM cnt),
      |keepids AS (SELECT doc_id FROM toks JOIN cnt USING (b) CROSS JOIN tot
      |  GROUP BY doc_id HAVING sum(ct * ns - cs * nt) > 0),
      |sel AS (SELECT nd.doc_id, nd.source, nd.text
      |        FROM nd JOIN keepids USING (doc_id))
      |SELECT doc_id, source, md5(text) AS text_md5 FROM (
      |  SELECT doc_id, source, text,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5('s0' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM sel)
      |WHERE rn <= 15
      |""".stripMargin
  }

  /** q110 exact oracle: the cross-corpus decontamination join replayed in
    * DuckDB — left = all documents, right = every 3rd document with its
    * last 3 words dropped (a partially-contaminated "benchmark" corpus),
    * both sides signed with the shared [[permValues]] family, candidates
    * from the cross-side band join, exact hashed-shingle Jaccard >= 0.5.
    */
  private def crossMinhashOracleSql: String = {
    def hsCte(name: String, src: String) = s"""
      |$name AS (SELECT doc_id, list_transform(
      |    CASE WHEN len(ws) < 3 THEN list_distinct([array_to_string(ws, ' ')])
      |      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
      |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END,
      |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      |  FROM $src)""".stripMargin
    def bkCte(name: String, hsRel: String) = s"""
      |${name}_sig AS (SELECT doc_id, j,
      |    min((a * (h % 2147483647) + b) % 2147483647) AS v
      |  FROM (SELECT doc_id, unnest(hs) AS h FROM $hsRel) CROSS JOIN perm
      |  GROUP BY doc_id, j),
      |$name AS (SELECT doc_id, band,
      |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS key
      |  FROM (SELECT doc_id, j // 4 AS band,
      |          string_agg(v::VARCHAR, ',' ORDER BY j) AS s
      |        FROM ${name}_sig GROUP BY doc_id, band))""".stripMargin
    s"""
      |WITH lw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      |            FROM documents),
      |rw AS (SELECT doc_id, ws[1:greatest(len(ws)-3, 1)] AS ws
      |       FROM lw WHERE doc_id % 3 = 0),
      |${hsCte("lsh", "lw")},
      |${hsCte("rsh", "rw")},
      |perm AS (SELECT * FROM (VALUES $permValues) t(j, a, b)),
      |${bkCte("lbk", "lsh")},
      |${bkCte("rbk", "rsh")},
      |cand AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
      |  FROM lbk a JOIN rbk b ON a.band = b.band AND a.key = b.key),
      |v AS (SELECT c.left_id, c.right_id,
      |    len(list_intersect(x.hs, y.hs)) AS i,
      |    len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS u
      |  FROM cand c JOIN lsh x ON c.left_id = x.doc_id
      |              JOIN rsh y ON c.right_id = y.doc_id)
      |SELECT left_id, right_id, i::DOUBLE / u AS jaccard
      |FROM v WHERE i::DOUBLE / u >= 0.5
      |""".stripMargin
  }

  /** Full BPE tokenization replay (q90): DuckDB re-learns the merge table
    * and re-encodes every document, and must agree with [[Bpe]]
    * bit-for-bit. The trainer is replayable because its two decision
    * points are total orders: merge selection is (count DESC, left ASC,
    * right ASC) — no hash-iteration or partitioning dependence — and
    * merge application is a greedy left-to-right pass with consumed-pair
    * skipping. Encoding replays the merge table in rank order, so a
    * training-corpus word's encoding IS its final training segmentation —
    * the oracle therefore needs no separate encode pass, just a join
    * against the replayed `seg{n}` table.
    *
    * Round k of the chained CTE (recursive CTEs can't re-aggregate, the
    * [[pageRankOracleSql]] pattern): `p{k}` counts adjacent pairs over
    * the previous segmentations, `b{k}` picks the best pair under the
    * total order, `f{k}`..`h{k}` mark which occurrences a greedy
    * left-to-right pass would merge — a run of CONSECUTIVE matching
    * positions only merges its odd-ranked members, because each merge
    * consumes its right neighbor (gaps-and-islands on position minus
    * match rank) — and `seg{k}` rebuilds the symbol lists. `seg` CTEs are
    * MATERIALIZED: each is referenced twice, and DuckDB's default
    * inlining would re-derive the whole chain per reference (2^n blowup).
    */
  private def bpeOracleSql(numMerges: Int): String = {
    val header =
      """WITH wpos AS MATERIALIZED (
        |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws)+1)) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ws
        |        FROM documents)),
        |seg0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
        |         list_append(string_split_regex(word, ''), '</w>') AS s
        |  FROM wpos GROUP BY word)""".stripMargin
    val rounds = (1 to numMerges).map { k =>
      val p = k - 1
      s"""p$k AS (
         |  SELECT s[i] AS l, s[i+1] AS r, sum(cnt) AS c
         |  FROM (SELECT word, cnt, s, unnest(range(1, len(s))) AS i FROM seg$p)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT l, r FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |f$k AS (
         |  SELECT u.word, u.cnt, u.i, u.sym,
         |         lead(u.sym) OVER (PARTITION BY u.word ORDER BY u.i) AS nxt,
         |         CASE WHEN b.l IS NOT NULL AND u.sym = b.l
         |               AND lead(u.sym) OVER (PARTITION BY u.word ORDER BY u.i) = b.r
         |              THEN 1 ELSE 0 END AS mt
         |  FROM (SELECT word, cnt, unnest(s) AS sym,
         |               unnest(range(1, len(s)+1)) AS i FROM seg$p) u
         |  LEFT JOIN b$k b ON TRUE),
         |g$k AS (SELECT *, i - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY i) AS grp
         |        FROM f$k),
         |h$k AS (SELECT *, CASE WHEN mt = 1
         |           AND ROW_NUMBER() OVER (PARTITION BY word, mt, grp ORDER BY i) % 2 = 1
         |          THEN 1 ELSE 0 END AS mrg FROM g$k),
         |seg$k AS MATERIALIZED (
         |  SELECT word, any_value(cnt) AS cnt,
         |         list(CASE WHEN mrg = 1 THEN sym || nxt ELSE sym END ORDER BY i) AS s
         |  FROM (SELECT *, coalesce(lag(mrg) OVER (PARTITION BY word ORDER BY i), 0) AS consumed
         |        FROM h$k)
         |  WHERE consumed = 0
         |  GROUP BY word)""".stripMargin
    }
    val footer =
      s"""agg AS (
         |  SELECT w.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(len(e.s)) AS BIGINT) AS n_bpe_tokens,
         |         array_to_string(list_slice(flatten(list(e.s ORDER BY w.pos)), 1, 5), '|')
         |           AS tokens_head
         |  FROM wpos w JOIN seg$numMerges e USING (word)
         |  GROUP BY w.doc_id)
         |SELECT d.doc_id,
         |       coalesce(a.n_words, 0) AS n_words,
         |       coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
         |       coalesce(a.tokens_head, '') AS tokens_head
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    (header +: rounds :+ footer).mkString(",\n")
  }

  val oracle: Map[String, String] = Map(
    // q132: replay the quantized covariance exactly — floor(x·1e6 + 0.5)
    // per component (identical doubles in, identical longs out), integer
    // sums in DECIMAL(38,0), the same double expression shape on top.
    "q132_embedding_cov" ->
      """WITH e AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (SELECT unnest(range(0, len(v))) AS i, unnest(v) AS x FROM e),
        |sx AS (
        |  SELECT i, sum(CAST(x AS DECIMAL(38,0))) AS sx, count(*) AS n
        |  FROM ex GROUP BY i),
        |pairs AS (
        |  SELECT i, unnest(range(i, len(v))) AS j, v
        |  FROM (SELECT v, unnest(range(0, len(v))) AS i FROM e)),
        |sxy AS (
        |  SELECT i, j, sum(CAST(v[i+1] * v[j+1] AS DECIMAL(38,0))) AS sxy
        |  FROM pairs GROUP BY i, j)
        |SELECT s.i, s.j, x1.n AS n,
        |  ((CAST(s.sxy AS DOUBLE)
        |     - CAST(x1.sx AS DOUBLE) * CAST(x2.sx AS DOUBLE) / CAST(x1.n AS DOUBLE))
        |    / (CAST(x1.n AS DOUBLE) - 1.0)) / 1000000000000.0 AS cov
        |FROM sxy s JOIN sx x1 ON s.i = x1.i JOIN sx x2 ON s.j = x2.i""".stripMargin,
    // q133: full D4 prototype-prune replay — q59's quantized-Lloyd prefix
    // (seed = 16 smallest ids, one re-centering with floor(x·1e9 + 0.5)
    // integer sums, (cosine DESC, cid ASC) assignment argmax), then the
    // per-cluster (cosine-to-centroid DESC, vec_id ASC) ranking and the
    // floor(0.25·size) keep cut.
    "q133_prototype_prune" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |      (x, y) -> x + y) AS nn
        |  FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cid, v AS cv, nn AS cn FROM e ORDER BY vec_id LIMIT 16),
        |a0 AS MATERIALIZED (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        (CASE WHEN e.nn = 0 OR c.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]),
        |                (x, y) -> x + y) / sqrt(e.nn) / sqrt(c.cn) END) DESC, c.cid ASC) AS rn
        |    FROM e, c0 c) WHERE rn = 1),
        |m1 AS MATERIALIZED (
        |  SELECT cid, list(mm ORDER BY i) AS cv FROM (
        |    SELECT a.cid, t.i,
        |      CAST(sum(CAST(floor(a.v[t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |    FROM a0 a, range(1, 65) t(i)
        |    GROUP BY a.cid, t.i)
        |  GROUP BY cid),
        |m1n AS MATERIALIZED (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i]),
        |      (x, y) -> x + y) AS cn
        |  FROM m1),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, cid, pc FROM (
        |    SELECT e.vec_id, m.cid,
        |      (CASE WHEN e.nn = 0 OR m.cn = 0 THEN 0.0
        |       ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * m.cv[i]),
        |              (x, y) -> x + y) / sqrt(e.nn) / sqrt(m.cn) END) AS pc,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        (CASE WHEN e.nn = 0 OR m.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * m.cv[i]),
        |                (x, y) -> x + y) / sqrt(e.nn) / sqrt(m.cn) END) DESC, m.cid ASC) AS rn
        |    FROM e, m1n m) WHERE rn = 1),
        |r AS (
        |  SELECT vec_id,
        |    min(vec_id) OVER (PARTITION BY cid) AS cluster,
        |    row_number() OVER (PARTITION BY cid ORDER BY pc DESC, vec_id ASC) AS proto_rank,
        |    count(*) OVER (PARTITION BY cid) AS cluster_size
        |  FROM a1)
        |SELECT vec_id AS id, cluster, proto_rank, cluster_size,
        |  (proto_rank > floor(0.25 * cluster_size)) AS kept
        |FROM r""".stripMargin,
    // q134: q89's scoring replayed verbatim, then the per-source
    // (cross_entropy ASC, doc_id ASC) ranking and the explicit
    // min(2, floor((rn−1)·3/cnt)) equal-depth cut — exact integer
    // products, correctly-rounded IEEE division, floor: identical in
    // both engines (ntile's remainder convention is not relied on).
    "q134_ppl_buckets" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |pairs AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE len(ws) >= 2),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v
        |  FROM (SELECT unnest(ws) AS w FROM toks)),
        |sc AS (SELECT p.doc_id,
        |  -ln(CAST(coalesce(b.c2, 0) + 1 AS DOUBLE)
        |      / CAST(coalesce(u.c1, 0) + v AS DOUBLE)) AS nl
        |  FROM pairs p LEFT JOIN big b USING (w1, w2)
        |  LEFT JOIN uni u USING (w1), voc),
        |ce AS (SELECT doc_id, count(*) AS n_transitions,
        |  CAST(sum(CAST(nl AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS cross_entropy
        |  FROM sc GROUP BY doc_id),
        |j AS (SELECT c.doc_id, d.source, c.n_transitions, c.cross_entropy
        |  FROM ce c JOIN documents d USING (doc_id)),
        |r AS (SELECT doc_id, source, n_transitions, cross_entropy,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cross_entropy ASC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM j)
        |SELECT doc_id, source, n_transitions, cross_entropy,
        |  CAST(least(2, floor((rn - 1) * 3 / cnt)) AS BIGINT) AS bucket,
        |  CASE CAST(least(2, floor((rn - 1) * 3 / cnt)) AS BIGINT)
        |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS band
        |FROM r""".stripMargin,
    // q95: full fused IVF-PQ replay — coarse quantized k-means on unit
    // vectors, residual subtraction, two quantized PQ Lloyd rounds on
    // the sampled residuals, per-(query, probed-cell) residual ADC
    // tables with a j-ordered fold, ADC top-20, exact-cosine refine to
    // top-5 on the raw vectors. Validated against an independent kernel
    // mirror before wiring (50/50 rows).
    "q95_knn_ivfpq" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |un AS MATERIALIZED (
        |  SELECT vec_id, v,
        |    CASE WHEN nn = 0 THEN v ELSE list_transform(v, x -> x / sqrt(nn)) END AS u
        |  FROM (SELECT vec_id, v,
        |          list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
        |            (a, b) -> a + b) AS nn
        |        FROM e)),
        |nrm AS MATERIALIZED ( -- norms of the UNIT vectors (for coarse cosine)
        |  SELECT vec_id, u,
        |    list_reduce(list_transform(range(1, len(u) + 1), i -> u[i] * u[i]),
        |      (a, b) -> a + b) AS nn
        |  FROM un),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cid, u AS cv, nn AS cn FROM nrm ORDER BY vec_id LIMIT 16),
        |a0 AS MATERIALIZED (
        |  SELECT vec_id, u, cid FROM (
        |    SELECT n.vec_id, n.u, c.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (CASE WHEN n.nn = 0 OR c.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(n.u) + 1), i -> n.u[i] * c.cv[i]),
        |                (x, y) -> x + y) / sqrt(n.nn) / sqrt(c.cn) END) DESC, c.cid ASC) AS rn
        |    FROM nrm n, c0 c) WHERE rn = 1),
        |m1 AS MATERIALIZED ( -- one quantized Lloyd round for the coarse centroids
        |  SELECT cid, list(mm ORDER BY i) AS cv FROM (
        |    SELECT a.cid, t.i,
        |      CAST(sum(CAST(floor(a.u[t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |    FROM a0 a, range(1, 65) t(i)
        |    GROUP BY a.cid, t.i)
        |  GROUP BY cid),
        |m1n AS MATERIALIZED (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i]),
        |      (x, y) -> x + y) AS cn
        |  FROM m1),
        |a1 AS MATERIALIZED ( -- final assignment of unit vectors to refined centroids
        |  SELECT vec_id, u, cid FROM (
        |    SELECT n.vec_id, n.u, m.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (CASE WHEN n.nn = 0 OR m.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(n.u) + 1), i -> n.u[i] * m.cv[i]),
        |                (x, y) -> x + y) / sqrt(n.nn) / sqrt(m.cn) END) DESC, m.cid ASC) AS rn
        |    FROM nrm n, m1n m) WHERE rn = 1),
        |res AS MATERIALIZED ( -- residual = unit vector - assigned centroid
        |  SELECT a.vec_id, a.cid,
        |    list_transform(range(1, len(a.u) + 1), i -> a.u[i] - m.cv[i]) AS r
        |  FROM a1 a JOIN m1 m ON a.cid = m.cid),
        |rtrain AS MATERIALIZED (
        |  SELECT vec_id AS id, r AS u FROM res
        |  WHERE substr(md5('s0' || CAST(vec_id AS VARCHAR)), 1, 4) < '4000'),
        |seeds AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, u
        |  FROM (SELECT id, u FROM rtrain ORDER BY id LIMIT 16)),
        |cb0 AS MATERIALIZED (
        |  SELECT j.j, s.c, list(s.u[j.j * 8 + i.i] ORDER BY i.i) AS wl
        |  FROM seeds s, range(0, 8) j(j), range(1, 9) i(i)
        |  GROUP BY j.j, s.c),
        |enc0 AS MATERIALIZED (
        |  SELECT id, j, c AS code FROM (
        |    SELECT tr.id, cb.j, cb.c,
        |      row_number() OVER (PARTITION BY tr.id, cb.j ORDER BY
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (tr.u[cb.j * 8 + i] - cb.wl[i]) * (tr.u[cb.j * 8 + i] - cb.wl[i])),
        |          (a, b) -> a + b) ASC, cb.c ASC) AS rn
        |    FROM rtrain tr, cb0 cb) WHERE rn = 1),
        |mu0 AS MATERIALIZED (
        |  SELECT e.j, e.code AS c, t.i,
        |    CAST(sum(CAST(floor(tr.u[e.j * 8 + t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |  FROM enc0 e JOIN rtrain tr ON e.id = tr.id, range(1, 9) t(i)
        |  GROUP BY e.j, e.code, t.i),
        |cb1 AS MATERIALIZED (
        |  SELECT j, c, list(coalesce(mm, w) ORDER BY i) AS wl FROM (
        |    SELECT g.j, g.c, g.i, g.w, m.mm
        |    FROM (SELECT p.j, p.c, t.i, p.wl[t.i] AS w
        |          FROM cb0 p, range(1, 9) t(i)) g
        |    LEFT JOIN mu0 m ON m.j = g.j AND m.c = g.c AND m.i = g.i)
        |  GROUP BY j, c),
        |enc1 AS MATERIALIZED (
        |  SELECT id, j, c AS code FROM (
        |    SELECT tr.id, cb.j, cb.c,
        |      row_number() OVER (PARTITION BY tr.id, cb.j ORDER BY
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (tr.u[cb.j * 8 + i] - cb.wl[i]) * (tr.u[cb.j * 8 + i] - cb.wl[i])),
        |          (a, b) -> a + b) ASC, cb.c ASC) AS rn
        |    FROM rtrain tr, cb1 cb) WHERE rn = 1),
        |mu1 AS MATERIALIZED (
        |  SELECT e.j, e.code AS c, t.i,
        |    CAST(sum(CAST(floor(tr.u[e.j * 8 + t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |  FROM enc1 e JOIN rtrain tr ON e.id = tr.id, range(1, 9) t(i)
        |  GROUP BY e.j, e.code, t.i),
        |cb2 AS MATERIALIZED (
        |  SELECT j, c, list(coalesce(mm, w) ORDER BY i) AS wl FROM (
        |    SELECT g.j, g.c, g.i, g.w, m.mm
        |    FROM (SELECT p.j, p.c, t.i, p.wl[t.i] AS w
        |          FROM cb1 p, range(1, 9) t(i)) g
        |    LEFT JOIN mu1 m ON m.j = g.j AND m.c = g.c AND m.i = g.i)
        |  GROUP BY j, c),
        |codes AS MATERIALIZED ( -- residual-encode ALL corpus rows with cb2
        |  SELECT vec_id, cid, j, c AS code FROM (
        |    SELECT rs.vec_id, rs.cid, cb.j, cb.c,
        |      row_number() OVER (PARTITION BY rs.vec_id, cb.j ORDER BY
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (rs.r[cb.j * 8 + i] - cb.wl[i]) * (rs.r[cb.j * 8 + i] - cb.wl[i])),
        |          (a, b) -> a + b) ASC, cb.c ASC) AS rn
        |    FROM res rs, cb2 cb) WHERE rn = 1),
        |probes AS MATERIALIZED ( -- top-4 cells per query (unit query vs refined cents)
        |  SELECT query_id, qu, cid FROM (
        |    SELECT n.vec_id AS query_id, n.u AS qu, m.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (CASE WHEN n.nn = 0 OR m.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(n.u) + 1), i -> n.u[i] * m.cv[i]),
        |                (x, y) -> x + y) / sqrt(n.nn) / sqrt(m.cn) END) DESC, m.cid ASC) AS rn
        |    FROM nrm n, m1n m WHERE n.vec_id < 10) WHERE rn <= 4),
        |tables AS MATERIALIZED ( -- residual ADC tables per (query, probed cell)
        |  SELECT p.query_id, p.cid, cb.j, cb.c,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> ((p.qu[cb.j * 8 + i] - m.cv[cb.j * 8 + i]) - cb.wl[i])
        |         * ((p.qu[cb.j * 8 + i] - m.cv[cb.j * 8 + i]) - cb.wl[i])),
        |      (a, b) -> a + b) AS d
        |  FROM probes p JOIN m1 m ON p.cid = m.cid, cb2 cb),
        |adc AS MATERIALIZED (
        |  SELECT t.query_id, c.vec_id,
        |    list_reduce(list(t.d ORDER BY t.j), (a, b) -> a + b) AS dist
        |  FROM codes c JOIN tables t ON t.cid = c.cid AND t.j = c.j AND t.c = c.code
        |  WHERE c.vec_id <> t.query_id
        |  GROUP BY t.query_id, c.vec_id),
        |cand AS MATERIALIZED ( -- ADC top k*refine = 20
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM adc) WHERE rn <= 20)
        |SELECT query_id, vec_id, rank FROM ( -- exact-cosine refine on RAW vectors
        |  SELECT c.query_id, c.vec_id,
        |    CAST(row_number() OVER (PARTITION BY c.query_id ORDER BY
        |      (CASE WHEN nx.nn = 0 OR nq.nn = 0 THEN 0.0
        |       ELSE list_reduce(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * q.v[i]),
        |              (a, b) -> a + b) / sqrt(nx.nn) / sqrt(nq.nn) END) DESC,
        |      c.vec_id ASC) AS BIGINT) AS rank
        |  FROM cand c
        |  JOIN e x ON c.vec_id = x.vec_id JOIN e q ON c.query_id = q.vec_id
        |  JOIN (SELECT vec_id, list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
        |          (a, b) -> a + b) AS nn FROM e) nx ON c.vec_id = nx.vec_id
        |  JOIN (SELECT vec_id, list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
        |          (a, b) -> a + b) AS nn FROM e) nq ON c.query_id = nq.vec_id)
        |WHERE rank <= 5""".stripMargin,
    // q79: full PQ replay — md5 hash-sample, seed subvectors from the
    // 16 smallest sampled ids, TWO quantized Lloyd rounds (argmin with
    // strict-< ties to the smallest code; floor(x*1e9+0.5) integer
    // mean sums; empty codes carry the previous centroid), corpus
    // encode, per-query squared-distance tables, j-ordered ADC fold,
    // rank by (dist ASC, vec_id ASC). Validated against an independent
    // kernel mirror before wiring (50/50 rows).
    "q79_knn_pq" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |un AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN nn = 0 THEN v ELSE list_transform(v, x -> x / sqrt(nn)) END AS u
        |  FROM (SELECT vec_id, v,
        |          list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
        |            (a, b) -> a + b) AS nn
        |        FROM e)),
        |train AS MATERIALIZED (
        |  SELECT vec_id AS id, u FROM un
        |  WHERE substr(md5('s0' || CAST(vec_id AS VARCHAR)), 1, 4) < '4000'),
        |seeds AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, u
        |  FROM (SELECT id, u FROM train ORDER BY id LIMIT 16)),
        |cb0 AS MATERIALIZED (
        |  SELECT j.j, s.c, list(s.u[j.j * 8 + i.i] ORDER BY i.i) AS wl
        |  FROM seeds s, range(0, 8) j(j), range(1, 9) i(i)
        |  GROUP BY j.j, s.c),
        |enc0 AS MATERIALIZED (
        |  SELECT id, j, c AS code FROM (
        |    SELECT tr.id, cb.j, cb.c,
        |      row_number() OVER (PARTITION BY tr.id, cb.j ORDER BY
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (tr.u[cb.j * 8 + i] - cb.wl[i]) * (tr.u[cb.j * 8 + i] - cb.wl[i])),
        |          (a, b) -> a + b) ASC, cb.c ASC) AS rn
        |    FROM train tr, cb0 cb) WHERE rn = 1),
        |mu0 AS MATERIALIZED (
        |  SELECT e.j, e.code AS c, t.i,
        |    CAST(sum(CAST(floor(tr.u[e.j * 8 + t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |  FROM enc0 e JOIN train tr ON e.id = tr.id, range(1, 9) t(i)
        |  GROUP BY e.j, e.code, t.i),
        |cb1 AS MATERIALIZED (
        |  SELECT j, c, list(coalesce(mm, w) ORDER BY i) AS wl FROM (
        |    SELECT g.j, g.c, g.i, g.w, m.mm
        |    FROM (SELECT p.j, p.c, t.i, p.wl[t.i] AS w
        |          FROM cb0 p, range(1, 9) t(i)) g
        |    LEFT JOIN mu0 m ON m.j = g.j AND m.c = g.c AND m.i = g.i)
        |  GROUP BY j, c),
        |enc1 AS MATERIALIZED (
        |  SELECT id, j, c AS code FROM (
        |    SELECT tr.id, cb.j, cb.c,
        |      row_number() OVER (PARTITION BY tr.id, cb.j ORDER BY
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (tr.u[cb.j * 8 + i] - cb.wl[i]) * (tr.u[cb.j * 8 + i] - cb.wl[i])),
        |          (a, b) -> a + b) ASC, cb.c ASC) AS rn
        |    FROM train tr, cb1 cb) WHERE rn = 1),
        |mu1 AS MATERIALIZED (
        |  SELECT e.j, e.code AS c, t.i,
        |    CAST(sum(CAST(floor(tr.u[e.j * 8 + t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |  FROM enc1 e JOIN train tr ON e.id = tr.id, range(1, 9) t(i)
        |  GROUP BY e.j, e.code, t.i),
        |cb2 AS MATERIALIZED (
        |  SELECT j, c, list(coalesce(mm, w) ORDER BY i) AS wl FROM (
        |    SELECT g.j, g.c, g.i, g.w, m.mm
        |    FROM (SELECT p.j, p.c, t.i, p.wl[t.i] AS w
        |          FROM cb1 p, range(1, 9) t(i)) g
        |    LEFT JOIN mu1 m ON m.j = g.j AND m.c = g.c AND m.i = g.i)
        |  GROUP BY j, c),
        |codes AS MATERIALIZED ( -- encode ALL corpus vectors with cb2
        |  SELECT vec_id, j, c AS code FROM (
        |    SELECT un.vec_id, cb.j, cb.c,
        |      row_number() OVER (PARTITION BY un.vec_id, cb.j ORDER BY
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (un.u[cb.j * 8 + i] - cb.wl[i]) * (un.u[cb.j * 8 + i] - cb.wl[i])),
        |          (a, b) -> a + b) ASC, cb.c ASC) AS rn
        |    FROM un, cb2 cb) WHERE rn = 1),
        |tables AS MATERIALIZED ( -- per-query squared-distance tables
        |  SELECT q.vec_id AS query_id, cb.j, cb.c,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (q.u[cb.j * 8 + i] - cb.wl[i]) * (q.u[cb.j * 8 + i] - cb.wl[i])),
        |      (a, b) -> a + b) AS d
        |  FROM un q, cb2 cb WHERE q.vec_id < 10),
        |adc AS ( -- j-ordered fold of table lookups (matches PqAdcDist)
        |  SELECT t.query_id, c.vec_id,
        |    list_reduce(list(t.d ORDER BY t.j), (a, b) -> a + b) AS dist
        |  FROM codes c JOIN tables t ON t.j = c.j AND t.c = c.code
        |  WHERE c.vec_id <> t.query_id
        |  GROUP BY t.query_id, c.vec_id)
        |SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist ASC, vec_id ASC) AS BIGINT) AS rank
        |  FROM adc)
        |WHERE rank <= 5""".stripMargin,
    // q91: full SemDedup replay (portable planting + quantized Lloyd
    // means): seed/assign/probe argmaxes as (cosine DESC, cid ASC),
    // unit vectors and pair dots as the same left folds the kernels
    // run, cluster closure via the q68 recursive-CTE pattern.
    // Validated against an independent kernel mirror (1000/1000 rows).
    "q91_semantic_dedup" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pl AS MATERIALIZED (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(range(1, len(v) + 1), i -> v[i] +
        |      (('0x' || substr(md5('pt' || (i - 1)), 1, 15))::BIGINT
        |         / 576460752303423488.0 - 1.0) * 0.02)
        |  FROM base),
        |e AS MATERIALIZED (
        |  SELECT vec_id, v,
        |    list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
        |      (x, y) -> x + y) AS nn
        |  FROM pl),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cid, v AS cv, nn AS cn FROM e ORDER BY vec_id LIMIT 16),
        |a0 AS MATERIALIZED (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        (CASE WHEN e.nn = 0 OR c.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]),
        |                (x, y) -> x + y) / sqrt(e.nn) / sqrt(c.cn) END) DESC, c.cid ASC) AS rn
        |    FROM e, c0 c) WHERE rn = 1),
        |m1 AS MATERIALIZED (
        |  SELECT cid, list(mm ORDER BY i) AS cv FROM (
        |    SELECT a.cid, t.i,
        |      CAST(sum(CAST(floor(a.v[t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |    FROM a0 a, range(1, 65) t(i)
        |    GROUP BY a.cid, t.i)
        |  GROUP BY cid),
        |m1n AS MATERIALIZED (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i]),
        |      (x, y) -> x + y) AS cn
        |  FROM m1),
        |a2 AS MATERIALIZED ( -- multi-probe top-2 soft assignment
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, m.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        (CASE WHEN e.nn = 0 OR m.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * m.cv[i]),
        |                (x, y) -> x + y) / sqrt(e.nn) / sqrt(m.cn) END) DESC, m.cid ASC) AS rn
        |    FROM e, m1n m) WHERE rn <= 2),
        |u AS MATERIALIZED ( -- unit vectors (zero-norm passes through)
        |  SELECT vec_id,
        |    CASE WHEN nn = 0 THEN v ELSE list_transform(v, x -> x / sqrt(nn)) END AS uv
        |  FROM e),
        |prs AS MATERIALIZED (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM prs p
        |  JOIN u x ON p.id_a = x.vec_id JOIN u y ON p.id_b = y.vec_id
        |  WHERE list_reduce(list_transform(range(1, len(x.uv) + 1), i -> x.uv[i] * y.uv[i]),
        |          (a, b) -> a + b) >= 0.95),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |r(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
        |SELECT src AS id, least(src, min(dst)) AS cluster
        |FROM r GROUP BY src""".stripMargin,
    // q59: full IVF replay — seed centroids are the 16 smallest ids,
    // quantized Lloyd means (floor(x*1e9+0.5) integer sums, mean =
    // sum/1e9/n), assignment/probe argmaxes as (cosine DESC, cid ASC),
    // final ranks as (cosine DESC, vec_id ASC); all cosines are the
    // same left folds the codegen kernels run. Validated against an
    // independent kernel mirror before wiring (50/50 rows).
    "q59_knn_ivf" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |      (x, y) -> x + y) AS nn
        |  FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cid, v AS cv, nn AS cn FROM e ORDER BY vec_id LIMIT 16),
        |a0 AS MATERIALIZED (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        (CASE WHEN e.nn = 0 OR c.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]),
        |                (x, y) -> x + y) / sqrt(e.nn) / sqrt(c.cn) END) DESC, c.cid ASC) AS rn
        |    FROM e, c0 c) WHERE rn = 1),
        |m1 AS MATERIALIZED (
        |  SELECT cid, list(mm ORDER BY i) AS cv FROM (
        |    SELECT a.cid, t.i,
        |      CAST(sum(CAST(floor(a.v[t.i] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mm
        |    FROM a0 a, range(1, 65) t(i)
        |    GROUP BY a.cid, t.i)
        |  GROUP BY cid),
        |m1n AS MATERIALIZED (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i]),
        |      (x, y) -> x + y) AS cn
        |  FROM m1),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, v, nn, cid FROM (
        |    SELECT e.vec_id, e.v, e.nn, m.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        (CASE WHEN e.nn = 0 OR m.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * m.cv[i]),
        |                (x, y) -> x + y) / sqrt(e.nn) / sqrt(m.cn) END) DESC, m.cid ASC) AS rn
        |    FROM e, m1n m) WHERE rn = 1),
        |probes AS MATERIALIZED (
        |  SELECT query_id, qv, qn, cid FROM (
        |    SELECT q.vec_id AS query_id, q.v AS qv, q.nn AS qn, m.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        (CASE WHEN q.nn = 0 OR m.cn = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * m.cv[i]),
        |                (x, y) -> x + y) / sqrt(q.nn) / sqrt(m.cn) END) DESC, m.cid ASC) AS rn
        |    FROM e q, m1n m WHERE q.vec_id < 10) WHERE rn <= 4)
        |SELECT query_id, vec_id, rank FROM (
        |  SELECT p.query_id, a.vec_id,
        |    CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
        |      (CASE WHEN a.nn = 0 OR p.qn = 0 THEN 0.0
        |       ELSE list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * p.qv[i]),
        |              (x, y) -> x + y) / sqrt(a.nn) / sqrt(p.qn) END) DESC, a.vec_id ASC)
        |      AS BIGINT) AS rank
        |  FROM probes p JOIN a1 a ON a.cid = p.cid AND a.vec_id <> p.query_id)
        |WHERE rank <= 5""".stripMargin,
    // q57: replay the hyperplane-LSH near-dup pass value-for-value — the
    // planted perturbation and every plane weight rebuild from md5, the
    // sig dots / norms / pair dots replay as the same left folds the
    // codegen'd kernels run, and the 0.95 threshold compares identical
    // doubles. Validated against an independent kernel mirror before
    // wiring (488/488 pairs).
    "q57_embedding_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pl AS MATERIALIZED (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(range(1, len(v) + 1), i -> v[i] +
        |      (('0x' || substr(md5('pt' || (i - 1)), 1, 15))::BIGINT
        |         / 576460752303423488.0 - 1.0) * 0.02)
        |  FROM base),
        |pvec AS MATERIALIZED (
        |  SELECT p, list(w ORDER BY i) AS pw FROM (
        |    SELECT p.range AS p, i.range AS i,
        |      ('0x' || substr(md5('hp' || p.range || '_' || i.range), 1, 15))::BIGINT
        |        / 576460752303423488.0 - 1.0 AS w
        |    FROM range(0, 96) p, range(0, 64) i)
        |  GROUP BY p),
        |dots AS (
        |  SELECT vec_id, p,
        |    list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * pw[i]),
        |      (a, b) -> a + b) AS dot
        |  FROM pl, pvec),
        |keys AS MATERIALIZED (
        |  SELECT vec_id, p // 12 AS band,
        |    sum(CASE WHEN dot >= 0 THEN 1 << (p % 12) ELSE 0 END) AS key
        |  FROM dots GROUP BY vec_id, p // 12),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM keys a JOIN keys b
        |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
        |norms AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
        |      (a, b) -> a + b) AS nn
        |  FROM pl)
        |SELECT id_a, id_b FROM (
        |  SELECT c.id_a, c.id_b,
        |    list_reduce(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i]),
        |      (a, b) -> a + b) AS dot, nx.nn AS na, ny.nn AS nb
        |  FROM cand c
        |  JOIN pl x ON c.id_a = x.vec_id JOIN pl y ON c.id_b = y.vec_id
        |  JOIN norms nx ON c.id_a = nx.vec_id JOIN norms ny ON c.id_b = ny.vec_id)
        |WHERE (CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |       ELSE dot / sqrt(na) / sqrt(nb) END) >= 0.95""".stripMargin,
    // q131: replay the 13-gram decontamination exactly — same eval-suite
    // construction (full / head-slice+tagged-tail / fully tagged), same
    // portable gram keys, distinct-gram counting on both sides.
    "q131_gram_decontam" ->
      """WITH tw AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), w -> w != '') AS ws
        |  FROM documents),
        |ev AS (
        |  SELECT doc_id AS eval_id, ws FROM tw WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, ws[1:15] || list_transform(ws[16:20], w -> w || 'qq')
        |  FROM tw WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 3000000, list_transform(ws, w -> w || 'qq')
        |  FROM tw WHERE doc_id % 5 = 2),
        |eg AS MATERIALIZED (
        |  SELECT eval_id,
        |    CASE WHEN len(ws) >= 13 THEN list_distinct(list_transform(
        |      range(1, len(ws) - 11),
        |      i -> ('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15))::BIGINT))
        |    ELSE [] END AS gh
        |  FROM ev),
        |tg AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest(CASE WHEN len(ws) >= 13 THEN list_transform(
        |      range(1, len(ws) - 11),
        |      i -> ('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15))::BIGINT)
        |    ELSE [] END) AS gram FROM tw)),
        |m AS (
        |  SELECT x.eval_id, count(*) AS cnt
        |  FROM (SELECT eval_id, unnest(gh) AS gram FROM eg) x
        |  JOIN tg USING (gram) GROUP BY x.eval_id)
        |SELECT e.eval_id, CAST(len(e.gh) AS BIGINT) AS n_grams,
        |  CAST(coalesce(m.cnt, 0) AS BIGINT) AS n_matched,
        |  coalesce(m.cnt, 0) > 0 AS contaminated
        |FROM eg e LEFT JOIN m USING (eval_id)""".stripMargin,
    "q90_bpe_tokenize" -> bpeOracleSql(40),
    "q103_pagerank" -> pageRankOracleSql(3),
    "q54_dedup_minhash" -> minhashOracleSql,
    "q147_curate_pipeline" -> curateOracleSql,
    "q150_blocked_term_score" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' BadWordA neutral badwordb' ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      w -> length(w) > 0) AS ws
        |  FROM planted)
        |SELECT doc_id,
        |  CAST(len(list_filter(ws,
        |      w -> lower(w) IN ('badworda', 'badwordb', 'neverseen')))
        |    AS DOUBLE) / greatest(len(ws), 1) AS score,
        |  CAST(len(ws) AS BIGINT) AS n_tokens
        |FROM toks""".stripMargin,
    "q149_pii_mask" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |      || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com call +1 555-0'
        |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |      || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+\d[\d\- ]{7,}\d', '[PHONE]', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g')) AS masked_md5,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(text, '\+\d[\d\- ]{7,}\d')) AS BIGINT)
        |    AS n_phone,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip
        |FROM planted""".stripMargin,
    "q110_cross_neardup" -> crossMinhashOracleSql,
    // the saved-index probe is pair-identical to the live cross pass by
    // construction — same oracle (the q124/q96 move).
    "q130_minhash_index" -> crossMinhashOracleSql,
    // SimHash full oracle: rebuild every doc's 60 signature bits from the
    // portable word hashes (q56_planted's machinery), pack them into a
    // BIGINT (bits 60..63 are 0 on both engines — every word votes −1
    // there), and keep ALL pairs at bit_count(xor) <= 3: pigeonhole-
    // complete banding means that set IS simhashNearDups' output.
    "q56_dedup_simhash" -> s"""
      |WITH planted AS ($plantedSql),
      |w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      |      FROM planted),
      |hh AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      |       FROM (SELECT doc_id, unnest(ws) AS w FROM w)),
      |bits AS (SELECT doc_id, j,
      |    CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN 1 ELSE 0 END AS bit
      |  FROM hh, LATERAL (SELECT unnest(range(0, 60)) AS j) t
      |  GROUP BY doc_id, j),
      |sig AS (SELECT doc_id,
      |    CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS sig
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |""".stripMargin,
    // ---- planted-recall oracles ----------------------------------------
    // MinHash: expected = planted pairs whose exact 3-shingle Jaccard
    // (both engines compute it identically — q55 proves the value) is
    // >= 0.8; the gate asserts zero misses AND matching jaccard values.
    "q54_planted" -> """
      |WITH d AS (SELECT doc_id, ws
      |           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |                 FROM documents)
      |           WHERE len(ws) >= 6),
      |p AS (SELECT doc_id, ws AS wa, ws[1:greatest(len(ws)-3, 1)] AS wb FROM d),
      |sh AS (SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(wa) - 1, 2)),
      |      i -> wa[i] || ' ' || wa[i+1] || ' ' || wa[i+2])) AS sa,
      |    list_distinct(list_transform(range(1, greatest(len(wb) - 1, 2)),
      |      i -> wb[i] || ' ' || wb[i+1] || ' ' || wb[i+2])) AS sb
      |  FROM p),
      |j AS (SELECT doc_id,
      |    len(list_intersect(sa, sb))::DOUBLE /
      |      (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
      |  FROM sh)
      |SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, jaccard
      |FROM j WHERE jaccard >= 0.8""".stripMargin,
    // SimHash over the portable md5-derived 60-bit hash family: the oracle
    // rebuilds each signature bit (sum of +/-1 word votes per bit, bit set
    // iff sum > 0 — Dedup.simhashFromHashes' exact rule; bits 60..63 are
    // constant on both sides of every pair) and the expected set is EXACT
    // because 4x16 banding is complete for hamming <= 3.
    "q56_planted" -> """
      |WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |           FROM documents),
      |wrd AS (
      |  SELECT doc_id, 0 AS side, unnest(ws) AS w FROM d
      |  UNION ALL
      |  SELECT doc_id, 1 AS side, unnest(ws[1:greatest(len(ws)-3, 1)]) AS w FROM d),
      |hh AS (SELECT doc_id, side, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      |       FROM wrd),
      |bits AS (
      |  SELECT doc_id, side, j,
      |    CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN 1 ELSE 0 END AS bit
      |  FROM hh, LATERAL (SELECT unnest(range(0, 60)) AS j) t
      |  GROUP BY doc_id, side, j),
      |ham AS (
      |  SELECT a.doc_id, sum(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END) AS hamming
      |  FROM bits a JOIN bits b ON a.doc_id = b.doc_id AND a.j = b.j
      |  WHERE a.side = 0 AND b.side = 1
      |  GROUP BY a.doc_id)
      |SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
      |  CAST(hamming AS INT) AS hamming
      |FROM ham WHERE hamming <= 3""".stripMargin,
    // Hyperplane LSH / SemDedup: every planted pair sits at cosine ~0.994
    // >> 0.95 (verified against the fixtures), so expected = ALL of them.
    "q57_planted" ->
      "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings",
    "q111_cross_semantic" ->
      "SELECT vec_id AS left_id, vec_id AS right_id FROM embeddings",
    "q106_ann_self" ->
      """SELECT vec_id AS query_id, vec_id, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    // q82/q83: the q106 self-recovery contract driven through the SAVED
    // indexes (save → load → probe) — hash-exact, so the persisted-index
    // paths are fully oracle'd, not rows-only.
    "q82_knn_ivf_index" ->
      """SELECT vec_id AS query_id, vec_id, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    "q83_knn_pq_index" ->
      """SELECT vec_id AS query_id, vec_id, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    "q123_ivfpq_index_self" ->
      """SELECT vec_id AS query_id, vec_id, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    // q121: replay the hashed linear classifier exactly — same filtered
    // unigram+bigram bag, same md5 bucket → md5 weight chain, LONG sum,
    // one double division.
    "q121_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      w -> w != '') AS ws
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id,
        |    ws || list_transform(range(1, len(ws)),
        |            i -> ws[i] || ' ' || ws[i+1]) AS fs
        |  FROM f),
        |sc AS (
        |  SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
        |    CAST(COALESCE(list_sum(list_transform(fs, g ->
        |        ('0x' || substr(md5('qw:' ||
        |            ((('0x' || substr(md5(g), 1, 15))::BIGINT) % 4096)::VARCHAR),
        |          1, 15))::BIGINT % 2000001 - 1000000)), 0) AS DOUBLE)
        |      / CAST(greatest(len(fs), 1) * 1000000 AS DOUBLE) AS logit
        |  FROM fe)
        |SELECT doc_id, n_feats, logit, logit > 0 AS keep FROM sc""".stripMargin,
    // q122: replay the DSIR count contrast — same portable-md5 16-bit
    // buckets, HUGEINT-exact cross-multiplied discriminant, cast once.
    "q144_perceptron_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, y, b, CAST(count(1) AS BIGINT) AS c
        |  FROM (SELECT doc_id,
        |          CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE -1 END AS y,
        |          (('0x' || substr(md5(w), 1, 15))::BIGINT) % 65536 AS b
        |        FROM (SELECT doc_id, source,
        |                unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                  w -> w != '')) AS w
        |              FROM documents))
        |  GROUP BY doc_id, y, b),
        |w1 AS ( -- epoch 1: w0 = 0 => every doc misclassified
        |  SELECT b, sum(y * c) AS w FROM toks GROUP BY b),
        |m1 AS (
        |  SELECT t.doc_id, t.y, sum(w1.w * t.c) AS m
        |  FROM toks t JOIN w1 USING (b) GROUP BY t.doc_id, t.y),
        |d2 AS (
        |  SELECT b, sum(y * c) AS d FROM toks
        |  WHERE doc_id IN (SELECT doc_id FROM m1 WHERE y * m <= 0)
        |  GROUP BY b),
        |w2 AS (
        |  SELECT coalesce(w1.b, d2.b) AS b,
        |         coalesce(w1.w, 0) + coalesce(d2.d, 0) AS w
        |  FROM w1 FULL OUTER JOIN d2 ON w1.b = d2.b),
        |m2 AS (
        |  SELECT t.doc_id, t.y, sum(w2.w * t.c) AS m
        |  FROM toks t JOIN w2 USING (b) GROUP BY t.doc_id, t.y),
        |d3 AS (
        |  SELECT b, sum(y * c) AS d FROM toks
        |  WHERE doc_id IN (SELECT doc_id FROM m2 WHERE y * m <= 0)
        |  GROUP BY b),
        |w3 AS (
        |  SELECT coalesce(w2.b, d3.b) AS b,
        |         coalesce(w2.w, 0) + coalesce(d3.d, 0) AS w
        |  FROM w2 FULL OUTER JOIN d3 ON w2.b = d3.b),
        |m3 AS (
        |  SELECT t.doc_id, t.y, sum(w3.w * t.c) AS m
        |  FROM toks t JOIN w3 USING (b) GROUP BY t.doc_id, t.y)
        |SELECT doc_id, CAST(y AS BIGINT) AS y, CAST(m AS BIGINT) AS margin,
        |  CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS predicted,
        |  (CASE WHEN m > 0 THEN 1 ELSE -1 END) = y AS correct
        |FROM m3""".stripMargin,
    "q122_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(w), 1, 15))::BIGINT) % 65536 AS b,
        |    source IN ('src0', 'src1', 'src2') AS tgt
        |  FROM (SELECT doc_id, source,
        |          unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |            w -> w != '')) AS w
        |        FROM documents)),
        |cnt AS (
        |  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs
        |  FROM toks GROUP BY b),
        |tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns FROM cnt)
        |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_toks,
        |  CAST(sum(ct * ns - cs * nt) AS DOUBLE) AS score,
        |  CAST(sum(ct * ns - cs * nt) AS DOUBLE) > 0 AS keep
        |FROM toks JOIN cnt USING (b) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,
    "q113_filtered_ann" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS vec_id,
        |  CAST(1 AS BIGINT) AS rank
        |FROM embeddings""".stripMargin,
    "q117_mean_pool" ->
      """WITH c AS (
        |  SELECT vec_id % 100 AS g,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |m AS (
        |  SELECT g, i, sum(CAST(x AS DECIMAL(30,12)))::DOUBLE / count(*) AS v,
        |    count(*) AS n
        |  FROM c GROUP BY g, i),
        |nr AS (
        |  SELECT g, sqrt(sum(CAST(v * v AS DECIMAL(30,12)))::DOUBLE) AS nrm
        |  FROM m GROUP BY g)
        |SELECT m.g AS group_id, CAST(m.n AS BIGINT) AS n_chunks,
        |  CAST(m.i AS BIGINT) AS dim, m.v / nr.nrm AS v
        |FROM m JOIN nr ON m.g = nr.g""".stripMargin,
    "q95_planted" ->
      """SELECT vec_id AS query_id, vec_id, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    "q108_deflate_contract" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS repetitive_flag,
        |  true AS ratio_in_band
        |FROM documents""".stripMargin,
    "q109_bpe_contract" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    w -> w != '')) AS BIGINT) AS n_words,
        |  true AS roundtrip_ok, true AS bounds_ok
        |FROM documents""".stripMargin,
    // q107: replay the PQ encode exactly — unit-normalize (left-fold
    // sum-of-squares, same order as Spark's aggregate()), rebuild each
    // md5-seeded centroid component, accumulate the per-subspace squared
    // distance as the same left fold over i, argmin with ties to the
    // smallest code (PqEncode's strict `<`).
    "q107_pq_codes" -> """
      |WITH u AS (
      |  SELECT vec_id,
      |    CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS u
      |  FROM (
      |    SELECT vec_id, e,
      |      sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nrm
      |    FROM (SELECT vec_id,
      |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |          FROM embeddings))),
      |dist AS (
      |  SELECT u.vec_id, g.j, g.c,
      |    list_reduce(list_transform(range(1, 9), i ->
      |      (u.u[CAST(g.j * 8 + i AS INT)]
      |        - (('0x' || substr(md5('pq' || g.j || '_' || g.c || '_' || (i - 1)), 1, 15))::BIGINT
      |           / 576460752303423488.0 - 1.0)) *
      |      (u.u[CAST(g.j * 8 + i AS INT)]
      |        - (('0x' || substr(md5('pq' || g.j || '_' || g.c || '_' || (i - 1)), 1, 15))::BIGINT
      |           / 576460752303423488.0 - 1.0))),
      |      (a, b) -> a + b) AS d
      |  FROM u, (SELECT j, c FROM range(0, 8) t1(j), range(0, 16) t2(c)) g),
      |best AS (
      |  SELECT vec_id, j, c,
      |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
      |  FROM dist)
      |SELECT vec_id, j, c AS code FROM best WHERE rn = 1
      |""".stripMargin,
    "q91_planted" ->
      "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings",
    // ---- multimodal decode oracles --------------------------------------
    // q61: PNG/WAV/packed-frame fixtures are deterministic renders of the
    // text bytes and the codecs are lossless, so every histogram bin is
    // analytically predictable: image pixel p's channels are text bytes
    // (3p, 3p+1, 3p+2) mod n -> BT.601 integer luma -> bin luma//16;
    // audio sample i is ((byte[(7i) mod n]) - 128)*256 -> bin |.|//2048;
    // video = image features of the first 8x8 frame.
    "q61_multimodal_features" -> s"""
      |WITH d AS (
      |  SELECT doc_id, text, octet_length(encode(text)) AS n,
      |    CAST(doc_id % 3 AS INT) AS k,
      |    16 + CAST(doc_id % 16 AS INT) AS w,
      |    12 + CAST(doc_id % 12 AS INT) AS h
      |  FROM documents),
      |img AS (
      |  SELECT doc_id, 'image' AS kind, w * h AS total,
      |    ((299 * ord(substr(text, CAST((3*p) % n AS INT) + 1, 1))
      |      + 587 * ord(substr(text, CAST((3*p+1) % n AS INT) + 1, 1))
      |      + 114 * ord(substr(text, CAST((3*p+2) % n AS INT) + 1, 1))) // 1000) // 16 AS bin
      |  FROM d, LATERAL (SELECT unnest(range(0, w * h)) AS p) t
      |  WHERE k = 0),
      |vid AS (
      |  SELECT doc_id, 'video' AS kind, 64 AS total,
      |    ((299 * ord(substr(text, CAST((3*p) % n AS INT) + 1, 1))
      |      + 587 * ord(substr(text, CAST((3*p+1) % n AS INT) + 1, 1))
      |      + 114 * ord(substr(text, CAST((3*p+2) % n AS INT) + 1, 1))) // 1000) // 16 AS bin
      |  FROM d, LATERAL (SELECT unnest(range(0, 64)) AS p) t
      |  WHERE k = 2),
      |aud AS (
      |  SELECT doc_id, 'audio' AS kind, 256 + CAST(doc_id % 256 AS INT) AS total,
      |    abs(ord(substr(text, CAST((i*7) % n AS INT) + 1, 1)) - 128) // 8 AS bin
      |  FROM d, LATERAL (SELECT unnest(range(0, 256 + doc_id % 256)) AS i) t
      |  WHERE k = 1),
      |b AS (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid)
      |SELECT doc_id AS media_id, kind, true AS decode_ok,
      |  $featureBinsSql
      |FROM b GROUP BY doc_id, kind, total""".stripMargin,
    // q97: dHash is 64 comparisons of adjacent 9x8-grid cell means over the
    // decoded luma plane — all integers until the final mean division, so
    // the oracle recomputes every signature from the text bytes, takes
    // hamming over the bit vectors, and reflects base-pair distances onto
    // the brightness-shifted twins (+8 bias shifts every cell mean by
    // exactly 8: twin sig == base sig, planted pairs at hamming 0).
    "q97_image_phash" -> """
      |WITH d AS (
      |  SELECT doc_id, text, octet_length(encode(text)) AS n,
      |    16 + CAST(doc_id % 16 AS INT) AS w,
      |    12 + CAST(doc_id % 12 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, w, h, CAST(p % w AS INT) AS x, CAST(p // w AS INT) AS y,
      |    (299 * ord(substr(text, CAST((3*p) % n AS INT) + 1, 1))
      |     + 587 * ord(substr(text, CAST((3*p+1) % n AS INT) + 1, 1))
      |     + 114 * ord(substr(text, CAST((3*p+2) % n AS INT) + 1, 1))) // 1000 AS luma
      |  FROM d, LATERAL (SELECT unnest(range(0, w * h)) AS p) t),
      |cells AS (
      |  SELECT doc_id, (y*8) // h AS gy, (x*9) // w AS gx,
      |    sum(luma) AS s, count(*) AS c
      |  FROM px GROUP BY doc_id, (y*8) // h, (x*9) // w),
      |bits AS (
      |  SELECT a.doc_id, a.gy * 8 + a.gx AS bitpos,
      |    CASE WHEN a.s::DOUBLE / a.c < b.s::DOUBLE / b.c THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |ham AS (
      |  SELECT x.doc_id AS ia, y.doc_id AS ib,
      |    sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS hamming
      |  FROM bits x JOIN bits y ON x.bitpos = y.bitpos AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id),
      |nd AS (SELECT ia, ib, CAST(hamming AS INT) AS hamming
      |       FROM ham WHERE hamming <= 3)
      |SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INT) AS hamming
      |FROM d
      |UNION ALL SELECT ia, ib, hamming FROM nd
      |UNION ALL SELECT ia, ib + 1000000, hamming FROM nd
      |UNION ALL SELECT ib, ia + 1000000, hamming FROM nd
      |UNION ALL SELECT ia + 1000000, ib + 1000000, hamming FROM nd""".stripMargin,
    "q50_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |       w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT)))) AS BIGINT) AS n_bpeish,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       w -> list_contains(['the','a','an','and','or','of','to','in','is','are',
        |                           'was','for','on','with','as','by','at','it','this','that'],
        |                          lower(w)))) AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopword_ratio,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_word_len
        |FROM documents""".stripMargin,
    "q51_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    // q52: replay quality (len/punct/stopword scores), langId (marker-hit
    // argmax, ties to the lexicographically smallest language) and the
    // portable-family rolling hash (Horner mod 2^31-1 over md5 60-bit word
    // hashes; list_prepend(0) supplies Spark aggregate()'s zero seed).
    "q52_text_scoring" -> """
      |WITH t AS (SELECT doc_id, text,
      |             string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |q AS (SELECT doc_id,
      |    least(len(ws) / 64.0, 1.0) AS len_score,
      |    1.0 - least((CAST(length(text) -
      |        length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))
      |        AS DOUBLE) / greatest(length(text), 1)) * 5.0, 1.0) AS punct_score,
      |    least((CAST(len(list_filter(ws,
      |        w -> list_contains(['the','a','an','and','or','of','to','in','is',
      |                            'are','was','for','on','with','as','by','at',
      |                            'it','this','that'], lower(w)))) AS DOUBLE)
      |      / greatest(len(ws), 1)) * 4.0, 1.0) AS sw_score
      |  FROM t),
      |sc AS (
      |  SELECT t.doc_id, m.lang,
      |    len(list_filter(list_transform(t.ws, w -> lower(w)),
      |        w -> list_contains(m.markers, w))) AS score
      |  FROM t, (VALUES ('en', ['the','and','of','to','is']),
      |                  ('es', ['el','la','de','que','y']),
      |                  ('fr', ['le','la','et','les','des']),
      |                  ('de', ['der','die','und','das','ist']),
      |                  ('zh', ['de5','shi4','le5','zai4','he2'])) AS m(lang, markers)),
      |l AS (SELECT doc_id, lang FROM (
      |    SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, lang ASC) AS rn FROM sc)
      |  WHERE rn = 1),
      |r AS (SELECT doc_id,
      |    list_reduce(list_prepend(0::BIGINT, list_transform(ws,
      |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647)),
      |      (a, b) -> (a * 31 + b) % 2147483647) AS rhash FROM t)
      |SELECT q.doc_id,
      |  round((len_score + punct_score + sw_score) / 3.0, 6) AS quality,
      |  l.lang AS lang_pred, r.rhash
      |FROM q JOIN l USING (doc_id) JOIN r USING (doc_id)
      |""".stripMargin,
    "q53_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(1) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL
        |      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0)
        |GROUP BY 1""".stripMargin,
    "q55_ngram_jaccard" -> s"""
      |WITH planted AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      |        FROM planted))
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
      |""".stripMargin,
    "q68_dup_clusters" -> s"""
      |WITH RECURSIVE planted AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      |        FROM planted)),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |r(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
      |SELECT src AS id, least(src, min(dst)) AS cluster
      |FROM r GROUP BY src
      |""".stripMargin,
    // q135: q68's cluster closure, then every doc (singletons included)
    // split by md5 of its CLUSTER id — the hashSplit convention (first
    // hex digit 0-b → train) replayed on the cluster key.
    "q135_leakfree_split" -> s"""
      |WITH RECURSIVE planted AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      |        FROM planted)),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |r(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src),
      |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |       FROM r GROUP BY src),
      |lab AS (
      |  SELECT p.doc_id, CAST(coalesce(cl.cluster, p.doc_id) AS BIGINT) AS cluster
      |  FROM planted p LEFT JOIN cl ON p.doc_id = cl.id)
      |SELECT doc_id, cluster,
      |  CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 1) IN
      |    ('0','1','2','3','4','5','6','7','8','9','a','b')
      |  THEN 'train' ELSE 'test' END AS split
      |FROM lab
      |""".stripMargin,
    // q136: winnowing replay — 4-gram md5-60 hashes, window-of-4 minima
    // deduped per doc, fingerprints in [2, 256] docs joinable, pairs
    // sharing >= 2. Short-doc edges mirror the operator: >=1 gram but
    // < w grams keeps the single overall min; < k words emits nothing.
    "q136_winnow_neardup" -> s"""
      |WITH planted AS ($plantedSql),
      |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      |      FROM planted),
      |g AS (SELECT doc_id,
      |    CASE WHEN len(ws) >= 4 THEN
      |      list_transform(range(1, len(ws) - 2),
      |        i -> ('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))::BIGINT)
      |    ELSE CAST([] AS BIGINT[]) END AS gh
      |  FROM t),
      |f AS (SELECT doc_id,
      |    CASE WHEN len(gh) >= 4 THEN
      |      list_distinct(list_transform(range(1, len(gh) - 2),
      |        j -> list_min(gh[j:j+3])))
      |    WHEN len(gh) >= 1 THEN [list_min(gh)]
      |    ELSE CAST([] AS BIGINT[]) END AS fps
      |  FROM g),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |jf AS (SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 256),
      |ej AS (SELECT e.doc_id, e.fp FROM e JOIN jf USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |FROM ej a JOIN ej b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |""".stripMargin,
    // q142: q68's pair CTE bidirectional + the md5 ring (successor, or
    // successor-squared when the successor IS the positive).
    "q142_contrastive" -> s"""
      |WITH planted AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      |        FROM planted)),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      |pos AS (SELECT id_a AS anchor, id_b AS positive FROM pairs
      |        UNION ALL SELECT id_b, id_a FROM pairs),
      |ring AS (SELECT doc_id AS id,
      |    row_number() OVER (ORDER BY md5('ng0' || CAST(doc_id AS VARCHAR)),
      |      doc_id) AS r
      |  FROM planted),
      |nn AS (SELECT count(*) AS n FROM ring),
      |wr AS (SELECT p.anchor, p.positive, r.r AS ra
      |  FROM pos p JOIN ring r ON p.anchor = r.id)
      |SELECT wr.anchor, wr.positive,
      |  CASE WHEN s1.id <> wr.positive THEN s1.id ELSE s2.id END AS negative
      |FROM wr CROSS JOIN nn
      |JOIN ring s1 ON (wr.ra % nn.n) + 1 = s1.r
      |JOIN ring s2 ON ((wr.ra % nn.n + 1) % nn.n) + 1 = s2.r
      |""".stripMargin,
    // q141: mask bit per (seed:id:pos), spans via lag/cumsum windows,
    // corrupted/target rebuilt with ordered string_agg.
    "q141_span_corrupt" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w, len(ws) AS nw
        |      FROM toks, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
        |f AS (SELECT doc_id, pos, w, nw,
        |    (('0x' || substr(md5('sc0:' || CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(pos AS VARCHAR)), 1, 15))::BIGINT % 7 = 0) AS m
        |  FROM w),
        |g AS (SELECT *, CASE WHEN m AND NOT
        |      coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false)
        |    THEN 1 ELSE 0 END AS st
        |  FROM f),
        |h AS (SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS kc
        |  FROM g),
        |ctoks AS (SELECT doc_id, pos,
        |    CASE WHEN NOT m THEN w
        |         WHEN st = 1 THEN '<extra_id_' || CAST(kc - 1 AS VARCHAR) || '>'
        |         ELSE NULL END AS tok
        |  FROM h),
        |ttoks AS (SELECT doc_id, pos,
        |    CASE WHEN st = 1
        |      THEN '<extra_id_' || CAST(kc - 1 AS VARCHAR) || '>' || ' ' || w
        |      ELSE w END AS tok
        |  FROM h WHERE m),
        |agg AS (SELECT doc_id, CAST(max(nw) AS BIGINT) AS n_words,
        |    CAST(count(*) FILTER (WHERE m) AS BIGINT) AS n_masked,
        |    CAST(coalesce(max(kc), 0) AS BIGINT) AS n_spans
        |  FROM h GROUP BY doc_id),
        |c AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS corrupted
        |  FROM ctoks WHERE tok IS NOT NULL GROUP BY doc_id),
        |tt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS target
        |  FROM ttoks GROUP BY doc_id)
        |SELECT a.doc_id, a.n_words, a.n_masked, a.n_spans,
        |  coalesce(c.corrupted, '') AS corrupted,
        |  coalesce(tt.target, '') AS target
        |FROM agg a LEFT JOIN c USING (doc_id) LEFT JOIN tt USING (doc_id)
        |""".stripMargin,
    // q140: q89's pair stream, counts, integer-ranked per context.
    "q140_continuations" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |pairs AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE len(ws) >= 2),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2)
        |SELECT w1, w2, c2, rank FROM (
        |  SELECT w1, w2, c2,
        |    row_number() OVER (PARTITION BY w1 ORDER BY c2 DESC, w2 ASC) AS rank
        |  FROM big)
        |WHERE rank <= 3""".stripMargin,
    // q139: q68's closure + per-cluster counts + one IEEE division.
    "q139_soft_dedup" -> s"""
      |WITH RECURSIVE planted AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      |        FROM planted)),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |r(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src),
      |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |       FROM r GROUP BY src),
      |cs AS (SELECT cluster, count(*) AS csz FROM cl GROUP BY cluster),
      |lab AS (
      |  SELECT p.doc_id, CAST(coalesce(cl.cluster, p.doc_id) AS BIGINT) AS cluster,
      |    CAST(coalesce(cs.csz, 1) AS BIGINT) AS cluster_size
      |  FROM planted p LEFT JOIN cl ON p.doc_id = cl.id
      |  LEFT JOIN cs ON cl.cluster = cs.cluster)
      |SELECT doc_id, cluster, cluster_size,
      |  CAST(1 AS DOUBLE) / CAST(cluster_size AS DOUBLE) AS weight
      |FROM lab
      |""".stripMargin,
    // q138: CDC replay — per-word boundary bit (md5-60 mod 16), chunk id
    // = boundaries strictly before (a boundary word closes its chunk),
    // chunk hash over the pos-ordered join, shared = hash in >= 2docs.
    "q138_cdc_chunks" -> s"""
      |WITH planted AS ($plantedSql),
      |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      |      FROM planted),
      |w AS (SELECT doc_id, i AS pos, ws[i] AS w
      |      FROM t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
      |b AS (SELECT doc_id, pos, w,
      |    CASE WHEN ('0x' || substr(md5(w), 1, 15))::BIGINT % 16 = 0
      |      THEN 1 ELSE 0 END AS isb
      |  FROM w),
      |c AS (SELECT doc_id, pos, w,
      |    coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |  FROM b),
      |ch AS (SELECT doc_id, cid, CAST(count(*) AS BIGINT) AS n_words,
      |    ('0x' || substr(md5(string_agg(w, ' ' ORDER BY pos)), 1, 15))::BIGINT
      |      AS chunk_hash
      |  FROM c GROUP BY doc_id, cid),
      |sh AS (SELECT chunk_hash FROM (
      |    SELECT chunk_hash, count(DISTINCT doc_id) AS nd
      |    FROM ch GROUP BY 1) WHERE nd >= 2)
      |SELECT ch.doc_id, count(*) AS n_chunks,
      |  CAST(sum(ch.n_words) AS BIGINT) AS n_words,
      |  CAST(sum(CASE WHEN s.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_shared_chunks,
      |  CAST(sum(CASE WHEN s.chunk_hash IS NOT NULL THEN ch.n_words ELSE 0 END)
      |    AS BIGINT) AS shared_words
      |FROM ch LEFT JOIN sh s ON ch.chunk_hash = s.chunk_hash
      |GROUP BY ch.doc_id
      |""".stripMargin,
    // q137: the same v2 construction, statuses from md5 over a full outer
    // join — identical UTF-8 bytes hash identically in both engines.
    "q137_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
        |after AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT doc_id, md5(text) AS hb FROM after)
        |SELECT doc_id,
        |  CASE WHEN ha IS NULL THEN 'added'
        |       WHEN hb IS NULL THEN 'removed'
        |       WHEN ha = hb THEN 'same' ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b USING (doc_id)""".stripMargin,
    "q115_keep_best" -> s"""
      |WITH RECURSIVE planted AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      |        FROM planted)),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |r(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src),
      |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |       FROM r GROUP BY src),
      |scored AS (
      |  SELECT doc_id AS id,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS score
      |  FROM planted),
      |lab AS (
      |  SELECT s.id, coalesce(cl.cluster, s.id) AS cluster, s.score
      |  FROM scored s LEFT JOIN cl ON s.id = cl.id)
      |SELECT id AS doc_id, CAST(cluster AS BIGINT) AS cluster, score,
      |  (row_number() OVER (PARTITION BY cluster
      |     ORDER BY score DESC, id ASC) = 1) AS keep
      |FROM lab
      |""".stripMargin,
    "q116_token_budget_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    md5('s0' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |b AS (
        |  SELECT *, CASE
        |    WHEN source IN ('src0','src2','src4','src6','src8','src10',
        |                    'src12','src14') THEN 600
        |    WHEN source IN ('src1','src3','src5','src7','src9','src11',
        |                    'src13','src15') THEN 150
        |    ELSE 0 END AS budget
        |  FROM t),
        |c AS (
        |  SELECT *, CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
        |    ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before
        |  FROM b WHERE budget > 0)
        |SELECT doc_id, source, n_tok, cum_before
        |FROM c WHERE cum_before < budget""".stripMargin,
    "q69_contamination" ->
      """WITH split AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7','8','9','a','b')
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, split,
        |    unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 1, 2)),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |  FROM (SELECT doc_id, split, string_split_regex(trim(text), '\s+') AS ws
        |        FROM split)),
        |train AS (SELECT DISTINCT s FROM sh WHERE split = 'train')
        |SELECT t.doc_id, count(1) AS n_sh, count(train.s) AS n_hit,
        |  CAST(count(train.s) AS DOUBLE) / count(1) AS hit_ratio
        |FROM sh t LEFT JOIN train ON t.s = train.s
        |WHERE t.split = 'test'
        |GROUP BY t.doc_id""".stripMargin,
    "q70_vocab_topk" ->
      """SELECT source, token, n, rank FROM (
        |  SELECT source, token, n,
        |    CAST(row_number() OVER (PARTITION BY source
        |                            ORDER BY n DESC, token) AS BIGINT) AS rank
        |  FROM (SELECT source, token, count(1) AS n
        |        FROM (SELECT source,
        |                unnest(string_split_regex(trim(text), '\s+')) AS token
        |              FROM documents)
        |        GROUP BY source, token))
        |WHERE rank <= 20""".stripMargin,
    "q73_sequence_packing" ->
      """WITH RECURSIVE base AS (
        |  SELECT source AS grp, doc_id AS id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack(grp, id, n_tokens, rn, seq_id, seq_pos, fill) AS (
        |  SELECT grp, id, n_tokens, rn,
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.grp, b.id, b.n_tokens, b.rn,
        |    CASE WHEN p.fill + b.n_tokens > 256 THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.fill + b.n_tokens > 256 THEN CAST(0 AS BIGINT)
        |         ELSE p.seq_pos + 1 END,
        |    CASE WHEN p.fill + b.n_tokens > 256 THEN b.n_tokens
        |         ELSE p.fill + b.n_tokens END
        |  FROM pack p JOIN base b
        |    ON b.grp IS NOT DISTINCT FROM p.grp AND b.rn = p.rn + 1)
        |SELECT grp, id, n_tokens, seq_id, seq_pos FROM pack""".stripMargin,
    "q146_epoch_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('ep:1:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |    AS position
        |FROM documents""".stripMargin,
    "q145_shard_balance" ->
      """WITH RECURSIVE base AS (
        |  SELECT grp, id, n_tokens,
        |    row_number() OVER (PARTITION BY grp ORDER BY n_tokens DESC, id) AS rn
        |  FROM (SELECT source AS grp, doc_id AS id,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |        FROM documents) z),
        |lpt(grp, rn, id, n_tokens, shard, shard_pos, fills, counts) AS (
        |  SELECT grp, rn, id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    list_transform(range(1, 9), i -> CASE WHEN i = 1 THEN n_tokens
        |      ELSE CAST(0 AS BIGINT) END),
        |    list_transform(range(1, 9), i -> CASE WHEN i = 1 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END)
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT grp, rn, id, n_tokens,
        |    best - 1,
        |    counts[CAST(best AS INT)],
        |    list_transform(range(1, 9), i -> CASE WHEN i = best
        |      THEN fills[i] + n_tokens ELSE fills[i] END),
        |    list_transform(range(1, 9), i -> CASE WHEN i = best
        |      THEN counts[i] + 1 ELSE counts[i] END)
        |  FROM (
        |    SELECT b.grp, b.rn, b.id, b.n_tokens, p.fills, p.counts,
        |      list_sort(list_transform(range(1, 9), i -> [p.fills[i], i]))[1][2] AS best
        |    FROM lpt p JOIN base b
        |      ON b.grp IS NOT DISTINCT FROM p.grp AND b.rn = p.rn + 1) t)
        |SELECT grp, id, n_tokens, shard, shard_pos FROM lpt""".stripMargin,
    "q148_shard_balance_hier" ->
      """WITH RECURSIVE base AS (
        |  SELECT grp, sub, id, n_tokens,
        |    row_number() OVER (PARTITION BY grp, sub
        |                       ORDER BY n_tokens DESC, id) AS rn
        |  FROM (SELECT source AS grp,
        |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |            AS BIGINT) % 4 AS sub,
        |          doc_id AS id,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |            AS n_tokens
        |        FROM documents) z),
        |lpt(grp, sub, rn, id, n_tokens, lshard, lpos, fills, counts) AS (
        |  SELECT grp, sub, rn, id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    list_transform(range(1, 5), i -> CASE WHEN i = 1 THEN n_tokens
        |      ELSE CAST(0 AS BIGINT) END),
        |    list_transform(range(1, 5), i -> CASE WHEN i = 1 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END)
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT grp, sub, rn, id, n_tokens,
        |    best - 1,
        |    counts[CAST(best AS INT)],
        |    list_transform(range(1, 5), i -> CASE WHEN i = best
        |      THEN fills[i] + n_tokens ELSE fills[i] END),
        |    list_transform(range(1, 5), i -> CASE WHEN i = best
        |      THEN counts[i] + 1 ELSE counts[i] END)
        |  FROM (
        |    SELECT b.grp, b.sub, b.rn, b.id, b.n_tokens, p.fills, p.counts,
        |      list_sort(list_transform(range(1, 5), i -> [p.fills[i], i]))[1][2] AS best
        |    FROM lpt p JOIN base b
        |      ON b.grp IS NOT DISTINCT FROM p.grp AND b.sub = p.sub
        |        AND b.rn = p.rn + 1) t),
        |super_items AS (
        |  SELECT grp, sub, lshard, CAST(sum(n_tokens) AS BIGINT) AS w,
        |    CAST(count(1) AS BIGINT) AS c
        |  FROM lpt GROUP BY 1, 2, 3),
        |sbase AS (
        |  SELECT grp, sub, lshard, w, c,
        |    row_number() OVER (PARTITION BY grp ORDER BY w DESC, sub, lshard) AS srn
        |  FROM super_items),
        |merged(grp, srn, sub, lshard, shard, pos_base, fills, counts) AS (
        |  SELECT grp, srn, sub, lshard, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    list_transform(range(1, 5), i -> CASE WHEN i = 1 THEN w
        |      ELSE CAST(0 AS BIGINT) END),
        |    list_transform(range(1, 5), i -> CASE WHEN i = 1 THEN c
        |      ELSE CAST(0 AS BIGINT) END)
        |  FROM sbase WHERE srn = 1
        |  UNION ALL
        |  SELECT grp, srn, sub, lshard,
        |    best - 1,
        |    counts[CAST(best AS INT)],
        |    list_transform(range(1, 5), i -> CASE WHEN i = best
        |      THEN fills[i] + w ELSE fills[i] END),
        |    list_transform(range(1, 5), i -> CASE WHEN i = best
        |      THEN counts[i] + c ELSE counts[i] END)
        |  FROM (
        |    SELECT b.grp, b.srn, b.sub, b.lshard, b.w, b.c, p.fills, p.counts,
        |      list_sort(list_transform(range(1, 5), i -> [p.fills[i], i]))[1][2] AS best
        |    FROM merged p JOIN sbase b
        |      ON b.grp IS NOT DISTINCT FROM p.grp AND b.srn = p.srn + 1) t)
        |SELECT l.grp, l.id, l.n_tokens, m.shard, m.pos_base + l.lpos AS shard_pos
        |FROM lpt l JOIN merged m
        |  ON l.grp IS NOT DISTINCT FROM m.grp AND l.sub = m.sub
        |    AND l.lshard = m.lshard""".stripMargin,
    "q143_sequence_packing_bfd" ->
      """WITH RECURSIVE base AS (
        |  SELECT grp, id, n_tokens,
        |    row_number() OVER (PARTITION BY grp ORDER BY n_tokens DESC, id) AS rn
        |  FROM (SELECT source AS grp, doc_id AS id,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |        FROM documents) z),
        |pack(grp, rn, id, n_tokens, seq_id, seq_pos, fills, counts) AS (
        |  SELECT grp, rn, id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    [n_tokens], [CAST(1 AS BIGINT)]
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT grp, rn, id, n_tokens,
        |    CASE WHEN best IS NULL THEN CAST(len(fills) AS BIGINT) ELSE best - 1 END,
        |    CASE WHEN best IS NULL THEN CAST(0 AS BIGINT)
        |         ELSE counts[CAST(best AS INT)] END,
        |    CASE WHEN best IS NULL THEN list_append(fills, n_tokens)
        |         ELSE list_transform(range(1, CAST(len(fills) AS BIGINT) + 1),
        |                i -> CASE WHEN i = best THEN fills[i] + n_tokens
        |                     ELSE fills[i] END) END,
        |    CASE WHEN best IS NULL THEN list_append(counts, CAST(1 AS BIGINT))
        |         ELSE list_transform(range(1, CAST(len(fills) AS BIGINT) + 1),
        |                i -> CASE WHEN i = best THEN counts[i] + 1
        |                     ELSE counts[i] END) END
        |  FROM (
        |    SELECT t0.*, CASE WHEN len(idxs) = 0 THEN NULL
        |      ELSE list_sort(list_transform(idxs, i -> [-fills[i], i]))[1][2] END AS best
        |    FROM (
        |      SELECT b.grp, b.rn, b.id, b.n_tokens, p.fills, p.counts,
        |        list_filter(range(1, CAST(len(p.fills) AS BIGINT) + 1),
        |          i -> p.fills[i] + b.n_tokens <= 256) AS idxs
        |      FROM pack p JOIN base b
        |        ON b.grp IS NOT DISTINCT FROM p.grp AND b.rn = p.rn + 1) t0) t1)
        |SELECT grp, id, n_tokens, seq_id, seq_pos FROM pack""".stripMargin,
    "q72_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(1) AS cnt FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(1) AS df
        |          FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1)
        |SELECT doc_id, token AS keyword, cnt, df FROM (
        |  SELECT tf.doc_id, tf.token, tf.cnt, dfreq.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY tf.cnt DESC, dfreq.df ASC, tf.token) AS rn
        |  FROM tf JOIN dfreq USING (token))
        |WHERE rn = 1""".stripMargin,
    "q71_quality_filter" ->
      """SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  concat_ws(';',
        |    CASE WHEN len(ws) < 10 THEN 'too_short' END,
        |    CASE WHEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) < 0.3
        |         THEN 'low_diversity' END,
        |    CASE WHEN list_max(list_transform(ws, w -> length(w))) > 30
        |         THEN 'long_token' END) AS reasons,
        |  CAST(CASE WHEN concat_ws(';',
        |    CASE WHEN len(ws) < 10 THEN 'too_short' END,
        |    CASE WHEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) < 0.3
        |         THEN 'low_diversity' END,
        |    CASE WHEN list_max(list_transform(ws, w -> length(w))) > 30
        |         THEN 'long_token' END) = '' THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents)""".stripMargin,
    "q63_knn_topk_agg" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings c JOIN embeddings q
        |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5""".stripMargin,
    "q58_knn_bruteforce" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings c JOIN embeddings q
        |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5""".stripMargin,
    // Grams join as the SAME portable md5 60-bit keys the gate's
    // dupSpanStats run computes (ADVICE round 5: string-gram comparison
    // left the gate probabilistic vs the keyed pipeline — hashing the
    // identical strings with the identical function on both engines makes
    // collision behavior shared, i.e. the gate is deterministic again).
    "q74_dup_spans" -> s"""
      |WITH planted AS ($plantedSql),
      |t AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS ws
      |      FROM planted),
      |g AS (SELECT id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |        CASE WHEN len(ws) >= 3
      |          THEN list_transform(list_transform(range(1, len(ws) - 1),
      |                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
      |                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)
      |          ELSE [] END AS grams
      |      FROM t),
      |pos AS (SELECT id, i - 1 AS pos, grams[i] AS gram
      |        FROM g, LATERAL (SELECT unnest(range(1, len(grams) + 1)) AS i)),
      |dup AS (SELECT gram FROM (SELECT DISTINCT id, gram FROM pos)
      |        GROUP BY gram HAVING count(1) >= 2),
      |cov AS (SELECT id, count(DISTINCT pos) AS n_dup_grams,
      |          count(DISTINCT tokpos) AS covered_tokens
      |        FROM (SELECT p.id, p.pos, unnest(range(p.pos, p.pos + 3)) AS tokpos
      |              FROM pos p JOIN dup USING (gram))
      |        GROUP BY id)
      |SELECT g.id, g.n_tokens, CAST(len(g.grams) AS BIGINT) AS n_grams,
      |  coalesce(cov.n_dup_grams, 0) AS n_dup_grams,
      |  coalesce(cov.covered_tokens, 0) AS covered_tokens,
      |  CAST(coalesce(cov.covered_tokens, 0) AS DOUBLE) / g.n_tokens AS dup_coverage
      |FROM g LEFT JOIN cov ON g.id = cov.id
      |""".stripMargin,
    // q126: q74's gram/dup machinery + position anti-join + ordered
    // string_agg rebuild — token-exact replay of the excision.
    "q126_excise_spans" -> s"""
      |WITH planted AS ($plantedSql),
      |t AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS ws
      |      FROM planted),
      |g AS (SELECT id, CASE WHEN len(ws) >= 3
      |          THEN list_transform(list_transform(range(1, len(ws) - 1),
      |                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
      |                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)
      |          ELSE [] END AS grams
      |      FROM t),
      |pos AS (SELECT id, i - 1 AS pos, grams[i] AS gram
      |        FROM g, LATERAL (SELECT unnest(range(1, len(grams) + 1)) AS i)),
      |dup AS (SELECT gram FROM (SELECT DISTINCT id, gram FROM pos)
      |        GROUP BY gram HAVING count(1) >= 2),
      |cov AS (SELECT DISTINCT id, tokpos
      |        FROM (SELECT p.id, unnest(range(p.pos, p.pos + 3)) AS tokpos
      |              FROM pos p JOIN dup USING (gram))),
      |tok AS (SELECT id, i - 1 AS pos, ws[i] AS w
      |        FROM t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
      |keep AS (SELECT tok.id, tok.pos, tok.w FROM tok
      |         ANTI JOIN cov ON tok.id = cov.id AND tok.pos = cov.tokpos),
      |clean AS (SELECT id, coalesce(string_agg(w, ' ' ORDER BY pos), '') AS ct
      |          FROM keep GROUP BY id),
      |ncov AS (SELECT id, count(1) AS n_removed FROM cov GROUP BY id)
      |SELECT t.id AS doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(ncov.n_removed, 0) AS BIGINT) AS n_removed,
      |  md5(coalesce(clean.ct, '')) AS clean_md5
      |FROM t LEFT JOIN ncov USING (id) LEFT JOIN clean ON t.id = clean.id
      |""".stripMargin,
    // q129: replay the integer threshold chain — same md5 bucket, same
    // round(sqrt(n)·1e6) scaled ints, same cross-multiplied compare.
    "q129_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 5 THEN 'big'
        |         WHEN doc_id % 10 < 8 THEN 'mid'
        |         ELSE 'small' END AS grp
        |  FROM documents),
        |c AS (SELECT grp, CAST(round(sqrt(count(1)) * 1000000) AS BIGINT) AS t
        |      FROM d GROUP BY 1),
        |m AS (SELECT min(t) AS tmin FROM c)
        |SELECT doc_id, grp
        |FROM d JOIN c USING (grp) CROSS JOIN m
        |WHERE ('0x' || substring(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      * t < 65536 * tmin""".stripMargin,
    "q75_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
        |    WHEN 'src2' THEN '4000' ELSE '1999' END""".stripMargin,
    "q76_quantize_int8" ->
      """SELECT vec_id, mn, mx,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |  codes[1] AS q0,
        |  CAST(list_max(codes) AS BIGINT) AS q_max
        |FROM (
        |  SELECT vec_id, mn, mx,
        |    CASE WHEN mx = mn THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(v,
        |        x -> least(CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT),
        |                   CAST(255 AS BIGINT))) END AS codes
        |  FROM (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx
        |        FROM (SELECT vec_id,
        |                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |              FROM embeddings)))""".stripMargin,
    "q77_bloom_novel" ->
      """WITH inc AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 7 = 0),
        |hist AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0)
        |SELECT doc_id FROM inc
        |WHERE md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |  NOT IN (SELECT fp FROM hist)""".stripMargin,
    "q81_cap_per_group" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('s0' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,
    "q80_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0),
        |tot AS (SELECT count(1) AS n FROM toks)
        |SELECT token, count(1) AS cnt FROM toks GROUP BY token
        |HAVING count(1) * 40 > (SELECT n FROM tot)""".stripMargin,
    "q78_normalize" ->
      """SELECT doc_id,
        |  md5(nfc_normalize(t)) AS nfc_md5,
        |  md5(strip_accents(nfc_normalize(t))) AS ascii_md5,
        |  CAST(length(nfc_normalize(t)) AS BIGINT) AS nfc_len
        |FROM (SELECT doc_id,
        |        text || CASE WHEN doc_id % 2 = 0
        |          THEN ' caf' || chr(233) || ' se' || chr(241) || 'or'
        |          ELSE ' cafe' || chr(769) || ' sen' || chr(771) || 'or' END AS t
        |      FROM documents)""".stripMargin,
    "q67_pii_redaction" ->
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}\b', '<PHONE>', 'g')) AS redacted_md5,
        |  CAST(length(t) - length(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}\b', '<PHONE>', 'g')) AS BIGINT) AS len_delta
        |FROM (SELECT doc_id,
        |        concat(text, ' contact user', doc_id, '@example.com or 555-01',
        |               lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'), '-9999') AS t
        |      FROM documents)""".stripMargin,
    "q65_chunking" ->
      """SELECT doc_id, CAST(s / 15 AS BIGINT) AS chunk_idx,
        |  CAST(len(ws[s+1 : least(s+20, len(ws))]) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(ws[s+1 : least(s+20, len(ws))], ' ')) AS chunk_md5
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents),
        |  LATERAL (SELECT unnest(range(0, len(ws), 15)) AS s)""".stripMargin,
    "q66_repetition_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
        |  CAST(list_max(list_transform(ws, w -> length(w))) AS BIGINT) AS max_word_len
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents)""".stripMargin,
    "q64_train_test_split" ->
      """SELECT source,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |       IN ('0','1','2','3','4','5','6','7','8','9','a','b')
        |       THEN 'train' ELSE 'test' END AS split,
        |  count(1) AS n, min(doc_id) AS min_id
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q60_multimodal_meta" ->
      """SELECT media_id, kind, n_bytes,
        |  CAST(ceil(w * s) AS BIGINT) AS target_w,
        |  CAST(ceil(h * s) AS BIGINT) AS target_h
        |FROM (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    (doc_id % 64) * 16 + 64 AS w,
        |    (doc_id % 48) * 16 + 64 AS h,
        |    least(512.0 / greatest((doc_id % 64) * 16 + 64,
        |                           (doc_id % 48) * 16 + 64), 1.0) AS s
        |  FROM documents)""".stripMargin,
    "q62_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(32 AS BIGINT) AS frame_bytes
        |FROM documents,
        |  LATERAL (SELECT unnest(range(0,
        |    CAST(floor(octet_length(encode(text)) / 32) AS BIGINT), 4)) AS frame_idx)
        |WHERE doc_id % 3 = 2""".stripMargin,
    "q85_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>T</title><script type="text/javascript">var x = 1 &amp;&amp; 2;</script><style>.a { color: red }</style><!-- boilerplate --></head><body><div class="nav"><a href="/home">Home</a> | <a href="/x">X</a></div><p>'
        |  || text ||
        |  '</p><div class="footer">&lt;footer&gt; &amp; end</div></body></html>' AS html
        |  FROM documents),
        |x AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS extracted
        |  FROM h)
        |SELECT doc_id, extracted,
        |  CAST(length(extracted) AS BIGINT) AS n_chars_ext FROM x""".stripMargin,
    "q86_url_canonical" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/Docs/Page' || (doc_id % 100) ||
        |  '/?utm_source=feed&ref=' || source || '&utm_campaign=c' || (doc_id % 5) ||
        |  '&id=' || (doc_id % 100) || '#Sec' || (doc_id % 3) AS url FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
        |s2 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    lower(regexp_extract(nf, '^([^/?]*//[^/?]*)', 1)),
        |    '^(https://[^:/?]*):443$', '\1'),
        |    '^(http://[^:/?]*):80$', '\1'), '^(https?://)www\.', '\1') AS pre,
        |  regexp_replace(nf, '^[^/?]*//[^/?]*', '') AS rest FROM s1),
        |s3 AS (SELECT doc_id, pre,
        |  regexp_replace(regexp_replace(rest, '\?.*$', ''), '/$', '') AS path,
        |  regexp_extract(rest, '\?([^#]*)', 1) AS q FROM s2),
        |s4 AS (SELECT doc_id, pre, path,
        |  regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(q, '(^|&)utm_[^&]*', '\1', 'g'),
        |      '(^|&)utm_[^&]*', '\1', 'g'),
        |    '&&+', '&', 'g'), '^&+|&+$', '', 'g') AS qc FROM s3),
        |s5 AS (SELECT doc_id,
        |  pre || path || CASE WHEN qc = '' THEN ''
        |    ELSE '?' || array_to_string(list_sort(string_split(qc, '&')), '&') END
        |  AS url_canon FROM s4)
        |SELECT doc_id, url_canon,
        |  CAST(count(*) OVER (PARTITION BY url_canon) AS BIGINT) AS n_same_url
        |FROM s5""".stripMargin,
    "q114_line_dedup" ->
      """WITH base AS (SELECT doc_id,
        |  string_split_regex(trim(text) || ' ' || trim(text) || ' ' || trim(text),
        |    '\s+') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, concat_ws(chr(10),
        |    'NOTICE ' || (doc_id % 3),
        |    'U' || doc_id || ' ' || array_to_string(ws[1:6], ' '),
        |    'U' || doc_id || ' ' || array_to_string(ws[1:6], ' '),
        |    'G' || (doc_id % 250),
        |    'K' || (doc_id % 1000)) AS t FROM base),
        |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
        |  generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM d),
        |k AS (SELECT doc_id, line, pos,
        |  ('0x' || substr(md5(line), 1, 15))::BIGINT AS h FROM l),
        |b AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |  FROM k GROUP BY h) WHERE nd >= 2),
        |kept AS (SELECT doc_id, line, pos FROM k
        |  WHERE h NOT IN (SELECT h FROM b)),
        |t AS (SELECT doc_id, count(*) AS n_lines FROM k GROUP BY doc_id),
        |g AS (SELECT doc_id, count(*) AS nk,
        |  string_agg(line, chr(10) ORDER BY pos) AS tk
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
        |  CAST(coalesce(g.nk, 0) AS BIGINT) AS n_kept,
        |  coalesce(g.tk, '') AS text_kept
        |FROM t LEFT JOIN g ON t.doc_id = g.doc_id""".stripMargin,
    "q87_paragraph_dedup" ->
      """WITH base AS (SELECT doc_id,
        |  string_split_regex(trim(text) || ' ' || trim(text) || ' ' || trim(text),
        |    '\s+') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
        |  array_to_string(ws[1:8], ' '), array_to_string(ws[9:16], ' '),
        |  array_to_string(ws[1:8], ' '), array_to_string(ws[17:24], ' ')) AS t
        |  FROM base),
        |p AS (SELECT doc_id,
        |  unnest(string_split(t, chr(10)||chr(10))) AS para,
        |  generate_subscripts(string_split(t, chr(10)||chr(10)), 1) AS idx FROM d),
        |k AS (SELECT doc_id, para, idx,
        |  row_number() OVER (PARTITION BY doc_id, para ORDER BY idx) AS rn,
        |  count(*) OVER (PARTITION BY doc_id) AS np FROM p)
        |SELECT doc_id, CAST(max(np) AS BIGINT) AS n_paras,
        |  string_agg(CASE WHEN rn = 1 THEN para END, chr(10)||chr(10) ORDER BY idx)
        |    AS text_dedup,
        |  CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_paras_kept
        |FROM k GROUP BY doc_id""".stripMargin,
    "q102_corpus_report" ->
      """WITH corpus AS (
        |  SELECT source, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT source, doc_id + 2000000, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |t AS (SELECT source,
        |        string_split_regex(trim(text), '\s+') AS ws,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |      FROM corpus),
        |m AS (SELECT source, fp,
        |        CAST(len(ws) AS BIGINT) AS nt,
        |        CASE WHEN len(ws) >= 10
        |          AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.3
        |          AND list_max(list_transform(ws, w -> length(w))) <= 30
        |          THEN 1 ELSE 0 END AS keep
        |      FROM t)
        |SELECT source, count(1) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  max(nt) AS max_tokens,
        |  count(DISTINCT fp) AS n_unique_fp,
        |  count(1) - count(DISTINCT fp) AS n_dup_docs,
        |  CAST(sum(keep) AS BIGINT) AS n_quality_keep
        |FROM m GROUP BY source""".stripMargin,
    // tokenizer parity with TokenBlocked.isWs: \s PLUS the Unicode
    // space/line/paragraph separators (Character.isSpaceChar = \p{Z}) —
    // without \p{Z} a fixture doc hiding a blocked term behind U+00A0 or
    // U+2000-200A would flag in Spark but not here
    "q101_term_blocklist" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN len(list_filter(
        |    string_split_regex(lower(trim(t)), '[\s\p{Z}]+'),
        |    tok -> list_contains(['badword1','spamword','neverpresent'], tok)))
        |    > 0 THEN 1 ELSE 0 END AS BIGINT) AS blocked_flag
        |FROM (SELECT doc_id,
        |  text || CASE WHEN doc_id % 5 = 0 THEN ' BadWord1' ELSE '' END
        |       || CASE WHEN doc_id % 9 = 0 THEN ' SpamWord extra' ELSE '' END AS t
        |  FROM documents)""".stripMargin,
    "q98_domain_blocklist" ->
      """WITH u AS (SELECT doc_id,
        |  'www.example' || (doc_id % 7) || '.com' AS host FROM documents)
        |SELECT doc_id, host,
        |  CAST(CASE WHEN EXISTS (
        |    SELECT 1 FROM (VALUES ('example0.com'), ('example3.com'),
        |                          ('ads.example5.com')) b(d)
        |    WHERE u.host = b.d OR u.host LIKE '%.' || b.d)
        |  THEN 1 ELSE 0 END AS BIGINT) AS blocked_flag
        |FROM u""".stripMargin,
    "q88_domain_rebalance" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |f AS (SELECT source,
        |  least(1e0, (CASE WHEN CAST(replace(source, 'src', '') AS INT) % 4 = 0
        |    THEN 0.2e0 ELSE 0.01e0 END) * total / cnt) AS fr FROM c, t),
        |th AS (SELECT source,
        |  CASE WHEN CAST(floor(fr * 65536) AS BIGINT) >= 65536 THEN 'g'
        |    ELSE printf('%04x', CAST(floor(fr * 65536) AS BIGINT)) END AS thr
        |  FROM f)
        |SELECT d.doc_id, d.source FROM documents d JOIN th ON d.source = th.source
        |WHERE substring(md5('s0' || CAST(d.doc_id AS VARCHAR)), 1, 4) < th.thr""".stripMargin,
    "q92_gopher_rules" ->
      """WITH base AS (SELECT doc_id,
        |  string_split_regex(trim(text) || ' ' || trim(text) || ' ' || trim(text),
        |    '\s+') AS ws FROM documents),
        |d AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN '• ' ELSE '' END)
        |    || array_to_string(ws[1:6], ' ') || chr(10)
        |    || array_to_string(ws[7:12], ' ')
        |    || (CASE WHEN doc_id % 4 = 0 THEN '...' ELSE '' END) || chr(10)
        |    || array_to_string(ws[13:18], ' ')
        |    || (CASE WHEN doc_id % 5 = 0 THEN ' ###' ELSE '' END) AS t
        |  FROM base),
        |m AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(t), '\s+')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(string_split(t, chr(10)),
        |      l -> regexp_matches(l, '^\s*[•\-\*]'))) AS DOUBLE)
        |    / greatest(len(string_split(t, chr(10))), 1) AS bullet_ratio,
        |  CAST(len(list_filter(string_split(t, chr(10)),
        |      l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
        |    / greatest(len(string_split(t, chr(10))), 1) AS ellipsis_ratio,
        |  CAST((length(t) - length(replace(t, '#', '')))
        |      + (length(t) - length(replace(t, '...', ''))) / 3 AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(t), '\s+')), 1) AS symbol_ratio,
        |  CAST(len(list_filter(string_split_regex(trim(t), '\s+'),
        |      w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(t), '\s+')), 1) AS alpha_ratio
        |  FROM d)
        |SELECT doc_id, n_words, bullet_ratio, ellipsis_ratio, symbol_ratio,
        |  alpha_ratio,
        |  CASE WHEN bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
        |    AND symbol_ratio < 0.1 AND alpha_ratio >= 0.8
        |    THEN 1 ELSE 0 END AS keep_flag
        |FROM m""".stripMargin,
    "q96_bm25_topk" -> bm25OracleSql,
    // the persisted-index probe is score-identical to the live pass by
    // construction (same tf/df/dl, same DECIMAL sum) — same oracle.
    "q124_bm25_index" -> bm25OracleSql,
    // q125: rank with the q96 replay (nested WITH), derive boolean-AND
    // relevance, then replay the metric arithmetic — DCG terms through the
    // same DECIMAL(20,6) cast, divisions in DOUBLE (bare 1.0 would be
    // DECIMAL in DuckDB — the q118 lesson).
    "q125_ir_eval" ->
      s"""WITH ranked AS (
        |$bm25OracleSql
        |),
        |q(query_id, qtext) AS (VALUES
        |  (CAST(0 AS BIGINT), 'spark join merge'),
        |  (CAST(1 AS BIGINT), 'window hash scan'),
        |  (CAST(2 AS BIGINT), 'customer data line'),
        |  (CAST(3 AS BIGINT), 'stream batch dup'),
        |  (CAST(4 AS BIGINT), 'filter sort agg slow')),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(string_split_regex(trim(qtext), '\\s+'))) AS token
        |       FROM q),
        |nt AS (SELECT query_id, count(1) AS n_terms FROM qt GROUP BY 1),
        |dt AS (SELECT doc_id,
        |         unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS token
        |       FROM documents),
        |relm AS (SELECT qt.query_id, dt.doc_id, count(1) AS m
        |         FROM dt JOIN qt USING (token) GROUP BY 1, 2),
        |rel AS (SELECT query_id, doc_id
        |        FROM relm JOIN nt USING (query_id) WHERE m = n_terms),
        |base AS (SELECT query_id, count(1) AS n_rel FROM rel GROUP BY 1),
        |ideal AS (
        |  SELECT query_id,
        |    sum(CAST(CAST(1.0 AS DOUBLE) / (ln(irank + 1.0) / ln(2.0))
        |        AS DECIMAL(20,6))) AS idcg
        |  FROM (SELECT query_id, row_number() OVER (PARTITION BY query_id
        |          ORDER BY doc_id) AS irank FROM rel)
        |  WHERE irank <= 10 GROUP BY 1),
        |hits AS (
        |  SELECT r.query_id, count(1) AS n_hit, min(r.rank) AS first_rank,
        |    sum(CAST(CAST(1.0 AS DOUBLE) / (ln(r.rank + 1.0) / ln(2.0))
        |        AS DECIMAL(20,6))) AS dcg
        |  FROM ranked r JOIN rel USING (query_id, doc_id)
        |  WHERE r.rank <= 10 GROUP BY 1)
        |SELECT b.query_id, b.n_rel,
        |  COALESCE(h.n_hit, 0) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(b.n_rel AS DOUBLE)
        |    AS recall,
        |  COALESCE(CAST(1.0 AS DOUBLE) / CAST(h.first_rank AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) AS mrr,
        |  COALESCE(CAST(h.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) AS ndcg
        |FROM base b JOIN ideal i USING (query_id)
        |  LEFT JOIN hits h USING (query_id)""".stripMargin,
    // BM25 block is q96's verbatim (same 5 queries, k=10); dense block is
    // q58's cosine ranking restricted to vec_id < 5; the fuse mirrors
    // Retrieval.rrfFuse: 1.0/(60+rank) per present side, two-term double
    // sum, ties by doc_id. 1.0 is cast to DOUBLE — DuckDB's bare 1.0 is
    // DECIMAL and decimal division would diverge from Spark's double.
    "q118_hybrid_rrf" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (CAST(0 AS BIGINT), 'spark join merge'),
        |  (CAST(1 AS BIGINT), 'window hash scan'),
        |  (CAST(2 AS BIGINT), 'customer data line'),
        |  (CAST(3 AS BIGINT), 'stream batch dup'),
        |  (CAST(4 AS BIGINT), 'filter sort agg slow')),
        |d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM d),
        |st AS (SELECT CAST(count(1) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(1) AS DOUBLE) AS tf
        |       FROM (SELECT doc_id, unnest(ws) AS token FROM d) GROUP BY 1, 2),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(string_split_regex(trim(qtext), '\s+'))) AS token
        |       FROM q),
        |mt AS (SELECT tf.* FROM tf WHERE token IN (SELECT DISTINCT token FROM qt)),
        |dfreq AS (SELECT token,
        |            ln(1.0 + ((SELECT n FROM st) - count(1) + 0.5)
        |                     / (count(1) + 0.5)) AS idf
        |          FROM mt GROUP BY token),
        |sc AS (SELECT qt.query_id, mt.doc_id,
        |         sum(CAST(dfreq.idf * mt.tf * (1.2 + 1)
        |           / (mt.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))
        |           AS DECIMAL(30,6))) AS score_dec
        |       FROM mt JOIN dfreq USING (token) JOIN qt USING (token)
        |         JOIN dl ON mt.doc_id = dl.doc_id, st
        |       GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_dec DESC, doc_id) AS BIGINT) AS rank
        |  FROM sc) WHERE rank <= 10),
        |den AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT eq.vec_id AS query_id, ec.vec_id AS doc_id,
        |    CAST(row_number() OVER (PARTITION BY eq.vec_id
        |      ORDER BY list_cosine_similarity(ec.embedding, eq.embedding) DESC,
        |               ec.vec_id) AS BIGINT) AS rank
        |  FROM embeddings ec JOIN embeddings eq
        |    ON eq.vec_id < 5 AND ec.vec_id <> eq.vec_id)
        |  WHERE rank <= 10),
        |f AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
        |        coalesce(l.doc_id, v.doc_id) AS doc_id,
        |        l.rank AS lex_rank, v.rank AS vec_rank,
        |        coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank), 0.0)
        |          + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.rank), 0.0)
        |          AS rrf_score
        |      FROM lex l FULL JOIN den v
        |        ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
        |SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, fused_rank
        |FROM (SELECT f.*,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS fused_rank
        |      FROM f)
        |WHERE fused_rank <= 10""".stripMargin,
    // all-pairs levenshtein with the |length diff| <= k prefilter; the
    // planted block mirrors the Spark-side deletion splice exactly
    // (p = doc_id % 20 + 3 computed BEFORE the id shift). Spark's blocked
    // PassJoin has recall 1, so the sets are identical, not just the
    // planted subset.
    "q119_edit_distance" ->
      """WITH base AS (SELECT doc_id, substr(trim(text), 1, 40) AS nm
        |              FROM documents),
        |pl AS (SELECT doc_id + 1000000 AS doc_id,
        |         substr(nm, 1, p - 1) || substr(nm, p + 1) AS nm
        |       FROM (SELECT doc_id, nm, CAST(doc_id % 20 + 3 AS INT) AS p
        |             FROM base WHERE doc_id % 5 = 0)),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM pl)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  AND abs(length(a.nm) - length(b.nm)) <= 2
        |WHERE levenshtein(a.nm, b.nm) <= 2""".stripMargin,
    "q120_edit_linkage" ->
      """WITH corpus AS (SELECT doc_id, substr(trim(text), 1, 30) AS nm
        |                FROM documents),
        |bench AS (SELECT doc_id + 2000000 AS doc_id,
        |            substr(nm, 1, p - 1) || 'z' || substr(nm, p + 1) AS nm
        |          FROM (SELECT doc_id, nm, CAST(doc_id % 10 + 4 AS INT) AS p
        |                FROM corpus WHERE doc_id % 7 = 0))
        |SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
        |       CAST(levenshtein(c.nm, b.nm) AS BIGINT) AS dist
        |FROM corpus c JOIN bench b
        |  ON abs(length(c.nm) - length(b.nm)) <= 1
        |WHERE levenshtein(c.nm, b.nm) <= 1""".stripMargin,
    "q89_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |pairs AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE len(ws) >= 2),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v
        |  FROM (SELECT unnest(ws) AS w FROM toks)),
        |sc AS (SELECT p.doc_id,
        |  -ln(CAST(coalesce(b.c2, 0) + 1 AS DOUBLE)
        |      / CAST(coalesce(u.c1, 0) + v AS DOUBLE)) AS nl
        |  FROM pairs p LEFT JOIN big b USING (w1, w2)
        |  LEFT JOIN uni u USING (w1), voc)
        |SELECT doc_id, count(*) AS n_transitions,
        |  CAST(sum(CAST(nl AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS cross_entropy
        |FROM sc GROUP BY doc_id""".stripMargin
  )
}
