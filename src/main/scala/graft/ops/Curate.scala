package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The standard batch curation pipeline as ONE composition of the
  * library's own operators, in canonical order — the "switch your
  * pipeline to this engine" entry point. Every stage is optional and
  * every stage is exactly the operator a user would reach for manually,
  * so there is nothing here to drift from the individually-gated ops:
  *
  *   1. HTML extraction            ([[WebText.htmlExtract]])
  *   2. Unicode NFC normalization  ([[graft.functions.NfcNormalize]])
  *   2b. PII masking               ([[WebText.maskPii]] — emails/phones/
  *      IPs become typed placeholder tokens before anything downstream
  *      sees the text)
  *   3. domain blocklist           ([[WebText.filterBlockedDomains]])
  *   4. content-term blocklist     ([[WebText.filterBlockedTerms]])
  *   4b. language filter           ([[TextAnalysis.langId]] ∈ allowed set)
  *   5. quality filter             ([[TextAnalysis.qualityKeep]] — the
  *      same rule the q71 gate and the report use)
  *   5b. model-based quality       ([[TextAnalysis.classifierLogit]] —
  *      the q121 hashed linear classifier as a per-row predicate)
  *   6. exact dedup, keep-first    ([[Dedup.exactDedup]])
  *   6b. perplexity-band filter    ([[LangModel.perplexityBuckets]] —
  *      CCNet's per-source head/middle/tail cut, keep listed bands)
  *   7. MinHash near-dedup         ([[Dedup.minhashNearDups]] →
  *      [[Dedup.dupClusters]], keep each cluster's representative)
  *   8. DSIR selection             ([[Sampling.importanceWeights]] —
  *      keep target-domain-like docs, the q122 discriminant)
  *   8a. trained-classifier select ([[Learn.perceptronClassify]] —
  *      train the hashed-unigram quality model on THIS corpus from weak
  *      source labels, keep predicted-positive docs; degenerate models
  *      refuse loudly)
  *   8b. mixture rebalance         ([[Sampling.rebalance]])
  *   8c. token-budget mix          ([[Sampling.tokenBudgetMix]])
  *   9. per-source cap             ([[Sampling.capPerGroup]])
  *
  * Scale shape is inherited stage by stage: 1–5b are per-row projections
  * in the scan pass, 6 is one fingerprint shuffle, 7 is the banded-join
  * near-dup machinery, 8 is two narrow passes + an id semi-join, 8b–9
  * are hash predicates / one bounded window.
  * [[Report.perSource]] over input and output gives the before/after
  * dataset card.
  */
object Curate {

  /** Stages toggle independently; defaults are the common crawl-curation
    * recipe with no blocklists and no rebalance.
    *
    * Sharp edges, stated: `nearDupThreshold` requires a NUMERIC id column
    * (cluster formation runs on long ids — enforced with a loud require,
    * not a silent ANSI-off cast-to-null). `targetShares` defines the
    * OUTPUT mixture: sources absent from the map are dropped entirely
    * (share 0, [[Sampling.rebalance]]'s documented contract) — list every
    * source you want kept.
    */
  case class Config(
      htmlExtract: Boolean = false,
      normalizeUnicode: Boolean = true,
      maskPiiKinds: Seq[String] = Nil,
      blockedDomains: Seq[String] = Nil,
      blockedTerms: Seq[String] = Nil,
      allowedLangs: Seq[String] = Nil,
      qualityFilter: Boolean = true,
      classifierFilter: Boolean = false,
      classifierMinLogit: Double = 0.0,
      trainedClassifierSources: Seq[String] = Nil,
      trainedClassifierEpochs: Int = 3,
      perplexityBands: Seq[String] = Nil,
      exactDedup: Boolean = true,
      nearDupThreshold: Option[Double] = None,
      dsirTargetSources: Seq[String] = Nil,
      targetShares: Map[String, Double] = Map.empty,
      tokenBudgets: Map[String, Long] = Map.empty,
      capPerSource: Option[Int] = None,
      // token/shingle hash shared by the near-dup, DSIR and
      // trained-classifier stages — production default xxhash64; the q147
      // end-to-end gate passes [[HashFamily.Portable60]] so the
      // WHOLE composed pipeline replays bit-for-bit in DuckDB
      wordHash: HashFamily = HashFamily.Xx64)

  /** Curated documents plus before/after per-source reports. */
  case class Result(docs: DataFrame, reportBefore: DataFrame,
      reportAfter: DataFrame)

  /** Run the configured stages over `docs(idCol, textCol, sourceCol
    * [, urlCol])`. The text column is REWRITTEN by stages 1–2 (extraction
    * and normalization feed everything downstream, exactly as in a real
    * pipeline); all other columns pass through.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, cfg: Config,
      urlCol: Option[String] = None,
      phases: Option[scala.collection.mutable.ListBuffer[(String, Double)]] =
        None): Result = {
    // Wall-clock attribution for the pipeline bench: stages are lazy, so
    // only the EAGER milestones (the filters materialize, near-dup's pair
    // jobs, DSIR/rebalance count collections) accrue time here; whatever
    // remains lazy lands in the caller's final materialization window.
    def phase[A](name: String)(f: => A): A = phases match {
      case None => f
      case Some(buf) =>
        val t0 = System.nanoTime()
        val out = f
        buf += name -> (System.nanoTime() - t0) / 1e9
        out
    }
    require(cfg.blockedDomains.isEmpty || urlCol.isDefined,
      "domain blocklist needs urlCol")
    if (cfg.nearDupThreshold.isDefined) {
      val idType = docs.schema(idCol).dataType
      require(Seq("long", "int", "integer", "short", "byte")
          .contains(idType.typeName),
        s"near-dedup clusters on long ids; $idCol is ${idType.typeName}")
    }
    val reportBefore = Report.perSource(docs, col(sourceCol), col(textCol))

    var t = rowStages(docs, textCol, cfg, urlCol)
    if (cfg.exactDedup)
      t = Dedup.exactDedup(t, idCol, textCol)
    // the stages below (near-dup pair generation, DSIR's corpus counts,
    // rebalance's share computation) run EAGER jobs over t's lineage, and
    // the caller will consume the result at least once more — materialize
    // the per-row pipeline above exactly once instead of re-running
    // extraction + filters per eager pass (the dupClusters discipline)
    if (cfg.nearDupThreshold.isDefined || cfg.dsirTargetSources.nonEmpty ||
        cfg.targetShares.nonEmpty || cfg.tokenBudgets.nonEmpty ||
        cfg.perplexityBands.nonEmpty || cfg.trainedClassifierSources.nonEmpty)
      t = phase("scan_filters")(Materialize(t))
    // CCNet's LM stage: per-source equal-depth perplexity bands over the
    // SURVIVING corpus (train = score = t, the self-perplexity recipe),
    // keep only the configured bands ("head", "middle" is the classic
    // cut). Runs after dedup-independent filters and the materialize
    // gate — scoring is two passes over t's lineage. Documents too short
    // to score (< 2 tokens) have no band and are dropped; the default
    // quality filter already removes them earlier.
    // Each selection stage below pins its (id-only, narrow) keep/drop set
    // eagerly, in a scope that releases the pins its callees took. Left
    // lazy, every later action re-derives the whole stage — the DSIR
    // scoring pass alone re-ran its token explode per consume,
    // and the caller's final materialization re-executed the anti/semi
    // join CHAIN once per lazy subtree (3× at sf1, measured 16.7 s of a
    // 26 s pipeline). Pinning the decision sets makes the final pass one
    // scan of the materialized row stage + bounded joins (guide §2.4).
    if (cfg.perplexityBands.nonEmpty) phase("ppl_band") {
      val keep = Materialize.scoped {
        Materialize(LangModel.perplexityBuckets(t, idCol, textCol, sourceCol)
          .filter(col("band").isin(cfg.perplexityBands: _*))
          .select(col(idCol).as("__graft_ppl_id")))
      }
      t = t.join(keep, col(idCol) === col("__graft_ppl_id"), "left_semi")
    }
    for (thr <- cfg.nearDupThreshold) phase("near_dup") {
      // drop every clustered doc that is not its cluster's representative —
      // a plain (shuffled) anti join: the drop set is id-only narrow but
      // can be a large fraction of the corpus, so no broadcast hint. The
      // join column gets a collision-proof name (idCol = "id" is common).
      val drop = Materialize.scoped {
        val pairs = Dedup.minhashNearDups(t, idCol, textCol, threshold = thr,
            hash64 = cfg.wordHash)
          .select(col("id_a"), col("id_b"))
        Materialize(Dedup.dupClusters(pairs)
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("__graft_dup_id")))
      }
      t = t.join(drop, col(idCol) === col("__graft_dup_id"), "left_anti")
    }
    // DSIR selection: keep docs whose hashed-unigram mass is target-like
    // (q122's integer discriminant > 0) — a narrow id semi-join against
    // the per-doc scores, count table bounded at 2^16 rows
    if (cfg.dsirTargetSources.nonEmpty) phase("dsir") {
      val keepIds = Materialize.scoped {
        Materialize(Sampling.importanceWeights(t, idCol, textCol,
            col(sourceCol).isin(cfg.dsirTargetSources: _*),
            wordHash = cfg.wordHash)
          .filter(col("keep")).select(col(idCol).as("__graft_dsir_id")))
      }
      t = t.join(keepIds, col(idCol) === col("__graft_dsir_id"), "left_semi")
    }
    // TRAINED model-based selection: learn the quality model on THIS
    // corpus from weak source labels ([[Learn.perceptronClassify]] — the
    // in-engine upgrade of the fixed-weight classifierFilter and the
    // learned sibling of DSIR above), keep docs the model predicts
    // target-like. Runs after dedup (training on duplicated copies
    // over-weights their vocabulary) and refuses a degenerate model
    // loudly: weak labels with no textual signal collapse the perceptron
    // to one class, and a silent full-corpus drop (or a no-op filter that
    // LOOKS like curation) must not masquerade as selection.
    if (cfg.trainedClassifierSources.nonEmpty) phase("trained_classifier") {
      val keepIds = Materialize.scoped {
        // perceptronClassify returns an eagerly pinned frame (shared
        // pinned feature stream) — no second pin before the count probes
        val scored = Learn.perceptronClassify(t, idCol, textCol,
          col(sourceCol).isin(cfg.trainedClassifierSources: _*),
          epochs = cfg.trainedClassifierEpochs,
          wordHash = cfg.wordHash)
        val nPos = scored.filter(col("predicted") === 1L).count()
        require(nPos > 0 && nPos < scored.count(),
          "trained classifier predicted a single class — the weak source " +
            "labels carry no learnable textual signal on this corpus; " +
            "use the heuristic classifierFilter or DSIR instead")
        Materialize(scored.filter(col("predicted") === 1L)
          .select(col(idCol).as("__graft_tc_id")))
      }
      t = t.join(keepIds, col(idCol) === col("__graft_tc_id"), "left_semi")
    }
    if (cfg.targetShares.nonEmpty)
      t = phase("rebalance")(
        Sampling.rebalance(t, col(sourceCol), col(idCol), cfg.targetShares))
    // token-budget mixing: the data-recipe alternative to share-based
    // rebalance — fill each source's token budget in deterministic hash
    // order (q116 machinery; sources absent from the map are dropped,
    // the tokenBudgetMix contract)
    if (cfg.tokenBudgets.nonEmpty)
      t = Sampling.tokenBudgetMix(t, col(sourceCol), col(idCol),
          TextAnalysis.tokenCount(col(textCol)).cast("long"), cfg.tokenBudgets)
        .drop("cum_before") // mix bookkeeping must not leak into the corpus
    for (cap <- cfg.capPerSource)
      t = Sampling.capPerGroup(t, col(sourceCol), col(idCol), cap)

    Result(t, reportBefore, Report.perSource(t, col(sourceCol), col(textCol)))
  }

  /** The per-row stage chain (1–5b) — ONE definition shared by [[run]]
    * and [[runStream]], so batch and streaming curation cannot drift.
    * Every stage is a stateless projection/predicate, which is exactly
    * why the same chain composes onto an unbounded stream unchanged.
    */
  def rowStages(docs: DataFrame, textCol: String, cfg: Config,
      urlCol: Option[String] = None): DataFrame = {
    require(cfg.blockedDomains.isEmpty || urlCol.isDefined,
      "domain blocklist needs urlCol")
    var t = docs
    if (cfg.htmlExtract)
      t = t.withColumn(textCol, WebText.htmlExtract(col(textCol)))
    if (cfg.normalizeUnicode)
      t = t.withColumn(textCol, graft.functions.textnorm.nfc_normalize(col(textCol)))
    // PII scrub directly after extraction/normalization (the Dolma/
    // RefinedWeb position): everything downstream — n-grams, dedup
    // signatures, the published corpus — sees masked text only
    if (cfg.maskPiiKinds.nonEmpty)
      t = t.withColumn(textCol, WebText.maskPii(col(textCol), cfg.maskPiiKinds))
    for (u <- urlCol if cfg.blockedDomains.nonEmpty)
      t = WebText.filterBlockedDomains(t, col(u), cfg.blockedDomains)
    if (cfg.blockedTerms.nonEmpty)
      t = WebText.filterBlockedTerms(t, col(textCol), cfg.blockedTerms)
    // language filter runs FIRST among the content filters (the CCNet
    // order: everything downstream is language-conditional) — per-row
    // marker-profile argmax, same scan pass
    if (cfg.allowedLangs.nonEmpty)
      t = t.filter(TextAnalysis.langId(col(textCol))
        .isin(cfg.allowedLangs: _*))
    if (cfg.qualityFilter)
      t = t.filter(TextAnalysis.qualityKeep(col(textCol)))
    // model-based quality: the q121 classifier logit as a per-row filter
    // predicate — same scan pass as the heuristic rule, no join
    if (cfg.classifierFilter)
      t = t.filter(TextAnalysis.classifierLogit(col(textCol)) >
        cfg.classifierMinLogit)
    t
  }

  /** Streaming curation — the live-crawl half of the pipeline: the SAME
    * per-row stages as [[run]] (shared [[rowStages]] chain) over an
    * unbounded stream, plus per-stream dedup:
    *
    *   - `exactDedup` → watermark-bounded exact dedup on the content
    *     fingerprint (`dropDuplicatesWithinWatermark` — state holds only
    *     the watermark window, so it survives an unbounded crawl);
    *   - `nearDupThreshold` + `idCol` → streaming MinHash near-dedup
    *     ([[graft.streaming.TopicStreams.dropNearDups]], the
    *     transformWithState banded-LSH processor): admits a document the
    *     first time its content neighborhood appears, across micro-batch
    *     boundaries, with per-band bounded state. The two dedup modes are
    *     EXCLUSIVE here (identical text hashes to an identical signature,
    *     so near-dup subsumes exact at every threshold — and chaining a
    *     second stateful operator would buy nothing for its cost). The
    *     near-dup output NARROWS to (idCol, textCol): the band fan-in
    *     carries the payload text, not arbitrary columns — rejoin other
    *     columns on idCol downstream if needed.
    *
    * Representative choice differs from batch BY DESIGN (stated, so no
    * one expects representative-level parity): a replayed corpus keeps
    * the FIRST-ARRIVED copy per fingerprint/neighborhood here (the only
    * prefix-consistent choice an unbounded stream can make), while batch
    * [[Dedup.exactDedup]]/[[Dedup.dupClusters]] keep the LOWEST ID. The
    * kept-set SIZES agree; which copy represents a duplicate group need
    * not.
    *
    * Corpus-wide stages that need the WHOLE distribution (near-dup
    * CLUSTERING, DSIR, rebalance, budgets) stay batch by nature — run
    * them on the landed output, or probe a persisted LSH index per batch
    * ([[graft.ops.Dedup.novelAgainstMinhashIndex]] via foreachBatch) for
    * the index-backed incremental shape. Passing one is a require
    * failure — loudly, not silently: a batch config must not quietly
    * under-curate a stream.
    */
  def runStream(stream: DataFrame, textCol: String, cfg: Config,
      tsCol: String, lateness: String,
      urlCol: Option[String] = None,
      idCol: Option[String] = None): DataFrame = {
    require(cfg.dsirTargetSources.isEmpty &&
      cfg.targetShares.isEmpty && cfg.tokenBudgets.isEmpty &&
      cfg.capPerSource.isEmpty && cfg.perplexityBands.isEmpty &&
      cfg.trainedClassifierSources.isEmpty,
      "runStream handles the per-row stages + dedup; corpus-wide " +
        "stages (DSIR, rebalance, budgets, caps, perplexity bands, " +
        "trained classifier) are batch passes — run them on the landed output")
    require(cfg.nearDupThreshold.isEmpty || idCol.isDefined,
      "streaming near-dedup needs idCol (a long-castable id column) — " +
        "without one, near-dup stays a batch pass on the landed output")
    require(cfg.nearDupThreshold.isEmpty || !cfg.exactDedup,
      "streaming near-dedup subsumes exact dedup (identical text => " +
        "identical signature); enable one, not both")
    val t = rowStages(stream, textCol, cfg, urlCol)
    (cfg.nearDupThreshold, idCol) match {
      case (Some(thr), Some(id)) =>
        graft.streaming.TopicStreams.dropNearDups(t, id, textCol, threshold = thr)
          .toDF(id, textCol)
      case _ if cfg.exactDedup =>
        t.withColumn("__graft_fp", TextAnalysis.fingerprint(col(textCol)))
          .withWatermark(tsCol, lateness)
          .dropDuplicatesWithinWatermark("__graft_fp")
          .drop("__graft_fp")
      case _ => t
    }
  }
}
