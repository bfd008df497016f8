package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** N-gram language-model quality scoring (the CCNet/KenLM recipe): train
  * token-bigram statistics on a reference corpus, score every document by
  * its per-token cross-entropy under the model. Low-perplexity ≈ fluent
  * prose; high-perplexity ≈ gibberish, boilerplate, wrong language — the
  * standard quality axis used to bucket pre-training corpora.
  *
  * Scale shape: counts are one explode + groupBy over the reference corpus
  * whose OUTPUT is bounded by observed vocabulary (unigrams) and observed
  * bigrams — both tiny next to corpus bytes and map-side combined. Scoring
  * is two equi-joins of the per-doc bigram stream against those count
  * tables (broadcast when they fit, shuffle otherwise) plus one per-doc
  * aggregation. Nothing driver-side; both joins are on narrow
  * (word, word) keys.
  *
  * Numerics: each bigram's -ln P is computed per-row (bitwise-deterministic
  * IEEE ops from integer counts), and the per-doc SUM accumulates in
  * DECIMAL(30,6) — double-sum low bits depend on partial-aggregation order,
  * decimal sums don't. The mean divides once at the end, in doubles.
  */
object LangModel {

  /** (unigram context counts, bigram counts, vocabularySize) over the
    * reference corpus. Context counts are over positions 1..n-1 (every
    * position that HAS a next token), so P(·|w) sums to 1 under add-one
    * smoothing with the returned V.
    */
  case class BigramModel(unigrams: DataFrame, bigrams: DataFrame, vocab: Long)

  /** Adjacent-token pairs of a token array, one row per pair
    * (tokenization = [[TextAnalysis.words]], the corpus-wide convention).
    */
  private def pairStream(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), TextAnalysis.words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__ws")) - 1),
        i => struct(element_at(col("__ws"), i).as("w1"),
          element_at(col("__ws"), i + 1).as("w2")))).as("__p"))
      .select(col(idCol), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
  }

  /** Two corpus passes total: one for the bigram aggregation (materialized
    * — `localCheckpoint` — because both score joins AND the unigram
    * derivation hang off it; as un-cached lineage one scoring action would
    * re-scan the reference corpus per branch), one for the vocabulary
    * count. Context counts need NO pass of their own: c1(w) ≡ Σ_w2
    * c2(w, w2), a groupBy over the vocab-bounded bigram table.
    */
  def train(corpus: DataFrame, idCol: String, textCol: String): BigramModel = {
    val pairs = pairStream(corpus, idCol, textCol)
    val bigrams = Materialize(pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    val unigrams = bigrams.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val vocab = corpus
      .select(explode(TextAnalysis.words(col(textCol))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    BigramModel(unigrams, bigrams, vocab)
  }

  /** Per-document mean negative log-likelihood (nats/token-transition)
    * under add-one smoothing: -(1/(n-1)) Σ ln((c2+1)/(c1+V)). Unseen
    * contexts score ln(V)/… via c1=0, c2=0 — no infinities. Documents with
    * fewer than 2 tokens are dropped (no transitions to score).
    *
    * Output: (idCol, n_transitions, cross_entropy).
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: BigramModel): DataFrame = {
    val pairs = pairStream(docs, idCol, textCol)
    // no broadcast hint: count tables are usually broadcast-class and AQE
    // picks that up from runtime stats, but a web-scale bigram table can
    // outgrow executor memory and must be allowed to shuffle-join
    val nll = pairs
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams, Seq("w1"), "left")
      .select(col(idCol),
        (-log((coalesce(col("c2"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("c1"), lit(0L)) + model.vocab).cast("double")))
          .as("nl"))
    nll.groupBy(idCol)
      .agg(count(lit(1)).as("n_transitions"),
        (sum(col("nl").cast(DecimalType(30, 6))).cast("double") /
          count(lit(1))).as("cross_entropy"))
  }

  /** Train on `reference`, score `docs` — the end-to-end quality scorer.
    * Training on the corpus being scored (reference = docs) is the
    * self-perplexity variant used for outlier detection.
    */
  def perplexityScore(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String): DataFrame =
    score(docs, idCol, textCol, train(reference, idCol, textCol))

  /** Top-k continuations per context word — the corpus-derived
    * suggestion/autocomplete table (and the inspection surface for the
    * bigram model [[score]] runs on: "what does the corpus think follows
    * w?"). Pure integer ranking: count DESC, then word ASC — total
    * order, no floats anywhere, replays on any engine.
    *
    * Scale shape: the count table is vocabulary-bounded (map-side
    * combined, tiny next to corpus bytes); the rank is one window over
    * per-context groups whose size is the context's distinct-follower
    * count — bounded by vocabulary, not corpus. Output:
    * (w1, w2, c2, rank ≤ k).
    */
  def topContinuations(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val counts = pairStream(Spread.toCores(corpus), idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val byCount = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("c2").desc, col("w2").asc)
    counts.withColumn("rank", row_number().over(byCount).cast("long"))
      .filter(col("rank") <= k)
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020): within each
    * stratum (CCNet: language; here any column — source, domain), rank
    * documents by LM cross-entropy ascending and cut the ranking into
    * `numBuckets` equal-depth buckets. Bucket 0 ("head") is the most
    * fluent third of each stratum — the slice pre-training recipes keep
    * first; "tail" is reviewed or dropped. Equal-DEPTH, not equal-score:
    * the recipe's contract is "a third of each language", robust to the
    * per-stratum score distribution.
    *
    * Cut arithmetic is explicit — bucket = min(B−1,
    * floor((rank−1)·B / count)) over a total (cross_entropy, id) order —
    * rather than `ntile`, whose remainder-distribution convention varies
    * by engine; this shape replays bit-for-bit anywhere (exact integer
    * products < 2⁵³, correctly-rounded IEEE division, floor).
    *
    * Scale shape: scoring is [[perplexityScore]] (vocab-bounded count
    * joins). The per-stratum rank does NOT put a stratum on one task
    * (languages are few and fat — "web" is most of a real mix): it is a
    * two-level prefix sum in the [[graft.ops.Sampling.tokenBudgetMix]]
    * shape, with the range dimension cut on `percentile_approx` scores
    * because the sort key here is a measured double, not a uniform hash.
    * Each stratum's scores split into `rankBuckets` score ranges (bucket
    * assignment depends ONLY on the score, so equal scores can never
    * straddle a boundary), per-(stratum, range) counts (strata ×
    * rankBuckets tiny rows) turn into offsets, and every range ranks its
    * own rows in parallel: global rank = offset + local row_number, a
    * BIT-IDENTICAL total (cross_entropy, id) order to a single
    * per-stratum window (OpsSpec proves the identity), with max per-task
    * rows ≈ stratum/rankBuckets. Quantile-estimate error skews range
    * SIZES (load balance), never the rank — correctness does not depend
    * on sketch quality.
    *
    * The rank is ADAPTIVE on a measured two-tier gate (the q99
    * salted-join discipline): the bucketed form's extra passes (pin +
    * quantile bounds + per-range counts) cost ~1 s of fixed small-job
    * overhead at sf0.1 — pure waste when every stratum already fits one
    * task comfortably. Tier 1 is `docs.count()` (cheap — parquet answers
    * from footers): the corpus total bounds every stratum, so under
    * `exactWindowMaxRows` the ORIGINAL unpinned single-window plan runs
    * with zero added jobs. Past it, the scored table is pinned once,
    * strata counted on the checkpoint, and only a stratum actually over
    * the bound flips the rank to the bucketed prefix sum. Both forms
    * produce the identical output by the OpsSpec identity, so the gate
    * can never change results — only the plan.
    *
    * Output: (idCol, stratumCol, n_transitions, cross_entropy, bucket,
    * band) — band ∈ head/middle/tail for numBuckets = 3, "b<i>"
    * otherwise. Documents with < 2 tokens have no score and are absent,
    * as in [[score]].
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, numBuckets: Int = 3, rankBuckets: Int = 64,
      exactWindowMaxRows: Long = 4L << 20): DataFrame = {
    require(numBuckets >= 1, s"numBuckets=$numBuckets must be >= 1")
    require(rankBuckets >= 2, s"rankBuckets=$rankBuckets must be >= 2")
    import org.apache.spark.sql.expressions.Window
    def mkScored(pin: Boolean): DataFrame = {
      val s = perplexityScore(docs, docs, idCol, textCol)
        .join(docs.select(col(idCol), col(stratumCol)), Seq(idCol))
      // pinned on the multi-pass path only: the bucketed rank (and the
      // stratum-count gate) read the scored table up to three times — as
      // raw lineage each pass would re-run the whole bigram-scoring
      // subtree; the single-pass window path skips the pin entirely
      if (pin) Materialize(s) else s
    }
    val labels = if (numBuckets == 3) Seq("head", "middle", "tail")
      else (0 until numBuckets).map(i => s"b$i")
    def finish(ranked: DataFrame): DataFrame = ranked
      .withColumn("bucket", least(lit(numBuckets.toLong - 1),
        floor((col("__rn") - 1L) * numBuckets / col("__cnt"))))
      .withColumn("band", element_at(typedlit(labels), (col("bucket") + 1).cast("int")))
      .select(col(idCol), col(stratumCol), col("n_transitions"),
        col("cross_entropy"), col("bucket"), col("band"))
    def windowRank(scored: DataFrame): DataFrame = {
      val byPpl = Window.partitionBy(col(stratumCol))
        .orderBy(col("cross_entropy").asc, col(idCol).asc)
      finish(scored
        .withColumn("__rn", row_number().over(byPpl).cast("long"))
        .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col(stratumCol)))))
    }
    // tier 1: the corpus total bounds every stratum — a cheap count keeps
    // the small-scale plan exactly what it was (unpinned, one window)
    if (docs.count() <= exactWindowMaxRows) return windowRank(mkScored(pin = false))
    val scored = mkScored(pin = true)
    // tier 2: strata counted on the checkpoint — only an actually-fat
    // stratum pays for the bucketed machinery
    val maxStratum = Option(scored.groupBy(col(stratumCol)).count()
      .agg(max("count")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    if (maxStratum <= exactWindowMaxRows) return windowRank(scored)
    // interior quantiles of the per-stratum score → range-bucket bounds
    val probs = (1 until rankBuckets).map(_.toDouble / rankBuckets)
    val bounds = scored.groupBy(col(stratumCol))
      .agg(percentile_approx(col("cross_entropy"), typedlit(probs), lit(10000))
        .as("__qs"))
    val ranged = scored.join(broadcast(bounds), Seq(stratumCol))
      .withColumn("__rb", aggregate(col("__qs"), lit(0),
        (acc, q) => acc + when(col("cross_entropy") > q, 1).otherwise(0)))
      .drop("__qs")
    // strata × rankBuckets rows: per-range counts → in-stratum offsets
    val wOff = Window.partitionBy(col(stratumCol)).orderBy(col("__rb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = ranged.groupBy(col(stratumCol), col("__rb"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum(col("__c")).over(wOff) - col("__c"))
      .withColumn("__cnt", sum(col("__c")).over(Window.partitionBy(col(stratumCol))))
      .drop("__c")
    val byPplInRange = Window.partitionBy(col(stratumCol), col("__rb"))
      .orderBy(col("cross_entropy").asc, col(idCol).asc)
    finish(ranged.join(broadcast(offs), Seq(stratumCol, "__rb"))
      .withColumn("__rn", col("__off") + row_number().over(byPplInRange).cast("long")))
  }
}
