package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** In-engine training of the hashed linear quality classifier — the
  * missing half of [[TextAnalysis.classifierLogit]] (which SCORES with a
  * fixed weight table): a fastText-style bag-of-hashed-unigrams linear
  * model learned from weak labels (source/domain membership, the CCNet /
  * DSIR practice of bootstrapping a quality model from "looks like
  * Wikipedia vs looks like raw crawl").
  *
  * The learner is the batch (epoch-synchronous) PERCEPTRON, chosen over
  * logistic-loss gradient descent deliberately: every update is an
  * INTEGER sum over the epoch's misclassified set —
  *
  *   w ← w + Σ_{d : y_d · ⟨w, x_d⟩ ≤ 0}  y_d · x_d
  *
  * — so training is order-independent (no sequential-update path
  * dependence), bitwise-deterministic, and replayable on any engine
  * (logistic GD needs `exp`, whose last bits differ between libm and the
  * JVM — a hash-exact oracle could never gate it). With w₀ = 0 the first
  * epoch's update is Σ y·x, the difference of class count-vectors — the
  * same direction DSIR's integer discriminant tests — and later epochs
  * sharpen exactly the margins that discriminant gets wrong.
  *
  * Scale shape: the (doc, bucket, count) feature stream is built in one
  * corpus pass and pinned ([[Materialize]]) because every epoch reads it
  * twice (margins, then the misclassified update) — `epochs` is small and
  * fixed, so the pin amortizes across 2·epochs+1 passes; the raw-lineage
  * alternative re-tokenizes the corpus each pass. Per epoch: one
  * broadcast join of the ≤`buckets`-row weight table + two aggregations
  * (doc-keyed margins, bucket-keyed update). The weight table lives on
  * the driver between epochs — bounded by `buckets` (default 2^16) BY
  * CONSTRUCTION, the same bounded-collect class as the PQ codebooks and
  * MG candidate tables. Margins accumulate in DECIMAL(38,0) (exact,
  * order-independent; |margin| ≤ len_d · epochs · N_tokens can graze the
  * long range at extreme scale) and cast to long at the output edge.
  *
  * ML caveat, stated: the plain perceptron has no class weighting — weak
  * labels that are both IMBALANCED and textually uninformative collapse
  * it to the majority class (the all-negative fixed point is exactly
  * where an unlearnable 15/85 mix lands, and OpsSpec pins that floor).
  * Validate against a held-out slice or balance the label sample before
  * trusting the margins as a quality signal.
  */
object Learn {

  private def tokenStream(docs: DataFrame, idCol: String, textCol: String,
      isPositive: Column, buckets: Int,
      wordHash: HashFamily): DataFrame = {
    // words hashed INSIDE the array (fused n=1 gram hashes — no per-word
    // string/md5-hex churn), only longs explode; identical (id, __y, __b)
    // rows as the explode-then-hash chain
    val ws = filter(TextAnalysis.words(col(textCol)), w => length(w) > 0)
    val hashed = TextAnalysis.fusedGramHashes(ws, 1, wordHash,
      shortDocWhole = false)
    Spread.toCores(docs)
      .select(col(idCol), when(isPositive, 1L).otherwise(-1L).as("__y"),
        explode(hashed).as("__h"))
      .select(col(idCol), col("__y"),
        pmod(col("__h"), lit(buckets.toLong)).as("__b"))
      .groupBy(col(idCol), col("__y"), col("__b"))
      .agg(count(lit(1)).as("__c"))
  }

  /** Per-doc margins under a broadcast weight table (empty map ⇒ all 0). */
  private def margins(toks: DataFrame, idCol: String,
      weights: Map[Long, Long]): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val wDf = weights.toSeq.toDF("__b", "__wt")
    toks.join(broadcast(wDf), Seq("__b"), "left")
      .groupBy(col(idCol), col("__y"))
      .agg(sum((coalesce(col("__wt"), lit(0L)) * col("__c"))
        .cast(DecimalType(38, 0))).as("__m"))
  }

  /** Train the weight table: bucket -> weight, only nonzero entries.
    * Deterministic in (docs, labels, epochs, buckets, wordHash) — the
    * partitioning and scan order never matter.
    */
  def perceptronWeights(docs: DataFrame, idCol: String, textCol: String,
      isPositive: Column, epochs: Int = 3, buckets: Int = 65536,
      wordHash: HashFamily = HashFamily.Xx64): Map[Long, Long] = Materialize.scoped {
    val toks = Materialize(tokenStream(docs, idCol, textCol, isPositive,
      buckets, wordHash))
    weightsFromToks(toks, idCol, epochs, buckets)
  }

  /** The epoch loop over an already-pinned feature stream — shared by
    * [[perceptronWeights]] and [[perceptronClassify]] so the two cannot
    * drift.
    */
  private def weightsFromToks(toks: DataFrame, idCol: String, epochs: Int,
      buckets: Int): Map[Long, Long] = {
    require(epochs >= 1, s"epochs=$epochs must be >= 1")
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    var w = Map.empty[Long, Long]
    (1 to epochs).foreach { _ =>
      val mis = margins(toks, idCol, w)
        .filter(col("__y") * col("__m") <= 0)
        .select(col(idCol))
      val delta = toks.join(mis, Seq(idCol), "left_semi")
        .groupBy(col("__b")).agg(sum(col("__y") * col("__c")).as("__d"))
        .collect() // ≤ buckets rows by construction
        .map(r => r.getLong(0) -> r.getLong(1))
      delta.foreach { case (b, d) =>
        val nw = w.getOrElse(b, 0L) + d
        w = if (nw == 0L) w - b else w.updated(b, nw)
      }
    }
    w
  }

  /** Score `docs` under a trained weight table: (idCol, margin, predicted)
    * — predicted ∈ {+1, −1}, margin > 0 ⇒ +1. Docs with zero tokens have
    * no features and are absent (the [[graft.ops.Sampling
    * .importanceWeights]] convention). One broadcast join + one doc-keyed
    * aggregation; usable on a DIFFERENT corpus than the training one
    * (train on labeled week-1 data, classify the week-2 crawl).
    */
  def perceptronApply(docs: DataFrame, idCol: String, textCol: String,
      weights: Map[Long, Long], buckets: Int = 65536,
      wordHash: HashFamily = HashFamily.Xx64): DataFrame =
    margins(tokenStream(docs, idCol, textCol, lit(true), buckets, wordHash),
        idCol, weights)
      .select(col(idCol), col("__m").cast("long").as("margin"),
        when(col("__m") > 0, 1L).otherwise(-1L).as("predicted"))

  /** Train-and-classify in one call — the gate/report surface: every
    * tokenized doc with its weak label, final-weight margin, prediction
    * and correctness. Training resubstitution accuracy is the standard
    * smoke signal that the weak labels carry learnable structure.
    */
  def perceptronClassify(docs: DataFrame, idCol: String, textCol: String,
      isPositive: Column, epochs: Int = 3, buckets: Int = 65536,
      wordHash: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    // ONE pinned feature stream shared by the epoch loop AND the final
    // scoring pass (guide §2.4): the old shape trained on a checkpointed
    // stream, threw it away, and re-tokenized the whole corpus for the
    // score — a full extra corpus pass per consume. localCheckpoint (not
    // persist): the epoch loop runs 2·epochs actions over this frame, and
    // a lineage-keeping persist re-plans the full upstream tree per
    // action — measured as a q144 regression before this was switched to
    // the same truncated pin perceptronWeights always used.
    val toks = Materialize(tokenStream(docs, idCol, textCol, isPositive,
      buckets, wordHash))
    val w = weightsFromToks(toks, idCol, epochs, buckets)
    Materialize(margins(toks, idCol, w)
      .select(col(idCol), col("__y").as("y"),
        col("__m").cast("long").as("margin"),
        when(col("__m") > 0, 1L).otherwise(-1L).as("predicted"))
      .withColumn("correct", col("predicted") === col("y")))
  }
}
