package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around Spark's shuffle model (SURVEY §7 step 6):
  *
  *   - exact: one hash-shuffle on the fingerprint — the minimal plan;
  *   - MinHash+LSH: signatures are per-row codegen'd expressions (no
  *     explode, no shuffle); only the narrow (band, bandHash, docId)
  *     projection shuffles, and candidate verification touches shingle
  *     sets for candidate pairs only. At 100 TB the band shuffle is ~
  *     numBands × docs tiny rows — the standard scalable shape;
  *   - SimHash: 64-bit signature per row, banded into 4×16-bit chunks for
  *     hamming-neighbor candidate generation;
  *   - n-gram Jaccard: the verification predicate, reusable standalone;
  *   - embedding cosine: random-hyperplane LSH over `array<float>`.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------

  /** Exact duplicate groups by normalized-content fingerprint: one row per
    * distinct content, with the kept (minimum) id and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Deduplicated view: keep the smallest id per fingerprint. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---- MinHash + LSH -------------------------------------------------

  /** Universal-hash parameters (a*h + b mod p), deterministic from a seed.
    * p = 2^31-1 (Mersenne prime) keeps a*h < 2^62 — no long overflow, so
    * the expressions stay legal under ANSI arithmetic (Spark 4 default).
    */
  private val P = 2147483647L // 2^31 - 1
  // private[graft]: the q54 exact oracle embeds the same (a, b) literals in
  // its generated DuckDB SQL so both engines run the identical permutations.
  private[graft] def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (P - 1) + 1, math.abs(rnd.nextLong()) % P))
  }

  /** Pick (numBands, rowsPerBand) for a target jaccard threshold: among
    * factorizations b·r = numHashes, choose the one whose S-curve midpoint
    * (1/b)^(1/r) — the similarity at which a pair's candidate probability
    * crosses 1/2-ish — lands closest to the threshold. Below-threshold
    * pairs then mostly never collide (band join stays sparse) and
    * above-threshold pairs almost surely do (recall), which is the knob
    * that controls the candidate-pair volume the verification join must
    * absorb at 100 TB.
    */
  def lshParams(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1)
    val choices = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    choices.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** MinHash signature (array<long> of length numHashes) over the word
    * n-gram shingle set. Shingle hashing stays in built-ins; the k-way min
    * loop is the custom [[graft.functions.MinHashSig]] expression (the
    * equivalent 64 HOF lambdas per row were the q54 bench hotspot).
    */
  def minhashSignature(text: Column, shingleSize: Int = 3,
      numHashes: Int = 64, seed: Long = 42L): Column = {
    val hashed = transform(
      TextAnalysis.hashedShingles(text, shingleSize, HashFamily.Xx64),
      h => pmod(h, lit(P)))
    val (as, bs) = hashParams(numHashes, seed).unzip
    graft.functions.sketches.minhash_sig(hashed, as.toArray, bs.toArray)
  }

  /** LSH band keys for a signature: numBands hashes of rowsPerBand-sized
    * signature slices. Two documents share a band key iff that band's
    * signature rows all collide — the classic S-curve knob.
    */
  def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int,
      hash64: HashFamily = HashFamily.Xx64): Column =
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        hash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, rowsPerBand))).as("bandHash"))
    }: _*)

  /** Candidate pairs from MinHash LSH, verified with exact shingle-set
    * Jaccard >= threshold. Output: (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Scale shape (the part that matters at 100 TB): the band self-join
    * shuffles ONLY (id, band, bandHash) — never the shingle arrays; the
    * surviving candidate pairs are deduped FIRST, and shingle sets are
    * fetched once per side for verification. Shipping payloads through the
    * band join multiplies them by numBands × collisions and was measured
    * 50× slower at sf0.1.
    *
    * `hash64` is the shingle/band hash family: `xxhash64` (default —
    * cheapest) for production, [[HashFamily.Portable60]] for the q54
    * exact cross-engine gate, where DuckDB replays the identical
    * signatures, band keys and verification sets (shared collision
    * behavior included — both engines hash the same strings with the same
    * function, so a collision adds the same candidate on both sides).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, numBands: Int = 0,
      threshold: Double = 0.7, seed: Long = 42L,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    // numBands = 0 (default): derive the banding from the threshold via
    // the S-curve rule, so the candidate volume tracks what the caller
    // actually asked for (a fixed 16-band split of 64 hashes has its
    // midpoint at 0.5 regardless of threshold).
    //
    // COST OF THE DEFAULT (round-6 decision record): threshold-faithful
    // banding is kept. Measured at sf0.1, threshold 0.7 (derived 8×8
    // banding) and threshold 0.5 (derived 16×4, identical to the old
    // fixed-16 default) run in the same time (1.69 s vs 1.72 s) — the
    // round-5 bench delta attributed to this default was host variance
    // plus the q54 gate's own threshold move (0.7 → 0.5 keeps more
    // verified pairs). At high thresholds the derived banding picks
    // FEWER, longer bands, which SHRINKS the candidate join; the knob to
    // document is recall, not cost: recall at similarity s is
    // 1 − (1 − s^r)^b, so the default's recall near the threshold follows
    // the S-curve midpoint — callers wanting higher recall below the
    // midpoint pass numBands explicitly (e.g. 16) and pay candidates.
    val bands = if (numBands > 0) numBands else lshParams(numHashes, threshold)._1
    val rowsPerBand = numHashes / bands
    val (as, bs) = hashParams(numHashes, seed).unzip
    val in = Spread.toCores(df)
    // Cached: the shingling subtree feeds the band branch AND both sides of
    // candidate verification — uncached it re-evaluates 3×. Only the NARROW
    // (id, xxh: array<long>) projection is cached — the string shingle
    // arrays never leave the scan stage (they dominated the round-1 cache
    // footprint and its MEMORY_AND_DISK spill). Both downstream hash
    // domains derive from xxh = hash64(shingle): the 31-bit minhash input
    // is pmod(xxh, P) and the verification sets are array_sort(xxh).
    val base = Materialize.cache(in.select(col(idCol).as("id"),
        TextAnalysis.hashedShingles(col(textCol), shingleSize, hash64)
          .as("xxh")))
    val hashed = transform(col("xxh"), h => pmod(h, lit(P)))
    val sig = graft.functions.sketches.minhash_sig(hashed, as.toArray, bs.toArray)

    val banded = base
      .withColumn("sig", sig)
      .select(col("id"),
        explode(bandKeys(col("sig"), bands, rowsPerBand, hash64)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bandHash"))

    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val shingleSets = base.select(col("id"), array_sort(col("xxh")).as("sh"))
    val result = candidates
      .join(shingleSets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingleSets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        graft.functions.sketches.sorted_jaccard_long_sim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // Eagerly pin the (small — near-dup pairs only) result, so the scope
    // can release the shingle cache before the operator returns.
    Materialize(result)
  }

  /** Near-duplicate pairs ACROSS two corpora — the train-vs-eval
    * DECONTAMINATION join ("drop every training document that is a
    * near-duplicate of some benchmark document"), the near-dup complement
    * of the exact shingle hit-rate check (q69). Same MinHash machinery as
    * [[minhashNearDups]]: both sides are signed with the SAME permutation
    * family, candidates come from the narrow cross-side band join (id,
    * band, bandHash — never shingle arrays), pairs are deduped first, and
    * shingle sets are fetched once per side for the exact Jaccard >=
    * threshold verify. IDs live in SEPARATE id spaces (no `<` ordering):
    * output is (left_id, right_id, jaccard).
    *
    * Scale shape: identical to the self-join case — at 100 TB train × 1 GB
    * eval the band join's right side is tiny, so the exchange ships the
    * eval bands to the train bands' partitioning and the verify join's
    * eval side broadcasts; no all-pairs stage anywhere.
    */
  // ---- persisted LSH index (incremental near-dup) ---------------------

  /** A persisted MinHash-LSH index: band keys + sorted shingle-hash sets
    * of the historical corpus, plus the sketch parameters a probe must
    * reuse. The incremental-crawl shape: yesterday's corpus is indexed
    * ONCE; each new batch probes band keys (bounded batch side →
    * broadcast) and verifies exact Jaccard against only the matched
    * historical rows — never re-sketching 100 TB of history per batch.
    * `hash64` is not stored; the caller supplies the SAME family at probe
    * time (the stored `params` row carries the rest and is enforced on
    * load... a hash family mismatch shows up as zero recall, which the
    * q54_planted-style recall tests catch).
    */
  case class MinhashIndex(shingleSize: Int, numHashes: Int, numBands: Int,
      seed: Long, bands: DataFrame, shingles: DataFrame)

  /** Sketch once, persist: `<path>/bands` (id, band, bandHash) range-
    * clustered on (band, bandHash) — probe keys meet per-file key ranges
    * and skip unmatched files — `<path>/shingles` (id, sh) for the exact
    * verify, `<path>/params` for the sketch geometry.
    */
  def saveMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 64,
      numBands: Int = 0, threshold: Double = 0.7, seed: Long = 42L,
      hash64: HashFamily = HashFamily.Xx64,
      numFiles: Int = 32): Unit = Materialize.scoped {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bands = if (numBands > 0) numBands else lshParams(numHashes, threshold)._1
    val base = shinglePrep(corpus, idCol, textCol, shingleSize, hash64)
    Layout.writeClustered(
      bandRows(base, numHashes, bands, seed, hash64),
      s"$path/bands", Seq(col("band"), col("bandHash")), numFiles)
    base.select(col("id"), array_sort(col("xxh")).as("sh"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    Seq((shingleSize, numHashes, bands, seed))
      .toDF("shingle_size", "num_hashes", "num_bands", "seed")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Delete documents from a persisted MinHash-LSH index — the removal
    * half of the incremental-crawl lifecycle (the complement of
    * [[appendToMinhashIndex]]; a taken-down historical doc must stop
    * matching future batches). Both tables rewrite through the atomic
    * [[Layout.rewriteClustered]] swap, band keys keeping their
    * (band, bandHash) clustering so probe-side file skipping is
    * preserved; `params` (the sketch geometry) is untouched. `numFiles`
    * sizes BOTH rewrites — the shingles table is ~numBands× smaller per
    * row group than bands, so it takes a proportionally smaller file
    * count (floor numFiles/4, min 4) rather than a surprising hardcoded
    * one. The deleted index is row-identical to one built without the
    * ids — the append ≡ rebuild property, mirrored. Unknown ids are
    * no-ops.
    */
  def deleteFromMinhashIndex(ids: DataFrame, idCol: String, path: String,
      numFiles: Int = 32): Unit = Materialize.scoped {
    val spark = ids.sparkSession
    val del = Materialize(ids.select(col(idCol).as("id")).distinct())
    Layout.rewriteClustered(spark, s"$path/bands",
      Seq(col("band"), col("bandHash")), numFiles)(
      _.join(del, Seq("id"), "left_anti"))
    Layout.rewriteClustered(spark, s"$path/shingles", Seq(col("id")),
      math.max(4, numFiles / 4))(
      _.join(del, Seq("id"), "left_anti"))
  }

  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): MinhashIndex = {
    val p = spark.read.parquet(s"$path/params").head()
    MinhashIndex(p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3),
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"))
  }

  /** Sketch ONLY the new batch, probe the stored bands, verify exact
    * Jaccard against the matched historical shingle sets. Output:
    * (left_id = historical, right_id = batch, jaccard) — identical to
    * [[minhashNearDupsAcross]](history, batch) by construction (same
    * signatures, same band keys, same verify), so the two paths share
    * oracles.
    */
  def minhashNearDupsIndexed(index: MinhashIndex, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      hash64: HashFamily = HashFamily.Xx64,
      maxBroadcastBandRows: Long = 4000000L): DataFrame = Materialize.scoped {
    val rBase = shinglePrep(batch, idCol, textCol, index.shingleSize, hash64)
    val rBands = bandRows(rBase, index.numHashes, index.numBands,
      index.seed, hash64)
    // The "batch is the small side" assumption is measured, not assumed:
    // rBase is cached anyway, so counting it is free, and the band-row
    // count is exactly batchRows × numBands. Under the cap (default 4M
    // band rows ≈ low hundreds of MB serialized) the probe broadcasts;
    // over it — a "batch" that is really a corpus — fall back to a
    // shuffle hash join on the same keys rather than OOM the driver.
    val bandRowCount = rBase.count() * index.numBands
    val probe = if (bandRowCount <= maxBroadcastBandRows) broadcast(rBands)
                else rBands
    val candidates = index.bands.as("a")
      .join(probe.as("b"),
        col("a.band") === col("b.band") && col("a.bandHash") === col("b.bandHash"))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"))
      .dropDuplicates("left_id", "right_id")
    val result = candidates
      .join(index.shingles.select(col("id").as("left_id"), col("sh").as("sh_a")),
        "left_id")
      .join(rBase.select(col("id").as("right_id"), array_sort(col("xxh")).as("sh_b")),
        "right_id")
      .withColumn("jaccard",
        graft.functions.sketches.sorted_jaccard_long_sim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
    Materialize(result)
  }

  /** Append a (new-id) batch's bands + shingles to the index — the daily
    * ingest step; sketch geometry comes from the stored params so the
    * appended rows are indistinguishable from a full rebuild's.
    *
    * Crash semantics (single writer): shingles are appended FIRST, bands
    * second. Discovery goes through bands — a shingle row whose id has no
    * band rows is never consulted — so a crash between the two writes
    * leaves orphan shingles (the batch simply looks un-appended and can
    * NOT half-match), never band keys whose exact-verify side is missing
    * (which would silently drop verified pairs).
    */
  def appendToMinhashIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, hash64: HashFamily = HashFamily.Xx64,
      numFiles: Int = 8): Unit = Materialize.scoped {
    val spark = batch.sparkSession
    val idx = loadMinhashIndex(spark, path)
    val base = shinglePrep(batch, idCol, textCol, idx.shingleSize, hash64)
    base.select(col("id"), array_sort(col("xxh")).as("sh"))
      .write.mode("append").parquet(s"$path/shingles")
    Layout.writeClustered(
      bandRows(base, idx.numHashes, idx.numBands, idx.seed, hash64),
      s"$path/bands", Seq(col("band"), col("bandHash")), numFiles,
      mode = "append")
  }

  /** Batch rows with NO verified near-dup in the index: the keep-set of
    * incremental near-dup dedup (the fuzzy complement of the exact
    * [[novelAgainst]]).
    */
  def novelAgainstMinhashIndex(index: MinhashIndex, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = {
    val dups = minhashNearDupsIndexed(index, batch, idCol, textCol,
      threshold, hash64).select(col("right_id").as("__dup_id"))
    batch.join(dups, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Shared shingle-hash prep: (id, xxh array<long>), cached — every
    * index/across path builds from exactly this.
    */
  private def shinglePrep(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, hash64: HashFamily): DataFrame =
    Materialize.cache(Spread.toCores(df).select(col(idCol).as("id"),
        TextAnalysis.hashedShingles(col(textCol), shingleSize, hash64)
          .as("xxh")))

  /** Shared band-key rows: (id, band, bandHash) from a prepped frame. */
  private def bandRows(base: DataFrame, numHashes: Int, bands: Int,
      seed: Long, hash64: HashFamily): DataFrame = {
    val rowsPerBand = numHashes / bands
    val (as, bs) = hashParams(numHashes, seed).unzip
    val sig = graft.functions.sketches.minhash_sig(
      transform(col("xxh"), h => pmod(h, lit(P))), as.toArray, bs.toArray)
    base.withColumn("sig", sig)
      .select(col("id"),
        explode(bandKeys(col("sig"), bands, rowsPerBand, hash64)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bandHash"))
  }

  def minhashNearDupsAcross(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, numBands: Int = 0,
      threshold: Double = 0.7, seed: Long = 42L,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    val bands = if (numBands > 0) numBands else lshParams(numHashes, threshold)._1
    val lBase = shinglePrep(left, idCol, textCol, shingleSize, hash64)
    val rBase = shinglePrep(right, idCol, textCol, shingleSize, hash64)
    def bandsOf(base: DataFrame): DataFrame =
      bandRows(base, numHashes, bands, seed, hash64)
    val candidates = bandsOf(lBase).as("a").join(bandsOf(rBase).as("b"),
        col("a.band") === col("b.band") && col("a.bandHash") === col("b.bandHash"))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"))
      .dropDuplicates("left_id", "right_id")
    val lSets = lBase.select(col("id").as("left_id"), array_sort(col("xxh")).as("sh_a"))
    val rSets = rBase.select(col("id").as("right_id"), array_sort(col("xxh")).as("sh_b"))
    val result = candidates
      .join(lSets, "left_id")
      .join(rSets, "right_id")
      .withColumn("jaccard",
        graft.functions.sketches.sorted_jaccard_long_sim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
    Materialize(result)
  }

  /** Exact Jaccard similarity of two (distinct-element) string arrays —
    * hash-set loop via [[graft.functions.JaccardSim]] (same value as the
    * array_intersect formulation, ~3× less per-pair overhead).
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.sketches.jaccard_sim(a, b)

  /** Direct n-gram Jaccard near-dup within cheap blocking groups (same
    * blockCol value) — the no-sketch baseline, O(pairs-in-block).
    *
    * Shape: shuffle ONE narrow (block, id, sorted-hashes) row per document
    * — ~1 KB each — then run the O(n²) pairwise merge walks block-locally
    * in `flatMapGroups`. A self-join formulation materializes both shingle
    * arrays per PAIR (measured ~4 GB at sf0.1); this moves ~8 MB total and
    * does the same arithmetic CPU-local. Size-ratio prefilter:
    * jaccard <= min(|a|,|b|)/max(|a|,|b|) — no false negatives.
    *
    * Bounded blocks: a block with n > maxBlock docs is hash-split into
    * m = ceil(n / maxBlock) chunks and the O(n²) pair space becomes
    * m(m+1)/2 chunk-pair TASKS of ≤ 2·maxBlock docs each — every pair is
    * covered by exactly one task (the (min,max) chunk pair), so the output
    * is identical to the single-task triangle. This caps per-task memory
    * AND parallelizes the quadratic work: an adversarial single-block
    * corpus becomes m² balanced tasks instead of one straggler that holds
    * the whole block (the round-1 100 TB risk). Replication cost: each doc
    * row is shipped to m tasks — linear in the (already narrow) input.
    * The per-block counts table is one row per block key (bounded by
    * blocking-key cardinality, small by construction) → broadcast.
    */
  /** Exact n-gram eval decontamination — the GPT-3/PaLM recipe (GPT-3
    * paper appendix C: a benchmark example is "dirty" when any of its
    * 13-grams collides with the training corpus): for every eval document,
    * how many of its DISTINCT word n-grams occur anywhere in `train`.
    * Returns one row per eval doc: (eval_id, n_grams, n_matched,
    * contaminated = n_matched > 0). Eval docs with fewer than `n` words
    * have zero grams and report clean — callers wanting the short-doc
    * edge handled differently (e.g. whole-doc hash) compose with
    * [[exactDups]].
    *
    * Scale shape (train = the 100 TB side, eval = a benchmark suite,
    * bounded by construction): the eval gram set is collected ONCE and
    * broadcast; the train pass explodes per-doc-distinct grams, drops
    * everything outside the broadcast set AT THE SCAN (survivors are at
    * most |eval gram set| keys), and only those survivors pay a distinct
    * shuffle. The train corpus is never shuffled and never joined wide —
    * one scan, one tiny aggregation. The per-eval-doc counts then join
    * the (≤ eval-sized) matched-gram table back, also broadcast.
    *
    * `gramHash` defaults to `xxhash64`; the q131 gate passes
    * [[HashFamily.Portable60]] so DuckDB replays every gram key
    * bit-for-bit (64-bit collisions are ~n²/2⁶⁴ — irrelevant for
    * flagging, and the ORACLE uses the same keys so the gate is exact
    * regardless).
    */
  def gramContamination(train: DataFrame, trainId: String, trainText: String,
      eval: DataFrame, evalId: String, evalText: String,
      n: Int = 13,
      gramHash: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    def gramsOf(df: DataFrame, id: String, text: String, out: String) = {
      // fused gram hashing (GC-bound declaratively — DESIGN §14.7)
      val gh = array_distinct(TextAnalysis.fusedGramHashes(
        TextAnalysis.words(col(text)), n, gramHash, shortDocWhole = false))
      df.select(col(id).cast("long").as(out), gh.as("gh"))
    }
    val ev = Materialize.cache(gramsOf(eval, evalId, evalText, "eval_id"))
    val evalGramSet = ev.select(explode(col("gh")).as("gram")).distinct()
    // grams present in BOTH corpora: broadcast-filter the train scan down
    // to eval-set hits first, distinct only the survivors
    val matched = gramsOf(Spread.toCores(train), trainId, trainText, "tid")
      .select(explode(col("gh")).as("gram"))
      .join(broadcast(evalGramSet), Seq("gram"), "left_semi")
      .distinct()
    val counts = ev.select(col("eval_id"), explode(col("gh")).as("gram"))
      .join(broadcast(matched), Seq("gram"), "left_semi")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_matched"))
    Materialize(ev.select(col("eval_id"), size(col("gh")).cast("long").as("n_grams"))
      .join(counts, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated")))
  }

  /** Duplicate-aware soft dedup: instead of DROPPING near-duplicates,
    * keep every copy and down-weight it by its cluster's size — weight
    * = 1 / |cluster| makes each duplicated item contribute one unit of
    * training mass in total, wherever its copies live. The sampling-
    * friendly alternative to keep-one dedup when copies carry signal
    * (popularity, cross-source confirmation) that hard dropping throws
    * away.
    *
    * `pairs` is any (id_a, id_b) near-dup pair set, as in
    * [[graft.ops.Sampling.leakFreeSplit]]; clusters close via
    * [[dupClusters]] (pair-bounded CC), singletons weigh 1. Pairs mined
    * from a SUPERSET of `docs` (pre-filter mining, a shared pair store)
    * are fine: cluster sizes count only members PRESENT in `docs` — an
    * absent member must not dilute the survivors' weights, or the
    * "each duplicated item contributes one unit of mass" invariant would
    * silently break (per-cluster mass would sum below 1). The
    * corpus-sized work is one broadcast-class left join plus a per-row
    * division. Output: (idCol, cluster, cluster_size, weight) — the
    * division is one correctly-rounded IEEE op from an integer, so the
    * weights replay bit-for-bit in any engine.
    */
  def softDedupWeights(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val cl = dupClusters(pairs, maxIter)
      .join(docs.select(col(idCol).cast("long").as("id")), Seq("id"), "left_semi")
    val sizes = cl.groupBy(col("cluster")).agg(count(lit(1)).as("__cs"))
    val labeled = cl.join(sizes, Seq("cluster"))
      .select(col("id").as(idCol), col("cluster"), col("__cs"))
    docs.select(col(idCol))
      .join(labeled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol).cast("long")).as("cluster"),
        coalesce(col("__cs"), lit(1L)).as("cluster_size"))
      .withColumn("weight", lit(1.0) / col("cluster_size"))
  }

  /** Content-defined chunking at word granularity (the FastCDC/LBFS
    * boundary idea mapped to text): a word is a BOUNDARY when
    * hash(word) mod `modulus` == 0 (expected chunk length = modulus
    * words); a boundary word CLOSES its chunk. Because boundaries depend
    * only on content, an insertion or deletion re-cuts only its
    * neighborhood — every chunk outside it keeps its identity, which is
    * what makes chunk-hash dedup robust to edits where fixed-width
    * splits resynchronize nowhere.
    *
    * Entirely per-row: one higher-order `aggregate` folds the word array
    * into chunks inside the scan (array-append cost is quadratic in DOC
    * length at the copy level — fine for documents; chunk a book corpus
    * with the explode+window formulation instead). Output: (idCol,
    * chunk_idx, n_words, chunk_hash) — hash of the space-joined chunk,
    * `hash64`-parametric like every sketch here (gates pass
    * [[HashFamily.Portable60]]).
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 16,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = {
    require(modulus >= 1, s"modulus=$modulus must be >= 1")
    val ws = TextAnalysis.words(col(textCol))
    // Fused kernel ([[graft.functions.CdcChunkStats]]): (n_words,
    // chunk_hash) structs in one pass over one reused buffer. A
    // declarative `aggregate` fold copies its whole accumulator on every
    // appended word (quadratic cell copies per doc); FunctionsSpec keeps
    // that fold as the reference the kernel is bit-identical to.
    val cc = graft.functions.textgrams.cdc_chunk_stats(ws, modulus, hash64.portable)
    Spread.toCores(df)
      .select(col(idCol), posexplode(cc).as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.n_words").as("n_words"),
        col("__c.chunk_hash").as("chunk_hash"))
  }

  /** Cross-document shared-chunk statistics over [[cdcChunks]] — the
    * chunk-level dedup signal (which parts of each document exist
    * elsewhere in the corpus, at edit-resilient boundaries): per doc,
    * total chunks/words and how many sit in chunks whose hash occurs in
    * ≥ `minDocs` DISTINCT documents.
    *
    * Scale shape = [[dedupLinesAcross]]: the distinct-doc count runs over
    * narrow (hash, id) longs, the join-back side is the shared-chunk
    * vocabulary (duplication-bounded → AQE broadcast when small).
    * Output: (idCol, n_chunks, n_words, n_shared_chunks, shared_words).
    */
  def cdcSharedChunkStats(df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 16, minDocs: Int = 2,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    val chunks = Materialize.cache(cdcChunks(df, idCol, textCol, modulus, hash64))
    val shared = chunks.select(col("chunk_hash"), col(idCol))
      .distinct()
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("chunk_hash"))
    Materialize(chunks
      .join(shared.withColumn("__shared", lit(1L)), Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_words")).as("n_words"),
        sum(when(col("__shared").isNotNull, 1L).otherwise(0L)).as("n_shared_chunks"),
        sum(when(col("__shared").isNotNull, col("n_words")).otherwise(0L))
          .as("shared_words")))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS local fingerprinting algorithm): hash every
    * word `k`-gram, slide a window of `w` consecutive gram hashes, keep
    * the MINIMUM of each window, dedupe. Guarantee: any shared token run
    * of length ≥ k + w − 1 contributes at least one SHARED fingerprint —
    * the local-substring detection MinHash (a whole-document sketch)
    * can't give, at w× fewer fingerprints than full shingling.
    *
    * Entirely per-row (one codegen'd pass: gram hashes, window minima,
    * dedupe — no shuffle until the caller joins on fingerprints). Docs
    * with fewer grams than `w` keep their single overall-min gram hash;
    * docs shorter than `k` words emit nothing.
    *
    * `hash64`: production = xxhash64; gates pass
    * [[HashFamily.Portable60]] so every fingerprint replays in SQL.
    * Output: (idCol, fp) — exploded, distinct per doc.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be >= 1")
    val gh = TextAnalysis.fusedGramHashes(TextAnalysis.words(col(textCol)), k,
      hash64, shortDocWhole = false)
    // [[graft.functions.WinnowMins]]: the monotonic-deque O(len) pass
    // with first-occurrence dedupe, element-identical to the declarative
    // O(len·w) window-min chain (FunctionsSpec property test).
    val fps = graft.functions.textgrams.winnow_mins(col("__gh"), w)
    Spread.toCores(df)
      .select(col(idCol), gh.as("__gh"))
      .select(col(idCol), explode(fps).as("fp"))
  }

  /** Fingerprint-sharing near-dup candidates over [[winnowFingerprints]]:
    * pairs of documents sharing ≥ `minShared` winnowed fingerprints —
    * partial-overlap detection (quotes, shared sections, plagiarism),
    * the use the algorithm was built for.
    *
    * Scale shape: the join key is the fingerprint, so pair space is
    * Σ_fp df(fp)² — bounded by dropping fingerprints in more than
    * `maxDf` documents (boilerplate phrases; the exact analogue of
    * [[dedupLinesAcross]]'s vocabulary cut and a standard MOSS option).
    * Never all-pairs: a fingerprint shared by every document is dropped,
    * not joined. Output: (id_a, id_b, shared).
    */
  def winnowNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 2, maxDf: Int = 256,
      hash64: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    // Cached (the minhashNearDups `base` pattern): the fingerprint scan
    // feeds the df count AND both sides of the pair join — uncached, the
    // gram-hash pass re-runs up to 4× per action (measured 2.2× the whole
    // op's cost at sf1 with the md5 gate family). Only the narrow
    // (id, fp) longs are cached; gram strings never leave the scan.
    val fps = Materialize.cache(winnowFingerprints(df, idCol, textCol, k, w, hash64))
    // fingerprints in [2, maxDf] docs: singletons can't form a pair,
    // ultra-common ones would explode the pair space quadratically
    val joinable = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select(col("fp"))
    val pruned = fps.join(joinable, Seq("fp"))
    val l = pruned.select(col("fp"), col(idCol).as("id_a"))
    val r = pruned.select(col("fp"), col(idCol).as("id_b"))
    // eagerly pin the (near-dup-bounded) pairs; the scope drops the cache
    Materialize(l.join(r, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared))
  }

  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, shingleSize: Int = 3, threshold: Double = 0.7,
      maxBlock: Int = 4096): DataFrame = {
    // The prefix filter below is only sound for a POSITIVE threshold:
    // at t = 0 every pair qualifies (including pairs sharing no element),
    // which no prefix index can surface — and prefixLen(len) = len + 1
    // would read past the array. Refuse loudly instead of answering wrong
    // (t = 0 callers want a plain cross join, not a similarity join).
    require(threshold > 0 && threshold <= 1,
      s"ngramJaccardNearDups: threshold=$threshold must be in (0, 1]")
    import df.sparkSession.implicits._
    val t = Spread.toCores(df).select(col(idCol).cast("long").as("id"),
        blockCol.cast("string").as("blk"),
        array_sort(TextAnalysis.hashedShingles(col(textCol), shingleSize,
          HashFamily.Xx64)).as("sh"))
    val counts = t.groupBy(col("blk")).agg(count(lit(1)).as("n"))
    val chunked = t.join(broadcast(counts), "blk")
      .select(col("blk"),
        ceil(col("n").cast("double") / maxBlock).cast("int").as("m"),
        pmod(xxhash64(col("id")), ceil(col("n").cast("double") / maxBlock).cast("int"))
          .cast("int").as("c"),
        col("id"), col("sh"))
      .as[(String, Int, Int, Long, Array[Long])]
    // Replicate each doc to every chunk-pair task it participates in:
    // doc in chunk c → tasks {(min(c,o), max(c,o)) : o < m} — m tasks/doc.
    chunked.flatMap { case (blk, m, c, id, sh) =>
        (0 until m).iterator.map { o =>
          ((blk, math.min(c, o), math.max(c, o)), c, id, sh)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key: (String, Int, Int), it: Iterator[((String, Int, Int), Int, Long, Array[Long])]) =>
        val ci = key._2; val cj = key._3
        val ds = it.toArray
        val out = Seq.newBuilder[(Long, Long, Double)]
        def emit(a: (Long, Array[Long]), b: (Long, Array[Long])): Unit = {
          val (lo, hi) = if (a._1 < b._1) (a, b) else (b, a)
          val x = lo._2; val y = hi._2
          if (x.length >= y.length * threshold && y.length >= x.length * threshold) {
            val jac = sortedJaccardLong(x, y)
            if (jac >= threshold) out += ((lo._1, hi._1, jac))
          }
        }
        // Prefix-filter candidate generation (AllPairs/PPJoin, Bayardo et
        // al. WWW'07 / Chaudhuri et al. ICDE'06) instead of the previous
        // all-pairs loop: J(x,y) >= t implies |x ∩ y| >= ceil(t·max(|x|,
        // |y|)) >= ceil(t·|x|), and two sets with overlap >= α must share
        // an element among the first (len − α + 1) elements of EACH under
        // a global element order — the arrays are already sorted, so the
        // order is the hash value itself. Indexing only each doc's prefix
        // tokens and probing with each doc's prefix therefore surfaces
        // every qualifying pair; `emit` (the unchanged length filter +
        // exact sorted-merge Jaccard) decides, so the output is identical
        // to the all-pairs loop while the comparisons drop from O(block²)
        // to near the true-pair count (shingle hashes rarely repeat across
        // non-duplicate docs, so postings stay short).
        def prefixLen(len: Int): Int =
          if (len == 0) 0 else len - math.ceil(threshold * len).toInt + 1
        val postings = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Int]]()
        if (ci == cj) {
          val docs = ds.map(d => (d._3, d._4)).sortBy(_._1)
          val lastSeen = Array.fill(docs.length)(-1)
          var i = 0
          while (i < docs.length) {
            val sh = docs(i)._2
            val pl = prefixLen(sh.length)
            var p = 0
            while (p < pl) {
              val lst = postings.get(sh(p))
              if (lst != null) {
                var q = 0
                while (q < lst.length) {
                  val j = lst(q)
                  if (lastSeen(j) != i) {
                    lastSeen(j) = i
                    emit(docs(j), docs(i))
                  }
                  q += 1
                }
                lst += i
              } else {
                val nl = new scala.collection.mutable.ArrayBuffer[Int](4)
                nl += i
                postings.put(sh(p), nl)
              }
              p += 1
            }
            i += 1
          }
        } else {
          val as = ds.filter(_._2 == ci).map(d => (d._3, d._4))
          val bs = ds.filter(_._2 == cj).map(d => (d._3, d._4))
          var i = 0
          while (i < as.length) {
            val sh = as(i)._2
            val pl = prefixLen(sh.length)
            var p = 0
            while (p < pl) {
              var lst = postings.get(sh(p))
              if (lst == null) {
                lst = new scala.collection.mutable.ArrayBuffer[Int](4)
                postings.put(sh(p), lst)
              }
              lst += i
              p += 1
            }
            i += 1
          }
          val lastSeen = Array.fill(as.length)(-1)
          var bi = 0
          while (bi < bs.length) {
            val sh = bs(bi)._2
            val pl = prefixLen(sh.length)
            var p = 0
            while (p < pl) {
              val lst = postings.get(sh(p))
              if (lst != null) {
                var q = 0
                while (q < lst.length) {
                  val j = lst(q)
                  if (lastSeen(j) != bi) {
                    lastSeen(j) = bi
                    emit(as(j), bs(bi))
                  }
                  q += 1
                }
              }
              p += 1
            }
            bi += 1
          }
        }
        out.result().iterator
      }
      .toDF("id_a", "id_b", "jaccard")
  }

  /** SemDedup-style semantic near-dup pairs (cluster-then-compare over
    * embeddings, after Abbas et al. 2023): k-means buckets the corpus into
    * `numClusters` semantic neighborhoods, and only WITHIN-cluster pairs
    * pay a cosine comparison — the all-pairs matrix is never formed, and
    * by design cross-cluster pairs (cosine below the cluster radius) are
    * not candidates. Complements [[embeddingNearDups]]: hyperplane LSH
    * recalls near-exact duplicates (cos ≥ ~0.95) with per-row banding,
    * while cluster blocking reaches the looser "same meaning" band
    * (0.8–0.95) that LSH banding needs exponentially many tables for.
    *
    * Scale shape: assignment is the zero-shuffle per-row argmax of
    * [[Similarity.ivfAssign]]; within-cluster O(|c|²) work is split into
    * bounded chunk-pair tasks exactly like [[ngramJaccardNearDups]] (each
    * task holds ≤ 2·maxBlock unit vectors, every pair covered exactly
    * once), so a skewed giant cluster parallelizes instead of OOMing one
    * task. Vectors are L2-normalized ONCE behind a projection boundary;
    * each pair costs one dot product.
    */
  def semanticNearDups(emb: DataFrame, idCol: String, vecCol: String,
      numClusters: Int = 64, threshold: Double = 0.9, kmeansIters: Int = 1,
      nProbe: Int = 2, maxBlock: Int = 4096,
      meanQuantizeInv: Option[Double] = None): DataFrame = {
    import emb.sparkSession.implicits._
    val cents = Similarity.kmeansIterate(emb, idCol, vecCol,
      Similarity.centroids(emb, idCol, vecCol, numClusters), kmeansIters,
      meanQuantizeInv)
    // multi-probe (soft) assignment: a pair straddling a cluster boundary
    // still meets in a shared second-choice cluster — single-assignment
    // SemDedup misses exactly those; cost is an nProbe× row replication
    // into the blocking, and duplicate pair emissions collapse below
    val unit = Similarity.withUnitVec(
      Similarity.ivfAssignMulti(emb, idCol, vecCol, cents, nProbe), "cv", "uv")
    val t = unit.select(col("cid").cast("string").as("blk"),
      col("vec_id").cast("long").as("id"),
      col("uv").cast("array<double>").as("v"))
    val counts = t.groupBy(col("blk")).agg(count(lit(1)).as("n"))
    val chunked = t.join(broadcast(counts), "blk")
      .select(col("blk"),
        ceil(col("n").cast("double") / maxBlock).cast("int").as("m"),
        pmod(xxhash64(col("id")), ceil(col("n").cast("double") / maxBlock).cast("int"))
          .cast("int").as("c"),
        col("id"), col("v"))
      .as[(String, Int, Int, Long, Array[Double])]
    chunked.flatMap { case (blk, m, c, id, v) =>
        (0 until m).iterator.map { o =>
          ((blk, math.min(c, o), math.max(c, o)), c, id, v)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key: (String, Int, Int), it: Iterator[((String, Int, Int), Int, Long, Array[Double])]) =>
        val ci = key._2; val cj = key._3
        val ds = it.toArray
        val out = Seq.newBuilder[(Long, Long, Double)]
        def emit(a: (Long, Array[Double]), b: (Long, Array[Double])): Unit = {
          val (lo, hi) = if (a._1 < b._1) (a, b) else (b, a)
          val cos = dotUnit(lo._2, hi._2)
          if (cos >= threshold) out += ((lo._1, hi._1, cos))
        }
        if (ci == cj) {
          val docs = ds.map(d => (d._3, d._4)).sortBy(_._1)
          var i = 0
          while (i < docs.length) {
            var j = i + 1
            while (j < docs.length) { emit(docs(i), docs(j)); j += 1 }
            i += 1
          }
        } else {
          val as = ds.filter(_._2 == ci).map(d => (d._3, d._4))
          val bs = ds.filter(_._2 == cj).map(d => (d._3, d._4))
          var i = 0
          while (i < as.length) {
            var j = 0
            while (j < bs.length) { emit(as(i), bs(j)); j += 1 }
            i += 1
          }
        }
        out.result().iterator
      }
      .toDF("id_a", "id_b", "cosine")
      // a pair sharing several probed clusters is emitted once per shared
      // cluster (identical cosine each time) — collapse to one row
      .groupBy(col("id_a"), col("id_b")).agg(max(col("cosine")).as("cosine"))
  }

  /** Dot product of pre-normalized vectors (= cosine; 0 for mismatched
    * or zero inputs — never NaN, which Spark orders above every double).
    */
  private def dotUnit(a: Array[Double], b: Array[Double]): Double = {
    if (a.length != b.length || a.length == 0) return 0.0
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Merge-walk jaccard over sorted long arrays — same arithmetic as
    * [[graft.functions.SortedJaccardLongSim]].
    */
  private def sortedJaccardLong(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Connected components over near-dup pairs → (id, cluster), cluster =
    * the minimum id in the component — the step that turns pairwise
    * near-dup evidence into actual dedup decisions (keep one doc per
    * cluster).
    *
    * Iterative min-label propagation: each round every node takes the min
    * label among itself and its neighbors; converges in O(component
    * diameter) rounds. The scale properties that matter at 100 TB: no
    * transitive closure is ever materialized (the classic SQL formulation
    * is O(component²) rows), each round is one narrow (src, label) join +
    * one groupBy, and lineage is truncated per round (localCheckpoint) so
    * plans stay O(1) regardless of rounds. The per-round driver round-trip
    * is a convergence PROBE (does any label still shrink?), not data
    * collection. Near-dup components are overwhelmingly tiny (pairs/small
    * chains), so rounds ≈ 2-3 in practice; maxIter bounds adversarial
    * chains. Each round's labels are released once the next round is
    * pinned, so at most two rounds are held.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = Materialize.scoped {
    val edges = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
    // materialize the (narrow) edge set ONCE: every round's actions would
    // otherwise re-run the whole upstream pair-generation pipeline
    val sym = Materialize(edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst"))))
    // Seed labels with min(id, direct-neighbor min) instead of id: the
    // same single aggregation the old distinct() paid (groupBy IS the
    // distinct), but components of diameter <= 2 — pairs and stars, the
    // overwhelming near-dup case — arrive already labeled and converge
    // one full round earlier: one fewer label-table join + shuffle +
    // checkpoint at corpus scale. Final labels are identical (min-label
    // CC has a unique fixpoint; seeding is exactly one propagation step).
    var labels = Materialize(sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("label"))
      val updated = labels.unionAll(neighborMin)
        .groupBy("id").agg(min(col("label")).as("newLabel"))
      // The convergence probe rides the round's one materialization: a
      // side-effecting projection counts label shrinks into an accumulator
      // while the eager localCheckpoint evaluates every row — no separate
      // count() job per round (retries/speculation can only overcount,
      // and the test is exactly-zero). asNondeterministic keeps Catalyst
      // from collapsing or re-deriving the projection.
      val shrinks = labels.sparkSession.sparkContext.longAccumulator("labelShrinks")
      val countShrink = udf((oldL: Long, newL: Long) => {
        if (newL < oldL) shrinks.add(1L)
        newL
      }).asNondeterministic()
      val joined = Materialize(labels.withColumnRenamed("label", "oldLabel")
        .join(updated, "id")
        .withColumn("newLabel", countShrink(col("oldLabel"), col("newLabel"))))
      converged = shrinks.value == 0L
      Materialize.release(labels)
      labels = joined.select(col("id"), col("newLabel").as("label"))
      iter += 1
    }
    // Silently-wrong clusters are worse than a loud stop: labels that are
    // still shrinking at maxIter would split one component into several and
    // the caller could not tell.
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge within $maxIter rounds — a duplicate " +
        "component has diameter > maxIter; raise maxIter")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** [[dupClusters]] for ARBITRARY id types (string, UUID, binary, …):
    * the same min-label propagation, but labels keep the id column's own
    * type and ordering instead of a long cast — a non-numeric id under
    * the long-cast path becomes a NULL edge and silently clusters
    * nothing, which for the streaming admission sink means near-dups get
    * ADMITTED while the flag claims they are dropped. Intended for
    * micro-batch-scale pair sets (the admission path): the convergence
    * probe is a per-round `limit(1).count()` existence check — fine at
    * that scale — instead of the accumulator ride-along the long-id path
    * uses to stay count-free at corpus scale.
    */
  def dupClustersAny(pairs: DataFrame, maxIter: Int = 20): DataFrame = Materialize.scoped {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val sym = Materialize(edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst"))))
    // Seed labels with min(id, direct-neighbor min) instead of id: the
    // same single aggregation the old distinct() paid (groupBy IS the
    // distinct), but components of diameter <= 2 — pairs and stars, the
    // overwhelming near-dup case — arrive already labeled and converge
    // one full round earlier: one fewer label-table join + shuffle +
    // checkpoint at corpus scale. Final labels are identical (min-label
    // CC has a unique fixpoint; seeding is exactly one propagation step).
    var labels = Materialize(sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("label"))
      val updated = labels.unionAll(neighborMin)
        .groupBy("id").agg(min(col("label")).as("newLabel"))
      val joined = Materialize(labels.withColumnRenamed("label", "oldLabel")
        .join(updated, "id"))
      converged = joined.filter(col("newLabel") < col("oldLabel")).limit(1).count() == 0L
      Materialize.release(labels)
      labels = joined.select(col("id"), col("newLabel").as("label"))
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClustersAny did not converge within $maxIter rounds — a duplicate " +
        "component has diameter > maxIter; raise maxIter")
    labels.select(col("id"), col("label").as("cluster"))
  }

  // ---- incremental dedup against a historical corpus -----------------

  /** Documents whose (normalized-content) fingerprint does NOT appear in
    * `historical` — the incremental-ingest face of exact dedup: each new
    * crawl/batch is admitted only if its content is novel relative to
    * everything already in the corpus.
    *
    * Scale shape: a distributed Bloom filter over the historical
    * fingerprints ([[graft.functions.BloomBuildAggregator]] — one scan,
    * OR-merged bitsets, shuffled state independent of row count) is probed
    * per incoming row inside codegen. Rows the filter rejects are
    * DEFINITELY novel (no false negatives) and ship straight to the
    * output; only the colliding slice — fpp × novel + the true duplicates
    * — pays the exact anti-join, whose probe side is therefore tiny no
    * matter how large the incoming batch. The join key is the full 128-bit
    * md5 fingerprint, not the 64-bit bloom hash, so a 64-bit collision
    * cannot drop a novel document. The result is EXACTLY the anti-join
    * answer; the bloom only prunes.
    */
  /** Build the (bitset, k) Bloom filter over `historical`'s content
    * fingerprints — one distributed scan with OR-merged partial bitsets.
    * Shared by [[novelAgainst]] and the streaming
    * [[graft.streaming.TopicStreams.novelDocs]] (which builds the filter
    * once, batch-side, and probes it per micro-batch row).
    */
  def historicalBloom(historical: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double): (Array[Long], Int) = {
    import org.apache.spark.sql.Encoders
    val (numBits, k) = graft.functions.BloomParams.forItems(expectedItems, fpp)
    val bloomUdaf = org.apache.spark.sql.functions.udaf(
      new graft.functions.BloomBuildAggregator(numBits, k), Encoders.scalaLong)
    val bits = historical
      .select(xxhash64(TextAnalysis.fingerprint(col(textCol))).as("h"))
      .select(bloomUdaf(col("h")).as("bits"))
      .head().getSeq[Long](0).toArray
    (bits, k)
  }

  /** Sharded twin of [[historicalBloom]] for corpora past the single-
    * filter 2^31-bit cap (~2e8 docs at 1% fpp — every real pre-training
    * corpus): the key space splits by a salted hash
    * ([[graft.functions.BloomShardOf]]) into `shards` groups, each with
    * its own correctly-sized bitset, built in ONE distributed aggregation
    * (groupBy shard, OR-merged partials). The result ships to executors
    * via `sparkContext.broadcast` — torrent-distributed once, never a
    * per-stage plan constant. The driver holds shards × bitset transiently
    * at collect time (23 shards × 256 MB for 5e9 docs — driver-memory
    * class, same as any large broadcast).
    */
  def shardedHistoricalBloom(historical: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double, shards: Int)
      : (org.apache.spark.broadcast.Broadcast[Array[Array[Long]]], Int) = {
    import org.apache.spark.sql.Encoders
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val perShard = math.max(1L, (expectedItems + shards - 1) / shards)
    val (numBits, k) = graft.functions.BloomParams.forItems(perShard, fpp)
    val bloomUdaf = org.apache.spark.sql.functions.udaf(
      new graft.functions.BloomBuildAggregator(numBits, k), Encoders.scalaLong)
    val built = historical
      .select(xxhash64(TextAnalysis.fingerprint(col(textCol))).as("h"))
      .withColumn("__shard", graft.functions.bloom.shard_of(col("h"), shards))
      .groupBy(col("__shard")).agg(bloomUdaf(col("h")).as("bits"))
      .collect()
    // shards with no historical rows stay all-zero: every probe is "absent"
    val arr = Array.fill(shards)(new Array[Long](numBits / 64))
    built.foreach(r => arr(r.getInt(0)) = r.getSeq[Long](1).toArray)
    (historical.sparkSession.sparkContext.broadcast(arr), k)
  }

  /** Auto-shards and auto-routes by TOTAL filter size: one broadcast
    * filter while it fits, [[shardedNovelAgainst]] (driver-collected,
    * torrent-broadcast) while shards × bits stays under
    * `maxBroadcastTotalBits`, and past that — where "sharding" no longer
    * saves the driver or the executors from holding the whole filter
    * (10^11 items at 1% fpp ≈ 120 GB of bits on EVERY node) — the
    * partitioned probe ([[partitionedNovelAgainst]], bitsets stay in
    * storage, each task touches one shard) when a scratch dir is given,
    * else the plain exact anti-join ([[exactNovelAgainst]], the same
    * answer the bloom paths confirm against, one fingerprint shuffle, no
    * resident filter at all). Default threshold 2^34 total bits (2 GiB of
    * bitset — comfortable broadcast class); the tested envelope (q77,
    * defaults) sits far under it and is unchanged.
    */
  def novelAgainst(incoming: DataFrame, historical: DataFrame,
      idCol: String, textCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01, maxBroadcastTotalBits: Long = 1L << 34,
      scratchDir: Option[String] = None): DataFrame = {
    val shards = graft.functions.BloomParams.shardsFor(expectedItems, fpp)
    val perShard = math.max(1L, (expectedItems + shards - 1) / shards)
    val totalBits =
      graft.functions.BloomParams.forItems(perShard, fpp)._1.toLong * shards
    if (totalBits <= maxBroadcastTotalBits)
      shardedNovelAgainst(incoming, historical, idCol, textCol, expectedItems,
        fpp, shards)
    else scratchDir match {
      case Some(d) => partitionedNovelAgainst(incoming, historical, idCol,
        textCol, expectedItems, fpp, shards, d)
      case None => exactNovelAgainst(incoming, historical, idCol, textCol)
    }
  }

  /** The no-filter fallback: exact anti-join on the full 128-bit content
    * fingerprint. Identical answer to every bloom path (the bloom only
    * prunes), one shuffle on the fingerprint, zero resident state — the
    * always-correct floor the sized paths optimize over.
    */
  def exactNovelAgainst(incoming: DataFrame, historical: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val histFp = historical
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct()
    incoming.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .filter(col("__fp").isNotNull)
      .join(histFp, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Build the per-shard bitsets DISTRIBUTED and leave them in storage —
    * each aggregation output row writes its own `shard_NNNNN.bits` file
    * (header: numBits, k; body: the raw longs) from the executor, so no
    * single JVM ever holds more than one shard. Returns (numBits, k).
    */
  def savePartitionedBloom(historical: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double, shards: Int, dir: String): (Int, Int) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.hadoop.fs.Path
    val spark = historical.sparkSession
    val perShard = math.max(1L, (expectedItems + shards - 1) / shards)
    val (numBits, k) = graft.functions.BloomParams.forItems(perShard, fpp)
    val bloomUdaf = org.apache.spark.sql.functions.udaf(
      new graft.functions.BloomBuildAggregator(numBits, k), Encoders.scalaLong)
    val root = new Path(dir)
    val fs = graft.log.LogFs.get(root, spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    fs.mkdirs(root)
    val conf = new graft.log.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    historical
      .select(xxhash64(TextAnalysis.fingerprint(col(textCol))).as("h"))
      .withColumn("__shard", graft.functions.bloom.shard_of(col("h"), shards))
      .groupBy(col("__shard")).agg(bloomUdaf(col("h")).as("bits"))
      .foreachPartition { (rows: Iterator[Row]) =>
        val fsx = graft.log.LogFs.get(new Path(dir), conf.value)
        rows.foreach { r =>
          val s = r.getInt(0)
          val bits = r.getSeq[Long](1)
          val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            fsx.create(new Path(dir, f"shard_$s%05d.bits"), true), 1 << 16))
          try {
            out.writeLong(numBits.toLong); out.writeLong(k.toLong)
            bits.foreach(out.writeLong)
          } finally out.close()
        }
      }
    (numBits, k)
  }

  private def loadShardBits(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      shard: Int, numBits: Int): Array[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, f"shard_$shard%05d.bits")
    // a shard with no historical rows wrote no file: all-zero bitset,
    // every probe answers "definitely absent"
    if (!fs.exists(p)) return new Array[Long](numBits / 64)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p), 1 << 16))
    try {
      val nb = in.readLong(); val kk = in.readLong()
      require(nb == numBits.toLong,
        s"shard $shard bitset has $nb bits, expected $numBits (stale dir?) " +
          s"k=$kk")
      val bits = new Array[Long](numBits / 64)
      var i = 0
      while (i < bits.length) { bits(i) = in.readLong(); i += 1 }
      bits
    } finally in.close()
  }

  /** The past-broadcast-scale escape hatch: bitsets stay in storage
    * ([[savePartitionedBloom]]); probes hash-PARTITION to their shard
    * (`repartition(shards, __shard)`) and each task lazily loads only the
    * shard bitsets its partition actually contains — expected one, never
    * more than a few under partition-hash collisions — so per-executor
    * filter residency is O(one shard) instead of O(all shards). The tail
    * is the same exact-confirm anti-join as [[shardedNovelAgainst]]:
    * identical output by construction.
    */
  def partitionedNovelAgainst(incoming: DataFrame, historical: DataFrame,
      idCol: String, textCol: String, expectedItems: Long, fpp: Double,
      shards: Int, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val spark = incoming.sparkSession
    val (numBits, k) =
      savePartitionedBloom(historical, textCol, expectedItems, fpp, shards, dir)
    val histFp = historical
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val in = incoming.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .filter(col("__fp").isNotNull)
      .withColumn("__h", xxhash64(col("__fp")))
      .withColumn("__shard", graft.functions.bloom.shard_of(col("__h"), shards))
    val schema = in.schema.add("__may", org.apache.spark.sql.types.BooleanType)
    val shardIdx = in.schema.fieldIndex("__shard")
    val hIdx = in.schema.fieldIndex("__h")
    val conf = new graft.log.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val probed = in.repartition(shards, col("__shard"))
      .mapPartitions { rows =>
        val cache = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
        var fs: org.apache.hadoop.fs.FileSystem = null
        rows.map { r =>
          val s = r.getInt(shardIdx)
          val bits = cache.getOrElseUpdate(s, {
            if (fs == null)
              fs = graft.log.LogFs.get(new org.apache.hadoop.fs.Path(dir), conf.value)
            loadShardBits(fs, dir, s, numBits)
          })
          val may = graft.functions.BloomParams.testBits(
            bits, numBits, k, r.getLong(hIdx))
          Row.fromSeq(r.toSeq :+ may)
        }
      }(Encoders.row(schema))
    val definiteNovel = probed.filter(!col("__may"))
    val confirmedNovel = probed.filter(col("__may"))
      .join(histFp.distinct().withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    definiteNovel.unionByName(confirmedNovel)
      .drop("__fp", "__h", "__shard", "__may")
  }

  def shardedNovelAgainst(incoming: DataFrame, historical: DataFrame,
      idCol: String, textCol: String, expectedItems: Long,
      fpp: Double, shards: Int): DataFrame = {
    val (bc, k) = shardedHistoricalBloom(historical, textCol, expectedItems, fpp, shards)
    val histFp = historical
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))

    // NULL text ⇒ NULL fingerprint: dropped, matching SQL NOT-IN semantics
    // (a left_anti NULL key would instead emit the row as "novel" forever).
    val in = incoming.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .filter(col("__fp").isNotNull)
      .withColumn("__may", graft.functions.bloom.might_contain_sharded(
        xxhash64(col("__fp")), bc, k))
    val definiteNovel = in.filter(!col("__may"))
    val confirmedNovel = in.filter(col("__may"))
      .join(histFp.distinct().withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    definiteNovel.unionByName(confirmedNovel).drop("__fp", "__may")
  }

  // ---- duplicated-span detection -------------------------------------

  /** Per-document duplicated-span statistics: how much of each document is
    * covered by word n-grams that also occur in OTHER documents — the
    * "duplicate text fraction" curation signal (documents that are mostly
    * boilerplate/copies score high even when no whole-document near-dup
    * fires). Output per doc: n_tokens, n_grams (positional n-gram count),
    * n_dup_grams (positions whose gram occurs in ≥2 distinct docs),
    * covered_tokens (distinct token positions under a duplicated gram),
    * dup_coverage = covered_tokens / n_tokens.
    *
    * Scale shape: positional n-grams explode to narrow (doc, pos, gram)
    * rows; the corpus-wide gram frequency is one hash aggregation with
    * map-side combine; the join back ships only the duplicated grams.
    * Covered positions expand each duplicated gram to at most n positions
    * before a per-doc distinct count — linear in duplicated volume, never
    * in pair count (contrast the O(pairs) verification of near-dup joins).
    *
    * Grams travel as 64-bit `gramHash` keys (default `xxhash64`): the
    * gram string never leaves the scan stage (the key is internal — it
    * joins frequency back to positions and is never output), so the
    * shuffle carries 8 bytes per gram instead of ~n words of text, and
    * the cached projection below stays narrow.
    * COLLISION CONTRACT: two distinct grams colliding on 64 bits would be
    * (mis)counted as one gram; at 100 TB (~10^12 distinct grams) the
    * birthday expectation is ~10^4 collided pairs out of 10^12 — a
    * duplicate-coverage signal perturbation of ~10^-8, far below the
    * thresholds any curation rule applies to `dup_coverage`. The q74 gate
    * runs this with [[HashFamily.Portable60]] and the DuckDB oracle
    * computes the SAME keys from the same gram strings, so the two engines
    * share collision behavior exactly — the gate is deterministic, not
    * probabilistic, while production keeps the cheaper xxhash64.
    * The
    * narrow (id, n_tokens, gh) frame is cached because THREE branches
    * (positions, frequencies, per-doc totals) read it — uncached, the
    * string gram construction re-evaluates per branch (the same fix as
    * [[minhashNearDups]]'s shingle cache; q74 measured 2.6 s → the cache
    * removes two of three scan-stage evaluations).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3,
      gramHash: HashFamily = HashFamily.Xx64): DataFrame =
    dupSpanStatsImpl(df, idCol, textCol, n, checkpoint = true, gramHash)

  /** [[dupSpanStats]] with the final eager localCheckpoint optional:
    * `checkpoint = false` keeps the full lazy plan (and leaves the shingle
    * cache registered) so plan-shape tests can inspect the physical tree
    * the checkpoint otherwise truncates to a LogicalRDD scan.
    */
  private[graft] def dupSpanStatsImpl(df: DataFrame, idCol: String,
      textCol: String, n: Int, checkpoint: Boolean,
      gramHash: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    val in = Spread.toCores(df)
    val ws = TextAnalysis.words(col(textCol))
    // fused single-pass gram hashing (GC-bound declaratively — DESIGN §14.7)
    val ghCol = TextAnalysis.fusedGramHashes(ws, n, gramHash, shortDocWhole = false)
    val grams = Materialize.cache(in.select(col(idCol).cast("long").as("id"),
        size(ws).cast("long").as("n_tokens"),
        ghCol.as("gh")))
    val pos = grams.select(col("id"), col("n_tokens"),
      posexplode_outer(col("gh")).as(Seq("pos", "gram")))
    // grams occurring in >= 2 distinct documents. Per-doc dedup happens
    // BEFORE the explode (array_distinct on the gram array) — exploding
    // then .distinct() would shuffle every positional gram occurrence a
    // second time just to collapse per-doc repeats.
    val dupGrams = grams
      .select(col("id"), explode(array_distinct(col("gh"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("gram"))
    val dupPos = pos.join(dupGrams, Seq("gram"))
    // Positions are UNIQUE per doc (posexplode indices; dupGrams is one
    // row per gram key), so n_dup_grams is a plain count and the covered-
    // token union of the [pos, pos+n-1] intervals is a sorted-gap sum:
    // n + Σ min(next−cur, n). No ×n tokpos explode, no Expand-doubled
    // double countDistinct shuffle — and the aggregation is TWO-level so
    // per-group state stays bounded: positions bucket by pos div 8192
    // first, then the per-doc merge sees one summary row per bucket (a
    // 100M-token boilerplate document is ~12k bucket rows, never one
    // giant position array). Buckets partition the sorted order, so the
    // global gap sum = within-bucket sums + cross-boundary gaps
    // min(nextBucket.min − bucket.max, n).
    //
    // The within-bucket gap sum is a streaming `lag` window, NOT a
    // collect_list+sort_array: the window's Tungsten sort is external
    // (spills, never holds a position array on the heap), its output
    // keeps the (id, b) hash-partitioning so the groupBy below needs no
    // second Exchange, and per-row state is one previous position. (The
    // round-5 collect_list form paid two array builds + in-memory sorts
    // and doubled q74's bench time; this is the round-6 fused rework.)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"), col("b")).orderBy(col("pos"))
    val buckets = dupPos
      .withColumn("b", expr("pos div 8192"))
      .withColumn("prev", lag(col("pos"), 1).over(wb))
      .groupBy(col("id"), col("b"))
      .agg(count(lit(1)).as("cnt"), min(col("pos")).as("minp"),
        max(col("pos")).as("maxp"),
        // NB: Spark `least` SKIPS nulls (least(null, n) = n), so the
        // first row of each bucket needs the explicit isNotNull guard or
        // it would contribute a phantom gap of n.
        coalesce(sum(when(col("prev").isNotNull,
            least(col("pos") - col("prev"), lit(n)))), lit(0L))
          .cast("long").as("inner"))
    val perDocDup = buckets
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_dup_grams"),
        sort_array(collect_list(struct(col("b"), col("minp"), col("maxp"),
          col("inner")))).as("bs"))
      .select(col("id"), col("n_dup_grams"),
        (aggregate(col("bs"), lit(n.toLong),
            (acc, x) => acc + x.getField("inner").cast("long")) +
          aggregate(
            zip_with(
              slice(col("bs"), lit(1), size(col("bs")) - 1),
              slice(col("bs"), lit(2), size(col("bs")) - 1),
              (u, v) => least(v.getField("minp") - u.getField("maxp"), lit(n))),
            lit(0L), (acc, x) => acc + x.cast("long"))).as("covered_tokens"))
    val result = grams.select(col("id"), col("n_tokens"),
        size(col("gh")).cast("long").as("n_grams"))
      .join(perDocDup, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_coverage"))
    // eagerly pin the per-doc (small) output; the scope then releases the
    // cache — same lifetime discipline as minhashNearDups
    if (checkpoint) Materialize(result) else result
  }

  /** Duplicated-span EXCISION — the removal mode of [[dupSpanStats]]
    * (which only measures): rewrite every document with each token
    * covered by a cross-document duplicated n-gram REMOVED, the
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al., ACL'22) substring-removal pass at word-gram
    * granularity.
    *
    * Same candidate machinery as the stats op: positional n-grams, keys
    * hashed per doc, grams in ≥ `minDocs` DISTINCT docs are duplicated;
    * a duplicated gram at position p covers tokens [p, p+n−1]. Covered
    * positions collect per doc (the covered set is ≤ n·dup-starts and
    * already interval-merged by the distinct) and the rewrite is one
    * per-row array filter over the tokenized text — `array_contains`
    * per token, fine while per-doc token counts stay document-sized;
    * a 100M-token pathological doc would want the sorted-gap walk
    * instead.
    *
    * Output: (id, n_tokens, n_removed, clean_text) — every input doc
    * appears, clean_text = "" when everything was duplicated.
    */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Int = 2,
      gramHash: HashFamily = HashFamily.Xx64): DataFrame = Materialize.scoped {
    val in = Spread.toCores(df)
    val toks = Materialize.cache(in.select(col(idCol).cast("long").as("id"),
        TextAnalysis.words(col(textCol)).as("__ws")))
    def grams = toks.select(col("id"),
      TextAnalysis.fusedGramHashes(col("__ws"), n, gramHash, shortDocWhole = false)
        .as("gh"))
    val dupGrams = grams
      .select(col("id"), explode(array_distinct(col("gh"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("gram"))
    val covered = grams
      .select(col("id"), posexplode(col("gh")).as(Seq("pos", "gram")))
      .join(dupGrams, Seq("gram"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tokpos"))
      .distinct()
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("tokpos"))).as("cov"))
    val cov = coalesce(col("cov"), array().cast("array<int>"))
    val keptToks = filter(
      transform(sequence(lit(0), size(col("__ws")) - 1),
        i => struct(i.as("p"), element_at(col("__ws"), i + 1).as("w"))),
      s => !array_contains(cov, s.getField("p")))
    Materialize(toks.join(covered, Seq("id"), "left")
      .select(col("id"),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(cov).cast("long").as("n_removed"),
        concat_ws(" ", transform(keptToks, s => s.getField("w")))
          .as("clean_text")))
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash over the word multiset: bit k of the signature is the
    * sign of sum over words of (bit k of xxhash64(word) ? +1 : -1).
    * Near-duplicates differ in few bits (small hamming distance).
    */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(TextAnalysis.words(text), w => xxhash64(w)))

  /** SimHash from precomputed per-word hashes — single primitive loop via
    * [[graft.functions.SimHash64]] (64 HOF aggregates per row were the q56
    * bench hotspot).
    */
  def simhashFromHashes(hs: Column): Column =
    graft.functions.sketches.simhash64(hs)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups: band the 64-bit signature into 4×16-bit chunks —
    * any pair within hamming distance 3 shares at least one chunk
    * (pigeonhole) — then verify the full distance.
    *
    * `wordHash` is the per-word hash family: `xxhash64` (default) for
    * production, [[HashFamily.Portable60]] for the q56 exact gate —
    * DuckDB then rebuilds every signature bit-for-bit (bits 60..63 vote
    * all-negative on both engines, so they are 0 on both sides of every
    * pair) and, banding being pigeonhole-complete for hamming <= 3, the
    * oracle's all-pairs hamming filter is EXACTLY this function's output.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      wordHash: HashFamily = HashFamily.Xx64): DataFrame = {
    val t = Spread.toCores(df).select(col(idCol).as("id"),
        transform(TextAnalysis.words(col(textCol)), w => wordHash(w)).as("hs"))
      .select(col("id"), simhashFromHashes(col("hs")).as("sig"))
    bandedHamming64Pairs(t, maxHamming)
  }

  /** Hamming-neighbor pairs over ANY (id, sig) 64-bit signature table —
    * the banding tail shared by text SimHash ([[simhashNearDups]]) and
    * image perceptual hashes ([[Multimodal.nearDupImages]]). 4×16-bit
    * chunks: a pair within hamming ≤ 3 differs in ≤ 3 chunks, so at least
    * one of the 4 matches (pigeonhole) — candidate generation is complete,
    * and the band join ships (id, chunk, key) rows only.
    */
  def bandedHamming64Pairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding is only pigeonhole-complete for hamming <= 3, got $maxHamming")
    val chunked = sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
        }: _*)).as("ck"))
      .select(col("id"), col("sig"), col("ck.chunk"), col("ck.key"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  // ---- embedding cosine near-dup -------------------------------------

  /** Random-hyperplane LSH near-dup over embeddings: numBands bands of
    * planesPerBand sign bits each; a pair is a candidate if ANY band's bit
    * pattern collides (OR over bands lifts recall), then exact cosine
    * verifies. The band join shuffles only (id, band, key).
    *
    * Default geometry 8 bands × 12 bits (round 16 — the original 2 × 6
    * was a measured quadratic at scale: 6-bit bands have 64 keys, so
    * UNRELATED vectors collide at ~2^-6 and the band self-join grows as
    * N²/64 — a 10× corpus cost 28×, not 10×). At 12 bits the junk-pair
    * term is N²·8/4096 (16× fewer candidates than 2×6) while recall for
    * real near-dups holds: per-plane agreement p = 1 − θ/π, so a
    * cosine-0.999 pair collides per 12-bit band at 0.986^12 ≈ 0.84 →
    * ≈ 1 − 4·10⁻⁷ over 8 bands, and even at the 0.95 threshold boundary
    * (p ≈ 0.899) recall is 1 − (1 − 0.899^12)^8 ≈ 0.93 — candidates
    * only PROPOSE; exact cosine decides, so extra bands never change
    * precision. LSH banding keeps an intrinsic N²/2^bits junk term;
    * widening bits is the lever that keeps it sub-dominant at corpus
    * scale (same reasoning as the 4×16-bit SimHash banding above).
    */
  /** `planeOverride`: None (production) draws Gaussian hyperplanes from
    * `seed` (Java PRNG — not replayable outside the JVM); Some(planes)
    * pins the family, which is how the q57 gate runs the md5-seeded
    * portable planes a SQL oracle can rebuild (the q107 codebook move).
    * Uniform-cube directions are not rotation-invariant like Gaussians,
    * but LSH only PROPOSES candidates here — the exact cosine verify
    * decides membership either way, so recall shifts slightly and
    * precision not at all.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numBands: Int = 8, planesPerBand: Int = 12,
      threshold: Double = 0.95, seed: Long = 7L,
      planeOverride: Option[Array[Array[Double]]] = None): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val numPlanes = numBands * planesPerBand
    val planes = planeOverride.getOrElse(
      Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian())))
    require(planes.length == numPlanes && planes.forall(_.length == dim),
      s"planeOverride must be $numPlanes x $dim")
    val v = col(vecCol).cast("array<double>")
    // All numPlanes sign bits in one primitive-loop HyperplaneSig pass
    // (round 1 evaluated numPlanes interpreted zip_with+aggregate lambda
    // chains per row — the hotspot class MinHashSig already fixed). The
    // expression's sequential dot accumulation matches the aggregate fold,
    // so the band keys are identical.
    val keys = graft.functions.sketches.hyperplane_sig(v, planes, planesPerBand)
    val in = Spread.toCores(df)

    // Narrow band join (id, band, key) → dedupe candidates → fetch vectors
    // once per side for exact-cosine verification (same scale shape as
    // minhashNearDups).
    val banded = in.select(col(idCol).as("id"),
        posexplode(keys).as(Seq("band", "key")))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = in.select(col(idCol).as("id"), v.as("v"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-dup pairs ACROSS two corpora — SEMANTIC
    * decontamination ("drop training documents whose embedding is
    * near-identical to a benchmark document's"), the vector-space
    * complement of [[minhashNearDupsAcross]]. Both sides are signed with
    * the SAME hyperplane family (seed-deterministic), candidates come
    * from the cross-side band join, exact cosine verifies. IDs live in
    * separate spaces; output (left_id, right_id, cosine). At train × eval
    * scale the eval side's bands and vectors broadcast.
    */
  def embeddingNearDupsAcross(left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String,
      dim: Int, numBands: Int = 8, planesPerBand: Int = 12,
      threshold: Double = 0.95, seed: Long = 7L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val numPlanes = numBands * planesPerBand
    val planes = Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
    val v = col(vecCol).cast("array<double>")
    val keys = graft.functions.sketches.hyperplane_sig(v, planes, planesPerBand)
    def bandsOf(df: DataFrame): DataFrame =
      Spread.toCores(df).select(col(idCol).as("id"),
        posexplode(keys).as(Seq("band", "key")))
    val candidates = bandsOf(left).as("a").join(bandsOf(right).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"))
      .dropDuplicates("left_id", "right_id")
    val lVecs = Spread.toCores(left).select(col(idCol).as("left_id"), v.as("v_a"))
    val rVecs = Spread.toCores(right).select(col(idCol).as("right_id"), v.as("v_b"))
    candidates
      .join(lVecs, "left_id")
      .join(rVecs, "right_id")
      .select(col("left_id"), col("right_id"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ---- quality-aware cluster resolution ------------------------------

  /** Quality-aware duplicate-cluster resolution: given the corpus and a
    * near-dup pair list, label every document with its connected-component
    * cluster (via [[dupClusters]]; documents in no pair are their own
    * singleton cluster) and keep the HIGHEST-`scoreCol` member of each
    * cluster, ties broken by minimum id. Production pipelines keep the
    * longest / highest-quality copy of a duplicate group, not the
    * minimum-id one — a truncated mirror of a page must lose to the full
    * original regardless of which crawled first.
    *
    * Output: (idCol, cluster, score, keep) for EVERY input document —
    * callers filter `keep` to materialize survivors, or join the full
    * labeling back for provenance reporting.
    *
    * Scale shape: one corpus-wide join against the (small — only docs
    * that appear in a pair) cluster labeling, then ONE shuffle by cluster
    * for the per-cluster `row_number`. Singletons ride the same window
    * with cluster = own id: their partitions are single rows, so the
    * window adds no skew, and the corpus is scanned exactly once —
    * splitting singletons out would cost a second join against the
    * label set instead. Per-cluster state is bounded by dup-group size.
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: Column, maxIter: Int = 20): DataFrame = {
    val clusters = dupClusters(pairs, maxIter)
    val scored = docs.select(col(idCol).cast("long").as("id"),
      scoreCol.as("score"))
    val labeled = scored.join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"),
        col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("id").asc)
    labeled
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("cluster"), col("score"), col("keep"))
  }

  // ---- cross-document line dedup -------------------------------------

  /** Cross-document line-level dedup — the C4/MassiveText boilerplate
    * pass: drop every line that occurs in at least `minDocs` DISTINCT
    * documents (cookie banners, nav menus, license footers repeat across
    * a crawl; prose doesn't), keeping surviving lines in original order.
    * Complements [[graft.ops.WebText.dedupParagraphs]], which is
    * intra-document only: a line repeated twice WITHIN one document but
    * found nowhere else has a distinct-document count of 1 and is kept
    * both times — intra-doc repetition is q87's job, not this pass's.
    *
    * Output: one row per input document —
    * (idCol, n_lines, n_kept, text_kept), with `text_kept = ""` when
    * every line was boilerplate.
    *
    * Scale shape: lines shuffle once as narrow (doc, 64-bit key) pairs
    * for the distinct-document count (two-phase partial agg); the join
    * back attaches only keys that crossed the threshold — that side is
    * the boilerplate VOCABULARY (distinct offending lines), orders of
    * magnitude smaller than the corpus, so AQE picks a broadcast join at
    * runtime without us forcing one. Reassembly is one per-document
    * aggregation whose state is bounded by document size. Nothing is
    * collected on the driver.
    *
    * `lineKey` defaults to the cheap engine-internal `xxhash64`; the gate
    * (q114) passes [[HashFamily.Portable60]] so DuckDB replays the
    * identical key family and hash collisions — astronomically rare but
    * semantics-bearing (a collision merges two lines' counts) — are
    * SHARED rather than divergent across engines.
    */
  def dedupLinesAcross(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, sep: String = "\n",
      lineKey: HashFamily = HashFamily.Xx64): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = Spread.toCores(docs).select(col(idCol).as("__did"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__line")))
      .withColumn("__k", lineKey(col("__line")))
    // distinct (doc, key) before counting: a line pasted 40× in ONE doc
    // is intra-doc repetition, not cross-corpus boilerplate
    val boilerplate = lines.select(col("__did"), col("__k")).distinct()
      .groupBy("__k").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__k"), lit(true).as("__drop"))
    val kept = lines.join(boilerplate, Seq("__k"), "left")
      .filter(col("__drop").isNull)
    val totals = lines.groupBy("__did")
      .agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy("__did").agg(
      count(lit(1)).as("__nk"),
      array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        _.getField("__line")), sep).as("__tk"))
    totals.join(keptAgg, Seq("__did"), "left")
      .select(col("__did").as(idCol), col("n_lines"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__tk"), lit("")).as("text_kept"))
  }

  // ---- edit-distance similarity join (PassJoin blocking) -------------

  /** Balanced k+1-way partition of a length-`n` string: slot `i` covers
    * `[start(n,i), start(n,i)+len(n,i))`, longer segments first. Shared
    * by the index and probe sides — both must agree on the geometry for
    * the pigeonhole argument below to hold.
    */
  private def segStart(n: Int, i: Int, k: Int): Int =
    i * (n / (k + 1)) + math.min(i, n % (k + 1))
  private def segLen(n: Int, i: Int, k: Int): Int =
    n / (k + 1) + (if (i < n % (k + 1)) 1 else 0)

  /** All cross pairs with `levenshtein(left.str, right.str) <= k`,
    * WITHOUT the all-pairs product — the fuzzy-join primitive behind
    * record linkage, benchmark decontamination of titles/short fields,
    * and typo-tolerant key matching.
    *
    * Blocking is the PASS-JOIN partition scheme (Li, Deng & Feng,
    * VLDB'12): each RIGHT string is split into k+1 contiguous segments —
    * ≤ k edits cannot touch all k+1, so any true match contains at least
    * one segment VERBATIM, and the unedited region's position shifts by
    * at most the number of preceding edits, i.e. ≤ k. The LEFT side
    * therefore enumerates, for every partner length L within ±k of its
    * own and every slot, its substrings of that slot's length whose
    * start lies within ±k of the slot's position in a length-L string.
    * Candidates meet on the short (L, slot, text) key and are confirmed
    * with an exact threshold-bounded `levenshtein` — recall is exactly 1
    * by the lemma, so the output EQUALS the brute-force join (which is
    * what lets the q119/q120 gates hash-compare against an all-pairs
    * DuckDB oracle).
    *
    * Right strings shorter than k+1 characters cannot be partitioned
    * into k+1 non-empty segments; they take a degenerate side path —
    * only left strings of length ≤ 2k can be within distance k of them
    * (|len difference| ≤ k), and both sets are broadcast-small in any
    * real corpus, so that residue is a broadcast nested-loop verify.
    *
    * Scale shape: per row the index side emits k+1 short segments and
    * the probe side ≤ (2k+1)·(k+1)·(2k+1) substrings (75 at k = 2) —
    * both linear in corpus size, shuffled as narrow string keys. The
    * quadratic regime is confined to genuinely colliding segment groups
    * (the MinHash band-join trade above); the verification join fetches
    * full strings for CANDIDATE ids only. Nothing is collected on the
    * driver.
    *
    * Output: (id_l, id_r, dist), dist ∈ [0, k].
    */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
      idCol: String, strCol: String, k: Int): DataFrame = Materialize.scoped {
    val l = Materialize.cache(edPrep(left, idCol, strCol, k))
    val r = Materialize.cache(edPrep(right, idCol, strCol, k))
    Materialize(edJoinCore(l, r, k))
  }

  /** Self-join form of [[editDistanceJoin]]: unordered pairs
    * (id_a < id_b) with edit distance ≤ k. Every string plays both the
    * probe and the index role over ONE cached prepped frame; canonical
    * ordering + distinct collapses the two discovery directions.
    */
  def editDistanceNearDups(df: DataFrame, idCol: String, strCol: String,
      k: Int): DataFrame = Materialize.scoped {
    val base = Materialize.cache(edPrep(df, idCol, strCol, k))
    Materialize(edJoinCore(base, base, k)
      .filter(col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("dist"))
      .distinct())
  }

  private def edPrep(df: DataFrame, idCol: String, strCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"edit-distance threshold k must be >= 1, got $k")
    Spread.toCores(df).select(col(idCol).cast("long").as("id"),
      coalesce(col(strCol).cast("string"), lit("")).as("s"))
  }

  private def edJoinCore(l: DataFrame, r: DataFrame, k: Int): DataFrame = {
    val spark = l.sparkSession
    import spark.implicits._

    val index = r.as[(Long, String)].filter(_._2.length > k).flatMap {
      case (id, s) =>
        val n = s.length
        (0 to k).map { i =>
          (id, n, i, s.substring(segStart(n, i, k),
            segStart(n, i, k) + segLen(n, i, k)))
        }
    }.toDF("id_r", "__L", "__slot", "__seg")

    val probe = l.as[(Long, String)].flatMap { case (id, s) =>
      val n = s.length
      for {
        bigL <- math.max(k + 1, n - k) to (n + k)
        i <- 0 to k
        len = segLen(bigL, i, k)
        if len <= n
        p0 = segStart(bigL, i, k)
        p <- math.max(0, p0 - k) to math.min(n - len, p0 + k)
      } yield (id, bigL, i, s.substring(p, p + len))
    }.toDF("id_l", "__L", "__slot", "__seg")

    val cand = probe.join(index, Seq("__L", "__slot", "__seg"))
      .select(col("id_l"), col("id_r")).distinct()

    // degenerate residue: right strings of length <= k — every left
    // string within 2k chars is a possible partner; verify directly.
    val shortR = r.filter(length(col("s")) <= k)
      .select(col("id").as("id_r"))
    val shortCand = l.filter(length(col("s")) <= 2 * k)
      .select(col("id").as("id_l"))
      .crossJoin(broadcast(shortR))

    cand.unionByName(shortCand).distinct()
      .join(l.select(col("id").as("id_l"), col("s").as("__sl")), "id_l")
      .join(r.select(col("id").as("id_r"), col("s").as("__sr")), "id_r")
      .withColumn("dist",
        levenshtein(col("__sl"), col("__sr"), k).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_l"), col("id_r"), col("dist"))
  }
}
