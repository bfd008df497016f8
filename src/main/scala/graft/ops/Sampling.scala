package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * `rand()`-based sampling is neither reproducible across runs nor
  * join-stable across tables, which disqualifies it for corpus curation
  * (the same document must land in the same sample in every pipeline
  * stage and on every engine). These operators decide membership from a
  * cryptographic hash of a caller-chosen key — the same convention as
  * [[TextAnalysis.hashSplit]], at 1/65536 granularity.
  *
  * Scale shape: membership is a per-row predicate on `md5(seed||key)` —
  * fully codegen'd, zero shuffles, and pushdown-friendly (a sampled scan
  * filters at the source). Stratified fractions compile to one chained
  * CASE, so sampling 10 strata costs the same single pass as one.
  */
object Sampling {

  /** 16-bit hash bucket of a key in [0, 65536), uniform for any key
    * distribution: the first 4 hex digits of md5(seed ++ key). Comparing
    * the HEX STRING against a 4-digit threshold is identical to comparing
    * the integer value (fixed-width lowercase hex orders lexicographically
    * = numerically) — portable to any engine with md5 + substring, without
    * relying on engine-specific hex→int casts.
    *
    * NULL keys hash as the empty string rather than propagating NULL — a
    * NULL bucket would fail every threshold comparison and silently drop
    * the row, breaking the "fraction 1.0 keeps every row" contract.
    */
  def hashBucket(key: Column, seed: String): Column =
    substring(keyHash(key, seed), 1, 4)

  /** Full-width deterministic key hash — the single definition of the
    * seed-concat + null-coalescing convention every sampling decision in
    * this file derives from ([[hashBucket]] truncates it, [[capPerGroup]]
    * orders by it).
    */
  private def keyHash(key: Column, seed: String): Column =
    md5(concat(lit(seed), coalesce(key.cast("string"), lit(""))))

  /** The largest bucket value admitted by `fraction`: floor(f·65536)
    * buckets are kept, i.e. bucket < threshold. Exact at 1/65536
    * granularity (fraction 0.2 keeps 13107/65536 ≈ 0.19999 of keys).
    * Fraction 1.0 returns "g" — lexicographically above every 4-digit hex
    * string ('g' > 'f'), so all rows are kept (the hex encoding of 65536
    * would be 5 digits and sort BELOW most hashes).
    */
  def thresholdHex(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction not in [0,1]")
    val buckets = math.floor(fraction * 65536).toLong
    if (buckets >= 65536L) "g" else f"$buckets%04x"
  }

  /** Keep a deterministic `fraction` of rows by key hash. */
  def hashSample(df: DataFrame, key: Column, fraction: Double,
      seed: String = "s0"): DataFrame =
    df.filter(hashBucket(key, seed) < lit(thresholdHex(fraction)))

  /** Stratified deterministic sample: an independent hash-sample fraction
    * per stratum value (e.g. down-sample web crawl to 10% while keeping
    * 100% of curated sources). Unlisted strata get `defaultFraction`.
    */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
      fractions: Map[String, Double], defaultFraction: Double,
      seed: String = "s0"): DataFrame = {
    val threshold = fractions.foldLeft(lit(thresholdHex(defaultFraction))) {
      case (acc, (value, f)) => when(strata === value, thresholdHex(f)).otherwise(acc)
    }
    df.filter(hashBucket(key, seed) < threshold)
  }

  /** Resample a corpus toward a target stratum MIXTURE (domain/source
    * weights — the "20% books, 1% forums" dial every pre-training data
    * recipe specifies): stratum `s` keeps `min(1, share_s·total/count_s)`
    * of its rows, so strata at or under their target share are kept whole
    * and over-represented strata are hash-downsampled toward it. Strata
    * absent from `targetShares` are dropped (share 0).
    *
    * Up-sampling (duplicating under-represented rows) is deliberately NOT
    * done — repeating documents is a training-recipe decision (epochs),
    * not a corpus operation.
    *
    * Scale shape: one groupBy-count whose output is bounded by stratum
    * cardinality (domains, not documents) collected to the driver, then
    * the same single-pass per-row hash predicate as [[stratifiedSample]] —
    * membership never shuffles the corpus.
    */
  def rebalance(df: DataFrame, strata: Column, key: Column,
      targetShares: Map[String, Double], seed: String = "s0"): DataFrame = {
    require(targetShares.values.forall(s => s >= 0.0 && s <= 1.0),
      "target shares must be in [0,1]")
    val counts = df.groupBy(strata.as("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val fractions = counts.collect { case (s, cnt) if s != null =>
      val share = targetShares.getOrElse(s.toString, 0.0)
      s.toString -> math.min(1.0, share * total / cnt)
    }
    stratifiedSample(df, strata, key, fractions, defaultFraction = 0.0, seed)
  }

  /** Cap rows per group at `maxRows`, keeping a deterministic uniform
    * subset — the "at most N documents per domain" curation rule that
    * stops a handful of giant hosts from dominating a crawl. Which rows
    * survive is decided by hash order (md5 of seed++key, ties by key), so
    * the kept set is reproducible and independent of scan order — a
    * `limit()` per group would keep whatever arrived first.
    *
    * `key` must uniquely identify rows (a document id): rows that tie on
    * (hash, key) — duplicate or all-NULL keys — have no defined order, and
    * which of them survive would again depend on scan order, which is the
    * failure mode this operator exists to remove.
    *
    * Two-phase at pathological skew: a per-partition bounded top-N
    * pre-pass (the [[graft.functions.TopKAggregator]] shape — per-group
    * heaps of the maxRows smallest hashes) prunes each input partition to
    * ≤ groups × maxRows rows BEFORE the group shuffle, so even a
    * one-group-is-the-whole-corpus input ships partitions × maxRows rows
    * to the window task, not the corpus. A row outside its partition's
    * per-group top-N cannot be in the global top-N, so the surviving set
    * is bit-identical to the plain window's. The pre-pass buffers
    * per-group heaps on-heap with no spill path, so it is bounded TWICE:
    * it engages only for caps ≤ [[PrePassMaxRows]], and within a task it
    * admits at most `bufferRows` rows — past that (the high-cardinality
    * regime where nearly every group is under its cap and the pre-pass
    * prunes nothing anyway) the task emits its buffer and passes the rest
    * of the partition through un-pruned, degrading gracefully to the
    * spilling window instead of OOMing.
    */
  def capPerGroup(df: DataFrame, group: Column, key: Column, maxRows: Int,
      seed: String = "s0", bufferRows: Int = PrePassBufferRows): DataFrame = {
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    val pruned = if (maxRows > PrePassMaxRows) df.withColumn(groupAux(df), group)
                 else prePassTopN(df, group, key, maxRows, seed, bufferRows)
    val g = pruned.columns.last // the materialized group column
    val rn = Iterator.from(0).map(i => s"__rn$i")
      .find(n => !pruned.columns.contains(n)).get
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(g))
      .orderBy(keyHash(key, seed), key)
    pruned.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= maxRows)
      .drop(rn, g)
  }

  /** Token-budget corpus mixing — the "data recipe" step that composes a
    * training mix: per stratum (source/domain/language), take documents
    * in deterministic hash order until the stratum's TOKEN budget is
    * reached. A document is kept iff the running token total BEFORE it is
    * still under budget, so each budget is overshot by at most one
    * document and any positive budget yields at least one. Strata absent
    * from `budgets` (or budgeted 0) contribute nothing and are filtered
    * BEFORE any shuffle. Hash order (same `md5(seed++key)` convention as
    * every sampler here) makes the selected set reproducible,
    * scan-order-independent, and a SUPERSET-stable function of the
    * budget: raising one stratum's budget only ever adds documents.
    *
    * Output: the input columns plus `cum_before` (tokens admitted to the
    * stratum ahead of this row — the audit trail for "why was this doc
    * in/out").
    *
    * Scale shape: a naive `Window.partitionBy(stratum)` running sum puts
    * a whole stratum (possibly most of the corpus — "web" in a real mix)
    * in ONE task. Instead the prefix sum is two-level: rows split into
    * 256 hash-prefix buckets per stratum (prefix order = full-hash order,
    * fixed-width hex), per-bucket token totals (strata × 256 tiny rows)
    * get cumulative offsets on a second small window, and each
    * (stratum, bucket) computes its local running sum + offset in
    * parallel — max per-task rows ≈ stratum/256, one wide shuffle total,
    * bit-identical to the single-window form.
    */
  def tokenBudgetMix(df: DataFrame, strata: Column, key: Column,
      tokens: Column, budgets: Map[String, Long],
      seed: String = "s0"): DataFrame = {
    require(budgets.values.forall(_ >= 0L), "budgets must be non-negative")
    val reserved = Seq("__s", "__h", "__b", "__t", "__bt", "__off",
      "__s2", "__b2", "cum_before")
    require(!df.columns.exists(reserved.contains),
      s"input must not contain reserved columns ${reserved.mkString(", ")}")
    val budgetExpr = budgets.foldLeft(lit(0L)) { case (acc, (s, b)) =>
      when(strata === lit(s), lit(b)).otherwise(acc) }
    val aux = df
      .withColumn("__s", strata)
      .withColumn("__h", keyHash(key, seed))
      .withColumn("__b", substring(col("__h"), 1, 2))
      .withColumn("__t", tokens.cast("long"))
      .filter(budgetExpr > 0L)
    val wBuckets = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val offsets = aux.groupBy(col("__s"), col("__b"))
      .agg(sum(col("__t")).as("__bt"))
      .withColumn("__off", sum(col("__bt")).over(wBuckets) - col("__bt"))
      .select(col("__s").as("__s2"), col("__b").as("__b2"), col("__off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s"), col("__b")).orderBy(col("__h"), key)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    aux.join(broadcast(offsets),
        col("__s") === col("__s2") && col("__b") === col("__b2"))
      .withColumn("cum_before",
        col("__off") + sum(col("__t")).over(wIn) - col("__t"))
      .filter(col("cum_before") < budgetExpr)
      .select(df.columns.map(col) :+ col("cum_before"): _*)
  }

  /** Caps above this skip the pre-pass: its per-task heap memory is
    * groups × maxRows rows with no spill path.
    */
  val PrePassMaxRows = 1024

  /** Per-task admission budget for the pre-pass buffer: past this many
    * buffered rows the task stops pruning and streams the remainder
    * through to the (spilling) window — bounded memory at any group
    * cardinality.
    */
  val PrePassBufferRows: Int = 1 << 16

  private def groupAux(df: DataFrame): String =
    Iterator.from(0).map(i => s"__grp$i").find(n => !df.columns.contains(n)).get

  /** Per-partition bounded top-N by (hash ascending) within each group.
    * Group identity uses the extracted JVM value — never coarser than SQL
    * equality (at worst finer, which only over-keeps; the window phase
    * stays exact). Hash ties need no key tie-break here: equal md5 means
    * equal key string for unique keys, and duplicate keys are outside the
    * operator's contract.
    */
  private def prePassTopN(df: DataFrame, group: Column, key: Column,
      maxRows: Int, seed: String, bufferRows: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val g = groupAux(df)
    val h = Iterator.from(0).map(i => s"__h$i")
      .find(n => !df.columns.contains(n) && n != g).get
    val aux = df.withColumn(g, group).withColumn(h, keyHash(key, seed))
    val schema = aux.schema
    val gIdx = schema.fieldIndex(g)
    val hIdx = schema.fieldIndex(h)
    val maxHashFirst: Ordering[Row] = Ordering.by((r: Row) => r.getString(hIdx))
    aux.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      // Admission-bounded: stop buffering once bufferRows rows are held
      // and stream the remainder through un-pruned. Rows evicted BEFORE
      // the stop are still safe to drop (each was dominated by maxRows
      // same-group rows in this partition), so the emitted set remains a
      // superset of the window's survivors.
      var buffered = 0
      var over = false
      while (it.hasNext && !over) {
        val r = it.next()
        val q = heaps.getOrElseUpdate(r.get(gIdx),
          scala.collection.mutable.PriorityQueue.empty[Row](maxHashFirst))
        if (q.size < maxRows) {
          q.enqueue(r)
          buffered += 1
          if (buffered >= bufferRows) over = true
        } else if (r.getString(hIdx) < q.head.getString(hIdx)) {
          q.dequeue(); q.enqueue(r)
        }
      }
      heaps.valuesIterator.flatMap(_.iterator) ++ it
    }(org.apache.spark.sql.Encoders.row(schema))
      .drop(h)
  }

  /** Temperature-scaled mixture sampling at α = 0.5 — the multilingual
    * mixing recipe (XLM-R / mT5 shape): the OUTPUT mixture is
    * proportional to n_s^α, flattening the size distribution so head
    * strata stop drowning the tail. With α = 0.5 each stratum keeps the
    * fraction f_s = √(n_min / n_s): the smallest stratum passes whole
    * and kept counts come out ∝ √n_s (a stratum 100× larger than the
    * minimum keeps only 10× the rows).
    *
    * Exactness across engines: the keep decision uses INTEGER arithmetic
    * only. t_s = round(√n_s · 10^6) is computed once from the (bounded,
    * driver-collected) stratum counts; a row survives iff
    * `bucket16 · t_s < 65536 · t_min` — f_s = t_min/t_s applied as a
    * cross-multiplied comparison, no division, no float threshold. IEEE
    * sqrt is correctly rounded and identical in every engine, and
    * round() ties can't bite (√n · 10^6 is never exactly half-integral
    * for non-square n; squares round exactly). Deterministic hash
    * membership (same [[hashBucket]] convention as every sampler here)
    * keeps the decision join-stable and reproducible.
    *
    * Scale shape: one bounded count aggregation, then a single-pass
    * codegen'd predicate — zero shuffles on the data path, same as
    * [[stratifiedSample]].
    */
  def temperatureMix(df: DataFrame, strata: Column, key: Column,
      seed: String = "s0"): DataFrame = {
    val counts = df.groupBy(strata.as("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.get(0), r.getLong(1)))
    require(counts.nonEmpty, "temperatureMix: empty input")
    val ts = counts.map { case (s, n) =>
      (s, math.round(math.sqrt(n.toDouble) * 1e6)) }
    val tMin = ts.map(_._2).min
    // integer scale per stratum via chained CASE (one pass, like
    // stratifiedSample); bucket16 read as an integer for the
    // cross-multiplied compare. Null-safe equality (<=>) so a NULL
    // stratum — which groupBy counts as its own group — matches its own
    // t_s instead of falling through every branch. With that, the
    // otherwise-branch sentinel (1e13, = t_s of a 10^14-row stratum;
    // 65535 · 1e13 stays far under Long.Max) can only fire for strata
    // values absent from the counts — impossible for an unmodified df —
    // and drops such rows.
    val tCol = ts.foldLeft(lit(10000000000000L)) { case (acc, (value, t)) =>
      when(strata <=> value, lit(t)).otherwise(acc)
    }
    val bucket16 = conv(hashBucket(key, seed), 16, 10).cast("long")
    df.filter(bucket16 * tCol < lit(65536L) * tMin)
  }

  /** DSIR-shaped importance weighting for domain mixing (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS'23): score every document by how much its hashed-unigram
    * mass looks like a TARGET domain vs the general SOURCE pool, using
    * n-gram counts estimated from the corpus itself.
    *
    * Token features hash into `buckets` (default 2^16) — the DSIR trick
    * that bounds the vocabulary: the count table is `buckets` rows no
    * matter how big the corpus, so it broadcasts. Classic DSIR scores
    * log p̂_target(g) − log p̂_source(g); floating logs don't replay
    * across engines, so the discriminant here is the cross-multiplied
    * integer form of the same comparison:
    *
    *   score(d) = Σ_tokens (cnt_t(b)·N_s − cnt_s(b)·N_t)
    *
    * (> 0 ⟺ the doc's average token is relatively more frequent in the
    * target sample — the p̂_t(b) > p̂_s(b) test with both sides scaled by
    * N_t·N_s). All-LONG per-token terms, DECIMAL(38,0) accumulation
    * (exact, order-independent; long sums would overflow near
    * N_t·N_s ≈ 4·10^18 — a few hundred GB of text), one final cast.
    *
    * Two corpus passes by design: pass 1 map-side-combines to the
    * `buckets`-row count table (tiny shuffle); pass 2 rescans to join
    * tokens against the BROADCAST table and aggregates per doc (one
    * doc-key shuffle). Persisting the exploded token stream to skip the
    * rescan would write ~corpus-size scratch — rescanning is the cheaper
    * 100 TB shape for a projection this narrow.
    *
    * Output: (id, n_toks, score double, keep = score > 0) for every doc
    * with ≥ 1 token.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 65536,
      wordHash: HashFamily = HashFamily.Xx64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // words are hashed INSIDE the array (fused n=1 gram hashes — no
    // per-word string/md5-hex churn) and only the long hash explodes;
    // same (id, __tgt, __b) rows as the explode-then-hash chain this
    // replaces, both passes cheaper
    val ws = filter(TextAnalysis.words(col(textCol)), w => length(w) > 0)
    val hashed = TextAnalysis.fusedGramHashes(ws, 1, wordHash,
      shortDocWhole = false)
    val toks = Spread.toCores(df)
      .select(col(idCol), isTarget.as("__tgt"), explode(hashed).as("__h"))
      .select(col(idCol), col("__tgt"),
        pmod(col("__h"), lit(buckets.toLong)).as("__b"))
    // The count table is consumed TWICE: the N_t/N_s totals collect below
    // and the broadcast join in the per-doc scoring pass. Left lazy, the
    // broadcast build re-ran pass 1 (the full token explode + aggregation)
    // a second time whenever the caller materialized the output — measured
    // as the dominant slice of Curate's final_materialize window at sf1.
    // The table is bounded at `buckets` rows (tiny), so pinning it costs
    // nothing and halves the corpus passes per action (guide §2.4).
    val counts = Materialize(toks.groupBy(col("__b")).agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__tgt"), 0L).otherwise(1L)).as("__cs")))
    val Seq(nt, ns) = counts.agg(sum(col("__ct")), sum(col("__cs")))
      .collect()(0).toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long]))
    // degenerate splits score every doc exactly 0 → keep=false for ALL
    // rows — a silent full-corpus drop (e.g. a typo'd target-source name
    // in Curate). Refuse loudly instead.
    require(nt > 0, "importanceWeights: target side has no tokens " +
      "(isTarget matched nothing) — every score would be 0 and every doc dropped")
    require(ns > 0, "importanceWeights: source side has no tokens " +
      "(isTarget matched everything) — every score would be 0 and every doc dropped")
    val term = (col("__ct").cast(DecimalType(38, 0)) * lit(ns) -
      col("__cs").cast(DecimalType(38, 0)) * lit(nt))
    toks.join(broadcast(counts), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"), sum(term).as("__score"))
      .select(col(idCol), col("n_toks"),
        col("__score").cast("double").as("score"))
      .withColumn("keep", col("score") > 0d)
  }

  /** Contrastive training-triple mining: (anchor, positive, negative)
    * rows for embedding-model training — positives are near-duplicate
    * pairs (any [[graft.ops.Dedup]] sketch, both directions), negatives
    * are drawn DETERMINISTICALLY from a hash-ordered ring over the corpus
    * ids: every id gets a rank by md5(seed‖id), and an anchor's negative
    * is its ring successor (successor² when the successor happens to be
    * the positive). A hash ring beats rand() negatives for the same
    * reason every sampler here does: the triple set is reproducible on
    * any engine and any partitioning, and the ring guarantees negative ∉
    * {anchor, positive} for any corpus of ≥ 3 docs without rejection
    * loops.
    *
    * False-negative caveat (documented, by design): the ring only
    * excludes the anchor and the CHOSEN positive. When a dup cluster has
    * ≥ 3 members, the successor can itself be another near-duplicate of
    * the anchor (a different member of the same cluster, or one of the
    * anchor's other positives) — a hard false negative for contrastive
    * training. Corpora where multi-member clusters matter should excise
    * clusters first ([[graft.ops.Dedup.dupClusters]] + keep-one) or
    * post-filter triples whose negative shares the anchor's cluster;
    * skipping same-cluster ids inside the ring itself would make the
    * negative a function of unbounded cluster geometry rather than a
    * fixed-depth successor, and is deliberately not done here.
    *
    * Scale shape: the ring rank is a TOTAL order over ids by (md5, id),
    * assigned via the same two-level 256-bucket prefix sum as
    * [[tokenBudgetMix]] — per-bucket hash-prefix counts (≤ 256 rows,
    * driver-side by construction) turn into bucket offsets, and each
    * bucket ranks its own rows in parallel; max per-task rows ≈ n/256,
    * identical order to a global row_number (the bucket key is a prefix
    * of the sort key) with no single-task global window. Pair-side work
    * is two broadcast-class joins against the (id, rank) table.
    *
    * Output: (anchor, positive, negative).
    */
  def contrastiveTriples(docs: DataFrame, idCol: String, pairs: DataFrame,
      seed: String = "ng0"): DataFrame = {
    val (ring, n) = bucketedHashRank(
      docs.select(col(idCol).as("__id")).distinct(), seed)
    require(n >= 3, s"contrastiveTriples needs >= 3 docs, got $n")
    val pos = pairs.select(col("id_a").as("anchor"), col("id_b").as("positive"))
      .unionAll(pairs.select(col("id_b").as("anchor"), col("id_a").as("positive")))
    pos
      .join(ring.select(col("__id").as("anchor"), col("__r").as("__ra")), Seq("anchor"))
      .withColumn("__r1", pmod(col("__ra"), lit(n)) + 1L)
      .withColumn("__r2", pmod(pmod(col("__ra"), lit(n)) + 1L, lit(n)) + 1L)
      .join(ring.select(col("__r").as("__r1"), col("__id").as("__nb1")), Seq("__r1"))
      .join(ring.select(col("__r").as("__r2"), col("__id").as("__nb2")), Seq("__r2"))
      .select(col("anchor"), col("positive"),
        when(col("__nb1") =!= col("positive"), col("__nb1"))
          .otherwise(col("__nb2")).as("negative"))
  }

  /** The two-level 256-bucket prefix-sum hash rank shared by
    * [[contrastiveTriples]] and [[epochOrder]]: ranks the `__id` column
    * of `ids` 1..n by the TOTAL (md5(seed‖id), id) order without any
    * global single-task window — rows bucket by the 2-hex-char hash
    * prefix (prefix order = full-hash order), the ≤ 256 per-bucket
    * counts collect driver-side (bounded by construction) and turn into
    * offsets, and each bucket ranks its own rows in parallel (max
    * per-task rows ≈ n/256). Returns ((__id, __r), n).
    */
  private def bucketedHashRank(ids: DataFrame, seed: String): (DataFrame, Long) = {
    val spark = ids.sparkSession
    import spark.implicits._
    val hashed = ids
      .withColumn("__h", md5(concat(lit(seed), col("__id").cast("string"))))
      .withColumn("__b", substring(col("__h"), 1, 2))
    val counts = hashed.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    var acc = 0L
    val offsets = counts.map { case (b, c) => val o = (b, acc); acc += c; o }
    val byHashInBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__h"), col("__id"))
    val ranked = hashed
      .join(broadcast(offsets.toSeq.toDF("__b", "__off")), Seq("__b"))
      .withColumn("__r", col("__off") + row_number().over(byHashInBucket).cast("long"))
      .select(col("__id"), col("__r"))
    (ranked, n)
  }

  /** Deterministic per-epoch training order: every document gets its
    * position 1..n in a pseudorandom permutation keyed by (seed, epoch) —
    * what a reproducible training dataloader consumes instead of an
    * engine-/partitioning-dependent `rand()` shuffle. Same (seed, epoch)
    * ⇒ the identical order on any engine, any day (auditable runs,
    * resumable mid-epoch by position); different epochs ⇒ independent
    * md5 orders, the "reshuffle each epoch" contract. Composes with
    * [[graft.ops.TextAnalysis.shardBalanceLPT]] (shard first, order
    * within shard) for data-parallel loaders.
    *
    * Scale shape: the [[bucketedHashRank]] two-level prefix sum — no
    * global window, max per-task rows ≈ n/256, one narrow shuffle.
    * Output: (idCol, position).
    */
  def epochOrder(docs: DataFrame, idCol: String, seed: String,
      epoch: Int): DataFrame = {
    val (ranked, _) = bucketedHashRank(
      docs.select(col(idCol).as("__id")).distinct(), s"$seed:$epoch:")
    ranked.select(col("__id").as(idCol), col("__r").as("position"))
  }

  /** Leakage-free train/test split: near-duplicate CLUSTERS are the
    * atomic split unit, so a document and its near-copies can never land
    * on opposite sides of the split — the failure mode that silently
    * inflates eval scores when a per-document hash split meets a
    * deduplicated-but-not-perfectly corpus (Lee et al. ACL'22 measure
    * this leakage directly).
    *
    * `pairs` is any (id_a, id_b) near-dup pair set — MinHash, SimHash,
    * embedding LSH ([[graft.ops.Dedup]]); the caller picks the sketch and
    * threshold, this op owns the atomicity. Pairs close to clusters via
    * [[graft.ops.Dedup.dupClusters]] (iterative min-label CC), every doc
    * gets `cluster` = its component's min id (singletons: itself), and
    * the split decision hashes the CLUSTER id through
    * [[TextAnalysis.hashSplit]] — 12/16 train, 4/16 test, deterministic
    * and engine-replayable.
    *
    * Scale shape: CC runs over the PAIR set (dup-bounded, tiny next to
    * the corpus); the corpus-sized work is one left join against that
    * cluster table (AQE broadcasts it when it fits) plus a per-row hash
    * predicate. No corpus shuffle.
    *
    * Output: (idCol, cluster, split) — one row per input doc.
    */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val cl = Dedup.dupClusters(pairs, maxIter)
      .select(col("id").as(idCol), col("cluster"))
    docs.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol).cast("long")).as("cluster"))
      .withColumn("split", TextAnalysis.hashSplit(col("cluster")))
  }
}
