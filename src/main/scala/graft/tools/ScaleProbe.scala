package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale probe: generate a 10× corpus from sf0.1 and re-time the most
  * expensive gate queries, looking for super-linear blowups the sf0.1
  * bench can't see — the driver-bounded stages (PQ codebook collect, BPE
  * take, rebalance stratum collect) and any join whose pair space grows
  * quadratically.
  *
  * Generation (deterministic, cached on disk): 10 replicas of each base
  * table with per-replica perturbations chosen so intra-replica structure
  * is EXACTLY the base corpus while cross-replica contamination is nil —
  * otherwise every replica of a document is a near-dup of 9 others and
  * dedup queries measure a 100× pair explosion instead of a 10× corpus:
  *   - documents: every word tagged with a replica suffix (disjoint
  *     shingle/vocab space per replica; per-doc stats shift by the tag's
  *     2-3 chars, which is noise for timing);
  *   - embeddings: component sign-mask per replica (s_i = ±1): all
  *     intra-replica dot products are bit-identical (s_i² = 1), while
  *     cross-replica cosines collapse toward 0 — no fake near-dup pairs;
  *   - lineitem/orders/events: keys offset per replica with per-user
  *     density preserved (user/cust keys offset too), so per-key join
  *     fan-out stays constant and the corpus grows 10×.
  */
object ScaleProbe {

  val K = 10 // replicas of sf0.1 ≈ sf1

  /** The probed queries: the top of BENCH_r04's cost ranking, minus two
    * deliberate exclusions, plus one deliberate scaling override:
    *   - q100 excluded: its cost is the one-time bucketed INGEST (now
    *     reported separately as q100i_bucketed_ingest);
    *   - q147 excluded (round 10, same pattern): the composed curation
    *     pipeline's 10× cell is the bench's `curate_sf1` block, which is
    *     RICHER than a probe ratio (per-stage wall-clock at sf1 every
    *     round); probing it here would time the identical composition
    *     twice;
    *   - the `*i` ingest/build cells (q82i/q83i/q100i/q113i/q123i/q124i/
    *     q130i) and q104's compaction are one-time WRITE passes — the
    *     q100 exclusion generalized: their cost is write throughput, and
    *     the PROBE side of every persisted index is what scales reads;
    *   - q55 excluded like q68's generator: blocked ngram-Jaccard is
    *     quadratic per block BY DESIGN (oracle exactness); its scale
    *     path is the MinHash feed, probed via q54;
    *   - q68 excluded: its ngram-Jaccard pair generation blocks by
    *     `source` (20 groups) BY DESIGN for oracle-exactness — per-block
    *     pair space is quadratic in corpus size, which is the documented
    *     reason the scale path is MinHash banding (probed via q54);
    *   - q91 probes with numClusters scaled 10× (constant CLUSTER SIZE,
    *     the SemDedup deployment shape): fixed cluster count is quadratic
    *     per cluster by construction, scaled cluster count is the linear
    *     configuration a 10× corpus runs.
    */
  def probed(sf1Dir: String): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q103_pagerank", "q32_asof_join", "q105_asof_merged", "q74_dup_spans",
    "q95_knn_ivfpq", "q83_knn_pq_index",
    "q85_html_extract", "q54_dedup_minhash", "q86_url_canonical",
    "q96_bm25_topk", "q89_lm_score", "q102_corpus_report",
    "q114_line_dedup", "q116_token_budget_mix",
    // round-7 additions: span excision (scan-shaped, should stay linear),
    // DSIR (two corpus passes + bounded count table), the per-row
    // classifier (pure scan pass — its ratio is the calibration floor).
    "q126_excise_spans", "q122_dsir_weights", "q121_quality_classifier",
    // round-8 additions (verdict: probe every query ≥1 s at sf0.1). The
    // three persisted-index probes are safe to include because probe()
    // now builds BOTH dirs' indexes outside the timed window, the same
    // pre-build q83 always had — without that the first sf1 run would
    // time the index BUILD into the ratio.
    "q110_cross_neardup", "q123_ivfpq_index_self", "q124_bm25_index",
    "q125_ir_eval", "q130_minhash_index",
    // later round-8 additions ≥1 s at sf0.1: hybrid retrieval fusion and
    // winnowing near-dups (fp-keyed join, df-cut bounded — probed as-is);
    // q134 moved to a regime override below (bucketed rank forced)
    "q118_hybrid_rrf", "q136_winnow_neardup",
    // CDC chunking: per-row fold + the line-dedup-shaped stats shuffle
    "q138_cdc_chunks",
    // round-9: perceptron training — per-epoch broadcast + two narrow
    // aggregations over the pinned feature stream; the iterative shape
    // whose scale risk (a corpus-sized per-epoch rescan) the pin removes
    "q144_perceptron_quality",
    // span corruption: pure per-row fold — should ride the scan
    "q141_span_corrupt",
    // round-10 additions (every non-excluded query ≥1 s at sf0.1):
    // the 5-way relational join (Catalyst's bread and butter — the cell
    // watches join-order/broadcast decisions hold at 10× fact data),
    // cross-corpus semantic decontamination (the embedding-family sweep
    // was otherwise unprobed end-to-end), and image dHash near-dup.
    // q97's EXPECTED ratio is ≈ the row ratio (measured 8.6× at 10×,
    // steady-state): the decode expression is pure per-row CPU, so time
    // rides rows; the cell exists to watch the banded hamming JOIN,
    // whose superlinearity would push the ratio ABOVE the row ratio.
    "q09_join_5way", "q111_cross_semantic", "q97_image_phash",
    // round-16 additions (>= 1 s at sf0.1): the compressed-topic lifecycle
    // (sink writes + retention + byte-concat compaction + lifted read —
    // every stage linear; the cell watches per-frame codec cost riding the
    // scan) and the cleanup-policy sink (keyed compaction's two-pass
    // rewrite is linear in bucket bytes; the cell watches the id->offset
    // map and the sparse re-frame holding that shape at 10x keys)
    "q166_compressed_topic", "q170_cleanup_policy_compact",
    // round-17 additions (>= 1 s at sf0.1): tombstone compaction (two
    // keyed passes + a planted delete wave — both passes linear in bucket
    // bytes, the cell watches the tombstone-age filter riding pass 2),
    // the SQL lifecycle chain (truncate + keyed compact through the
    // parser — statement overhead is constant, the work is the q167
    // shape), and the dict codec (train is O(256 payloads) constant; the
    // cell watches per-frame ctx compression riding the scan and the
    // equal-rows raw-control twin doubling the write volume)
    "q171_tombstone_compaction", "q172_sql_lifecycle", "q173_dict_compression",
    // round-18 addition: the read-time latest-per-key table view — the
    // q171 write fixture WITHOUT compaction, reduced by one partial
    // max_by aggregation whose shuffle is bounded by distinct keys (500
    // here); the cell watches that bound holding while the log under it
    // grows 10x
    "q174_read_table",
    // round-18: record headers — per-record header blocks ride every
    // frame write, the keyed rewrite, and a payload-PRUNED read; the
    // cell watches the header plane staying O(header bytes) while
    // payload bytes grow 10x under it
    "q176_record_headers",
    // round-18: cross-topic transactions — two seam-torn transactional
    // epochs (one replay-committed, one admin-aborted) plus the
    // readCommitted reduction. The fixture's row count is FIXED by
    // construction (event_id < 600), so this is a fixed-shape
    // topic-lifecycle cell like q172: the cell watches the marker plane
    // and the two streaming lifecycles staying flat while the SOURCE
    // table under them grows 10x
    "q177_txn_read_committed"
  ).map(n => n -> graft.SparkEntry.queries(n)) :+
    // round-10: hierarchical LPT probed in its DEPLOYMENT shape — ONE
    // global group (exact LPT's scale-killer), production xxhash64
    // sub-hash, G=256 — vs the q148 gate's per-source/portable-md5 regime.
    // The cell watches the two-level walk's own scale: sub-group tasks
    // grow 10× while the driver merge stays G·numShards BY CONSTRUCTION.
    ("q148_shard_balance_hier" -> ((s: SparkSession, d: String) => {
      graft.ops.TextAnalysis.shardBalanceLPTHierarchical(
        graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet"))
          .withColumn("nt", graft.ops.TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", lit("all"), numShards = 8, subGroups = 256)
    })) :+
    // q131's gate uses 3/5 of the corpus as the eval suite (oracle
    // richness); scaled 10× that would time an eval side no deployment
    // has — a decontamination run holds the EVAL SUITE CONSTANT while the
    // train side grows. Replica 0 (doc_id < 100000) IS the base corpus,
    // so the probe's eval set is identical at both scales and the ratio
    // measures the train-scan path — the 100 TB-side claim under test.
    ("q131_gram_decontam" -> ((s: SparkSession, d: String) => {
      val t = graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet"))
      val evalDf = t
        .filter(col("doc_id") < 100000L && pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      graft.ops.Dedup.gramContamination(t, "doc_id", "text",
        evalDf, "eval_id", "text",
        n = 13, gramHash = graft.ops.HashFamily.Portable60)
    })) :+
    // q133 probes with numClusters scaled 10× (constant CLUSTER SIZE —
    // the q91 regime override): D4 deployments grow the cluster count
    // with the corpus, and the per-cluster ranking window is exactly the
    // stage whose task size that knob bounds.
    ("q133_prototype_prune" -> ((s: SparkSession, d: String) => {
      val nClusters = if (d == sf1Dir) 160 else 16
      graft.ops.Embeddings.prototypePrune(
        graft.ops.Spread.toCores(s.read.parquet(s"$d/embeddings.parquet")),
        "vec_id", "embedding", numClusters = nClusters, dropFrac = 0.25,
        meanQuantizeInv = Some(1e9))
    })) :+
    // q135's gate feeds blocked ngram-Jaccard pairs (quadratic per block
    // by design — q68's documented exclusion); the probe drives the split
    // through the MinHash pair feed, its scale shape.
    ("q135_leakfree_split" -> ((s: SparkSession, d: String) => {
      val docs = graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet"))
      graft.ops.Sampling.leakFreeSplit(docs, "doc_id",
        graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.5).select(col("id_a"), col("id_b")))
    })) :+
    // q139: same regime override as q135 — weights through MinHash pairs.
    ("q139_soft_dedup" -> ((s: SparkSession, d: String) => {
      val docs = graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet"))
      graft.ops.Dedup.softDedupWeights(docs, "doc_id",
        graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.5).select(col("id_a"), col("id_b")))
    })) :+
    // q142: same regime override — triples through MinHash positives.
    ("q142_contrastive" -> ((s: SparkSession, d: String) => {
      val docs = graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet"))
      graft.ops.Sampling.contrastiveTriples(docs, "doc_id",
        graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.5).select(col("id_a"), col("id_b")))
    })) :+
    // q99 probes with forceSalt at BOTH scales (the q91-style regime
    // override): the adaptive operator takes the plain-broadcast path at
    // sf0.1 and the salted-shuffle path at sf1 (the dim crosses the 10 MB
    // broadcast threshold between them), and a cross-regime ratio would
    // read as a fake super-linearity. Forced, the ratio measures the
    // salted machinery's own scale shape — shuffle bytes 17→171 MB at
    // 1×→10×, measured in DESIGN §14 — while the bench's q99 measures
    // the operator as shipped (adaptive).
    ("q99_salted_join" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.types.DecimalType
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.ops.Skew.saltedJoin(li, ord, Seq("l_orderkey"), salts = 8,
          forceSalt = true)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(30, 6))).cast("double").as("sum_qty"))
    })) :+
    // q115's gate feeds blocked ngram-Jaccard pairs (quadratic per block
    // by design — q68's documented exclusion); the probe drives the
    // keep-best resolution through the MinHash pair feed, its scale shape.
    ("q115_keep_best" -> ((s: SparkSession, d: String) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.ops.Dedup.keepBestPerCluster(graft.ops.Spread.toCores(docs),
        graft.ops.Dedup.minhashNearDups(graft.ops.Spread.toCores(docs),
          "doc_id", "text", threshold = 0.5)
          .select(col("id_a"), col("id_b")),
        "doc_id", size(split(trim(col("text")), "\\s+")).cast("long"))
    })) :+
    // q68's operator under test is the iterative connected-components
    // clustering; the gate feeds it blocked ngram-Jaccard pairs (quadratic
    // per block BY DESIGN, for oracle exactness — the documented reason
    // the probe excludes that generator). At scale the pair feed is
    // MinHash banding, so the probe drives dupClusters through it — the
    // deployment shape, same pattern as q91's scaled-cluster override.
    ("q68_dup_clusters" -> ((s: SparkSession, d: String) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.ops.Dedup.dupClusters(
        graft.ops.Dedup.minhashNearDups(graft.ops.Spread.toCores(docs),
          "doc_id", "text", threshold = 0.5)
          .select(col("id_a"), col("id_b")))
    })) :+
    // q134 probes with the BUCKETED rank FORCED (exactWindowMaxRows = 0 —
    // the q91-style regime override): the adaptive gate would route both
    // probe scales to the single-window form, and the ratio must exercise
    // the 100 TB path's scale machinery, not the small-corpus shortcut.
    ("q134_ppl_buckets" -> ((s: SparkSession, d: String) => {
      graft.ops.LangModel.perplexityBuckets(
        graft.ops.Spread.toCores(s.read.parquet(s"$d/documents.parquet")),
        "doc_id", "text", "source", exactWindowMaxRows = 0L)
    })) :+
    ("q91_semantic_dedup" -> ((s: SparkSession, d: String) => {
      // exact-path comparison against the dir the probe generated — NOT a
      // substring sniff (a path like /data/sf1-exp/sf0.1 must stay small)
      val nClusters = if (d == sf1Dir) 160 else 16
      graft.ops.Dedup.dupClusters(
        graft.ops.Dedup.semanticNearDups(
          graft.queries.OpsQueries.plantedEmbeddings(s, d), "vec_id",
          "embedding", numClusters = nClusters, threshold = 0.95)
          .select(col("id_a"), col("id_b")))
    }))

  private def tagWords(text: org.apache.spark.sql.Column, k: Int) =
    if (k == 0) text
    else concat_ws(" ", transform(split(trim(text), "\\s+"),
      w => concat(w, lit(s"x$k"))))

  /** Generate the sf1 tables under `out` (skipped when the marker exists —
    * generation is deterministic, so the cache is always valid). Returns
    * generation seconds, 0.0 when cached.
    */
  def ensureSf1(spark: SparkSession, src: String, out: String): Double = {
    // versioned marker: bumping GenVersion invalidates caches produced by
    // older generation code (v2 fixed the sign-mask parity collapse)
    val GenVersion = "v2"
    val done = java.nio.file.Paths.get(out, "_SF1_COMPLETE")
    if (java.nio.file.Files.exists(done) &&
        new String(java.nio.file.Files.readAllBytes(done)) == GenVersion)
      return 0.0
    val t0 = System.nanoTime()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    // Per-replica ID offsets assume base keys stay below the stride — a
    // larger source dir would otherwise produce silent cross-replica ID
    // collisions (and vec_id beyond 1e6 − (K−1)·stride would collide with
    // the +1e6 planted-twin space), corrupting exactly the
    // contamination-free property the dedup timings depend on. Fail loud.
    def assertStride(table: String, idCol: String, stride: Long,
        cap: Long = Long.MaxValue): Unit = {
      val mx = spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(idCol))).collect()(0).getLong(0)
      require(mx < stride && mx + (K - 1) * stride < cap,
        s"sf1 generation unsafe: max($table.$idCol) = $mx vs stride $stride" +
          (if (cap != Long.MaxValue) s" / planted-twin cap $cap" else ""))
    }
    assertStride("documents", "doc_id", 100000L, cap = 1000000L)
    assertStride("embeddings", "vec_id", 50000L, cap = 1000000L)
    assertStride("orders", "o_orderkey", 10000000L)
    assertStride("orders", "o_custkey", 100000L)
    assertStride("lineitem", "l_orderkey", 10000000L)

    def replicate(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until K).map(k => f(base, k)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    replicate("documents") { (t, k) =>
      t.select((col("doc_id") + k * 100000L).as("doc_id"), col("source"),
        tagWords(col("text"), k).as("text"))
    }
    replicate("embeddings") { (t, k) =>
      // the mask must be a HASH of (component, replica) — a linear form
      // like (i·a + k·b) mod 2 collapses to parity(i+k), making all
      // same-parity replicas bit-identical copies (cosine 1.0 across
      // replicas: exactly the near-dup contamination this exists to avoid)
      t.select((col("vec_id") + k * 50000L).as("vec_id"),
        if (k == 0) col("embedding")
        else zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => (x * when(pmod(hash(i, lit(k)), lit(2)) === 0, 1.0f)
            .otherwise(-1.0f)).cast("float")).as("embedding"))
    }
    replicate("lineitem") { (t, k) =>
      t.withColumn("l_orderkey", col("l_orderkey") + k * 10000000L)
    }
    replicate("orders") { (t, k) =>
      t.withColumn("o_orderkey", col("o_orderkey") + k * 10000000L)
        .withColumn("o_custkey", col("o_custkey") + k * 100000L)
    }
    locally {
      // events.ts is TIMESTAMP(NANOS); read it as a long (the replicated
      // table keeps the long — Relational.events' `ts div 1000` handles
      // either representation under the same session conf)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assertStride("events", "event_id", 10000000L)
      assertStride("events", "user_id", 100000L)
      val base = spark.read.parquet(s"$src/events.parquet")
      (0 until K).map { k =>
        base.withColumn("event_id", col("event_id") + k * 10000000L)
          .withColumn("user_id", col("user_id") + k * 100000L)
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    // small dims copied as-is (q99's orders join needs nothing else here)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    java.nio.file.Files.write(done,
      GenVersion.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (System.nanoTime() - t0) / 1e9
  }

  /** Materialize `fn`'s frame through the noop sink and return seconds,
    * −1.0 on failure — the ONE timing methodology Bench and this probe
    * share (a second definition would quietly drift).
    */
  def timeNoop(spark: SparkSession, d: String, label: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    try fn(spark, d).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] $label failed on $d: ${e.getMessage}")
      return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Time each probed query at sf0.1 and sf1. Baseline is ONE sample per
    * scale (the probe looks for ORDER-OF-MAGNITUDE nonlinearity, not
    * ±20%), with the SAME outlier defense the sf0.1 bench cells carry
    * (round-8 verdict #4 — the committed q136 8.0× was a host-noise
    * single sample): when the sf1 sample lands >2× this query's own
    * committed sf1 history median (BENCH_HISTORY.jsonl), BOTH scales
    * escalate to median-of-3, and the entry records the sample count
    * (`n`) plus the history median (`hist`) so a still-high committed
    * ratio carries its own attribution. The block also records the disk
    * calib measured right before the probe (`calib_io` + `offband` vs
    * history) — a probe run on a degraded host says so in the artifact.
    * Stops when `budgetSec` is exhausted. Returns the `sf1` JSON block.
    */
  def probe(spark: SparkSession, sf01: String, sf1: String,
      budgetSec: Double): String = {
    // Disk-noise gate (round-11 verdict #3: two consecutive rounds
    // committed probe blocks from a degraded disk, making every n=1 cell
    // noise): measure the disk calib BEFORE paying for corpus generation,
    // wait out a transient stall, and if the disk stays offband SKIP the
    // whole block and say so — a marked absence beats committed noise.
    locally {
      val h = graft.BenchHistory.load("BENCH_HISTORY.jsonl").calibIoMedian
      var pre = graft.Bench.calibrateIo()
      var tries = 0
      while (h.exists(m => pre > 1.5 * m) && tries < 3) {
        System.err.println(s"[bench] sf1 probe: disk calib $pre offband " +
          s"(history ${h.get}); waiting 30s (${tries + 1}/3)")
        Thread.sleep(30000)
        pre = graft.Bench.calibrateIo()
        tries += 1
      }
      if (h.exists(m => pre > 1.5 * m))
        return s"""{"gen_sec":0,"scale":$K,"skipped_for_disk":true,""" +
          s""""calib_io":${math.rint(pre * 1000) / 1000},"calib_io_offband":true,"queries":{}}"""
    }
    val genSec = ensureSf1(spark, sf01, sf1)
    // Persisted-index probes (q83/q123/q124/q130) time the PROBE path:
    // make sure BOTH sides' index builds happen OUTSIDE the timed window
    // (the sf0.1 side is usually marker-built by the bench pass, the
    // fresh sf1 scratch never is — without this the first run times
    // index construction into the sf1 ratio).
    Seq(sf01, sf1).foreach { d =>
      graft.queries.OpsQueries.q83Index(spark, d)
      graft.queries.OpsQueries.q123Index(spark, d)
      graft.queries.OpsQueries.q124Index(spark, d)
      graft.queries.OpsQueries.q130Index(spark, d)
    }
    val history = graft.BenchHistory.load("BENCH_HISTORY.jsonl")
    val calibIo = graft.Bench.calibrateIo()
    // shuffle-class yardstick rides along in the probe block too (r18
    // verdict #1): the probe's heavy cells are exactly the shuffle-bound
    // cohort the CPU/IO calibs were blind to
    val calibShuffle = graft.Bench.calibrateShuffle(spark)
    // 1.5×, not 2×: round 9's degraded-disk probe measured calib_io 1.273
    // vs history 0.77-0.99 (≈1.4×) and stayed "in band" while three cells
    // ran 3-6× hot — the flag exists to mark exactly that run.
    val ioOffband = history.calibIoMedian.exists(h => calibIo > 1.5 * h)
    // same gate after generation: a disk that degraded DURING the corpus
    // gen/index builds would stamp every cell; the gen is cached on disk,
    // so the next in-band run probes without re-paying it
    if (ioOffband)
      return s"""{"gen_sec":${math.rint(genSec)},"scale":$K,"skipped_for_disk":true,""" +
        s""""calib_io":${math.rint(calibIo * 1000) / 1000},"calib_io_offband":true,"queries":{}}"""
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val deadline = System.nanoTime() + (budgetSec * 1e9).toLong
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var skipped = 0
    probed(sf1).foreach { case (name, fn) =>
      if (System.nanoTime() > deadline) skipped += 1
      else {
        // Heap hygiene before each (mostly n=1) cell: the heap-ballast
        // experiment (round 12, DESIGN §14.7) measured q74-sf1 at 74.6 s with 67.4 s of
        // GC under 60% live-heap ballast vs 5.7 s clean — allocation-heavy
        // cells are GC-BOUND under the old-gen occupancy a long bench JVM
        // accumulates, which is exactly the committed 2-3×-of-history
        // excursion shape (in-band disk, n=3-persistent within a run,
        // gone across runs). A pre-cell collection levels the field.
        System.gc()
        val short = name.takeWhile(_ != '_')
        var as = List(timeNoop(spark, sf01, name, fn))
        var bs = List(timeNoop(spark, sf1, name, fn))
        val hist = history.sf1Median(short)
        // SYMMETRIC escalation (round-9 verdict #2): EITHER scale landing
        // >2× its own committed history re-samples BOTH — round 9's q54
        // committed a meaningless n=1 inverted ratio (0.89) off a 5×-hot
        // sf0.1 BASE cell the sf1-only trigger couldn't see.
        val hist01 = history.queryMedian(name)
        val suspect =
          (bs.head > 0 && hist.exists(h => h > 0 && bs.head > 2.0 * h)) ||
          (as.head > 0 && hist01.exists(h => h > 0 && as.head > 2.0 * h))
        if (suspect) {
          System.err.println(s"[bench] $name sf0.1 ${as.head} / sf1 ${bs.head} " +
            s">2x history (sf0.1 ${hist01.getOrElse(-1.0)} / sf1 " +
            s"${hist.getOrElse(-1.0)}); escalating to median-of-3")
          (1 to 2).foreach { _ =>
            as ::= timeNoop(spark, sf01, name, fn)
            bs ::= timeNoop(spark, sf1, name, fn)
          }
        }
        val aOk = as.filter(_ >= 0); val bOk = bs.filter(_ >= 0)
        val a = if (aOk.isEmpty) -1.0 else median(aOk)
        val b = if (bOk.isEmpty) -1.0 else median(bOk)
        val ratio = if (a > 0 && b > 0) b / a else -1.0
        def r2(v: Double) = math.rint(v * 100) / 100
        val histField = hist.map(h => s""","hist":${r2(h)}""").getOrElse("") +
          hist01.map(h => s""","hist01":${r2(h)}""").getOrElse("")
        // a cell whose COMMITTED median is still >2× its history carries
        // the marker — a degraded-host probe says so per-cell, not just in
        // the run-level calib (round-9 verdict #4: q85 confirmed at n=3,
        // 6× history, flag stayed false)
        val offCell =
          (b > 0 && hist.exists(h => h > 0 && b > 2.0 * h)) ||
          (a > 0 && hist01.exists(h => h > 0 && a > 2.0 * h))
        val offField = if (offCell) ""","offband_cell":true""" else ""
        entries += s""""$short":{"sf01":${r2(a)},"sf1":${r2(b)},"ratio":${r2(ratio)},"n":${bOk.size}$histField$offField}"""
      }
    }
    // Synthetic metadata-plane cells (round-13 verdict #8): the in-place
    // compaction and timestamp-seek claims carry measured 10×-segment
    // evidence like every operator cell — sf01 = the bench cell's
    // 2000-tiny-segment bucket, sf1 = 20000. Excluded from the stdout
    // max_ratio headline ([[SyntheticCellKeys]]).
    if (System.nanoTime() <= deadline) {
      System.gc()
      syntheticCells(history).foreach(entries += _)
    }
    s"""{"gen_sec":${math.rint(genSec)},"scale":$K,"skipped_on_budget":$skipped,""" +
      s""""calib_io":${math.rint(calibIo * 1000) / 1000},"calib_io_offband":$ioOffband,""" +
      s""""calib_shuffle":${math.rint(calibShuffle * 1000) / 1000},""" +
      s""""queries":{${entries.mkString(",")}}}"""
  }

  /** Keys of the synthetic metadata-plane cells: q152c = compactSegments
    * over N tiny segments (claim: linear in segment count — the first
    * run of this cell caught the rename-mode heal sweep running
    * all-pairs, 22× at 10× segments, fixed to one sorted pass), q154c =
    * cold timestamp seek (the first seek after the publish reads the
    * commit log and builds the bucket's view and running-max index from
    * the records' maxTs — linear in segments, no frame scan), q154w =
    * warm seek (claim: the cached index plus O(one boundary segment)
    * FRAME reads, so the cost stays near-flat in segment count while a
    * frame-linear implementation would sit at seconds). The cold/warm
    * split thus measures the commit-log read. Their ratios are the CLAIMS
    * under test, so Bench excludes them from the "did anything scale
    * super-linearly" stdout headline.
    */
  val SyntheticCellKeys: Set[String] = Set("q152c", "q154c", "q154w", "q163s",
    "q167c")

  private def tinySegBucket(nSegs: Int): (graft.log.FileTopicLog, graft.model.TopicBucket, Long) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-probe-tiny$nSegs").toString
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    val tb = graft.model.TopicBucket("tiny", "b0000")
    log.fs.mkdirs(log.bucketDir(tb))
    val rowsPer = 5
    val base = System.currentTimeMillis()
    log.publishStaged(tb, (0 until nSegs).map { i =>
      val p = new org.apache.hadoop.fs.Path(log.bucketDir(tb), s".staged-$i")
      val bytes = graft.log.SegmentCodec.write(log.fs, p,
        (0 until rowsPer).map(j => (graft.model.Payload(j, Array[Byte](1)), base + i)))
      graft.log.SegMeta(p.toString, i.toLong * rowsPer, rowsPer.toLong, base + i, base + i,
        bytes, rowsPer.toLong)
    })
    (log, tb, base)
  }

  /** Dev loop: run ONLY the synthetic metadata cells and print their
    * entries (no Spark session, no corpus) — `sbt "runMain
    * graft.tools.ScaleProbe"`. With arg `stream`, builds a minimal local
    * session and runs ONLY the q163s streaming-metrics cell (it needs an
    * active session for the broadcast conf).
    */
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("stream")) {
      val spark = SparkSession.builder().master("local[4]")
        .appName("graft-scaleprobe-stream")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      streamingMetricsCell(graft.BenchHistory.load("BENCH_HISTORY.jsonl"))
        .foreach(println)
      spark.stop()
    } else
      syntheticCells(graft.BenchHistory.load("BENCH_HISTORY.jsonl"))
        .foreach(println)

  private def syntheticCells(history: graft.BenchHistory): Seq[String] = try {
    val small = 2000
    val big = small * 10
    val rowsPer = 5
    // (compactSec, seekColdSec, seekWarmSec) over an n-tiny-segment bucket
    def measure(n: Int): (Double, Double, Double) = {
      val (log, tb, base) = tinySegBucket(n)
      val target = base + n / 2
      def seek(): Double = {
        val t = System.nanoTime()
        val o = log.offsetForTimestamp(tb, target)
        require(o == (n / 2).toLong * rowsPer, s"seek returned $o at n=$n")
        (System.nanoTime() - t) / 1e9
      }
      val cold = seek() // reads the commit log, builds the view + index over n segments
      val warm = seek() // cached index + ONE boundary segment walk
      val t = System.nanoTime()
      val merged = log.compactSegments("tiny")
      require(merged == n, s"compaction merged $merged of $n")
      val sec = (System.nanoTime() - t) / 1e9
      // scratch cleanup outside the timed windows (2×10^4 files per run
      // must not accumulate in /tmp across bench runs)
      try log.fs.delete(log.root, true)
      catch { case _: java.io.IOException => () }
      (sec, cold, warm)
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    var smalls = List(measure(small))
    var bigs = List(measure(big))
    // same escalation discipline as the query cells: any big-scale sample
    // >2× its committed history re-measures BOTH scales to median-of-3
    // (these cells run in a loaded bench JVM and swing with it — n=1
    // would keep committing context noise into their history)
    def pick(xs: List[(Double, Double, Double)], i: Int): Seq[Double] =
      xs.map(t => i match { case 0 => t._1; case 1 => t._2; case _ => t._3 })
    val suspect = Seq("q152c", "q154c", "q154w").zipWithIndex.exists {
      case (k, i) => history.sf1Median(k).exists(h => h > 0 && pick(bigs, i).head > 2.0 * h)
    }
    if (suspect) (1 to 2).foreach { _ =>
      smalls ::= measure(small); bigs ::= measure(big)
    }
    def r2(v: Double) = math.rint(v * 100) / 100
    def entry(key: String, i: Int): String = {
      val a = med(pick(smalls, i)); val b = med(pick(bigs, i))
      val hist = history.sf1Median(key)
      val off = hist.exists(h => h > 0 && b > 2.0 * h)
      s""""$key":{"sf01":${r2(a)},"sf1":${r2(b)},"ratio":${r2(if (a > 0) b / a else -1.0)},"n":${bigs.size}""" +
        hist.map(h => s""","hist":${r2(h)}""").getOrElse("") +
        (if (off) ""","offband_cell":true""" else "") + "}"
    }
    Seq(entry("q152c", 0), entry("q154c", 1), entry("q154w", 2)) ++
      keyedCapCell(history) ++ streamingMetricsCell(history)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] synthetic metadata cells failed: ${e.getMessage}")
    Seq.empty
  }

  /** q167c — keyed compaction at changelog key cardinality (round-16
    * verdict #1): one bucket, two equal segments over the SAME key set,
    * compacted under a key budget ~80× below the distinct-key count so
    * the sort-based spill path carries the whole rewrite — sf01 = 10^6
    * distinct keys, sf1 = 10^7 (the verdict's design-point number). The
    * CLAIM under test is bounded task memory at unbounded cardinality:
    * the cell REQUIRES the spill path to have engaged (the run counter)
    * and the retained count to be exact, and its sf1/sf01 ratio is the
    * linearity evidence (an in-heap-only implementation would hold a
    * 10^7-entry map here — the very structure the budget forbids).
    */
  private def keyedCapCell(history: graft.BenchHistory): Seq[String] = try {
    import graft.log.SegmentCodec
    def measure(k: Int): Double = {
      val root = java.nio.file.Files.createTempDirectory(s"graft-probe-keyed").toString
      val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
      val tb = graft.model.TopicBucket("kcap", "b0000")
      log.fs.mkdirs(log.bucketDir(tb))
      val base = System.currentTimeMillis()
      val one = Array[Byte](1)
      log.publishStaged(tb, (0 until 2).map { m =>
        val p = new org.apache.hadoop.fs.Path(log.bucketDir(tb), s".staged-$m")
        val raw = log.fs.create(p, true)
        val o = new java.io.DataOutputStream(new java.io.BufferedOutputStream(raw, 1 << 16))
        var i = 0
        while (i < k) { SegmentCodec.writeFrame(o, i, base + i, one); i += 1 }
        o.close()
        graft.log.SegMeta(p.toString, m.toLong * k, k.toLong, base, base + k - 1,
          raw.getPos, k.toLong)
      })
      var spills = 0L
      val t = System.nanoTime()
      require(log.compactKeyed("kcap",
          rewrite = ts => {
            val done = log.localKeyed(ts)
            spills += done.valuesIterator.map(_.spillRuns).sum
            done
          },
          keyHeap = 1 << 17) == 2,
        "both segments must compact")
      val sec = (System.nanoTime() - t) / 1e9
      require(spills > 0,
        s"the $k-key rewrite must take the spill path under a 2^17 budget")
      val seg = log.segmentRecords(tb)
      require(seg.size == 1 && seg.head._2.rows == k.toLong,
        s"exactly $k retained keys, got ${seg.map(_._2)}")
      try log.fs.delete(log.root, true)
      catch { case _: java.io.IOException => () }
      sec
    }
    var smalls = List(measure(1 << 20))
    var bigs = List(measure(10 << 20))
    val suspect = history.sf1Median("q167c")
      .exists(h => h > 0 && bigs.head > 2.0 * h)
    if (suspect) (1 to 2).foreach { _ =>
      smalls ::= measure(1 << 20); bigs ::= measure(10 << 20)
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def r2(v: Double) = math.rint(v * 100) / 100
    val a = med(smalls); val b = med(bigs)
    val hist = history.sf1Median("q167c")
    val off = hist.exists(h => h > 0 && b > 2.0 * h)
    Seq(s""""q167c":{"sf01":${r2(a)},"sf1":${r2(b)},"ratio":${r2(if (a > 0) b / a else -1.0)},"n":${bigs.size}""" +
      hist.map(h => s""","hist":${r2(h)}""").getOrElse("") +
      (if (off) ""","offband_cell":true""" else "") + "}")
  } catch { case e: Throwable =>
    System.err.println(s"[bench] q167c keyed-cap cell failed: ${e.getMessage}")
    Seq.empty
  }

  /** q163s — the streaming trigger plane at 10× segments (round-14
    * verdict task #6): per-trigger `latestOffset` under a composite
    * min/max admission limit + `planInputPartitions` over the admitted
    * range + the full `ReportsSourceMetrics` read (offset AND time lag),
    * against an n-segment single-bucket topic whose commit records carry
    * each segment's ts stats, as every publish path writes them. The
    * cell's claim: the whole plane reads METADATA only — the cached
    * commit-log view serves warm triggers at O(stat-check) + an
    * O(segments) in-memory walk of the records per metrics read, no
    * frame IO; the ZERO-FRAMES half is asserted
    * mechanically in StreamingSpec's counting-FS test. Needs an active
    * Spark session (RippleConf broadcasts the Hadoop conf), so the
    * no-Spark dev loop skips it.
    */
  private def streamingMetricsCell(history: graft.BenchHistory): Option[String] = try {
    if (SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isEmpty)
      return None
    val rowsPer = 5
    val triggers = 20
    def measure(n: Int): Double = {
      val (log, _, _) = tinySegBucket(n)
      val conf = graft.connector.RippleConf(root = log.root.toString,
        topic = "tiny", bucket = None, numBuckets = 1, startingOffset = 0L,
        endingOffset = Long.MaxValue, maxOffsetsPerTrigger = 50L,
        minOffsetsPerTrigger = 10L)
      val stream = new graft.connector.RippleMicroBatchStream(conf,
        graft.model.Schemas.envelope)
      val limit = stream.getDefaultReadLimit
      val t0 = System.nanoTime()
      var off = stream.initialOffset()
      (0 until triggers).foreach { _ =>
        val latest = stream.latestOffset(off, limit)
        require(stream.planInputPartitions(off, latest).nonEmpty,
          s"admission must open a batch at n=$n")
        val m = stream.metrics(java.util.Optional.of(latest))
        require(m.get("maxOffsetsBehindLatest") != null &&
          m.get("maxTsBehindLatestMs") != null, s"metrics missing at n=$n: $m")
        off = latest
      }
      val sec = (System.nanoTime() - t0) / 1e9
      try log.fs.delete(log.root, true)
      catch { case _: java.io.IOException => () }
      sec
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    var smalls = List(measure(2000))
    var bigs = List(measure(20000))
    val hist = history.sf1Median("q163s")
    if (hist.exists(h => h > 0 && bigs.head > 2.0 * h))
      (1 to 2).foreach { _ => smalls ::= measure(2000); bigs ::= measure(20000) }
    val a = med(smalls); val b = med(bigs)
    def r2(v: Double) = math.rint(v * 100) / 100
    val off = hist.exists(h => h > 0 && b > 2.0 * h)
    Some(s""""q163s":{"sf01":${r2(a)},"sf1":${r2(b)},"ratio":${r2(if (a > 0) b / a else -1.0)},"n":${bigs.size}""" +
      hist.map(h => s""","hist":${r2(h)}""").getOrElse("") +
      (if (off) ""","offband_cell":true""" else "") + "}")
  } catch { case e: Throwable =>
    System.err.println(s"[bench] q163s streaming-metrics cell failed: ${e.getMessage}")
    None
  }
}
