package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`), SURVEY §7
  * step 6. Two paths:
  *
  *   - [[bruteForceTopK]]: exact — broadcast the (small) query set, one
  *     codegen'd pass over the corpus, per-query top-k through the typed
  *     [[graft.functions.TopKAggregator]]: map-side bounded buffers mean
  *     the shuffle carries O(queries × k) hits, not the full
  *     queries × corpus score matrix. At 100 TB that single corpus scan is
  *     the floor any exact method pays — and it's the ONLY full pass here.
  *   - [[ivfTopK]]: approximate IVF — corpus pre-assigned to nearest of C
  *     centroids (one pass, zero shuffle: the argmax over broadcast
  *     centroids is a per-row [[graft.functions.TopCentroids]] expression),
  *     queries probe only nProbe partitions → touches nProbe/C of the data
  *     per query.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns — primitive-loop
    * [[graft.functions.CosineSim]] expression (identical accumulation
    * order, hence bitwise-identical values, to the zip_with + aggregate
    * formulation it replaces).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.sketches.cosine_sim(a, b)

  /** Exact top-k neighbors for each query vector (excluding self-matches
    * by id). Output: (query_id, vec_id, rank) — rank 1..k by descending
    * cosine, ties broken by ascending vec_id for determinism.
    *
    * Default implementation is the aggregator path (bounded map-side
    * buffers); [[bruteForceTopKWindow]] is the window-shuffle twin kept for
    * cross-checking — it computes the identical answer but shuffles the
    * full score matrix, which does not survive a 100 TB corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    bruteForceTopKAgg(corpus, queries, idCol, vecCol, k)

  /** Window-formulation twin of [[bruteForceTopK]] — same output contract,
    * but shuffles every (query_id, vec_id, cosine) triple. Kept as the
    * oracle/test cross-check for the aggregator path; do not use at scale.
    */
  def bruteForceTopKWindow(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = Spread.toCores(corpus)
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("cv"), col("qv")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"))
  }

  /** Exact top-k via the typed [[graft.functions.TopKAggregator]] UDAF —
    * map-side bounded buffers mean the shuffle carries O(queries × k)
    * hits instead of the full queries × corpus score matrix the window
    * formulation shuffles. Same output contract as [[bruteForceTopK]].
    */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = Spread.toCores(corpus)
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("cv"), col("qv")).as("cos"))
    topKRanks(scored, k)
  }

  /** Shared top-k tail: (query_id, vec_id, cos) rows → (query_id, vec_id,
    * rank 1..k) through the bounded [[graft.functions.TopKAggregator]] —
    * descending score, ties by ascending vec_id. One place, so the exact
    * and approximate paths cannot drift in tie-break or rank contract.
    */
  private def topKRanks(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val agg = new graft.functions.TopKAggregator(k)
    scored.as[graft.functions.Scored]
      .groupByKey(_.query_id)
      .agg(agg.toColumn.name("hits"))
      .flatMap { case (qid, hits) =>
        hits.zipWithIndex.map { case (h, i) => (qid, h.vec_id, (i + 1).toLong) }
      }
      .toDF("query_id", "vec_id", "rank")
  }

  /** Deterministic coarse centroids: the numCentroids smallest ids. */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(numCentroids)
      .select(monotonically_increasing_id().as("cid"),
        col(vecCol).cast("array<double>").as("centroid"))

  /** Collect the (small, by construction — it's a coarse quantizer)
    * centroid table driver-side, sorted by cid so the expression's
    * strict-greater argmax tie-breaks on ascending cid exactly like the
    * `Window.orderBy(d.desc, cid)` formulation it replaced.
    */
  private def collectCents(cents: DataFrame): (Array[Array[Double]], Array[Long]) = {
    val rows = cents
      .select(col("cid").cast("long"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    (rows.map(_._2), rows.map(_._1))
  }

  /** IVF assignment: each corpus vector → nearest centroid id. Zero
    * shuffle: one per-row [[graft.functions.TopCentroids]] argmax over the
    * driver-collected centroids (the previous crossJoin + Window plan
    * shuffled corpus × C rows — a 1024× corpus blow-up at C=1024).
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    val (cm, cids) = collectCents(cents)
    assignWith(corpus, idCol, vecCol, cm, cids)
  }

  /** Multi-probe assignment: each vector → its `nProbe` nearest centroid
    * ids, one row per (vector, cid). Same zero-shuffle per-row argmax as
    * [[ivfAssign]]; the explode multiplies rows by nProbe, nothing else.
    * Soft blocking for cluster-blocked comparisons: a pair split across a
    * cluster boundary still meets in a shared second-choice cluster.
    */
  def ivfAssignMulti(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nProbe: Int): DataFrame = {
    val (cm, cids) = collectCents(cents)
    Spread.toCores(corpus).select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cid",
        explode(graft.functions.sketches.top_centroids(col("cv"), cm, cids, nProbe)))
      .select(col("vec_id"), col("cv"), col("cid"))
  }

  /** Assignment body shared by [[ivfAssign]] and [[ivfTopK]] (which holds
    * the collected centroids already — collecting twice would recompute
    * the k-means lineage).
    */
  private def assignWith(corpus: DataFrame, idCol: String, vecCol: String,
      cm: Array[Array[Double]], cids: Array[Long],
      metaCols: Seq[String] = Nil): DataFrame =
    Spread.toCores(corpus).select(col(idCol).as("vec_id") +:
        col(vecCol).cast("array<double>").as("cv") +: metaCols.map(col): _*)
      .withColumn("cid",
        element_at(graft.functions.sketches.top_centroids(col("cv"), cm, cids, 1), 1))
      .select(col("vec_id") +: col("cv") +: col("cid") +: metaCols.map(col): _*)

  /** Per-partition centroid-sum state for one Lloyd re-centering pass:
    * each task folds its rows into C×dim running sums + C counts, partials
    * merge up the aggregation tree, so the shuffle carries
    * partitions × (C×dim + C) values — independent of corpus size (the
    * posexplode formulation it replaces shipped corpus × dim narrow rows
    * per iteration).
    */
  /** `quantizeInv`: None accumulates raw doubles (production — fast,
    * partition-order-dependent in the last bits, like every distributed
    * float mean). Some(inv) accumulates floor(x·inv + 0.5) — whole
    * numbers, exact in doubles below 2^53, so the sums are
    * order-independent and the means replay bit-for-bit in SQL
    * (mean = (sum / inv) / n, one fixed shape). The q59 gate runs
    * inv = 1e9; bound: corpus_rows × inv × |x| must stay under 2^53 per
    * cell — a GATE mode, not the 100 TB path.
    */
  private class CentroidSumAggregator(cids: Array[Long], dim: Int,
      quantizeInv: Option[Double] = None)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Array[Double]), (Array[Double], Array[Long]), Array[Array[Double]]] {
    @transient private lazy val idx: Map[Long, Int] = cids.zipWithIndex.toMap

    override def zero: (Array[Double], Array[Long]) =
      (new Array[Double](cids.length * dim), new Array[Long](cids.length))

    override def reduce(b: (Array[Double], Array[Long]),
        row: (Long, Array[Double])): (Array[Double], Array[Long]) = {
      val i = idx(row._1)
      var j = 0
      quantizeInv match {
        case Some(inv) =>
          while (j < dim) {
            b._1(i * dim + j) += math.floor(row._2(j) * inv + 0.5); j += 1
          }
        case None =>
          while (j < dim) { b._1(i * dim + j) += row._2(j); j += 1 }
      }
      b._2(i) += 1
      b
    }

    override def merge(a: (Array[Double], Array[Long]),
        b: (Array[Double], Array[Long])): (Array[Double], Array[Long]) = {
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      var c = 0
      while (c < a._2.length) { a._2(c) += b._2(c); c += 1 }
      a
    }

    // null marks a cluster that lost every member (dropped by the caller)
    override def finish(b: (Array[Double], Array[Long])): Array[Array[Double]] =
      Array.tabulate(cids.length) { i =>
        if (b._2(i) == 0) null
        else quantizeInv match {
          case Some(inv) =>
            Array.tabulate(dim)(j => b._1(i * dim + j) / inv / b._2(i))
          case None =>
            Array.tabulate(dim)(j => b._1(i * dim + j) / b._2(i))
        }
      }

    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Array[Long])] =
      org.apache.spark.sql.Encoders.product[(Array[Double], Array[Long])]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Array[Double]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Array[Double]]]()
  }

  /** One Lloyd (k-means) iteration: re-center each cluster on the
    * element-wise mean of its members via [[CentroidSumAggregator]] — one
    * narrow aggregation per iteration, no explode, no per-dimension rows.
    * Clusters that lose all members drop out (fewer, better centroids —
    * acceptable for a coarse quantizer).
    */
  def kmeansIterate(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, iterations: Int,
      meanQuantizeInv: Option[Double] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var c = cents
    for (_ <- 1 to iterations) {
      val (cm, cids) = collectCents(c)
      val dim = cm(0).length
      val assigned = assignWith(corpus, idCol, vecCol, cm, cids)
      val agg = new CentroidSumAggregator(cids, dim, meanQuantizeInv)
      val means = assigned.select(col("cid"), col("cv"))
        .as[(Long, Array[Double])]
        .select(agg.toColumn)
        .head()
      val rows = cids.zip(means).collect { case (cid, m) if m != null => (cid, m.toSeq) }
      c = rows.toSeq.toDF("cid", "centroid")
    }
    c
  }

  /** Per-vector int8 scalar quantization — the embedding-compression step
    * an ANN index at 100 TB needs (4× smaller vectors ⇒ 4× more corpus per
    * executor, and the IVF probe joins ship byte codes instead of floats).
    * Each vector is min-max quantized independently: code_i =
    * clamp(floor((x_i − min) · 255 / (max − min)), 255), a constant vector
    * maps to all-zero codes. Per-row only — codegen'd, zero shuffles.
    *
    * Output: (id, mn, mx, codes array<long>). Reconstruction is
    * mn + code·(mx−mn)/255 (callers fold it into their distance kernels).
    * Arithmetic is plain IEEE double with no rounding/accumulation, so the
    * codes are bitwise-reproducible on any engine evaluating the same
    * expression — the property that lets an offline-quantized index be
    * probed by a different runtime.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // Projection boundaries: Catalyst does not CSE across HOF lambdas, so
    // mn/mx must be materialized once, not inlined 2× per element.
    df.select(col(idCol).as("id"), v.as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("codes",
        when(col("mx") === col("mn"), transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => least(floor((x - col("mn")) * lit(255.0) / (col("mx") - col("mn"))),
              lit(255L)))))
      .select(col("id"), col("mn"), col("mx"), col("codes"))
  }

  /** Chunk→document embedding pooling: element-wise mean of each group's
    * vectors, L2-normalized by default — the stage that turns chunk-level
    * embeddings into one vector per document before semantic dedup or ANN
    * indexing (long documents are embedded in overlapping windows; every
    * similarity operator downstream wants a single unit vector per doc).
    *
    * Per-dimension sums accumulate in DECIMAL(30,12) (the
    * [[graft.ops.Graph.pageRank]] convention): float addition is
    * order-dependent, so a double sum would vary with partitioning and
    * engine; decimal sums are exact, making the pooled vector
    * bit-identical on any engine at any parallelism — what lets the q117
    * oracle replay it. The explode ships narrow (group, dim, value)
    * triples — dim × rows small rows, two shuffles; an array-summing
    * Aggregator would halve that but reintroduce float-order
    * nondeterminism. The norm folds over the SAME decimal-exact means, so
    * normalization preserves cross-engine identity.
    *
    * Assumes every vector in a group has the same dimension (the chunker
    * emits fixed-dim embeddings): with ragged inputs, each dimension
    * averages over only the vectors that reach it, and `n_chunks` reports
    * the max contributor count. NULL embeddings contribute nothing
    * (posexplode of NULL emits no rows).
    *
    * Output: (groupCol, n_chunks, embedding array<double>).
    */
  def meanPoolEmbeddings(chunks: DataFrame, groupCol: String, vecCol: String,
      normalize: Boolean = true): DataFrame = {
    val expl = Spread.toCores(chunks).select(col(groupCol).as("__g"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x")))
    val mean = expl.groupBy(col("__g"), col("__i"))
      .agg((sum(col("__x").cast("decimal(30,12)")).cast("double") /
        count(lit(1))).as("__m"), count(lit(1)).as("__n"))
    val assembled = mean.groupBy(col("__g"))
      .agg(max(col("__n")).as("n_chunks"),
        transform(array_sort(collect_list(struct(col("__i"), col("__m")))),
          _.getField("__m")).as("__v"))
    val out =
      if (!normalize) assembled.withColumn("embedding", col("__v"))
      else assembled
        .withColumn("__nrm", sqrt(aggregate(col("__v"),
          lit(0).cast("decimal(30,12)"),
          (acc, e) => (acc + (e * e).cast("decimal(30,12)"))
            .cast("decimal(30,12)")).cast("double")))
        .withColumn("embedding",
          when(col("__nrm") === 0.0, col("__v"))
            .otherwise(transform(col("__v"), _ / col("__nrm"))))
    out.select(col("__g").as(groupCol), col("n_chunks"), col("embedding"))
  }

  // ---- product quantization ------------------------------------------

  /** Add an L2-normalized copy of `vecCol` as `out` (zero vectors pass
    * through unchanged — consistent with [[graft.functions.CosineSim]]'s
    * zero-norm → 0 convention). Under unit norm, squared L2 distance is a
    * monotone transform of cosine (‖a−b‖² = 2 − 2·cosθ), which is what
    * lets the L2-based PQ machinery rank by cosine.
    *
    * The norm is materialized behind a projection boundary: Catalyst does
    * not CSE into HOF lambdas, so inlining `sqrt(aggregate(...))` in the
    * transform body re-evaluates the O(dim) sum once PER ELEMENT —
    * O(dim²) per row on the PQ hot path.
    */
  def withUnitVec(df: DataFrame, vecCol: String, out: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.withColumn("__nrm", sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x)))
      .withColumn(out,
        when(col("__nrm") === 0.0, v)
          .otherwise(transform(v, x => x / col("__nrm"))))
      .drop("__nrm")
  }

  /** Train PQ codebooks: the vector space is split into m contiguous
    * subspaces of dim/m components; each subspace gets its own ksub-way
    * k-means codebook. Returns [m][ksub][dim/m] (driver-side — m·ksub·dim/m
    * doubles, a few KB: codebooks are broadcast-class metadata, exactly
    * like IVF centroids).
    *
    * Scale shape: training runs on a deterministic [[Sampling]]
    * hash-sample of the corpus keyed by `idCol` (k-means quality needs
    * thousands of points per centroid, not the full 100 TB — pass
    * trainFraction ≪ 1 at scale), localCheckpointed so the Lloyd passes
    * scan a small materialized set, not the corpus lineage. Each
    * iteration assigns ALL m subspaces in one pass (one
    * [[graft.functions.PqEncode]] per row), and re-centering is one
    * narrow (subspace, code, pos, x) aggregation.
    */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainFraction: Double = 1.0,
      meanQuantizeInv: Option[Double] = None): Array[Array[Array[Double]]] =
      Materialize.scoped {
    val sampled =
      if (trainFraction >= 1.0) corpus
      else Sampling.hashSample(corpus, col(idCol), trainFraction)
    // localCheckpoint only an actual sample: it exists so the Lloyd passes
    // scan a small materialized set — eagerly materializing the FULL corpus
    // (trainFraction = 1, fine for fixtures, wrong at scale) would defeat
    // the sampling's purpose, and the un-checkpointed lineage is just a
    // scan + normalize.
    val normalized = withUnitVec(sampled.select(col(idCol).as("id"), col(vecCol)),
        vecCol, "v")
      .select(col("id"), col("v"))
    val train = if (trainFraction >= 1.0) normalized
      else Materialize(normalized)
    pqTrainLloyd(train, dim, m, ksub, iters, meanQuantizeInv)
  }

  /** Lloyd core shared by [[pqTrainCodebooks]] (unit vectors) and
    * [[ivfPqTopK]] (IVF residuals): `train` is a prepared (id, v) set —
    * already sampled/normalized/residualized and small enough to rescan
    * per iteration.
    */
  /** `meanQuantizeInv`: same portable-replay switch as
    * [[CentroidSumAggregator]] — Some(inv) re-centers on floor(x·inv+0.5)
    * integer sums (order-independent, SQL-replayable); None keeps the
    * production double `avg`.
    */
  private def pqTrainLloyd(train: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int, meanQuantizeInv: Option[Double] = None): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m

    // Seed: the ksub smallest-id vectors' subvectors — deterministic
    // regardless of partition layout (a bare limit() takes whatever
    // partitions happen to be scanned first).
    val seedRows = train.orderBy(col("id")).limit(ksub)
      .collect().map(_.getSeq[Double](1).toArray)
    require(seedRows.length > 0, "empty training set")
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      Array.tabulate(math.min(ksub, seedRows.length)) { c =>
        seedRows(c).slice(j * dsub, (j + 1) * dsub)
      }
    }
    for (_ <- 1 to iters) {
      val assigned = train.select(col("v"),
        graft.functions.sketches.pq_encode(col("v"), cb).as("codes"))
      // one narrow pass: (subspace, code, component position) → mean
      val means = assigned
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
        .select((col("pos") / dsub).cast("int").as("j"),
          element_at(col("codes"), (col("pos") / dsub).cast("int") + 1).as("code"),
          pmod(col("pos"), lit(dsub)).as("i"), col("x"))
        .groupBy(col("j"), col("code"), col("i"))
        .agg((meanQuantizeInv match {
          case Some(inv) =>
            sum(floor(col("x") * inv + lit(0.5))) / inv / count(lit(1))
          case None => avg(col("x"))
        }).as("mu"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      cb = Array.tabulate(m) { j =>
        Array.tabulate(cb(j).length) { c =>
          Array.tabulate(dsub) { i =>
            // clusters that lost every member keep their previous centroid
            means.getOrElse((j, c, i), cb(j)(c)(i))
          }
        }
      }
    }
    cb
  }

  /** PQ-encode a corpus: (id, codes array<int> of length m). At m=8 this
    * is 8 small ints per vector — the representation a 100 TB ANN index
    * actually stores and shuffles.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    withUnitVec(Spread.toCores(corpus), vecCol, "__v")
      .select(col(idCol).as("vec_id"),
        graft.functions.sketches.pq_encode(col("__v"), codebooks).as("codes"))

  /** Approximate top-k by product quantization + asymmetric distance:
    * corpus rows are scored by m table lookups against per-query distance
    * tables ([[graft.functions.PqTables]], computed once per query), and
    * per-query top-k reduces through the bounded [[graft.functions.TopKAggregator]]
    * — same O(queries × k) shuffle as the exact path, with the scan doing
    * ~dim/m of the exact path's arithmetic on ~1/32 of its bytes. Vectors
    * are L2-normalized so ascending ADC distance ranks like descending
    * cosine; ties break by ascending vec_id as everywhere else.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, trainFraction: Double = 1.0,
      meanQuantizeInv: Option[Double] = None): DataFrame = {
    val cb = pqTrainCodebooks(corpus, idCol, vecCol, dim, m, ksub, iters,
      trainFraction, meanQuantizeInv)
    val codes = pqEncode(corpus, idCol, vecCol, cb)
    pqScoreTopK(codes, queries, idCol, vecCol, cb, k)
  }

  /** Approximate top-k: probe the nProbe centroids nearest to each query,
    * search only their partitions. `kmeansIters` Lloyd steps refine the
    * seeded coarse centroids (the assignment pass IS the k-means inner
    * loop, so refinement reuses it). Probe selection is the same per-row
    * [[graft.functions.TopCentroids]] expression with n = nProbe — no
    * crossJoin, no window.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 1, meanQuantizeInv: Option[Double] = None): DataFrame = {
    val cents = kmeansIterate(corpus, idCol, vecCol,
      centroids(corpus, idCol, vecCol, numCentroids), kmeansIters, meanQuantizeInv)
    val (cm, cids) = collectCents(cents)
    val assigned = assignWith(corpus, idCol, vecCol, cm, cids)
    ivfProbeTopK(assigned, queries, idCol, vecCol, k, nProbe, cm, cids)
  }

  /** Shared IVF probe tail: select nProbe centroids per query, join only
    * their partitions, reduce through the bounded aggregator (not
    * Window+row_number — the probed score matrix is queries ×
    * (nProbe/C)·corpus rows, and a full shuffle of it at 100 TB is exactly
    * the shape [[bruteForceTopKWindow]] exists to warn about).
    */
  private def ivfProbeTopK(assigned: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      cm: Array[Array[Double]], cids: Array[Long]): DataFrame =
    ivfProbeTopKUnit(assigned,
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")),
      k, nProbe, cm, cids)

  /** [[ivfProbeTopK]] over an already-prepared (query_id, qv) frame — lets
    * the persisted-index path pin the query batch once for both the
    * probed-cid collect and this tail.
    */
  private def ivfProbeTopKUnit(assigned: DataFrame, q: DataFrame,
      k: Int, nProbe: Int,
      cm: Array[Array[Double]], cids: Array[Long]): DataFrame = {
    val probes = q
      .select(col("query_id"), col("qv"),
        explode(graft.functions.sketches.top_centroids(col("qv"), cm, cids, nProbe)).as("cid"))
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("cv"), col("qv")).as("cos"))
    topKRanks(scored, k)
  }

  // ---- index persistence ---------------------------------------------

  /** A persisted IVF index: the (small) centroid table plus the assigned
    * corpus, range-clustered on cid so probe-time scans skip every file
    * whose cid range misses the probed set.
    */
  case class IvfIndex(cm: Array[Array[Double]], cids: Array[Long],
      assigned: DataFrame)

  /** Train + assign once, persist: `<path>/centroids` (cid, centroid) and
    * `<path>/assigned` (vec_id, cv, cid) written via
    * [[Layout.writeClustered]] on cid — the one range-exchange that buys
    * every future probe parquet min/max file skipping. Queries against a
    * 100 TB corpus pay this ONCE instead of re-training and re-assigning
    * per call (the round-2 shape).
    */
  def saveIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 16, kmeansIters: Int = 1,
      numFiles: Int = 32, metaCols: Seq[String] = Nil): Unit = {
    val cents = kmeansIterate(corpus, idCol, vecCol,
      centroids(corpus, idCol, vecCol, numCentroids), kmeansIters)
    val (cm, cids) = collectCents(cents)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    Layout.writeClustered(assignWith(corpus, idCol, vecCol, cm, cids, metaCols),
      s"$path/assigned", Seq(col("cid")), numFiles)
  }

  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val (cm, cids) = collectCents(spark.read.parquet(s"$path/centroids"))
    IvfIndex(cm, cids, spark.read.parquet(s"$path/assigned"))
  }

  /** Probe a persisted IVF index. The probed cid set is applied as a scan
    * FILTER (not just a join key) so the pushed-down predicate meets the
    * clustered layout's per-file cid ranges and unprobed files are never
    * read — the collect behind it is the query-side centroid set, bounded
    * by queries × nProbe.
    */
  def ivfTopKWithIndex(index: IvfIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4): DataFrame =
    ivfTopKWithIndexWhere(index, queries, idCol, vecCol, k, lit(true), nProbe)

  /** FILTERED vector search over a persisted index: top-k restricted to
    * the metadata predicate, the "search only docs with source = X /
    * date > Y" shape every production vector store needs. `pred`
    * evaluates over metadata columns carried into the assigned table at
    * build time (`saveIvfIndex(metaCols = ...)`) and is applied BEFORE
    * the probe join, so (a) the result is the exact IVF top-k OF the
    * filtered subset — post-filtering a k-list can under-fill or miss
    * qualifying neighbors entirely when the unfiltered top-k is dominated
    * by excluded rows — and (b) the predicate reaches the parquet scan
    * alongside the probed-cid filter (plain pushable columns, no join).
    * Centroids stay those of the full corpus: no retraining per filter.
    */
  def ivfTopKWithIndexWhere(index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, pred: Column,
      nProbe: Int = 4): DataFrame = {
    // Pin the (bounded) query batch once for the probed-cid collect AND
    // the probe tail — same §2.4 reuse as ivfPqTopKWithIndex.
    val q = Materialize(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")))
    val probedCids = q
      .select(explode(graft.functions.sketches.top_centroids(
        col("qv"), index.cm, index.cids, nProbe)).as("cid"))
      .distinct().collect().map(_.getLong(0))
    val assigned = index.assigned.filter(pred)
      .filter(col("cid").isin(probedCids: _*))
    ivfProbeTopKUnit(assigned, q, k, nProbe, index.cm, index.cids)
  }

  /** A persisted PQ index: driver-side codebooks + the encoded corpus. */
  case class PqIndex(codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** Train codebooks + encode once, persist: `<path>/codebooks` as
    * parquet rows (j, code, centroid) — parquet rather than JSON text so
    * the doubles round-trip bit-exactly — and `<path>/codes` (vec_id,
    * codes), the 8-bytes-per-vector representation a 100 TB ANN index
    * actually stores.
    */
  def savePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainFraction: Double = 1.0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = pqTrainCodebooks(corpus, idCol, vecCol, dim, m, ksub, iters, trainFraction)
    val rows = for (j <- cb.indices; c <- cb(j).indices)
      yield (j, c, cb(j)(c).toSeq)
    rows.toDF("j", "code", "centroid")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    pqEncode(corpus, idCol, vecCol, cb)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  def loadPqIndex(spark: SparkSession, path: String): PqIndex =
    PqIndex(loadCodebooks(spark, s"$path/codebooks"),
      spark.read.parquet(s"$path/codes"))

  /** Rebuild driver-side codebooks from their parquet rows — shared by the
    * PQ and IVF-PQ index loaders so the two paths cannot drift.
    */
  private def loadCodebooks(spark: SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    val raw = spark.read.parquet(path)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    require(raw.nonEmpty, s"no codebook rows at $path")
    val m = raw.keys.map(_._1).max + 1
    Array.tabulate(m) { j =>
      val ks = raw.keys.collect { case (`j`, c) => c }.max + 1
      Array.tabulate(ks)(c => raw((j, c)))
    }
  }

  /** Probe a persisted PQ index: per-query ADC tables against the stored
    * codes — the scan arithmetic and shuffle shape of [[pqTopK]] without
    * re-training or re-encoding anything.
    */
  def pqTopKWithIndex(index: PqIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    pqScoreTopK(index.codes, queries, idCol, vecCol, index.codebooks, k)

  /** PQ index probe + exact re-rank: ADC narrows to k·refine candidates
    * from the stored codes, then [[refineExact]] rescores that (small)
    * candidate list against the ORIGINAL vectors — the standard two-tier
    * deployment where 8-byte codes live in the index and full vectors are
    * fetched from primary storage only for the shortlist. One broadcast
    * join of queries × k·refine ids against the corpus scan; no corpus
    * shuffle.
    */
  def pqTopKWithIndexRefine(index: PqIndex, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      refine: Int): DataFrame = {
    val adc = pqScoreTopK(index.codes, queries, idCol, vecCol,
      index.codebooks, k * refine)
    refineExact(adc, corpus, queries, idCol, vecCol, k)
  }

  /** Shared PQ scoring tail (codes ⋈ broadcast query tables → bounded
    * top-k) used by [[pqTopK]] and [[pqTopKWithIndex]].
    */
  private def pqScoreTopK(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cb: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val kEff = cb(0).length
    val qt = withUnitVec(queries, vecCol, "__v")
      .select(col(idCol).as("query_id"),
        graft.functions.sketches.pq_tables(col("__v"), cb).as("tables"))
    val scored = codes.join(broadcast(qt), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // negated: TopKAggregator keeps the LARGEST scores
        (-graft.functions.sketches.pq_adc_dist(col("codes"), col("tables"), kEff))
          .as("cos"))
    topKRanks(scored, k)
  }

  // ---- IVF-PQ (coarse quantizer + residual product quantization) ------

  /** v − centroid(cid): the residual a fused IVF-PQ index encodes instead
    * of the raw vector (residuals concentrate near 0, so the same ksub
    * codewords quantize them much more finely than the full space).
    * Codegen'd [[graft.functions.CentroidResidual]]: the centroid table
    * rides as a reference object with an O(1) cid lookup — a map LITERAL
    * here would serialize C×dim doubles into every stage's plan and pay a
    * linear `element_at` scan per row.
    */
  private def residual(vCol: Column, cidCol: Column,
      cm: Array[Array[Double]], cids: Array[Long]): Column =
    graft.functions.sketches.centroid_residual(vCol, cidCol, cm, cids)

  /** Approximate top-k through a fused IVF-PQ index — the architecture a
    * 100 TB vector corpus actually deploys (coarse cells bound the scan,
    * 8-byte residual codes bound the bytes):
    *
    *   1. corpus vectors are L2-normalized (so L2 ranks like cosine),
    *      assigned to the nearest of `numCentroids` coarse centroids
    *      (per-row [[graft.functions.TopCentroids]], zero shuffle);
    *   2. each vector's RESIDUAL (v − centroid) is PQ-encoded — codebooks
    *      train on a deterministic hash-sample of residuals;
    *   3. a query probes its nProbe nearest cells; for each probed cell it
    *      carries a per-(query, cell) ADC table built from ITS residual
    *      against that cell, so Σ_j table[codes_j] ≈ ‖q − x‖² exactly
    *      (‖(q−c) − (x−c)‖² = ‖q−x‖²) — scores are comparable across
    *      cells with no per-cell correction term;
    *   4. per-query top-k reduces through the bounded
    *      [[graft.functions.TopKAggregator]] (O(queries × k) shuffle).
    *
    * `refine > 0` re-ranks the top k·refine ADC candidates with exact
    * cosine against the original vectors (one broadcast-semi-joined corpus
    * scan over a candidate set of queries × k·refine rows) — the standard
    * accuracy-recovery tail; 0 skips it.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, numCentroids: Int = 16,
      nProbe: Int = 4, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainFraction: Double = 1.0, kmeansIters: Int = 1,
      refine: Int = 0, meanQuantizeInv: Option[Double] = None): DataFrame = {
    val (cm, cids, codes, cb) =
      buildIvfPq(corpus, idCol, vecCol, dim, numCentroids, m, ksub, iters,
        trainFraction, kmeansIters, meanQuantizeInv)
    val adcTopK = ivfPqProbe(codes, queries, idCol, vecCol, cm, cids, cb,
      if (refine > 0) k * refine else k, nProbe)
    if (refine > 0) refineExact(adcTopK, corpus, queries, idCol, vecCol, k)
    else adcTopK
  }

  /** Train centroids, assign, residual-encode: the index-build phase shared
    * by [[ivfPqTopK]] and [[saveIvfPqIndex]]. Returns (centroids, cids,
    * codes (vec_id, cid, codes), codebooks).
    */
  private def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, numCentroids: Int, m: Int, ksub: Int, iters: Int,
      trainFraction: Double, kmeansIters: Int,
      meanQuantizeInv: Option[Double] = None)
      : (Array[Array[Double]], Array[Long], DataFrame, Array[Array[Array[Double]]]) = {
    val norm = withUnitVec(Spread.toCores(corpus)
        .select(col(idCol).as("id"), col(vecCol)), vecCol, "v")
      .select(col("id"), col("v"))
    val cents = kmeansIterate(norm, "id", "v",
      centroids(norm, "id", "v", numCentroids), kmeansIters, meanQuantizeInv)
    val (cm, cids) = collectCents(cents)
    val assigned = assignWith(norm, "id", "v", cm, cids)
    val res = assigned.withColumn("r",
      residual(col("cv"), col("cid"), cm, cids))

    val sampled =
      if (trainFraction >= 1.0) res
      else Sampling.hashSample(res, col("vec_id"), trainFraction)
    val train0 = sampled.select(col("vec_id").as("id"), col("r").as("v"))
    // the sample pin lives only as long as the Lloyd passes that scan it
    val cb = Materialize.scoped {
      val train = if (trainFraction >= 1.0) train0 else Materialize(train0)
      pqTrainLloyd(train, dim, m, ksub, iters, meanQuantizeInv)
    }

    val codes = res.select(col("vec_id"), col("cid"),
      graft.functions.sketches.pq_encode(col("r"), cb).as("codes"))
    (cm, cids, codes, cb)
  }

  /** IVF-PQ probe tail: per-(query, probed-cell) residual ADC tables join
    * the codes of those cells only; ranks reduce through the bounded
    * aggregator. Shared by the in-memory and persisted-index paths.
    */
  private def ivfPqProbe(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cm: Array[Array[Double]], cids: Array[Long],
      cb: Array[Array[Array[Double]]], k: Int, nProbe: Int): DataFrame =
    ivfPqProbeUnit(codes,
      withUnitVec(queries, vecCol, "__v")
        .select(col(idCol).as("query_id"), col("__v")),
      cm, cids, cb, k, nProbe)

  /** [[ivfPqProbe]] over an already-prepared (query_id, __v unit-vector)
    * frame — lets the persisted-index path pin the normalized query batch
    * ONCE for both the probed-cid collect and this tail.
    */
  private def ivfPqProbeUnit(codes: DataFrame, uq: DataFrame,
      cm: Array[Array[Double]], cids: Array[Long],
      cb: Array[Array[Array[Double]]], k: Int, nProbe: Int): DataFrame = {
    val kEff = cb(0).length
    val probes = uq
      .select(col("query_id"), col("__v"),
        explode(graft.functions.sketches.top_centroids(col("__v"), cm, cids,
          nProbe)).as("cid"))
      .select(col("query_id"), col("cid"),
        graft.functions.sketches.pq_tables(
          residual(col("__v"), col("cid"), cm, cids), cb).as("tables"))
    val scored = codes.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (-graft.functions.sketches.pq_adc_dist(col("codes"), col("tables"), kEff))
          .as("cos"))
    topKRanks(scored, k)
  }

  /** Exact re-rank of an approximate candidate list: join the (small,
    * queries × k·refine) candidates back to the corpus vectors via a
    * broadcast hash join — one filtered corpus scan, no shuffle of corpus
    * rows — score exact cosine, keep the true top-k.
    */
  private def refineExact(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = c
      .join(broadcast(candidates.select(col("query_id"), col("vec_id"))),
        Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("cv"), col("qv")).as("cos"))
    topKRanks(scored, k)
  }

  /** A persisted IVF-PQ index: coarse centroids + residual codebooks
    * (driver-side) and the cid-clustered 8-bytes-per-vector codes table.
    */
  case class IvfPqIndex(cm: Array[Array[Double]], cids: Array[Long],
      codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** Build once, persist: `<path>/centroids`, `<path>/codebooks` (parquet,
    * bit-exact doubles), and `<path>/codes` (vec_id, cid, codes) written
    * via [[Layout.writeClustered]] on cid so probe-time scans skip every
    * file whose cid range misses the probed set — at 100 TB the index IS
    * this layout.
    */
  def saveIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int, numCentroids: Int = 16,
      m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainFraction: Double = 1.0, kmeansIters: Int = 1,
      numFiles: Int = 32): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (cm, cids, codes, cb) =
      buildIvfPq(corpus, idCol, vecCol, dim, numCentroids, m, ksub, iters,
        trainFraction, kmeansIters)
    cids.zip(cm.map(_.toSeq)).toSeq.toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    (for (j <- cb.indices; c <- cb(j).indices) yield (j, c, cb(j)(c).toSeq))
      .toDF("j", "code", "centroid")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    Layout.writeClustered(codes, s"$path/codes", Seq(col("cid")), numFiles)
  }

  def loadIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex = {
    val (cm, cids) = collectCents(spark.read.parquet(s"$path/centroids"))
    IvfPqIndex(cm, cids, loadCodebooks(spark, s"$path/codebooks"),
      spark.read.parquet(s"$path/codes"))
  }

  /** Append a new batch to a persisted IVF index WITHOUT retraining:
    * assign the batch against the SAVED centroids and append its rows,
    * clustered on cid, to the assigned table — each appended file covers a
    * narrow cid range, so probe-time file skipping holds for old and new
    * files alike. This is the incremental-ingest half of index
    * maintenance: a 100 TB index absorbs a daily batch without re-touching
    * the corpus. Re-train (a fresh [[saveIvfIndex]]) only when the corpus
    * distribution has drifted enough that cell sizes skew.
    */
  def appendToIvfIndex(spark: SparkSession, path: String, newDocs: DataFrame,
      idCol: String, vecCol: String, numFiles: Int = 4): Unit = {
    val (cm, cids) = collectCents(spark.read.parquet(s"$path/centroids"))
    Layout.writeClustered(assignWith(newDocs, idCol, vecCol, cm, cids),
      s"$path/assigned", Seq(col("cid")), numFiles, mode = "append")
  }

  /** Delete vectors from a persisted IVF index WITHOUT retraining — the
    * removal half of the maintenance contract (takedowns, retention cuts;
    * the complement of [[appendToIvfIndex]]). The assigned table is
    * rewritten cid-clustered through the atomic
    * [[Layout.rewriteClustered]] swap — no tombstones for probes to
    * merge, file skipping preserved. Centroids are untouched, exactly as
    * append leaves them: a delete changes which vectors exist, not the
    * coarse geometry (re-train = rebuild, a different operation). Probing
    * after delete equals probing the original index with the deleted rows
    * filtered out. Unknown ids are no-ops (idempotent).
    */
  /** Batch rows with NO near neighbor (cosine >= `tau`) in the persisted
    * IVF index — the embedding-space analog of
    * [[Dedup.novelAgainstMinhashIndex]], for semantic crawl admission.
    * Probes are cell-bounded (each query checks its `nProbe` nearest
    * cells, cid file skipping via the collected probed set) and the
    * check is a THRESHOLD semi-join, cheaper than a top-k: no ranking
    * aggregation, one exact cosine per candidate. Recall is the IVF
    * probe's — a neighbor assigned outside the probed cells is missed;
    * raise `nProbe` for stricter admission.
    */
  def novelAgainstIvfIndex(index: IvfIndex, batch: DataFrame, idCol: String,
      vecCol: String, tau: Double, nProbe: Int = 4): DataFrame = {
    val probes = batch.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.sketches.top_centroids(
          col("qv"), index.cm, index.cids, nProbe)).as("cid"))
    val probedCids = probes.select("cid").distinct().collect().map(_.getLong(0))
    val dups = index.assigned.filter(col("cid").isin(probedCids: _*))
      .join(broadcast(probes), Seq("cid"))
      .filter(cosine(col("cv"), col("qv")) >= tau)
      .select(col("query_id").as("__graft_dup_id")).distinct()
    batch.join(dups, col(idCol) === col("__graft_dup_id"), "left_anti")
  }

  def deleteFromIvfIndex(ids: DataFrame, idCol: String, path: String,
      numFiles: Int = 32): Unit = {
    val del = ids.select(col(idCol).as("vec_id")).distinct()
    Layout.rewriteClustered(ids.sparkSession, s"$path/assigned",
      Seq(col("cid")), numFiles)(_.join(del, Seq("vec_id"), "left_anti"))
  }

  /** [[deleteFromIvfIndex]] for a plain PQ index: codes rewritten without
    * the deleted ids; codebooks untouched (trained geometry, like
    * centroids).
    */
  def deleteFromPqIndex(ids: DataFrame, idCol: String, path: String,
      numFiles: Int = 8): Unit = {
    val del = ids.select(col(idCol).as("vec_id")).distinct()
    Layout.rewriteClustered(ids.sparkSession, s"$path/codes",
      Seq(col("vec_id")), numFiles)(_.join(del, Seq("vec_id"), "left_anti"))
  }

  /** [[deleteFromIvfIndex]] for the fused IVF-PQ index: cid-clustered
    * codes rewritten; centroids and codebooks untouched.
    */
  def deleteFromIvfPqIndex(ids: DataFrame, idCol: String, path: String,
      numFiles: Int = 32): Unit = {
    val del = ids.select(col(idCol).as("vec_id")).distinct()
    Layout.rewriteClustered(ids.sparkSession, s"$path/codes",
      Seq(col("cid")), numFiles)(_.join(del, Seq("vec_id"), "left_anti"))
  }

  /** Incremental append for a persisted IVF-PQ index: residual-encode the
    * batch with the SAVED centroids and codebooks, append cid-clustered
    * codes. Same maintenance contract as [[appendToIvfIndex]].
    */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      newDocs: DataFrame, idCol: String, vecCol: String,
      numFiles: Int = 4): Unit = {
    val idx = loadIvfPqIndex(spark, path)
    val norm = withUnitVec(newDocs.select(col(idCol).as("id"), col(vecCol)),
        vecCol, "v")
      .select(col("id"), col("v"))
    val assigned = assignWith(norm, "id", "v", idx.cm, idx.cids)
    val codes = assigned
      .withColumn("r", residual(col("cv"), col("cid"), idx.cm, idx.cids))
      .select(col("vec_id"), col("cid"),
        graft.functions.sketches.pq_encode(col("r"), idx.codebooks).as("codes"))
    Layout.writeClustered(codes, s"$path/codes", Seq(col("cid")), numFiles,
      mode = "append")
  }

  /** Probe a persisted IVF-PQ index. The probed cid set is pushed as a
    * scan filter (bounded by queries × nProbe) so it meets the clustered
    * layout's per-file cid ranges and unprobed files are never read.
    */
  def ivfPqTopKWithIndex(index: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    // Normalize the (bounded) query batch ONCE and pin it: the probed-cid
    // collect and the probe tail both consumed a separate derivation of
    // the same unit-vector frame, each re-scanning the query source
    // (guide §2.4 — measured as repeated query-side scan jobs in the
    // q123i per-job profile).
    val uq = Materialize(withUnitVec(queries, vecCol, "__v")
      .select(col(idCol).as("query_id"), col("__v")))
    val probedCids = uq
      .select(explode(graft.functions.sketches.top_centroids(col("__v"),
        index.cm, index.cids, nProbe)).as("cid"))
      .distinct().collect().map(_.getLong(0))
    val codes = index.codes.filter(col("cid").isin(probedCids: _*))
    ivfPqProbeUnit(codes, uq, index.cm, index.cids, index.codebooks, k, nProbe)
  }

  /** Saved-IVF-PQ probe + exact re-rank — [[ivfPqTopK]]'s `refine` tail
    * for the PERSISTED index: residual ADC narrows to k·refine candidates
    * from the stored codes (probed cells only, file-skipped via the
    * clustered layout), then [[refineExact]] rescores the shortlist
    * against the original vectors fetched from primary storage. The
    * two-tier read pattern of a deployed 100 TB vector index.
    */
  def ivfPqTopKWithIndexRefine(index: IvfPqIndex, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, refine: Int = 4): DataFrame = {
    val adc = ivfPqTopKWithIndex(index, queries, idCol, vecCol,
      k * refine, nProbe)
    refineExact(adc, corpus, queries, idCol, vecCol, k)
  }
}
