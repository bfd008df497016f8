package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the document corpus — the lexical counterpart
  * of [[Similarity]]'s vector search (a curation pipeline needs both: ANN
  * for embedding-space lookup, BM25 for keyword lookup into the same
  * corpus, e.g. decontamination probes or targeted corpus audits).
  *
  * Scale shape: the corpus is touched by exactly one tokenize pass, and
  * tokens are cut to the query term set by a broadcast join BEFORE the
  * term-count aggregation — so the corpus-side shuffle carries only
  * query-term postings, not the total token multiset; a 5-term query
  * against a 100 TB corpus ships only that term slice. Per-(query, doc)
  * partial scores reduce through one keyed aggregation and the final
  * top-k through the bounded [[graft.functions.TopKAggregator]]
  * (O(queries × k) shuffle, never a full score-matrix window).
  */
object Retrieval {

  /** BM25 top-k: for each query row, the k highest-scoring documents.
    * Output: (query_id, doc_id, rank 1..k, score) — rank by descending
    * score, ties by ascending doc_id.
    *
    * Scoring is Lucene-shaped BM25: idf = ln(1 + (N − df + 0.5)/(df + 0.5))
    * (always positive), term score = idf · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)), query term frequency ignored (standard for short
    * queries). Per-document scores accumulate as DECIMAL(30,6) — the
    * engine-portable determinism trick (see q89): double addition is not
    * associative, so a float sum would depend on partition merge order;
    * rounding each term score to 6 dp and summing exactly makes the total
    * independent of both partitioning and engine.
    *
    * `N`/`avgdl` are collected driver-side (two scalars). avgdl is exact —
    * token counts are integers, so their double sum has no rounding — and
    * therefore reproducible across engines and partitionings too.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // localCheckpoint (eager) before the stats action: the N/avgdl scalars
    // and the postings pass below would otherwise EACH re-execute the
    // caller's lineage (including the toCores repartition) — this pins the
    // prepared (doc_id, text, dl) frame so the corpus is computed once
    val d = Materialize(Spread.toCores(docs)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .withColumn("dl", TextAnalysis.tokenCount(col("text")).cast("double")))
    val statsRow = d.agg(count(lit(1)), avg(col("dl"))).head()
    val nDocs = statsRow.getLong(0).toDouble
    // empty corpus: no postings can match anyway; 1.0 keeps the (dead)
    // expression tree free of a null avgdl
    val avgdl = if (statsRow.isNullAt(1)) 1.0 else statsRow.getDouble(1)

    // split(trim('')) yields [''] — drop the empty token on both sides so
    // blank queries return no rows instead of ranking blank documents
    val qterms = queries.select(col(qIdCol).cast("long").as("query_id"),
        explode(array_distinct(split(trim(col(qTextCol)), "\\s+"))).as("token"))
      .filter(col("token") =!= "")
    val termSet = qterms.select(col("token")).distinct()

    // the broadcast term filter sits BELOW the term-count aggregation, so
    // the one shuffle in the corpus pass carries only query-term postings
    // — not the corpus's total token multiset. dl is grouped alongside
    // (doc_id, token) — functionally dependent on doc_id, so it rides that
    // shuffle for free instead of costing a corpus-sized doc-length join
    // The query-term postings slice is consumed TWICE downstream (the df
    // derivation — a broadcast side — and the per-doc scoring join). Left
    // lazy, each consumer re-ran this corpus explode + aggregation (the
    // two ~0.7-0.9 s jobs in q96's measured per-job profile). The slice is
    // bounded by query-term postings, not corpus-sized, so pin it once
    // (guide §2.4). The INDEX probe path deliberately does NOT pin: its
    // re-scan is a token-clustered, file-skipped parquet read, and pinning
    // would hide the pushed `token IN`/semi-join from the probe plan — the
    // scan-pushdown contract its tests gate.
    val matched = Materialize(d.select(col("doc_id"), col("dl"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(termSet), Seq("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf")))
    // every later pass reads `matched`; the prepared corpus can go
    Materialize.release(d)
    scoreMatched(matched, qterms, nDocs, avgdl, k, k1, b)
  }

  /** Shared BM25 scoring tail over query-term postings (doc_id, dl,
    * token, tf) — used by the live [[bm25TopK]] pass and the persisted
    * [[bm25TopKWithIndex]] probe, so the two paths cannot drift. df is
    * derived from the postings themselves (one row per (doc, token) ⇒
    * count = document frequency), bounded by the query term set →
    * broadcast.
    */
  private def scoreMatched(matched: DataFrame, qterms: DataFrame,
      nDocs: Double, avgdl: Double, k: Int, k1: Double, b: Double): DataFrame = {
    val spark = matched.sparkSession
    import spark.implicits._
    val dfreq = matched.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))

    val ts = col("idf") * col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
    val perDoc = matched
      .join(broadcast(dfreq), Seq("token"))
      .join(broadcast(qterms), Seq("token"))
      .select(col("query_id"), col("doc_id"), ts.as("ts"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts").cast("decimal(30,6)")).as("score_dec"))

    val agg = new graft.functions.TopKAggregator(k)
    perDoc.select(col("query_id"), col("doc_id").as("vec_id"),
        col("score_dec").cast("double").as("cos"))
      .as[graft.functions.Scored]
      .groupByKey(_.query_id)
      .agg(agg.toColumn.name("hits"))
      .flatMap { case (qid, hits) =>
        hits.zipWithIndex.map { case (h, i) =>
          (qid, h.vec_id, (i + 1).toLong, h.cos)
        }
      }
      .toDF("query_id", "doc_id", "rank", "score")
  }

  // ---- persisted inverted index ---------------------------------------

  /** A persisted BM25 inverted index: the postings table plus the two
    * corpus scalars every probe needs.
    */
  case class Bm25Index(nDocs: Long, avgdl: Double, postings: DataFrame)

  /** Tokenize + count ONCE, persist — the retrieval analog of
    * [[Similarity.saveIvfIndex]]: `<path>/postings` holds one row per
    * (token, doc_id) with tf and the doc length DENORMALIZED into the
    * posting (Lucene's norms-in-posting shape — probes never join a
    * corpus-sized doc-length table), written via [[Layout.writeClustered]]
    * RANGE-CLUSTERED ON TOKEN so a probe's `token IN (...)` predicate
    * meets per-file min/max term ranges and skips every file whose terms
    * can't match — the inverted-index seek, expressed as parquet file
    * skipping. `<path>/stats` carries (n_docs, avgdl). A 100 TB corpus
    * pays the tokenize+count pass once here instead of per query batch.
    */
  /** One batch's (postings, n_docs, sum_dl) triple — build and append
    * both produce exactly this.
    */
  private def bm25BatchParts(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, Long, Long) = {
    val d = Materialize(Spread.toCores(docs)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .withColumn("dl", TextAnalysis.tokenCount(col("text")).cast("double")))
    val statsRow = d.agg(count(lit(1)),
      sum(col("dl").cast("long"))).head()
    val nDocs = statsRow.getLong(0)
    val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val postings = d.select(col("doc_id"), col("dl"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    (postings, nDocs, sumDl)
  }

  /** Stats swap is staged-then-rename so the live `stats` dir is never
    * half-written: the new row lands in `stats__staged`, then one
    * directory rename (atomic on local/HDFS) replaces `stats`. A crash
    * mid-swap leaves `stats__staged` behind; [[loadBm25Index]] finishes
    * the rename on next load. A crash BETWEEN the postings append and
    * this swap leaves stats stale by exactly the interrupted batch —
    * single-writer semantics, recoverable exactly via
    * [[repairBm25Stats]] (postings are the source of truth; the stats
    * pair is derivable).
    */
  private def writeBm25Stats(spark: SparkSession, path: String,
      nDocs: Long, sumDl: Long): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val staged = new Path(s"$path/stats__staged")
    val live = new Path(s"$path/stats")
    val fs = graft.log.LogFs.get(live, spark.sparkContext.hadoopConfiguration)
    Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(staged.toString)
    if (fs.exists(live)) fs.delete(live, true)
    require(fs.rename(staged, live),
      s"writeBm25Stats: rename $staged -> $live failed")
  }

  /** Recompute the exact (n_docs, sum_dl) pair from the postings — dl is
    * denormalized into every posting, so one distinct over (doc_id, dl)
    * replays the integer sums bit-for-bit — and swap the stats in. The
    * recovery documented on [[writeBm25Stats]] for a crash between a
    * postings append and its stats bump.
    */
  def repairBm25Stats(spark: SparkSession, path: String): (Long, Long) = {
    val docs = spark.read.parquet(s"$path/postings")
      .select(col("doc_id"), col("dl")).distinct()
    val r = docs.agg(count(lit(1)), sum(col("dl").cast("long"))).head()
    val nDocs = r.getLong(0)
    val sumDl = if (r.isNullAt(1)) 0L else r.getLong(1)
    writeBm25Stats(spark, path, nDocs, sumDl)
    (nDocs, sumDl)
  }

  def saveBm25Index(docs: DataFrame, idCol: String, textCol: String,
      path: String, numFiles: Int = 32): Unit = {
    val (postings, nDocs, sumDl) = bm25BatchParts(docs, idCol, textCol)
    Layout.writeClustered(postings, s"$path/postings", Seq(col("token")),
      numFiles)
    writeBm25Stats(docs.sparkSession, path, nDocs, sumDl)
  }

  /** Append a document batch WITHOUT rebuilding — the retrieval analog of
    * [[Similarity.appendToIvfIndex]]: tokenize+count only the batch,
    * append its token-clustered postings files, bump the stats by integer
    * addition. The appended index is BIT-IDENTICAL to a full rebuild over
    * old ∪ new: stats store `(n_docs, sum_dl)` — exact integer sums, so
    * the load-time `avgdl = sum_dl / n_docs` cannot drift the way an
    * incrementally re-averaged double would — and tf/df/dl always come
    * from the postings themselves. Batch files cover only the batch's
    * term ranges, so probe-time file skipping keeps working (a few more
    * files per term until the next [[Layout.compact]]).
    *
    * Caller contract (same as the ANN appends): batch ids must be new —
    * re-appending an existing doc_id would double-count its df.
    */
  def appendToBm25Index(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, numFiles: Int = 8): Unit = {
    val spark = newDocs.sparkSession
    val s = spark.read.parquet(s"$path/stats").head()
    val (postings, nDocs, sumDl) = bm25BatchParts(newDocs, idCol, textCol)
    Layout.writeClustered(postings, s"$path/postings", Seq(col("token")),
      numFiles, mode = "append")
    writeBm25Stats(spark, path, s.getLong(0) + nDocs, s.getLong(1) + sumDl)
  }

  /** Delete documents from a persisted index WITHOUT rebuilding — the
    * removal half of the index lifecycle (takedowns, right-to-be-forgotten
    * batches, retention cuts; the complement of [[appendToBm25Index]]).
    * The deleted index is BIT-IDENTICAL to a rebuild over corpus ∖ ids:
    * postings are rewritten through the same token-clustered writer (file
    * skipping preserved — no tombstones to merge at probe time), and the
    * stats decrement by the deleted docs' exact integer (count, Σdl),
    * recovered from the postings themselves (dl is denormalized into
    * every posting — no side lookup).
    *
    * Crash semantics match append's: the postings swap is atomic
    * ([[Layout.rewriteClustered]]); a crash between the swap and the
    * stats write leaves stats stale by exactly this delete, recoverable
    * via [[repairBm25Stats]]. Single writer, like all maintenance passes.
    * Ids absent from the index are no-ops (delete is idempotent).
    */
  def deleteFromBm25Index(ids: DataFrame, idCol: String, path: String,
      numFiles: Int = 32): Unit = {
    val spark = ids.sparkSession
    val del = Materialize(ids.select(col(idCol).cast("long").as("doc_id")).distinct())
    // stats delta BEFORE the rewrite (the rows are about to disappear)
    val r = spark.read.parquet(s"$path/postings")
      .join(del, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)), sum(col("dl").cast("long"))).head()
    val nDel = r.getLong(0)
    val dlDel = if (r.isNullAt(1)) 0L else r.getLong(1)
    Layout.rewriteClustered(spark, s"$path/postings", Seq(col("token")),
      numFiles)(_.join(del, Seq("doc_id"), "left_anti"))
    val s = spark.read.parquet(s"$path/stats").head()
    writeBm25Stats(spark, path, s.getLong(0) - nDel, s.getLong(1) - dlDel)
  }

  def loadBm25Index(spark: SparkSession, path: String): Bm25Index = {
    // finish an interrupted stats swap (crash after delete, before rename)
    locally {
      import org.apache.hadoop.fs.Path
      val staged = new Path(s"$path/stats__staged")
      val live = new Path(s"$path/stats")
      val fs = graft.log.LogFs.get(live, spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(live) && fs.exists(staged)) fs.rename(staged, live)
    }
    val s = spark.read.parquet(s"$path/stats").head()
    // avgdl derived at load time from the exact integer sums; empty
    // corpus → 1.0 keeps the scoring expression free of a null
    val avgdl = if (s.getLong(0) == 0L) 1.0
      else s.getLong(1).toDouble / s.getLong(0).toDouble
    Bm25Index(s.getLong(0), avgdl, spark.read.parquet(s"$path/postings"))
  }

  /** Probe a persisted inverted index with the query batch's distinct
    * terms, then run the exact [[bm25TopK]] scoring tail over the matched
    * slice. Identical output to the live pass by construction (same
    * tf/df/dl values, same DECIMAL accumulation).
    *
    * Two probe shapes, picked by the DISTINCT-term count (measured with a
    * `limit`-bounded collect, so the driver never materializes an unbounded
    * term set):
    *
    *   - '''Interactive batches''' (≤ `maxLiteralTerms` distinct terms):
    *     push `token IN (literals)` INTO the postings scan — the literal
    *     predicate meets the token-clustered layout's per-file ranges, so
    *     unmatched files are never read.
    *   - '''Offline eval batches''' (a 10^4..10^6-query sweep): literal
    *     lists past ~10^4 values blow up plan size and defeat the
    *     range-based file skipping anyway, so the terms STAY DISTRIBUTED:
    *     a broadcast LEFT SEMI join of the distinct-terms frame against
    *     the postings (distinct tokens are vocabulary-bounded — Heaps'
    *     law, not query-count-bounded — so the broadcast stays small even
    *     for huge batches). Dynamic partition/file pruning can still
    *     narrow the scan from the broadcast side; nothing is driver-sized.
    */
  def bm25TopKWithIndex(index: Bm25Index, queries: DataFrame,
      qIdCol: String, qTextCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxLiteralTerms: Int = 1024): DataFrame = {
    val qterms = queries.select(col(qIdCol).cast("long").as("query_id"),
        explode(array_distinct(split(trim(col(qTextCol)), "\\s+"))).as("token"))
      .filter(col("token") =!= "")
    val termsDf = qterms.select(col("token")).distinct()
    val bounded = termsDf.limit(maxLiteralTerms + 1).collect()
    val matched =
      if (bounded.length <= maxLiteralTerms)
        index.postings.filter(col("token").isin(bounded.map(_.getString(0)).toSeq: _*))
      else
        index.postings.join(broadcast(termsDf), Seq("token"), "left_semi")
    scoreMatched(matched, qterms, index.nDocs.toDouble, index.avgdl, k, k1, b)
  }

  /** Binary-relevance ranking evaluation — the QA harness a retrieval
    * pipeline runs after every index or scorer change: recall@k, MRR and
    * nDCG@k of a ranked list against a relevance set.
    *
    * Inputs: `ranked` (query_id, doc_id, rank) — [[bm25TopK]] /
    * [[rrfFuse]] / ANN output — and `relevant` (query_id, doc_id), the
    * ground-truth pairs. Queries with no relevant docs drop out (every
    * metric would be 0/0).
    *
    * Determinism across engines (the q96 playbook): each DCG term
    * 1/(ln(rank+1)/ln(2)) is cast to DECIMAL(20,6) before summing —
    * bounded terms, exact order-independent accumulation — and IDCG
    * reuses the same term table over ideal ranks 1..min(|rel|, k), so
    * nDCG is a ratio of two decimals cast to double once. recall and MRR
    * are single integer divisions.
    *
    * Scale shape: `ranked` is already a top-k list (O(queries × k));
    * `relevant` joins it on (query_id, doc_id) — two bounded shuffles,
    * nothing corpus-sized.
    */
  def evalBinaryRetrieval(ranked: DataFrame, relevant: DataFrame,
      k: Int): DataFrame = {
    val dcgTerm = (r: org.apache.spark.sql.Column) =>
      (lit(1.0) / (log(r + lit(1.0)) / log(lit(2.0)))).cast("decimal(20,6)")
    val rel = relevant.select(col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"))
    val base = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val ideal = rel
      .withColumn("irank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("doc_id"))))
      .filter(col("irank") <= k)
      .groupBy(col("query_id"))
      .agg(sum(dcgTerm(col("irank").cast("double"))).as("idcg_dec"))
    val hits = ranked.filter(col("rank") <= k)
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank"))
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"), min(col("rank")).as("first_rank"),
        sum(dcgTerm(col("rank").cast("double"))).as("dcg_dec"))
    base.join(ideal, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_rel").cast("double")).as("recall"),
        coalesce(lit(1.0) / col("first_rank").cast("double"), lit(0.0))
          .as("mrr"),
        coalesce(col("dcg_dec").cast("double") /
          col("idcg_dec").cast("double"), lit(0.0)).as("ndcg"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of a lexical and a dense
    * ranked list — the standard RAG / decontamination-probe combiner
    * (Cormack et al., SIGIR'09: score = Σ 1/(K + rank), K = 60). Each
    * input is (query_id, doc_id, rank) — typically [[bm25TopK]] and
    * [[graft.ops.Similarity.bruteForceTopK]] / `ivfTopK` output. A doc
    * present in only one list contributes only that list's term.
    *
    * Determinism across engines: the fused score is a sum of EXACTLY two
    * IEEE doubles, each `1.0 / (K + rank)` — correctly-rounded division of
    * identical inputs, and a two-term add has no association order to vary
    * with partitioning. Final ranks tie-break by ascending doc_id, so the
    * whole output is hash-comparable (unlike a float sum over N partials).
    *
    * Scale shape: inputs are top-k lists, so each carries O(queries × k)
    * rows; the full-outer join and the per-query window both run on that
    * bounded candidate pool (≤ 2k rows per query), never on the corpus.
    * One shuffle on (query_id, doc_id), one on query_id.
    *
    * Output: (query_id, doc_id, lex_rank, vec_rank, rrf_score,
    * fused_rank 1..k); lex_rank/vec_rank are null when the doc is absent
    * from that list.
    */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int,
      rrfK: Int = 60): DataFrame = {
    val l = lex.select(col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      col("rank").cast("long").as("lex_rank"))
    val v = dense.select(col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      col("rank").cast("long").as("vec_rank"))
    val score =
      coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    l.join(v, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", score)
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
  }
}
