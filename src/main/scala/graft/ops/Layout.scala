package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout management — the write-side half of scan performance.
  * At 100 TB the fastest filter is the one that never reads the file:
  * parquet footers carry per-column min/max, and Spark skips whole
  * row-groups/files whose range can't match a pushed-down predicate.
  * That only works if the data is CLUSTERED so each file covers a narrow
  * range of the filter column — an unsorted corpus has every file
  * spanning the full domain and nothing is ever skipped.
  */
object Layout {

  /** Write `df` as parquet range-clustered on `clusterCols`: rows are
    * range-partitioned (each output file covers a contiguous, mostly
    * disjoint slice of the cluster-key domain) and sorted within each
    * file (so row-group min/max inside a file are tight too).
    *
    * `numFiles` sizes the output explicitly — at scale, pick
    * corpus_size / target_file_size (128-512 MB files are the sweet spot;
    * thousands of tiny files push the bottleneck to the driver's listing).
    *
    * One range-exchange (sampling pass + shuffle) buys every future scan
    * min/max skipping — the batch rendering of an index build.
    */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[Column],
      numFiles: Int, mode: String = "overwrite"): Unit =
    df.repartitionByRange(numFiles, clusterCols: _*)
      .sortWithinPartitions(clusterCols: _*)
      .write.mode(mode).parquet(path)

  /** Z-order (Morton) value of up to 4 numeric columns: each column is
    * affinely quantized to `bits` bits over its observed [min, max], and
    * the quantized values' bits interleave into one long. Sorting by this
    * value clusters rows that are close in EVERY dimension, so parquet
    * min/max skipping works for predicates on ANY subset of the z-columns
    * — single-column range clustering ([[writeClustered]]) only ever
    * skips on its leading column.
    *
    * `ranges` (per-column observed min/max) comes from one cheap agg the
    * caller runs once per write ([[writeZOrdered]]); rows outside the
    * given range clamp to the boundary bucket. The whole z-value is a
    * per-row expression tree of shifts/ors — codegen'd, zero shuffles.
    */
  def zValue(cols: Seq[Column], ranges: Seq[(Double, Double)], bits: Int): Column = {
    require(cols.nonEmpty && cols.size <= 4, "z-order supports 1-4 columns")
    require(cols.size == ranges.size, "one (min,max) per column")
    require(bits >= 1 && bits * cols.size <= 62, s"bits*cols must fit a long")
    val maxQ = (1L << bits) - 1
    // quantize each column to [0, 2^bits)
    val qs = cols.zip(ranges).map { case (c, (mn, mx)) =>
      val span = if (mx > mn) mx - mn else 1.0
      least(greatest(
        floor((c.cast("double") - mn) / span * maxQ).cast("long"), lit(0L)),
        lit(maxQ))
    }
    // interleave: output bit (b*ncols + i) = bit b of column i
    val ncols = cols.size
    (0 until bits).flatMap { b =>
      qs.zipWithIndex.map { case (q, i) =>
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * ncols + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` z-ordered on `zCols`: one agg pass for per-column ranges,
    * then range-partition + sort by the interleaved z-value. Buys min/max
    * skipping for multi-dimensional range predicates — the lakehouse
    * OPTIMIZE ZORDER operation as a plain write.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[Column],
      numFiles: Int, bits: Int = 15): Unit = {
    val aggs = zCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(c.cast("double")).as(s"mn$i"), max(c.cast("double")).as(s"mx$i"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // empty input / all-null z-column: no ranges to quantize against —
    // write the (empty or degenerate) data unclustered rather than NPE
    if (zCols.indices.exists(i => r.isNullAt(2 * i) || r.isNullAt(2 * i + 1))) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val ranges = zCols.indices.map(i => (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
    val z = zValue(zCols, ranges, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z") // parquet keeps the physical row order of the write
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` as a BUCKETED catalog table: rows are hash-partitioned
    * into `numBuckets` buckets on `bucketCol` at write time, and the
    * bucketing is recorded in the catalog — so any later equi-join or
    * aggregation keyed on `bucketCol` between tables bucketed the same way
    * runs WITHOUT a shuffle on either side (the data is already
    * co-located by key). At 100 TB this is the difference between paying
    * the fact-table exchange on every query and paying it once at ingest:
    * the canonical layout for a fact table joined on the same key all day.
    *
    * Buckets are additionally sorted on `bucketCol` so the sort-merge
    * join's per-bucket sort is already satisfied on disk. `path` makes the
    * table external (data under your layout root, not the warehouse dir).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Compact a parquet directory in place: read everything, rewrite as
    * `numFiles` range-clustered files, atomically swap via rename — the
    * lakehouse OPTIMIZE operation. The maintenance pass that pairs with
    * incremental appends ([[graft.ops.Similarity.appendToIvfIndex]] and
    * streaming sinks produce a few small files per batch; hundreds of
    * appends later the directory is a small-file swarm whose listing and
    * per-file overhead dominate scans, and whose per-file key ranges
    * overlap so min/max skipping decays). Compaction restores both: few
    * right-sized files, disjoint ranges.
    *
    * The swap is rename-based (write to `<path>.compact.tmp` — a SIBLING,
    * never inside the directory being swapped — move old out, move new
    * in) and self-healing: a crash between the two renames leaves the
    * data at `<path>.compact.old`, and the next call (or a failed second
    * rename) restores it before proceeding. Safe against a concurrent
    * READER only on a filesystem with atomic directory rename and only
    * between its file listings — the same contract `mode("overwrite")`
    * gives; coordinate writers externally.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      clusterCols: Seq[Column], numFiles: Int): Unit =
    rewriteClustered(spark, path, clusterCols, numFiles)(identity)

  /** In-place clustered rewrite of a parquet directory through `transform`
    * (compact = identity; index DELETE = an anti-join filter), with the
    * staged-then-rename swap so the live directory is never half-written:
    * write to `<p>.compact.tmp`, move the original to `<p>.compact.old`,
    * rename tmp into place, drop old. A crash between the swap renames
    * self-heals on the next call (old is restored before rewriting).
    * Single-writer semantics, like every maintenance pass here.
    */
  def rewriteClustered(spark: org.apache.spark.sql.SparkSession, path: String,
      clusterCols: Seq[Column], numFiles: Int)(
      transform: DataFrame => DataFrame): Unit = {
    val p = path.replaceAll("/+$", "") // trailing slash would nest tmp INSIDE
    val fs = graft.log.LogFs.get(new org.apache.hadoop.fs.Path(p),
      spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val (tmp, old) = (hp(p + ".compact.tmp"), hp(p + ".compact.old"))
    // self-heal a crash that died between the swap renames
    if (!fs.exists(hp(p)) && fs.exists(old))
      require(fs.rename(old, hp(p)), s"could not restore $old to $p")
    fs.delete(tmp, true) // stale output of a crashed write
    writeClustered(transform(spark.read.parquet(p)), tmp.toString,
      clusterCols, numFiles)
    fs.delete(old, true)
    require(fs.rename(hp(p), old), s"could not move $p aside")
    if (!fs.rename(tmp, hp(p))) {
      fs.rename(old, hp(p)) // put the original back before failing
      throw new IllegalStateException(s"could not move $tmp into place")
    }
    fs.delete(old, true)
  }

  /** Per-file (min, max) ranges of `keyCol` for a parquet directory —
    * the observable the clustering exists to narrow. Used by tests to
    * assert disjointness and by operators to estimate skipping potential.
    */
  def fileRanges(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
        count(lit(1)).as("rows"))
}
