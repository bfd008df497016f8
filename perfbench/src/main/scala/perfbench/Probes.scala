package perfbench

import scala.collection.mutable

import graft.api.Ripple
import graft.log.SegmentCodec
import graft.model.{Payload, TopicBucket}
import graft.ops.{Curate, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import Workloads._

/** Layer probes for the traced run: each times one layer's public entry
  * point over this workload's own records, pinned first so only that layer
  * is timed. Every figure is keyed by its per-layer metric name.
  */
object Probes {

  private def rate(rows: Long, body: => Unit): Double = rows / timed(body)._2

  private def best[A](n: Int)(body: => A): Double =
    (0 until n).map(_ => timed(body)._2 * 1000).min

  /** Pack, write, lift, scan and typed read at the session's parallelism. */
  def dataPlane(ctx: Ctx, in: ProbeInput, tag: String): Map[String, Double] = {
    val spark = ctx.spark
    val frame = in.frame(spark).cache()
    val rows = frame.count()
    val topic = s"probe_$tag"
    Ripple.createTopic(ctx.root, topic, Buckets, frame.schema)
    val out = mutable.Map.empty[String, Double]
    ctx.span("api", "pack")(drain(Ripple.pack(frame, col(in.idCol)))) // warm the code path once
    out("api.pack.rows_per_s") = rate(rows, ctx.span("api", "pack")(drain(Ripple.pack(frame, col(in.idCol)))))
    val packed = Ripple.pack(frame, col(in.idCol)).cache()
    packed.count()
    out("connector.write.rows_per_s") = rate(rows,
      ctx.span("connector", "write")(Ripple.write(packed, ctx.root, topic, Buckets)))
    val envelope = Ripple.read(spark, ctx.root, topic).cache()
    envelope.count()
    out("api.lift.rows_per_s") = rate(rows,
      ctx.span("api", "lift")(drain(Ripple.lift(envelope, frame.schema))))
    out("connector.scan.rows_per_s") = rate(rows,
      ctx.span("connector", "scan")(drain(Ripple.read(spark, ctx.root, topic))))
    out("connector.read_lifted.rows_per_s") = rate(rows,
      ctx.span("connector", "read_lifted")(drain(Ripple.readLifted(spark, ctx.root, topic))))
    Seq(frame, packed, envelope).foreach(_.unpersist())
    out.toMap
  }

  /** Frame encode and decode on one thread, and small appends. */
  def logCodec(ctx: Ctx, in: ProbeInput): Map[String, Double] = {
    val spark = ctx.spark
    val rows: Seq[(Payload, Long)] = Ripple.pack(in.frame(spark), col(in.idCol)).limit(200000)
      .collect().toSeq.map(r => (Payload(r.getInt(0), r.getAs[Array[Byte]](1)), Gen.T0))
    val lg = topicLog(ctx)
    val file = new org.apache.hadoop.fs.Path(s"${ctx.root}/_probe_segment")
    ctx.span("log", "frame_encode")(SegmentCodec.write(lg.fs, file, rows)) // warm
    val enc = rate(rows.size, ctx.span("log", "frame_encode")(SegmentCodec.write(lg.fs, file, rows)))
    val dec = rate(rows.size, ctx.span("log", "frame_decode") {
      val it = SegmentCodec.read(lg.fs, file)
      try it.foreach(_ => ()) finally it.close()
    })
    val tb = TopicBucket(s"probe_append", "b0000")
    Ripple.createTopic(ctx.root, tb.topic, 1)
    val batch = rows.take(20).map(_._1)
    val appendMs = (0 until 100).map(_ => timed(ctx.span("log", "append")(lg.append(tb, batch)))._2 * 1000)
    Map("log.frame_encode.rows_per_s" -> enc, "log.frame_decode.rows_per_s" -> dec,
      "log.append_ms_p50" -> Stats.pct(appendMs, 50), "log.append_ms_p99" -> Stats.pct(appendMs, 99))
  }

  /** Metadata calls and scan planning against the workload's topic. */
  def logMeta(ctx: Ctx, in: ProbeInput): Map[String, Double] = {
    val spark = ctx.spark
    val lg = topicLog(ctx)
    val tbs = lg.buckets(in.topic)
    val segs = tbs.map(tb => lg.segments(tb).size).sum
    val disk = du(topicDir(ctx, in.topic)).toDouble
    val span = Ripple.read(spark, ctx.root, in.topic).agg(min("ts"), max("ts")).head()
    val midTs = (span.getTimestamp(0).getTime + span.getTimestamp(1).getTime) / 2
    val full = Ripple.read(spark, ctx.root, in.topic).rdd.getNumPartitions
    val ranged = Ripple.readTimestamp(spark, ctx.root, in.topic, midTs).rdd.getNumPartitions
    Map(
      "log.segments" -> segs.toDouble,
      "log.segments_list_ms" -> best(5)(ctx.span("log", "segments")(tbs.foreach(lg.segments))),
      "log.end_offsets_ms" -> best(5)(ctx.span("log", "end_offsets")(Ripple.endOffsets(ctx.root, in.topic))),
      "log.offset_for_ts_ms" -> best(5)(ctx.span("log", "offset_for_ts")(
        Ripple.offsetsForTimestamp(ctx.root, in.topic, midTs))),
      "log.bytes_on_disk" -> disk,
      "log.compress_ratio" -> (if (in.rawBytes > 0) in.rawBytes / disk else 1.0),
      "connector.plan_ms" -> best(3)(ctx.span("connector", "plan")(
        Ripple.read(spark, ctx.root, in.topic).queryExecution.executedPlan)),
      "connector.input_partitions" -> full.toDouble,
      "connector.partitions_pruned_frac" -> (if (full > 0) 1.0 - ranged.toDouble / full else 0.0))
  }

  /** A capped AvailableNow drain of the workload's topic into a windowed
    * count, for workloads whose own measurement runs no stream.
    */
  def stream(ctx: Ctx, in: ProbeInput): Map[String, Double] = ctx.span("streaming", "drain_probe") {
    val q = Ripple.readStream(ctx.spark, ctx.root, in.topic, math.max(1L, in.rows / 8))
      .withColumn("value", length(col("data")).cast("long"))
      .transform(df => graft.streaming.TopicStreams.windowedCounts(df, "ts", "3650 days", "1 hour"))
      .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
      .foreachBatch(((df: DataFrame, _: Long) => { df.collect(); () }): (DataFrame, Long) => Unit)
      .option("checkpointLocation", s"${ctx.root}/_ckpt_probe_${in.topic}")
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    streamLayer(q.recentProgress.toSeq)
  }

  /** The dedup kernels and one curation pass over the workload's text. */
  def ops(ctx: Ctx, in: ProbeInput): Map[String, Double] = {
    val src = in.frame(ctx.spark)
    val text = in.textCol.map(col).getOrElse(to_json(struct(src.columns.toIndexedSeq.map(col): _*)))
    val docs = src.select(monotonically_increasing_id().as("pid"), text.as("ptext"))
      .limit(20000).cache()
    val n = docs.count()
    val sigRate = rate(n, ctx.span("ops", "minhash_signature")(
      drain(docs.select(col("pid"), Dedup.minhashSignature(col("ptext")).as("sig")))))
    val (pairs, tNear) = timed(ctx.span("ops", "near_dups") {
      val p = Dedup.minhashNearDups(docs, "pid", "ptext", threshold = 0.8).cache(); p.count(); p
    })
    val tClusters = timed(ctx.span("ops", "dup_clusters")(Dedup.dupClusters(pairs).count()))._2
    val tExact = timed(ctx.span("ops", "exact_dedup")(Dedup.exactDedup(docs, "pid", "ptext").count()))._2
    val tCurate = timed(ctx.span("ops", "curate")(
      Curate.run(docs.withColumn("psrc", lit("s")), "pid", "ptext", "psrc", CurateDocs.cfg).docs.count()))._2
    pairs.unpersist(); docs.unpersist()
    Map("ops.minhash_signature.rows_per_s" -> sigRate, "ops.near_dups_s" -> tNear,
      "ops.dup_clusters_s" -> tClusters, "ops.exact_dedup_s" -> tExact, "ops.curate_s" -> tCurate)
  }
}
