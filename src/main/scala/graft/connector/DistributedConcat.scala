package graft.connector

import graft.log.{ConcatTask, FileTopicLog, KeyedTask, LogFs, SegmentCodec}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** The distributed byte-mover for segment compaction
  * ([[graft.log.FileTopicLog.compactSegments]]'s `concat` strategy).
  *
  * The round-13 inline auto-compaction ran its merges as a sequential
  * `IOUtils.copyBytes` loop in the DRIVER's commit path — at local[32]
  * invisible, but at the 100 TB design point every appended byte would be
  * re-copied through the driver once per merge generation, and the merge
  * would block the trigger loop for every crossing bucket sequentially.
  * This runner is the fix the round-13 verdict prescribed: merges at or
  * above `minBytes` run as ONE Spark job with one task per merge —
  * executors stream member segments into the merged file (they already
  * write segments in the epoch path, so the filesystem stack is in
  * place) — while the driver does only the commit-log commit. Merges
  * below `minBytes` stay
  * driver-local: a Spark job costs scheduling latency that exceeds the
  * copy for tiny merges.
  *
  * Crash safety is unchanged from the local path: merges land under
  * unique `data-*` names invisible until their put-if-absent commit (and
  * vacuumed if orphaned). A task failure fails the job and the compaction
  * call; nothing partial ever becomes visible.
  *
  * Two task-level disciplines (round 15):
  *
  *   - '''Attempt-unique output.''' A retried task whose original attempt
  *     is still running (zombie), or a speculative duplicate, must not
  *     interleave stream writes into ONE output file — on a posix/HDFS
  *     substrate that can tear it, even after the driver committed it
  *     (the standard output-committer hazard). Each attempt writes its own
  *     `data-*` sibling of the planned name and returns that path; the
  *     driver commits the path Spark's collect returned (one successful
  *     attempt per task) and vacuum sweeps the others, which no commit
  *     names. No file is renamed, so an object store moves each merged
  *     byte once: one PUT per merge, no server-side copy.
  *   - '''Member-vanished tolerance.''' The concat phase holds no bucket
  *     lock, so retention can delete a member mid-copy; that merge is
  *     DROPPED (its output removed, its task absent from the result) and
  *     the commit phase discards the group — one racing truncate must not
  *     fail every other bucket's merge, or via the `autoCompactSegments`
  *     sink path the whole streaming query.
  */
object DistributedConcat {

  /** Default distribution threshold: merges this large stop being driver
    * work. Small enough that a 128 MB `targetBytes` merge always
    * distributes, large enough that a per-epoch trickle never pays job
    * latency.
    */
  val DefaultMinBytes: Long = 16L << 20

  /** A concat strategy for [[graft.log.FileTopicLog.compactSegments]]:
    * tasks >= `minBytes` run as one Spark job (one partition per merge),
    * the rest through `log.localConcat`.
    */
  def runner(spark: SparkSession, log: FileTopicLog,
      minBytes: Long = DefaultMinBytes): Seq[ConcatTask] => Map[String, String] = { tasks =>
    val (big, small) = tasks.partition(_.bytes >= minBytes)
    val local = if (small.nonEmpty) log.localConcat(small) else Map.empty[String, String]
    if (big.isEmpty) local
    else {
      val ser = new graft.log.SerializableHadoopConf(log.fs.getConf)
      local ++ spark.sparkContext
        .makeRDD(big, big.size)
        .setName(s"ripple segment compaction: ${big.size} merges, " +
          s"${big.map(_.bytes).sum >> 20} MB")
        .flatMap { t =>
          val fs = LogFs.get(new HPath(t.out), ser.value)
          val dest = attemptPath(t.out)
          try {
            val o = fs.create(dest, true)
            try t.members.foreach { m =>
              val in = fs.open(new HPath(m))
              try org.apache.hadoop.io.IOUtils.copyBytes(in, o, 1 << 16, false)
              finally in.close()
            } finally o.close()
            Some(t.out -> dest.toString)
          } catch {
            case _: java.io.FileNotFoundException =>
              // member vanished (racing retention, no lock held): drop
              // this merge — the driver's commit phase discards the
              // group; other merges proceed
              try fs.delete(dest, false)
              catch { case _: java.io.IOException => () }
              None
          }
        }
        .collect().toMap
    }
  }

  /** The distributed REWRITE strategy for key-based compaction
    * ([[graft.log.FileTopicLog.compactKeyed]]): one Spark task per bucket
    * rewrite at or above `minBytes`, the rest driver-local. Same
    * disciplines as [[runner]] — attempt-unique output, member-vanished
    * rewrites dropped. Each task returns its product's path together with
    * the rows, (minTs, maxTs) and bytes it wrote, which the driver commits
    * as the product's record without reading the product back. The
    * id→offset map lives in the TASK (executor heap), never the driver —
    * the 100 TB contract: the driver plans and commits metadata, executors
    * own every data byte and every per-key state.
    */
  def keyedRunner(spark: SparkSession, log: FileTopicLog,
      minBytes: Long = DefaultMinBytes)
      : Seq[KeyedTask] => Map[String, SegmentCodec.KeyedRewrite] = { tasks =>
    val (big, small) = tasks.partition(_.bytes >= minBytes)
    val local = if (small.nonEmpty) log.localKeyed(small)
                else Map.empty[String, SegmentCodec.KeyedRewrite]
    if (big.isEmpty) local
    else {
      val ser = new graft.log.SerializableHadoopConf(log.fs.getConf)
      local ++ spark.sparkContext
        .makeRDD(big, big.size)
        .setName(s"ripple keyed compaction: ${big.size} buckets, " +
          s"${big.map(_.bytes).sum >> 20} MB in")
        .flatMap { t =>
          val fs = LogFs.get(new HPath(t.out), ser.value)
          val dest = attemptPath(t.out)
          try {
            Some(t.out -> SegmentCodec.rewriteLatestPerKey(fs,
              t.members.map { case (p, s) => (new HPath(p), s) }, dest,
              t.codec, t.maxKeys, t.tombstoneFloorMs))
          } catch {
            case _: java.io.FileNotFoundException =>
              try fs.delete(dest, false)
              catch { case _: java.io.IOException => () }
              None
          }
        }
        .collect().toMap
    }
  }

  /** This task attempt's own output path for the task planned at `out`:
    * the attempt id goes in as one more name field before the `.log`
    * suffix, so the path keeps the `data-<start>-<count>-…` fields and
    * the sparse flag that readers take from names.
    */
  private def attemptPath(out: String): HPath = {
    val id = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    val suffix = SegmentCodec.SegmentSuffix
    new HPath(s"${out.stripSuffix(suffix)}-a$id$suffix")
  }

  /** The session to distribute through from a driver-side commit path
    * (streaming sink commits run on the stream execution thread, where
    * the ACTIVE session may be unset — fall back to the default).
    */
  def activeSession: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
}
