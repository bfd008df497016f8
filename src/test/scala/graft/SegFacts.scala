package graft

import graft.log.{SegMeta, SegmentCodec}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** A frame file's facts read the slow way — a header walk and a stat:
  * the yardstick the commit records' stats are checked against, and the
  * record a test states for a staged file it wrote by hand.
  */
object SegFacts {
  /** (rows, minTs, maxTs, bytes) of the frame file `p`; an empty file
    * reads as rows 0 with the (MaxValue, MinValue) ts sentinels.
    */
  def of(fs: FileSystem, p: HPath): (Long, Long, Long, Long) = {
    val it = SegmentCodec.readHeaders(fs, p)
    var rows = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    try while (it.hasNext) {
      val ts = it.next()._2
      rows += 1
      mn = math.min(mn, ts)
      mx = math.max(mx, ts)
    } finally it.close()
    (rows, mn, mx, fs.getFileStatus(p).getLen)
  }

  /** The record [[graft.log.FileTopicLog.publishStaged]] takes for the
    * dense staged file `p` published at offset `start`.
    */
  def staged(fs: FileSystem, p: HPath, start: Long): SegMeta = {
    val (rows, mn, mx, bytes) = of(fs, p)
    SegMeta(p.toString, start, rows, mn, mx, bytes, rows)
  }

  /** The commit-message entry a writer task reports for the staged
    * frame file at `path`, read back through `fs`.
    */
  def stagedFile(fs: FileSystem, bucket: String, path: String,
      partitionId: Int): graft.connector.StagedFile = {
    val (rows, mn, mx, bytes) = of(fs, new HPath(path))
    graft.connector.StagedFile(bucket, path, rows, mn, mx, bytes, partitionId)
  }

  /** A record for commit-log tests that never read the data file. */
  def meta(name: String, start: Long, count: Long): SegMeta =
    SegMeta(name, start, count, 0L, 0L, 0L, count)
}
