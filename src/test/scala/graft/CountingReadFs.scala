package graft

import org.apache.hadoop.fs.{Path => HPath}

/** Test filesystem that COUNTS data-file opens and stats — the
  * instrumentation for "the streaming trigger plane reads zero frames"
  * and "planners open and stat no data file" (metrics, admission,
  * statistics and planning must touch the commit log only; frame IO
  * belongs to row consumption alone). Counts `open()` and
  * `getFileStatus()` calls on segment data files (`data-*`) and records
  * the names touched; metadata files pass through uncounted. Register
  * under the `cntfs` scheme via `fs.cntfs.impl`.
  */
class CountingReadFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")

  override def open(f: HPath, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val n = f.getName
    if (n.startsWith("data-")) {
      CountingReadFs.dataOpens.incrementAndGet()
      CountingReadFs.touched.add(n)
    }
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: HPath): org.apache.hadoop.fs.FileStatus = {
    val n = f.getName
    if (n.startsWith("data-")) {
      CountingReadFs.dataStats.incrementAndGet()
      CountingReadFs.touched.add(n)
    }
    super.getFileStatus(f)
  }
}

object CountingReadFs {
  /** Opens of segment data files since the last reset. */
  val dataOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `getFileStatus` calls on segment data files since the last reset. */
  val dataStats = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Names of the data files opened or statted since the last reset. */
  val touched: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def reset(): Unit = { dataOpens.set(0L); dataStats.set(0L); touched.clear() }
}
