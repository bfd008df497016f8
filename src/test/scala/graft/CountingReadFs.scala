package graft

import org.apache.hadoop.fs.{Path => HPath}

/** Test filesystem that COUNTS data-file opens — the instrumentation for
  * "the streaming trigger plane reads zero frames" (metrics + admission +
  * planning must touch the commit log/`.tsidx` only; frame IO belongs to row
  * consumption alone). Counts `open()` calls on segment data files
  * (`data-*`); metadata files pass through uncounted. Register
  * under the `cntfs` scheme via `fs.cntfs.impl`.
  */
class CountingReadFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")

  override def open(f: HPath, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val n = f.getName
    if (n.startsWith("data-"))
      CountingReadFs.dataOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingReadFs {
  /** Opens of segment data files since the last reset. */
  val dataOpens = new java.util.concurrent.atomic.AtomicLong(0L)
}
