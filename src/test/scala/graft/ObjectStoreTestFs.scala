package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption}

/** Test filesystem with OBJECT-STORE semantics over local disk — the rig
  * the commit log's conditional-PUT arm is certified against (the MiniDFSCluster
  * trick of [[StrictHdfsTestFs]], aimed at S3 instead of HDFS):
  *
  *   - '''PUT visibility at close''': `create` buffers to a hidden inflight
  *     file; the object materializes atomically at `close()` or not at all.
  *     A crash mid-write never leaves a torn visible object — exactly the
  *     S3/GCS model (and exactly NOT the local/HDFS model, where a torn
  *     file is visible immediately).
  *   - '''Conditional PUT''' (`create(path, overwrite = false)`): the
  *     exclusivity check happens at CLOSE, as S3 `If-None-Match` does, and
  *     is genuinely atomic ACROSS JVMs (hard-link publish of the inflight
  *     file — fail-if-exists at the filesystem layer), so the 2-JVM race
  *     probe exercises the real one-winner-per-version property.
  *   - '''Rename is copy+delete''': non-atomic, refuses an existing
  *     destination (the S3A shape). Nothing in the log may depend on it
  *     for atomicity; renames of `data-` objects are counted.
  *   - No hard-link path is reachable from the log itself (the scheme is
  *     non-`file`, so `LogFs.putIfAbsent`'s local arm never runs).
  */
object ObjectStoreTestFs {
  /** Segment-PUT instrumentation for the suite: counts every `create` of a
    * `data-` object, so tests can assert contention is metadata-only (one
    * data PUT per logical append, however many commit races were lost).
    */
  val dataPuts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Renames of a `data-` object: each is a server-side COPY of the whole
    * object plus a DELETE on a real store.
    */
  val dataCopies = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ObjectStoreTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "ostest"
  override def getUri: java.net.URI = java.net.URI.create("ostest:///")

  // RawLocalFileSystem overrides BOTH create chains (with and without
  // FsPermission); route the permissionless one here too, or
  // FileSystem.create(path, overwrite) silently falls back to RawLocal's
  // check-then-act in-place write and the conditional-PUT model is void.
  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    create(f, null.asInstanceOf[FsPermission], overwrite, bufferSize,
      replication, blockSize, progress)

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (f.getName.startsWith("data-")) ObjectStoreTestFs.dataPuts.incrementAndGet()
    val target = pathToFile(f)
    val parent = target.getParentFile
    if (parent != null && !parent.isDirectory && !parent.mkdirs() && !parent.isDirectory)
      throw new java.io.IOException(s"mkdirs failed for $parent")
    val inflight = new File(parent, s".inflight-${java.util.UUID.randomUUID()}")
    val raw = new BufferedOutputStream(new FileOutputStream(inflight), bufferSize)
    val stream: OutputStream = new OutputStream {
      private var closed = false
      override def write(b: Int): Unit = raw.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = raw.write(b, off, len)
      override def flush(): Unit = raw.flush()
      override def close(): Unit = {
        if (closed) return
        closed = true
        raw.close()
        try {
          if (overwrite)
            Files.move(inflight.toPath, target.toPath,
              StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target.toPath, inflight.toPath) // atomic If-None-Match
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                  s"conditional PUT refused: $f already exists")
            }
        } finally Files.deleteIfExists(inflight.toPath)
      }
    }
    new FSDataOutputStream(stream, statistics)
  }

  override def rename(src: HPath, dst: HPath): Boolean = {
    val s = pathToFile(src)
    val d = pathToFile(dst)
    if (!s.exists()) return false
    if (s.isDirectory)
      throw new java.io.IOException(
        s"ObjectStoreTestFs refuses directory rename ($src): prefix copies " +
          "are a per-object loop on a real store and nothing in the log " +
          "protocol may rely on them")
    if (d.exists()) return false // S3A: rename refuses an existing file target
    if (s.getName.startsWith("data-")) ObjectStoreTestFs.dataCopies.incrementAndGet()
    val parent = d.getParentFile
    if (parent != null && !parent.isDirectory && !parent.mkdirs() && !parent.isDirectory)
      return false
    // copy THEN delete — deliberately non-atomic (a crash between the two
    // leaves both objects, which the log must tolerate)
    Files.copy(s.toPath, d.toPath)
    s.delete()
  }
}

/** Local FS that REFUSES to delete any path whose string contains
  * "nodelete" (returns false, the object-store shape for a refused
  * recursive delete) — the rig for the loud-failure contracts on
  * [[graft.api.Ripple.deleteTopic]] (a refused delete must not report
  * success) and [[graft.connector.ConsumerOffsets.dropCheckpoint]] (a
  * surviving checkpoint would silently outrank a reset cursor).
  */
class RefusedDeleteTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "rdtest"
  override def getUri: java.net.URI = java.net.URI.create("rdtest:///")
  override def delete(p: HPath, recursive: Boolean): Boolean =
    if (p.toString.contains("nodelete")) false
    else super.delete(p, recursive)
}

/** Local FS whose create-exclusive failures are UNTYPED `IOException`s —
  * the store-specific exception shape [[graft.log.CommitLog]]'s
  * last-resort classifier must handle correctly: a genuine already-exists
  * message with the target present is a refusal, while a fault whose
  * message merely CONTAINS "exist" ("Parent path does not exist") must
  * rethrow as the storage fault it is. `mkdirs` on a directory named
  * `.nomkdir` silently does nothing, so the parent-missing fault is
  * reachable through CommitLog (which always mkdirs its own dir first).
  */
class UntypedFaultTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "untypedfault"
  override def getUri: java.net.URI = java.net.URI.create("untypedfault:///")
  override def mkdirs(p: HPath): Boolean =
    if (p.getName == ".nomkdir") true else super.mkdirs(p)
  override def mkdirs(p: HPath, permission: FsPermission): Boolean =
    if (p.getName == ".nomkdir") true else super.mkdirs(p, permission)
  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    create(f, null.asInstanceOf[FsPermission], overwrite, bufferSize,
      replication, blockSize, progress)
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) {
      val t = pathToFile(f)
      if (t.exists())
        throw new java.io.IOException(s"$f already exists")
      if (t.getParentFile == null || !t.getParentFile.isDirectory)
        throw new java.io.IOException(s"Parent path does not exist: ${f.getParent}")
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
