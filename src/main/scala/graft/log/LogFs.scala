package graft.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import java.io.{ObjectInputStream, ObjectOutputStream}
import scala.collection.concurrent.TrieMap

/** Java-serializable wrapper for a Hadoop [[Configuration]] — the standard
  * Hadoop pattern (`Configuration` implements `Writable`, not
  * `Serializable`) that lets connector conf objects carry the cluster's
  * filesystem configuration from the driver to executor-side readers and
  * writers.
  */
final class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = {
    if (conf == null) conf = new Configuration() // defensive: post-deser default
    conf
  }
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** The raw local filesystem under the log's `file:` instance: Hadoop's,
  * except that `setPermission` is one `chmod(2)` through `java.nio`.
  * Without `libhadoop` (the Spark distribution ships none), Hadoop's
  * `setPermission` starts a `chmod` child process, and `create` and
  * `mkdirs` call it for every new file and directory — about 8 ms of
  * process start each on a 4-vCPU host. The mode written is the one
  * Hadoop would write; a mode that `PosixFilePermission` cannot express
  * (the sticky bit) or a filesystem without a POSIX view keeps Hadoop's
  * own path.
  */
private[graft] final class SpawnFreeLocalFs extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        SpawnFreeLocalFs.posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(s"$p: ${e.getMessage}")
      }
  }
}

private[graft] object SpawnFreeLocalFs {
  import java.nio.file.attribute.PosixFilePermission

  /** The nine `rwxrwxrwx` bits of `mode` as a permission set
    * (`PosixFilePermission` declares them from owner-read down).
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}

/** Filesystem access for the topic-log storage plane.
  *
  * Every path the log touches (segments, commit logs, locks, staging,
  * commit markers, consumer cursors) goes through
  * `org.apache.hadoop.fs.FileSystem`, so the log `root` may be any Hadoop
  * filesystem URI — `file:/...` (or a bare POSIX path), `hdfs://nn/...`,
  * or an object store the deployment has a connector for. This is what
  * makes the "the filesystem IS the bootstrap server" multi-tenant mapping
  * of the reference's gRPC bootstrap plane
  * (`proto/bootstrap_service.proto:7-11`, `server/exposed/create.go:15-27`
  * in ripple-mq/ripple-server) actually runnable off a shared cluster
  * filesystem instead of only a shared POSIX mount.
  *
  * Instances are private (NOT the global Hadoop FS cache) so that
  * disabling checksums for the log's own I/O — segment frames carry
  * length-prefixed records and segments become live only through
  * whole-file commits, so the local-FS `.crc` side files would only double
  * the metadata ops — cannot leak into Spark's shared `FileSystem`
  * instances. One instance per (scheme, authority) for the JVM's lifetime,
  * mirroring Hadoop's own cache discipline; see [[get]].
  */
object LogFs {
  private val cache = TrieMap.empty[String, FileSystem]

  /** The active session's Hadoop configuration (driver side), or a vanilla
    * one when no session exists (bare tools/tests).
    */
  def activeHadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def activeSerializable: SerializableHadoopConf =
    new SerializableHadoopConf(activeHadoopConf)

  /** One BROADCAST of the active session's Hadoop configuration, cached
    * per application: a `SerializableHadoopConf` embedded directly in a
    * task closure re-parses the full property set (`readFields`, ~ms) on
    * EVERY task deserialization — measurable against the streaming
    * connector's per-epoch budget — while a broadcast value materializes
    * once per executor and is a handle afterwards (the same reason Spark
    * ships its own hadoopConf broadcast to file-source readers).
    */
  @volatile private var cachedBc: (String, org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]) = _
  def activeBroadcast: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val cur = cachedBc
    if (cur != null && cur._1 == sc.applicationId && !sc.isStopped) cur._2
    else synchronized {
      val again = cachedBc
      if (again != null && again._1 == sc.applicationId && !sc.isStopped) again._2
      else {
        val b = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
        cachedBc = (sc.applicationId, b)
        b
      }
    }
  }

  // First-conf-wins detection: the cache ignores the Configuration on later
  // calls, so a SECOND session in one JVM with different settings for the
  // same scheme/authority silently shares the first instance. Fingerprint
  // every distinct Configuration OBJECT once (weak identity memo — the
  // same broadcast conf arrives at every executor task) and warn loudly the
  // first time a materially different conf hits a cached key. Only the
  // keys a Hadoop filesystem reads count (`fs.s3a.*`, `dfs.*`,
  // `hadoop.security.*`, `ipc.*` timeouts, `io.file.buffer.size`): the
  // confs the streaming checkpoint manager receives also carry the session's
  // SQL conf, the warehouse location and the query's run id.
  private val cacheFp = TrieMap.empty[String, Int]
  private val warnedKeys = TrieMap.empty[String, Unit]
  private val fpMemo = new java.util.WeakHashMap[Configuration, Integer]()
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val FsKeyPrefixes = Seq("fs.", "dfs.", "hadoop.", "ipc.", "io.")

  private def fingerprint(conf: Configuration): Int = {
    val memo = fpMemo.synchronized(fpMemo.get(conf))
    if (memo != null) return memo.intValue()
    var h = 0
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (FsKeyPrefixes.exists(e.getKey.startsWith))
        h ^= (e.getKey.hashCode * 31) ^ e.getValue.hashCode
    }
    fpMemo.synchronized(fpMemo.put(conf, Integer.valueOf(h)))
    h
  }

  /** The one log configuration key: schemes whose `rename` is NOT atomic
    * (object stores that rename by copy+delete). It picks the
    * [[putIfAbsent]] arm and the overwrite style of [[FileTopicLog]]'s
    * metadata writes; every scheme runs the same commit protocol.
    */
  val NonAtomicRenameSchemesKey = "graft.log.nonAtomicRenameSchemes"
  private val DefaultNonAtomicRenameSchemes = Seq("s3", "s3a", "s3n", "gs",
    "oss", "cos", "swift", "wasb", "wasbs", "abfs", "abfss")

  /** Does `fs` rename a single file atomically (local POSIX, HDFS)? False
    * for the schemes listed under [[NonAtomicRenameSchemesKey]] in the
    * configuration the instance was built with. Azure is listed by
    * default: wasb/wasbs rename is not atomic, and abfs/abfss only on
    * hierarchical-namespace accounts.
    */
  def atomicRename(fs: FileSystem): Boolean = {
    val conf = Option(fs.getConf).getOrElse(new Configuration(false))
    !conf.getTrimmedStrings(NonAtomicRenameSchemesKey,
      DefaultNonAtomicRenameSchemes: _*).contains(fs.getUri.getScheme)
  }

  /** Write `bytes` at `p` only if `p` does not exist yet: true on the win,
    * false when `p` already exists. Exclusive across threads and drivers,
    * and a reader sees either no file or all of `bytes` — never an empty
    * or partial file. This is the one commit primitive of the log
    * ([[CommitLog]] versions, schema versions, snapshot pins); only its
    * mechanism differs per scheme:
    *
    *   - `file`: write a dot-temp beside `p`, then `Files.createLink(p,
    *     temp)`, which fails atomically on an existing target. A mount
    *     without hard links (FAT/exFAT, some network mounts) falls back to
    *     an `O_EXCL` claim file beside `p` and a move ([[moveClaimed]]).
    *   - atomic-rename schemes (HDFS): write a dot-temp, then `rename`,
    *     which refuses an existing target.
    *   - non-atomic-rename schemes (object stores): `create(p, overwrite =
    *     false)` — a conditional PUT (S3 `If-None-Match`, GCS generation
    *     preconditions, ABFS conditional create), atomic-visible at close.
    *     Its refusal is classified typed-first ([[isRefusal]]).
    *
    * Hadoop's local `create(p, false)` is check-then-act and shows an
    * empty file before the bytes land, which is why the local arm does
    * not use it.
    */
  def putIfAbsent(fs: FileSystem, p: HPath, bytes: Array[Byte]): Boolean =
    if (fs.getUri.getScheme == "file") putIfAbsentLocal(fs, p, bytes)
    else if (atomicRename(fs)) putIfAbsentByRename(fs, p, bytes)
    else putIfAbsentByCreate(fs, p, bytes)

  /** (modification time, length) of the file at `p`, None when absent. */
  def stamp(fs: FileSystem, p: HPath): Option[(Long, Long)] =
    try {
      val st = fs.getFileStatus(p)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  /** The hard-link syscall behind the local arm: a seam so a test can
    * inject the failures a link-less mount produces.
    */
  @volatile private[graft] var createLink: (java.nio.file.Path, java.nio.file.Path) => Unit =
    (link, existing) => java.nio.file.Files.createLink(link, existing)

  private def putIfAbsentLocal(fs: FileSystem, p: HPath, bytes: Array[Byte]): Boolean = {
    import java.nio.file.{Files, NoSuchFileException}
    val target = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    try Files.write(tmp, bytes)
    catch { case _: NoSuchFileException =>
      Files.createDirectories(target.getParent)
      Files.write(tmp, bytes)
    }
    linkIfAbsent(tmp, target)
  }

  /** Publish the complete local file `tmp` at `target` unless `target`
    * exists: true on the win, false when `target` already exists; `tmp`
    * is gone afterwards either way. The `file:` arm of [[putIfAbsent]],
    * and the refusing publish of the `file:` checkpoint manager.
    */
  private[graft] def linkIfAbsent(tmp: java.nio.file.Path,
      target: java.nio.file.Path): Boolean = {
    import java.nio.file.{Files, FileAlreadyExistsException}
    try {
      createLink(target, tmp)
      true
    } catch {
      case _: FileAlreadyExistsException => false
      case e @ (_: UnsupportedOperationException | _: java.nio.file.FileSystemException)
          if linkUnsupported(e) =>
        moveClaimed(tmp, target)
    } finally {
      try Files.deleteIfExists(tmp) catch { case _: java.io.IOException => () }
    }
  }

  /** A claim older than this belongs to a process that died between its
    * claim and its move (a window of one local rename); it is stolen.
    */
  private val ClaimStaleMs = 60000L

  /** The link-less arm of [[putIfAbsent]]: move `tmp` to `target` unless
    * `target` exists. `Files.move` alone is check-then-rename, and
    * rename(2) replaces an existing target, so the check and the move run
    * under `.claim-<name>`, created with `O_EXCL` (`Files.createFile`):
    * one claimant at a time re-checks the target and moves, then drops the
    * claim. A waiter whose claim is refused returns false once the target
    * appears. A claim left by a crashed claimant is stolen after
    * [[ClaimStaleMs]] by renaming it to a unique name (one stealer wins the
    * rename), as [[FileTopicLog.withBucketLock]] steals its lock; like
    * there, a claimant stalled past the threshold can lose exclusion.
    */
  private def moveClaimed(tmp: java.nio.file.Path, target: java.nio.file.Path): Boolean = {
    import java.nio.file.{Files, FileAlreadyExistsException, NoSuchFileException}
    val claim = target.resolveSibling(s".claim-${target.getFileName}")
    while (true) {
      if (Files.exists(target)) return false
      val claimed =
        try { Files.createFile(claim); true }
        catch { case _: FileAlreadyExistsException => false }
      if (claimed)
        try {
          if (Files.exists(target)) return false
          Files.move(tmp, target)
          return true
        } finally Files.deleteIfExists(claim)
      try {
        val age = System.currentTimeMillis() - Files.getLastModifiedTime(claim).toMillis
        if (age > ClaimStaleMs) {
          val stolen = claim.resolveSibling(s".claim-stale-${java.util.UUID.randomUUID()}")
          Files.move(claim, stolen)
          Files.deleteIfExists(stolen)
        }
      } catch { case _: NoSuchFileException => () } // released, or stolen by another
      Thread.sleep(1L + scala.util.Random.nextInt(4))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Does this failure mean "the mount cannot hard-link"? The JDK raises
    * `UnsupportedOperationException` only when the PROVIDER lacks links; a
    * POSIX provider over a link-less mount throws `FileSystemException`
    * with the errno text (EPERM / EOPNOTSUPP / ENOTSUP) instead.
    */
  private def linkUnsupported(e: Throwable): Boolean = e match {
    case _: UnsupportedOperationException => true
    case fse: java.nio.file.FileSystemException =>
      val reason = (Option(fse.getReason) ++ Option(fse.getMessage))
        .mkString(" ").toLowerCase(java.util.Locale.ROOT)
      reason.contains("not permitted") || reason.contains("not supported") ||
        reason.contains("unsupported") || reason.contains("eperm") ||
        reason.contains("eopnotsupp") || reason.contains("enotsup")
    case _ => false
  }

  private def putIfAbsentByRename(fs: FileSystem, p: HPath, bytes: Array[Byte]): Boolean = {
    val tmp = new HPath(p.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try { out.write(bytes); out.close() }
    catch { case e: Throwable =>
      try out.close() catch { case _: Throwable => () }
      try fs.delete(tmp, false) catch { case _: Throwable => () }
      throw e
    }
    val won =
      try fs.rename(tmp, p)
      catch { case e: java.io.IOException if isRefusal(fs, e, p) => false }
    if (!won) {
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
      if (!fs.exists(p))
        throw new java.io.IOException(s"rename $tmp -> $p failed with no target present")
    }
    won
  }

  private def putIfAbsentByCreate(fs: FileSystem, p: HPath, bytes: Array[Byte]): Boolean = {
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException if isRefusal(fs, e, p) => return false }
    try { out.write(bytes); out.close(); true }
    catch {
      case e: java.io.IOException if isRefusal(fs, e, p) => false
      case e: Throwable =>
        // object stores materialize at close, so a failed write leaves
        // nothing visible; best-effort removal covers stores that do not
        try out.close() catch { case _: Throwable => () }
        try fs.delete(p, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Typed-first classification of a put-if-absent refusal at `p`. Hadoop's
    * filesystems and the conditional-PUT stores raise
    * `o.a.h.fs.FileAlreadyExistsException` (at create() on HDFS-like
    * stores, at close() on conditional-PUT stores); `PathExistsException`
    * is the Hadoop path-API spelling, and `java.nio` surfaces from direct
    * `Files` shortcuts. An UNTYPED IOException counts as a refusal only as
    * a logged last resort: its message must say the target exists AND the
    * target must be observably present — a message like "Parent path does
    * not exist" is a storage fault that must surface as itself, not burn
    * the caller's bounded retries into a misleading contention error.
    */
  private def isRefusal(fs: FileSystem, e: Throwable, p: HPath): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    case _: org.apache.hadoop.fs.PathExistsException => true
    case io: java.io.IOException =>
      val m = io.getMessage
      val sniff = m != null && (m.contains("already exists") ||
        m.toLowerCase.contains("precondition") || m.contains("If-None-Match"))
      sniff && (try fs.exists(p)
        catch { case _: java.io.IOException => false }) && {
        log.warn(s"LogFs: classifying untyped refusal at $p by message + " +
          s"target-exists probe ($io); the store should raise a typed " +
          "FileAlreadyExistsException")
        true
      }
    case _ => false
  }

  /** The filesystem of `p` for every local-or-remote file the log, the
    * connector, the streaming helpers and the operators write themselves.
    *
    *   - Private instance with checksums off: no `.crc` side files are
    *     written or verified, and Spark's shared instances keep theirs.
    *   - `file:` is Hadoop's `LocalFileSystem` over [[SpawnFreeLocalFs]],
    *     so `create` and `mkdirs` start no `chmod` process. A
    *     configuration that names its own `fs.file.impl` gets that class.
    *   - Every other scheme is `FileSystem.newInstance` of its configured
    *     class.
    *
    * Cached per (scheme, authority) for the JVM lifetime: the first
    * configuration wins, and a later call with a materially different
    * Configuration logs a one-shot warning (it cannot be honored without
    * breaking the one-instance discipline).
    */
  def get(p: HPath, conf: Configuration): FileSystem = {
    val uri = p.toUri
    val defaultUri = FileSystem.getDefaultUri(conf)
    val scheme = Option(uri.getScheme).getOrElse(defaultUri.getScheme)
    val auth = Option(uri.getAuthority)
      .orElse(if (uri.getScheme == null) Option(defaultUri.getAuthority) else None)
      .getOrElse("")
    val key = s"$scheme://$auth"

    def warnIfDifferent(): Unit =
      if (cacheFp.get(key).exists(_ != fingerprint(conf)) &&
          warnedKeys.putIfAbsent(key, ()).isEmpty)
        log.warn(s"LogFs: filesystem for $key was initialized with a " +
          "different Hadoop configuration; the FIRST configuration wins " +
          "for the JVM lifetime (per-root conf changes — credentials, " +
          "timeouts — in a later session are ignored)")

    cache.get(key) match {
      case Some(fs) =>
        warnIfDifferent()
        fs
      case None =>
        // Build OUTSIDE the map insert so the race loser can close its
        // instance (getOrElseUpdate may run racing thunks and leak the
        // losers), and so only the thread whose instance actually won the
        // cache records the fingerprint — a loser must never overwrite the
        // winner's baseline or later warnings compare against the wrong
        // configuration.
        val fsUri = if (uri.getScheme == null) defaultUri else uri
        val fs =
          if (scheme == "file" && Option(conf.getTrimmed("fs.file.impl"))
              .forall(c => c.isEmpty || c == classOf[LocalFileSystem].getName)) {
            val local = new LocalFileSystem(new SpawnFreeLocalFs)
            local.setConf(conf)
            local.initialize(fsUri, conf)
            local
          } else FileSystem.newInstance(fsUri, conf)
        fs.setWriteChecksum(false)
        fs.setVerifyChecksum(false)
        cache.putIfAbsent(key, fs) match {
          case None =>
            cacheFp.put(key, fingerprint(conf))
            fs
          case Some(winner) =>
            try fs.close() catch { case _: java.io.IOException => () }
            warnIfDifferent()
            winner
        }
    }
  }
}
