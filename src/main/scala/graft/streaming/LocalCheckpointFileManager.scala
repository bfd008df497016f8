package graft.streaming

import graft.log.LogFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint manager the `ripple` provider installs
  * ([[LocalCheckpointFileManager.install]]): the offset log, the commit
  * log, the state-store files and every other checkpoint file of a query
  * whose checkpoint is on `file:` go through the log's own local
  * filesystem ([[LogFs.get]]), which starts no process. Spark's default
  * manager goes through `FileContext`, whose local `create` runs `chmod`
  * and whose `rename` runs `readlink` twice as child processes when
  * `libhadoop` is absent — tens of milliseconds per checkpoint file.
  *
  * A checkpoint on any other scheme gets the manager Spark would have
  * chosen itself. Spark instantiates the configured class for every
  * checkpoint path, so this class is that dispatch.
  */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val fs = if (scheme == "file") Some(LogFs.get(path, conf)) else None
    fs match {
      case Some(l: LocalFileSystem) => new LocalCheckpointFiles(l, path)
      case _ =>
        val vanilla = new Configuration(conf)
        vanilla.unset(LocalCheckpointFileManager.Key)
        CheckpointFileManager.create(path, vanilla)
    }
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's own key naming the checkpoint manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Name this manager under [[Key]] in the active session, unless the
    * session or its Hadoop configuration already names one: a session
    * opts out by setting the key to Spark's
    * `org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager`.
    */
  def install(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      if (s.conf.getOption(Key).isEmpty &&
          s.sparkContext.hadoopConfiguration.get(Key) == null)
        s.conf.set(Key, classOf[LocalCheckpointFileManager].getName)
    }
}

/** The `file:` arm: each atomic file is a temp file beside the target,
  * written through `fs` (checksums off, so no `.crc` sidecar), then
  * published on close by an atomic replacing rename or, when the caller
  * refuses to overwrite, by the log's hard-link put-if-absent
  * ([[LogFs.linkIfAbsent]]). A refused publish raises Hadoop's
  * `FileAlreadyExistsException`, which Spark's metadata log reads as a
  * concurrent writer. No publish, failed or cancelled, leaves its temp file
  * behind.
  */
private[streaming] final class LocalCheckpointFiles(fs: LocalFileSystem, root: Path)
    extends CheckpointFileManager {

  private def local(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    new CancellableFSDataOutputStream(fs.create(tmp, true)) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try {
            underlyingStream.close()
            publish(local(tmp), local(p), overwriteIfPossible)
          } catch { case e: Throwable =>
            try java.nio.file.Files.deleteIfExists(local(tmp))
            catch { case _: java.io.IOException => () }
            throw e
          }
        }
      }

      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close() catch { case _: java.io.IOException => () }
          java.nio.file.Files.deleteIfExists(local(tmp))
        }
      }
    }
  }

  /** A replace first drops the target's `.<name>.crc`, left by a writer
    * that kept checksums, so no later checksum-verifying reader tests the
    * new bytes against the old checksum.
    */
  private def publish(tmp: java.nio.file.Path, target: java.nio.file.Path,
      overwrite: Boolean): Unit =
    if (overwrite) {
      java.nio.file.Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
      java.nio.file.Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else if (!LogFs.linkIfAbsent(tmp, target))
      throw new FileAlreadyExistsException(s"checkpoint file $target already exists")

  override def open(p: Path): FSDataInputStream = fs.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
  override def mkdirs(p: Path): Unit = fs.mkdirs(p, FsPermission.getDirDefault)
  override def exists(p: Path): Boolean = fs.exists(p)
  override def delete(p: Path): Unit =
    try fs.delete(p, true) catch { case _: java.io.FileNotFoundException => () }
  override def isLocal: Boolean = true
  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(root)
    fs.mkdirs(qualified, FsPermission.getDirDefault)
    qualified
  }
}
