package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** Stream checkpoints and sink writes on the local file system without
  * child processes.
  *
  * With no libhadoop on the classpath, Hadoop's `RawLocalFileSystem`
  * runs a shell command where the native call would go: `chmod` for
  * every file or directory it creates with a mode (each data file, each
  * `.crc`, each committer directory), and `readlink` for every rename
  * through `FileContext`, which Spark's default checkpoint manager
  * makes four times per checkpoint file. One fork costs milliseconds;
  * `Files.setPosixFilePermissions` tens of microseconds, and a
  * `FileSystem` rename (`File.renameTo`) reads no link at all.
  *
  *  - [[ForkFreeLocalFileSystem]] is Hadoop's `LocalFileSystem` with
  *    `setPermission` through NIO: the same 9 mode bits, the same
  *    `.crc` checksums written and verified.
  *  - [[ForkFreeCheckpointFileManager]] is Spark's own
  *    `FileSystemBasedCheckpointFileManager` over it for `file:` paths:
  *    check that the target does not exist, then `rename(2)`, as the
  *    default manager does; a create that loses to an existing target
  *    also deletes its temp file. Other schemes get Spark's default
  *    manager.
  *  - [[install]] sets it on a session; [[options]] are the Hadoop keys
  *    a `DataFrameWriter` takes to write through it.
  *
  * What stays forking: writes through the session's cached `file:`
  * file system — catalog tables (the bucketed index appends), a file
  * stream sink's data files (its Hadoop conf takes no writer options),
  * `chown`, and a sticky-bit mode. Reads never forked. */
object ForkFreeFs {

  /** Spark's (internal) key for the checkpoint manager class. */
  val ManagerKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Hadoop keys under which `file:` resolves to a fresh
    * [[ForkFreeLocalFileSystem]]; uncached, since the cache is keyed by
    * scheme and user and would return the stock instance. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Checkpoint every stream `spark` starts through
    * [[ForkFreeCheckpointFileManager]], unless the caller chose a
    * manager. The key stays set on the session: a file source opens its
    * log on the stream thread, after `start` has returned, with the
    * reader's session conf. */
  def install(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains(ManagerKey))
      spark.conf.set(ManagerKey, classOf[ForkFreeCheckpointFileManager].getName)

  /** `RawLocalFileSystem` with a mode set through NIO. A sticky bit,
    * which NIO cannot set, still goes to Hadoop's own call. */
  final class RawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, modeBits(permission.toShort))
  }

  /** The 9 rwx bits of `mode`, in `PosixFilePermission` order (owner
    * read = 0400 first). */
  private def modeBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if ((mode >> (8 - i)) & 1) == 1 => p }.toSet.asJava

  private[util] def isFile(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private[util] def withOptions(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

/** Hadoop's checksummed local file system over [[ForkFreeFs.RawFs]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeFs.RawFs)

/** The checkpoint manager [[ForkFreeFs.install]] sets: Spark's
  * `FileSystemBasedCheckpointFileManager` over an uncached
  * [[ForkFreeLocalFileSystem]] for `file:` paths, and the manager Spark
  * picks by default for every other scheme. */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val inner: CheckpointFileManager =
    if (ForkFreeFs.isFile(path, hadoopConf))
      new ForkFreeCheckpointFileManager.Local(path, ForkFreeFs.withOptions(hadoopConf))
    else {
      val c = new Configuration(hadoopConf)
      c.unset(ForkFreeFs.ManagerKey)
      CheckpointFileManager.create(path, c)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    inner.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = inner.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = inner.list(p, filter)
  override def mkdirs(p: Path): Unit = inner.mkdirs(p)
  override def exists(p: Path): Boolean = inner.exists(p)
  override def delete(p: Path): Unit = inner.delete(p)
  override def isLocal: Boolean = inner.isLocal
  override def createCheckpointDirectory(): Path = inner.createCheckpointDirectory()
  override def close(): Unit = inner.close()
}

object ForkFreeCheckpointFileManager {

  /** Spark's `FileSystemBasedCheckpointFileManager`, except that an
    * atomic create which loses to an existing target
    * (`overwriteIfPossible = false`) deletes its temp file and that
    * file's `.crc` before the rethrow; Spark's rename-based stream
    * leaves both behind. */
  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override def renameTempFile(temp: Path, target: Path, overwriteIfPossible: Boolean): Unit =
      try super.renameTempFile(temp, target, overwriteIfPossible)
      catch { case e: FileAlreadyExistsException => delete(temp); throw e }
  }
}
