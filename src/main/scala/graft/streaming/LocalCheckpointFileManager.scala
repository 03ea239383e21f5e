package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem,
  UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** A `CheckpointFileManager` that writes local checkpoints without
  * starting OS processes.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates (`setPermission`), and the
  * `FileContext` rename Spark's default manager uses runs `readlink` on
  * the source, the destination, its parent and each `.crc` sidecar. A
  * stateful micro-batch writes a few dozen checkpoint files, so those
  * spawns were most of a short stream's commit time.
  *
  * For a path whose resolved scheme is `file` this is Spark's own
  * `FileSystemBasedCheckpointFileManager` over a checksummed
  * `LocalFileSystem` (the `.crc` sidecars are still written) whose raw
  * file system sets permissions through `java.nio.file.Files`; its
  * rename is `File.renameTo`, rename(2). Any
  * other scheme gets exactly what `CheckpointFileManager.create` picks
  * without a configured class: the `FileContext` manager, or the
  * `FileSystem` one when the scheme has no `AbstractFileSystem`.
  *
  * Two differences from the `FileContext` manager on local paths:
  *  - `createAtomic` with `overwriteIfPossible = false` checks that the
  *    target is absent and then renames, as Spark's `FileSystem` fallback
  *    does, instead of `FileContext`'s no-overwrite rename. Both throw
  *    `FileAlreadyExistsException` when the target exists at the check.
  *  - `open` verifies the `.crc` sidecar, so a corrupted checkpoint file
  *    fails with `ChecksumException`; the `FileContext` manager reads
  *    local files without checking it (Spark 4.1, Hadoop 3.4). */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val impl: CheckpointFileManager =
    if (forkFree(path, hadoopConf)) new LocalManager(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = impl.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  def mkdirs(p: Path): Unit = impl.mkdirs(p)
  def exists(p: Path): Boolean = impl.exists(p)
  def delete(p: Path): Unit = impl.delete(p)
  def isLocal: Boolean = impl.isLocal
  def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** Whether a checkpoint at `path` takes the fork-free local route: the
    * scheme `path.getFileSystem(conf)` would resolve (the path's own,
    * else the default file system's) is `file`. Decided without
    * instantiating the file system. */
  def forkFree(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private final class LocalManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionsFs)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }

  /** `RawLocalFileSystem` with in-process `setPermission`. The nine
    * rwx bits are applied; setuid, setgid and sticky bits are dropped
    * (checkpoint files never carry them). */
  private final class NioPermissionsFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val perms = PosixFilePermission.values.filter(x => (bits & (0x100 >> x.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }
}
