package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The session's streaming checkpoint file manager (offset log, commit log,
  * HDFS and RocksDB state-store files, Spark 4.1's checksum side-files),
  * installed by [[graft.Graft.sessionBuilder]] through
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Why: for `file:` paths Spark picks its FileContext-based manager over
  * Hadoop's checksummed local filesystem. Without libhadoop that
  * filesystem forks one `chmod` and four `readlink` processes for every
  * checkpoint file it creates and renames: ~30 ms of process spawning
  * where the write itself takes under 1 ms, paid by the offset log, the
  * commit log and every state partition on every trigger.
  *
  * What, by the path's scheme (not by master, not by a setting — a
  * cluster whose checkpoints sit on a POSIX mount gets the same saving):
  *  - `file:` (or no scheme with a `file:` default filesystem): Spark's own
  *    [[FileSystemBasedCheckpointFileManager]] protocol — write a temp
  *    file, then the 2-argument rename, which forks nothing — over a
  *    checksummed `LocalFileSystem`. `.crc` sidecars, 0644 files and
  *    no-overwrite detection are kept, and reads check the sidecar (the
  *    FileContext manager's reads do not); only the raw layer's
  *    `setPermission` goes through `java.nio` instead of `chmod`.
  *  - any other scheme (HDFS, S3, ABFS, ...): exactly the manager
  *    `CheckpointFileManager.create` would pick without this setting.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val underlying: CheckpointFileManager =
    if (schemeOf(path, hadoopConf) == "file") new LocalFsManager(path, hadoopConf)
    else sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The Spark setting that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def schemeOf(path: Path, conf: Configuration): String =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)

  /** The manager Spark picks when no class is configured (FileContext-based,
    * falling back to FileSystem-based), asked of Spark itself so a future
    * change to that choice carries over.
    */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val withoutOverride = new Configuration(conf)
    withoutOverride.unset(ConfKey)
    CheckpointFileManager.create(path, withoutOverride)
  }

  private final class LocalFsManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new CheckpointLocalFileSystem
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** The checksummed local filesystem over [[NoForkRawLocalFileSystem]]. A
    * checksum failure leaves the file in place, as the default manager's
    * `ChecksumFs` does: `LocalFileSystem` would fork `df` and move the file
    * to a `bad_files` directory at the top of its mount.
    */
  private final class CheckpointLocalFileSystem
      extends LocalFileSystem(new NoForkRawLocalFileSystem) {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                       sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }

  /** Sets permissions through `java.nio` instead of a forked `chmod`; a
    * filesystem without POSIX attributes takes Hadoop's own path.
    */
  private final class NoForkRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
