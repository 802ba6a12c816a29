package graft.streaming

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path,
  PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint file manager [[graft.Graft.session]] installs
  * (`spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Every micro-batch writes an offset-log and a commit-log entry, and a
  * stateful query writes state-store files too. Spark's default manager goes
  * through Hadoop's `FileContext`. Without the Hadoop native library, that
  * path forks `chmod` to set the temp file's permission and `readlink` for
  * the link-status probe inside its rename: about five processes per log
  * entry, on the stream execution thread, before the batch's rows count as
  * committed.
  *
  * For `file:` paths this manager writes the temp file with plain `java.io`
  * and renames it with one `rename(2)`, so a commit forks nothing. The
  * commit contract is Spark's:
  *  - `overwriteIfPossible = false` refuses an existing target with
  *    `FileAlreadyExistsException`, by a check and then a rename, as
  *    Hadoop's local rename does it today; the refused temp file is deleted;
  *  - a replaced file loses its `.crc` sibling, so it never fails a stale
  *    checksum;
  *  - `cancel()` deletes the temp file.
  *
  * Every other scheme (hdfs, s3a, ...) gets the manager Spark picks without
  * this conf, with unchanged behaviour: HDFS keeps its atomic no-clobber
  * rename.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager that does the work for `path`. */
  val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file" &&
        path.getFileSystem(hadoopConf).isInstanceOf[LocalFileSystem])
      new LocalCheckpointFileManager.JavaIoTempFiles(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }
  }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(path, filter)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** The Spark conf that names a session's checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's FileSystem-based manager on the local file system, with its
    * two commit steps done by `java.nio`:
    *  - the temp file is opened by `java.io`; `LocalFileSystem.create` forks
    *    `chmod` for the file and again for its `.crc`. The temp file gets no
    *    `.crc`, so the final file is read unverified, as any local file
    *    without a checksum is;
    *  - the rename is one `rename(2)`, which replaces an existing target.
    *    The `file:` FileSystem may not: with Hive's jars on the classpath
    *    it is Hive's `ProxyLocalFileSystem`, whose rename refuses an
    *    existing target, and Spark's FileSystem-based manager takes that
    *    refusal as success when `overwriteIfPossible` is set, keeping the
    *    old file. */
  private[streaming] final class JavaIoTempFiles(path: Path,
      hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    private val local = fs.asInstanceOf[LocalFileSystem]
    private def file(p: Path): File = local.pathToFile(p)

    override def createTempFile(path: Path): FSDataOutputStream = {
      val f = file(path)
      Files.createDirectories(f.getParentFile.toPath)
      new FSDataOutputStream(
        new BufferedOutputStream(new FileOutputStream(f)), null)
    }

    override def renameTempFile(srcPath: Path, dstPath: Path,
        overwriteIfPossible: Boolean): Unit = {
      val dst = file(dstPath)
      if (!overwriteIfPossible && dst.exists()) {
        Files.deleteIfExists(file(srcPath).toPath)
        throw new FileAlreadyExistsException(
          s"Failed to rename $srcPath to $dstPath: destination exists")
      }
      // drop the checksum first: a reader between the two steps then sees
      // the old content unverified, never new content under a stale .crc
      Files.deleteIfExists(file(local.getChecksumFile(dstPath)).toPath)
      Files.move(file(srcPath).toPath, dst.toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
