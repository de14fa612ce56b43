package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes `file:` checkpoints through
  * `java.nio`, so a checkpoint write starts no shell process.
  *
  * Spark's default for `file:` paths goes through Hadoop's `FileContext`
  * over the checksummed local file system, which shells out to
  * `chmod` for every temp file and directory it creates and to
  * `readlink` for every rename — about 40 checkpoint files per
  * micro-batch (offset, commit and source logs, state-store deltas and
  * their checksum files, schema and metadata files), each paying one or
  * more forks. Here a write is a `.`-prefixed temp file, named the way
  * Spark names it, placed on `close` by one system call:
  *   - overwrite: `rename(2)` (`ATOMIC_MOVE`), which replaces the target;
  *   - no-clobber: `link(2)` then unlink the temp file; the link is
  *     atomic and never replaces, so of two racing writers exactly one
  *     wins and the other gets Hadoop's [[FileAlreadyExistsException]]
  *     (what `HDFSMetadataLog` catches to report a concurrent writer).
  *
  * No `.crc` sidecar is written. A target's stale `.<name>.crc` (left
  * by Spark's default manager) is deleted before the target is
  * replaced, because the checksummed file system verifies any sidecar
  * it finds on read and would fail the new content against it.
  *
  * Reads, listings, `exists` and `delete` fork nothing, so they go to
  * Spark's default manager for the same path, as does every call on a
  * path that is not `file:` (s3a and the like keep Spark's
  * `FileContext` → `FileSystem` fallback). That manager is built by
  * `CheckpointFileManager.create` on a copy of the conf without
  * [[ConfKey]], i.e. exactly what Spark would have chosen.
  *
  * Installed by [[EventStreams.shareGeneratedCode]] through Spark's
  * [[ConfKey]] when the session has no manager configured. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val default: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private def isFile(p: Path): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (isFile(p)) {
      val target = nio(p)
      new AtomicFileOutputStream(target, tempFile(target), overwriteIfPossible)
    } else default.createAtomic(p, overwriteIfPossible)

  override def mkdirs(p: Path): Unit =
    if (isFile(p)) Files.createDirectories(nio(p)) else default.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (isFile(path)) {
      val dir = Files.createDirectories(nio(path))
      new Path("file", null, dir.toString)
    } else default.createCheckpointDirectory()

  override def open(p: Path): FSDataInputStream = default.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = default.list(p, filter)
  override def exists(p: Path): Boolean = default.exists(p)
  override def delete(p: Path): Unit = default.delete(p)
  override def isLocal: Boolean = default.isLocal
  override def close(): Unit = default.close()
}

object LocalCheckpointFileManager {
  /** Spark's setting naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The local file of a scheme-less or `file:` path; a relative one
    * resolves against the working directory, as Hadoop's local file
    * system resolves it. */
  private def nio(p: Path): NioPath = new java.io.File(p.toUri.getPath).getAbsoluteFile.toPath

  /** Spark's temp name for `target`: `.<name>.<uuid>[.TID<attempt>].tmp`,
    * hidden from every checkpoint listing by its leading dot. */
  private def tempFile(target: NioPath): NioPath = {
    val tid = Option(TaskContext.get).map(tc => s".TID${tc.taskAttemptId}").getOrElse("")
    target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}$tid.tmp")
  }

  /** Writes to `temp`, which needs `target`'s directory to exist (as
    * Hadoop's local `FileContext` create does); on `close` the temp file
    * is placed at `target`, on `cancel` only removed. Either way no temp
    * file is left behind. */
  private final class AtomicFileOutputStream(target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(open(temp)) {
    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) try {
        underlyingStream.close()
        place(temp, target, overwrite)
      } finally {
        terminated = true
        Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) try underlyingStream.close()
      catch { case NonFatal(_) => () } // the temp file goes either way
      finally {
        terminated = true
        Files.deleteIfExists(temp)
      }
    }
  }

  private def open(temp: NioPath): OutputStream =
    try new BufferedOutputStream(Files.newOutputStream(temp), 1 << 16)
    catch {
      case e: NoSuchFileException =>
        val fe = new FileNotFoundException(s"Missing parent directory of $temp")
        fe.initCause(e)
        throw fe
    }

  /** Moves `temp` to `target`. A stale checksum sidecar of the target
    * goes first, so no reader ever pairs it with the new content. */
  private def place(temp: NioPath, target: NioPath, overwrite: Boolean): Unit = {
    val crc = target.resolveSibling(s".${target.getFileName}.crc")
    if (overwrite) {
      Files.deleteIfExists(crc)
      Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
    } else try {
      // a sidecar beside an absent target belongs to no file; once the
      // target exists its sidecar is not ours to touch
      if (Files.notExists(target)) Files.deleteIfExists(crc)
      Files.createLink(target, temp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        val fe = new FileAlreadyExistsException(s"$target already exists")
        fe.initCause(e)
        throw fe
    }
  }
}
