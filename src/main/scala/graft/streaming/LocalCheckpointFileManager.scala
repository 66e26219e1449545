package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption,
  StandardOpenOption, FileAlreadyExistsException => NioExists, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem,
  FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint I/O for `file:` paths through `java.nio`.
  *
  * Spark's default manager writes local checkpoints through Hadoop's
  * `LocalFileSystem`, whose `create` and `rename` set permissions; without
  * native libhadoop each of those forks a `chmod` process. Every
  * micro-batch writes an offset-log file, a commit-log file and the RocksDB
  * state-store commit files (each with a checksum sidecar), so on a small
  * micro-batch this is most of the wall time: an offset-log write took
  * ~45 ms that way and ~2.5 ms here (4-vCPU VM, JDK 17, Spark 4.1.2).
  *
  * `createAtomic` writes a hidden temp file beside the target and publishes
  * it on close: a hard link when the target must not exist (fails atomically
  * if it does), an atomic rename when it may be replaced. Neither path
  * fsyncs, like Hadoop's local file system. A replaced file's Hadoop
  * `.name.crc` sidecar is removed, so checkpoints written by either manager
  * stay readable by both. `open` and `list` use the Hadoop file system,
  * which does not fork. Any other scheme gets Spark's default manager.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new Nio(path.getFileSystem(hadoopConf))
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()

  private class Nio(fs: FileSystem) extends CheckpointFileManager {
    private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)
    private def crc(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

    override def createAtomic(p: Path, overwrite: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}$TempSuffix")
      new CancellableFSDataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW), 1 << 16)) {
        private var done = false
        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try { underlyingStream.close(); publish(tmp, target, overwrite) }
            finally Files.deleteIfExists(tmp)
          }
        }
        override def cancel(): Unit = synchronized {
          if (!done) {
            done = true
            try underlyingStream.close() finally Files.deleteIfExists(tmp)
          }
        }
      }
    }

    private def publish(tmp: NioPath, target: NioPath, overwrite: Boolean): Unit =
      if (overwrite) {
        Files.deleteIfExists(crc(target))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(target, tmp)
        catch {
          case _: NioExists => throw new FileAlreadyExistsException(s"$target exists")
          case _: FileSystemException | _: UnsupportedOperationException =>
            // no hard links here: check-then-rename, as Spark's FileSystem-based manager does
            if (Files.exists(target)) throw new FileAlreadyExistsException(s"$target exists")
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        }
        Files.deleteIfExists(crc(target))
      }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, (f: Path) => !isTempFile(f.getName) && filter.accept(f))
    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))
    override def exists(p: Path): Boolean = Files.exists(nio(p))
    override def delete(p: Path): Unit = {
      val f = nio(p)
      if (Files.isDirectory(f)) fs.delete(p, true)
      else { Files.deleteIfExists(f); Files.deleteIfExists(crc(f)) }
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(path)
      Files.createDirectories(nio(q))
      q
    }
  }
}

object LocalCheckpointFileManager {
  /** Spark's conf naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val TempSuffix = ".graft.tmp"

  /** Temp files are hidden and never match a metadata-log batch name
    * (digits) or a RocksDB `.zip`/`.changelog`/`.sst` suffix.
    */
  private[graft] def isTempFile(name: String): Boolean =
    name.startsWith(".") && name.endsWith(TempSuffix)
}
