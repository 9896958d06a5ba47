package org.apache.spark.sql.graft

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption,
  StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** Streaming checkpoint files (offset log, commit log, state-store
  * delta and snapshot files) written through java.nio on a `file:`
  * path. Spark's default for a local checkpoint,
  * `FileContextBasedCheckpointFileManager`, goes through Hadoop's local
  * filesystem, which without libhadoop forks a `chmod` process per
  * create or mkdir and a `readlink` per rename check: about a dozen
  * processes per log entry. Here a log entry is one temp file and one
  * link or rename, and forks nothing.
  *
  * `createAtomic` writes `.<name>.<uuid>.tmp` next to the target (the
  * temp name Spark uses, so the metadata logs' numeric-name filter
  * skips a crash's leftover) and publishes it on `close`:
  *   - without overwrite by `Files.createLink`, which is atomic and
  *     fails if the target exists; that failure is rethrown as Hadoop's
  *     [[FileAlreadyExistsException]], the one the offset log's
  *     concurrent-writer guard catches;
  *   - with overwrite by an atomic rename over the target;
  * and the temp file is gone afterwards, published or not. Nothing is
  * fsynced, the same as the Hadoop local filesystem this replaces: a
  * published file survives a process crash, not a power loss.
  *
  * Any path whose scheme (or, without one, the default filesystem's) is
  * not `file` goes to exactly the manager `CheckpointFileManager.create`
  * picks with `spark.sql.streaming.checkpointFileManagerClass` unset, so
  * HDFS, S3 and other schemes are unchanged. Spark instantiates the
  * class by its `(Path, Configuration)` constructor.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager serving this checkpoint: the java.nio one on a
    * `file:` path, Spark's own pick otherwise. */
  val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NioFileManager(path)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

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

  /** The session key Spark reads the checkpoint manager class from. */
  val ConfKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Hadoop's local block size, reported in every [[FileStatus]]. */
  private val BlockSize = 32L << 20

  private def local(p: Path) = Paths.get(p.toUri.getPath)

  private def qualified(p: java.nio.file.Path) = new Path("file", null, p.toAbsolutePath.toString)

  private def status(a: BasicFileAttributes, q: Path) =
    new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1, BlockSize,
      a.lastModifiedTime.toMillis, q)

  /** A checksum sidecar of Hadoop's local filesystem (`.<name>.crc`),
    * which it hides from listings. The default manager leaves one next
    * to every file it writes; this one writes none. */
  private def isChecksum(name: String) = name.startsWith(".") && name.endsWith(".crc")

  private def checksumOf(f: java.nio.file.Path) = f.resolveSibling(s".${f.getFileName}.crc")

  private final class NioFileManager(root: Path) extends CheckpointFileManager {

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicOutput(target, temp, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = {
      val ch = try FileChannel.open(local(p), StandardOpenOption.READ) catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      }
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), 4096))
    }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      val attrs = try Files.readAttributes(dir, classOf[BasicFileAttributes]) catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      }
      val all = if (!attrs.isDirectory) Array(status(attrs, qualified(dir)))
        else Using.resource(Files.list(dir))(_.iterator().asScala.toArray)
          .filterNot(f => isChecksum(f.getFileName.toString))
          .flatMap { f =>
            try Some(status(Files.readAttributes(f, classOf[BasicFileAttributes]), qualified(f)))
            catch { case _: NoSuchFileException => None } // deleted since the listing
          }
      all.filter(s => filter.accept(s.getPath))
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val f = local(p)
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) FileUtils.deleteDirectory(f.toFile)
      else Files.deleteIfExists(f)
      Files.deleteIfExists(checksumOf(f))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      Files.createDirectories(local(root))
      qualified(local(root))
    }
  }

  /** Writes a temp file; `close` publishes it at `target`, `cancel`
    * deletes it. Either way the temp file is gone afterwards. A
    * checksum sidecar the default manager left for an earlier `target`
    * goes first: Hadoop's checksummed local filesystem rejects new
    * bytes read against a stale checksum. */
  private final class AtomicOutput(target: java.nio.file.Path, temp: java.nio.file.Path,
                                   overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (done) return
      done = true
      try {
        underlyingStream.close()
        Files.deleteIfExists(checksumOf(target))
        if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
        else Files.createLink(target, temp)
      } catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target already exists: ${e.getMessage}")
      } finally Files.deleteIfExists(temp)
    }

    override def cancel(): Unit = synchronized {
      if (done) return
      done = true
      try underlyingStream.close() finally Files.deleteIfExists(temp)
    }
  }

  /** A seekable read of one local file, as [[FSDataInputStream]] needs. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) < 0) -1 else b.get(0) & 0xff
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(buf, off, len))
    override def close(): Unit = ch.close()
  }
}
