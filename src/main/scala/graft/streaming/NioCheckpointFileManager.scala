package graft.streaming

import java.io.{BufferedOutputStream, EOFException, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** java.nio-backed [[CheckpointFileManager]] for `file:` checkpoint roots,
  * plugged in via `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * WHY (measured, round 20): with no libhadoop native library on the
  * machine, Hadoop's RawLocalFileSystem falls back to FORKING A SHELL for
  * metadata operations — every checkpoint-file create runs `chmod` as a
  * child process (RawLocalFileSystem.setPermission) and every
  * FileContext rename runs `readlink` (FileUtil.readLink) — so each
  * micro-batch pays fork+exec storms for its offset-log write, commit-log
  * write, file-source/sink metadata-log entries, and EVERY state-store
  * delta commit (8 partitions × up to 4 stores for a stream-stream join).
  * Thread dumps during the q191 gate land in ProcessImpl.forkAndExec under
  * HDFSMetadataLog.add in 2 of 3 samples, and state-store commitTimeMs ran
  * ~170 ms per partition per batch for KB-sized deltas while a plain NIO
  * write+rename of the same bytes takes ~0.1 ms. This manager performs the
  * identical atomic write-temp-then-rename protocol through java.nio — no
  * child processes, same rename atomicity (POSIX rename(2)), same
  * FileAlreadyExistsException contract HDFSMetadataLog relies on for
  * concurrent-writer detection.
  *
  * Scale posture: a production deployment checkpoints to a DISTRIBUTED
  * store (HDFS/S3/ABFS); for any non-`file:` scheme this class delegates
  * verbatim to Spark's default FileContextBasedCheckpointFileManager, so
  * the config is safe to ship everywhere — the NIO fast path activates
  * exactly where the default was pathological (local-FS checkpoints).
  *
  * Durability note: the default local-FS manager does not fsync checkpoint
  * files either (rename-atomicity only); this manager matches that
  * contract — crash gates q194/q198/q203 exercise the recovery semantics
  * against it. No .crc twins are written (the default FileContext manager
  * wrote them through ChecksumFs); readers never required them.
  */
class NioCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val isFileScheme: Boolean = {
    val s = Option(root.toUri.getScheme)
    s.isEmpty || s.contains("file")
  }

  /** Default manager for non-local checkpoint roots (cluster deployments). */
  private lazy val delegate = new FileContextBasedCheckpointFileManager(root, conf)

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (!isFileScheme) return delegate.createAtomic(path, overwriteIfPossible)
    val dst = nio(path)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    // Hidden temp name (leading dot): metadata-log listings filter hidden
    // files, so a concurrently-listing reader never sees the half-written
    // temp as a batch file.
    val tmp = dst.resolveSibling(
      s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    val out = new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    new CancellableFSDataOutputStream(out) {
      @volatile private var terminated = false
      override def close(): Unit = this.synchronized {
        if (terminated) return
        terminated = true
        super.close()
        // rename(2) always replaces an existing target, so the
        // no-overwrite contract (HDFSMetadataLog's concurrent-writer
        // detection) publishes with link(2) instead, which fails when the
        // target exists: of two concurrent writers exactly one wins.
        try {
          if (overwriteIfPossible) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          else Files.createLink(dst, tmp)
        } catch {
          case e: java.nio.file.FileSystemException =>
            Files.deleteIfExists(tmp)
            throw new FileAlreadyExistsException(
              s"Failed to rename temp file $tmp to $dst: ${e.getMessage}")
        }
        Files.deleteIfExists(tmp)
      }
      override def cancel(): Unit = this.synchronized {
        if (terminated) return
        terminated = true
        try super.close() finally Files.deleteIfExists(tmp)
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    if (!isFileScheme) return delegate.open(path)
    val p = nio(path)
    if (!Files.isRegularFile(p)) throw new FileNotFoundException(p.toString)
    new FSDataInputStream(new NioCheckpointFileManager.SeekableChannelStream(
      FileChannel.open(p, StandardOpenOption.READ)))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    if (!isFileScheme) return delegate.list(path, filter)
    val p = nio(path)
    if (!Files.exists(p)) throw new FileNotFoundException(p.toString)
    if (!Files.isDirectory(p)) {
      val st = status(p)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    scala.util.Using.resource(Files.list(p)) { ls =>
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .map(status)
        .filter(st => filter.accept(st.getPath))
        .toArray
    }
  }

  private def status(p: java.nio.file.Path): FileStatus = {
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 64L * 1024 * 1024,
      attrs.lastModifiedTime().toMillis, new Path(p.toUri))
  }

  override def mkdirs(path: Path): Unit =
    if (!isFileScheme) delegate.mkdirs(path)
    else Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean =
    if (!isFileScheme) delegate.exists(path) else Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    if (!isFileScheme) { delegate.delete(path); return }
    val p = nio(path)
    if (!Files.exists(p)) return // the contract swallows missing paths
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(p)) { walk =>
      walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
    }
  }

  override def isLocal: Boolean = if (isFileScheme) true else delegate.isLocal

  override def createCheckpointDirectory(): Path = {
    if (!isFileScheme) return delegate.createCheckpointDirectory()
    Files.createDirectories(nio(root))
    root
  }
}

object NioCheckpointFileManager {
  /** FileChannel-backed InputStream with the Seekable/PositionedReadable
    * surface FSDataInputStream requires (the state store seeks; the
    * metadata logs read sequentially). Positioned reads go through
    * position-explicit channel reads, so they are thread-safe against the
    * sequential cursor as the Hadoop contract demands. */
  private[streaming] class SeekableChannelStream(ch: FileChannel)
      extends java.io.InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) <= 0) -1 else b.get(0) & 0xFF
    }
    override def read(arr: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(arr, off, len))
    override def available(): Int =
      math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt
    override def close(): Unit = ch.close()
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int =
      ch.read(ByteBuffer.wrap(buffer, offset, length), position)
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = ch.read(
          ByteBuffer.wrap(buffer, offset + done, length - done), position + done)
        if (n < 0) throw new EOFException(
          s"EOF at ${position + done} reading $length bytes")
        done += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
