package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint I/O for `file:` roots that starts no child
  * processes.
  *
  * Spark's default manager goes through Hadoop's local file system, which
  * without Hadoop's native library forks a `chmod` for every file it
  * creates and a `readlink` for every `FileContext` rename. The offset
  * log, the commit log and every state-store delta pay those forks in
  * every micro-batch. This manager does the same operations through
  * `java.nio`:
  *
  *  - writes go to a hidden temp sibling and are published on `close()`;
  *    a no-overwrite publish is `link(2)`, which fails atomically when the
  *    target exists (the two-writers check of `HDFSMetadataLog`), and an
  *    overwrite is an atomic `rename(2)`. `cancel()` and a failed publish
  *    remove the temp file.
  *  - a file it replaces or deletes loses its Hadoop `.<name>.crc`
  *    sibling, so a checkpoint written earlier by the default manager
  *    still verifies if it is read by the default manager again; `open`
  *    stays on Hadoop's checksummed local file system and verifies such
  *    siblings where they exist.
  *
  * Any other scheme gets Spark's default manager for the whole root,
  * unchanged. Spark's own checkpoint checksums
  * (`ChecksumCheckpointFileManager`) wrap this manager like any other.
  * Registered for every graft session by [[graft.sources.Tables.sessionConf]].
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = Try(path.getFileSystem(hadoopConf)).toOption match {
    case Some(fs: LocalFileSystem) if fs.getUri.getScheme == "file" =>
      new LocalCheckpointFileManager.Nio(fs, path)
    case _ => LocalCheckpointFileManager.sparkDefault(path, hadoopConf)
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
}

object LocalCheckpointFileManager {

  /** The Spark setting that names a `CheckpointFileManager` class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** What Spark picks when [[ConfKey]] is unset. */
  private def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private final class Nio(fs: LocalFileSystem, root: Path) extends CheckpointFileManager {

    private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

    /** Hadoop's checksum sibling of `f`. */
    private def crcOf(f: java.nio.file.Path) = f.resolveSibling(s".${f.getFileName}.crc")

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(
          new BufferedOutputStream(Files.newOutputStream(temp), 1 << 16)) {
        private var finished = false
        private def finish(publish: Boolean): Unit = synchronized {
          if (!finished) {
            finished = true
            try {
              underlyingStream.close()
              if (publish) rename(temp, target, overwriteIfPossible)
            } finally Files.deleteIfExists(temp)
          }
        }
        override def close(): Unit = finish(publish = true)
        override def cancel(): Unit = finish(publish = false)
      }
    }

    private def rename(temp: java.nio.file.Path, target: java.nio.file.Path,
        overwrite: Boolean): Unit =
      if (overwrite) {
        Files.deleteIfExists(crcOf(target))
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(target, temp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
        }
        Files.deleteIfExists(crcOf(target))
      }

    override def open(p: Path): FSDataInputStream = fs.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = fs.makeQualified(p)
      val entries =
        try Files.newDirectoryStream(local(dir))
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
      try entries.asScala.iterator.flatMap { f =>
        val name = f.getFileName.toString
        val hp = new Path(dir, name)
        if ((name.startsWith(".") && name.endsWith(".crc")) || !filter.accept(hp)) None
        else try {
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, fs.getDefaultBlockSize(dir),
            a.lastModifiedTime.toMillis, hp))
        } catch { case _: NoSuchFileException => None } // removed since the listing
      }.toArray
      finally entries.close()
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val f = local(p)
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val walk = Files.walk(f)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach { q => Files.deleteIfExists(q); () }
        finally walk.close()
      } else {
        Files.deleteIfExists(f)
        Files.deleteIfExists(crcOf(f))
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }
}
