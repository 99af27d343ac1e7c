package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's checkpoint file manager with the `file:` writes done through
  * java.nio. Without a native Hadoop library, Hadoop's local `FileContext`
  * forks a `chmod` for every create and mkdir and a `readlink` for every
  * link-status probe: 10 processes and about 30 ms per atomic write of a
  * tiny offset or commit file, against 0.5 ms through java.nio
  * ([[graft.Tuning]] has the measurements). These three calls are the
  * whole write path of `createAtomic`:
  *  - [[createTempFile]]: a buffered `Files.newOutputStream` (create or
  *    truncate, no `.crc` sibling);
  *  - [[renameTempFile]]: an overwrite is one `ATOMIC_MOVE`; a no-clobber
  *    rename hard-links the temp file to its name and deletes the temp, so
  *    an existing file is never replaced and the caller gets Hadoop's
  *    `FileAlreadyExistsException`, which `HDFSMetadataLog` reads as
  *    "another query wrote this batch". A stale `.<name>.crc` left by an
  *    earlier Hadoop writer is removed, or a read through Hadoop's
  *    checksummed local `FileSystem` would reject the new bytes. A file
  *    system without hard links falls back to Spark's rename;
  *  - [[mkdirs]]: `Files.createDirectories`.
  *
  * Reads, lists, deletes and every non-`file` scheme stay on Spark's
  * `FileContext` path. Installed for every session by [[graft.Tuning]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): Option[java.nio.file.Path] = {
    val q = fc.makeQualified(p)
    if (q.toUri.getScheme == "file") Some(Paths.get(q.toUri)) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) => new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        if (overwriteIfPossible) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        else {
          val linked = try { Files.createLink(d, s); true } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              throw new FileAlreadyExistsException(s"$dst already exists")
            case _: UnsupportedOperationException | _: FileSystemException => false
          }
          if (linked) Files.delete(s) else super.renameTempFile(src, dst, overwriteIfPossible)
        }
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }
}
