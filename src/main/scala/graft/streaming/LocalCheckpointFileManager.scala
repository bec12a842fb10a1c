package graft.streaming

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for `file:` checkpoints that creates, renames
  * and mkdirs through java.nio. Without libhadoop, Hadoop's local
  * filesystem launches a `chmod` process per created file and directory,
  * and FileContext renames launch `readlink` per file and per `.crc`; a
  * streaming query's offset, commit and state-store files pay those forks
  * on every micro-batch. Reads, listings and deletes stay on Hadoop's
  * local filesystem, which runs in process.
  *
  * Same contract as the parent class: a file is written to a temp file and
  * published by an atomic rename. Overwrite moves it over the target
  * atomically; no-overwrite hard-links it to the target, so an existing
  * target raises Hadoop's `FileAlreadyExistsException` and keeps its bytes,
  * and the temp file is removed either way. Files are created with no
  * `.crc` sidecar. A path whose filesystem is not `file` fails here, before
  * any filesystem is created, never by falling back.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf), hadoopConf) {

  private def local(p: Path): JPath = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(f)), null)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val (s, d) = (local(src), local(dst))
    if (overwriteIfPossible)
      Files.move(s, d, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    else try Files.createLink(d, s)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"checkpoint file $dst already exists")
    } finally Files.deleteIfExists(s)
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(path)
    mkdirs(qualified)
    qualified
  }
}

object LocalCheckpointFileManager {
  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"LocalCheckpointFileManager writes only local file: checkpoints; $path is on '$scheme'")
    path
  }
}
