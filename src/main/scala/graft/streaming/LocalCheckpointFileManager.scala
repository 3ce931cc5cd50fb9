package graft.streaming

import java.nio.file.{Files, Path => JPath, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.sources.LocalFileCommit

/** Spark's default checkpoint file manager, except that an atomic
  * write to a `file://` path goes through [[LocalFileCommit]] instead
  * of a Hadoop temp-file create plus FileContext rename. Those spawn
  * `chmod` and `readlink` subprocesses on a JVM without libhadoop,
  * about 26 ms per offset, commit or state-store file. Directory creation
  * on `file://` likewise goes through `java.nio` (Hadoop runs `chmod`
  * per created directory). Every other scheme and every other
  * operation (open, list, exists, delete) keeps Spark's code.
  *
  * Spark instantiates it by class name from
  * `spark.sql.streaming.checkpointFileManagerClass`, which
  * [[StreamingWindows.withStreamPartitions]] sets for the streams it
  * starts. */
class LocalCheckpointFileManager(dir: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(dir, hadoopConf) {

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    LocalFileCommit.localPath(fc.makeQualified(path)) match {
      case Some(target) =>
        Files.createDirectories(target.getParent) // as Hadoop's create does
        new LocalCheckpointFileManager.AtomicStream(
          LocalFileCommit.tempFor(target), target, overwriteIfPossible)
      case None => super.createAtomic(path, overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit =
    LocalFileCommit.mkdirs(fc.makeQualified(path))(super.mkdirs(path))

  override def createCheckpointDirectory(): Path = {
    val qualified = fc.makeQualified(dir)
    mkdirs(qualified)
    qualified
  }
}

object LocalCheckpointFileManager {

  /** Writes to a hidden temp; `close()` publishes it (replace, or
    * create-if-absent failing with Hadoop's FileAlreadyExistsException
    * as Spark's rename does), `cancel()` deletes it. */
  private final class AtomicStream(temp: JPath, target: JPath,
      overwrite: Boolean)
      extends CancellableFSDataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close()
        catch { case e: Throwable => Files.deleteIfExists(temp); throw e }
        if (!LocalFileCommit.publish(temp, target, overwrite))
          throw new FileAlreadyExistsException(s"$target already exists")
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case scala.util.control.NonFatal(_) => () }
        Files.deleteIfExists(temp)
      }
    }
  }
}
