package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint files on `file:` paths without Hadoop's
  * `FileContext`.
  *
  * Spark's default manager writes through `FileContext`. On the local file
  * system without libhadoop, that runs `readlink` and `chmod` as child
  * processes: 10 forks for each of a micro-batch's two checkpoint commits
  * (the offsets log and the commits log). `file:` paths get Spark's
  * `FileSystemBasedCheckpointFileManager` instead. It writes the same
  * files through the checksummed `LocalFileSystem` (`.crc` files kept,
  * atomic write-then-rename) and forks only the `chmod` that
  * `RawLocalFileSystem` runs on each new file: 2 per commit. Every other
  * scheme (HDFS, S3, ...) gets exactly the manager Spark picks without
  * this class. `GraftSession.builder` installs it through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalFsCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalFsCheckpointFileManager.isLocal(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalFsCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalFsCheckpointFileManager {
  /** the Spark SQL conf that names the checkpoint file manager class */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `path` is on the local file system; a path with no scheme resolves
    * against `fs.defaultFS`, as Spark qualifies checkpoint paths */
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
