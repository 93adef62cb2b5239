package graft.engine

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one place every streaming query in the program starts: the drained
  * entries through [[graft.analytics.StreamDrain]], the engine and its
  * entries through [[GraftProcessor.start]].
  *
  * Per-query confs reach only their query. `StreamExecution`'s constructor
  * clones the session (`cloneSession()`, Spark 4.1.2) before it builds the
  * offset and commit logs, and those logs and every batch, with its state
  * stores, read that clone. So the confs are set on the caller's session
  * only across `start()`, under one JVM-wide lock, and restored before the
  * lock is released. Every start takes the lock, with or without confs of
  * its own, so no query clones another one's values; code that reads the
  * session outside the lock (the batch entries) can still see them during
  * that one call. Queries stay on the caller's session rather than a
  * `newSession()` child: a child has its own `spark.streams` listener bus,
  * and `Tables`, `StageCache` and the source-schema memo key on the session.
  *
  * A query whose checkpoint resolves to the `file` scheme also gets the
  * [[LocalCheckpointFileManager]], unless the caller's session names a
  * manager itself. Other schemes keep Spark's choice. */
private[graft] object QueryStart {

  /** Held across every start and conf swap; specs that read the caller's
    * conf while queries start take it too. */
  val lock = new Object

  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  val LocalCheckpoints: String = classOf[LocalCheckpointFileManager].getName

  /** Starts `w` on `spark` with its checkpoint at `checkpointLocation`,
    * `confs` set for this query only. */
  def apply(spark: SparkSession, w: DataStreamWriter[Row], checkpointLocation: String,
      trigger: Trigger, confs: Seq[(String, String)] = Nil): StreamingQuery =
    lock.synchronized {
      // explicit settings only, so an unset key is unset again, not pinned
      // to its default
      val set = spark.conf.getAll
      val local = new Path(checkpointLocation)
        .getFileSystem(spark.sparkContext.hadoopConfiguration).getScheme == "file"
      val all = (if (local && !set.contains(ManagerKey)) Seq(ManagerKey -> LocalCheckpoints)
        else Nil) ++ confs
      val prev = all.map { case (k, _) => k -> set.get(k) }
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try w.option("checkpointLocation", checkpointLocation).trigger(trigger).start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}

/** The checkpoint file manager of every streaming query whose checkpoint is
  * on the local file system: Spark's `FileSystem`-based manager, with the
  * calls that write done on `java.nio`. Without libhadoop, Hadoop's local
  * file system runs `chmod` for every file and directory it creates, and
  * Spark's default `FileContext` manager also runs `readlink` for every
  * rename: over a thousand process starts in one 20 s engine drain, and
  * ~30 ms for each offset-log and commit-log write after every micro-batch.
  * Spark's `FileSystem` manager cannot stand in as it is: Hive's
  * `ProxyLocalFileSystem`, which serves `file:` on Spark's classpath,
  * refuses to rename onto an existing file, and that manager then keeps
  * the old file without an error when asked to overwrite it.
  *
  * A file is written to a temp file beside its target and moved into place
  * with one atomic rename. A move that may not overwrite first checks that
  * the target is absent, as Spark's managers do, and drops the temp file
  * when it is not; a move that may, replaces it. So a crash leaves either
  * the old file or the new one. The temp file gets no `.crc` sidecar:
  * Hadoop reads a file without one unchecked, and the target's old sidecar
  * is deleted before the move. */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {

  private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val to = local(dst)
    if (!overwriteIfPossible && Files.exists(to)) {
      Files.deleteIfExists(local(src)) // Spark's caller leaves it behind
      throw new FileAlreadyExistsException(s"cannot rename $src to $dst: $dst exists")
    }
    Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
    Files.move(local(src), to, StandardCopyOption.ATOMIC_MOVE)
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(path)
    Files.createDirectories(local(qualified))
    qualified
  }
}
