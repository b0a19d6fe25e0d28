package graft.lake

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import java.util.UUID

/** Filesystem utilities (reference `jibaro/utils.py:11-34` — `path_exists`,
  * `delete_path`). The reference reaches the Hadoop FS through py4j; we call
  * it directly on the JVM, so these are thin, exception-safe wrappers that
  * resolve the correct `FileSystem` per-URI (file://, s3a://, hdfs://, ...).
  */
object FsUtils {

  def fs(spark: SparkSession, path: String): FileSystem = {
    graft.api.GraftSession.requireClassic(spark.getClass.getName,
      "the graft table/lake Scala API (driver-side filesystem + commit-log access)")
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  def pathExists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Recursive delete; returns false when the path did not exist. */
  def deletePath(spark: SparkSession, path: String): Boolean =
    fs(spark, path).delete(new Path(path), true)

  def mkdirs(spark: SparkSession, path: String): Boolean =
    fs(spark, path).mkdirs(new Path(path))

  /** Non-recursive listing; empty when the path does not exist. */
  def list(spark: SparkSession, path: String): Seq[FileStatus] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq
  }

  /** All data files under `path`, recursively, skipping hidden files and
    * metadata trees (`_`/`.`-prefixed — Spark convention). */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return Seq.empty
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(p: Path): Seq[FileStatus] =
      f.listStatus(p).toSeq.filter(st => visible(st.getPath)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st)
      }
    walk(root)
  }

  def totalSizeBytes(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).map(_.getLen).sum

  /** The Long a consumer cursor file holds (a checkpoint's last processed
    * version); 0 when the file does not exist yet. */
  def readLong(spark: SparkSession, file: Path): Long = {
    val f = fs(spark, file.toString)
    if (!f.exists(file)) 0L
    else {
      val in = f.open(file)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Replace a cursor file's Long with `v` ([[replaceFile]]): a crash
    * keeps the old value (at-least-once), never progress that was not
    * made, and never no cursor at all — which would replay the consumer's
    * WHOLE history. */
  def writeLong(spark: SparkSession, file: Path, v: Long): Unit =
    replaceFile(spark, file, v.toString.getBytes("UTF-8"))

  /** Replace `file`'s content with `bytes`: readers see the old content
    * or the new, never neither. The bytes go to a unique
    * `.<name>.<uuid>.tmp` beside the file and one rename moves them over
    * it — a plain rename where the store's rename overwrites (POSIX), the
    * store's OVERWRITE rename where it refuses an existing destination
    * (HDFS). The old file is never deleted first: a failed replace removes
    * its tmp file and throws naming `file`, which keeps its content. */
  def replaceFile(spark: SparkSession, file: Path, bytes: Array[Byte]): Unit = {
    val f = fs(spark, file.toString)
    f.mkdirs(file.getParent)
    val tmp = new Path(file.getParent, s".${file.getName}.${UUID.randomUUID()}.tmp")
    val out = f.create(tmp, false)
    try out.write(bytes)
    finally out.close()
    def overwriteRename(): Boolean =
      try {
        FileContext.getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, file, Options.Rename.OVERWRITE)
        true
      } catch { case _: UnsupportedFileSystemException => false }
    var replaced = false
    try replaced = f.rename(tmp, file) || overwriteRename()
    finally if (!replaced) f.delete(tmp, false)
    if (!replaced) throw new IllegalStateException(
      s"failed to replace $file: the filesystem refused to rename $tmp over it")
  }
}
