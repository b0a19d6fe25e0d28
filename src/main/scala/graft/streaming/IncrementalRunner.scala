package graft.streaming

import graft.lake.FsUtils
import graft.tables.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-to-drain incremental consumption over a [[GraftTable]] — the engine's
  * equivalent of the reference's `readStream.format("delta") ... foreachBatch
  * + Trigger.Once` loops (`jibaro/datalake/cdc.py:121-126,250-256`).
  *
  * The checkpoint is the last processed table version, committed AFTER the
  * batch function returns — so a crash before the checkpoint write replays
  * the batch (at-least-once into idempotent batch functions; the CDC apply
  * is idempotent because it is keyed, like the reference's MERGE).
  * Compaction commits (`dataChange = false`) are invisible, matching the
  * reference's reliance on Delta's dataChange flag.
  */
object IncrementalRunner {

  def lastProcessedVersion(spark: SparkSession, checkpointPath: String): Long =
    FsUtils.readLong(spark, new Path(checkpointPath, "version"))

  private def writeCheckpoint(spark: SparkSession, checkpointPath: String, v: Long): Unit =
    FsUtils.writeLong(spark, new Path(checkpointPath, "version"), v)

  def deleteCheckpoint(spark: SparkSession, checkpointPath: String): Unit =
    FsUtils.deletePath(spark, checkpointPath)

  /** Process everything new since the checkpoint in bounded, checkpointed
    * batches, committing the checkpoint after EACH batch. Returns true when
    * at least one batch ran.
    *
    * `maxFilesPerBatch` mirrors the reference's deliberate rate caps
    * (`maxFilesPerTrigger=1000`, `jibaro/datalake/protobuf_handler.py:157`;
    * `maxOffsetsPerTrigger=100000`, `cdc.py:29`): a week of backlog at
    * scale must NOT become one giant merge — it drains as a sequence of
    * bounded batches, each individually recoverable. Batches always end on
    * a commit-version boundary (a version's files are never split), so a
    * crash replays whole versions into the idempotent batch function.
    * Each batch is read under the log schema at its last version
    * ([[GraftTable.readChangedFiles]]): logical column names, with NULL
    * where an older file lacks a column.
    * `maxFilesPerBatch <= 0` disables the cap. */
  def runOnce(
      spark: SparkSession,
      table: GraftTable,
      checkpointPath: String,
      maxFilesPerBatch: Int = 1000)(process: DataFrame => Unit): Boolean = {
    val from = lastProcessedVersion(spark, checkpointPath)
    val to = table.version
    val byVersion = table.changesByVersion(from)
    if (byVersion.isEmpty) {
      if (to > from) writeCheckpoint(spark, checkpointPath, to)
      return false
    }
    var ran = false
    var chunkFiles = Vector.empty[String]
    var chunkVersion = from
    def flush(): Unit = if (chunkFiles.nonEmpty || chunkVersion > from) {
      if (chunkFiles.nonEmpty) {
        process(table.readChangedFiles(chunkFiles, chunkVersion))
        ran = true
      }
      writeCheckpoint(spark, checkpointPath, chunkVersion)
      chunkFiles = Vector.empty
    }
    byVersion.foreach { case (version, files) =>
      val wouldOverflow = maxFilesPerBatch > 0 && chunkFiles.nonEmpty &&
        chunkFiles.size + files.size > maxFilesPerBatch
      if (wouldOverflow) flush()
      chunkFiles ++= files
      chunkVersion = version
    }
    flush()
    // trailing non-dataChange commits (e.g. compactions) advance the mark too
    if (to > chunkVersion) writeCheckpoint(spark, checkpointPath, to)
    ran
  }
}
