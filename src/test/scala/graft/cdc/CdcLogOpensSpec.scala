package graft.cdc

import java.nio.file.Files

import graft.SparkSpecBase
import graft.conf.{GraftSettings, Layer}
import graft.lake.{LakePath, TableRef}
import graft.tables.{CountingLocalFs, GraftTable}

object CdcLogOpensSpec {
  case class Img(id: Int, name: String)
  case class Key(id: Int)
  case class Envelope(before: Option[Img], after: Option[Img], op: String)
  case class StagedRow(key: Key, value: Envelope, timestamp: java.sql.Timestamp,
      offset: Long, keySchemaId: Int, valueSchemaId: Int)
}

/** Per-batch metadata cost of the CDC path: one `stagedToCurated` batch
  * must open a number of log files that does not grow with the length of
  * the staged, curated and history logs — the batch reads only the
  * checkpoint, the commits after it and its own new commits, never the
  * whole history. Measured in log-file opens over [[CountingLocalFs]]
  * (`cfile:` lake paths), the currency of an object store. */
class CdcLogOpensSpec extends SparkSpecBase {
  import spark.implicits._
  import CdcLogOpensSpec._

  private val Interval = 20 // log checkpoint cadence

  test("log opens per stagedToCurated batch stay flat as the logs grow") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfile.impl", classOf[CountingLocalFs].getName)
    val root = Files.createTempDirectory("graft-cdc-opens-").toString
    implicit val settings: GraftSettings = GraftSettings.local(root).copy(
      protocol = "cfile", vacuumEveryNVersions = 0, logCheckpointInterval = Interval)
    val (project, database, table) = ("lake", "inv", "opens")
    val tables = Seq(
      "staged" -> LakePath.data(TableRef(Layer.Staged, project, database, table)),
      "curated" -> LakePath.data(TableRef(Layer.Curated, project, database, table)),
      "history" -> LakePath.history(TableRef(Layer.Curated, project, database, table)))
    val staged = GraftTable(spark, tables.head._2)

    var nextId = 0
    def stageOne(): Unit = {
      nextId += 1
      staged.append(Seq(StagedRow(Key(nextId),
        Envelope(None, Some(Img(nextId, s"n$nextId")), "c"),
        new java.sql.Timestamp(nextId * 1000L), nextId, 1, 1)).toDF())
    }
    def batch(): Unit = CdcPipelines.stagedToCurated(spark, project, database, table)
    // cheap growth: metadata-only commits (no Spark job) walk each log to
    // `v` through the ordinary commit path, checkpoints included; a batch
    // with no new data then moves the runner's mark past them
    def growTo(v: Long): Unit = {
      tables.foreach { case (_, p) =>
        val t = GraftTable(spark, p)
        while (t.version < v) t.unsetProperties(Seq("log_growth"))
      }
      batch()
    }
    // one new staged commit, then one batch; the batch's log opens per table
    def measure(): Map[String, Long] = {
      stageOne()
      CountingLocalFs.reset()
      batch()
      tables.map { case (name, p) => name -> CountingLocalFs.opensOf(p) }.toMap
    }

    stageOne()
    batch() // bootstrap: curated v1, history v1
    // both measurements sit at the same offset from a checkpoint
    growTo(Interval - 2)
    val short = measure()
    growTo(15L * Interval - 2)
    val long = measure()
    info(s"log opens per batch at v≈${Interval - 1}: $short; at v≈${15 * Interval - 1}: $long")

    assert(GraftTable(spark, tables(1)._2).read().select("id").as[Int].collect().toSet
      === (1 to nextId).toSet)
    // the batch commits once to curated and once to history
    val newCommits = Map("staged" -> 0, "curated" -> 1, "history" -> 1)
    tables.foreach { case (name, _) =>
      assert(short(name) > 0, s"$name: the batch must read its log")
      assert(long(name) <= short(name) + Interval + newCommits(name),
        s"$name: log opens grew with the log, $short at v≈${Interval - 1} vs $long " +
          s"at v≈${15 * Interval - 1}")
    }
  }
}
