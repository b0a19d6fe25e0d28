package graft.tables

import graft.SparkSpecBase
import graft.conf.GraftSettings
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.Files

/** Every commit goes through one funnel ([[GraftTable.commitRewrite]]):
  * metadata commits, `repair` and `convert` meet an interleaved foreign
  * commit through the same conflict check as DML. The foreign commit is
  * interleaved through the `onBeforeRewriteCommit` seam, which fires
  * before every commit's first attempt. */
class CommitFunnelSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpPath(): String =
    s"file://${Files.createTempDirectory("graft-funnel-")}/t"

  private def table(path: String): GraftTable = GraftTable(spark, path)(GraftSettings.default)

  /** Arm `t`'s seam with `foreign`; the returned probe says whether it fired. */
  private def interleave(t: GraftTable)(foreign: => Unit): () => Boolean = {
    var fired = false
    t.onBeforeRewriteCommit = () => { fired = true; foreign }
    () => fired
  }

  test("rename and set-properties keep the column an interleaved append added") {
    val path = tmpPath()
    val t = table(path)
    t.append(Seq((1, "a")).toDF("id", "v"))
    val renameRaced = interleave(t)(
      table(path).append(Seq((2, "b", 20L)).toDF("id", "v", "w")))
    t.renameColumn("v", "name")
    assert(renameRaced())
    val propsRaced = interleave(t)(
      table(path).append(Seq((3, "c", 30L, true)).toDF("id", "name", "w", "x")))
    t.setProperties(Map("owner" -> "ops"))
    assert(propsRaced())

    val fresh = table(path)
    assert(fresh.commits().map(_.action)
      === Seq("append", "append", "rename_column", "append", "properties"))
    val logged = DataType.fromJson(fresh.currentSchemaJson.get).asInstanceOf[StructType]
    assert(logged.fields.filterNot(ColumnMapping.isDropped).map(_.name).toSeq
      === Seq("id", "name", "w", "x"))
    assert(fresh.tableProperties === Map("owner" -> "ops"))
    assert(fresh.read().orderBy("id")
      .as[(Int, String, Option[Long], Option[Boolean])].collect().toSeq
      === Seq((1, "a", None, None), (2, "b", Some(20L), None), (3, "c", Some(30L), Some(true))))
  }

  test("a convert racing a convert fails loudly and each file is adopted once") {
    val path = tmpPath()
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").repartition(3).write.parquet(path)
    val t = table(path)
    val raced = interleave(t)(table(path).convert())
    val e = intercept[IllegalStateException](t.convert())
    assert(raced())
    assert(e.getMessage.contains("concurrent convert commit v1"), e.getMessage)

    val fresh = table(path)
    assert(fresh.commits().map(_.action) === Seq("convert"))
    val adopted = fresh.changesByVersion(0).flatMap(_._2)
    assert(adopted.nonEmpty && adopted.distinct === adopted)
    assert(adopted.size === fresh.liveFiles().size)
    assert(fresh.read().count() === 3)
  }

  test("a foreign append interleaved into repair stays live") {
    val path = tmpPath()
    val t = table(path)
    t.append(Seq((1, "a")).toDF("id", "v").coalesce(1))
    t.append(Seq((2, "b")).toDF("id", "v").coalesce(1))
    val lost = t.liveFiles().last
    graft.lake.FsUtils.fs(spark, path).delete(new Path(path, lost), false)
    val raced = interleave(t)(table(path).append(Seq((3, "c")).toDF("id", "v")))
    assert(t.repair(dryRun = false) === Seq(lost))
    assert(raced())

    val fresh = table(path)
    assert(fresh.commits().map(_.action) === Seq("append", "append", "append", "repair"))
    assert(fresh.read().as[(Int, String)].collect().toSet === Set((1, "a"), (3, "c")))
  }

  // ---- the one file-rewrite path: every file-replacing operation

  private val compactKeys = Set("numOutputFiles", "numRemovedFiles", "numCompactedBytes")
  private val dmlKeys = Set("numRewrittenFiles", "numOutputFiles")
  private val dvOn = GraftSettings(deletionVectors = true)

  /** (operation, settings, call, the metric keys its commit carries) —
    * `CdcPipelines` and `GraftReorgCommand` read these keys. */
  private val rewrites: Seq[(String, GraftSettings, GraftTable => Option[Commit], Set[String])] = Seq(
    ("compactIfNeeded", GraftSettings.default, _.compactIfNeeded(maxFiles = 1), compactKeys),
    ("optimize(zorderBy)", GraftSettings.default, _.optimize(zorderBy = Seq("id")), compactKeys),
    ("optimize()", GraftSettings.default, _.optimize(), compactKeys),
    ("purgeDeletionVectors", dvOn, t => { t.delete(col("id") === 1); t.purgeDeletionVectors() },
      Set("numOutputFiles", "numRemovedFiles", "numPurgedDeletionVectors")),
    ("delete", GraftSettings.default, _.delete(col("id") === 1), dmlKeys),
    ("update", GraftSettings.default, _.update(col("id") === 1, Map("v" -> lit("z"))), dmlKeys),
    ("upsert", GraftSettings.default,
      t => Some(t.upsert(Seq((1, "z", "u")).toDF("id", "v", "op"), Seq("id"), "op")), dmlKeys))

  /** Three small files of (id INT NOT NULL, v STRING). */
  private def seeded(settings: GraftSettings): GraftTable = {
    val t = GraftTable(spark, tmpPath())(settings)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((3, "c")).toDF("id", "v"))
    t.append(Seq((4, "d")).toDF("id", "v"))
    t
  }

  test("every rewrite that does not evolve the schema records it unchanged, nullability included") {
    rewrites.filter(_._1 != "upsert").foreach { case (name, settings, op, _) =>
      val t = seeded(settings)
      val before = t.currentSchemaJson.get
      assert(!DataType.fromJson(before).asInstanceOf[StructType]("id").nullable)
      assert(op(t).isDefined, name)
      assert(t.currentSchemaJson.get === before, name)
    }
  }

  test("each rewrite's commit keeps its metric keys") {
    rewrites.foreach { case (name, settings, op, keys) =>
      assert(op(seeded(settings)).get.metrics.keySet === keys, name)
    }
  }

  test("purging deletion vectors on a bucketed table shuffles once: the bucket routing") {
    val t = GraftTable(spark, tmpPath())(dvOn)
    t.setBucketSpec(Seq("id"), 4)
    t.append((1 to 40).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 1 || col("id") === 2)
    val before = t.read().as[(Int, String)].collect().toSet
    val sc = spark.sparkContext
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(t.purgeDeletionVectors().isDefined)
      org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(shuffleStages.get === 1)
    assert(t.snapshot().dvFor.isEmpty)
    assert(t.read().as[(Int, String)].collect().toSet === before)
  }
}
