package graft.tables

import graft.SparkSpecBase
import graft.conf.GraftSettings
import org.apache.hadoop.fs.Path
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
}
