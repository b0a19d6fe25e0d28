package graft.tables

import graft.SparkSpecBase
import graft.conf.GraftSettings
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Per-table properties: persisted settings overrides that travel WITH
  * the table (Delta's TBLPROPERTIES model) — every writer honors them
  * regardless of its session settings. */
class TablePropertiesSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    s"file://${Files.createTempDirectory(prefix).toString}/t"

  test("deletion_vectors property flips DML to the DV path for EVERY handle") {
    val p = tmp("props-dv-")
    // session settings have DVs OFF — the property overrides
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.setProperties(Map("deletion_vectors" -> "true"))
    assert(t.commits().last.action === "properties")
    assert(!t.commits().last.dataChange)
    val c = GraftTable(spark, p)(GraftSettings.default) // FRESH handle
      .delete(col("id") <= 5).get
    assert(c.dvs.exists(_.nonEmpty), "property must flip the fresh handle to DVs")
    assert(t.read().count() === 45)
    // SQL DML resolves its own table with session-default settings — the
    // property still routes it through DVs
    spark.sql("DROP TABLE IF EXISTS props_dv_t")
    spark.sql(s"CREATE TABLE props_dv_t USING graft LOCATION '$p'")
    spark.sql("DELETE FROM props_dv_t WHERE id > 45")
    assert(t.commits().last.dvs.exists(_.nonEmpty),
      "SQL DELETE must honor the table property")
    // NO manual refresh: the DML command itself must drop the catalog's
    // cached relation (its format predates the deletion vectors)
    assert(spark.sql("SELECT count(*) FROM props_dv_t").head().getLong(0) === 40)
    spark.sql("DROP TABLE props_dv_t")
    // UNSET restores the session behavior (classic rewrite)
    t.unsetProperties(Seq("deletion_vectors"))
    val c2 = t.delete(col("id") === 20).get
    assert(c2.dvs.isEmpty && c2.remove.nonEmpty)
  }

  test("change_data_feed property records CDF without session settings") {
    val p = tmp("props-cdf-")
    val t = GraftTable(spark, p)(GraftSettings.default) // CDF off in session
    t.setProperties(Map("change_data_feed" -> "true"))
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.delete(col("id") === 1)
    val ch = t.readChanges(1).filter(col("_change_type") === "delete")
    assert(ch.select("id").as[Int].collect().toSeq === Seq(1))
  }

  test("SQL SET/UNSET/SHOW TBLPROPERTIES on path targets; validation is eager") {
    val p = tmp("props-sql-")
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    spark.sql(
      s"ALTER TABLE '$p' SET TBLPROPERTIES ('deletion_vectors' = 'true', 'owner' = 'corpus-team')")
    assert(t.tableProperties === Map(
      "deletion_vectors" -> "true", "owner" -> "corpus-team"))
    val shown = spark.sql(s"SHOW TBLPROPERTIES '$p'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown === t.tableProperties)
    spark.sql(s"ALTER TABLE '$p' UNSET TBLPROPERTIES IF EXISTS ('owner', 'ghost')")
    assert(t.tableProperties === Map("deletion_vectors" -> "true"))
    // a malformed value for a KNOWN key fails at SET time, not on a write
    intercept[Exception](
      spark.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES ('compact_target_bytes' = 'huge')"))
    // ...naming the key and the value, for enumerations and booleans too
    Seq("barrier_mode" -> "eager", "deletion_vectors" -> "yes").foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](t.setProperties(Map(k -> v)))
      assert(e.getMessage.contains(s"'$k'") && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    assert(t.tableProperties === Map("deletion_vectors" -> "true"))
    // vanilla catalog TBLPROPERTIES still delegates
    spark.sql("DROP TABLE IF EXISTS props_plain")
    spark.sql("CREATE TABLE props_plain (id INT) USING parquet")
    spark.sql("ALTER TABLE props_plain SET TBLPROPERTIES ('k'='v')")
    assert(spark.sql("SHOW TBLPROPERTIES props_plain").collect()
      .exists(r => r.getString(0) == "k"))
    spark.sql("DROP TABLE props_plain")
  }

  test("vacuum_retention_hours table property drives vacuum's default retention") {
    val p = tmp("props-vac-")
    val t = GraftTable(spark, p)(GraftSettings.default) // session default: 768h
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    // the table declares ITS retention (0h — discriminating: a vacuum
    // that fell back to the session's 768h would keep everything)
    t.setProperties(Map("vacuum_retention_hours" -> "0"))
    t.overwrite(Seq((99, "only")).toDF("id", "v")) // v1's file turns dead
    val deadFile = t.commits().find(_.action == "overwrite").get.remove.head
    Thread.sleep(5) // the removing commit must be strictly older than the cutoff
    // API vacuum with NO argument: table property wins over session default
    val deleted = t.vacuum()
    assert(deleted.contains(deadFile),
      s"vacuum ignored the table's vacuum_retention_hours property: $deleted")
    // SQL VACUUM with no RETAIN clause honors the property the same way
    t.overwrite(Seq((100, "again")).toDF("id", "v"))
    val deadFile2 = t.commits().filter(_.action == "overwrite").last.remove.head
    Thread.sleep(5)
    val sqlDeleted = spark.sql(s"VACUUM '$p'").collect().map(_.getString(0))
    assert(sqlDeleted.contains(deadFile2))
    // an explicit RETAIN (argument) still overrides the property — set a
    // huge retention, dead files survive a no-arg vacuum but fall to an
    // explicit 0h clause
    t.setProperties(Map("vacuum_retention_hours" -> "10000"))
    t.overwrite(Seq((101, "x")).toDF("id", "v"))
    val deadFile3 = t.commits().filter(_.action == "overwrite").last.remove.head
    assert(!t.vacuum().contains(deadFile3), "property retention must protect the file")
    Thread.sleep(5) // the removing commit must be strictly older than the cutoff
    assert(t.vacuum(retentionHours = 0.0).contains(deadFile3))
  }

  test("tableProperties are cached per instance, invalidated by version change") {
    val p = tmp("props-cache-")
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.setProperties(Map("owner" -> "corpus-team"))
    assert(t.tableProperties === Map("owner" -> "corpus-team"))
    // delete the sidecar BEHIND the handle: a cached read must not notice
    // while the version is unchanged (this is what makes the ~5
    // effectiveSettings consults of one DML cost ~0 extra RPCs)
    val fs = graft.lake.FsUtils.fs(spark, t.path)
    val sidecar = new org.apache.hadoop.fs.Path(s"${t.path}/_graft_log/_properties.json")
    assert(fs.exists(sidecar))
    fs.delete(sidecar, false)
    assert(t.tableProperties === Map("owner" -> "corpus-team"),
      "version unchanged -> the cache must serve without re-reading")
    // a commit (version change) invalidates: the vanished sidecar shows
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.tableProperties === Map.empty)
    // cross-handle visibility: a FOREIGN writer's setProperties publishes
    // a commit, so this handle's next read re-validates and sees it
    val other = GraftTable(spark, p)(GraftSettings.default)
    other.setProperties(Map("owner" -> "other-team"))
    assert(t.tableProperties === Map("owner" -> "other-team"))
    // the constraints sidecar rides the same version-keyed cache
    t.addConstraint("pos", "id > 0")
    assert(t.constraints === Map("pos" -> "id > 0"))
    val constraintsFile =
      new org.apache.hadoop.fs.Path(s"${t.path}/_graft_log/_constraints.json")
    assert(fs.exists(constraintsFile))
    fs.delete(constraintsFile, false)
    assert(t.constraints === Map("pos" -> "id > 0"),
      "version unchanged -> the cached constraints must serve without re-reading")
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.constraints === Map.empty)
  }

  test("compact_target_bytes property scopes OPTIMIZE's bin-packing") {
    val p = tmp("props-opt-")
    val t = GraftTable(spark, p)(GraftSettings.default)
    (1 to 4).foreach(i =>
      t.append((1 to 10).map(j => (i * 100 + j, "x")).toDF("id", "v").coalesce(1)))
    // tiny target: every file is already "compact" -> optimize is a no-op
    t.setProperties(Map("compact_target_bytes" -> "1"))
    assert(t.optimize().isEmpty)
    // restore a real target: the 4 small files pack
    t.unsetProperties(Seq("compact_target_bytes"))
    assert(t.optimize().nonEmpty)
    assert(t.liveFiles().size === 1)
    assert(t.read().count() === 40)
  }
}
