package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions
import graft.conf.GraftSettings

/** Maintenance SQL through the injected parser: VACUUM / OPTIMIZE /
  * DESCRIBE HISTORY / RESTORE route to the same GraftTable primitives as
  * the Scala API; everything else must delegate to Spark's parser
  * untouched. */
class GraftMaintenanceSqlSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-maint-sql-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private def freshPath(): String =
    Files.createTempDirectory("graft-maint-").toString + "/t"

  test("DESCRIBE HISTORY serves the commit log for a path and a catalog table") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    val hist = spark.sql(s"DESCRIBE HISTORY '$p'")
    assert(hist.columns.toSeq ===
      Seq("version", "timestamp", "operation", "dataChange", "numAddedFiles",
        "operationMetrics", "numFiles"))
    // newest first, like the API history()
    assert(hist.select("version").as[Long].collect().toSeq === Seq(2L, 1L))
    assert(hist.select("operation").as[String].collect().toSet === Set("append"))

    spark.sql("DROP TABLE IF EXISTS maint_hist")
    spark.sql(s"CREATE TABLE maint_hist USING graft LOCATION '$p'")
    assert(spark.sql("DESC HISTORY maint_hist").count() === 2)
    // a non-graft catalog table is refused loudly
    spark.sql("DROP TABLE IF EXISTS maint_pq")
    val pq = Files.createTempDirectory("graft-maint-pq-").toString
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$pq/t")
    spark.sql(s"CREATE TABLE maint_pq USING parquet LOCATION '$pq/t'")
    val e = intercept[Exception](spark.sql("DESCRIBE HISTORY maint_pq").collect())
    assert(e.getMessage.contains("not a graft table"))
  }

  test("OPTIMIZE compacts to fewer files with dataChange=false, content unchanged") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    (1 to 6).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val before = t.read().as[(Int, String)].collect().toSet
    val row = spark.sql(s"OPTIMIZE '$p'").collect().head
    assert(row.getLong(0) === 6L)
    assert(row.getLong(1) < 6L)
    assert(t.commits().last.dataChange === false)
    assert(t.read().as[(Int, String)].collect().toSet === before)
    // already-one-file is a no-op (no new commit)
    if (row.getLong(1) == 1L) {
      val v = t.version
      spark.sql(s"OPTIMIZE '$p'").collect()
      assert(t.version === v)
    }
  }

  test("OPTIMIZE ZORDER BY keeps data skipping selective after compaction") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    // 8 appends each covering the FULL key range: pre-compaction pruning
    // is useless; a clustered rewrite makes it selective again
    (1 to 8).foreach(_ => t.append((1 to 100).map(i => (i, i.toString)).toDF("id", "v")))
    spark.sql(s"OPTIMIZE '$p' ZORDER BY (id)").collect()
    assert(t.commits().last.dataChange === false)
    val files = t.liveFiles()
    if (files.size > 1) {
      // stats-pruned point read touches a strict subset of live files
      val touched = t.prunedFiles(org.apache.spark.sql.functions.col("id") === 50)
      assert(touched.size < files.size)
    }
    assert(t.read().count() === 800)
  }

  test("OPTIMIZE ZORDER BY keeps a catalog table's NOT NULL column: DELETE and SELECT still resolve") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    spark.sql("DROP TABLE IF EXISTS maint_zorder_nn")
    spark.sql(s"CREATE TABLE maint_zorder_nn USING graft LOCATION '$p'")
    assert(!spark.table("maint_zorder_nn").schema("id").nullable)
    spark.sql("OPTIMIZE maint_zorder_nn ZORDER BY (id)").collect()
    spark.sql("DELETE FROM maint_zorder_nn WHERE id = 1")
    assert(spark.sql("SELECT count(*) FROM maint_zorder_nn").head().getLong(0) === 2L)
  }

  test("optimize bin-packs ONLY sub-target files; already-compact files are never rewritten") {
    import spark.implicits._
    val p = freshPath()
    // tiny target: the seeded wide file counts as already-compact
    val t = GraftTable(spark, p)(GraftSettings(compactTargetBytes = 8 * 1024))
    t.append((1 to 4000).map(i => (i, "x" * 40)).toDF("id", "v").coalesce(1))
    val bigFile = t.liveFiles().head
    assert(t.snapshot().stats(bigFile).bytes.get >= 8 * 1024)
    (1 to 5).foreach(i => t.append(Seq((100000 + i, "s")).toDF("id", "v")))
    val c = t.optimize().get
    assert(c.dataChange === false)
    // the big file survived untouched; the 5 small ones merged
    assert(t.liveFiles().contains(bigFile))
    assert(!c.remove.contains(bigFile) && c.remove.size === 5)
    assert(t.read().count() === 4005)
    // second optimize: nothing small left to pack
    assert(t.optimize().isEmpty)
  }

  test("RESTORE TO VERSION AS OF rolls the live set back as a new commit") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    val row = spark.sql(s"RESTORE TABLE '$p' TO VERSION AS OF 1").collect().head
    assert(row.getLong(0) === 1L && row.getLong(1) === 3L)
    assert(t.read().as[(Int, String)].collect().toSeq === Seq((1, "a")))
    assert(t.version === 3L) // history preserved, restore is a commit
  }

  test("RESTORE TO TIMESTAMP AS OF restores the newest version at or before it") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    // the java.sql.Timestamp round-trip of v1's commit time targets v1
    // exactly (same JVM zone both ways)
    val ts = new java.sql.Timestamp(t.commits().head.timestampMs).toString
    val row = spark.sql(s"RESTORE TABLE '$p' TO TIMESTAMP AS OF '$ts'").collect().head
    assert(row.getLong(0) === 1L)
    assert(t.read().as[(Int, String)].collect().toSeq === Seq((1, "a")))
  }

  test("VACUUM deletes aged non-live files; RETAIN n VERSIONS trims the log") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings(logCheckpointInterval = 5))
    (1 to 12).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.delete(org.apache.spark.sql.functions.col("id") <= 6)
    val expect = t.read().as[(Int, String)].collect().toSet
    // DRY RUN reports the GC-able set without touching disk
    val dry = spark.sql(s"VACUUM '$p' RETAIN 0 HOURS DRY RUN").as[String].collect()
    assert(dry.nonEmpty)
    assert(dry.forall(f => new java.io.File(s"$p/$f").exists()))
    // RETAIN 0 HOURS: everything removed by a past commit is GC-able now
    val deleted = spark.sql(s"VACUUM '$p' RETAIN 0 HOURS").as[String].collect()
    assert(deleted.toSet === dry.toSet)
    assert(t.read().as[(Int, String)].collect().toSet === expect)
    // log trim through SQL (checkpoints at 5 and 10 exist)
    val trimmed = spark.sql(s"VACUUM '$p' RETAIN 2 VERSIONS").as[String].collect()
    assert(trimmed.nonEmpty)
    assert(t.read().as[(Int, String)].collect().toSet === expect)
    // below-horizon time travel fails loudly, not wrongly
    intercept[Exception](t.readRelation(asOf = 1))
  }

  test("CONVERT TO GRAFT adopts parquet in place: no rewrite, stats usable, provider flips") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-convert-").toString
    (1 to 50).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/t")
    val namesBefore = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    spark.sql("DROP TABLE IF EXISTS conv_pq")
    spark.sql(s"CREATE TABLE conv_pq USING parquet LOCATION '$dir/t'")
    val row = spark.sql("CONVERT TO GRAFT conv_pq").collect().head
    assert(row.getLong(0) === namesBefore.size.toLong && row.getLong(1) > 0)

    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    assert(t.version === 1L && t.commits().head.action === "convert")
    // files adopted in place — byte-identical, same names, no staging copies
    assert(t.liveFiles().toSet === namesBefore)
    assert(t.read().as[(Int, String)].collect().toSet ===
      (1 to 50).map(i => (i, s"v$i")).toSet)
    // stats landed: point-read pruning works immediately, bytes recorded
    val stats = t.commits().head.stats.get
    assert(stats.values.forall(_.bytes.exists(_ > 0)))
    // catalog provider flipped: graft DML works on the converted table
    spark.sql("DELETE FROM conv_pq WHERE id <= 10")
    assert(spark.table("conv_pq").count() === 40)

    // re-convert is refused; a hive-partitioned (k=v) tree now ADOPTS in
    // place (ConvertPartitionedSpec covers the full contract), while
    // non-k=v nesting is still refused loudly
    val e = intercept[Exception](spark.sql(s"CONVERT TO GRAFT '$dir/t'").collect())
    assert(e.getMessage.contains("already a graft table"))
    Seq((1, "a"), (2, "b")).toDF("id", "part").write.partitionBy("part")
      .mode("overwrite").parquet(s"$dir/nested")
    spark.sql(s"CONVERT TO GRAFT '$dir/nested'").collect()
    val tn = GraftTable(spark, s"$dir/nested")(GraftSettings.default)
    assert(tn.read().count() === 2)
    assert(tn.commits().head.metrics("partitionColumns") === "part")
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$dir/plainsub/sub")
    val e2 = intercept[Exception](spark.sql(s"CONVERT TO GRAFT '$dir/plainsub'").collect())
    assert(e2.getMessage.contains("k=v"))
  }

  test("CONVERT TO GRAFT NO STATISTICS adopts metadata-only in O(listing)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-convert-ns-").toString
    (1 to 10).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    spark.sql(s"CONVERT TO GRAFT '$dir/t' NO STATISTICS").collect()
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    assert(t.commits().head.stats.isEmpty)
    assert(t.read().count() === 10)
  }

  test("DESCRIBE DETAIL summarizes the table in one row; bucketed layout reported") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    val row = spark.sql(s"DESCRIBE DETAIL '$p'").collect().head
    assert(row.getAs[String]("format") === "graft")
    assert(row.getAs[String]("location") === p)
    assert(row.getAs[Long]("version") === t.version)
    assert(row.getAs[Long]("numFiles") === t.liveFiles().size.toLong)
    assert(row.getAs[Long]("sizeInBytes") > 0L)
    assert(!row.getAs[java.sql.Timestamp]("lastModified")
      .before(row.getAs[java.sql.Timestamp]("createdAt")))
    assert(row.getAs[Seq[String]]("bucketColumns") === Seq.empty[String])
    val p2 = freshPath()
    val t2 = GraftTable(spark, p2)(GraftSettings.default)
    t2.setBucketSpec(Seq("id"), 4)
    t2.append(Seq((1, "a")).toDF("id", "v"))
    val r2 = spark.sql(s"DESCRIBE DETAIL '$p2'").collect().head
    assert(r2.getAs[Seq[String]]("bucketColumns") === Seq("id"))
    assert(r2.getAs[Int]("numBuckets") === 4)
    // reader features surface to operators (Delta's tableFeatures): a
    // baseline table reports none, a DV-bearing table reports "dv"
    assert(row.getAs[Seq[String]]("readerFeatures") === Seq.empty[String])
    val p3 = freshPath()
    val t3 = GraftTable(spark, p3)(GraftSettings.default.copy(deletionVectors = true))
    t3.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    t3.delete(org.apache.spark.sql.functions.col("id") === 3)
    val r3 = spark.sql(s"DESCRIBE DETAIL '$p3'").collect().head
    assert(r3.getAs[Seq[String]]("readerFeatures") === Seq("dv"))
    // writer features surface the same way: a baseline table reports
    // none; declaring append_only binds writers from the next commit on
    assert(r3.getAs[Seq[String]]("writerFeatures") === Seq.empty[String])
    t3.setProperties(Map("append_only" -> "true"))
    t3.append(Seq((21, "u")).toDF("id", "v"))
    val r4 = spark.sql(s"DESCRIBE DETAIL '$p3'").collect().head
    assert(r4.getAs[Seq[String]]("writerFeatures") === Seq("append_only"))
  }

  test("OPTIMIZE WHERE scopes bin-packing by file stats; out-of-scope files untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    // two small files per key range: id 1-10 in scope, id 101-110 out
    (1 to 2).foreach(_ =>
      t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)))
    (1 to 2).foreach(_ =>
      t.append((101 to 110).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)))
    val outFiles = t.prunedFiles(col("id") >= 100).toSet
    assert(outFiles.size === 2)
    val row = spark.sql(s"OPTIMIZE '$p' WHERE id < 50").collect().head
    assert(row.getLong(0) === 4L && row.getLong(1) === 3L)
    // the out-of-scope files survived under their original names
    assert(outFiles.subsetOf(t.liveFiles().toSet))
    assert(t.read().count() === 40)
    assert(t.commits().last.dataChange === false)
    // an un-prunable predicate refuses instead of silently compacting ALL
    intercept[Exception](spark.sql(s"OPTIMIZE '$p' WHERE id % 2 = 0").collect())
    // WHERE cannot scope the global clustered rewrite
    intercept[Exception](
      spark.sql(s"OPTIMIZE '$p' WHERE id < 50 ZORDER BY (id)").collect())
  }

  test("CHECK constraints: ADD validates existing rows, enforced in-plan on every write, DROP lifts") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, 10), (2, 20)).toDF("id", "qty"))
    // a constraint existing rows violate is refused (Delta semantics)
    intercept[Exception](
      spark.sql(s"ALTER TABLE '$p' ADD CONSTRAINT big CHECK (qty > 15)").collect())
    assert(t.constraints.isEmpty)
    // a valid constraint persists and lands as a metadata commit
    val v0 = t.version
    spark.sql(s"ALTER TABLE '$p' ADD CONSTRAINT positive CHECK (qty > 0)").collect()
    assert(t.constraints === Map("positive" -> "qty > 0"))
    assert(t.version === v0 + 1 && t.commits().last.action === "constraint")
    assert(t.commits().last.dataChange === false)
    // a violating append fails inside the write pass; nothing lands
    intercept[Exception](t.append(Seq((3, -1)).toDF("id", "qty")))
    assert(t.read().count() === 2)
    // NULL predicate result is a violation (CHECK passes only on TRUE)
    intercept[Exception](
      t.append(spark.sql("SELECT 3 AS id, CAST(NULL AS INT) AS qty")))
    assert(t.read().count() === 2)
    // passing writes flow — including through a FRESH handle (persisted)
    GraftTable(spark, p)(GraftSettings.default).append(Seq((3, 30)).toDF("id", "qty"))
    assert(t.read().count() === 3)
    // DROP lifts enforcement
    spark.sql(s"ALTER TABLE '$p' DROP CONSTRAINT positive").collect()
    t.append(Seq((4, -4)).toDF("id", "qty"))
    assert(t.read().count() === 4)
    // IF EXISTS tolerates a missing name; a plain drop refuses
    spark.sql(s"ALTER TABLE '$p' DROP CONSTRAINT IF EXISTS ghost").collect()
    intercept[Exception](
      spark.sql(s"ALTER TABLE '$p' DROP CONSTRAINT ghost").collect())
    // every other ALTER TABLE shape still delegates to vanilla Spark
    spark.sql("DROP TABLE IF EXISTS maint_alter_plain")
    spark.sql("CREATE TABLE maint_alter_plain (id INT) USING parquet")
    spark.sql("ALTER TABLE maint_alter_plain SET TBLPROPERTIES ('k'='v')")
    assert(spark.sql("SHOW TBLPROPERTIES maint_alter_plain").collect()
      .exists(r => r.getString(0) == "k" && r.getString(1) == "v"))
    spark.sql("DROP TABLE maint_alter_plain")
  }

  test("FSCK REPAIR TABLE drops log references to files missing on disk") {
    import spark.implicits._
    val p = freshPath()
    val t = GraftTable(spark, p)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    // simulate storage loss of one live file
    val victim = t.liveFiles().head
    new java.io.File(s"$p/$victim").delete()
    // DRY RUN reports without committing
    val v0 = t.version
    val dry = spark.sql(s"FSCK REPAIR TABLE '$p' DRY RUN").as[String].collect()
    assert(dry.toSeq === Seq(victim) && t.version === v0)
    // the repair is a versioned dataChange commit; scans work again
    val fixed = spark.sql(s"FSCK REPAIR TABLE '$p'").as[String].collect()
    assert(fixed.toSeq === Seq(victim))
    assert(t.version === v0 + 1 && t.commits().last.action === "repair")
    assert(t.read().count() === 1)
    // clean table: nothing to repair, no commit
    assert(spark.sql(s"FSCK REPAIR TABLE '$p'").count() === 0)
    assert(t.version === v0 + 1)
  }

  test("everything else delegates: vanilla SQL intact, bad graft statement errs with usage") {
    import spark.implicits._
    assert(spark.sql("SELECT 1 + 1 AS x").as[Int].head() === 2)
    // identifiers merely CONTAINING the keywords are untouched
    Seq((1, "a")).toDF("id", "optimize").createOrReplaceTempView("vacuum_stats")
    assert(spark.sql("SELECT optimize FROM vacuum_stats").as[String].head() === "a")
    // a table literally named "history" still DESCRIBEs through vanilla SQL
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("history")
    assert(spark.sql("DESCRIBE history").count() >= 2)
    val e = intercept[Exception](spark.sql("OPTIMIZE "))
    assert(e.getMessage.contains("usage"))
  }

  test("constraint DDL on a NON-graft catalog table hands back to Spark's own plan") {
    spark.sql("DROP TABLE IF EXISTS mx_plain_ct")
    spark.sql("CREATE TABLE mx_plain_ct (id INT) USING parquet")
    // Spark 4 parses ADD/DROP CONSTRAINT itself (v2 DDL); a non-graft
    // provider must get Spark's semantics (here: Spark's own refusal for
    // a v1 parquet table), NEVER the graft 'is not a graft table' error
    scala.util.Try(
      spark.sql("ALTER TABLE mx_plain_ct ADD CONSTRAINT pos CHECK (id > 0)").collect()
    ) match {
      case scala.util.Failure(e) =>
        assert(!String.valueOf(e.getMessage).contains("graft"),
          s"graft shadowed a non-graft table's constraint DDL: ${e.getMessage}")
      case scala.util.Success(_) => () // future Spark may simply support it
    }
    scala.util.Try(
      spark.sql("ALTER TABLE mx_plain_ct DROP CONSTRAINT IF EXISTS pos").collect()
    ) match {
      case scala.util.Failure(e) =>
        assert(!String.valueOf(e.getMessage).contains("graft"))
      case scala.util.Success(_) => ()
    }
    spark.sql("DROP TABLE mx_plain_ct")
  }
}
