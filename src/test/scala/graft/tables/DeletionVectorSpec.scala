package graft.tables

import graft.SparkSpecBase
import graft.conf.GraftSettings
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Deletion vectors: row-level DELETE/UPDATE without data-file rewrites.
  * Every case asserts BOTH the result AND the storage shape (which files
  * survived byte-identical) — the shape is the feature. */
class DeletionVectorSpec extends SparkSpecBase {
  import spark.implicits._

  private val dvSettings = GraftSettings.default.copy(deletionVectors = true)

  private def tmp(prefix: String): String =
    s"file://${Files.createTempDirectory(prefix).toString}/t"

  private def table(path: String, s: GraftSettings = dvSettings): GraftTable =
    GraftTable(spark, path)(s)

  test("codec round-trip + merge") {
    val a = Array(0L, 5L, 6L, 1000000L)
    val b = Array(5L, 7L)
    assert(DeletionVectors.merge(a, b).toSeq === Seq(0L, 5L, 6L, 7L, 1000000L))
    val t = table(tmp("dv-codec-"))
    t.append(Seq((1, "x")).toDF("id", "v")) // create the table dir
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = DeletionVectors.write(fs, t.path, a)
    assert(DeletionVectors.read(fs, t.path, name).toSeq === a.toSeq)
  }

  test("DELETE marks rows without touching data files; reads apply the bitmap") {
    val t = table(tmp("dv-del-"))
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.append((101 to 200).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val before = t.liveFiles().toSet
    val c = t.delete(col("id") % 10 === 0).get
    assert(c.action === "delete")
    assert(c.add.isEmpty && c.remove.isEmpty, "a DV delete moves no data files")
    assert(t.liveFiles().toSet === before, "data files survive byte-identical")
    assert(c.dvs.get.size === 2)
    assert(c.metrics("numDeletedRows") === "20")
    // every read path agrees
    assert(t.read().count() === 180)
    assert(t.readRelation().count() === 180)
    assert(t.readWhere(col("id") <= 50).as[(Int, String)].collect().map(_._1).toSet
      === (1 to 50).filterNot(_ % 10 == 0).toSet)
    assert(spark.read.format("graft").load(t.path).count() === 180)
    // raw parquet still holds all rows — the delete is pure metadata
    assert(spark.read.parquet(before.map(f => s"${t.path}/$f").toSeq: _*).count() === 200)
  }

  test("second DELETE on the same file merges bitmaps; full-file delete drops the file") {
    val t = table(tmp("dv-merge-"))
    t.append((1 to 50).map(i => (i, i % 5)).toDF("id", "k").coalesce(1))
    t.append((51 to 100).map(i => (i, i % 5)).toDF("id", "k").coalesce(1))
    t.delete(col("id") <= 10)
    val dv1 = t.snapshot().dvFor
    assert(dv1.size === 1)
    t.delete(col("id") > 10 && col("id") <= 20)
    val dv2 = t.snapshot().dvFor
    assert(dv2.size === 1 && dv2 != dv1, "rebind replaced the sidecar")
    assert(t.read().count() === 80)
    // deleting the REST of the first file drops it entirely — no sidecar
    val c = t.delete(col("id") <= 50).get
    assert(c.remove.size === 1 && c.dvs.isEmpty,
      s"full-file delete should drop the file (got $c)")
    assert(t.liveFiles().size === 1)
    assert(t.snapshot().dvFor.isEmpty)
    assert(t.read().as[(Int, Int)].collect().map(_._1).toSet === (51 to 100).toSet)
  }

  test("UPDATE via DVs: old file untouched, new row versions appended") {
    val t = table(tmp("dv-upd-"))
    t.append((1 to 100).map(i => (i, 0L)).toDF("id", "total").coalesce(1))
    val before = t.liveFiles().toSet
    val c = t.update(col("id") <= 10, Map("total" -> lit(7L))).get
    assert(c.action === "update")
    assert(before.subsetOf(t.liveFiles().toSet), "original file still live")
    assert(c.add.nonEmpty && c.dvs.get.size === 1)
    val got = t.read().as[(Int, Long)].collect().toMap
    assert(got.size === 100)
    assert((1 to 10).forall(got(_) == 7L) && (11 to 100).forall(got(_) == 0L))
    // time travel shows the pre-update rows
    assert(t.readAt(1).as[(Int, Long)].collect().toMap.values.forall(_ == 0L))
  }

  test("predicate pushdown + file pruning still work through the DV scan") {
    val t = table(tmp("dv-prune-"))
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.append((101 to 200).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") === 1)
    // stats pruning: a probe into the second file's range scans ONE file
    assert(t.prunedFiles(col("id") === 150).size === 1)
    val df = t.readRelation().filter(col("id") === 150)
    val scanned = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.inputRDDs().map(_.partitions.length).sum
    }
    assert(df.count() === 1)
    assert(t.readRelation().filter(col("id") <= 5).count() === 4) // 1 deleted
    assert(scanned.nonEmpty)
  }

  test("OPTIMIZE purges DVs: bitmap dies, rows materialize, vectorized path returns") {
    val t = table(tmp("dv-purge-"))
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") <= 30)
    assert(t.snapshot().dvFor.size === 1)
    val c = t.optimize()
    assert(c.nonEmpty, "optimize must treat a DV-bearing file as a rewrite candidate")
    assert(!c.get.dataChange, "a purge changes no rows")
    assert(t.snapshot().dvFor.isEmpty)
    assert(t.read().count() === 70)
    // incremental consumers skipped the purge (dataChange=false)
    assert(t.changesSince(t.version - 1).isEmpty)
  }

  test("REORG TABLE APPLY (PURGE) is the SQL purge surface") {
    val t = table(tmp("dv-reorg-"))
    t.append((1 to 60).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") <= 20)
    assert(t.snapshot().dvFor.size === 1)
    val row = spark.sql(s"REORG TABLE '${t.path}' APPLY (PURGE)").collect().head
    assert(row.getLong(0) === 1L && row.getLong(1) >= 1L)
    assert(t.snapshot().dvFor.isEmpty)
    assert(t.read().count() === 40)
  }

  test("restore to a pre-delete version resurrects rows (DV binding cleared)") {
    val t = table(tmp("dv-restore-"))
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)) // v1
    t.delete(col("id") <= 40) // v2: DV
    assert(t.read().count() === 60)
    t.restore(1) // v3
    assert(t.read().count() === 100, "restore must clear the deletion vector")
    assert(t.snapshot().dvFor.isEmpty)
    // and restoring the DELETED state re-binds the sidecar
    t.restore(2) // v4
    assert(t.read().count() === 60)
    assert(t.snapshot().dvFor.size === 1)
  }

  test("CDF: DV delete records change rows; restore emits the bitmap delta") {
    val t = table(tmp("dv-cdf-"),
      dvSettings.copy(changeDataFeed = true))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)) // v1
    t.delete(col("id") <= 5) // v2
    val del = t.readChanges(1, 2).filter(col("_change_type") === "delete")
    assert(del.select("id").as[Int].collect().toSet === (1 to 5).toSet)
    t.restore(1) // v3: clears the DV with no file motion
    val res = t.readChanges(2, 3)
    assert(res.filter(col("_change_type") === "insert")
      .select("id").as[Int].collect().toSet === (1 to 5).toSet,
      "restore's resurrection must surface as inserts")
    // rows already DV-dead are not deleted AGAIN by a later overwrite
    t.delete(col("id") <= 5) // v4
    t.overwrite(Seq((999, "z")).toDF("id", "v")) // v5 removes the file
    val del5 = t.readChanges(4, 5).filter(col("_change_type") === "delete")
    assert(del5.select("id").as[Int].collect().toSet === (6 to 20).toSet,
      "the overwrite's synthesized deletes must exclude DV-dead rows")
  }

  test("vacuum GCs superseded sidecars, keeps the live one; vacuumLog refuses to strand one") {
    val t = table(tmp("dv-vac-"))
    t.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") === 1)
    val first = t.snapshot().dvFor.values.head
    t.delete(col("id") === 2) // supersedes the first sidecar
    val second = t.snapshot().dvFor.values.head
    val gone = t.vacuum(retentionHours = 0)
    assert(gone.contains(first) && !gone.contains(second))
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(t.path, first)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(t.path, second)))
    assert(t.read().count() === 48)
  }

  test("vacuum sweeps unreferenced orphans: lost-race data files and crashed-writer sidecars") {
    val t = table(tmp("dv-orphan-"))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an orphaned data file (a lost version race's staging leftover)
    val orphan = new org.apache.hadoop.fs.Path(t.path, "part-orphan-000.parquet")
    fs.create(orphan, false).close()
    // an orphaned DV sidecar (a crashed writer's unpublished commit)
    val dvOrphan = DeletionVectors.write(fs, t.path, Array(0L, 1L))
    // age both strictly past the cutoff: vacuum's mtime test is STRICT
    // (`mtime < now` at retention 0), so an orphan created in the same
    // millisecond as the vacuum call would flake the sweep
    fs.setTimes(orphan, System.currentTimeMillis() - 5000, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(t.path, dvOrphan),
      System.currentTimeMillis() - 5000, -1)
    val gone = t.vacuum(retentionHours = 0)
    assert(gone.contains("part-orphan-000.parquet"))
    assert(gone.contains(dvOrphan))
    assert(!fs.exists(orphan))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(t.path, dvOrphan)))
    assert(t.read().count() === 20, "live files must survive the sweep")
  }

  test("streaming: a DV commit in the tail fails loudly; ignoreChanges opts in") {
    val t = table(tmp("dv-stream-"))
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    val ckpt = Files.createTempDirectory("dv-stream-ckpt-").toString
    val out = Files.createTempDirectory("dv-stream-out-").toString
    def drain(extra: Map[String, String] = Map.empty): Unit = {
      val reader = spark.readStream.format("graft")
      extra.foreach { case (k, v) => reader.option(k, v) }
      val q = reader.load(t.path)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      if (q.exception.isDefined) throw q.exception.get
    }
    drain() // snapshot batch
    t.delete(col("id") <= 3)
    val e = intercept[Exception](drain())
    assert(e.getMessage.contains("rewrite commit") ||
      Option(e.getCause).exists(_.getMessage.contains("rewrite commit")))
    drain(Map("ignoreChanges" -> "true")) // opts into re-delivery semantics
  }

  test("streaming snapshot batch excludes rows deleted before the stream started") {
    val t = table(tmp("dv-stream-snap-"))
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") <= 4)
    val out = Files.createTempDirectory("dv-snap-out-").toString
    val q = spark.readStream.format("graft").load(t.path)
      .writeStream.format("parquet")
      .option("checkpointLocation", Files.createTempDirectory("dv-snap-ck-").toString)
      .option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(out).select("id").as[Int].collect().toSet
      === (5 to 10).toSet)
  }

  test("concurrent rewrite of a DV'd file conflicts; disjoint-file DML lands") {
    val t = table(tmp("dv-conflict-"))
    t.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.append((51 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    // interleave a foreign DV delete on file A into our delete on file A
    t.onBeforeRewriteCommit = () =>
      table(t.path).delete(col("id") === 2)
    val e = intercept[IllegalStateException](t.delete(col("id") === 1))
    assert(e.getMessage.contains("conflicts"))
    // disjoint: foreign DML on file B while we delete from file A — lands
    t.onBeforeRewriteCommit = () =>
      table(t.path).delete(col("id") === 60)
    t.delete(col("id") === 1)
    assert(t.read().count() === 97) // 2, 60, 1 deleted (first probe also landed its foreign delete)
  }

  test("dvMaxDeletedRows cap falls back to the classic pruned rewrite") {
    val t = table(tmp("dv-cap-"), dvSettings.copy(dvMaxDeletedRows = 3))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val c = t.delete(col("id") <= 10).get // 10 > cap -> rewrite
    assert(c.dvs.isEmpty && c.remove.nonEmpty && c.add.nonEmpty)
    assert(t.read().count() === 10)
    // under the cap: DV path
    val c2 = t.delete(col("id") === 11).get
    assert(c2.dvs.nonEmpty && c2.add.isEmpty)
    assert(t.read().count() === 9)
  }

  test("SQL DELETE/UPDATE over a DV table; manifest refuses while DVs live") {
    val path = tmp("dv-sql-")
    val t = table(path)
    t.append((1 to 30).map(i => (i, i * 10)).toDF("id", "amt").coalesce(1))
    spark.sql(s"DROP TABLE IF EXISTS dv_sql_t")
    spark.sql(s"CREATE TABLE dv_sql_t USING graft LOCATION '$path'")
    // SQL DML routes through deleteOrUpdate -> DV path is automatic
    // only when the session default settings enable it; call the API here
    t.delete(col("id") <= 5)
    assert(spark.sql("SELECT count(*) FROM dv_sql_t").head().getLong(0) === 25)
    val e = intercept[IllegalStateException](t.writeManifest())
    assert(e.getMessage.contains("deletion vectors"))
    t.optimize()
    assert(t.writeManifest().nonEmpty)
    spark.sql("DROP TABLE dv_sql_t")
  }

  test("purgeDeletionVectors rewrites ONLY the DV-bearing files (REORG scope)") {
    val t = table(tmp("dv-purge-scope-"))
    // five small files; the DV lands on exactly one — the purge must not
    // drag the other four through a bin-pack (a streaming table's tail
    // can be thousands of small files; REORG is a purge, not an OPTIMIZE)
    (1 to 5).foreach(b =>
      t.append((1 to 10).map(i => (b * 100 + i, i * 10)).toDF("id", "amt")
        .coalesce(1)))
    t.delete(col("id") === 303) // one row of batch 3's file: DV, not a drop
    val dvFiles = t.snapshot().dvFor.keySet
    assert(dvFiles.size === 1, s"precondition: one DV binding, got $dvFiles")
    val untouched = t.liveFiles().toSet -- dvFiles
    val c = t.purgeDeletionVectors().get
    assert(c.action === "purge" && !c.dataChange)
    assert(c.remove.toSet === dvFiles,
      s"purge must rewrite exactly the DV-bearing files, removed ${c.remove}")
    assert(t.snapshot().dvFor.isEmpty)
    assert(untouched.subsetOf(t.liveFiles().toSet),
      "non-DV files must survive the purge untouched")
    assert(t.read().count() === 49)
    assert(t.read().filter(col("id") === 303).count() === 0)
    // idempotent: nothing left to purge
    assert(t.purgeDeletionVectors().isEmpty)
  }

  test("restore across a purge re-binds the historical DV; pre-delete restore resurrects") {
    val t = table(tmp("dv-restore-purge-"))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)) // v1
    t.delete(col("id") === 3) // v2: DV binds
    assert(t.purgeDeletionVectors().isDefined) // v3: bitmap dies, rows materialize
    assert(t.snapshot().dvFor.isEmpty && t.read().count() === 19)
    t.restore(2) // v4: the DV-bearing state — binding must come back
    assert(t.snapshot().dvFor.nonEmpty, "restore must re-bind the historical DV")
    assert(t.read().count() === 19)
    assert(t.read().filter(col("id") === 3).count() === 0)
    t.restore(1) // v5: pre-delete — full resurrection
    assert(t.snapshot().dvFor.isEmpty)
    assert(t.read().count() === 20)
  }

  test("purge over pre-evolution victims carries the FULL current schema") {
    // the purge reads only the DV-bearing files; a victim written before
    // a schema evolution must still produce output files carrying the
    // evolved columns (as NULL) — the packed-output contract every
    // rewrite path shares (and what downstream CHECK constraints resolve
    // against)
    val t = table(tmp("dv-purge-evo-"))
    t.append((1 to 10).map(i => Tuple1(i)).toDF("id").coalesce(1))
    t.append((11 to 20).map(i => (i, s"c$i")).toDF("id", "c").coalesce(1))
    t.delete(col("id") === 3) // DV binds to the pre-evolution file
    val c = t.purgeDeletionVectors().get
    val out = spark.read.parquet(c.add.map(f => s"${t.path}/$f"): _*)
    assert(out.columns.toSet === Set("id", "c"),
      s"purged output must carry the evolved schema, got ${out.columns.toSeq}")
    assert(out.count() === 9 && out.filter(col("c").isNotNull).count() === 0)
    assert(t.read().count() === 19)
  }

  test("writeManifest(purgeFirst) is the DV table's external-reader route") {
    val t = table(tmp("dv-manifest-purge-"))
    t.append((1 to 30).map(i => (i, i * 10)).toDF("id", "amt").coalesce(1))
    t.delete(col("id") <= 5) // DV binding, no rewrite
    assert(t.snapshot().dvFor.nonEmpty, "precondition: a live DV")
    // the refusal message names the remedy
    val e = intercept[IllegalStateException](t.writeManifest())
    assert(e.getMessage.contains("purgeFirst = true"), e.getMessage)
    // purge-path manifest: REORG-purges, then manifests the purged state
    val listed = t.writeManifest(purgeFirst = true)
    assert(t.snapshot().dvFor.isEmpty, "purge must have rewritten the DVs away")
    // an EXTERNAL engine (simulated: raw parquet over the manifest's file
    // list, no graft log, no bitmaps) reads exactly what read() serves
    val external = spark.read.parquet(listed: _*)
      .select("id", "amt").as[(Int, Int)].collect().toSet
    val internal = t.read().select("id", "amt").as[(Int, Int)].collect().toSet
    assert(external === internal)
    assert(external.size === 25 && !external.exists(_._1 <= 5))
    // the LAST step of the external-reader route: the purge removed every
    // DV, so the protocol downgrade takes — a feature-blind FOREIGN graft
    // reader (which would refuse on the dv gate) can then serve the table
    // too, not just raw-parquet-over-manifest engines
    assert(t.snapshot().featureSet === Set(GraftProtocol.Dv),
      "the union stays monotone until the governed drop")
    t.dropFeature(GraftProtocol.Dv)
    assert(t.snapshot().featureSet === Set.empty[String])
    assert(t.read().count() === 25, "the downgraded table still serves")
  }

  test("checkpointed snapshot carries DV bindings across the checkpoint horizon") {
    val t = table(tmp("dv-ckpt-"),
      dvSettings.copy(logCheckpointInterval = 5))
    t.append((1 to 40).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)) // v1
    t.delete(col("id") <= 10) // v2
    (1 to 4).foreach(i => t.append(Seq((100 + i, "x")).toDF("id", "v"))) // v3..v6, ckpt at v5
    // a FRESH handle replays from the checkpoint — bindings must survive it
    val t2 = table(t.path)
    assert(t2.read().count() === 34)
    assert(t2.snapshot().dvFor.size === 1)
  }
}
