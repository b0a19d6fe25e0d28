package graft.tables

import graft.SparkSpecBase
import graft.conf.GraftSettings
import graft.streaming.IncrementalRunner
import org.apache.spark.sql.functions._
import java.nio.file.Files

class GraftTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft-table-").toString
    GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
  }

  test("append accumulates, overwrite replaces, readAt time-travels") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.read().count() === 3)
    assert(t.version === 2)
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    assert(t.read().as[(Int, String)].collect().toSet === Set((9, "z")))
    assert(t.readAt(2).count() === 3) // time travel before the overwrite
  }

  test("log listing cache: a second instance's commit is visible immediately (no stale reads)") {
    val dir = Files.createTempDirectory("graft-table-cache-").toString
    val path = s"file://$dir/t"
    val writer = GraftTable(spark, path)(GraftSettings.default)
    val reader = GraftTable(spark, path)(GraftSettings.default)
    writer.append(Seq((1, "a")).toDF("id", "v"))
    // prime the reader's listing cache
    assert(reader.version === 1)
    assert(reader.read().count() === 1)
    // EXTERNAL commit (different instance, same log): the reader's cached
    // listing must not serve a stale version/live-set — the next-version
    // existence probe has to detect the foreign commit at once
    writer.append(Seq((2, "b")).toDF("id", "v"))
    assert(reader.version === 2, "cached listing served a stale version")
    assert(reader.read().count() === 2, "cached listing served stale live files")
    assert(reader.exists)
    // and the reverse: the writer (whose cache self-invalidated on commit)
    // also sees a commit made through the reader instance
    reader.append(Seq((3, "c")).toDF("id", "v"))
    assert(writer.version === 3)
    assert(writer.read().count() === 3)
    // repeated cached reads with no new commits stay correct
    assert(reader.version === 3 && reader.read().count() === 3)
    // an externally created table becomes visible to an instance that
    // cached its absence
    val ghost = GraftTable(spark, s"file://$dir/g")(GraftSettings.default)
    assert(!ghost.exists)
    GraftTable(spark, s"file://$dir/g")(GraftSettings.default)
      .append(Seq((1, "x")).toDF("id", "v"))
    assert(ghost.exists, "cached empty listing hid an externally created table")
    assert(ghost.read().count() === 1)
  }

  test("log listing cache: a second PROCESS's commit is visible immediately") {
    // The instance-level test above still shares a JVM (and Hadoop's
    // FileSystem cache) between writer and reader. Here the new commit is
    // published by an OS subprocess (`cp`), so NO in-process code path can
    // have invalidated the reader's cache — only the next-version
    // existence probe can detect it. Pins the d26 fix against refactors
    // that would tie invalidation to in-JVM write paths.
    import scala.sys.process._
    val dir = Files.createTempDirectory("graft-table-xproc-").toString
    val path = s"file://$dir/t"
    GraftTable(spark, path)(GraftSettings.default)
      .append(Seq((1, "a")).toDF("id", "v"))
    val reader = GraftTable(spark, path)(GraftSettings.default)
    // prime the reader's listing cache
    assert(reader.version === 1 && reader.read().count() === 1)
    // stage the foreign commit: clone the table dir, append version 2 to
    // the CLONE (file names are table-relative, so its commit is portable)
    assert(Seq("cp", "-r", s"$dir/t", s"$dir/stage").! === 0)
    GraftTable(spark, s"file://$dir/stage")(GraftSettings.default)
      .append(Seq((2, "b")).toDF("id", "v"))
    // external publication: a subprocess copies only the files the clone
    // added (no-clobber), exactly what a second writer process leaves
    assert(Seq("bash", "-c", s"cp -rn '$dir/stage/.' '$dir/t/'").! === 0)
    assert(reader.version === 2,
      "cached listing served a stale version after a foreign-process commit")
    assert(reader.read().count() === 2,
      "cached listing served stale live files after a foreign-process commit")
  }

  test("upsert applies CDC merge semantics (update/insert/delete)") {
    val t = tmpTable()
    t.append(Seq((1, "one", 10.0), (2, "two", 20.0), (3, "three", 30.0))
      .toDF("id", "name", "amt"))
    val updates = Seq(
      (2, "TWO", 22.0, "u"),  // matched update
      (4, "four", 44.0, "c"), // unmatched insert
      (3, "three", 30.0, "d") // matched delete
    ).toDF("id", "name", "amt", "op")
    t.upsert(updates, Seq("id"), "op")
    val got = t.read().as[(Int, String, Double)].collect().toSet
    assert(got === Set((1, "one", 10.0), (2, "TWO", 22.0), (4, "four", 44.0)))
  }

  test("upsert is idempotent and bootstraps an absent table") {
    val t = tmpTable()
    val updates = Seq((1, "a", "c"), (2, "b", "c"), (9, "x", "d"))
      .toDF("id", "v", "op")
    t.upsert(updates, Seq("id"), "op") // bootstrap: overwrite, deletes dropped
    t.upsert(updates, Seq("id"), "op") // replay: same final state
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("upsert evolves schema (new column, old rows null)") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.upsert(Seq((2, "b", "extra", "c")).toDF("id", "v", "v2", "op"), Seq("id"), "op")
    val got = t.read().orderBy("id").collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(got(0).isNullAt(got(0).fieldIndex("v2")))
    assert(got(1).getString(got(1).fieldIndex("v2")) === "extra")
  }

  test("append rejects type conflicts at write time; additive evolution still lands") {
    val t = tmpTable()
    t.append(Seq((1, 10L, Seq(1.0f))).toDF("id", "amount", "emb"))
    // additive: a new column is the mergeSchema contract — allowed
    t.append(Seq((2, 20L, Seq(2.0f), "extra")).toDF("id", "amount", "emb", "note"))
    assert(t.read().columns.toSet === Set("id", "amount", "emb", "note"))
    // same-name column, different type: parquet mergeSchema could never
    // reconcile it — the append itself must fail, not every later read
    val conflict = intercept[IllegalStateException] {
      t.append(Seq((3, "not-a-long", Seq(3.0f))).toDF("id", "amount", "emb"))
    }
    assert(conflict.getMessage.contains("amount"))
    // nested conflict (array element type) is caught with its path
    val nested = intercept[IllegalStateException] {
      t.append(Seq((4, 40L, Seq(4.0))).toDF("id", "amount", "emb"))
    }
    assert(nested.getMessage.contains("emb"))
    // the poisoned batches never landed: the table still reads clean
    assert(t.read().count() === 2)
  }

  test("compaction rewrites files with dataChange=false; incremental consumers skip it") {
    val t = tmpTable()
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val before = t.liveFiles().size
    assert(before >= 5)
    val c = t.compactIfNeeded(maxFiles = 2)
    assert(c.isDefined && !c.get.dataChange)
    assert(t.liveFiles().size < before)
    assert(t.read().count() === 5)
    // incremental consumer: sees the 5 appends, not the compaction
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    var seen = 0L
    IncrementalRunner.runOnce(spark, t, s"file://$ckpt/cp")(b => seen = b.count())
    assert(seen === 5)
    // nothing new afterwards
    assert(!IncrementalRunner.runOnce(spark, t, s"file://$ckpt/cp")(_ => fail("no batch expected")))
    // a new append after compaction is consumed alone
    t.append(Seq((6, "v6")).toDF("id", "v"))
    IncrementalRunner.runOnce(spark, t, s"file://$ckpt/cp")(b => seen = b.count())
    assert(seen === 1)
  }

  test("manifest lists exactly the live files after append/upsert/compact") {
    val t = tmpTable()
    def manifestNames(): Set[String] = {
      val p = java.nio.file.Paths.get(
        t.path.stripPrefix("file://") + "/_symlink_format_manifest/manifest")
      val lines = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSet
      assert(lines.forall(_.startsWith("file:")), "manifest entries are absolute URIs")
      lines.map(_.split('/').last)
    }

    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.writeManifest()
    assert(manifestNames() === t.liveFiles().toSet)

    t.upsert(Seq((2, "B", "u"), (3, "c", "c")).toDF("id", "v", "op"), Seq("id"), "op")
    t.writeManifest()
    assert(manifestNames() === t.liveFiles().toSet)

    (1 to 3).foreach(i => t.append(Seq((10 + i, "x")).toDF("id", "v")))
    assert(t.compactIfNeeded(maxFiles = 1).isDefined)
    val listed = t.writeManifest()
    assert(manifestNames() === t.liveFiles().toSet)
    // external readers see the committed live set only — never removed files
    assert(listed.forall(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(java.net.URI.create(p)))))
  }

  test("data skipping: readWhere prunes files by min/max stats, results exact") {
    val t = tmpTable()
    // three appends with disjoint id ranges -> three files with disjoint stats
    t.append(Seq((1, "a", 10.5), (2, "b", 20.5)).toDF("id", "name", "amt"))
    t.append(Seq((100, "c", 30.5), (200, "d", 40.5)).toDF("id", "name", "amt"))
    t.append(Seq((1000, "e", 50.5), (2000, "f", 60.5)).toDF("id", "name", "amt"))
    assert(t.liveFiles().size >= 3)

    // numeric range: only the high file survives
    val hi = t.prunedFiles(col("id") > 500)
    assert(hi.size < t.liveFiles().size, "pruning must drop files")
    assert(t.readWhere(col("id") > 500).as[(Int, String, Double)].collect().toSet ===
      Set((1000, "e", 50.5), (2000, "f", 60.5)))

    // equality: exactly one file may contain id = 100
    assert(t.prunedFiles(col("id") === 100).size === 1)
    assert(t.readWhere(col("id") === 100).count() === 1)

    // conjunction with a string bound
    val got = t.readWhere(col("id") >= 100 && col("name") <= "d")
      .as[(Int, String, Double)].collect().toSet
    assert(got === Set((100, "c", 30.5), (200, "d", 40.5)))

    // impossible predicate: zero files scanned, empty result, schema kept
    assert(t.prunedFiles(col("id") > 99999).isEmpty)
    val empty = t.readWhere(col("id") > 99999)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("id", "name", "amt"))

    // unsupported predicate shapes degrade to full scan, never wrong rows
    assert(t.prunedFiles(col("id") % 2 === 0).size === t.liveFiles().size)
    assert(t.readWhere(col("id") % 2 === 0).count() ===
      t.read().filter(col("id") % 2 === 0).count())

    // IN: a multi-point probe keeps only files whose range can hold a value
    assert(t.prunedFiles(col("id").isin(2, 1000)).size === 2)
    assert(t.readWhere(col("id").isin(2, 1000)).as[(Int, String, Double)]
      .collect().toSet === Set((2, "b", 20.5), (1000, "e", 50.5)))
    assert(t.prunedFiles(col("id").isin(55555, 66666)).isEmpty)
    // IN over a column (non-literal element) is opaque -> full scan, exact rows
    assert(t.prunedFiles(col("id").isin(lit(2), col("amt"))).size ===
      t.liveFiles().size)
  }

  test("clustered compaction keeps readWhere pruning selective") {
    // tiny compaction target so the rewrite yields SEVERAL files — the
    // interesting case for layout preservation
    val dir = Files.createTempDirectory("graft-cluster-compact-").toString
    val t = GraftTable(spark, s"file://$dir/t")(
      GraftSettings.default.copy(compactTargetBytes = 2048))
    // six single-row appends across a wide id range -> six tiny files
    (1 to 6).foreach(i => t.append(Seq((i * 1000, s"v$i")).toDF("id", "v")))
    assert(t.liveFiles().size === 6)
    val c = t.compactClusteredIfNeeded(Seq("id"), maxFiles = 2)
    assert(c.exists(!_.dataChange), "compaction must be dataChange=false")
    assert(t.liveFiles().size < 6)
    assert(t.read().count() === 6)
    // the rewrite kept ranges tight: a point probe scans a strict subset
    // (a plain repartition compaction would give every file the full span)
    if (t.liveFiles().size > 1)
      assert(t.prunedFiles(col("id") === 1000).size < t.liveFiles().size,
        s"pruning died after compaction: ${t.liveFiles()}")
    assert(t.readWhere(col("id") === 1000).count() === 1)
  }

  test("data skipping: null stats drive isNull pruning; stats survive compaction") {
    val t = tmpTable()
    t.append(Seq((1, Some("a")), (2, Some("b"))).toDF("id", "v").coalesce(1))
    t.append(Seq((3, None: Option[String]), (4, Some("d"))).toDF("id", "v").coalesce(1))
    assert(t.liveFiles().size === 2)
    // only the second file contains nulls
    assert(t.prunedFiles(col("v").isNull).size === 1)
    assert(t.readWhere(col("v").isNull).count() === 1)
    assert(t.prunedFiles(col("v").isNotNull).size === 2)

    // compaction rewrites files; stats are re-collected for the new files
    (1 to 3).foreach(i => t.append(Seq((100 + i, Some("x"))).toDF("id", "v")))
    assert(t.compactIfNeeded(maxFiles = 1).isDefined)
    assert(t.readWhere(col("id") > 100).count() === 3)
    val statsByFile = t.commits().flatMap(_.stats.getOrElse(Map.empty)).toMap
    assert(t.liveFiles().forall(statsByFile.contains), "compacted files carry stats")
  }

  test("appendClustered: range layout makes point predicates prune to one file") {
    val t = tmpTable()
    val shuffled = new scala.util.Random(7).shuffle((1 to 400).toList)
    t.appendClustered(shuffled.map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), numFiles = 4)
    assert(t.liveFiles().size === 4)
    // point lookup: exactly one file's [min,max] can contain id=57
    assert(t.prunedFiles(col("id") === 57).size === 1)
    // narrow range: at most two adjacent files
    assert(t.prunedFiles(col("id") >= 95 && col("id") <= 105).size <= 2)
    assert(t.readWhere(col("id") === 57).count() === 1)
    // contrast: a RANDOM (unclustered) append of the same data prunes nothing
    val t2 = tmpTable()
    t2.append(shuffled.map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    assert(t2.prunedFiles(col("id") === 57).size === t2.liveFiles().size)
  }

  test("composite-key bucketed upsert prunes on the full key set") {
    val t = tmpTable()
    t.setBucketSpec(Seq("region", "id"), 8)
    t.append((1 to 100).map(i => (s"r${i % 3}", i, s"v$i")).toDF("region", "id", "v"))
    val filesBefore = t.liveFiles().toSet
    val c = t.upsert(Seq(("r1", 4, "UPDATED", "u")).toDF("region", "id", "v", "op"),
      Seq("region", "id"), "op")
    assert(c.remove.size < filesBefore.size, "only the key's bucket rewritten")
    val got = t.read().filter(col("id") === 4).select("v").as[String].head()
    assert(got === "UPDATED")
    assert(t.read().count() === 100)
  }

  test("restore refuses when target files were vacuumed") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    t.vacuum(retentionHours = 0) // v1's files are gone
    val e = intercept[IllegalStateException] { t.restore(1) }
    assert(e.getMessage.contains("vacuumed"))
    assert(t.read().as[(Int, String)].collect().toSet === Set((2, "b")),
      "failed restore leaves the table untouched")
  }

  test("restore rolls the live set back as a new commit; history intact") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    assert(t.read().count() === 1)
    val c = t.restore(2)
    assert(c.action === "restore" && c.version === 4)
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    assert(t.readAt(3).count() === 1, "pre-restore version still time-travels")
    // restore is itself restorable
    t.restore(3)
    assert(t.read().as[(Int, String)].collect().toSet === Set((9, "z")))
  }

  test("delete rewrites only affected files; null predicates keep rows") {
    val t = tmpTable()
    t.append(Seq((1, Some("a")), (2, Some("b"))).toDF("id", "v").coalesce(1))
    t.append(Seq((100, None: Option[String]), (200, Some("d"))).toDF("id", "v").coalesce(1))
    val before = t.liveFiles().toSet

    val c = t.delete(col("id") === 1).get
    assert(c.metrics("numRewrittenFiles") === "1", "only the low file rewritten")
    assert(t.liveFiles().toSet.intersect(before).size === 1, "high file untouched")
    assert(t.read().select("id").as[Int].collect().toSet === Set(2, 100, 200))

    // predicate NULL on the null row -> row kept (SQL DELETE semantics)
    t.delete(col("v") === "nope")
    assert(t.read().count() === 3)

    // provably-empty predicate: no commit at all
    assert(t.delete(col("id") > 99999).isEmpty)
  }

  test("unbucketed upsert prunes to files whose key range admits the batch") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((100, "c"), (200, "d")).toDF("id", "v").coalesce(1))
    val before = t.liveFiles().toSet
    // batch keys confined to the low range: the high file must be RETAINED
    val c = t.upsert(Seq((2, "B", "u"), (3, "e", "c")).toDF("id", "v", "op"),
      Seq("id"), "op")
    assert(c.metrics("numRewrittenFiles") === "1",
      s"key-range pruning did not engage: ${c.metrics}")
    assert(t.liveFiles().toSet.intersect(before).size === 1, "high file untouched")
    assert(t.read().as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "B"), (3, "e"), (100, "c"), (200, "d")))
    // a delete lands through the same pruned shape
    val c2 = t.upsert(Seq((200, "x", "d")).toDF("id", "v", "op"), Seq("id"), "op")
    assert(c2.metrics("numRewrittenFiles").toInt <= 2,
      s"delete batch rewrote everything: ${c2.metrics}")
    assert(t.read().select("id").as[Int].collect().toSet === Set(1, 2, 3, 100))
  }

  test("update rewrites only affected files, applies SET to matches only") {
    val t = tmpTable()
    t.append(Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "v", "amt").coalesce(1))
    t.append(Seq((100, "c", 30.0), (200, "d", 40.0)).toDF("id", "v", "amt").coalesce(1))
    val c = t.update(col("id") === 100,
      Map("v" -> lit("UPDATED"), "amt" -> (col("amt") * 2))).get
    assert(c.metrics("numRewrittenFiles") === "1")
    val got = t.read().as[(Int, String, Double)].collect().toSet
    assert(got === Set((1, "a", 10.0), (2, "b", 20.0),
      (100, "UPDATED", 60.0), (200, "d", 40.0)))
    assert(t.update(col("id") > 99999, Map("v" -> lit("x"))).isEmpty)
  }

  test("appendZOrdered: predicates on EITHER cluster column prune files") {
    val rnd = new scala.util.Random(11)
    val grid = rnd.shuffle(for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
    // Z-order on (x, y) -> 16 files
    val tz = tmpTable()
    tz.appendZOrdered(grid.toDF("x", "y"), Seq("x", "y"), bitsPerCol = 4, numFiles = 16)
    assert(tz.liveFiles().size === 16)
    val total = tz.liveFiles().size
    val xPruned = tz.prunedFiles(col("x") >= 0 && col("x") < 8).size
    val yPruned = tz.prunedFiles(col("y") >= 0 && col("y") < 8).size
    assert(xPruned <= total / 2, s"x-predicate kept $xPruned of $total")
    assert(yPruned <= total / 2, s"y-predicate kept $yPruned of $total")
    assert(tz.readWhere(col("x") < 8 && col("y") < 8).count() === 64)

    // contrast: single-column clustering on x prunes x but NOT y
    val tx = tmpTable()
    tx.appendClustered(grid.toDF("x", "y"), Seq("x"), numFiles = 16)
    assert(tx.prunedFiles(col("x") >= 0 && col("x") < 8).size <= total / 2)
    assert(tx.prunedFiles(col("y") >= 0 && col("y") < 8).size === tx.liveFiles().size)
  }

  test("bucket pruning in readWhere: PK equality touches one bucket's files") {
    val t = tmpTable()
    t.setBucketSpec(Seq("id"), 4)
    t.append((1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(t.liveFiles().size >= 4)
    val hit = t.prunedFiles(col("id") === 57L)
    // only files of id=57's bucket survive (bucket ids are in file names)
    val buckets = hit.flatMap(f => "^b(\\d+)-".r.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(buckets.size === 1, s"expected one bucket, got $buckets from $hit")
    assert(hit.size < t.liveFiles().size)
    assert(t.readWhere(col("id") === 57L).count() === 1)
    // a non-equality or partial-key predicate falls back to stats-only
    assert(t.readWhere(col("id") > 100L).count() === 100)
  }

  test("concurrent appends from two threads all commit and lose no rows") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val writers = (0 until 2).map { w =>
      Future {
        (0 until 5).foreach { i =>
          t.append(Seq((w * 100 + i, s"w$w-$i")).toDF("id", "v").coalesce(1))
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(t.commits().count(_.action == "append") === 10)
    assert(t.commits().map(_.version) === (1L to 10L)) // dense, no gaps
    assert(t.read().count() === 10)
  }

  test("bounded incremental: backlog drains in multiple checkpointed batches") {
    val t = tmpTable()
    // 6 commits of 1 file each (coalesce(1)) = backlog of 6 files
    (1 to 6).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1)))
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    var batches = 0
    var total = 0L
    IncrementalRunner.runOnce(spark, t, s"file://$ckpt/cp", maxFilesPerBatch = 2) { b =>
      batches += 1; total += b.count()
    }
    assert(batches === 3) // 6 files / cap 2
    assert(total === 6)
    assert(IncrementalRunner.lastProcessedVersion(spark, s"file://$ckpt/cp") === t.version)
    // nothing left
    assert(!IncrementalRunner.runOnce(spark, t, s"file://$ckpt/cp")(_ => fail("drained")))
    // a version's files are never split: 3-file commit with cap 2 = one batch
    val t2 = tmpTable()
    t2.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").repartition(3))
    val ckpt2 = Files.createTempDirectory("graft-ckpt-").toString
    var batches2 = 0
    IncrementalRunner.runOnce(spark, t2, s"file://$ckpt2/cp", maxFilesPerBatch = 2)(_ => batches2 += 1)
    assert(batches2 === 1)
  }

  test("upsert broadcast is gated on the update-batch size estimate") {
    val small = tmpTable()
    val updates = Seq((1, "one", "u"), (2, "two", "u")).toDF("id", "v", "op")
    def hasBroadcastHint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
      }.nonEmpty
    assert(hasBroadcastHint(small.updateKeysPlan(updates, Seq("id"))))
    // threshold 0 = never broadcast: bulk backfills must degrade to shuffle
    val strict = GraftTable(spark,
      s"file://${Files.createTempDirectory("graft-table-").toString}/t")(
      GraftSettings.default.copy(upsertBroadcastThresholdBytes = 0L))
    assert(!hasBroadcastHint(strict.updateKeysPlan(updates, Seq("id"))))
    // and the un-hinted path still merges correctly
    strict.append(Seq((1, "old", "c"), (3, "three", "c")).toDF("id", "v", "op").drop("op"))
    strict.upsert(updates, Seq("id"), "op")
    assert(strict.read().select("id", "v").as[(Int, String)].collect().toSet ===
      Set((1, "one"), (2, "two"), (3, "three")))
  }

  test("bucketed upsert rewrites only affected buckets") {
    val dir = Files.createTempDirectory("graft-bucket-").toString
    val t = GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
    t.setBucketSpec(Seq("id"), numBuckets = 8)
    t.append((1 to 200).map(i => (i, s"v$i")).toDF("id", "v"))
    val before = t.liveFiles()
    assert(before.forall(_.startsWith("b")), s"files must carry buckets: $before")
    assert(before.map(f => f.takeWhile(_ != '-')).distinct.size > 1, "expected multiple buckets")

    // update exactly one key -> only that key's bucket may be rewritten
    val c = t.upsert(Seq((7, "SEVEN", "u")).toDF("id", "v", "op"), Seq("id"), "op")
    val rewrittenBuckets = c.remove.map(f => f.takeWhile(_ != '-')).distinct
    assert(rewrittenBuckets.size === 1, s"rewrote buckets: $rewrittenBuckets")
    // untouched files still live
    assert((before.toSet -- c.remove.toSet).subsetOf(t.liveFiles().toSet))
    // content correct
    val got = t.read().as[(Int, String)].collect().toMap
    assert(got.size === 200 && got(7) === "SEVEN" && got(8) === "v8")

    // inserts into a fresh bucket don't touch existing files
    val c2 = t.upsert(Seq((9999, "new", "c")).toDF("id", "v", "op"), Seq("id"), "op")
    assert(c2.remove.map(f => f.takeWhile(_ != '-')).distinct.size <= 1)
    assert(t.read().count() === 201)

    // deletes shrink only their bucket
    t.upsert(Seq((7, "x", "d")).toDF("id", "v", "op"), Seq("id"), "op")
    assert(t.read().count() === 200)
    assert(!t.read().as[(Int, String)].collect().toMap.contains(7))
  }

  test("bucketed compaction is skipped while every bucket holds one file") {
    val dir = Files.createTempDirectory("graft-bucket-compact-").toString
    val t = GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
    t.setBucketSpec(Seq("id"), numBuckets = 4)
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val live = t.liveFiles()
    val buckets = live.map(_.takeWhile(_ != '-'))
    assert(live.size > 1 && buckets.distinct.size === live.size,
      s"one file per bucket expected: $live")
    // over the file cap, but a bucketed rewrite would return file for file
    assert(t.compactIfNeeded(maxFiles = 1).isEmpty)
    assert(t.compactClusteredIfNeeded(Seq("id"), maxFiles = 1).isEmpty)
    assert(t.version === 1 && !t.commits().exists(_.action == "compact"))
    // a file without a bucket id (the batch lacks the key column) still
    // counts as compactable
    t.append(Seq("orphan").toDF("v"))
    assert(t.liveFiles().exists(!_.startsWith("b")))
    assert(t.compactIfNeeded(maxFiles = 1).isDefined)
    assert(t.liveFiles().forall(_.startsWith("b")))
    assert(t.read().count() === 101)
  }

  test("bucketed compaction merges a bucket's files into one per bucket") {
    val dir = Files.createTempDirectory("graft-bucket-merge-").toString
    val t = GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
    t.setBucketSpec(Seq("id"), numBuckets = 4)
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val bucketsBefore = t.liveFiles().map(_.takeWhile(_ != '-')).toSet
    // a second append into one existing bucket: two files share its id
    t.append(Seq((1, "again")).toDF("id", "v"))
    val live = t.liveFiles().map(_.takeWhile(_ != '-'))
    assert(live.distinct.size < live.size, s"expected a repeated bucket: $live")
    val c = t.compactIfNeeded(maxFiles = 1)
    assert(c.isDefined && !c.get.dataChange)
    val after = t.liveFiles().map(_.takeWhile(_ != '-'))
    assert(after.distinct.size === after.size, s"one file per bucket after compaction: $after")
    assert(after.toSet === bucketsBefore)
    assert(c.get.metrics("numOutputFiles").toInt === bucketsBefore.size)
    assert(t.read().count() === 101)
    assert(t.compactIfNeeded(maxFiles = 1).isEmpty, "a second pass has nothing to merge")
  }

  test("incremental runner delivers logical names over a renamed column") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.renameColumn("v", "name")
    t.append(Seq((2, "b")).toDF("id", "name"))
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    var cols = Seq.empty[String]
    var rows = Set.empty[(Int, String)]
    assert(IncrementalRunner.runOnce(spark, t, s"file://$ckpt/cp") { b =>
      cols = b.columns.toSeq
      rows = b.as[(Int, String)].collect().toSet
    })
    assert(cols === Seq("id", "name"))
    assert(rows === Set((1, "a"), (2, "b")))
  }

  test("concurrent upserts on DISJOINT buckets both land; overlapping ones fail loudly") {
    val dir = Files.createTempDirectory("graft-conflict-").toString
    val path = s"file://$dir/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.setBucketSpec(Seq("id"), numBuckets = 4)
    t.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
    val other = GraftTable(spark, path)(GraftSettings.default)

    // the writer's own bucket routing, evaluated per key
    def bucketOf(id: Int): Int = spark.range(1)
      .select(pmod(xxhash64(lit(id)), lit(4)).cast("int")).head().getInt(0)
    val byBucket = (1 to 50).groupBy(bucketOf)
    val (bA, bB) = (byBucket.keys.head, byBucket.keys.last)
    assert(bA != bB)
    val (idA, idA2) = (byBucket(bA).head, byBucket(bA).last)
    val idB = byBucket(bB).head

    // DISJOINT: a foreign upsert to bucket B lands inside our
    // snapshot->publish window; our bucket-A upsert revalidates, sees the
    // writes cannot overlap, and retries WITHOUT failing
    val v0 = t.version
    t.onBeforeRewriteCommit = () =>
      other.upsert(Seq((idB, "B", "u")).toDF("id", "v", "op"), Seq("id"), "op")
    t.upsert(Seq((idA, "A", "u")).toDF("id", "v", "op"), Seq("id"), "op")
    assert(t.version === v0 + 2) // both landed, no manual retry
    val got = t.read().as[(Int, String)].collect().toMap
    assert(got.size === 50 && got(idA) === "A" && got(idB) === "B")

    // OVERLAPPING: a foreign upsert to the SAME bucket rewrote files this
    // transaction read -> loud logical conflict, nothing published
    t.onBeforeRewriteCommit = () =>
      other.upsert(Seq((idA2, "X", "u")).toDF("id", "v", "op"), Seq("id"), "op")
    val e = intercept[IllegalStateException](
      t.upsert(Seq((idA, "A2", "u")).toDF("id", "v", "op"), Seq("id"), "op"))
    assert(e.getMessage.contains("conflicts"))
    val after = t.read().as[(Int, String)].collect().toMap
    assert(after(idA) === "A" && after(idA2) === "X") // the winner's state, intact
  }

  test("delete retries over a stats-disjoint interleaved append, conflicts on overlap") {
    val dir = Files.createTempDirectory("graft-conflict-del-").toString
    val path = s"file://$dir/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val other = GraftTable(spark, path)(GraftSettings.default)

    // the interleaved append's stats (min id = 100) PROVE it cannot hold
    // rows matching id <= 10 -> disjoint, the delete retries and lands
    t.onBeforeRewriteCommit = () =>
      other.append(Seq((100, "x")).toDF("id", "v").coalesce(1))
    assert(t.delete(col("id") <= 10).isDefined)
    assert(t.read().as[(Int, String)].collect().toMap === Map(100 -> "x"))

    // an interleaved append whose rows MAY match the predicate conflicts
    t.onBeforeRewriteCommit = () =>
      other.append(Seq((5, "y")).toDF("id", "v").coalesce(1))
    val e = intercept[IllegalStateException](t.delete(col("id") <= 200))
    assert(e.getMessage.contains("conflicts"))
    // the interleaved row survives; nothing was half-deleted
    assert(t.read().as[(Int, String)].collect().toMap === Map(100 -> "x", 5 -> "y"))
  }

  test("commits record per-file byte sizes in their stats (Delta add-file size shape)") {
    val t = tmpTable()
    val c = t.append(Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1))
    val stats = c.stats.get
    assert(stats.nonEmpty && stats.values.forall(_.bytes.exists(_ > 0)))
    // and they survive the snapshot/checkpoint path
    assert(t.snapshot().stats.values.forall(_.bytes.exists(_ > 0)))
  }

  test("bucket spec is immutable once declared") {
    val dir = Files.createTempDirectory("graft-bucket2-").toString
    val t = GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
    t.setBucketSpec(Seq("id"), 4)
    t.setBucketSpec(Seq("id"), 4) // same spec: no-op
    intercept[IllegalStateException](t.setBucketSpec(Seq("id"), 8))
  }

  test("history exposes versions and operations") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    val h = t.history().select("version", "operation").as[(Long, String)].collect().toSeq
    assert(h === Seq((2L, "overwrite"), (1L, "append")))
  }

  test("vacuum removes aged-out dead files only") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    val deadFiles = t.liveFiles()
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    assert(t.vacuum(retentionHours = 1.0) === Seq.empty) // too young
    val deleted = t.vacuum(retentionHours = 0.0)
    assert(deleted.toSet === deadFiles.toSet)
    assert(t.read().count() === 1) // live data untouched
    // time travel to a vacuumed version now fails (files are gone) — same
    // contract as Delta after VACUUM
    intercept[Exception](t.readAt(1).collect())
  }

  test("bloom filter columns land in the parquet footers; reads stay exact") {
    val dir = Files.createTempDirectory("graft-bloom-").toString
    val t = GraftTable(spark, s"file://$dir/t")(
      GraftSettings.default.copy(bloomFilterColumns = Seq("id")))
    t.append((1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    // the footer of every data file carries a bloom for `id` and none for `v`
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    t.liveFiles().foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(s"$dir/t/$f"), conf))
      try {
        val cols = reader.getFooter.getBlocks.get(0).getColumns
        import scala.jdk.CollectionConverters._
        val byName = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
        assert(byName("id").getBloomFilterOffset >= 0, s"no bloom for id in $f")
        assert(byName("v").getBloomFilterOffset < 0, s"unexpected bloom for v in $f")
      } finally reader.close()
    }
    // point lookup still exact through readWhere
    assert(t.readWhere(col("id") === 500L).select("v").as[String].collect().toSeq === Seq("v500"))
  }

  private def cdfTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft-cdf-").toString
    GraftTable(spark, s"file://$dir/t")(GraftSettings.default.copy(changeDataFeed = true))
  }

  test("change data feed: DML records row-level changes; replay reconstructs state") {
    val t = cdfTable()
    t.append(Seq((1, "one", 10.0), (2, "two", 20.0), (3, "three", 30.0))
      .toDF("id", "name", "amt")) // v1
    t.upsert(Seq((2, "TWO", 22.0, "u"), (4, "four", 44.0, "c"), (3, "three", 30.0, "d"))
      .toDF("id", "name", "amt", "op"), Seq("id"), "op") // v2
    t.delete(col("id") === 4) // v3
    t.update(col("id") === 1, Map("amt" -> lit(11.0))) // v4
    val ch = t.readChanges(0)
      .select("id", "name", "amt", "_change_type", "_commit_version")
      .as[(Int, String, Double, String, Long)].collect()
    // v1: appends synthesize inserts from the commit log, nothing written twice
    assert(ch.filter(_._5 == 1).map(c => (c._1, c._4)).toSet ===
      Set((1, "insert"), (2, "insert"), (3, "insert")))
    // v2: the CDC merge split into all four change types
    val v2 = ch.filter(_._5 == 2)
    assert(v2.map(c => (c._1, c._4)).toSet ===
      Set((2, "update_preimage"), (2, "update_postimage"), (4, "insert"), (3, "delete")))
    assert(v2.find(_._4 == "update_postimage").get._2 === "TWO")
    assert(ch.filter(_._5 == 3).map(c => (c._1, c._4)).toSeq === Seq((4, "delete")))
    val v4 = ch.filter(_._5 == 4)
    assert(v4.map(c => (c._1, c._4, c._3)).toSet ===
      Set((1, "update_preimage", 10.0), (1, "update_postimage", 11.0)))
    // the CDF contract: folding the feed over an empty state = the snapshot
    val replayed = ch.sortBy(_._5)
      .foldLeft(Map.empty[Int, (String, Double)]) { case (m, (id, name, amt, tpe, _)) =>
        tpe match {
          case "insert" | "update_postimage" => m + (id -> (name, amt))
          case "delete"                      => m - id
          case "update_preimage"             => m
        }
      }
    val now = t.read().as[(Int, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(replayed === now)
  }

  test("change files read under the commit's schema serve the rows a footer-merged read gives") {
    val t = cdfTable()
    t.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))          // v1
    t.upsert(Seq((2, "B", 20L, "u"), (4, "d", 40L, "c"), (3, "c", 0L, "d"))
      .toDF("id", "v", "w", "op"), Seq("id"), "op")                      // v2: adds w
    t.renameColumn("v", "label")                                          // v3
    t.update(col("id") === 1, Map("label" -> lit("A")))                   // v4
    t.delete(col("id") === 4)                                             // v5
    val withChanges = t.commits().filter(_.changes.exists(_.nonEmpty))
    assert(withChanges.map(_.version) === Seq(2L, 4L, 5L))
    withChanges.foreach { c =>
      val merged = spark.read.option("mergeSchema", "true")
        .parquet(c.changes.get.map(f => s"${t.path}/$f"): _*)
      val served = t.readChanges(c.version - 1, c.version).drop("_commit_version")
      // the served frame may add columns no change file holds; they are NULL
      val extra = served.columns.filterNot(merged.columns.contains)
      extra.foreach(x => assert(served.filter(col(x).isNotNull).isEmpty, s"v${c.version} $x"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(merged.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(rows(served) === rows(merged), s"v${c.version}")
    }
  }

  test("an all-NULL-key upsert rewrites no file of an unbucketed table") {
    val t = tmpTable()
    t.append(Seq((Option(1), "a"), (Option(2), "b")).toDF("id", "v"))
    t.append(Seq((Option(3), "c")).toDF("id", "v"))
    // NULL equals no stored key: the batch can only insert
    val c = t.upsert(Seq((Option.empty[Int], "n", "c")).toDF("id", "v", "op"), Seq("id"), "op")
    assert(c.metrics("numRewrittenFiles") === "0")
    assert(c.remove.isEmpty)
    assert(t.read().as[(Option[Int], String)].collect().toSet ===
      Set((Some(1), "a"), (Some(2), "b"), (Some(3), "c"), (None, "n")))
  }

  test("change data feed: version ranges, overwrite synthesis, non-CDF DML refuses") {
    val t = cdfTable()
    t.append(Seq((1, "a")).toDF("id", "v"))         // v1
    t.update(col("id") === 1, Map("v" -> lit("b"))) // v2
    val r = t.readChanges(1, toInclusive = 2).select("_change_type").as[String].collect().sorted
    assert(r.toSeq === Seq("update_postimage", "update_preimage"))
    // overwrite needs no recorded changes: removed files ARE the deletes
    t.overwrite(Seq((7, "z")).toDF("id", "v"))      // v3
    val ov = t.readChanges(2).select("id", "_change_type").as[(Int, String)].collect().toSet
    assert(ov === Set((1, "delete"), (7, "insert")))
    // a table written without the setting refuses to invent change rows for
    // a rewrite (it would report copied rows as delete+insert pairs)...
    val dir = Files.createTempDirectory("graft-nocdf-").toString
    val t2 = GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
    t2.append(Seq((1, "a")).toDF("id", "v"))
    t2.update(col("id") === 1, Map("v" -> lit("b")))
    val ex = intercept[IllegalStateException](t2.readChanges(0).collect())
    assert(ex.getMessage.contains("change data"))
    // ...but append-only ranges still synthesize
    assert(t2.readChanges(0, toInclusive = 1)
      .select("_change_type").as[String].head() === "insert")
  }

  test("change data feed on a bucketed table: pruned upsert records exact changes") {
    val dir = Files.createTempDirectory("graft-cdf-bucket-").toString
    val t = GraftTable(spark, s"file://$dir/t")(
      GraftSettings.default.copy(changeDataFeed = true))
    t.setBucketSpec(Seq("id"), numBuckets = 4)
    t.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v")) // v1
    // the change joins see only the AFFECTED buckets' snapshot — the
    // existing-key split must still classify update-vs-insert correctly
    val c = t.upsert(Seq((7, "SEVEN", "u"), (9999, "new", "c"), (13, "x", "d"))
      .toDF("id", "v", "op"), Seq("id"), "op") // v2
    assert(c.remove.nonEmpty && c.remove.size < t.commits().head.add.size + c.add.size,
      "expected a pruned rewrite, not a full-table one")
    val ch = t.readChanges(1).select("id", "v", "_change_type")
      .as[(Int, String, String)].collect().toSet
    assert(ch === Set(
      (7, "v7", "update_preimage"), (7, "SEVEN", "update_postimage"),
      (9999, "new", "insert"), (13, "v13", "delete")))
  }

  test("concurrent appends through separate instances lose nothing (listing cache under contention)") {
    // Four writer instances race 5 appends each against one log. The claim
    // protocol must serialize the 20 commits with zero loss, and every
    // instance's CACHED listing must converge on the full log — the
    // next-version existence probe is what keeps a cache correct while
    // other instances are publishing versions at full speed.
    val dir = Files.createTempDirectory("graft-table-race-").toString
    val path = s"file://$dir/t"
    val writers = (0 until 4).map(_ => GraftTable(spark, path)(GraftSettings.default))
    val perWriter = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writers.zipWithIndex.map { case (w, wi) =>
      new Thread(() => {
        try {
          (0 until perWriter).foreach { i =>
            w.append(Seq((wi * perWriter + i, s"w$wi-$i")).toDF("id", "v"))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    // every instance (all of which hold a now-stale cached listing from
    // their own last commit) must see the complete final state
    writers.foreach { w =>
      assert(w.version === 20L, "an instance's cached listing missed foreign commits")
      assert(w.read().count() === 20L)
    }
    val ids = writers.head.read().select("id").as[Int].collect().toSet
    assert(ids === (0 until 20).toSet, "a concurrent append was lost or duplicated")
    // the log itself must be dense: versions 1..20, no gaps, no orphans
    val log = writers.head.commits().map(_.version)
    assert(log === (1L to 20L), s"non-dense version chain: $log")
  }

  test("vacuum ages out change-data files on the retention clock") {
    val t = cdfTable()
    t.append(Seq((1, "a")).toDF("id", "v"))          // v1
    t.update(col("id") === 1, Map("v" -> lit("b")))  // v2: records change files
    assert(t.readChanges(1).count() === 2)
    assert(t.vacuum(retentionHours = 1.0).isEmpty)   // too young: kept
    assert(t.readChanges(1).count() === 2)
    val deleted = t.vacuum(retentionHours = 0.0)
    assert(deleted.exists(_.startsWith("_graft_changes/")), s"no change files GC'd: $deleted")
    // same contract as time travel after vacuum: loud failure, not empty
    intercept[Exception](t.readChanges(1).count())
    assert(t.read().count() === 1) // live data untouched
  }

  test("bucketed staging keys stats per bucket FILE — no cross-bucket collapse") {
    // more buckets than shuffle partitions (4): one write task serves
    // several graft_bucket=N/ staging dirs, so leaf file names REPEAT
    // across bucket dirs — a basename-keyed stats map collapsed those
    // files' stats into one entry (unsound data skipping)
    val dir = Files.createTempDirectory("graft-bstats-").toString
    val t = GraftTable(spark, s"file://$dir/t")(GraftSettings.default)
    t.setBucketSpec(Seq("id"), 16)
    t.append((1 to 400).map(i => (i, s"v$i")).toDF("id", "v"))
    val stats = t.snapshot().stats
    val live = t.liveFiles()
    assert(live.size > 4, s"need a multi-bucket layout, got ${live.size} files")
    assert(live.forall(stats.contains), "every staged file must carry stats")
    live.foreach { f =>
      val actual = spark.read.parquet(s"${t.path}/$f")
        .agg(min(col("id")), max(col("id")), count(lit(1))).head()
      val st = stats(f)
      assert(st.rows === actual.getLong(2), s"row count of $f")
      val cs = st.cols("id")
      assert(cs.min.get.toInt === actual.getInt(0) && cs.max.get.toInt === actual.getInt(1),
        s"stats of $f must be ITS OWN min/max, not another bucket file's")
    }
    assert(t.readWhere(col("id") === 7).as[(Int, String)].collect().toSeq === Seq((7, "v7")))
  }

  test("overwrite conflicts with an interleaved append instead of silently dropping it") {
    val dir = Files.createTempDirectory("graft-ow-race-").toString
    val path = s"file://$dir/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    val other = GraftTable(spark, path)(GraftSettings.default)
    // an append lands inside the overwrite's snapshot->publish window: its
    // rows are OUTSIDE the overwrite's remove list, so publishing would
    // leave them alive beside the new contents — a silent lost-update
    t.onBeforeRewriteCommit = () => other.append(Seq((99, "x")).toDF("id", "v"))
    val e = intercept[IllegalStateException](t.overwrite(Seq((2, "b")).toDF("id", "v")))
    assert(e.getMessage.contains("conflicts"))
    assert(GraftTable(spark, path)(GraftSettings.default).read()
      .as[(Int, String)].collect().toMap === Map(1 -> "a", 99 -> "x"))
  }

  test("restore conflicts with an interleaved data commit (whole-state op)") {
    val dir = Files.createTempDirectory("graft-rs-race-").toString
    val path = s"file://$dir/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v")) // v1
    t.append(Seq((2, "b")).toDF("id", "v")) // v2
    val other = GraftTable(spark, path)(GraftSettings.default)
    t.onBeforeRewriteCommit = () => other.append(Seq((50, "z")).toDF("id", "v"))
    val e = intercept[IllegalStateException](t.restore(1))
    assert(e.getMessage.contains("conflicts"))
    // nothing rolled back; the interleaved append is intact
    assert(t.read().as[(Int, String)].collect().toMap
      === Map(1 -> "a", 2 -> "b", 50 -> "z"))
  }

  test("compaction reads its pinned snapshot and conflicts with interleaved rewrites") {
    val dir = Files.createTempDirectory("graft-cp-race-").toString
    val path = s"file://$dir/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1)))
    val other = GraftTable(spark, path)(GraftSettings.default)
    // interleaved APPEND: disjoint from the pinned compact set — the
    // compact lands against the new base and the appended rows exist ONCE
    // (the old fresh-snapshot read would have baked them into the output
    // while leaving their file live: every row served twice)
    t.onBeforeRewriteCommit = () =>
      other.append(Seq((100, "x")).toDF("id", "v").coalesce(1))
    assert(t.compactIfNeeded(maxFiles = 2).isDefined)
    assert(t.read().count() === 6, "an interleaved append's rows must exist exactly once")
    assert(t.read().as[(Int, String)].collect().toMap
      === ((1 to 5).map(i => i -> s"v$i").toMap + (100 -> "x")))
    // interleaved DELETE that rewrote a pinned file: the compacted output
    // holds rows that no longer exist — loud conflict, nothing resurrected
    (101 to 104).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1)))
    t.onBeforeRewriteCommit = () => { other.delete(col("id") === 103); () }
    val e = intercept[IllegalStateException](t.compactIfNeeded(maxFiles = 2))
    assert(e.getMessage.contains("conflicts"))
    assert(!t.read().as[(Int, String)].collect().toMap.contains(103),
      "the interleaved delete's effect must survive the failed compact")
  }

  test("vacuum sweeps crashed writers' staging directories") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = new org.apache.hadoop.fs.Path(t.path, "_staging-deadbeef")
    fs.mkdirs(dead)
    val deadFile = new org.apache.hadoop.fs.Path(dead, "part-x.parquet")
    val out = fs.create(deadFile, false)
    out.write(1); out.close()
    val cdead = new org.apache.hadoop.fs.Path(t.path, "_graft_changes/.stage-deadbeef")
    fs.mkdirs(cdead)
    // a crashed writer's WHOLE tree is old — staging age is the newest
    // RECURSIVE mtime, not the root dir inode's (bucketed stage() writes
    // land in graft_bucket=N/ subdirs and never touch the root's mtime)
    val old = System.currentTimeMillis() - 60 * 60 * 1000
    fs.setTimes(dead, old, -1)
    fs.setTimes(deadFile, old, -1)
    fs.setTimes(cdead, old, -1)
    // an IN-FLIGHT bucketed write: root staging dir is old (created at
    // stage() start) but a bucket subdir holds a fresh file — must survive
    val inflight = new org.apache.hadoop.fs.Path(t.path, "_staging-inflight")
    val bucketDir = new org.apache.hadoop.fs.Path(inflight, "graft_bucket=0")
    fs.mkdirs(bucketDir)
    val fresh = fs.create(new org.apache.hadoop.fs.Path(bucketDir, "part-y.parquet"), false)
    fresh.write(1); fresh.close()
    fs.setTimes(inflight, old, -1)
    fs.setTimes(bucketDir, old, -1)
    val report = t.vacuum(retentionHours = 0.01, dryRun = true)
    assert(report.contains("_staging-deadbeef"), s"dry run must report the dir: $report")
    assert(report.contains("_graft_changes/.stage-deadbeef"), s"got: $report")
    assert(!report.contains("_staging-inflight"),
      s"in-flight bucketed staging must not be reported: $report")
    assert(fs.exists(dead), "dry run must delete nothing")
    t.vacuum(retentionHours = 0.01)
    assert(!fs.exists(dead) && !fs.exists(cdead), "aged staging dirs must be GC'd")
    assert(fs.exists(inflight),
      "a staging dir with a fresh bucket-subdir file must survive vacuum")
    assert(t.read().count() === 2, "live data untouched")
  }

  test("a foreign vacuumLog's trim fails loudly from a stale listing, then self-heals") {
    val dir = Files.createTempDirectory("graft-trim-race-").toString
    val path = s"file://$dir/t"
    val writer = GraftTable(spark, path)(GraftSettings.default)
    (1 to 3).foreach(i => writer.append(Seq((i, "x")).toDF("id", "v")))
    val reader = GraftTable(spark, path)(GraftSettings.default)
    assert(reader.version === 3) // populates the listing cache, parses nothing
    // a foreign process trims v1 behind the reader's back — the
    // next-version probe can't see deletions
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_graft_log/${"%020d".format(1)}.json"), false))
    val e = intercept[IllegalStateException](reader.commits())
    assert(e.getMessage.contains("vanished"), e.getMessage)
    // the failure dropped the stale cache: a retry serves the re-listed log
    assert(reader.commits().map(_.version) === Seq(2L, 3L))
  }

  test("repair honors the configured claim TTL (one constant, not two)") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(
      s"${t.path}/_graft_log/.${"%020d".format(2)}.json.claim")
    fs.create(claim, false).close()
    // 15 minutes old: past the old hardcoded 10-minute window, INSIDE a
    // configured 30-minute lease — repair must not clear it
    fs.setTimes(claim, System.currentTimeMillis() - 15 * 60 * 1000, -1)
    spark.conf.set(LogStore.ClaimTtlKey, (30L * 60 * 1000).toString)
    try {
      assert(!t.repair(dryRun = true).exists(_.endsWith(".claim")),
        "a claim inside the configured lease must not be reported")
      fs.setTimes(claim, System.currentTimeMillis() - 31 * 60 * 1000, -1)
      assert(t.repair(dryRun = true).exists(_.endsWith(".claim")),
        "a claim past the configured lease must be reported")
    } finally {
      spark.conf.unset(LogStore.ClaimTtlKey)
      fs.delete(claim, false)
    }
  }
}
