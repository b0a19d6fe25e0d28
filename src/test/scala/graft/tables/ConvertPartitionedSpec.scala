package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.conf.GraftSettings

/** Partitioned-tree CONVERT: a hive-layout parquet tree (`k=v` directory
  * levels — what real lakes hold) adopts in place. Partition values
  * become per-file min=max stats atoms, so the ordinary skipping
  * machinery prunes `readWhere(partCol === x)` to one partition's files;
  * reads synthesize the partition columns from file paths; later DML
  * rewrites stage flat files carrying the columns as data, and the two
  * layouts coexist. */
class ConvertPartitionedSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-convert-").toString

  private def writeTree(dir: String): Unit =
    (1 to 60).map(i => (i, s"v$i", if (i % 3 == 0) "eu" else "us", i % 2))
      .toDF("id", "v", "region", "d")
      .write.partitionBy("region", "d").parquet(dir)

  test("convert adopts a two-level k=v tree; readWhere prunes to one partition's files") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    val c = t.convert()
    assert(c.metrics("partitionColumns") === "region,d")
    assert(t.liveFiles().forall(f => f.contains("region=") && f.contains("/d=")))
    // partition columns come back with values, types inferred (d: int)
    val got = t.read().select("id", "region", "d").as[(Int, String, Int)].collect()
    assert(got.length === 60)
    assert(got.forall { case (i, r, d) => r === (if (i % 3 == 0) "eu" else "us") && d === i % 2 })
    // partition-value atoms prune to ONE partition's files
    val euFiles = t.prunedFiles(col("region") === "eu")
    assert(euFiles.nonEmpty && euFiles.forall(_.startsWith("region=eu/")),
      s"expected only region=eu files, got $euFiles")
    assert(euFiles.size < t.liveFiles().size)
    val slice = t.prunedFiles(col("region") === "eu" && col("d") === 1)
    assert(slice.nonEmpty && slice.forall(_.startsWith("region=eu/d=1")))
    // and the answers are exact
    assert(t.readWhere(col("region") === "eu" && col("d") === 1)
      .select("id").as[Int].collect().sorted.toSeq
      === (1 to 60).filter(i => i % 3 == 0 && i % 2 == 1))
    // DATA-column stats collected too (keyed by relative path)
    assert(t.prunedFiles(col("id") === -5).isEmpty)
  }

  test("many-partition tree (48 slices): pruning stays O(one partition)") {
    // the 100 TB shape in miniature: a lake tree with many partition dirs
    // must adopt in one listing + per-file footer reads, and a point predicate
    // must reach exactly one slice's files — the whole reason partition
    // values become stats atoms
    val dir = s"${tmp()}/t"
    // independent partition columns: all 4 x 12 = 48 combos populated
    (0 until 960).map(i => (i, s"v$i", s"r${i % 4}", (i / 4) % 12))
      .toDF("id", "v", "region", "d")
      .write.partitionBy("region", "d").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    val live = t.liveFiles()
    assert(live.size >= 48, s"expected >=48 adopted files, got ${live.size}")
    val slice = t.prunedFiles(col("region") === "r2" && col("d") === 6)
    assert(slice.nonEmpty && slice.forall(_.startsWith("region=r2/d=6")),
      s"expected exactly the r2/6 slice, got $slice")
    assert(slice.size <= live.size / 40,
      s"pruned ${slice.size} of ${live.size} — not O(one partition)")
    assert(t.readWhere(col("region") === "r2" && col("d") === 6)
      .select("id").as[Int].collect().sorted.toSeq
      === (0 until 960).filter(i => i % 4 == 2 && (i / 4) % 12 == 6))
    // a partition-col + data-col conjunction composes both atom kinds
    assert(t.prunedFiles(col("region") === "r2" && col("id") === -1).isEmpty)
  }

  test("non-k=v nesting is refused loudly; flat convert unchanged") {
    val dir = s"${tmp()}/bad"
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$dir/sub")
    val e = intercept[IllegalArgumentException](
      GraftTable(spark, dir)(GraftSettings.default).convert())
    assert(e.getMessage.contains("k=v"))
    val flat = s"${tmp()}/flat"
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(flat)
    val t = GraftTable(spark, flat)(GraftSettings.default)
    t.convert()
    assert(t.read().count() === 2)
    assert(t.liveFiles().forall(!_.contains("/")))
  }

  test("DML on a converted tree: pruned rewrite, mixed flat+nested layout reads correctly") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    val live0 = t.liveFiles().size
    // delete inside one partition: only that partition's files rewrite
    t.delete(col("region") === "eu" && col("id") <= 10)
    val c = t.commits().last
    assert(c.action === "delete")
    assert(c.remove.forall(_.startsWith("region=eu/")),
      s"delete touched non-eu files: ${c.remove}")
    assert(c.remove.size < live0)
    // survivors re-staged FLAT with the partition columns as data; the
    // nested remainder still derives them from paths — both read together
    assert(t.liveFiles().exists(!_.contains("/")) &&
      t.liveFiles().exists(_.contains("/")), "expected a mixed layout")
    val got = t.read().select("id", "region", "d").as[(Int, String, Int)].collect()
    assert(got.length === 60 - (1 to 10).count(_ % 3 == 0))
    assert(got.forall { case (i, r, d) => r === (if (i % 3 == 0) "eu" else "us") && d === i % 2 })
    // pruning still works across the mixed layout
    assert(t.readWhere(col("region") === "us").count() === (1 to 60).count(_ % 3 != 0))
  }

  test("DV-mode DML on a converted tree falls back to the pruned rewrite (no base-name DVs)") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default.copy(deletionVectors = true))
    t.convert()
    // deletion vectors key positions by base file name, which partition
    // dirs can repeat — the DML must take the rewrite path instead
    t.delete(col("region") === "eu" && col("id") <= 10)
    val c = t.commits().last
    assert(c.dvs.forall(_.isEmpty), s"expected no DV bindings, got ${c.dvs}")
    assert(c.remove.nonEmpty && c.remove.forall(_.startsWith("region=eu/")))
    val got = t.read().select("id", "region").as[(Int, String)].collect()
    assert(got.length === 60 - (1 to 10).count(_ % 3 == 0))
    assert(!got.exists { case (i, r) => r == "eu" && i <= 10 })
    // flat files (post-rewrite) still take the DV fast path afterwards
    t.overwrite(t.read())
    t.delete(col("id") === 55)
    assert(t.commits().last.dvs.exists(_.nonEmpty),
      "flattened table should use deletion vectors again")
    assert(t.read().count() === got.length - 1)
  }

  test("partition values with '+' and hive-escaped chars round-trip exactly") {
    val dir = s"${tmp()}/t"
    // 'a+b' stays literal in hive path escaping; 'x:y' escapes to x%3Ay
    Seq((1, "a+b"), (2, "x:y"), (3, "plain"))
      .toDF("id", "part").write.partitionBy("part").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    val got = t.read().select("id", "part").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> "a+b", 2 -> "x:y", 3 -> "plain"),
      s"partition values corrupted: $got")
    // the pruning atoms decode the same way — exact readWhere on both
    assert(t.readWhere(col("part") === "a+b").select("id").as[Int].collect().toSeq
      === Seq(1))
    assert(t.prunedFiles(col("part") === "a+b").size === 1)
    assert(t.readWhere(col("part") === "x:y").select("id").as[Int].collect().toSeq
      === Seq(2))
  }

  test("metadata-only convert (NO STATISTICS) still records partition atoms") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert(collectStats = false)
    val euFiles = t.prunedFiles(col("region") === "eu")
    assert(euFiles.nonEmpty && euFiles.forall(_.startsWith("region=eu/")))
    // no data stats -> data predicates keep everything (sound degrade)
    assert(t.prunedFiles(col("id") === -5).size === t.liveFiles().size)
    assert(t.readWhere(col("region") === "eu").count() === (1 to 60).count(_ % 3 == 0))
  }

  test("convert reads footer stats with no data scan: job budget, point predicates prune") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // drain first: the tree write's jobs must not land in the count
    org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      t.convert()
      org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    // what remains is the schema inference of the adopted tree; a
    // distributed stats aggregation over the data would add to it
    assert(jobs.get <= ConvertJobBudget,
      s"convert ran ${jobs.get} Spark jobs (budget $ConvertJobBudget)")
    // data-column footer stats still prune: out of range -> no file; a
    // point inside one partition -> the one file holding it
    assert(t.prunedFiles(col("id") === -5).isEmpty)
    val point = col("region") === "us" && col("d") === 1 && col("id") === 7
    assert(t.prunedFiles(point).size === 1, t.prunedFiles(point))
    assert(t.readWhere(point).select("id", "v").as[(Int, String)].collect().toSeq
      === Seq((7, "v7")))
  }

  private val ConvertJobBudget = 1

  private def scanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.FileSourceScanExec =
    df.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head

  test("native relation serves partition-converted trees (values, pruning, SQL)") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    // full read through format("graft"): path-derived values are exact
    val got = spark.read.format("graft").load(t.path)
      .select("id", "region", "d").as[(Int, String, Int)].collect()
    assert(got.length === 60)
    assert(got.forall { case (i, r, d) => r === (if (i % 3 == 0) "eu" else "us") && d === i % 2 })
    // a partition predicate prunes FILES at analysis time (dir-value
    // stats atoms) and is pushed into the scan for flat files
    val total = t.liveFiles().size
    val q = t.readRelation().filter(col("region") === "eu" && col("d") === 1)
    assert(q.select("id").as[Int].collect().sorted.toSeq
      === (1 to 60).filter(i => i % 3 == 0 && i % 2 == 1))
    val scan = scanOf(q)
    assert(scan.metrics("numFiles").value < total,
      s"expected partition-pruned scan, got ${scan.metrics("numFiles").value} of $total")
    assert(scan.metadata("PushedFilters").contains("EqualTo(region,eu)"))
    // readWhere routes through the same native path and stays exact
    assert(t.readWhere(col("region") === "eu" && col("d") === 1)
      .select("id").as[Int].collect().sorted.toSeq
      === (1 to 60).filter(i => i % 3 == 0 && i % 2 == 1))
    // SQL over the catalog serves the same rows
    spark.sql(s"CREATE TABLE conv_native USING graft LOCATION '${t.path}'")
    try {
      assert(spark.sql(
        "SELECT sum(id) AS s FROM conv_native WHERE region = 'eu'")
        .as[Long].head() === (1 to 60).filter(_ % 3 == 0).sum)
    } finally spark.sql("DROP TABLE conv_native")
    // projection that never touches a partition column patches nothing
    assert(t.readRelation().select("id").as[Int].collect().sorted.toSeq
      === (1 to 60))
  }

  test("native relation over a mixed flat+nested layout (post-DML) reads correctly") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    t.delete(col("region") === "eu" && col("id") <= 10)
    assert(t.liveFiles().exists(!_.contains("/")) &&
      t.liveFiles().exists(_.contains("/")), "expected a mixed layout")
    // flat rewrites carry the columns as DATA (page value wins), nested
    // remainder derives them from paths — one native scan serves both
    val got = t.readRelation().select("id", "region", "d").as[(Int, String, Int)].collect()
    assert(got.length === 60 - (1 to 10).count(_ % 3 == 0))
    assert(got.forall { case (i, r, d) => r === (if (i % 3 == 0) "eu" else "us") && d === i % 2 })
    assert(t.readRelation().filter(col("region") === "us").count()
      === (1 to 60).count(_ % 3 != 0))
    // a one-time overwrite flattens the layout and restores the vanilla
    // vectorized parquet format (no per-row patch projection)
    t.overwrite(t.read())
    val flatScan = scanOf(t.readRelation())
    assert(flatScan.relation.fileFormat.getClass.getSimpleName === "ParquetFileFormat",
      s"flattened table should scan vanilla parquet, got ${flatScan.relation.fileFormat}")
    assert(t.readRelation().count() === 60 - (1 to 10).count(_ % 3 == 0))
  }

  test("native relation decodes hive-escaped partition values ('+', ':')") {
    val dir = s"${tmp()}/t"
    Seq((1, "a+b"), (2, "x:y"), (3, "plain"))
      .toDF("id", "part").write.partitionBy("part").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    val got = t.readRelation().select("id", "part").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> "a+b", 2 -> "x:y", 3 -> "plain"),
      s"partition values corrupted through the native relation: $got")
    assert(t.readRelation().filter(col("part") === "x:y")
      .select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("native relation round-trips the full tricky-value set written by Spark's escaper") {
    // end-to-end twin of PropertySpec's decode-layer pin: the values go
    // through partitionBy (escapePathName) -> disk -> PartitionedFile URI
    // decode -> hiveUnescapeOrRaw -> Cast, and must come back EXACT —
    // including the null sentinel (null) and a near-sentinel (literal).
    // ASCII-only here: this container's POSIX file.encoding makes
    // Spark's OWN partition writer throw on non-ASCII dir names
    // (sun.nio.fs.UnixPath.encode) — the unicode decode layer is pinned
    // in PropertySpec against escapePathName directly.
    val tricky = Seq("a+b", "x:y", "50%", "a b", "semi;colon", "eq=ual",
      "star*", "qu?est", "__HIVE_DEFAULT_PARTITION_",
      "%2B", "+", "hash#tag")
    val dir = s"${tmp()}/t"
    val rows = tricky.zipWithIndex.map { case (v, i) => (i, v) } :+
      (tricky.length, null.asInstanceOf[String])
    rows.toDF("id", "part").write.partitionBy("part").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    val got = t.readRelation().select("id", "part").as[(Int, Option[String])]
      .collect().toMap
    tricky.zipWithIndex.foreach { case (v, i) =>
      assert(got(i) === Some(v), s"native relation corrupted '$v': got ${got(i)}")
    }
    assert(got(tricky.length) === None,
      "null partition value (hive sentinel dir) must read back as NULL")
    // a point filter on an escaped value still prunes+answers exactly
    assert(t.readRelation().filter(col("part") === "hash#tag")
      .select("id").as[Int].collect().toSeq
      === Seq(tricky.indexOf("hash#tag")))
  }

  test("subquery DML sweeps the full tricky-value escaper set (every partition hit exactly)") {
    // DML twin of the native-relation round-trip above: affectedFiles
    // derives relative LOG names from the URI-encoded _metadata.file_path,
    // so EVERY escaper output (%, +, #, space, ...) must decode back to
    // the on-disk name a DELETE can match — one missed decode layer and
    // that partition's delete silently no-ops
    val tricky = Seq("a+b", "x:y", "50%", "a b", "semi;colon", "eq=ual",
      "star*", "qu?est", "%2B", "+", "hash#tag")
    val dir = s"${tmp()}/t"
    tricky.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2, v), (i * 2 + 1, v)) // two rows per partition: one dies
    }.toDF("id", "part").write.partitionBy("part").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    spark.sql("DROP TABLE IF EXISTS conv_sweep")
    spark.sql(s"CREATE TABLE conv_sweep USING graft LOCATION '${t.path}'")
    // kill every EVEN id via a subquery — one row in EVERY partition
    spark.range(0, tricky.length.toLong * 2, 2).toDF("kill")
      .createOrReplaceTempView("sweep_kill")
    spark.sql("DELETE FROM conv_sweep WHERE id IN (SELECT kill FROM sweep_kill)")
    val got = t.read().select("id", "part").as[(Int, String)].collect().toMap
    tricky.zipWithIndex.foreach { case (v, i) =>
      assert(!got.contains(i * 2), s"partition '$v': delete silently no-oped")
      assert(got.get(i * 2 + 1) === Some(v),
        s"partition '$v': survivor lost or value corrupted (got ${got.get(i * 2 + 1)})")
    }
    assert(got.size === tricky.length)
    spark.sql("DROP TABLE conv_sweep")
  }

  test("OPTIMIZE on a converted tree preserves partition values (path-carried columns)") {
    // the bin-pack read must synthesize dir partition columns like every
    // other read: a pinned-schema direct read of nested adopted files
    // decodes the path-carried values as NULL and bakes the loss into the
    // packed files — silent, unrecoverable corruption
    val dir = s"${tmp()}/t"
    (1 to 40).map(i => (i, s"v$i", if (i % 2 == 0) "eu" else "us"))
      .toDF("id", "v", "region").repartition(8)
      .write.partitionBy("region").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    assert(t.optimize().isDefined, "precondition: the bin-pack ran")
    val got = t.read().select("id", "region").as[(Int, String)].collect().toMap
    assert(got.size === 40)
    got.foreach { case (i, r) =>
      assert(r === (if (i % 2 == 0) "eu" else "us"),
        s"id=$i partition value corrupted by optimize: $r")
    }
    // and the packed table still prunes on the (now data-carried) column
    assert(t.readWhere(col("region") === "eu").count() === 20)
  }

  test("streaming a converted table synthesizes partition columns; partition-col DDL refused") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    // a fresh stream serves the snapshot — partition columns must carry
    // their path-derived values into the sink
    val sinkDir = s"${tmp()}/sink"
    val q = spark.readStream.format("graft").load(t.path)
      .writeStream.format("graft")
      .option("checkpointLocation", s"${tmp()}/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(sinkDir)
    q.awaitTermination()
    val got = GraftTable(spark, sinkDir)(GraftSettings.default)
      .read().select("id", "region", "d").as[(Int, String, Int)].collect()
    assert(got.length === 60)
    assert(got.forall { case (i, r, d) => r === (if (i % 3 == 0) "eu" else "us") && d === i % 2 })
    // renaming/dropping a dir-derived partition column would desync the
    // path synthesis — refused until the layout is flattened
    val e1 = intercept[IllegalArgumentException](t.renameColumn("region", "geo"))
    assert(e1.getMessage.contains("partition"))
    val e2 = intercept[IllegalArgumentException](t.dropColumn("region"))
    assert(e2.getMessage.contains("partition"))
    t.overwrite(t.read()) // flatten: columns become data
    t.renameColumn("region", "geo") // now a plain metadata rename
    assert(t.read().filter(col("geo") === "eu").count() === (1 to 60).count(_ % 3 == 0))
  }

  test("subquery DELETE/UPDATE on a converted tree touches the right nested files") {
    // affectedFiles discovery must return LOG names (nested relative
    // paths) — a basename would match nothing in snap.live and the DML
    // would silently no-op while still recording a commit
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    spark.sql("DROP TABLE IF EXISTS conv_subq")
    spark.sql(s"CREATE TABLE conv_subq USING graft LOCATION '${t.path}'")
    Seq(3, 6, 9).toDF("kill").createOrReplaceTempView("kill_ids")
    spark.sql("DELETE FROM conv_subq WHERE id IN (SELECT kill FROM kill_ids)")
    assert(t.read().select("id").as[Int].collect().sorted.toSeq
      === (1 to 60).filterNot(Set(3, 6, 9)))
    // partition values still serve on the rewritten (flat-staged) rows
    assert(t.read().where(col("id") === 12).select("region").as[String].head === "eu")
    spark.sql("UPDATE conv_subq SET v = 'X' WHERE id IN (SELECT kill + 1 FROM kill_ids)")
    assert(spark.table("conv_subq").where(col("v") === "X")
      .select("id").as[Int].collect().sorted.toSeq === Seq(4, 7, 10))
    spark.sql("DROP TABLE conv_subq")
  }

  test("subquery DML on hive-escaped partition values (space/colon) hits the right files") {
    // `_metadata.file_path` is the URI-ENCODED rendering of the on-disk
    // name, while log names hold the on-disk literal. A space survives
    // hive escaping (`part=a b` on disk) but URI-renders as `part=a%20b`;
    // a colon hive-escapes (`part=x%3Ay` on disk) and URI-renders as
    // `part=x%253Ay`. Either way the relative-name column must shed
    // exactly one URI layer or affectedFiles matches NOTHING in
    // snap.live — the DELETE would silently no-op while still recording
    // a commit.
    val dir = s"${tmp()}/t"
    Seq((1, "v1", "a b"), (2, "v2", "a b"), (3, "v3", "x:y"), (4, "v4", "plain"))
      .toDF("id", "v", "part").write.partitionBy("part").parquet(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    // the log holds the ON-DISK forms
    assert(t.liveFiles().exists(_.startsWith("part=a b/")), t.liveFiles().toString)
    assert(t.liveFiles().exists(_.startsWith("part=x%3Ay/")), t.liveFiles().toString)
    spark.sql("DROP TABLE IF EXISTS conv_esc")
    spark.sql(s"CREATE TABLE conv_esc USING graft LOCATION '${t.path}'")
    Seq(1).toDF("kill").createOrReplaceTempView("esc_kill")
    spark.sql("DELETE FROM conv_esc WHERE id IN (SELECT kill FROM esc_kill)")
    assert(t.read().select("id").as[Int].collect().sorted.toSeq === Seq(2, 3, 4))
    val c = t.commits().last
    assert(c.remove.nonEmpty && c.remove.forall(_.startsWith("part=a b/")),
      s"delete touched wrong files: ${c.remove}")
    // UPDATE through a subquery against the still-nested colon partition
    spark.sql("UPDATE conv_esc SET v = 'X' WHERE id IN (SELECT kill + 2 FROM esc_kill)")
    assert(spark.table("conv_esc").where(col("v") === "X")
      .select("id", "part").as[(Int, String)].collect().toSeq === Seq((3, "x:y")))
    assert(t.commits().last.remove.forall(_.startsWith("part=x%3Ay/")))
    spark.sql("DROP TABLE conv_esc")
  }

  test("a DV bound to a nested hive-escaped log name drops rows on every read surface") {
    // same URI-layer trap on the DV side: the plan-level anti-join keys
    // off the relative-name column, so an escaped partition dir must
    // decode before comparing or the deleted rows RESURRECT silently
    // `part=x%3Ay` is exactly what Spark's escaper writes for value
    // 'x:y'; its URI rendering in file_path is `part=x%253Ay`
    val dir = s"${tmp()}/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "part=x%3Ay"))
    val scratch = s"${tmp()}/stage"
    Seq((1, "n1"), (2, "n2")).toDF("id", "v").coalesce(1).write.parquet(scratch)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(root, "part=x%3Ay/part-A.parquet")))
    val dvName = DeletionVectors.write(fs, dir, Array(0L)) // drops id=1
    val schema = Seq((0, "")).toDF("id", "v").schema.json
    val c = Commit(1L, "convert", dataChange = true,
      timestampMs = System.currentTimeMillis(),
      add = Seq("part=x%3Ay/part-A.parquet"), remove = Nil,
      schemaJson = schema, metrics = Map.empty,
      dvs = Some(Map("part=x%3Ay/part-A.parquet" -> dvName)))
    RawLog.writeRawCommit(spark, dir, c)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    assert(t.read().select("id").as[Int].collect().toSeq === Seq(2))
    // the synthesized partition column double-decodes to the logical value
    assert(t.read().select("part").as[String].collect().toSeq === Seq("x:y"))
    val native = spark.read.format("graft").load(dir)
    assert(native.select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("a DV bound to a flat file never bleeds onto a nested file sharing its basename") {
    // mixed-layout table where an adopted nested file and a DML-staged
    // flat file share a BASENAME: DV bindings are keyed by LOG name
    // (table-relative path), so the flat file's bitmap must drop rows in
    // the flat file ONLY — on every read surface. Forged log: the engine
    // UUID-names its own staged files, so the collision can't be driven
    // through the public DML path, but external tools laying files into an
    // adopted tree make it reachable.
    val dir = s"${tmp()}/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "region=eu"))
    def layFile(df: org.apache.spark.sql.DataFrame, to: String): Unit = {
      val scratch = s"${tmp()}/stage"
      df.coalesce(1).write.parquet(scratch)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(part, new org.apache.hadoop.fs.Path(root, to)))
    }
    layFile(Seq((1, "n1"), (2, "n2")).toDF("id", "v"), "region=eu/part-A.parquet")
    layFile(Seq((10, "f1", "us"), (11, "f2", "us")).toDF("id", "v", "region"),
      "part-A.parquet")
    // the DV drops ROW 0 of the FLAT file only (id=10)
    val dvName = DeletionVectors.write(fs, dir, Array(0L))
    val schema = Seq((0, "", "")).toDF("id", "v", "region").schema.json
    val c = Commit(1L, "convert", dataChange = true,
      timestampMs = System.currentTimeMillis(),
      add = Seq("region=eu/part-A.parquet", "part-A.parquet"), remove = Nil,
      schemaJson = schema, metrics = Map.empty,
      dvs = Some(Map("part-A.parquet" -> dvName)))
    RawLog.writeRawCommit(spark, dir, c)

    val t = GraftTable(spark, dir)(GraftSettings.default)
    // plan-level read: flat row 0 (id=10) dropped, nested rows INTACT
    assert(t.read().select("id").as[Int].collect().sorted.toSeq === Seq(1, 2, 11))
    // native relation: same rows, and the nested partition value serves
    val native = spark.read.format("graft").load(dir)
    assert(native.select("id").as[Int].collect().sorted.toSeq === Seq(1, 2, 11))
    assert(native.where(col("region") === "eu")
      .select("id").as[Int].collect().sorted.toSeq === Seq(1, 2))
    assert(native.where(col("region") === "us")
      .select("id").as[Int].collect().sorted.toSeq === Seq(11))
  }

  test("FSCK repair relativizes adopted partition files (no ghost-drop of live files)") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    // all live files exist: repair must report NOTHING (pre-fix, base-name
    // matching misread every adopted partition file as missing)
    assert(t.repair(dryRun = true).isEmpty)
    // a genuinely missing nested file is still detected and dropped
    val victim = t.liveFiles().find(_.startsWith("region=eu/")).get
    graft.lake.FsUtils.fs(spark, t.path)
      .delete(new org.apache.hadoop.fs.Path(t.path, victim), false)
    assert(t.repair(dryRun = true) === Seq(victim))
    t.repair(dryRun = false)
    assert(!t.liveFiles().contains(victim))
    assert(t.read().count() < 60)
  }

  test("vacuum relativizes adopted partition files (never treats live files as orphans)") {
    val dir = s"${tmp()}/t"
    writeTree(dir)
    val t = GraftTable(spark, dir)(GraftSettings.default)
    t.convert()
    t.delete(col("region") === "eu" && col("id") <= 10) // leaves removed nested files
    val removed = t.vacuum(retentionHours = 0)
    assert(removed.nonEmpty && removed.forall(_.startsWith("region=eu/")),
      s"vacuum must GC exactly the rewritten partition's old files, got $removed")
    // the GC'd files are really gone; every live file is still readable
    val fs = graft.lake.FsUtils.fs(spark, t.path)
    removed.foreach(f => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(t.path, f)), s"$f not deleted"))
    t.liveFiles().foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(t.path, f)), s"live $f went missing"))
    assert(t.read().count() === 60 - (1 to 10).count(_ % 3 == 0))
  }
}
