package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.conf.GraftSettings

/** Reader-feature gating ([[GraftProtocol]], Delta's readerFeatures): the
  * log is a DURABLE format, so a commit whose content a reader cannot
  * interpret must refuse the whole table with the feature NAMED — on every
  * read surface — instead of silently resurrecting deleted rows (dv),
  * leaking physical names (column_mapping), or dropping partition values
  * (partition_convert). Absent feature sets decode as baseline, so every
  * pre-gate table keeps reading unchanged. */
class GraftProtocolSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-proto-").toString

  private def writeRawCommit(path: String, c: Commit): Unit =
    RawLog.writeRawCommit(spark, path, c)

  test("commits stamp required reader features from their content") {
    val root = tmp()
    // baseline append: no features field at all (zero extra log bytes)
    val plain = GraftTable(spark, s"$root/plain")(GraftSettings.default)
    plain.append(Seq((1, "a")).toDF("id", "v"))
    assert(plain.commits().last.features === None)
    // a DV-binding delete stamps "dv"
    val dvT = GraftTable(spark, s"$root/dv")(
      GraftSettings.default.copy(deletionVectors = true))
    dvT.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    dvT.delete(col("id") === 3)
    assert(dvT.commits().last.features === Some(Seq(GraftProtocol.Dv)))
    // a column-mapping rename stamps "column_mapping"
    dvT.renameColumn("v", "w")
    assert(dvT.commits().last.features
      === Some(Seq(GraftProtocol.ColumnMappingFeature)))
    // adopting a hive tree stamps "partition_convert"
    val convDir = s"$root/conv"
    Seq((1, "x", "eu"), (2, "y", "us")).toDF("id", "v", "region")
      .write.partitionBy("region").parquet(convDir)
    val conv = GraftTable(spark, convDir)(GraftSettings.default)
    conv.convert()
    assert(conv.commits().last.features
      === Some(Seq(GraftProtocol.PartitionConvert)))
    // snapshot unions them; all known -> every read surface still serves
    assert(dvT.read().count() === 19)
    assert(conv.read().count() === 2)
  }

  test("a future-feature commit refuses EVERY read surface, feature named") {
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val schema = Seq((0, "")).toDF("id", "v").schema.json
    writeRawCommit(path, Commit(2L, "append", dataChange = true,
      timestampMs = System.currentTimeMillis(),
      add = Seq.empty, remove = Seq.empty, schemaJson = schema,
      metrics = Map.empty, features = Some(Seq("v99_row_encryption"))))

    def assertRefused(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msgs.contains("v99_row_encryption") && msgs.contains("requires reader feature"),
        s"error must NAME the feature, got: $msgs")
    }
    // batch
    assertRefused(GraftTable(spark, path)(GraftSettings.default).read().collect())
    // SQL
    spark.sql("DROP TABLE IF EXISTS proto_gate")
    assertRefused {
      spark.sql(s"CREATE TABLE proto_gate USING graft LOCATION '$path'")
      spark.sql("SELECT * FROM proto_gate").collect()
    }
    spark.sql("DROP TABLE IF EXISTS proto_gate")
    // native relation
    assertRefused(spark.read.format("graft").load(path).collect())
    // streaming
    assertRefused {
      val q = spark.readStream.format("graft").load(path)
        .writeStream.format("memory").queryName("proto_gate_stream")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // CDF / per-commit history surfaces
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assertRefused(fresh.changesByVersion(0L))
    assertRefused(fresh.history().collect())
    // a featureless v3 on top: readers that parse only their own versions
    // (v3 here) must still refuse the v2 feature below them
    writeRawCommit(path, Commit(3L, "append", dataChange = true,
      timestampMs = System.currentTimeMillis(),
      add = Seq.empty, remove = Seq.empty, schemaJson = schema,
      metrics = Map.empty))
    def handle() = GraftTable(spark, path)(GraftSettings.default)
    assertRefused(handle().changesByVersion(2L))
    assertRefused(handle().readChanges(2L).collect())
    assertRefused(handle().history().collect())
    assertRefused(handle().history(1).collect())
    assertRefused(handle().versionAt(System.currentTimeMillis()))
    // writers gate transitively (append pins the current schema via
    // snapshot): a foreign binary cannot corrupt a future-feature table
    assertRefused(fresh.append(Seq((3, "c")).toDF("id", "v")))
    // time travel BELOW the future commit still serves (Delta semantics:
    // the protocol gates the versions that need it, not the ones before)
    assert(GraftTable(spark, path)(GraftSettings.default)
      .readAt(1).count() === 2)
  }

  test("a future-feature CHECKPOINT refuses (gating survives a log trim)") {
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    // hand-written future checkpoint: the only record that outlives
    // vacuumLog, so it must gate on its own
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ck = LogCheckpoint(1L, t.liveFiles(), Some(t.read().schema.json),
      Map.empty, features = Some(Seq("v99_row_encryption")))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$path/_graft_log", f"${1L}%020d.checkpoint.json"), false)
    try out.write(org.json4s.jackson.Serialization.write(ck).getBytes("UTF-8"))
    finally out.close()
    val e = intercept[UnsupportedTableFeatureException](
      GraftTable(spark, path)(GraftSettings.default).read().collect())
    assert(e.getMessage.contains("v99_row_encryption")
      && e.getMessage.contains("checkpoint v1"))
  }

  test("a PRE-GATE history self-heals: content-derived features gate the next checkpoint") {
    // a log written before feature stamping existed: DV bindings present,
    // but no commit carries a features field. The snapshot must derive
    // the gate from CONTENT, so the next checkpoint carries it and a
    // trimmed table still refuses feature-blind readers.
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(
      GraftSettings.default.copy(deletionVectors = true))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 7) // stamped commit...
    // ...then REWRITE both commits without their features fields, exactly
    // the bytes a pre-gate binary wrote
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    t.commits().foreach { c =>
      val stripped = c.copy(features = None)
      val p = new org.apache.hadoop.fs.Path(
        s"$path/_graft_log", f"${c.version}%020d.json")
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(org.json4s.jackson.Serialization.write(stripped).getBytes("UTF-8"))
      finally out.close()
    }
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.commits().forall(_.features.isEmpty), "precondition: pre-gate log")
    assert(fresh.snapshot().featureSet === Set(GraftProtocol.Dv),
      "content-derived union must recover the dv gate from a pre-gate log")
    assert(fresh.read().count() === 19, "and the table still reads normally")
  }

  // ------------------------------------------------------ writer features

  test("commits stamp required WRITER features from table state and content") {
    val root = tmp()
    // baseline append: no writerFeatures field at all
    val plain = GraftTable(spark, s"$root/plain")(GraftSettings.default)
    plain.append(Seq((1, "a")).toDF("id", "v"))
    assert(plain.commits().last.writerFeatures === None)
    // a table with a persisted CHECK constraint stamps check_constraints
    // on every subsequent commit
    val ct = GraftTable(spark, s"$root/c")(GraftSettings.default)
    ct.append(Seq((1, "a")).toDF("id", "v"))
    ct.addConstraint("pos", "id > 0")
    ct.append(Seq((2, "b")).toDF("id", "v"))
    assert(ct.commits().last.writerFeatures
      === Some(Seq(GraftProtocol.CheckConstraints)))
    // a CDF DML records change files -> change_data_feed (content-derived)
    val cdf = GraftTable(spark, s"$root/cdf")(
      GraftSettings.default.copy(changeDataFeed = true))
    cdf.append((1 to 5).map(i => (i, s"v$i")).toDF("id", "v"))
    cdf.delete(col("id") === 3)
    assert(cdf.commits().last.writerFeatures.exists(
      _.contains(GraftProtocol.ChangeDataFeedFeature)))
    // declared table PROPERTIES stamp even on baseline appends (the
    // expectation must travel with the table, not the session)
    val ao = GraftTable(spark, s"$root/ao")(GraftSettings.default)
    ao.append(Seq((1, "a")).toDF("id", "v"))
    ao.setProperties(Map("append_only" -> "true"))
    ao.append(Seq((2, "b")).toDF("id", "v"))
    assert(ao.commits().last.writerFeatures
      === Some(Seq(GraftProtocol.AppendOnlyFeature)))
    // and the snapshot unions them monotonically
    assert(ao.snapshot().writerFeatureSet === Set(GraftProtocol.AppendOnlyFeature))
  }

  test("append_only refuses row-removing DML but allows appends and compaction") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(GraftSettings.default)
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.setProperties(Map("append_only" -> "true"))
    t.append(Seq((11, "k")).toDF("id", "v")) // appends stay allowed
    def refusedAppendOnly(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("append-only"), e.getMessage)
    }
    refusedAppendOnly(t.delete(col("id") === 3))
    refusedAppendOnly(t.update(col("id") === 3, Map("v" -> lit("x"))))
    refusedAppendOnly(t.overwrite(Seq((1, "z")).toDF("id", "v")))
    // a row-preserving rewrite (dataChange=false) is NOT a data change:
    // compaction/OPTIMIZE keep working (Delta's appendOnly semantics)
    t.optimize()
    assert(t.read().count() === 11)
    // unsetting the property lifts the refusal (this binary-side policy;
    // the writer-feature union stays monotone like Delta's protocol)
    t.unsetProperties(Seq("append_only"))
    t.delete(col("id") === 3)
    assert(t.read().count() === 10)
  }

  test("a future WRITER feature lets every read surface serve but refuses every commit, feature named") {
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val schema = Seq((0, "")).toDF("id", "v").schema.json
    // hand-laid future-writer commit: READ-compatible content, but the
    // table now holds its writers to an invariant this binary cannot uphold
    writeRawCommit(path, Commit(2L, "append", dataChange = true,
      timestampMs = System.currentTimeMillis(),
      add = Seq.empty, remove = Seq.empty, schemaJson = schema,
      metrics = Map.empty, writerFeatures = Some(Seq("v99_row_tracking"))))

    // every read surface SERVES (write-side invariants cannot be violated
    // by serving rows)
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.read().count() === 2)
    assert(spark.read.format("graft").load(path).count() === 2)
    assert(fresh.history().count() === 2)
    assert(fresh.readAt(1).count() === 2)

    def assertRefused(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msgs.contains("v99_row_tracking") && msgs.contains("requires writer feature"),
        s"error must NAME the writer feature, got: $msgs")
    }
    // every COMMIT surface refuses with the feature named
    assertRefused(fresh.append(Seq((3, "c")).toDF("id", "v")))
    assertRefused(fresh.delete(col("id") === 1))
    assertRefused(fresh.upsert(Seq((1, "z", "U")).toDF("id", "v", "op"),
      Seq("id"), "op"))
    assertRefused(fresh.optimize()) // even row-preserving rewrites commit
    assertRefused(fresh.addConstraint("pos", "id > 0")) // metadata DDL too
    // SQL DML
    spark.sql("DROP TABLE IF EXISTS proto_wgate")
    spark.sql(s"CREATE TABLE proto_wgate USING graft LOCATION '$path'")
    assert(spark.sql("SELECT * FROM proto_wgate").count() === 2) // reads serve
    assertRefused(spark.sql("INSERT INTO proto_wgate VALUES (9, 'z')"))
    assertRefused(spark.sql("DELETE FROM proto_wgate WHERE id = 1"))
    spark.sql("DROP TABLE IF EXISTS proto_wgate")
    // streaming sink (each micro-batch appends one commit -> same funnel)
    assertRefused {
      val srcTable = GraftTable(spark, s"$root/src")(GraftSettings.default)
      srcTable.append(Seq((7, "g")).toDF("id", "v"))
      val q = spark.readStream.format("graft").load(s"$root/src")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start(path)
      q.awaitTermination()
    }
    // the table is byte-for-byte unchanged by all the refusals
    assert(GraftTable(spark, path)(GraftSettings.default).version === 2L)
    assert(fresh.read().count() === 2)
  }

  test("a future WRITER feature in a CHECKPOINT gates commits after a log trim") {
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ck = LogCheckpoint(1L, t.liveFiles(), Some(t.read().schema.json),
      Map.empty, writerFeatures = Some(Seq("v99_row_tracking")))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$path/_graft_log", f"${1L}%020d.checkpoint.json"), false)
    try out.write(org.json4s.jackson.Serialization.write(ck).getBytes("UTF-8"))
    finally out.close()
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.read().count() === 1, "reads must serve")
    val e = intercept[UnsupportedTableFeatureException](
      fresh.append(Seq((2, "b")).toDF("id", "v")))
    assert(e.getMessage.contains("v99_row_tracking")
      && e.getMessage.contains("writer feature"))
  }

  test("a pre-gate CDF history self-heals its writer union from content") {
    // commits that RECORDED change files but carry no writerFeatures field
    // (written before the gate existed): the snapshot derives
    // change_data_feed from content, so the next checkpoint carries it
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(
      GraftSettings.default.copy(changeDataFeed = true))
    t.append((1 to 5).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 2)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    t.commits().foreach { c =>
      val stripped = c.copy(writerFeatures = None)
      val p = new org.apache.hadoop.fs.Path(
        s"$path/_graft_log", f"${c.version}%020d.json")
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(org.json4s.jackson.Serialization.write(stripped).getBytes("UTF-8"))
      finally out.close()
    }
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.commits().forall(_.writerFeatures.isEmpty), "precondition")
    assert(fresh.snapshot().writerFeatureSet
      === Set(GraftProtocol.ChangeDataFeedFeature))
  }

  test("a pre-gate table with declared constraints/properties writer-gates from STATE, not only from stamped commits") {
    // a table whose commits all predate writer-feature stamping but whose
    // sidecars declare expectations: the snapshot derives the union from
    // STATE, so a writer-feature-aware foreign writer is gated NOW — not
    // only after some new commit happens to re-stamp it
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.addConstraint("pos", "id > 0")
    t.setProperties(Map("append_only" -> "true"))
    // strip writerFeatures from every commit — exactly the bytes a
    // pre-gate binary wrote beside today's sidecars
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    t.commits().foreach { c =>
      val stripped = c.copy(writerFeatures = None)
      val p = new org.apache.hadoop.fs.Path(
        s"$path/_graft_log", f"${c.version}%020d.json")
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(org.json4s.jackson.Serialization.write(stripped).getBytes("UTF-8"))
      finally out.close()
    }
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.commits().forall(_.writerFeatures.isEmpty), "precondition")
    assert(fresh.snapshot().writerFeatureSet
      === Set(GraftProtocol.CheckConstraints, GraftProtocol.AppendOnlyFeature),
      "state-derived self-heal must recover the writer gate from the sidecars")
  }

  test("DROP FEATURE: governed downgrade once content no longer requires it") {
    val root = tmp()
    // reader-feature drop: dv — the REORG-purge exit ramp
    val t = GraftTable(spark, s"$root/t")(
      GraftSettings.default.copy(deletionVectors = true))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 3)
    assert(t.snapshot().featureSet === Set(GraftProtocol.Dv))
    // refused while a live DV exists, with the remedy NAMED
    val e = intercept[IllegalStateException](t.dropFeature(GraftProtocol.Dv))
    assert(e.getMessage.contains("PURGE"), e.getMessage)
    // purge the DVs; the union stays monotone until the governed drop
    spark.sql(s"REORG TABLE '${t.path}' APPLY (PURGE)")
    assert(t.snapshot().dvFor.isEmpty, "precondition: purged")
    assert(t.snapshot().featureSet === Set(GraftProtocol.Dv))
    // the SQL surface performs the drop; every operator view reflects it
    val row = spark.sql(s"ALTER TABLE '${t.path}' DROP FEATURE dv").collect().head
    assert(row.getString(0) === "dv")
    assert(t.snapshot().featureSet === Set.empty[String])
    assert(spark.sql(s"DESCRIBE DETAIL '${t.path}'").collect().head
      .getAs[Seq[String]]("readerFeatures") === Seq.empty[String])
    // time travel BELOW the drop still carries the feature — history keeps
    // its true requirements (the fold never reaches the drop commit)
    assert(t.snapshot(2L).featureSet === Set(GraftProtocol.Dv))
    assert(t.read().count() === 19, "data intact through the downgrade")
    // dropping a feature the table does not require is loud
    intercept[IllegalArgumentException](t.dropFeature("dv"))

    // writer-feature drop: check_constraints
    val c = GraftTable(spark, s"$root/c")(GraftSettings.default)
    c.append(Seq((1, "a")).toDF("id", "v"))
    c.addConstraint("pos", "id > 0")
    c.append(Seq((2, "b")).toDF("id", "v"))
    assert(c.snapshot().writerFeatureSet === Set(GraftProtocol.CheckConstraints))
    val e2 = intercept[IllegalStateException](
      c.dropFeature(GraftProtocol.CheckConstraints))
    assert(e2.getMessage.contains("pos"), e2.getMessage)
    c.dropConstraint("pos")
    c.dropFeature(GraftProtocol.CheckConstraints)
    assert(c.snapshot().writerFeatureSet === Set.empty[String])
    // and later baseline commits stay baseline (no resurrection)
    c.append(Seq((3, "c")).toDF("id", "v"))
    assert(c.commits().last.writerFeatures === None)
    assert(c.snapshot().writerFeatureSet === Set.empty[String])
  }

  test("DROP FEATURE remedies WORK: overwrite sheds column_mapping, OPTIMIZE sheds partition_convert") {
    // a refusal that names a remedy is only honest if following the remedy
    // actually unblocks the drop — drive both documented sequences. (The
    // column_mapping leg also pins the metadata-leak fix: read() must NOT
    // carry graft.physical keys in its schema, or the overwrite would
    // re-record the mapping and the remedy could never work.)
    val root = tmp()
    val m = GraftTable(spark, s"$root/m")(GraftSettings.default)
    m.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    m.renameColumn("v", "w")
    assert(m.snapshot().featureSet === Set(GraftProtocol.ColumnMappingFeature))
    val em = intercept[IllegalStateException](
      m.dropFeature(GraftProtocol.ColumnMappingFeature))
    assert(em.getMessage.contains("overwrite"), em.getMessage)
    // recursive: mapping metadata rides on NESTED fields too — a leak
    // that only survives on struct leaves must fail this pin as well
    def leaks(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => f.metadata.contains("graft.physical") ||
          f.metadata.contains("graft.dropped") || leaks(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => leaks(a.elementType)
      case mp: org.apache.spark.sql.types.MapType  => leaks(mp.valueType)
      case _ => false
    }
    assert(!leaks(m.read().schema),
      "read() must serve the LOGICAL view with storage metadata stripped")
    m.overwrite(m.read()) // rewrite under the final logical names
    m.dropFeature(GraftProtocol.ColumnMappingFeature)
    assert(m.snapshot().featureSet === Set.empty[String])
    assert(m.read().columns.toSeq === Seq("id", "w") && m.read().count() === 2)
    // time travel below the rewrite still reads the OLD files under the
    // mapping true at that version
    assert(m.readAt(2).columns.toSeq === Seq("id", "w"))
    // regression (files/log schema divergence): overwriting a MAPPED
    // table with a fresh user-built frame must stage under the INCOMING
    // schema's names — before the replaceSchema fix, staging united with
    // the stored mapping and wrote the OLD physical names while the
    // commit declared the clean ones, so every later read silently served
    // the physical column name
    val fm = GraftTable(spark, s"$root/fm")(GraftSettings.default)
    fm.append(Seq((1, "a")).toDF("id", "v"))
    fm.renameColumn("v", "w")
    fm.overwrite(Seq((9, "z")).toDF("id", "w")) // fresh frame, never read()
    assert(fm.read().columns.toSeq === Seq("id", "w"),
      "overwrite must serve the schema its commit declared")
    assert(fm.read().select("w").as[String].collect().toSeq === Seq("z"))

    // partition_convert: adopting a hive tree binds the feature; the
    // remedy (OPTIMIZE flattens the layout) lifts it and the drop takes
    val convDir = s"$root/conv"
    Seq((1, "x", "eu"), (2, "y", "us"), (3, "z", "eu")).toDF("id", "v", "region")
      .write.partitionBy("region").parquet(convDir)
    val p = GraftTable(spark, convDir)(GraftSettings.default)
    p.convert()
    assert(p.snapshot().featureSet === Set(GraftProtocol.PartitionConvert))
    val ep = intercept[IllegalStateException](
      p.dropFeature(GraftProtocol.PartitionConvert))
    assert(ep.getMessage.contains("OPTIMIZE"), ep.getMessage)
    p.optimize() // bin-pack flattens the adopted tree into flat files
    assert(p.snapshot().live.forall(!_.contains("/")),
      "precondition: OPTIMIZE must flatten the converted tree")
    p.dropFeature(GraftProtocol.PartitionConvert)
    assert(p.snapshot().featureSet === Set.empty[String])
    // the dir-derived partition column survives as DATA after flattening
    assert(p.read().select("region").as[String].collect().sorted.toSeq
      === Seq("eu", "eu", "us"))
  }

  test("CDF across a physical-layout rewrite reads removed files under their PRE-state binding") {
    // an overwrite that both changes the schema binding AND removes files
    // (the overwrite(read()) remedy): the delete rows must surface under
    // the LOGICAL names the removed files were last live under — reading
    // them with the commit's NEW schema would serve the logical column as
    // NULL plus a phantom physical column
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(GraftSettings.default)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v")) // v1
    t.renameColumn("v", "w")                          // v2 (mapped: w -> phys v)
    t.overwrite(Seq((9, "z")).toDF("id", "w"))        // v3: new era, clean names
    val changes = t.readChanges(fromExclusive = 2)
    assert(!changes.columns.contains("v"),
      s"no phantom physical column may appear: ${changes.columns.toSeq}")
    val deletes = changes.filter(col("_change_type") === "delete")
      .select("id", "w").as[(Int, String)].collect().toSet
    assert(deletes === Set((1, "a"), (2, "b")),
      "deletes must carry the removed rows under their logical names")
    val inserts = changes.filter(col("_change_type") === "insert")
      .select("id", "w").as[(Int, String)].collect().toSet
    assert(inserts === Set((9, "z")))
  }

  test("a mid-stream physical-layout rewrite fails the stream loudly (never NULLs)") {
    // a running stream pins its read schema (physical names) at start;
    // the overwrite(read()) remedy rewrites files under NEW physical
    // names, so no single read schema serves both eras — the stream must
    // REFUSE with the restart guidance (Delta's column-mapping streams
    // refuse non-additive changes the same way), never deliver NULLs
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.renameColumn("v", "w")
    t.append(Seq((2, "b")).toDF("id", "w"))
    val q = spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(t.path)
      .writeStream.format("memory").queryName("phys_gate")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      q.processAllAvailable() // snapshot batch under the mapped pin
      assert(spark.table("phys_gate").count() === 2)
      t.overwrite(t.read()) // rewrite under new physical names mid-stream
      val e = intercept[Exception](q.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msgs.contains("PHYSICAL column layout"),
        s"stream must refuse the layout change, got: $msgs")
    } finally {
      try q.stop() catch { case _: Exception => () }
      spark.sql("DROP VIEW IF EXISTS phys_gate")
    }
  }

  test("DROP FEATURE can never under-gate: the content self-heal re-adds a feature content still requires") {
    // a drop that races a DV-binding DML (or a hand-laid bogus drop) must
    // not un-gate content that needs the feature: forge the drop commit
    // directly and assert the snapshot union re-derives dv from content
    val root = tmp()
    val path = s"$root/t"
    val t = GraftTable(spark, path)(
      GraftSettings.default.copy(deletionVectors = true))
    t.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 3) // live DV at v2
    writeRawCommit(path, Commit(3L, "drop_feature", dataChange = false,
      timestampMs = System.currentTimeMillis(),
      add = Seq.empty, remove = Seq.empty,
      schemaJson = t.currentSchemaJson.get,
      metrics = Map("feature" -> GraftProtocol.Dv)))
    val fresh = GraftTable(spark, path)(GraftSettings.default)
    assert(fresh.snapshot().featureSet === Set(GraftProtocol.Dv),
      "content-derived self-heal must override a bogus drop")
    assert(fresh.read().count() === 19, "and the DV still applies")
  }

  test("feature-union fold is checkpoint-invariant under random append/delete/purge/drop histories") {
    // the strongest protocol invariant: checkpoints are a pure
    // OPTIMIZATION, so the snapshot a fresh handle computes THROUGH them
    // must byte-match the one computed by raw log replay — including the
    // non-monotone piece (DROP FEATURE subtraction) and the self-heals.
    // Random op sequences with a 2-commit checkpoint cadence put drops on
    // both sides of checkpoint horizons.
    val params = org.scalacheck.Gen.Parameters.default
    val opGen = org.scalacheck.Gen.listOfN(8,
      org.scalacheck.Gen.frequency(
        4 -> org.scalacheck.Gen.const("app"),
        3 -> org.scalacheck.Gen.const("del"),
        2 -> org.scalacheck.Gen.const("purge"),
        2 -> org.scalacheck.Gen.const("dropdv")))
    val seqs = (0 until 5).flatMap(i =>
      opGen.apply(params, org.scalacheck.rng.Seed(100L + i)))
    seqs.zipWithIndex.foreach { case (ops, i) =>
      val root = tmp()
      val t = GraftTable(spark, s"$root/t$i")(
        GraftSettings.default.copy(deletionVectors = true, logCheckpointInterval = 2))
      var nextId = 0
      ops.foreach {
        case "app" =>
          t.append(((nextId + 1) to (nextId + 3)).map(j => (j, s"v$j")).toDF("id", "v"))
          nextId += 3
        case "del" if t.exists && t.read().count() > 0 =>
          val lo = t.read().agg(min(col("id"))).collect()(0).getInt(0)
          t.delete(col("id") === lo)
        case "purge" if t.exists =>
          spark.sql(s"REORG TABLE '${t.path}' APPLY (PURGE)")
        case "dropdv" if t.exists && t.snapshot().dvFor.isEmpty &&
            t.snapshot().featureSet.contains(GraftProtocol.Dv) =>
          t.dropFeature(GraftProtocol.Dv)
        case _ => () // op invalid in this state — skip
      }
      if (t.exists) {
        def fields(s: LogCheckpoint) =
          (s.version, s.live.toSet, s.dvFor, s.featureSet, s.writerFeatureSet,
            s.schemaJson)
        val through = fields(GraftTable(spark, t.path)(GraftSettings.default).snapshot())
        // remove EVERY checkpoint file: a fresh handle must replay the raw
        // log to the identical state
        val fs = new org.apache.hadoop.fs.Path(t.path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"${t.path}/_graft_log"))
          .filter(_.getPath.getName.contains(".checkpoint."))
          .foreach(st => fs.delete(st.getPath, false))
        val replayed = fields(GraftTable(spark, t.path)(GraftSettings.default).snapshot())
        assert(through === replayed,
          s"seq $i (${ops.mkString(",")}): checkpointed fold diverged from raw replay")
      }
    }
  }

  test("checkpoints persist the feature union; parquet twin round-trips it") {
    val root = tmp()
    val t = GraftTable(spark, s"$root/t")(
      GraftSettings(logCheckpointInterval = 2, deletionVectors = true,
        changeDataFeed = true))
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 4) // v2: DV+CDF commit -> checkpoint at cadence
    val snap = t.snapshot()
    assert(snap.featureSet === Set(GraftProtocol.Dv))
    assert(snap.writerFeatureSet === Set(GraftProtocol.ChangeDataFeedFeature))
    // the parquet twin carries it in the footer
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = new org.apache.hadoop.fs.Path(
      s"${t.path}/_graft_log", f"${2L}%020d.checkpoint.parquet")
    assert(fs.exists(ckpt), "cadence checkpoint missing")
    val back = ParquetCheckpoint.read(spark, fs,
      spark.sessionState.newHadoopConf(), ckpt, Long.MaxValue)
    assert(back.featureSet === Set(GraftProtocol.Dv))
    assert(back.writerFeatureSet === Set(GraftProtocol.ChangeDataFeedFeature))
    // later baseline commits keep the union monotone
    t.append(Seq((11, "k")).toDF("id", "v"))
    assert(t.snapshot().featureSet === Set(GraftProtocol.Dv))
  }

  test("the checkpoint fold heals sidecar writer gates even when head outruns its target version") {
    val root = tmp()
    val path = s"$root/t"
    val t0 = GraftTable(spark, path)(GraftSettings.default)
    t0.append(Seq((1, "a")).toDF("id", "v")) // v1
    // PRE-GATE shape: the sidecar declares append_only but no commit ever
    // stamped it (a table written before writer features existed)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = new org.apache.hadoop.fs.Path(s"$path/_graft_log", "_properties.json")
    val out = fs.create(props, true)
    try out.write("""{"append_only":"true"}""".getBytes("UTF-8"))
    finally out.close()
    // a CONCURRENT writer publishes v2 — exactly the interleave that made
    // head outrun a checkpoint fold targeting v1
    val schema = Seq((0, "")).toDF("id", "v").schema.json
    writeRawCommit(path, Commit(2L, "append", dataChange = true,
      timestampMs = System.currentTimeMillis(),
      add = Seq.empty, remove = Seq.empty, schemaJson = schema,
      metrics = Map.empty))

    val t = GraftTable(spark, path)(GraftSettings.default)
    // a plain time-travel fold keeps history log-derived (the r18 ADVICE
    // contract: historical versions never inherit current-state features)
    assert(!t.snapshot(1).writerFeatureSet.contains(GraftProtocol.AppendOnlyFeature))
    // but the checkpoint path folds its OWN just-committed version: the
    // forced heal must claim the declared gate even though head is now 2 —
    // otherwise a pre-gate table's checkpoint (the only survivor after a
    // log trim) would under-claim and a feature-blind foreign writer could
    // commit row removals against an append-only table
    assert(t.snapshot(1, healFromSidecars = true).writerFeatureSet
      .contains(GraftProtocol.AppendOnlyFeature))
    // current-version folds heal regardless, flag or not
    assert(t.snapshot().writerFeatureSet.contains(GraftProtocol.AppendOnlyFeature))
  }
}
