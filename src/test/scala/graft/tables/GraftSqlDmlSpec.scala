package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions
import graft.conf.GraftSettings

/** SQL DML over graft tables through the injected analyzer rules:
  * DELETE FROM / UPDATE / MERGE INTO / VERSION AS OF — one implementation
  * shared with the Scala API (the commands call the same GraftTable
  * primitives), so SQL results must match the API byte-for-byte. */
class GraftSqlDmlSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-sql-dml-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private var n = 0
  /** A registered graft catalog table seeded with (id, v) rows 1..count. */
  private def freshTable(count: Int): (String, GraftTable) = {
    import spark.implicits._
    n += 1
    val name = s"sqldml_$n"
    val dir = Files.createTempDirectory(s"graft-sqldml-$n-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append((1 to count).map(i => (i, s"v$i")).toDF("id", "v"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '${t.path}'")
    (name, t)
  }

  test("DELETE FROM prunes and rewrites like the API delete") {
    import spark.implicits._
    val (name, t) = freshTable(10)
    spark.sql(s"DELETE FROM $name WHERE id <= 3")
    assert(spark.table(name).select("id").as[Int].collect().sorted.toSeq == (4 to 10))
    assert(t.commits().last.action == "delete")
    // SQL DELETE with no matches is a no-op commit-wise (pruned to zero)
    val v = t.version
    spark.sql(s"DELETE FROM $name WHERE id > 1000")
    assert(t.version == v)
  }

  test("UPDATE SET applies assignments under the condition, NULL-condition rows kept") {
    import spark.implicits._
    val (name, t) = freshTable(5)
    spark.sql(s"UPDATE $name SET v = concat(v, '!') WHERE id >= 4")
    assert(spark.table(name).as[(Int, String)].collect().toMap ===
      Map(1 -> "v1", 2 -> "v2", 3 -> "v3", 4 -> "v4!", 5 -> "v5!"))
    assert(t.commits().last.action == "update")
  }

  test("MERGE INTO matches the API upsert byte-for-byte") {
    import spark.implicits._
    val (name, t) = freshTable(6)
    // twin table driven through the Scala API with the same change batch
    val twinDir = Files.createTempDirectory("graft-sqldml-twin-").toString
    val twin = GraftTable(spark, s"$twinDir/t")(GraftSettings.default)
    twin.append((1 to 6).map(i => (i, s"v$i")).toDF("id", "v"))
    val updates = Seq((2, "TWO", "u"), (3, "x", "d"), (99, "new", "c"))
      .toDF("id", "v", "op")
    twin.upsert(updates, Seq("id"), "op")

    updates.createOrReplaceTempView("changes")
    spark.sql(
      s"""MERGE INTO $name t USING changes s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.op != 'd' THEN INSERT (id, v) VALUES (s.id, s.v)
         |""".stripMargin)
    val got = spark.table(name).as[(Int, String)].collect().toSet
    val expected = twin.read().select("id", "v").as[(Int, String)].collect().toSet
    assert(got === expected)
    assert(got === Set((1, "v1"), (2, "TWO"), (4, "v4"), (5, "v5"), (6, "v6"), (99, "new")))
    assert(t.commits().last.action == "merge")
  }

  test("MERGE star actions, clause order, and NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val (name, _) = freshTable(4)
    Seq((1, "one"), (9, "nine")).toDF("id", "v").createOrReplaceTempView("src2")
    spark.sql(
      s"""MERGE INTO $name t USING src2 s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'
         |""".stripMargin)
    assert(spark.table(name).as[(Int, String)].collect().toSet ===
      Set((1, "one"), (2, "stale"), (3, "stale"), (9, "nine")))
  }

  test("MERGE fails loudly when a target row matches multiple source rows") {
    import spark.implicits._
    val (name, _) = freshTable(3)
    Seq((2, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("dup_src")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $name t USING dup_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("VERSION AS OF / TIMESTAMP AS OF resolve to pinned snapshots") {
    import spark.implicits._
    val (name, t) = freshTable(2) // v1
    t.append(Seq((3, "v3")).toDF("id", "v")) // v2
    spark.sql(s"DELETE FROM $name WHERE id = 1") // v3
    assert(spark.sql(s"SELECT id FROM $name VERSION AS OF 1")
      .as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(spark.sql(s"SELECT id FROM $name VERSION AS OF 2")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(spark.table(name).select("id").as[Int].collect().sorted.toSeq == Seq(2, 3))
    // a timestamp at/after the last commit resolves to the newest version
    val ts = new java.sql.Timestamp(t.commits().last.timestampMs)
    assert(spark.sql(s"SELECT id FROM $name TIMESTAMP AS OF '$ts'")
      .as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("INSERT INTO / INSERT OVERWRITE go through the commit protocol, never behind the log") {
    import spark.implicits._
    val (name, t) = freshTable(3)
    val v0 = t.version
    spark.sql(s"INSERT INTO $name VALUES (10, 'v10'), (11, 'v11')")
    assert(t.version === v0 + 1 && t.commits().last.action === "append")
    assert(spark.table(name).count() === 5)
    // by-position coercion: alien column names + a castable literal type
    spark.sql(s"INSERT INTO $name SELECT 12 AS a, 'v12' AS b")
    assert(spark.table(name).select("id").as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3, 10, 11, 12))
    // df.write.insertInto rides the same plan
    Seq((13, "v13")).toDF("id", "v").write.insertInto(name)
    assert(spark.table(name).count() === 7)
    // INSERT OVERWRITE replaces CONTENT as one commit; the log survives
    // and the previous state stays time-travelable (the un-intercepted
    // file-write command would have cleared the directory, log included)
    spark.sql(s"INSERT OVERWRITE $name VALUES (99, 'only')")
    assert(t.commits().last.action === "overwrite")
    assert(spark.table(name).as[(Int, String)].collect().toSeq === Seq((99, "only")))
    assert(spark.sql(s"SELECT id FROM $name VERSION AS OF ${t.version - 1}")
      .count() === 7)
  }

  test("graft_history / graft_at table functions serve path-based tables in SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-tvf-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    val hist = spark.sql(s"SELECT version, operation FROM graft_history('${t.path}')")
      .as[(Long, String)].collect().toSet
    assert(hist === Set((1L, "append"), (2L, "append")))
    assert(spark.sql(s"SELECT id FROM graft_at('${t.path}', 1)")
      .as[Int].collect().toSeq === Seq(1))
    assert(spark.sql(s"SELECT count(*) FROM graft_at('${t.path}')")
      .as[Long].head() === 2L)
    // pruning still applies through the TVF (native relation underneath)
    assert(spark.sql(s"SELECT v FROM graft_at('${t.path}') WHERE id = 2")
      .as[String].collect().toSeq === Seq("b"))
  }

  test("insert-only MERGE leaves multiply-matched target rows intact (no duplication)") {
    import spark.implicits._
    val (name, t) = freshTable(3)
    // id=2 matches TWO source rows: Delta permits this for insert-only
    // merges (no cardinality violation) and the target row must survive
    // exactly once; id=9 is unmatched and inserts
    Seq((2, "a"), (2, "b"), (9, "nine")).toDF("id", "v")
      .createOrReplaceTempView("ins_only_src")
    spark.sql(
      s"""MERGE INTO $name t USING ins_only_src s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = spark.table(name).as[(Int, String)].collect().toSeq
    assert(got.size === got.toSet.size, s"duplicated rows: $got")
    assert(got.toSet === Set((1, "v1"), (2, "v2"), (3, "v3"), (9, "nine")))
    assert(t.commits().last.action === "merge")
  }

  test("selective MERGE file-prunes: only files that can hold matching keys rewrite") {
    import spark.implicits._
    val (name, t) = freshTable(400) // 4 partitions -> >=2 files, disjoint id ranges
    val live0 = t.snapshot().live.size
    assert(live0 >= 2, s"need a multi-file table, got $live0")
    // keys confined to the low range: high-range files must be retained
    Seq((1, "ONE"), (3, "THREE"), (5, "FIVE")).toDF("id", "v")
      .createOrReplaceTempView("narrow_src")
    spark.sql(
      s"""MERGE INTO $name t USING narrow_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val c = t.commits().last
    assert(c.action === "merge")
    val rewritten = c.metrics("numRewrittenFiles").toInt
    assert(rewritten < live0,
      s"MERGE rewrote all $live0 files — pruning did not engage")
    assert(c.metrics("numTargetFilesSkipped").toInt === live0 - rewritten)
    // correctness: untouched rows intact, matched rows updated
    val got = spark.table(name).as[(Int, String)].collect().toMap
    assert(got.size === 400)
    assert(got(1) === "ONE" && got(3) === "THREE" && got(5) === "FIVE")
    assert(got(2) === "v2" && got(400) === "v400")
  }

  test("MERGE with NOT MATCHED BY SOURCE scans the whole table (no unsound pruning)") {
    import spark.implicits._
    val (name, t) = freshTable(400)
    val live0 = t.snapshot().live.size
    Seq((1, "ONE")).toDF("id", "v").createOrReplaceTempView("nmbs_src")
    spark.sql(
      s"""MERGE INTO $name t USING nmbs_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE AND t.id = 400 THEN DELETE""".stripMargin)
    val c = t.commits().last
    assert(c.metrics("numRewrittenFiles").toInt === live0)
    val got = spark.table(name).as[(Int, String)].collect().toMap
    assert(got.size === 399 && got(1) === "ONE" && !got.contains(400))
  }

  test("MERGE WITH SCHEMA EVOLUTION: star clauses widen the target and take source values") {
    import spark.implicits._
    val (name, t) = freshTable(3)
    Seq((2, "TWO", 20L), (9, "nine", 90L)).toDF("id", "v", "score")
      .createOrReplaceTempView("evo_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $name t USING evo_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.table(name)
      .select("id", "v", "score").as[(Int, String, Option[Long])]
      .collect().toSet
    // star-claimed rows take the source's new-column values; carried
    // rows read NULL (Delta's evolution contract)
    assert(got === Set(
      (1, "v1", None), (3, "v3", None),
      (2, "TWO", Some(20L)), (9, "nine", Some(90L))))
    // the committed log schema carries the new column
    assert(t.read().schema.fieldNames.contains("score"))
  }

  test("MERGE WITH SCHEMA EVOLUTION: explicit-only merges evolve nothing; mixed clauses NULL-fill explicit rows (Delta parity)") {
    import spark.implicits._
    Seq((2, "TWO", 20L), (9, "nine", 90L)).toDF("id", "v", "score")
      .createOrReplaceTempView("evo3_src")
    // explicit-only clauses never reference `score` -> Delta evolves only
    // assignment-referenced columns, so the schema must NOT widen at all
    val (n1, t1) = freshTable(3)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $n1 t USING evo3_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(!spark.table(n1).schema.fieldNames.contains("score"),
      "explicit-only merge must not evolve unreferenced source columns")
    assert(!t1.read().schema.fieldNames.contains("score"))
    assert(spark.table(n1).select("id", "v").as[(Int, String)].collect().toSet
      === Set((1, "v1"), (2, "TWO"), (3, "v3"), (9, "nine")))
    // mixed: the star UPDATE evolves the schema and takes source values
    // for ITS rows; the explicit-list INSERT leaves the evolved column
    // NULL for its rows (where the old engine wrote the source value)
    val (n2, t2) = freshTable(3)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $n2 t USING evo3_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = spark.table(n2)
      .select("id", "v", "score").as[(Int, String, Option[Long])]
      .collect().toSet
    assert(got === Set(
      (1, "v1", None), (3, "v3", None),
      (2, "TWO", Some(20L)), // star update: source value
      (9, "nine", None)), // explicit-list insert: NULL, Delta semantics
      s"mixed-clause evolution values diverged: $got")
    assert(t2.read().schema.fieldNames.contains("score"))
  }

  test("DELETE FROM with an IN-subquery condition") {
    import spark.implicits._
    val (name, t) = freshTable(10)
    Seq(2, 4, 6).toDF("bad_id").createOrReplaceTempView("bad_ids")
    spark.sql(s"DELETE FROM $name WHERE id IN (SELECT bad_id FROM bad_ids)")
    assert(spark.table(name).select("id").as[Int].collect().sorted.toSeq ===
      Seq(1, 3, 5, 7, 8, 9, 10))
    assert(t.commits().last.action === "delete")
    // relational twin: anti-join leaves the same rows
    val twin = (1 to 10).toDF("id").join(Seq(2, 4, 6).toDF("id"), Seq("id"), "left_anti")
    assert(twin.as[Int].collect().sorted.toSeq ===
      spark.table(name).select("id").as[Int].collect().sorted.toSeq)
    // CORRELATED EXISTS rides the same captured-plan path (Spark plans
    // the correlation because attribute ids are preserved)
    Seq(7, 9).toDF("eid").createOrReplaceTempView("exists_ids")
    spark.sql(
      s"DELETE FROM $name WHERE EXISTS (SELECT 1 FROM exists_ids e WHERE e.eid = id)")
    assert(spark.table(name).select("id").as[Int].collect().sorted.toSeq ===
      Seq(1, 3, 5, 8, 10))
  }

  test("UPDATE with a scalar subquery in condition and assignment") {
    import spark.implicits._
    val (name, _) = freshTable(5)
    Seq(3).toDF("cut").createOrReplaceTempView("cutoff")
    spark.sql(
      s"""UPDATE $name SET v = concat('id>', (SELECT CAST(cut AS STRING) FROM cutoff))
         |WHERE id > (SELECT cut FROM cutoff)""".stripMargin)
    assert(spark.table(name).as[(Int, String)].collect().toMap ===
      Map(1 -> "v1", 2 -> "v2", 3 -> "v3", 4 -> "id>3", 5 -> "id>3"))
  }

  test("subquery DELETE records CDF change rows like the atom path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-cdf-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append((1 to 6).map(i => (i, s"v$i")).toDF("id", "v"))
    // as a TABLE property, so the SQL command's own handle (built from
    // session defaults) resolves CDF=on through effectiveSettings
    t.setProperties(Map("change_data_feed" -> "true"))
    spark.sql(s"DROP TABLE IF EXISTS sqldml_cdf")
    spark.sql(s"CREATE TABLE sqldml_cdf USING graft LOCATION '${t.path}'")
    Seq(2, 5).toDF("bad").createOrReplaceTempView("cdf_bad")
    spark.sql(s"DELETE FROM sqldml_cdf WHERE id IN (SELECT bad FROM cdf_bad)")
    val changes = t.readChanges(1)
      .select("id", "_change_type").as[(Int, String)].collect().toSet
    assert(changes === Set((2, "delete"), (5, "delete")))
  }

  test("UPDATE and MERGE assign nested struct fields (Delta's SET s.a = x)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-nested-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "nm", "qty")
      .select(col("id"), struct(col("nm"), col("qty")).as("s")))
    spark.sql("DROP TABLE IF EXISTS sqldml_nested")
    spark.sql(s"CREATE TABLE sqldml_nested USING graft LOCATION '${t.path}'")
    // nested UPDATE: only the named field changes, siblings keep values
    spark.sql("UPDATE sqldml_nested SET s.qty = s.qty + 5 WHERE id <= 2")
    assert(spark.table("sqldml_nested").select("id", "s.nm", "s.qty")
      .as[(Int, String, Int)].collect().toSet ===
      Set((1, "a", 15), (2, "b", 25), (3, "c", 30)))
    // nested MERGE UPDATE action
    Seq((2, "BEE"), (3, "SEA)")).toDF("id", "newnm").createOrReplaceTempView("nested_src")
    spark.sql(
      """MERGE INTO sqldml_nested t USING nested_src c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET s.nm = c.newnm""".stripMargin)
    assert(spark.table("sqldml_nested").select("id", "s.nm", "s.qty")
      .as[(Int, String, Int)].collect().toSet ===
      Set((1, "a", 15), (2, "BEE", 25), (3, "SEA)", 30)))
    // whole-column + nested assignment to the same column is ambiguous
    val e = intercept[Exception](spark.sql(
      "UPDATE sqldml_nested SET s = named_struct('nm', 'x', 'qty', 1), s.qty = 2"))
    assert(e.getMessage.toLowerCase.contains("conflict")
      || e.getMessage.toLowerCase.contains("multiple"))
  }

  test("pruned MERGE composes with column mapping and deletion vectors") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-compose-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append((1 to 100).map(i => (i, s"v$i")).toDF("key0", "v").coalesce(1))
    t.append((101 to 200).map(i => (i, s"v$i")).toDF("key0", "v").coalesce(1))
    // rename the key (metadata-only: stats stay keyed by the physical
    // name) and DV-delete a few rows so affected files carry bitmaps
    t.renameColumn("key0", "id")
    t.setProperties(Map("deletion_vectors" -> "true"))
    t.delete(col("id").isin(3, 103))
    spark.sql("DROP TABLE IF EXISTS sqldml_compose")
    spark.sql(s"CREATE TABLE sqldml_compose USING graft LOCATION '${t.path}'")
    val live0 = t.snapshot().live.size
    Seq((5, "FIVE"), (7, "SEVEN")).toDF("id", "v").createOrReplaceTempView("comp_src")
    spark.sql(
      """MERGE INTO sqldml_compose t USING comp_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val c = t.commits().last
    assert(c.action === "merge")
    // pruning engaged THROUGH the rename: atoms on the logical name must
    // still hit the physical-keyed stats
    assert(c.metrics("numRewrittenFiles").toInt < live0,
      s"rename broke merge pruning: ${c.metrics}")
    val got = spark.table("sqldml_compose").as[(Int, String)].collect().toMap
    assert(got.size === 198) // 200 - 2 DV-deleted
    assert(got(5) === "FIVE" && got(7) === "SEVEN")
    assert(!got.contains(3) && !got.contains(103), "DV-dead rows must not resurrect")
    assert(got(102) === "v102", "retained file rows intact")
  }

  test("pruned MERGE with schema evolution null-fills retained files") {
    import spark.implicits._
    val (name, t) = freshTable(400) // multi-file, disjoint id ranges
    val live0 = t.snapshot().live.size
    assert(live0 >= 2)
    Seq((2, "TWO", 2.5), (5, "FIVE", 5.5)).toDF("id", "v", "score")
      .createOrReplaceTempView("evo2_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $name t USING evo2_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val c = t.commits().last
    // narrow keys: evolution must NOT force a whole-table rewrite — only
    // the low file rewrites under the widened schema, the retained files
    // keep their old bytes and null-fill the new column on read
    assert(c.metrics("numRewrittenFiles").toInt < live0,
      s"schema evolution disabled merge pruning: ${c.metrics}")
    val got = spark.table(name).select("id", "v", "score")
      .as[(Int, String, Option[Double])].collect()
    assert(got.length === 400)
    val byId = got.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(2) === (("TWO", Some(2.5))))
    assert(byId(5) === (("FIVE", Some(5.5))))
    assert(byId(3) === (("v3", None)) && byId(400) === (("v400", None)))
  }

  test("MERGE records CDF change rows (Delta merge parity)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-mcdf-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append((1 to 5).map(i => (i, s"v$i")).toDF("id", "v"))
    t.setProperties(Map("change_data_feed" -> "true"))
    spark.sql(s"DROP TABLE IF EXISTS sqldml_mcdf")
    spark.sql(s"CREATE TABLE sqldml_mcdf USING graft LOCATION '${t.path}'")
    Seq((2, "TWO"), (4, "DEL"), (9, "nine")).toDF("id", "v")
      .createOrReplaceTempView("mcdf_src")
    spark.sql(
      s"""MERGE INTO sqldml_mcdf t USING mcdf_src s ON t.id = s.id
         |WHEN MATCHED AND s.v = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val mergeV = t.commits().last.version
    val ch = t.readChanges(mergeV - 1, mergeV)
      .select("id", "v", "_change_type").as[(Int, String, String)].collect().toSet
    assert(ch === Set(
      (2, "v2", "update_preimage"), (2, "TWO", "update_postimage"),
      (4, "v4", "delete"), (9, "nine", "insert")))
    // carried-through rows (1, 3, 5) record NOTHING — a merge that merely
    // rewrote their file must not invent changes for them
    assert(!ch.exists(c => Set(1, 3, 5)(c._1)))
  }

  test("MERGE and API upsert survive NaN/Infinity double keys (conservative keep, no crash)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-nan-").toString
    val t = GraftTable(spark, s"$dir/t")(GraftSettings.default)
    t.append(Seq((1.0, "a"), (2.0, "b"), (Double.NaN, "n")).toDF("k", "v"))
    spark.sql("DROP TABLE IF EXISTS nan_t")
    spark.sql(s"CREATE TABLE nan_t USING graft LOCATION '${t.path}'")
    // the source key min/max aggregate returns NaN/Infinity bounds here —
    // pre-guard, the pruning atoms crashed litCmp (BigDecimal(NaN)) and
    // the whole MERGE failed; the guard degrades them to conservative keep
    Seq((Double.NaN, "NAN"), (1.0, "ONE"), (Double.PositiveInfinity, "INF"))
      .toDF("k", "v").createOrReplaceTempView("nan_src")
    spark.sql(
      s"""MERGE INTO nan_t t USING nan_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    // Spark orders NaN as the largest double and EqualTo(NaN, NaN) = true:
    // NaN and 1.0 match (update), Infinity misses (insert)
    assert(spark.table("nan_t").as[(Double, String)].collect().map(_._2).toSet ===
      Set("ONE", "b", "NAN", "INF"))
    // the API upsert's keyRangeScope hits the same litCmp path
    val t2 = GraftTable(spark, s"$dir/t2")(GraftSettings.default)
    t2.append(Seq((1.0, "a"), (Double.NaN, "n")).toDF("k", "v"))
    t2.upsert(Seq((Double.NaN, "NAN2", "u"), (5.0, "FIVE", "c")).toDF("k", "v", "op"),
      Seq("k"), "op")
    assert(spark.read.format("graft").load(t2.path)
      .as[(Double, String)].collect().map(_._2).toSet === Set("a", "NAN2", "FIVE"))
  }

  test("persist-mode MERGE still materializes the source and file-prunes") {
    import spark.implicits._
    val (name, t) = freshTable(400)
    // the barrier honors barrierMode (Delta-style lineage-backed persist
    // for executor-loss-tolerant big merges) without losing the pruning
    t.setProperties(Map("barrier_mode" -> "persist"))
    val live0 = t.snapshot().live.size
    assert(live0 >= 2, s"need a multi-file table, got $live0")
    Seq((1, "ONE"), (5, "FIVE")).toDF("id", "v")
      .createOrReplaceTempView("persist_src")
    spark.sql(
      s"""MERGE INTO $name t USING persist_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val c = t.commits().last
    assert(c.action === "merge")
    assert(c.metrics("numRewrittenFiles").toInt < live0,
      s"persist-mode MERGE rewrote all $live0 files — pruning did not engage")
    val got = spark.table(name).as[(Int, String)].collect().toMap
    assert(got.size === 400 && got(1) === "ONE" && got(5) === "FIVE" && got(2) === "v2")
  }

  test("UPDATE with assignment-only subquery (no WHERE) skips file discovery") {
    import spark.implicits._
    val (name, t) = freshTable(5)
    // rewrites every row by definition; pre-fix this ran a full discovery
    // scan (collecting _metadata.file_name) just to rediscover snap.live
    spark.sql(s"UPDATE $name SET v = concat(v, '_', (SELECT max(id) FROM $name))")
    assert(spark.table(name).as[(Int, String)].collect().toMap ===
      (1 to 5).map(i => i -> s"v${i}_5").toMap)
    assert(t.commits().last.metrics.getOrElse("numRewrittenFiles",
      t.snapshot().live.size.toString).toInt <= t.snapshot().live.size)
  }

  test("non-graft targets pass through untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqldml-pq-").toString
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$dir/p")
    spark.sql(s"DROP TABLE IF EXISTS plain_pq")
    spark.sql(s"CREATE TABLE plain_pq USING parquet LOCATION '$dir/p'")
    // Spark's own refusal, not a graft error: the rule must not have
    // hijacked a non-graft relation
    val e = intercept[Exception](spark.sql("DELETE FROM plain_pq WHERE id = 1"))
    assert(!e.getMessage.contains("graft"))
  }
}
