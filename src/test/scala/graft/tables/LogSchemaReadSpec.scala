package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.SparkSpecBase
import graft.conf.GraftSettings

/** Differential contract of the rewrite-path read ([[GraftTable
  * .readDataFiles]]): reading the live files under the LOG schema serves
  * the same rows, column by column name, as inferring the schema with a
  * parquet footer mergeSchema read — over random additive-evolution
  * histories (new top-level columns and nested struct fields), on a plain
  * table, a column-mapped table and a converted partition tree. */
class LogSchemaReadSpec extends SparkSpecBase {

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(params, org.scalacheck.rng.Seed(7L + i)))
  }

  private val NestedPool = Seq(
    StructField("x", IntegerType), StructField("y", StringType), StructField("z", DoubleType))

  /** One append's shape: which optional top-level columns it carries and,
    * when it carries the struct `s`, which of its fields. */
  private final case class Shape(a: Boolean, b: Boolean, s: Seq[Int])

  private val shapeGen: Gen[Shape] = for {
    a <- Gen.oneOf(true, false)
    b <- Gen.oneOf(true, false)
    sub <- Gen.someOf(NestedPool.indices)
  } yield Shape(a, b, sub.toSeq.sorted)

  private def frame(shape: Shape, ids: Range, aName: String, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def maybe[A](v: => A): Any = if (rnd.nextInt(4) == 0) null else v
    val nested = StructType(shape.s.map(NestedPool))
    val fields = Seq(StructField("id", IntegerType, nullable = false)) ++
      (if (shape.a) Seq(StructField(aName, StringType)) else Nil) ++
      (if (shape.b) Seq(StructField("b", LongType)) else Nil) ++
      (if (shape.s.nonEmpty) Seq(StructField("s", nested)) else Nil)
    val rows = ids.map { id =>
      val nestedRow = Row.fromSeq(shape.s.map {
        case 0 => maybe(rnd.nextInt(100))
        case 1 => maybe(s"y${rnd.nextInt(100)}")
        case _ => maybe(rnd.nextInt(100) / 4.0)
      })
      Row.fromSeq(Seq(id) ++
        (if (shape.a) Seq(maybe(s"a$id")) else Nil) ++
        (if (shape.b) Seq(maybe(rnd.nextLong())) else Nil) ++
        (if (shape.s.nonEmpty) Seq(maybe(nestedRow)) else Nil))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(fields))
  }

  /** Rows as name-keyed maps, recursively, so field ORDER (top-level and
    * nested) never decides equality — only names and values do. */
  private def byName(v: Any): Any = v match {
    case r: Row => r.schema.fieldNames.zip(r.toSeq.map(byName)).toMap
    case other  => other
  }

  private def multiset(df: DataFrame): Map[Any, Int] =
    df.collect().toSeq.map(byName).groupBy(identity).view.mapValues(_.size).toMap

  /** The footer-inferred read: mergeSchema over the live files, physical
    * names renamed to logical ones, dir-derived partition columns patched
    * in exactly as the log-schema read does. */
  private def mergeSchemaRead(t: GraftTable): DataFrame = {
    val snap = t.snapshot()
    val stored = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(snap.live.map(f => s"${t.path}/$f"): _*)
    val toLogical = ColumnMapping.nameMap(stored).map(_.swap)
    val renamed = raw.columns.foldLeft(raw)((df, c) =>
      toLogical.get(c).fold(df)(df.withColumnRenamed(c, _)))
    GraftTable.withDirPartitionColumns(renamed, snap.live, stored)
  }

  private def assertSameRows(t: GraftTable, history: Any): Unit = {
    val snap = t.snapshot()
    val got = t.readDataFiles(snap.live, snap.schemaJson.get)
    val want = mergeSchemaRead(t)
    assert(got.columns.toSet === want.columns.toSet, s"columns differ after $history")
    assert(multiset(got) === multiset(want), s"rows differ after $history")
  }

  test("log-schema readDataFiles == mergeSchema read over random additive histories") {
    samples(Gen.listOfN(4, shapeGen), 3).zipWithIndex.foreach { case (shapes, i) =>
      val base = Files.createTempDirectory(s"graft-logschema-$i-").toString

      // plain table: additive evolution only
      val plain = GraftTable(spark, s"$base/plain")(GraftSettings.default)
      shapes.zipWithIndex.foreach { case (sh, j) =>
        plain.append(frame(sh, (j * 10) until (j * 10 + 6), "a", i * 100 + j))
      }
      assertSameRows(plain, shapes)

      // column-mapped table: `a` renamed mid-history, later appends use
      // the new logical name (files keep the physical one)
      val mapped = GraftTable(spark, s"$base/mapped")(GraftSettings.default)
      mapped.append(frame(Shape(a = true, b = false, Nil), 0 until 4, "a", i))
      mapped.renameColumn("a", "a2")
      shapes.zipWithIndex.foreach { case (sh, j) =>
        mapped.append(frame(sh, (j * 10 + 100) until (j * 10 + 106), "a2", i * 100 + j))
      }
      assertSameRows(mapped, shapes)

      // converted partition tree: dir-derived `region`, then flat appends
      // that carry `region` as data beside evolving columns
      val treeDir = s"$base/tree"
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 8).map(k => Row(k, s"a$k", if (k % 2 == 0) "eu" else "us")), 1),
        StructType(Seq(StructField("id", IntegerType), StructField("a", StringType),
          StructField("region", StringType))))
        .write.partitionBy("region").parquet(treeDir)
      val tree = GraftTable(spark, treeDir)(GraftSettings.default)
      tree.convert()
      shapes.zipWithIndex.foreach { case (sh, j) =>
        tree.append(frame(sh, (j * 10 + 200) until (j * 10 + 206), "a", i * 100 + j)
          .withColumn("region", org.apache.spark.sql.functions.lit(s"r$j")))
      }
      assertSameRows(tree, shapes)
    }
  }
}
