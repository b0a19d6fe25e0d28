package graft.tables

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Pins [[FooterStats]], the only source of per-file stats: staged
  * commits and `convert` both read parquet footers, never the data. For
  * every stat type the footer-derived values must follow the stats
  * encoding — byte-equal where consumers compare bytes (strings;
  * [[StatsPruning]] orders them by unsigned UTF-8, the parquet
  * binary-stats order), value-equal elsewhere (numeric domains parse back
  * through BigDecimal). Also pins the conservative degrades: all-null
  * columns, NaN floats, zero-row files, graft_bucket dir synthesis, INT96
  * timestamps and LEGACY-rebased dates — a column without stats keeps
  * every file, so answers stay exact. */
class FooterStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-fstats-").toString

  private def footerOf(dir: String, schema: StructType): Map[String, FileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    graft.lake.FsUtils.dataFiles(spark, dir).flatMap { st =>
      FooterStats.forFile(st.getPath, conf, schema.fields.toSeq, "CORRECTED")
        .map(f => st.getPath.getName -> f)
    }.toMap
  }

  test("footer stats match the aggregated encoding for every stat type") {
    val dir = s"${tmp()}/t"
    val df = Seq(
      (1, 10L, 1.5f, 2.25, "alpha", true, "2024-01-31", BigDecimal("12.34")),
      (7, -3L, -0.5f, 9.75, "zeta", false, "2025-12-01", BigDecimal("-8.10")),
      (4, 0L, 0.0f, 0.0, "mid", true, "2024-06-01", BigDecimal("0.01")))
      .toDF("i", "l", "f", "d", "s", "b", "dt", "dec")
      .withColumn("dt", col("dt").cast(DateType))
      .withColumn("dec", col("dec").cast(DecimalType(10, 2)))
    df.coalesce(1).write.parquet(dir)
    val stats = footerOf(dir, df.schema)
    assert(stats.size == 1)
    val f = stats.values.head
    assert(f.rows == 3L)
    def cs(name: String) = f.cols(name)
    assert(cs("i") == ColStats(Some("1"), Some("7"), 0L))
    assert(cs("l") == ColStats(Some("-3"), Some("10"), 0L))
    assert(cs("f") == ColStats(Some("-0.5"), Some("1.5"), 0L))
    // parquet normalizes FP zero bounds (+0.0 min becomes -0.0, a sound
    // lower bound); consumers parse numeric stats through BigDecimal,
    // where -0.0 == 0.0 — compare VALUES, the actual contract
    def dec(s: Option[String]) = BigDecimal(s.get)
    assert(dec(cs("d").min) == BigDecimal("0.0") && dec(cs("d").max) == BigDecimal("9.75")
      && cs("d").nulls == 0L)
    assert(cs("s") == ColStats(Some("alpha"), Some("zeta"), 0L))
    assert(cs("b") == ColStats(Some("false"), Some("true"), 0L))
    assert(cs("dt") == ColStats(Some("2024-01-31"), Some("2025-12-01"), 0L))
    assert(cs("dec") == ColStats(Some("-8.10"), Some("12.34"), 0L))
  }

  test("timestamp stats are epoch micros when the writer produced INT64 micros") {
    val dir = s"${tmp()}/t"
    val df = Seq("2024-01-01T00:00:00Z", "2025-06-15T12:30:45.123456Z")
      .toDF("raw")
      .select(col("raw").cast(TimestampType).as("ts"))
    df.coalesce(1).write
      .option("parquet.outputTimestampType", "TIMESTAMP_MICROS") // writer-local, no session mutation
      .parquet(dir)
    val f = footerOf(dir, df.schema).values.head
    // absent under an INT96 layout (conservative: no pruning); exact
    // micros under INT64 — never a wrong value
    f.cols.get("ts").foreach { ts =>
      val lo = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val hi = java.time.Instant.parse("2025-06-15T12:30:45.123456Z")
      def micros(i: java.time.Instant) = i.getEpochSecond * 1000000L + i.getNano / 1000L
      assert(ts == ColStats(Some(micros(lo).toString), Some(micros(hi).toString), 0L))
    }
  }

  test("null counts, all-null columns, and NaN degrade conservatively") {
    val dir = s"${tmp()}/t"
    val df = Seq(
      (Some(1), Option.empty[String], Some(Double.NaN)),
      (None, Option.empty[String], Some(1.0)),
      (Some(5), Option.empty[String], Some(2.0)))
      .toDF("i", "s", "d")
    df.coalesce(1).write.parquet(dir)
    val f = footerOf(dir, df.schema).values.head
    assert(f.rows == 3L)
    assert(f.cols("i") == ColStats(Some("1"), Some("5"), 1L))
    // all-null column: None/None with nulls == rows (the all-null prune)
    assert(f.cols("s") == ColStats(None, None, 3L))
    // NaN-poisoned double: the column is absent (keep-the-file) or carries
    // no bounds — never a wrong bound
    assert(!f.cols.contains("d") || f.cols("d").min.isEmpty)
  }

  test("bucketed staging dirs synthesize graft_bucket min=max stats") {
    val dir = s"${tmp()}/t"
    Seq((1, "a"), (2, "b")).toDF("k", "v")
      .withColumn("graft_bucket", pmod(col("k"), lit(4)))
      .write.partitionBy("graft_bucket").parquet(dir)
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", StringType), StructField("graft_bucket", IntegerType)))
    val conf = spark.sparkContext.hadoopConfiguration
    val perFile = graft.lake.FsUtils.dataFiles(spark, dir).flatMap { st =>
      FooterStats.forFile(st.getPath, conf, schema.fields.toSeq, "CORRECTED")
        .map(f => st.getPath.getParent.getName -> f)
    }
    assert(perFile.nonEmpty)
    perFile.foreach { case (parent, f) =>
      val b = parent.stripPrefix("graft_bucket=")
      assert(f.cols("graft_bucket") == ColStats(Some(b), Some(b), 0L))
    }
  }

  test("zero-row files are absent from the stats map (the distributed twin's shape)") {
    val dir = s"${tmp()}/t"
    Seq((1, "a")).toDF("k", "v").filter(col("k") > 100).coalesce(1).write.parquet(dir)
    val schema = Seq((1, "a")).toDF("k", "v").schema
    assert(footerOf(dir, schema).isEmpty)
  }

  test("a table committed through the footer path still readWhere-prunes exactly") {
    val dir = s"${tmp()}/t"
    val t = GraftTable(spark, s"file://$dir")
    t.append((1 to 100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
      .repartitionByRange(1, col("k")))
    t.append((1000 to 1100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
      .repartitionByRange(1, col("k")))
    val pruned = t.readWhere(col("k") === 1050L)
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(1050L))
    // analysis-time skipping: the scan must touch ONE file (inputFiles
    // reports the unpruned live set — the executed scan metric is the
    // truth; read it from the SAME execution the collect ran)
    val scan = pruned.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.metrics("numFiles").value == 1L)
    assert(t.read().count() == 201L)
  }

  /** The WARN messages [[GraftTable]] logs while `body` runs. */
  private def tableWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-table-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LoggerContext.getContext(false).getLogger(classOf[GraftTable].getName)
    logger.addAppender(app)
    try body
    finally { logger.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  /** Runs `body` with one session conf set, restoring the previous value. */
  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def statCols(t: GraftTable): Set[String] =
    t.snapshot().stats.values.flatMap(_.cols.keys).toSet

  private val LostTimestampStats = "yielded no usable footer stats"

  test("INT96 timestamps: one warning per table, no ts stats, exact answers (append and convert)") {
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def rows(lo: Int): Seq[(Int, java.sql.Timestamp)] =
      (lo until lo + 20).map(i => (i, java.sql.Timestamp.from(t0.plusSeconds(3600L * i))))
    def frame(lo: Int) = rows(lo).toDF("id", "ts").coalesce(1)
    val all = rows(0) ++ rows(100)
    val cut = java.sql.Timestamp.from(t0.plusSeconds(3600L * 50))
    // with ts stats this predicate would prune the first batch's file
    val pred = col("ts") >= lit(cut)
    val want = all.filter(_._2.compareTo(cut) >= 0).toSet
    def check(t: GraftTable): Unit = {
      assert(t.liveFiles().size === 2)
      assert(!statCols(t).contains("ts") && statCols(t).contains("id"))
      assert(t.prunedFiles(pred).toSet === t.liveFiles().toSet,
        "a timestamp predicate must keep every file when ts has no stats")
      assert(t.readWhere(pred).as[(Int, java.sql.Timestamp)].collect().toSet === want)
      assert(t.prunedFiles(col("id") === 105).size === 1)
    }
    withConf("spark.sql.parquet.outputTimestampType", "INT96") {
      val t = GraftTable(spark, s"${tmp()}/t")
      val warned = tableWarnings { t.append(frame(0)); t.append(frame(100)) }
      assert(warned.count(_.contains(LostTimestampStats)) === 1, warned)
      assert(!warned.exists(_.contains("footer stats failed")), warned)
      check(t)

      val tree = s"${tmp()}/tree"
      frame(0).write.parquet(tree)
      frame(100).write.mode("append").parquet(tree)
      val c = GraftTable(spark, tree)
      val convertWarned = tableWarnings(c.convert())
      assert(convertWarned.count(_.contains(LostTimestampStats)) === 1, convertWarned)
      check(c)
    }
  }

  test("LEGACY-rebased dates record no date stats; an int column still prunes (append and convert)") {
    // pre-1582 dates are where the hybrid calendar and the proleptic one
    // disagree; the second batch is modern
    def rows(lo: Int, year0: Int): Seq[(Int, String)] =
      (lo until lo + 10).map(i => (i, f"${year0 + (i - lo) * 7}%04d-03-15"))
    def frame(lo: Int, year0: Int) = rows(lo, year0).toDF("id", "ds")
      .select(col("id"), col("ds").cast(DateType).as("d")).coalesce(1)
    val all = rows(0, 1000) ++ rows(100, 1950)
    val pred = col("d") < lit(java.time.LocalDate.parse("1500-01-01"))
    val want = all.filter(r => java.time.LocalDate.parse(r._2)
      .isBefore(java.time.LocalDate.parse("1500-01-01"))).toSet
    def check(t: GraftTable): Unit = {
      assert(t.liveFiles().size === 2)
      assert(!statCols(t).contains("d") && statCols(t).contains("id"))
      assert(t.readWhere(pred).select(col("id"), col("d").cast("string"))
        .as[(Int, String)].collect().toSet === want)
      assert(t.prunedFiles(col("id") === 105).size === 1)
    }
    withConf("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY") {
      val t = GraftTable(spark, s"${tmp()}/t")
      t.append(frame(0, 1000))
      t.append(frame(100, 1950))
      check(t)

      val tree = s"${tmp()}/tree"
      frame(0, 1000).write.parquet(tree)
      frame(100, 1950).write.mode("append").parquet(tree)
      val c = GraftTable(spark, tree)
      c.convert()
      check(c)
    }
  }

  /** Writes one parquet file of `(id INT, d DATE)` rows through parquet-mr,
    * as a writer other than this Spark would: the DATE values are the
    * given PHYSICAL epoch days, and `kv` is the footer's key-value
    * metadata. */
  private def writeForeign(file: String, rows: Seq[(Int, Int)], kv: Map[String, String]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import scala.jdk.CollectionConverters._
    val schema = MessageTypeParser.parseMessageType(
      "message m { optional int32 id; optional int32 d (DATE); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withExtraMetaData(kv.asJava)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      rows.foreach { case (id, d) => w.write(groups.newGroup().append("id", id).append("d", d)) }
    } finally w.close()
  }

  test("a Spark 2.x tree, or a version-less one read in LEGACY mode, records no date stats on convert") {
    // physical epoch days of pre-1582 dates: Spark reads a Spark 2.x file
    // through the hybrid calendar, so its dates land days away from the
    // proleptic decoding of these values
    val old = march15Days(1000, 1063)
    def tree(kv: Map[String, String]): String = {
      val dir = s"${tmp()}/tree"
      Files.createDirectories(java.nio.file.Paths.get(dir))
      writeForeign(s"$dir/part-0.parquet", old.zipWithIndex.map { case (d, i) => (i, d) }, kv)
      writeForeign(s"$dir/part-1.parquet",
        (0 until 10).map(i => (100 + i, 18000 + i)), kv)
      dir
    }
    // the earliest date of the old file as Spark reads it: below the raw
    // values' min, so stats of the raw values would skip the file
    def check(dir: String): Unit = {
      val raw = spark.read.parquet(dir)
      val first = raw.where(col("id") < 100).agg(min(col("d"))).head.getDate(0).toLocalDate
      assert(first.toEpochDay < old.min, "the fixture must exercise the calendar rebase")
      val pred = col("d") === lit(first)
      val want = raw.where(pred).as[(Int, java.sql.Date)].collect().toSet
      assert(want.size === 1)
      val t = GraftTable(spark, dir)
      t.convert()
      assert(!statCols(t).contains("d") && statCols(t).contains("id"))
      assert(t.readWhere(pred).as[(Int, java.sql.Date)].collect().toSet === want)
      assert(t.prunedFiles(col("id") === 105).size === 1)
    }
    check(tree(Map("org.apache.spark.version" -> "2.4.8")))
    withConf("spark.sql.parquet.datetimeRebaseModeInRead", "LEGACY") { check(tree(Map.empty)) }
    // a version-less file under the default (CORRECTED) read mode is read
    // as written, so its date stats stay
    val modern = GraftTable(spark, tree(Map.empty))
    modern.convert()
    assert(statCols(modern).contains("d"))
  }

  /** Proleptic epoch days of March 15th, every 7 years from `from` to `to`. */
  private def march15Days(from: Int, to: Int): Seq[Int] =
    (from to to by 7).map(y => java.time.LocalDate.of(y, 3, 15).toEpochDay.toInt)
}
