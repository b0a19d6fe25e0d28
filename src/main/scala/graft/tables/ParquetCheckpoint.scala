package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{Row, SparkSession}

/** COLUMNAR log checkpoints — the metadata-scale twin of the JSON ones
  * (Delta's checkpoint architecture: `<v>.checkpoint.parquet`).
  *
  * The JSON checkpoint is one document the driver must parse whole with a
  * tree parser and reflective extraction; at ~1M live files (100 TB at
  * 128 MiB/file) that is hundreds of MB of JSON AST per COLD table open.
  * The parquet twin holds one ROW per live file — `(file, stats, dv)`
  * with the stats as NATIVE nested parquet groups (Delta's
  * `stats_parsed`), so a cold open is a linear columnar decode with no
  * JSON and no reflection anywhere — plus the scalar state (version,
  * schemaJson) in the parquet FOOTER's key-value metadata:
  *
  *  - the footer read is metadata-only (never touches row pages), so
  *    `version`/`schemaJson` cost one footer RPC;
  *  - below `settings.logCheckpointDistributedReadBytes` a driver-side
  *    columnar reader opens the one file without scheduling a job;
  *  - past it the rows are read as a one-file Spark job — EXECUTORS
  *    decode the pages and the driver collects only the compact row
  *    values, which is Delta's distributed checkpoint read (the
  *    driver-side bound is then the same O(files) name list every
  *    snapshot already holds).
  *
  * Checkpoints are written in BOTH formats side by side (parquet serves,
  * JSON remains for back-compat with older readers); readers prefer the
  * parquet twin and fall back per-file on any parse failure — a
  * checkpoint is an optimization, correctness never depends on one.
  * [[LogCheckpointSpec]] records the cold-parse micro-bench
  * (CKPT_BENCH_r15.json) and pins round-trip equality of the twins.
  */
private[tables] object ParquetCheckpoint {

  // `repeated group cols` is the legacy 2-level parquet list shape —
  // parquet-mr's Group API writes it directly and Spark's reader maps it
  // to array<struct<...>> for the distributed path
  private val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message graft_checkpoint {
      |  required binary file (UTF8);
      |  optional group stats {
      |    required int64 rows;
      |    optional int64 bytes;
      |    repeated group cols {
      |      required binary name (UTF8);
      |      optional binary min (UTF8);
      |      optional binary max (UTF8);
      |      required int64 nulls;
      |    }
      |  }
      |  optional binary dv (UTF8);
      |}""".stripMargin)

  private val KVersion = "graft.version"
  private val KSchema = "graft.schemaJson"
  private val KNumFiles = "graft.numFiles"
  /** Comma-joined sorted reader-feature union ([[GraftProtocol]]) — in the
    * FOOTER because the gate must be checkable from the metadata RPC alone,
    * before any row of the live set is decoded. */
  private val KFeatures = "graft.features"
  /** Comma-joined sorted WRITER-feature union — footer too, so a writer
    * can check its gate from the metadata RPC. Reads never gate on it. */
  private val KWriterFeatures = "graft.writerFeatures"

  /** Write `snap` (already trimmed to live files) as one parquet file at
    * `dest` — written to a temp name and renamed, like every log file, so
    * readers never see partial content. Driver-side parquet-mr writer: a
    * checkpoint write is one linear pass over the live set, and keeping
    * it jobless means the commit path's cadence cost stays flat. */
  def write(fs: FileSystem, conf: Configuration, logDir: String,
      dest: String, snap: LogCheckpoint): Unit = {
    val tmp = new Path(logDir, s".$dest.${java.util.UUID.randomUUID()}.tmp")
    val meta = new java.util.HashMap[String, String]()
    meta.put(KVersion, snap.version.toString)
    meta.put(KNumFiles, snap.live.size.toString)
    snap.schemaJson.foreach(meta.put(KSchema, _))
    snap.features.filter(_.nonEmpty)
      .foreach(fs => meta.put(KFeatures, fs.sorted.mkString(",")))
    snap.writerFeatures.filter(_.nonEmpty)
      .foreach(fs => meta.put(KWriterFeatures, fs.sorted.mkString(",")))
    val factory = new SimpleGroupFactory(Schema)
    val writer = ExampleParquetWriter.builder(tmp)
      .withType(Schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(meta)
      .build()
    try {
      try {
        val dvFor = snap.dvFor
        snap.live.foreach { f =>
          val g = factory.newGroup()
          g.append("file", f)
          snap.stats.get(f).foreach { st =>
            val sg = g.addGroup("stats")
            sg.append("rows", st.rows)
            st.bytes.foreach(b => sg.append("bytes", b))
            st.cols.foreach { case (name, cs) =>
              val cg = sg.addGroup("cols")
              cg.append("name", name)
              cs.min.foreach(cg.append("min", _))
              cs.max.foreach(cg.append("max", _))
              cg.append("nulls", cs.nulls)
            }
          }
          dvFor.get(f).foreach(dv => g.append("dv", dv))
          writer.write(g)
        }
      } finally writer.close()
    } catch {
      // checkpoint writes retry at every cadence hit: a failed attempt
      // must not orphan its temp file in the log dir forever (no vacuum
      // path targets foreign .tmp names)
      case t: Throwable =>
        try fs.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
    if (!fs.rename(tmp, new Path(logDir, dest))) fs.delete(tmp, false)
  }

  /** Read a parquet checkpoint back into a [[LogCheckpoint]]. The footer
    * (version/schema) always reads driver-side — metadata-only; the rows
    * read via a distributed Spark job once the file exceeds
    * `distributedReadBytes`, driver-side parquet-mr below it (one file
    * open instead of a job for the common small table). */
  def read(spark: SparkSession, fs: FileSystem, conf: Configuration,
      p: Path, distributedReadBytes: Long): LogCheckpoint = {
    val inputFile = HadoopInputFile.fromPath(p, conf)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(inputFile,
      org.apache.parquet.HadoopReadOptions.builder(conf, p).build())
    val (version, schemaJson, numFiles, features, writerFeatures) =
      try {
        val kv = footer.getFooter.getFileMetaData.getKeyValueMetaData
        (kv.get(KVersion).toLong, Option(kv.get(KSchema)),
          Option(kv.get(KNumFiles)).map(_.toLong),
          Option(kv.get(KFeatures)).map(_.split(',').toSeq.filter(_.nonEmpty)),
          Option(kv.get(KWriterFeatures)).map(_.split(',').toSeq.filter(_.nonEmpty)))
      } finally footer.close()
    // gate on the footer ALONE — refusing an unsupported table must not
    // first decode a million-row live set ([[GraftProtocol]]; the
    // snapshot-level check remains as the read-surface belt)
    GraftProtocol.requireReadable(features.getOrElse(Nil), p.toString,
      s"checkpoint v$version (parquet footer)")

    val live = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, FileStats]
    var dvs = Map.empty[String, String]

    if (fs.getFileStatus(p).getLen >= distributedReadBytes) {
      // executors decode the pages; the driver collects compact values.
      // ignoreCorruptFiles/ignoreMissingFiles are FORCED off: a session
      // that sets them for data reads must not let a corrupt checkpoint
      // silently yield fewer rows here — a short read would serve a
      // truncated live set as if it were the table. Throwing instead
      // routes the caller to its per-file fallback (JSON twin / commit
      // replay); the footer row count below backstops any other
      // silent-truncation path.
      spark.read
        .option("ignoreCorruptFiles", "false")
        .option("ignoreMissingFiles", "false")
        .parquet(p.toString).collect().foreach { r =>
        val f = r.getString(r.fieldIndex("file"))
        live += f
        val st = r.getAs[Row]("stats")
        if (st != null) {
          val cols = Option(st.getAs[scala.collection.Seq[Row]]("cols"))
            .getOrElse(Seq.empty).map { c =>
              c.getString(c.fieldIndex("name")) -> ColStats(
                Option(c.getString(c.fieldIndex("min"))),
                Option(c.getString(c.fieldIndex("max"))),
                c.getLong(c.fieldIndex("nulls")))
            }.toMap
          val bytes = if (st.isNullAt(st.fieldIndex("bytes"))) None
            else Some(st.getLong(st.fieldIndex("bytes")))
          stats += f -> FileStats(st.getLong(st.fieldIndex("rows")), cols, bytes)
        }
        val dv = r.getString(r.fieldIndex("dv"))
        if (dv != null) dvs += f -> dv
      }
    } else {
      def opt(g: Group, field: String): Option[String] =
        if (g.getFieldRepetitionCount(field) > 0) Some(g.getString(field, 0))
        else None
      val reader = ParquetReader.builder(new GroupReadSupport(), p)
        .withConf(conf).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          val f = g.getString("file", 0)
          live += f
          if (g.getFieldRepetitionCount("stats") > 0) {
            val sg = g.getGroup("stats", 0)
            val cols = (0 until sg.getFieldRepetitionCount("cols")).map { i =>
              val cg = sg.getGroup("cols", i)
              cg.getString("name", 0) ->
                ColStats(opt(cg, "min"), opt(cg, "max"), cg.getLong("nulls", 0))
            }.toMap
            val bytes = if (sg.getFieldRepetitionCount("bytes") > 0)
              Some(sg.getLong("bytes", 0)) else None
            stats += f -> FileStats(sg.getLong("rows", 0), cols, bytes)
          }
          opt(g, "dv").foreach(dv => dvs += f -> dv)
          g = reader.read()
        }
      } finally reader.close()
    }
    val files = live.result()
    // the checkpoint recorded its own row count at write time: any
    // mismatch (truncated write, short read) must throw — the caller
    // falls back to the JSON twin or full commit replay, never serves a
    // partial live set
    numFiles.filter(_ != files.size).foreach(expect =>
      throw new java.io.IOException(
        s"parquet checkpoint $p is truncated: footer says $expect live " +
          s"files, read ${files.size}"))
    LogCheckpoint(version, files, schemaJson, stats.result(),
      if (dvs.isEmpty) None else Some(dvs),
      features.filter(_.nonEmpty),
      writerFeatures.filter(_.nonEmpty))
  }
}
