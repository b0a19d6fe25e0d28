package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types._

/** [[FileStats]] derived from a parquet file's FOOTER — the metadata the
  * writer already computed — instead of a distributed re-read of the data
  * (guide §6: at 100 TB the re-read doubled every commit's write-path I/O;
  * locally it was one extra Spark job per commit). The only stats source:
  * staged commits and `convert` both read footers.
  *
  * Encoding contract (what [[StatsPruning]] compares against):
  *  - numerics as their cast-to-string value — consumers
  *    ([[StatsPruning.statCmp]]) parse these back through BigDecimal, so
  *    any exact decimal/scientific rendering of the same VALUE is
  *    equivalent; we render via Java `toString`, which is what Spark's
  *    cast produces for int/long/float/double, and `toPlainString` at the
  *    declared scale for decimals;
  *  - strings verbatim (parquet binary stats order by unsigned UTF-8
  *    bytes — the exact order Spark's min()/max() aggregates use);
  *  - dates as `yyyy-MM-dd`, timestamps as epoch MICROS, booleans as
  *    true/false;
  *  - `min = max = None` means ALL-NULL (never "unknown": a column whose
  *    footer stats are unusable — INT96 timestamps, LEGACY-rebased
  *    dates/timestamps, NaN-poisoned floats, oversized binary values the
  *    writer dropped stats for — is OMITTED from `cols` entirely, so
  *    pruning degrades to a scan, never to a wrong skip).
  *
  * Zero-row files return None: they hold no rows to skip, so they stay
  * absent from the stats map (the DV full-file drop never sees a
  * zero-row entry). */
private[tables] object FooterStats {

  /** `rebaseModeInRead` is the session's
    * `spark.sql.parquet.datetimeRebaseModeInRead`: Spark applies it to
    * files whose footer names no Spark version. */
  def forFile(file: Path, conf: Configuration,
      statFields: Seq[StructField], rebaseModeInRead: String): Option[FileStats] = {
    import scala.jdk.CollectionConverters._
    // options built over `conf`: the one-argument open builds a fresh
    // Hadoop Configuration per file and re-parses its XML resources
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    val (rows, merged, legacyRebase) =
      try {
        // a file Spark reads in LEGACY mode holds hybrid-calendar
        // date/timestamp values (written by Spark 2.x, under
        // datetimeRebaseModeInWrite=LEGACY, or — with no Spark version in
        // the footer — read under a LEGACY session mode); decoding them as
        // proleptic-Gregorian epoch days/micros would MIS-STATE the logical
        // bounds for pre-1582 dates (pre-1900 legacy timestamps), an
        // unsound prune. Spark's own rule decides, and date/timestamp
        // columns are then omitted (kept file, never a wrong skip).
        val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
        val legacyRebase = DataSourceUtils.datetimeRebaseSpec(kv.get(_), rebaseModeInRead)
          .mode == LegacyBehaviorPolicy.LEGACY
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // merge per-column chunk statistics across row groups: same-typed
        // Statistics merge natively (min-of-mins / max-of-maxes in the
        // column's own comparator, null counts summed). A chunk WITHOUT
        // usable stats poisons its column — a partial merge would claim
        // bounds the uncovered chunk can violate (an unsound prune).
        val merged = scala.collection.mutable.Map.empty[String, Option[(PrimitiveType, Statistics[_])]]
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            if (c.getPath.size == 1) {
              val name = c.getPath.toDotString
              val st = c.getStatistics
              val usable = st != null && !st.isEmpty && st.isNumNullsSet
              merged.get(name) match {
                case Some(None) => // stays poisoned
                case None =>
                  merged.put(name,
                    if (usable) Some((c.getPrimitiveType, st.copy(): Statistics[_])) else None)
                case Some(Some((pt, acc))) =>
                  if (usable) acc.asInstanceOf[Statistics[Nothing]]
                    .mergeStatistics(st.asInstanceOf[Statistics[Nothing]])
                  else merged.put(name, None)
              }
            }
          }
        }
        (rows, merged.toMap, legacyRebase)
      } finally reader.close()
    if (rows == 0L) return None

    // dir-derived partition values: ONLY the engine's own staged bucketed
    // writes put `graft_bucket=N/` between staging root and leaf, and N is
    // always a plain non-null integer there — so synthesis is restricted to
    // that dir name. A generic k=v parent (URL-escaped value, or Hive's
    // __HIVE_DEFAULT_PARTITION__ null marker) must not become a trusted
    // min=max with nulls=0: that would let an isNull prune wrongly skip the
    // file.
    val parentDir = file.getParent.getName
    val dirValue: Map[String, String] =
      parentDir.split('=') match {
        case Array(k @ "graft_bucket", v) => Map(k -> v)
        case _                            => Map.empty
      }

    val cols = statFields.flatMap { f =>
      dirValue.get(f.name) match {
        case Some(v) => Some(f.name -> ColStats(Some(v), Some(v), 0L))
        case None =>
          merged.get(f.name).flatten match {
            case Some((pt, st)) => colStats(f, pt, st, rows, legacyRebase)
            case None => None
          }
      }
    }.toMap
    Some(FileStats(rows, cols, bytes = None))
  }

  /** One column's merged footer statistics → [[ColStats]], or None when
    * the stats are unusable for this Spark type. */
  private def colStats(f: StructField, pt: PrimitiveType,
      st: Statistics[_], rows: Long, legacyRebase: Boolean): Option[(String, ColStats)] = {
    if (!st.isNumNullsSet) return None // unknown null count: can't answer isNull prunes
    val nulls = st.getNumNulls
    if (nulls == rows)
      return Some(f.name -> ColStats(None, None, nulls)) // all-null column
    // LEGACY-rebased files carry hybrid-calendar physical date/timestamp
    // values; their min/max would mis-state the logical bounds (see above)
    if (legacyRebase && (f.dataType == DateType || f.dataType == TimestampType))
      return None
    if (st.isEmpty || !st.hasNonNullValue) return None // values present but no min/max (NaN etc.)
    render(f.dataType, pt, st).map { case (mn, mx) =>
      f.name -> ColStats(Some(mn), Some(mx), nulls)
    }
  }

  /** (min, max) strings in the encoding above, or
    * None when the physical/logical combination has no sound rendering. */
  private def render(dt: DataType, pt: PrimitiveType,
      st: Statistics[_]): Option[(String, String)] = {
    val ann = pt.getLogicalTypeAnnotation
    def decimalScale: Option[Int] = ann match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }
    def tsToMicros(v: Long): Option[Long] = ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(v)
          case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(Math.multiplyExact(v, 1000L))
          case _ => None // NANOS and anything newer: skip rather than round
        }
      case _ => None
    }
    (dt, pt.getPrimitiveTypeName) match {
      case (ByteType | ShortType | IntegerType, PrimitiveTypeName.INT32) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (LongType, PrimitiveTypeName.INT64) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (StringType, PrimitiveTypeName.BINARY) =>
        (st.genericGetMin, st.genericGetMax) match {
          case (a: org.apache.parquet.io.api.Binary, b: org.apache.parquet.io.api.Binary) =>
            Some((a.toStringUsingUTF8, b.toStringUsingUTF8))
          case _ => None
        }
      case (DateType, PrimitiveTypeName.INT32) if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        Some((
          java.time.LocalDate.ofEpochDay(st.genericGetMin.asInstanceOf[Int].toLong).toString,
          java.time.LocalDate.ofEpochDay(st.genericGetMax.asInstanceOf[Int].toLong).toString))
      case (TimestampType, PrimitiveTypeName.INT64) =>
        for {
          mn <- tsToMicros(st.genericGetMin.asInstanceOf[Long])
          mx <- tsToMicros(st.genericGetMax.asInstanceOf[Long])
        } yield (mn.toString, mx.toString)
      case (d: DecimalType, PrimitiveTypeName.INT32) if decimalScale.isDefined =>
        val s = decimalScale.get
        Some((
          java.math.BigDecimal.valueOf(st.genericGetMin.asInstanceOf[Int].toLong, s).toPlainString,
          java.math.BigDecimal.valueOf(st.genericGetMax.asInstanceOf[Int].toLong, s).toPlainString))
      case (d: DecimalType, PrimitiveTypeName.INT64) if decimalScale.isDefined =>
        val s = decimalScale.get
        Some((
          java.math.BigDecimal.valueOf(st.genericGetMin.asInstanceOf[Long], s).toPlainString,
          java.math.BigDecimal.valueOf(st.genericGetMax.asInstanceOf[Long], s).toPlainString))
      case (d: DecimalType, PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
          if decimalScale.isDefined =>
        val s = decimalScale.get
        def dec(b: org.apache.parquet.io.api.Binary): String =
          new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), s).toPlainString
        Some((
          dec(st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]),
          dec(st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary])))
      case _ => None // INT96 timestamps and anything unrecognized: no stats
    }
  }
}
