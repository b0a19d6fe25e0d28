package graft.tables

import graft.conf.GraftSettings
import graft.lake.FsUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.UUID

/** A versioned parquet table — the engine's stand-in for the Delta tables
  * the reference writes everything to (no delta jar in this environment).
  *
  * Layout:
  * {{{
  *   <path>/_graft_log/...            // the log, owned by GraftLog
  *   <path>/part-<uuid>-*.parquet     // immutable data files
  *   <path>/_graft_changes/           // change-data files (CDF)
  *   <path>/_graft_dv/                // deletion-vector sidecars
  * }}}
  *
  * This class is the DATA side (staging, reads, DML, maintenance,
  * vacuum); everything under `_graft_log/` lives in the mixed-in
  * [[GraftLog]], whose funnel ([[GraftLog.commitRewrite]]) every write
  * here ends in.
  *
  * Concurrency: commits are made visible by an atomic publish of the
  * version file; readers replay the log (driver-side, tiny) and read
  * exactly the live file set — so reads never observe a partial write,
  * and time travel is `readAt(version)`. The funnel's Delta-style
  * LOGICAL conflict detection lets appends and metadata commits commute
  * and retry a lost version race verbatim; disjoint concurrent rewriters
  * (different buckets / provably different key ranges) land without
  * manual retry, overlapping ones fail loudly.
  *
  * Scale: the log holds file NAMES only (KBs per commit); data files are
  * immutable parquet that Spark scans with full pushdown/pruning. Appends
  * are O(batch); `upsert` is a join-based rewrite (see method doc);
  * compaction targets `settings.compactTargetBytes` per file.
  */
final class GraftTable private (
    val spark: SparkSession,
    val path: String,
    protected val settings: GraftSettings) extends GraftLog {

  private val BucketName = "^b(\\d+)-".r

  /** Add a persisted CHECK constraint (Delta's `ALTER TABLE ... ADD
    * CONSTRAINT name CHECK (pred)`): validates the EXISTING table in one
    * early-exit scan (a constraint must already hold — Delta refuses the
    * same way), persists the predicate in the table's metadata, and from
    * then on EVERY write path (append, upsert, update, overwrite, SQL
    * INSERT/MERGE, the streaming sink) enforces it in-plan via
    * [[CheckConstraintGuard]] — per-row inside the write's own codegen
    * stage, zero extra passes. Constraint DDL is an admin operation:
    * single-writer, like [[setBucketSpec]]. Records a `constraint`
    * metadata commit so `DESCRIBE HISTORY` shows when rules changed. */
  def addConstraint(name: String, predicateSql: String): Unit = {
    require(name.matches("\\w+"), s"constraint name '$name' must be word-shaped")
    val cur = constraints
    require(!cur.contains(name),
      s"constraint $name already exists: CHECK (${cur(name)})")
    if (exists && !readRelation()
        .filter(!coalesce(expr(predicateSql), lit(false))).isEmpty)
      throw new IllegalStateException(
        s"cannot add CHECK constraint $name ($predicateSql): " +
          s"existing rows in $path violate it")
    updateSidecar(constraintsSidecar, cur + (name -> predicateSql), "constraint",
      Map("op" -> "add", "name" -> name, "predicate" -> predicateSql))
  }

  // ------------------------------------------------------- column mapping

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's column mapping):
    * the field keeps the PHYSICAL name every existing data file was
    * written with; only the logical name changes — zero files touched,
    * stats stay valid (they are keyed by physical name), data skipping
    * stays selective. Refused when the column anchors a bucket layout
    * (the layout hashed its values under this name) or appears in a
    * persisted CHECK constraint's SQL (the predicate text would
    * silently stop binding). Admin DDL: single-writer, like
    * [[setBucketSpec]]. NESTED struct leaves rename too: `from` takes a
    * dotted path (`"s.a"`), `to` the new leaf name within the same
    * parent — the mapping metadata rides on the nested field and every
    * read/write path recurses through it ([[ColumnMapping]]). */
  def renameColumn(from: String, to: String): Unit = {
    require(exists, s"table does not exist: $path")
    require(from != to, "rename to the same name is a no-op")
    require(!to.contains('.'),
      s"rename target must be a bare name (same parent), got '$to'")
    val segs = from.split('.').toSeq
    requireNotAnchored(segs.head, "rename")
    requireNotDirPartition(segs.head, "rename")
    commitSchemaChange("rename_column", Map("from" -> from, "to" -> to)) { stored =>
      transformStructAt(stored, segs.init, "rename a field") { parent =>
        val live = parent.fields.filterNot(ColumnMapping.isDropped)
        require(live.exists(_.name == segs.last), s"no column '$from' in $path")
        require(!live.exists(_.name == to),
          s"column '$to' already exists beside '$from' in $path")
        org.apache.spark.sql.types.StructType(parent.fields.map { f =>
          if (!ColumnMapping.isDropped(f) && f.name == segs.last)
            ColumnMapping.withPhysical(f.copy(name = to), ColumnMapping.physicalName(f))
          else f
        })
      }
    }
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the field becomes a
    * TOMBSTONE — mangled logical name, `graft.dropped` marker, physical
    * name kept CLAIMED so a later column re-using this name gets a fresh
    * physical and can never resurrect the old bytes (the files still
    * hold them; OPTIMIZE's rewrite sheds them, time travel below the
    * drop still reads them). Refusals as [[renameColumn]]. */
  def dropColumn(name: String): Unit = {
    require(exists, s"table does not exist: $path")
    val segs = name.split('.').toSeq
    requireNotAnchored(segs.head, "drop")
    requireNotDirPartition(segs.head, "drop")
    commitSchemaChange("drop_column", Map("column" -> name)) { stored =>
      transformStructAt(stored, segs.init, "drop a field") { parent =>
        val live = parent.fields.filterNot(ColumnMapping.isDropped)
        require(live.exists(_.name == segs.last), s"no column '$name' in $path")
        require(live.length > 1,
          s"cannot drop the only column of ${if (segs.size > 1) segs.init.mkString(".") else path}")
        org.apache.spark.sql.types.StructType(parent.fields.map { f =>
          if (!ColumnMapping.isDropped(f) && f.name == segs.last)
            ColumnMapping.tombstone(f)
          else f
        })
      }
    }
  }

  /** Apply `f` to the struct at `parentPath` inside `stored` (the whole
    * schema for an empty path), recursing through array/map wrappers —
    * the shared navigation for nested rename/drop. Paths are '.'-split;
    * column names containing literal dots are not addressable (rename
    * them at the top level first). */
  private def transformStructAt(stored: org.apache.spark.sql.types.StructType,
      parentPath: Seq[String], opDesc: String)(
      f: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    if (parentPath.isEmpty) return f(stored)
    val head = parentPath.head
    val idx = stored.fields.indexWhere(x => !ColumnMapping.isDropped(x) && x.name == head)
    require(idx >= 0, s"no column '$head' in $path")
    def rec(dt: DataType): DataType = dt match {
      case s: StructType => transformStructAt(s, parentPath.tail, opDesc)(f)
      case a: ArrayType  => a.copy(elementType = rec(a.elementType))
      case m: MapType    => m.copy(valueType = rec(m.valueType))
      case other => throw new IllegalArgumentException(
        s"cannot $opDesc inside '$head': it is $other, not a struct")
    }
    val fld = stored.fields(idx)
    StructType(stored.fields.updated(idx, fld.copy(dataType = rec(fld.dataType))))
  }

  /** A dir-derived partition column (partitioned-tree [[convert]]) keeps
    * its NAME in the live file paths — a metadata-only rename can't touch
    * those, and a drop would be undone by path synthesis re-deriving the
    * column. Both refuse while any live file still sits under `name=`;
    * an overwrite/OPTIMIZE flattens the layout and lifts the refusal. */
  private def requireNotDirPartition(name: String, op: String): Unit =
    if (exists && snapshot().live.exists(
        _.split('/').dropRight(1).exists(_.startsWith(name + "="))))
      throw new IllegalArgumentException(
        s"cannot $op column '$name': live files carry it as a k=v partition " +
          "directory (partitioned-tree convert) — flatten first " +
          "(overwrite/OPTIMIZE), then rename/drop")

  private def requireNotAnchored(name: String, op: String): Unit = {
    bucketSpec.foreach(sp => require(!sp.keys.contains(name),
      s"cannot $op column '$name': it anchors the bucket layout ${sp.keys.mkString(",")}"))
    constraints.find(_._2.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*"))
      .foreach { case (cn, pred) =>
        throw new IllegalArgumentException(
          s"cannot $op column '$name': CHECK constraint $cn ($pred) references it — " +
            "drop the constraint first")
      }
  }

  /** Publish a schema-transforming metadata commit (dataChange=false),
    * re-reading and re-validating the CURRENT schema per attempt so an
    * interleaved append's widening is never overwritten. */
  private def commitSchemaChange(action: String, info: Map[String, String])(
      transform: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType): Unit =
    commitMetadata(action, info) { () =>
      transform(org.apache.spark.sql.types.DataType.fromJson(currentSchemaOrFail)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).json
    }

  /** Wrap `df` so every persisted CHECK constraint is enforced per row
    * inside the write pass itself. */
  private def withConstraintGuards(df: DataFrame): DataFrame = {
    val cs = constraints
    if (cs.isEmpty) df
    else cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, sql)) =>
      d.filter(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        CheckConstraintGuard(
          org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(expr(sql)),
          n, sql)))
    }
  }

  /** Bucket id encoded in a data file's name, if any. */
  private def bucketOf(fileName: String): Option[Int] =
    BucketName.findFirstMatchIn(fileName).map(_.group(1).toInt)

  private def bucketExpr(spec: BucketSpec): org.apache.spark.sql.Column =
    pmod(xxhash64(spec.keys.map(col): _*), lit(spec.numBuckets)).cast("int")

  // ----------------------------------------------------------------- read

  /** Current table content under the log schema: the union of all
    * written columns, with NULL where a file predates a column. */
  def read(): DataFrame = readAt(Long.MaxValue)

  /** Table content at `asOf` through the log-schema native relation: the
    * file list AND the schema come from the snapshot, so a read costs zero
    * distributed work before the scan. DV filtering, column mapping and
    * dir-derived partition columns are applied in-scan by
    * [[GraftRelation]], which also serves an empty live set and refuses a
    * table that does not exist. */
  def readAt(asOf: Long): DataFrame = GraftRelation.dataFrame(this, asOf)

  /** Read table data files presenting LOGICAL column names, under the log
    * schema recorded at the version being read — the schema
    * [[GraftRelation]] serves. `schemaJson` is the schema AT THAT VERSION,
    * so time travel and CDF synthesis see their own version's columns and
    * mapping. A file that predates a column (at any nesting depth) reads
    * it as NULL, and no footer is opened before the scan. With column
    * mapping active the files are read under the schema's PHYSICAL names
    * and aliased back in one projection. `_metadata` stays resolvable
    * either way (still a file-source plan). */
  private[tables] def readDataFiles(files: Seq[String],
      schemaJson: String): DataFrame = {
    val st = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val paths = files.map(f => s"$path/$f")
    val base =
      if (ColumnMapping.active(st)) {
        val phys = ColumnMapping.physicalSchema(st)
        val logical = ColumnMapping.cleanMetadata(ColumnMapping.logicalSchema(st))
        // phys and logical are the same recursion over the same stored
        // schema, so they agree field-for-field; the shared projection
        // renames (nested leaves included) and strips mapping metadata
        spark.read.schema(phys).parquet(paths: _*)
          .select(ColumnMapping.logicalProjection(phys, logical): _*)
      } else spark.read.schema(st).parquet(paths: _*)
    GraftTable.withDirPartitionColumns(base, files, st)
  }

  /** The table-relative data files [[changesByVersion]] names for one
    * batch of versions, read under the log schema at `version` (the
    * batch's last version): logical column names, dir-derived partition
    * columns, and no footer merge. The files are read as added: deletion
    * vectors bound later are not applied. */
  def readChangedFiles(files: Seq[String], version: Long): DataFrame =
    readDataFiles(files, schemaOf(snapshot(version)))

  /** The table root as qualified URI strings — the prefix
    * `_metadata.file_path` carries, so [[DeletionVectors.filterDeleted]]
    * can relativize scanned paths back to LOG names. BOTH authority
    * renderings, because Hadoop prints a null authority as `file:/p` and
    * an empty one as `file:///p` and the listing that fed the scan may
    * have produced either. */
  private[tables] lazy val qualifiedRootUris: Seq[String] = {
    val qp = fs.makeQualified(new Path(path))
    Seq(qp.toString, qp.toUri.toString).distinct
  }

  /** Driver-side load of the DV bitmaps bound to `files` (only entries
    * for scanned files load — O(scanned DVs), never O(table)). Used by
    * the plan-level apply ([[DeletionVectors.filterDeleted]]); the native
    * relation loads lazily on executors instead. */
  private[tables] def loadDvs(bindings: Map[String, String],
      files: Seq[String]): Map[String, Array[Long]] =
    if (bindings.isEmpty) Map.empty
    else files.iterator.flatMap(f =>
      bindings.get(f).map(dv => f -> DeletionVectors.read(fs, path, dv))).toMap

  /** The rows of one data file at the given parquet row positions — the
    * positional point-read behind DV-delta change synthesis (restore
    * resurrections). Positions broadcast (they are bitmap-sized). */
  private def rowsAt(file: String, positions: Array[Long],
      schemaJson: String): DataFrame = {
    import spark.implicits._
    val posDf = positions.toSeq.toDF("__p")
    readDataFiles(Seq(file), schemaJson)
      .withColumn("__i", col("_metadata.row_index"))
      .join(broadcast(posDf), col("__i") === col("__p"), "left_semi")
      .drop("__i")
  }

  /** The table as a native Spark file-source relation ([[GraftRelation]]):
    * log-schema scan with ANALYSIS-TIME data skipping — `.filter(p)` on
    * the result prunes files by stats/bucket automatically (no manual
    * `readWhere` routing), no per-file footer inference, and live-bytes
    * `sizeInBytes` so small tables auto-broadcast. Serves the snapshot at
    * `asOf` (default: current at this call) — the relation [[readAt]]
    * serves, with a defaulted version. */
  def readRelation(asOf: Long = Long.MaxValue): DataFrame =
    GraftRelation.dataFrame(this, asOf)

  /** Read with file-level data skipping: files whose min/max/null stats
    * prove `predicate` can never hold are not scanned at all. The result is
    * identical to `read().filter(predicate)` — the predicate is still
    * applied to surviving files; stats only remove files, never rows.
    *
    * Skipping understands conjunctions of `=`, `<`, `<=`, `>`, `>=`,
    * `isNull`, `isNotNull` between a column and a literal (numeric, string,
    * date, timestamp, boolean); anything else is kept, so unsupported
    * predicates degrade to a full scan, never to wrong results. Files
    * written before stats existed (or with stats disabled) are never
    * skipped. At 100 TB a selective predicate on an append-ordered column
    * (event time, ingest date) turns an O(table) scan into O(matching
    * files) — same mechanics as Delta/Iceberg data skipping. */
  def readWhere(predicate: org.apache.spark.sql.Column): DataFrame =
    // through the native relation since round 12 (round 16 for
    // partition-converted trees, whose dir-derived columns the graft
    // format now patches in-scan): the same PredAtom pruner runs at
    // ANALYSIS time inside GraftFileIndex.listFiles — partition-value
    // atoms included, so a partition predicate skips foreign partitions'
    // files — and the log-schema scan drops the per-query distributed
    // footer-inference job the old mergeSchema read paid on every probe
    readRelation().filter(predicate)

  /** The live files `readWhere(predicate)` would scan (exposed for tests
    * and observability). Combines two independent pruners: per-file
    * min/max/null stats, and — when the table is hash-bucketed and the
    * predicate pins EVERY bucket key with an equality — the bucket id
    * encoded in each file name (a point lookup on the PK of a bucketed
    * CDC table touches exactly one bucket's files). */
  private[graft] def prunedFiles(predicate: org.apache.spark.sql.Column): Seq[String] =
    pruneLive(snapshot(),
      org.apache.spark.sql.graftbridge.ColumnBridge.conjuncts(predicate))

  /** The skipping core over already-extracted conjunct atoms — shared by
    * the Column path above and [[GraftFileIndex]]'s analysis-time pruning
    * (which receives Catalyst expressions, not Columns). */
  private[tables] def pruneLive(snap: LogCheckpoint,
      conjuncts0: Seq[PredAtom]): Seq[String] = {
    // column mapping: stats are keyed by the PHYSICAL name the file was
    // written with (stable across renames — which is exactly why a rename
    // keeps data skipping selective with zero stats rewrites); predicates
    // arrive logical, so translate the atoms
    val renames: Map[String, String] = snap.schemaJson.map(sj =>
      ColumnMapping.nameMap(org.apache.spark.sql.types.DataType.fromJson(sj)
        .asInstanceOf[org.apache.spark.sql.types.StructType])).getOrElse(Map.empty)
    val conjuncts =
      if (renames.isEmpty) conjuncts0
      else conjuncts0.map {
        case PredCmp(op, c, v) => PredCmp(op, renames.getOrElse(c, c), v)
        case PredIn(c, vs)     => PredIn(renames.getOrElse(c, c), vs)
        case PredNull(c, n)    => PredNull(renames.getOrElse(c, c), n)
        case other             => other
      }
    val statsByFile = snap.stats
    val bucketFilter: String => Boolean = targetBucket(conjuncts0, snap.schemaJson) match {
      case Some(b) => f => bucketOf(f).forall(_ == b) // unbucketed files kept
      case None    => _ => true
    }
    snap.live.filter { f =>
      bucketFilter(f) && (statsByFile.get(f) match {
        case None     => true // no stats -> cannot prove anything -> keep
        case Some(st) => conjuncts.forall(c => StatsPruning.mayHold(c, st))
      })
    }
  }

  /** The single bucket the predicate can touch, when a bucket spec exists
    * and the conjuncts pin every bucket key with `=`. The literals are
    * cast to the TABLE's column types before hashing — `xxhash64` of an
    * int 5 and a long 5 differ, and the layout hashed column values. */
  private def targetBucket(conjuncts: Seq[PredAtom],
      schemaJsonOpt: Option[String]): Option[Int] = {
    val spec = bucketSpec.getOrElse(return None)
    val eq: Map[String, Any] = conjuncts.collect {
      case PredCmp("=", name, v) => name -> v
    }.toMap
    if (!spec.keys.forall(eq.contains)) return None
    val schemaJson = schemaJsonOpt.getOrElse(return None)
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    if (!spec.keys.forall(schema.fieldNames.contains)) return None
    // evaluate the same bucket expression the writer used
    // (pmod(xxhash64(keys), n)) DRIVER-SIDE on the literals: this runs at
    // query PLANNING time inside pruneLive, and the old spark.range(1)
    // job paid a full job-scheduling round trip per planned query
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, EvalMode, Literal => CLit, Pmod, XxHash64}
    val mode =
      if (spark.sessionState.conf.ansiEnabled) EvalMode.ANSI else EvalMode.LEGACY
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val keyExprs = spec.keys.map(k =>
      CCast(CLit(eq(k)), schema(k).dataType, tz, mode))
    val hash = new XxHash64(keyExprs) // seed 42, identical to functions.xxhash64
    val b = Pmod(hash, CLit(spec.numBuckets.toLong)).eval(null)
    Some(b.asInstanceOf[Long].toInt)
  }

  /** Data files added by dataChange commits in versions (`fromExclusive`,
    * current] — the incremental-consumption contract (compactions are
    * invisible, like Delta's dataChange=false). Names are table-relative,
    * like [[liveFiles]] and `Commit.add`. */
  def changesSince(fromExclusive: Long): Seq[String] =
    changesByVersion(fromExclusive).flatMap(_._2)

  /** Same changes grouped per commit version, for consumers that bound
    * batch sizes but must checkpoint on version boundaries. Names are
    * table-relative; [[readChangedFiles]] reads them. */
  def changesByVersion(fromExclusive: Long): Seq[(Long, Seq[String])] = {
    requireLogSince(fromExclusive, "incremental consumption")
    requireReadableLog()
    commitsInRange(fromExclusive, Long.MaxValue)
      .filter(_.dataChange)
      .map(c => c.version -> c.add)
  }

  // ---------------------------------------------------------------- write

  /** Columns eligible for file-level min/max stats. */
  private def isStatType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.StringType     => true
    case org.apache.spark.sql.types.DateType       => true
    case org.apache.spark.sql.types.TimestampType  => true
    case org.apache.spark.sql.types.BooleanType    => true
    case _                                          => false
  }

  // one warning per table instance when timestamp footer stats are unusable
  @volatile private var warnedTimestampFooterStats = false

  /** Per-file stats of `files` from their PARQUET FOOTERS — a driver-side
    * O(files) metadata read, never a distributed scan — keyed by `keyOf`.
    * Footer min/max/null-count/row-count are the writer's own aggregates;
    * numeric stat strings are compared VALUE-wise by
    * [[StatsPruning.statCmp]] (BigDecimal parse), so only StringType needs
    * byte-faithful encoding, and parquet binary stats order by unsigned
    * UTF-8 bytes. Timestamps are stored as epoch micros. Columns whose
    * footer carries no usable stats (INT96 timestamps, LEGACY-rebased
    * dates/timestamps, NaN-poisoned floats, oversized binary) are omitted,
    * and a footer that cannot be read is logged and records no stats at
    * all: either way the file is kept by every predicate, so data skipping
    * degrades to a scan, never to a wrong prune. */
  private def footerStats(files: Seq[org.apache.hadoop.fs.FileStatus],
      statFields: Seq[org.apache.spark.sql.types.StructField],
      keyOf: org.apache.hadoop.fs.FileStatus => String): Map[String, FileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rebaseModeInRead = spark.sessionState.conf
      .getConf(org.apache.spark.sql.internal.SQLConf.PARQUET_REBASE_MODE_IN_READ).toString
    val out = files.flatMap { st =>
      try FooterStats.forFile(st.getPath, conf, statFields, rebaseModeInRead).map(keyOf(st) -> _)
      catch {
        case scala.util.control.NonFatal(e) =>
          GraftTable.log.warn(
            s"footer stats failed for ${st.getPath} (${e.getMessage}); the " +
              "file records no stats, so data skipping never skips it")
          None
      }
    }.toMap
    // a session built OUTSIDE GraftSession writes INT96 timestamps
    // (Spark's default outputTimestampType), and a LEGACY datetime rebase
    // mode writes hybrid-calendar values; FooterStats must skip both, so
    // timestamp columns silently lose all file-skipping stats. Make the
    // regression VISIBLE once per table instead of quietly serving
    // unprunable scans forever.
    if (!warnedTimestampFooterStats && out.nonEmpty) {
      val lost = statFields.filter(f =>
        f.dataType == org.apache.spark.sql.types.TimestampType &&
          out.values.forall(fs => !fs.cols.contains(f.name)))
      if (lost.nonEmpty) {
        warnedTimestampFooterStats = true
        GraftTable.log.warn(
          s"timestamp column(s) ${lost.map(_.name).mkString(", ")} yielded no " +
            s"usable footer stats in $path (likely INT96 output — Spark's " +
            "default spark.sql.parquet.outputTimestampType — or hybrid-calendar " +
            "values from a Spark 2.x writer or a LEGACY " +
            "spark.sql.parquet.datetimeRebaseModeInWrite, which cannot bound " +
            "the logical ones); file skipping on these " +
            "columns is disabled for these files. Build the session " +
            "through GraftSession (TIMESTAMP_MICROS) and keep the rebase mode " +
            "off LEGACY to restore it")
      }
    }
    out
  }

  /** Per-file footer stats of the freshly staged batch, keyed by STAGED
    * file name QUALIFIED by its `graft_bucket=N/` dir when bucketed: one
    * write task serves several bucket dirs (shuffle partitions ≠ buckets),
    * so bare leaf names REPEAT across bucket dirs — a basename key would
    * collapse different files' stats into one entry (unsound data
    * skipping, and a wrong `rows` count could mis-fire the DV full-file
    * drop). `settings.collectFileStats` disables stats. */
  private def collectStats(stagingDir: String, df: DataFrame): Map[String, FileStats] = {
    if (!effectiveSettings.collectFileStats) return Map.empty
    val statFields = df.schema.fields.filter(f => isStatType(f.dataType)).toSeq
    footerStats(FsUtils.dataFiles(spark, stagingDir), statFields, { st =>
      val segs = st.getPath.toUri.getPath.split('/')
      val leaf = segs.last
      if (segs.length >= 2 && segs(segs.length - 2).startsWith("graft_bucket="))
        s"${segs(segs.length - 2)}/$leaf"
      else leaf
    })
  }

  /** Pre-staging protocol probe (Delta checks protocol at transaction
    * START): refuse a gated write BEFORE any parquet is staged, so a
    * table this binary may not write never pays a full batch write just
    * to learn the commit would refuse — at ingest rates that's a wasted
    * table-dir write per batch plus an orphan staging dir until vacuum.
    * `removesRows` = the operation, as scoped at its entry point, will
    * remove files or bind non-cleared deletion vectors with
    * dataChange=true — the exact predicate [[stampFeatures]] enforces.
    * The funnel check there stays the AUTHORITATIVE backstop: a
    * writer-feature commit can interleave between this probe and the
    * commit (TOCTOU), and the funnel re-reads the snapshot. Both halves
    * read the version-cached snapshot/properties, so the probe is free. */
  private[tables] def preWriteGate(action: String, removesRows: Boolean): Unit = {
    GraftProtocol.requireWritable(snapshot().writerFeatureSet, path,
      "the table's commit history/checkpoint (pre-staging probe)")
    requireMayRemoveRows(action, removesRows)
  }

  /** Stage `df` as parquet files inside the table dir; returns final file
    * names plus their collected stats. With a bucket spec (and the keys
    * present), rows are hash-routed and file names carry their bucket id. */
  private def stage(rawDf: DataFrame,
      replaceSchema: Boolean = false): (Seq[String], Map[String, FileStats]) = {
    // structural zero-bytes guarantee for the WRITER-FEATURE half: every
    // data-producing path funnels through here (or stageChangeRows), so a
    // feature-gated table refuses before its first staged byte even if an
    // entry point forgot its preWriteGate. The append-only half needs the
    // operation's remove scope and stays at the entry points.
    GraftProtocol.requireWritable(snapshot().writerFeatureSet, path,
      "the table's commit history/checkpoint (pre-staging probe)")
    // the single write chokepoint: EVERY path that produces table data
    // (append, overwrite, upsert, update, optimize, SQL DML, the
    // streaming sink) stages here, so CHECK constraints enforced at this
    // seam can never be bypassed
    val logical = withConstraintGuards(rawDf)
    // column mapping: files are written under PHYSICAL names. The rename
    // runs AFTER guards and bucket routing (both speak logical names) as
    // one projection; the commit-side union schema assigns the identical
    // deterministic physicals, so files and log always agree. A no-op
    // (empty map) for every table that never ran a rename/drop.
    // `replaceSchema` (overwrite): the commit RECORDS the incoming schema
    // verbatim — the table's whole content AND schema are replaced — so
    // staging must derive physical names from the INCOMING schema alone;
    // uniting with the stored mapping here would write files under the
    // OLD physical names while the commit declares the clean ones, and
    // every later read would silently serve the physical names (this is
    // also what lets overwrite(read()) shed column_mapping: read() serves
    // the logical view with mapping metadata stripped).
    val storedUnion =
      if (replaceSchema) logical.schema else unionSchemaStruct(logical.schema)
    val mappingActive = ColumnMapping.active(storedUnion)
    val mapping = ColumnMapping.nameMap(storedUnion)
      .filter { case (l, _) => logical.columns.contains(l) }
    require(!logical.columns.exists(_.startsWith("__dropped_")),
      "column names starting with '__dropped_' are reserved (column-mapping tombstones)")
    def toPhysical(df: DataFrame): DataFrame =
      if (!mappingActive) df
      else df.select(df.columns.map { c =>
        storedUnion.fields.find(sf => !ColumnMapping.isDropped(sf) && sf.name == c) match {
          case Some(sf) =>
            // typed rewrite: renames NESTED leaves too (the cast target is
            // derived from the batch's own shape, so positional semantics
            // are exact even for partial structs); a same-type cast is
            // eliminated by Catalyst
            val physDt = ColumnMapping.toPhysicalFor(sf.dataType, df.schema(c).dataType)
            val base = if (physDt == df.schema(c).dataType) col(c) else col(c).cast(physDt)
            base.as(ColumnMapping.physicalName(sf))
          case None => col(c) // engine-added columns (graft_bucket)
        }
      }.toSeq: _*)
    val df = logical
    val stagingId = UUID.randomUUID().toString
    val stagingDir = s"$path/_staging-$stagingId"
    val spec = bucketSpec.filter(_.keys.forall(df.columns.contains))
    // parquet-native bloom filters for the configured point-lookup
    // columns: written into the file footers, consumed automatically by
    // any parquet reader on equality predicates — the high-cardinality
    // complement to the min/max stats (which only prune ranges)
    def withBlooms(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
      effectiveSettings.bloomFilterColumns.filter(df.columns.contains)
        .foldLeft(w)((w, c) =>
          w.option(s"parquet.bloom.filter.enabled#${mapping.getOrElse(c, c)}", "true"))
    spec match {
      case Some(sp) =>
        require(!df.columns.contains("graft_bucket"), "column name 'graft_bucket' is reserved")
        withBlooms(toPhysical(df.withColumn("graft_bucket", bucketExpr(sp)))
          .repartition(col("graft_bucket"))
          .write.mode("overwrite")).partitionBy("graft_bucket").parquet(stagingDir)
      case None =>
        withBlooms(toPhysical(df).write.mode("overwrite")).parquet(stagingDir)
    }
    val statsByStaged = collectStats(stagingDir, toPhysical(df))
    val moved = moveStaged(stagingDir) { st =>
      val p = st.getPath
      val bucketPrefix = spec.flatMap { _ =>
        "graft_bucket=(\\d+)".r.findFirstMatchIn(p.getParent.getName).map(m => s"b${m.group(1)}-")
      }.getOrElse("")
      val name = s"${bucketPrefix}part-$stagingId-${p.getName.stripPrefix("part-")}"
      // invariant [[GraftProtocol.featuresOf]] leans on: staged writes
      // publish FLAT basenames (bucketed files become `bN-` prefixes, not
      // nested dirs), so "/" in a committed add name is EXCLUSIVELY the
      // converted-tree shape and the structural partition_convert stamp
      // stays exact. If a future layout ever nests staged names, widen the
      // stamp derivation before relaxing this.
      assert(!name.contains("/"),
        s"staged add name '$name' must be flat (GraftProtocol.featuresOf " +
          "derives partition_convert structurally from '/')")
      name
    }
    (moved.map(_._2), moved.flatMap { case (st, name) =>
      val p = st.getPath
      // stats are keyed bucket-dir-qualified (leaf names repeat across
      // graft_bucket=N/ dirs — see collectStats)
      val stagedKey =
        if (p.getParent.getName.startsWith("graft_bucket="))
          s"${p.getParent.getName}/${p.getName}"
        else p.getName
      // the staging listing already holds the length — record it for free
      statsByStaged.get(stagedKey).map(s => name -> s.copy(bytes = Some(st.getLen)))
    }.toMap)
  }

  /** Move every file written under `stagingDir` into the table under
    * `nameOf(file)` (table-relative), then delete the staging dir — the
    * publish step of [[stage]] and [[stageChangeRows]]. Returns each staged
    * file's listing with its table name. */
  private def moveStaged(stagingDir: String)(
      nameOf: org.apache.hadoop.fs.FileStatus => String)
      : Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
    val moved = FsUtils.dataFiles(spark, stagingDir).map { st =>
      val name = nameOf(st)
      if (!fs.rename(st.getPath, new Path(path, name)))
        throw new IllegalStateException(s"failed to move staged file ${st.getPath} into $path")
      st -> name
    }
    fs.delete(new Path(stagingDir), true)
    moved
  }

  // ------------------------------------------------------ change data feed

  private val changesDir = "_graft_changes"

  /** Write a change-row frame (table columns + `_change_type`) as parquet
    * under `_graft_changes/` and return the file names (table-relative).
    * Files are uniquely named, so a commit that later loses its version
    * race just orphans them — readers only follow names recorded in a
    * published [[Commit]]. */
  private[tables] def stageChangeRows(df: DataFrame): Seq[String] = {
    // same structural pre-probe as stage(): CDF change rows are staged
    // BEFORE the data rewrite on several paths, so they need their own
    GraftProtocol.requireWritable(snapshot().writerFeatureSet, path,
      "the table's commit history/checkpoint (pre-staging probe)")
    val stagingId = UUID.randomUUID().toString
    val stagingDir = s"$path/$changesDir/.stage-$stagingId"
    df.write.mode("overwrite").parquet(stagingDir)
    moveStaged(stagingDir)(st =>
      s"$changesDir/change-$stagingId-${st.getPath.getName.stripPrefix("part-")}").map(_._2)
  }

  private[tables] def tagged(df: DataFrame, changeType: String): DataFrame =
    df.withColumn("_change_type", lit(changeType))

  /** A rewrite source with more than one consumer when the change feed is
    * on (the new files AND the change rows): materialized once, barrier
    * per `settings.barrierMode`. Without the change feed it streams. */
  private[tables] def cdfShared(df: DataFrame): DataFrame =
    if (effectiveSettings.changeDataFeed)
      graft.ext.Parallelism.materialize(df)(effectiveSettings)
    else df

  /** Row-level changes between versions `(fromExclusive, toInclusive]` as
    * table columns + `_change_type` (insert / update_preimage /
    * update_postimage / delete) + `_commit_version` — Delta CDF semantics,
    * the contract downstream incremental consumers replay instead of
    * diffing 100 TB snapshots.
    *
    * Appends, overwrites and restores synthesize their changes from the
    * commit log (added files ARE the inserts, removed files the deletes —
    * nothing is written twice). Rewrite commits (upsert/delete/update)
    * need recorded change files: reading a range containing one written
    * without `settings.changeDataFeed` fails loudly rather than invent
    * delete+insert pairs for rows the rewrite merely copied. Compaction
    * (`dataChange=false`) is invisible here, as incremental consumers
    * require. */
  def readChanges(fromExclusive: Long, toInclusive: Long = Long.MaxValue): DataFrame = {
    requireLogSince(fromExclusive, "the change feed")
    requireReadableLog()
    val inRange = commitsInRange(fromExclusive, toInclusive).filter(_.dataChange)
    val frames = inRange.flatMap { c =>
      // change FILES are written from logical frames (no mapping), so
      // they read under the commit's LOGICAL schema plus `_change_type`
      // with no footer opened; DATA files read under the COMMIT's schema,
      // so synthesis sees the mapping true at that version
      def readChangeFiles(names: Seq[String]): Option[DataFrame] =
        if (names.isEmpty) None
        else {
          val st = org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val logical = ColumnMapping.cleanMetadata(ColumnMapping.logicalSchema(st))
            .add("_change_type", org.apache.spark.sql.types.StringType)
          Some(spark.read.schema(logical).parquet(names.map(n => s"$path/$n"): _*))
        }
      // schemaJson BY-NAME: the pre-state snapshot behind the removes'
      // binding is only computed when a commit actually removed files
      def readFiles(names: Seq[String], dvOf: String => Option[String],
          schemaJson: => String): Option[DataFrame] =
        if (names.isEmpty) None
        else {
          val df = readDataFiles(names, schemaJson)
          val dvMap = names.flatMap(f => dvOf(f).map(f -> _)).toMap
          Some(DeletionVectors.filterDeleted(df, spark, loadDvs(dvMap, names), qualifiedRootUris))
        }
      // the PRE-commit state: the binding the commit's REMOVED files were
      // last live under — both their DV bitmaps and their SCHEMA. Reading
      // removes under the commit's NEW schema would break when a commit
      // changes schema and removes files in one step (replaceSchema
      // overwrite shedding column mapping: the removed files' parquet
      // columns carry the OLD physical names, and a new-schema read would
      // serve the delete rows with the logical column NULL plus a phantom
      // physical column). Its DVs keep rows already dead from dying again.
      lazy val preSnap: LogCheckpoint = snapshot(c.version - 1)
      val cDvs = c.dvs.getOrElse(Map.empty)
      val changed: Seq[DataFrame] = c.changes match {
        case Some(files) => readChangeFiles(files).toSeq
        case None => c.action match {
          case "upsert" | "delete" | "update" | "merge" =>
            throw new IllegalStateException(
              s"version ${c.version} (${c.action}) has no recorded change data — " +
                s"enable settings.changeDataFeed before running DML, or read snapshots")
          case _ =>
            // append/overwrite/restore: the file-level log IS the change
            // set. Added files read under THIS commit's binding (a restore
            // can re-add a file together with its historical DV); removed
            // files under the PRE-state binding (rows already dead don't
            // die twice).
            val moved =
              readFiles(c.add, f => cDvs.get(f).filter(_ != DeletionVectors.Cleared),
                c.schemaJson)
                .map(tagged(_, "insert")).toSeq ++
                readFiles(c.remove, preSnap.dvFor.get(_), schemaOf(preSnap))
                  .map(tagged(_, "delete")).toSeq
            // re-binds on files that stay live (restore only): the bitmap
            // DELTA is the change — resurrected positions are inserts,
            // newly-dead ones deletes
            val stayLive = cDvs.keys.toSeq
              .filterNot(c.add.contains).filterNot(c.remove.contains)
            val rebindChanges = stayLive.flatMap { f =>
              val before = preSnap.dvFor.get(f)
                .map(dv => DeletionVectors.read(fs, path, dv)).getOrElse(Array.empty[Long])
              val after = Some(cDvs(f)).filter(_ != DeletionVectors.Cleared)
                .map(dv => DeletionVectors.read(fs, path, dv)).getOrElse(Array.empty[Long])
              val afterSet = after.toSet
              val beforeSet = before.toSet
              val resurrected = before.filterNot(afterSet)
              val killed = after.filterNot(beforeSet)
              Seq(
                Some(resurrected).filter(_.nonEmpty)
                  .map(ps => tagged(rowsAt(f, ps, c.schemaJson), "insert")),
                Some(killed).filter(_.nonEmpty)
                  .map(ps => tagged(rowsAt(f, ps, c.schemaJson), "delete"))).flatten
            }
            moved ++ rebindChanges
        }
      }
      changed.map(_.withColumn("_commit_version", lit(c.version)))
    }
    frames match {
      case Seq() =>
        tagged(read().limit(0), "").withColumn("_commit_version", lit(0L))
      case fr => fr.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Column-path type conflicts between the table's current schema and an
    * incoming append. Additive evolution (new columns at any nesting
    * level, missing columns) is NOT a conflict — that's the mergeSchema
    * contract the reference relies on (`avro_handler.py:87`). A same-name
    * column whose type differs IS: parquet mergeSchema cannot reconcile
    * it, so the append would succeed and every later read() would throw
    * "failed to merge incompatible data types" — at 100 TB that is one
    * poisoned batch making the whole table unreadable until someone
    * hand-archaeologies which file did it. Nullability differences are
    * ignored (parquet merges them). */
  private def schemaConflicts(
      cur: org.apache.spark.sql.types.DataType,
      in: org.apache.spark.sql.types.DataType,
      at: String): Seq[String] = {
    import org.apache.spark.sql.types._
    (cur, in) match {
      case (a: StructType, b: StructType) =>
        val byName = a.fields.map(f => f.name -> f.dataType).toMap
        b.fields.toSeq.flatMap(f =>
          byName.get(f.name).toSeq.flatMap(t =>
            schemaConflicts(t, f.dataType, s"$at${f.name}.")))
      case (a: ArrayType, b: ArrayType) =>
        schemaConflicts(a.elementType, b.elementType, s"${at}element.")
      case (a: MapType, b: MapType) =>
        schemaConflicts(a.keyType, b.keyType, s"${at}key.") ++
          schemaConflicts(a.valueType, b.valueType, s"${at}value.")
      case (a, b) if a == b => Seq.empty
      case (a, b) =>
        Seq(s"${at.stripSuffix(".")}: table has ${a.simpleString}, append has ${b.simpleString}")
    }
  }

  /** The table's current schema widened by `in` — new fields append (as
    * NULLABLE: old files lack them), shared struct fields recurse, and a
    * field missing from the INCOMING side also turns nullable (the new
    * files lack it). Matches what parquet mergeSchema infers at read
    * time, recorded in the log instead of re-derived from footers. Type
    * equality is already guaranteed by [[requireCompatibleSchema]]. */
  private def unionSchemaJson(in: org.apache.spark.sql.types.StructType): String =
    unionSchemaStruct(in).json

  private def unionSchemaStruct(
      in: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
    def mergeType(a: DataType, b: DataType): DataType = (a, b) match {
      case (x: StructType, y: StructType) => mergeStruct(x, y)
      case (x: ArrayType, y: ArrayType) =>
        ArrayType(mergeType(x.elementType, y.elementType),
          x.containsNull || y.containsNull)
      case (x: MapType, y: MapType) =>
        MapType(mergeType(x.keyType, y.keyType),
          mergeType(x.valueType, y.valueType),
          x.valueContainsNull || y.valueContainsNull)
      case (x, _) => x
    }
    def mergeStruct(cur: StructType, inc: StructType): StructType = {
      val incByName = inc.fields.map(f => f.name -> f).toMap
      val curNames = cur.fieldNames.toSet
      val merged = cur.fields.map { f =>
        incByName.get(f.name) match {
          case Some(g) => StructField(f.name, mergeType(f.dataType, g.dataType),
            f.nullable || g.nullable, f.metadata)
          case None => f.copy(nullable = true) // new files lack it
        }
      }
      // a NEW column whose name is still CLAIMED as some field's physical
      // name (dropped or renamed-away) must write under a FRESH physical
      // name, or old files' bytes would resurrect under the new column.
      // The fresh name is DETERMINISTIC (first free `name__mK`), so the
      // stage-time rename and the commit-time schema agree without
      // coordination, across retries too.
      val claimed = ColumnMapping.claimedPhysicals(cur)
      val added = inc.fields.filterNot(f => curNames.contains(f.name))
        .map(_.copy(nullable = true)) // old files lack it
        .map { f =>
          if (!claimed.contains(f.name)) f
          else ColumnMapping.withPhysical(f,
            Iterator.from(1).map(k => s"${f.name}__m$k")
              .find(!claimed.contains(_)).get)
        }
      StructType(merged ++ added)
    }
    snapshot().schemaJson match {
      case None => in
      case Some(sj) =>
        mergeStruct(org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[StructType], in)
    }
  }

  private def requireCompatibleSchema(snap: LogCheckpoint, df: DataFrame): Unit = {
    val sj = snap.schemaJson.getOrElse(return)
    val cur = org.apache.spark.sql.types.DataType.fromJson(sj)
    val conflicts = schemaConflicts(cur, df.schema, "")
    if (conflicts.nonEmpty)
      throw new IllegalStateException(
        s"append schema incompatible with table $path — " +
          s"rejected at WRITE time (a merged write would poison every later read): " +
          conflicts.mkString("; "))
  }

  /** Appends COMMUTE: the staged files are already in place under unique
    * names and the append reads no file, so it goes through
    * [[commitRewrite]] with no read set and `mayOverlap = _ => false` —
    * every interleaved writer is disjoint, and a lost version race just
    * retries at the next free version. */
  def append(df: DataFrame,
      extraMetrics: Map[String, String] = Map.empty): Commit = {
    val snap = snapshot()
    requireCompatibleSchema(snap, df)
    val (add, stats) = stage(df)
    commitRewrite("append", snap.version, add, Seq.empty,
      mayOverlap = _ => false,
      // the recorded schema is the EVOLVED UNION (current ∪ batch), not the
      // batch's — additive evolution must widen the log schema, never
      // narrow it (log-schema readers — readRelation, readAt's empty
      // path — would otherwise lose columns a narrow batch lacked).
      // Evaluated per attempt: a lost race may have widened it.
      schemaJson = () => unionSchemaJson(df.schema),
      Map("numOutputFiles" -> add.size.toString) ++ extraMetrics, stats)
  }

  /** Append range-CLUSTERED on `clusterCols`: rows are range-partitioned
    * and sorted within partitions, so each output file covers a tight,
    * mostly-disjoint range of the cluster columns — which is what makes
    * `readWhere` data skipping selective (random layout gives every file
    * the full min/max span and prunes nothing). The same idea as
    * Delta/Iceberg cluster-by or Z-ordering's single-column case; at
    * 100 TB, clustering on the dominant filter column (event time, ingest
    * date) turns point/range queries into single-file reads. */
  def appendClustered(df: DataFrame, clusterCols: Seq[String],
      numFiles: Int = 0): Commit = {
    require(clusterCols.nonEmpty, "appendClustered needs cluster columns")
    val n = if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val clustered = df
      .repartitionByRange(n, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    append(clustered)
  }

  /** Z-ORDERED append for multi-dimensional skipping: single-column range
    * clustering ([[appendClustered]]) makes one column's ranges tight and
    * leaves every other column's span full-width per file; interleaving
    * the bit-planes of each column's quantile-bucket rank into one
    * Z-value keeps EVERY cluster column's per-file range narrow, so
    * predicates on any of them prune.
    *
    * Scale shape: per-column bucket boundaries come from one distributed
    * `approxQuantile` pass (no global sort — the ntile alternative would
    * funnel the table through one reducer); the Z-value is a pure
    * projection; the write is a range partition on it. Numeric cluster
    * columns only. */
  def appendZOrdered(df: DataFrame, clusterCols: Seq[String],
      bitsPerCol: Int = 8, numFiles: Int = 0): Commit = {
    require(clusterCols.nonEmpty, "appendZOrdered needs cluster columns")
    require(bitsPerCol >= 1 && bitsPerCol * clusterCols.size <= 62,
      s"bitsPerCol=$bitsPerCol x ${clusterCols.size} cols exceeds a long")
    val nBuckets = 1 << bitsPerCol
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bucketCols = clusterCols.map { c =>
      val cuts = df.stat.approxQuantile(c, probs, 0.001)
      // rank bucket in [0, nBuckets): count of boundaries <= value
      cuts.distinct.foldLeft(lit(0)) { (acc, cut) =>
        acc + when(col(c) > lit(cut), 1).otherwise(0)
      }
    }
    // interleave bit-planes: bit b of column i lands at position b*k + i
    val k = clusterCols.size
    val zValue = (0 until bitsPerCol).flatMap { b =>
      bucketCols.zipWithIndex.map { case (bc, i) =>
        (shiftright(bc, b).cast("long").bitwiseAND(1L)) * lit(1L << (b * k + i))
      }
    }.reduce(_ + _)
    val n = if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val clustered = df.withColumn("__z", zValue)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    append(clustered)
  }

  def overwrite(df: DataFrame): Commit = {
    // pin ONE snapshot for both the remove list and the base version, and
    // commit through the conflict-checked path: an append interleaving
    // with the (potentially long) stage() would otherwise survive the
    // overwrite — its rows left live beside the new contents, a silent
    // lost-update the remove list computed at entry can't cover. An
    // overwrite's scope is EVERY row, so any interleaved data commit is a
    // real conflict (Delta classifies the same way).
    val snap = snapshot()
    val old = snap.live
    // an overwrite of a non-empty table removes every current row; an
    // overwrite-as-create (no live files) stays allowed on append-only,
    // matching the commit funnel's remove-scope predicate exactly
    preWriteGate("overwrite", removesRows = old.nonEmpty)
    val (add, stats) = stage(df, replaceSchema = true)
    commitRewrite("overwrite", snap.version, add, old,
      mayOverlap = _ => true,
      schemaJson = () => df.schema.json,
      Map("numOutputFiles" -> add.size.toString, "numRemovedFiles" -> old.size.toString),
      stats)
  }

  /** CDC upsert reproducing the reference's Delta MERGE
    * (`jibaro/datalake/cdc.py:203-217`):
    *  - matched  + op != deleteOp -> update all columns
    *  - unmatched + op != deleteOp -> insert all columns
    *  - matched  + op == deleteOp -> delete
    *
    * `updates` must hold at most one row per key (callers dedup with
    * `Dedup.latestPerKey` first, as the reference does at cdc.py:132-142)
    * and must be DETERMINISTIC: the batch is evaluated more than once
    * (key/bucket/range probe, anti-join, CDF joins), so a sampling filter
    * or unordered LIMIT could present different keys to the probe and the
    * join, defeating the file bound. CDC batches (file- or bus-backed
    * micro-batches) satisfy this by construction; ad-hoc nondeterministic
    * sources belong to SQL MERGE, which materializes its source first.
    *
    * Implementation: keep current rows whose key has no update (left_anti),
    * union the non-delete update images. Schema evolution: new update
    * columns join the schema, old rows carry nulls (mergeSchema-on-read).
    * The anti-join broadcasts the update KEYS when small — the usual CDC
    * case — so the existing table is never shuffled; at 100 TB pair this
    * with key-bucketed layout so only buckets containing updated keys are
    * rewritten — and concurrent upserts to DISJOINT buckets both land
    * without manual retry ([[commitRewrite]]'s conflict classes).
    */
  /** The distinct update-key set for the anti-join, broadcast-hinted only
    * when the update batch's optimizer size estimate fits
    * `effectiveSettings.upsertBroadcastThresholdBytes` (TBLPROPERTIES
    * honored) — a forced broadcast of a
    * bulk backfill batch (millions of keys) would OOM the driver; above
    * the threshold Spark/AQE picks the join strategy. */
  private[tables] def updateKeysPlan(updates: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = updates.select(keyCols.map(col): _*).distinct()
    val estBytes = updates.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes <= BigInt(effectiveSettings.upsertBroadcastThresholdBytes)) broadcast(keys) else keys
  }

  def upsert(updates: DataFrame, keyCols: Seq[String], opCol: String,
      deleteOp: String = "d", keepOpColumn: Boolean = false): Commit = {
    require(keyCols.nonEmpty, "upsert requires key columns")
    def project(df: DataFrame): DataFrame =
      if (keepOpColumn) df else df.drop(opCol)
    if (!exists) {
      return overwrite(project(updates.filter(col(opCol) =!= deleteOp)))
    }
    val snap0 = snapshot() // ONE pinned snapshot: file sets AND base version
    val updateKeys = updateKeysPlan(updates, keyCols)
    val upserted = project(updates.filter(col(opCol) =!= deleteOp))

    // bucket pruning: with a matching bucket spec only the buckets holding
    // updated keys are read and rewritten — O(batch), not O(table)
    val (oldFiles, mayOverlap) =
      bucketSpec.filter(_.keys == keyCols) match {
        case Some(sp) =>
          // one stage, no shuffle: each task ships its own distinct ids
          // (at most numBuckets of them) and the driver unions them
          import spark.implicits._
          val buckets = updates.select(bucketExpr(sp)).as[Int]
            .mapPartitions(_.toSet.iterator).collect().toSet
          // files with no bucket in their name (legacy flat writes) are
          // always treated as affected
          val affected = snap0.live.filter(f => bucketOf(f).forall(buckets.contains))
          // the conflict scope is the key buckets: an interleaved commit
          // adding files only in OTHER buckets cannot hold our keys (the
          // writer hashed them the same way) — disjoint, safe to retry
          (affected, (c: Commit) => c.add.exists(f => bucketOf(f).forall(buckets.contains)))
        case _ =>
          // unbucketed table: the SAME key-range scope as the SQL MERGE
          // (sound: a file whose key range is disjoint from the batch's
          // can lose no row to the anti-join). Key-clustered tables get
          // the bucketed path's O(batch) shape; uniform keys degrade to
          // the whole-table rewrite.
          val (affected, atoms) = keyRangeScope(snap0, updates, keyCols.map(k => k -> col(k)))
          (affected, mayMatchPredicate(atoms) _)
      }
    // a keyed upsert rewrites (= removes) every affected file; a batch
    // whose keys touch no stored file is a pure insert and stays allowed
    // on append-only — the funnel's exact remove-scope, probed pre-stage
    preWriteGate("upsert", removesRows = oldFiles.nonEmpty)
    // CDF: the affected-file rows and the update batch each feed the
    // merge AND the change-row joins
    val current =
      if (oldFiles.isEmpty) None else Some(cdfShared(liveRows(snap0, oldFiles)))
    val ups = cdfShared(upserted)
    val merged = current match {
      case Some(df) =>
        df.join(updateKeys, keyCols, "left_anti")
          .unionByName(ups, allowMissingColumns = true)
      case None => ups
    }
    val changeFiles: Option[Seq[String]] =
      if (!effectiveSettings.changeDataFeed) None
      else Some(stageChangeRows(current match {
        case Some(df) =>
          val delKeys = updates.filter(col(opCol) === deleteOp)
            .select(keyCols.map(col): _*).distinct()
          val upsKeys = ups.select(keyCols.map(col): _*).distinct()
          val existing = df.select(keyCols.map(col): _*).distinct()
          tagged(df.join(delKeys, keyCols, "leftsemi"), "delete")
            .unionByName(tagged(df.join(upsKeys, keyCols, "leftsemi"), "update_preimage"),
              allowMissingColumns = true)
            .unionByName(tagged(ups.join(existing, keyCols, "leftsemi"), "update_postimage"),
              allowMissingColumns = true)
            .unionByName(tagged(ups.join(existing, keyCols, "leftanti"), "insert"),
              allowMissingColumns = true)
        case None => tagged(ups, "insert")
      }))
    // the batch may bring new columns: the commit records the union
    replaceWith("upsert", snap0.version, oldFiles, merged, Map.empty, mayOverlap,
      changes = changeFiles, evolveSchema = true)
  }

  /** The live files of `snap` a keyed batch can match, and the atoms that
    * scope its conflicts — shared by [[upsert]] and SQL MERGE. ONE tiny
    * aggregate bounds each key (`name -> batch expression`) to the batch's
    * [min, max]; a file whose stats are disjoint from a range holds no
    * matching row. A key whose batch values are all NULL matches no stored
    * row (NULL equals nothing) and contributes no range; when EVERY key is
    * all-NULL no file is touched (only inserts can apply) and the conflict
    * scope degrades to [[PredOpaque]]. */
  private[tables] def keyRangeScope(snap: LogCheckpoint, batch: DataFrame,
      keys: Seq[(String, org.apache.spark.sql.Column)]): (Seq[String], Seq[PredAtom]) = {
    val aggs = keys.zipWithIndex.flatMap { case ((_, c), i) =>
      Seq(min(c).as(s"__mn$i"), max(c).as(s"__mx$i"))
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).head()
    val atoms = keys.zipWithIndex.flatMap { case ((k, _), i) =>
      (row.get(2 * i), row.get(2 * i + 1)) match {
        case (mn, mx) if mn != null && mx != null =>
          Seq(PredCmp(">=", k, mn), PredCmp("<=", k, mx))
        case _ => Seq.empty
      }
    }
    if (atoms.isEmpty) (Seq.empty, Seq(PredOpaque)) else (pruneLive(snap, atoms), atoms)
  }

  /** Roll the LIVE SET back to `asOf` as a NEW commit (Delta's RESTORE):
    * history is never rewritten — the restore is itself a versioned,
    * incremental-consumer-visible change, and the files it revives were
    * still on disk (vacuum permitting). */
  def restore(asOf: Long): Commit = {
    val snap = snapshot(asOf)
    require(snap.version > 0, s"no commit at or before version $asOf")
    val target = snap.live
    // ONE pinned now-snapshot for the current live set, the current DV
    // bindings AND the commit base version — and the commit goes through
    // the conflict-checked path: a restore's scope is the whole state, so
    // a data commit interleaving between this read and the publish is a
    // real conflict (it would survive the "roll back"), never a silent
    // lost-update
    val nowSnap = snapshot()
    val current = nowSnap.live
    val schemaJson = snap.schemaJson.get
    target.filterNot(f => fs.exists(new Path(path, f))) match {
      case missing if missing.nonEmpty =>
        throw new IllegalStateException(
          s"cannot restore to $asOf: files vacuumed: ${missing.take(3).mkString(", ")}")
      case _ => ()
    }
    // deletion vectors are part of the restored state: re-bind every
    // target-live file whose binding DIFFERS from now (the Cleared
    // sentinel resurrects rows deleted after asOf). Sidecars are
    // immutable and vacuum-accounted, so the same existence check
    // applies.
    val curDvs = nowSnap.dvFor
    val dvEntries = target.flatMap { f =>
      val want = snap.dvFor.get(f)
      if (want == curDvs.get(f)) None
      else Some(f -> want.getOrElse(DeletionVectors.Cleared))
    }.toMap
    dvEntries.values.filter(_ != DeletionVectors.Cleared)
      .filterNot(dv => fs.exists(new Path(path, dv))) match {
      case missing if missing.nonEmpty =>
        throw new IllegalStateException(
          s"cannot restore to $asOf: deletion vector(s) vacuumed: " +
            missing.take(3).mkString(", "))
      case _ => ()
    }
    // Set membership, not Seq.contains — at ~1M live files the nested
    // contains scan is ~10^12 comparisons of driver time
    val targetSet = target.toSet
    val currentSet = current.toSet
    commitRewrite("restore", nowSnap.version,
      add = target.filterNot(currentSet),
      remove = current.filterNot(targetSet),
      mayOverlap = _ => true,
      schemaJson = () => schemaJson,
      Map("restoredVersion" -> asOf.toString),
      stats = Map.empty,
      dvs = dvEntries,
      readAlso = currentSet ++ targetSet)
  }

  /** Adopt the parquet files ALREADY in `path` as the table's first
    * commit — Delta's `CONVERT TO DELTA`, the in-place migration path.
    * At 100 TB this is the difference between a metadata-only adoption
    * (one listing plus one footer read per file, zero rewrites, files stay
    * byte-identical where they are) and rewriting the corpus through
    * `append`.
    *
    * Layouts: flat directories adopt as before; a HIVE-PARTITIONED tree
    * (every nesting level `k=v` — real lakes are full of them) adopts
    * in place too: files are recorded by their RELATIVE path, the
    * partition columns join the schema (Spark's partition inference
    * supplies their types), and each file's dir-derived partition VALUE
    * becomes a min=max stats atom — so `readWhere(partCol === x)` prunes
    * to that partition's files through the ordinary skipping machinery,
    * no partition-specific pruning code. Reads synthesize the partition
    * columns from the file path ([[readDataFiles]]); later DML rewrites
    * stage flat files that carry the columns as DATA, and the two
    * layouts coexist (path value only fills where the file lacks the
    * column). Non-`k=v` nesting is refused loudly.
    *
    * Stats (min/max/nulls/rows + byte sizes) come from each listed
    * file's parquet footer, the same source a write uses, with no data
    * scan, so data skipping works immediately. A foreign writer's INT96
    * timestamp columns and LEGACY-rebased date/timestamp columns (files
    * Spark reads through the hybrid calendar: Spark 2.x output, a LEGACY
    * write mode, or no Spark version under a LEGACY read mode) get no
    * stats: predicates on them scan instead of skip, never wrongly. Pass
    * `collectStats=false` to adopt metadata-only in O(listing) —
    * partition-value atoms are still recorded (they come from the
    * listing, not a footer). */
  def convert(collectStats: Boolean = true): Commit = {
    require(version == 0, s"$path is already a graft table (at v$version)")
    val listedRel = dataFilesOnDisk()
    val listed = listedRel.map(_._1)
    require(listed.nonEmpty, s"nothing to convert: no data files under $path")
    require(listed.forall(_.getPath.getName.endsWith(".parquet")),
      s"cannot convert $path: non-parquet data files present")
    val rels = listedRel.map(_._2)
    // nesting must be hive-style: every dir level `k=v`, and one
    // consistent key sequence across the whole tree (Spark's own
    // partition-discovery invariant)
    val partsOf: Map[String, Seq[(String, String)]] = rels.map { r =>
      val segs = r.split('/').dropRight(1).toSeq
      val kvs = segs.map { s =>
        val i = s.indexOf('=')
        require(i > 0,
          s"cannot convert $path: subdirectory '$s' (under '$r') is not " +
            "hive-style k=v partitioning — flatten the tree or append it instead")
        (s.take(i), s.drop(i + 1))
      }
      r -> kvs
    }.toMap
    val keySeqs = partsOf.values.map(_.map(_._1)).toSet
    require(keySeqs.size <= 1,
      s"cannot convert $path: inconsistent partition levels across the tree " +
        s"(${keySeqs.take(3).map(_.mkString("/")).mkString(" vs ")})")
    val partKeys: Seq[String] = keySeqs.headOption.getOrElse(Seq.empty)
    // spark.read.parquet(path) runs partition discovery, so the schema
    // carries the partition columns WITH their inferred types
    val df = spark.read.parquet(path)
    partKeys.foreach(k => require(df.columns.contains(k),
      s"internal: partition column '$k' missing from inferred schema"))
    val partTypes: Map[String, org.apache.spark.sql.types.DataType] =
      partKeys.map(k => k -> df.schema(k).dataType).toMap
    val sizes = listedRel.map { case (st, r) => r -> st.getLen }.toMap
    // dir-derived partition values as per-file stats: min = max = value,
    // nulls = 0 (a dir value holds for EVERY row of the file). Stored in
    // the stats writer's string conventions so StatsPruning compares them
    // in the right domain. The hive null sentinel contributes no entry —
    // a missing column keeps the file, which is the sound degrade.
    def partStats(r: String): Map[String, ColStats] =
      partsOf(r).flatMap { case (k, raw) =>
        val v = GraftTable.hiveUnescape(raw)
        partTypes(k) match {
          case _ if v == "__HIVE_DEFAULT_PARTITION__" => None
          // timestamp dir values carry zone/format subtleties the string
          // stats domain can't encode faithfully — omit the atom rather
          // than risk an unsound prune (missing column = file kept)
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => None
          case _ => // numerics/strings/dates compare in cast-to-string form
            Some(k -> ColStats(Some(v), Some(v), 0L))
        }
      }.toMap
    // data-column stats from the listed files' footers, keyed by relative
    // path (partition dirs can repeat base names); partition columns are
    // left out — their per-file constants come from the dir names
    val dataStats =
      if (collectStats && effectiveSettings.collectFileStats)
        footerStats(listed, df.schema.fields.filter(f =>
          isStatType(f.dataType) && !partKeys.contains(f.name)).toSeq, listedRel.toMap)
      else Map.empty[String, FileStats]
    val stats = rels.flatMap { r =>
      val ps = partStats(r)
      dataStats.get(r) match {
        case Some(st) => Some(r -> st.copy(cols = st.cols ++ ps, bytes = sizes.get(r)))
        // NO STATISTICS on a partitioned tree still records the dir-derived
        // atoms (they cost nothing — no scan). rows=1 is a PLACEHOLDER, not
        // a count: it keeps the null-count algebra sound (every partition
        // atom has nulls=0 < rows; no atom can reach nulls==rows, so the
        // all-null prune can't fire) but must never feed a row-count
        // decision — the DV full-file shortcut (tryDvDelete) asserts it
        // only ever sees flat files, whose stats are real. Flat no-stats
        // files record nothing, as before.
        case None if ps.nonEmpty => Some(r -> FileStats(1L, ps, bytes = sizes.get(r)))
        case None => None
      }
    }.toMap
    // the file set was listed against an empty log: any interleaved data
    // commit (a racing convert adopting the same files) is a conflict
    commitRewrite("convert", 0L, rels, Seq.empty,
      mayOverlap = _ => true,
      schemaJson = () => unionSchemaJson(df.schema),
      Map("numConvertedFiles" -> listed.size.toString,
        "numConvertedBytes" -> sizes.values.sum.toString,
        "partitionColumns" -> partKeys.mkString(",")), stats)
  }

  /** DELETE WHERE: remove matching rows by rewriting ONLY the files that
    * can contain them — the stats/bucket pruner picks the affected files,
    * so a delete keyed on a clustered or bucketed column is O(matching
    * files), not O(table). Untouched files stay byte-identical (no
    * recompression, no metrics churn). Returns None when the predicate
    * provably matches nothing. */
  def delete(predicate: org.apache.spark.sql.Column): Option[Commit] =
    deleteOrUpdate(predicate,
      org.apache.spark.sql.graftbridge.ColumnBridge.conjuncts(predicate), None)

  /** The DELETE / UPDATE core behind [[delete]] (no `assignments`) and
    * [[update]], with pre-extracted skipping atoms — the SQL DML path
    * extracts them from the ANALYZED Catalyst condition
    * ([[ExpressionAtoms]]) instead of the ColumnNode tree. Only the files
    * the atoms cannot rule out are touched: DV-marked when deletion
    * vectors are on and the marks fit their cap ([[dvMark]]), otherwise
    * rewritten through [[replaceWith]]. Rows where the predicate is NULL
    * are neither deleted nor updated (SQL semantics). */
  private[tables] def deleteOrUpdate(predicate: org.apache.spark.sql.Column,
      atoms: Seq[PredAtom],
      assignments: Option[Map[String, org.apache.spark.sql.Column]]): Option[Commit] = {
    assignments.foreach(as => require(as.nonEmpty, "update requires assignments"))
    val action = if (assignments.isEmpty) "delete" else "update"
    val snap = snapshot() // pinned: file set AND conflict base version
    val affected = pruneLive(snap, atoms)
    if (affected.isEmpty) return None
    // probed before the DV scan OR the rewrite stages anything: either
    // shape removes rows (file drops or DV binds) when it commits at all
    preWriteGate(action, removesRows = true)
    if (effectiveSettings.deletionVectors)
      dvMark(predicate, atoms, snap, affected, assignments) match {
        case Right(commit) => return commit
        case Left(_)       => () // over the cap: fall through to the rewrite
      }
    val cond = coalesce(predicate, lit(false))
    // CDF consumes the source more than once (new files + change rows)
    val src = cdfShared(liveRows(snap, affected))
    val (out, changeRows) = assignments match {
      case None =>
        (src.filter(!cond), tagged(src.filter(cond), "delete"))
      case Some(as) =>
        val updated = as.foldLeft(src) { case (df, (name, value)) =>
          require(df.columns.contains(name), s"unknown column '$name' in update")
          df.withColumn(name, when(cond, value).otherwise(col(name)))
        }
        (updated, tagged(src.filter(cond), "update_preimage")
          .unionByName(tagged(updated.filter(cond), "update_postimage"),
            allowMissingColumns = true))
    }
    val changeFiles =
      if (effectiveSettings.changeDataFeed) Some(stageChangeRows(changeRows)) else None
    Some(replaceWith(action, snap.version, affected, out, Map.empty,
      mayOverlap = mayMatchPredicate(atoms), changes = changeFiles))
  }

  /** The deletion-vector DML core of [[deleteOrUpdate]], for a delete (no
    * `assignments`) and an update (update = DV-mark the old row
    * versions + append the new ones, Delta's DV-update shape). One scan
    * of the affected files pairs each matched row with its parquet ROW
    * POSITION (`_metadata.row_index` — the surviving rows of an already
    * DV'd file keep their ORIGINAL positions, so merges are exact);
    * positions transit the driver (bounded by `settings.dvMaxDeletedRows`
    * — `Left` past the cap tells the caller to fall back to the pruned
    * rewrite) and land as immutable sidecars. A file whose merged DV
    * covers EVERY row (known from its logged rowcount) is simply REMOVED
    * — a pure metadata drop, no sidecar, no rewrite. Data files are
    * never touched: at 100 TB a scattered 0.1% delete is one pruned scan
    * plus KB-sized sidecars instead of rewriting nearly every touched
    * file. */
  private def dvMark(predicate: org.apache.spark.sql.Column,
      atoms: Seq[PredAtom], snap: LogCheckpoint, affected: Seq[String],
      assignments: Option[Map[String, org.apache.spark.sql.Column]])
      : Either[Unit, Option[Commit]] = {
    // partition-converted trees key live files by RELATIVE path, while the
    // per-row grouping below keys by `_metadata.file_name` (base name) —
    // and partition dirs can REPEAT base names, so a DV here would bind to
    // names no read looks up and could merge two files' positions into one
    // bitmap. Fall back to the pruned rewrite (sound; it also flattens).
    if (affected.exists(_.contains("/"))) return Left(())
    val cond = coalesce(predicate, lit(false))
    val src = liveRows(snap, affected)
    assignments.foreach(_.keys.foreach(name =>
      require(src.columns.contains(name), s"unknown column '$name' in update")))
    // metadata columns must bind BEFORE materialization (a checkpointed
    // plan is an RDD scan with no file-source metadata to resolve)
    val matched = src
      .withColumn("__f", col("_metadata.file_name"))
      .withColumn("__i", col("_metadata.row_index"))
      .filter(cond)
      .transform(graft.ext.Parallelism.materialize(_)(effectiveSettings)) // feeds position agg + CDF + update images once
    // cap check BEFORE positions transit the driver (it exists to protect
    // the driver); `matched` is materialized, so the extra count is cheap
    val totalMatched = matched.count()
    if (totalMatched == 0) return Right(None) // nothing matched: no commit
    val dvNow = snap.dvFor
    val priorDeleted = affected.flatMap(dvNow.get)
      .map(dv => DeletionVectors.read(fs, path, dv).length.toLong).sum
    if (totalMatched + priorDeleted > effectiveSettings.dvMaxDeletedRows) return Left(())
    val perFile = matched.groupBy(col("__f"))
      .agg(sort_array(collect_list(col("__i"))).as("__ps"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
    val (deadFiles, newDvs) = perFile.foldLeft(
      (Seq.empty[String], Map.empty[String, String])) {
      case ((dead, dvs), (f, fresh)) =>
        val merged = dvNow.get(f) match {
          case Some(old) => DeletionVectors.merge(DeletionVectors.read(fs, path, old), fresh)
          case None      => fresh
        }
        // fully-dead file: every logged row is marked -> drop the file.
        // stats.rows must be a REAL count here: the NO STATISTICS
        // partitioned convert records rows=1 as a placeholder (see
        // convert()), which would mis-drop a one-marked-row file — that
        // placeholder only ever attaches to NESTED adopted files, which
        // the '/'-fallback above already routed away; assert it stays so
        if (snap.stats.get(f).exists(st => st.rows == merged.length && {
          assert(!f.contains("/"),
            s"DV full-file shortcut reached a nested adopted file ($f) " +
              "whose rows stat may be the convert placeholder")
          true
        }))
          (dead :+ f, dvs)
        else (dead, dvs + (f -> DeletionVectors.write(fs, path, merged)))
    }
    val matchedRows = matched.drop("__f", "__i")
    val (action, add, stats, changeFiles, extraMetrics) = assignments match {
      case None =>
        val changes =
          if (effectiveSettings.changeDataFeed) Some(stageChangeRows(tagged(matchedRows, "delete")))
          else None
        ("delete", Seq.empty[String], Map.empty[String, FileStats], changes,
          Map.empty[String, String])
      case Some(as) =>
        // cast to the column's existing type: UPDATE SET never changes a
        // column's type (the classic path's when/otherwise coerces the
        // same way), and an uncast drift would poison mergeSchema reads
        val updated = as.foldLeft(matchedRows) { case (df, (name, value)) =>
          df.withColumn(name, value.cast(df.schema(name).dataType))
        }
        val changes =
          if (effectiveSettings.changeDataFeed)
            Some(stageChangeRows(
              tagged(matchedRows, "update_preimage")
                .unionByName(tagged(updated, "update_postimage"),
                  allowMissingColumns = true)))
          else None
        val (a, st) = stage(updated)
        ("update", a, st, changes, Map("numOutputFiles" -> a.size.toString))
    }
    Right(Some(commitRewrite(action, snap.version, add, deadFiles,
      mayOverlap = mayMatchPredicate(atoms),
      // a DV DML never changes the schema — re-record the CURRENT log
      // schema (re-read per attempt: an interleaved append may widen it).
      // Staging from a parquet read would silently flip every column
      // nullable and break catalog tables' user-specified schema check.
      schemaJson = () => currentSchemaJson.getOrElse(unionSchemaJson(src.schema)),
      Map("numDeletedRows" -> totalMatched.toString,
        "numDeletionVectors" -> newDvs.size.toString,
        "numRemovedFiles" -> deadFiles.size.toString) ++ extraMetrics,
      stats, changes = changeFiles, dvs = newDvs)))
  }

  /** The one rewrite primitive: stage `merged` and commit it through
    * [[commitRewrite]] as the replacement of `removeFiles`, pinned at the
    * snapshot of `baseVersion`. Every operation that replaces live files
    * ends here — compaction and ZORDER ([[compactIfNeeded]]), bin-pack
    * [[optimize]], [[purgeDeletionVectors]], the rewrite arm of
    * DELETE/UPDATE, [[upsert]], SQL MERGE and the subquery DML paths.
    *
    *  - `mayOverlap`: the conflict scope [[commitRewrite]] probes
    *    interleaved adds with — a predicate-scoped rewrite passes
    *    [[mayMatchPredicate]] of its atoms (an interleaved append whose
    *    stats prove disjoint keys retries safely), a bucketed upsert its
    *    key buckets, a row-preserving maintenance rewrite `_ => false`.
    *  - `dataChange = false`: the rewrite preserves rows exactly — it is
    *    invisible to incremental consumers, stays allowed on append-only
    *    tables, and counts its removes as `numRemovedFiles` where a data
    *    change counts `numRewrittenFiles`.
    *  - schema rule: the commit records the CURRENT log schema, re-read
    *    per attempt (an interleaved append may widen it) — never a schema
    *    derived from the staged frame, whose parquet read turned every
    *    column nullable (a catalog table's user-specified schema would
    *    then stop matching). `evolveSchema` (upsert, MERGE `WITH SCHEMA
    *    EVOLUTION`) records the union of the current schema and the
    *    frame's instead — the additive contract [[append]] implements. */
  private[tables] def replaceWith(action: String, baseVersion: Long,
      removeFiles: Seq[String], merged: DataFrame,
      metrics: Map[String, String],
      mayOverlap: Commit => Boolean,
      changes: Option[Seq[String]] = None,
      evolveSchema: Boolean = false,
      dataChange: Boolean = true): Commit = {
    // backstop for every caller (DML entry points pre-gate earlier, before
    // CDF change rows stage): only a data-changing remove is gated
    preWriteGate(action, removesRows = dataChange && removeFiles.nonEmpty)
    val (add, stats) = stage(merged)
    commitRewrite(action, baseVersion, add, removeFiles, mayOverlap,
      schemaJson = () =>
        if (evolveSchema) unionSchemaJson(merged.schema)
        else currentSchemaJson.getOrElse(unionSchemaJson(merged.schema)),
      metrics ++ Map("numOutputFiles" -> add.size.toString,
        (if (dataChange) "numRewrittenFiles" else "numRemovedFiles") ->
          removeFiles.size.toString),
      stats, changes = changes, dataChange = dataChange)
  }

  /** Conflict probe for predicate-scoped rewrites: can an interleaved
    * commit's ADDED files hold rows matching the predicate? Answered with
    * the same stats/bucket pruner the rewrite used to pick its files — an
    * interleaved append whose stats prove disjoint key ranges is safe to
    * retry over; missing stats or opaque predicates stay conservative
    * (conflict). */
  private[tables] def mayMatchPredicate(atoms: Seq[PredAtom])(c: Commit): Boolean =
    pruneLive(
      LogCheckpoint(c.version, c.add, Some(c.schemaJson), c.stats.getOrElse(Map.empty)),
      atoms).nonEmpty

  /** UPDATE SET: apply `assignments` to rows matching `predicate`, by the
    * same pruned rewrite as [[delete]] — only files that can contain
    * matches are touched. Rows where the predicate is NULL are unchanged
    * (SQL semantics). Returns None when no file can contain a match. */
  def update(predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Option[Commit] =
    deleteOrUpdate(predicate,
      org.apache.spark.sql.graftbridge.ColumnBridge.conjuncts(predicate), Some(assignments))

  /** Small-file compaction (reference `jibaro/datalake/delta_handler.py:9-35`):
    * when the live file count exceeds `maxFiles`, rewrite the whole table
    * to ceil(totalBytes / compactTargetBytes) files with dataChange=false
    * so incremental consumers skip the rewrite. Like every maintenance
    * rewrite it goes through [[replaceWith]] and records the table's
    * current schema, nullability included. Returns the commit if run. */
  def compactIfNeeded(
      maxFiles: Int = effectiveSettings.maxNumFilesAllowed): Option[Commit] =
    compactWith(maxFiles, (df, target) => df.repartition(target))

  /** [[compactIfNeeded]] for range-CLUSTERED tables: rewrites through
    * `repartitionByRange` + in-partition sort on `clusterCols`, so the
    * compacted files keep tight, mostly-disjoint key ranges and
    * `readWhere` data skipping stays selective. A plain `repartition`
    * compaction would hand every output file the full key span and
    * silently destroy pruning — the failure mode this exists to avoid
    * for stores written with [[appendClustered]] (e.g. an ANN index's
    * bucket table maintained across thousands of ingest batches). */
  def compactClusteredIfNeeded(clusterCols: Seq[String],
      maxFiles: Int = effectiveSettings.maxNumFilesAllowed): Option[Commit] = {
    require(clusterCols.nonEmpty, "compactClusteredIfNeeded needs cluster columns")
    compactWith(maxFiles, (df, target) =>
      df.repartitionByRange(target, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*))
  }

  /** Whole-table compaction's file selection: every live file, once their
    * count exceeds `maxFiles`. */
  private def compactWith(maxFiles: Int,
      shape: (DataFrame, Int) => DataFrame): Option[Commit] = {
    val snap = snapshot()
    val files = snap.live
    if (files.size <= maxFiles) return None
    // a bucketed stage writes one file per bucket, so a table whose every
    // file carries a distinct bucket id would come back file for file;
    // files without a bucket id (legacy flat writes) still compact
    val ids = files.map(bucketOf)
    if (bucketSpec.isDefined && ids.forall(_.isDefined) && ids.distinct.size == ids.size)
      return None
    Some(rewriteMaintenance("compact", snap, files, compactedBytes, shape))
  }

  private val compactedBytes: Long => Map[String, String] =
    bytes => Map("numCompactedBytes" -> bytes.toString)

  /** A live file's size: the log-recorded bytes (zero metadata RPCs), else
    * one HEAD for a file from a pre-stats commit. */
  private def fileBytes(snap: LogCheckpoint, f: String): Long =
    snap.stats.get(f).flatMap(_.bytes)
      .getOrElse(fs.getFileStatus(new Path(path, f)).getLen)

  /** The live rows of `files` as pinned by `snap`: read under the
    * snapshot's recorded schema with the snapshot's deletion vectors
    * applied — the one read every rewrite's source goes through. Never a
    * fresh snapshot: a commit landing between the pin and the read would
    * have its rows baked into the rewrite while staying live itself. A
    * pre-evolution file's missing columns read as NULL, and a
    * column-mapped table reads its physical names. */
  private def liveRows(snap: LogCheckpoint, files: Seq[String]): DataFrame =
    DeletionVectors.filterDeleted(readDataFiles(files, schemaOf(snap)),
      spark, loadDvs(snap.dvFor, files), qualifiedRootUris)

  /** The maintenance core under [[compactIfNeeded]], [[optimize]] and
    * [[purgeDeletionVectors]], which only choose `files`: sizes them,
    * reads their live rows pinned at `snap`, shapes the rows into
    * ceil(bytes / compactTargetBytes) partitions with `shape`, and commits
    * the row-preserving replacement (dataChange=false) through
    * [[replaceWith]]. A bucketed table is not shaped: [[stage]] routes its
    * rows by bucket itself, so a shuffle before it would be thrown away.
    * The rewritten files are the read set — an interleaved rewrite or DV
    * bind on one conflicts instead of having its rows resurrected;
    * interleaved appends are disjoint. `metrics` gets the bytes read. */
  private def rewriteMaintenance(action: String, snap: LogCheckpoint,
      files: Seq[String], metrics: Long => Map[String, String],
      shape: (DataFrame, Int) => DataFrame = (df, target) => df.repartition(target))
      : Commit = {
    val totalBytes = files.map(fileBytes(snap, _)).sum
    val target = math.max(1,
      math.ceil(totalBytes.toDouble / effectiveSettings.compactTargetBytes).toInt)
    val live = liveRows(snap, files)
    val df =
      if (bucketSpec.exists(_.keys.forall(live.columns.contains))) live
      else shape(live, target)
    replaceWith(action, snap.version, files, df, metrics(totalBytes),
      mayOverlap = _ => false, dataChange = false)
  }

  /** Every data file on disk with its table-relative name, the form log
    * names take: a partitioned-tree convert records `k=v/part-...`, so a
    * listing matched against the log by base name would misread every
    * adopted file (as missing, or as an orphan to delete). */
  private def dataFilesOnDisk(): Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
    val root = fs.makeQualified(new Path(path)).toUri.getPath.stripSuffix("/") + "/"
    FsUtils.dataFiles(spark, path).map { st =>
      val p = fs.makeQualified(st.getPath).toUri.getPath
      require(p.startsWith(root), s"internal: $p not under $root")
      st -> p.stripPrefix(root)
    }
  }

  /** Delta's FSCK REPAIR TABLE: drop log references to live data files
    * that no longer exist on disk (manual deletion, storage loss, a
    * partially-vacuumed restore source) so scans stop failing on ghosts.
    * One directory listing reconciled against the live set — never a
    * per-file existence RPC (O(1) listings, not O(files) HEADs, the only
    * shape that survives a million-file table). The repair is itself a
    * versioned `dataChange=true` commit: downstream incremental consumers
    * SEE the row loss instead of silently diverging. Also clears STALE
    * commit-claim markers (a crashed writer's `.claim` older than 10
    * minutes — claims are held for milliseconds, so age is decisive);
    * since the lease-based recovery in [[writeCommit]] the next writer
    * breaks an expired claim inline anyway, so this is belt-and-braces
    * operator hygiene, and the pre-publish `stillHeld` re-verify keeps a
    * repair-cleared live writer from overwriting. Returns the dropped
    * names; `dryRun=true` (the default) only reports them. */
  def repair(dryRun: Boolean = true): Seq[String] = {
    val snap = snapshot()
    val onDisk = dataFilesOnDisk().map(_._2).toSet
    val missing = snap.live.filterNot(onDisk)
    // a CRASHED writer's leftovers in the log dir would otherwise live
    // forever — FSCK is the operator tool that clears them
    val staleClaims = staleLogLeftovers()
    val report = missing ++ staleClaims.map(p => s"_graft_log/${p.getName}")
    if (report.isEmpty || dryRun) return report
    staleClaims.foreach(p => fs.delete(p, false))
    if (missing.nonEmpty)
      // the missing files are the read set (they are the removes): an
      // interleaved append commutes, a commit that already dropped one
      // of them conflicts
      commitRewrite("repair", snap.version, Seq.empty, missing,
        mayOverlap = _ => false,
        schemaJson = () => currentSchemaOrFail,
        Map("numRemovedFiles" -> missing.size.toString))
    report
  }

  /** Delta's OPTIMIZE: bin-pack ONLY the live files smaller than the
    * compaction target into full-size files, leaving already-compact
    * files untouched — at 100 TB an OPTIMIZE after a streaming ingest
    * rewrites the small tail, never the corpus (the full-table rewrite is
    * what `compactIfNeeded` does when the file-count threshold trips).
    * Sizes come from the log's per-file stats; only pre-stats commits pay
    * a metadata HEAD. With `zorderBy`, delegates to the global clustered
    * rewrite (Delta's ZORDER also re-clusters everything — clustering is
    * a whole-table property). `dataChange=false` either way, so
    * incremental consumers skip it. On a bucketed table the bin-packed
    * rows re-route through the bucket writer, preserving the layout. Both
    * shapes commit through [[replaceWith]] and record the table's current
    * schema, nullability included. */
  def optimize(zorderBy: Seq[String] = Seq.empty,
      where: Option[org.apache.spark.sql.Column] = None): Option[Commit] = {
    if (zorderBy.nonEmpty) {
      require(where.isEmpty,
        "ZORDER BY re-clusters the WHOLE table (clustering is a global " +
          "property) — WHERE cannot scope it; run the scoped bin-pack and " +
          "the clustered rewrite as separate statements")
      return compactClusteredIfNeeded(zorderBy, maxFiles = 1)
    }
    optimizeScoped(
      where.map(org.apache.spark.sql.graftbridge.ColumnBridge.conjuncts)
        .getOrElse(Seq.empty))
  }

  /** REORG-purge: rewrite ONLY the live files carrying deletion vectors,
    * so the bitmaps die and surviving rows materialize — Delta's
    * `REORG TABLE ... APPLY (PURGE)` scope. Deliberately NOT the
    * bin-packing pass: on a streaming-ingest table with thousands of
    * small live files and one DV, a full [[optimize]] would rewrite the
    * entire small-file tail for a purge that needs exactly one file.
    * `dataChange = false` — logical rows are unchanged, incremental
    * consumers skip it; the commit goes through [[replaceWith]] and
    * records the table's current schema. None when no DV is live. */
  def purgeDeletionVectors(): Option[Commit] = {
    val snap = snapshot()
    val victims = snap.live.filter(snap.dvFor.contains)
    if (victims.isEmpty) None
    else Some(rewriteMaintenance("purge", snap, victims,
      _ => Map("numPurgedDeletionVectors" -> victims.size.toString)))
  }

  /** The bin-packing file selection, scoped by pre-extracted predicate
    * atoms (the SQL `OPTIMIZE ... WHERE` entry): only small files whose
    * stats MAY match every atom are packed. The over-approximation is
    * sound — compaction preserves rows exactly, so packing a file the
    * predicate would not have selected costs a rewrite, never
    * correctness. Delta's WHERE selects partitions exactly; file stats are
    * our partition analogue. Empty `atoms` = whole table. */
  private[tables] def optimizeScoped(atoms: Seq[PredAtom]): Option[Commit] = {
    val snap = snapshot()
    if (snap.live.size <= 1 && snap.dvFor.isEmpty) return None
    val inScope: String => Boolean =
      if (atoms.isEmpty) _ => true else pruneLive(snap, atoms).toSet
    // DV PURGE rides along (Delta's OPTIMIZE does the same): any in-scope
    // file carrying a deletion vector is a rewrite candidate regardless of
    // size — rewriting it materializes the surviving rows and drops the
    // bitmap, restoring the vectorized read path for that data
    val dvNow = snap.dvFor
    val small = snap.live.filter(f => inScope(f) &&
      (dvNow.contains(f) || fileBytes(snap, f) < effectiveSettings.compactTargetBytes))
    if (small.size <= 1 && !small.exists(dvNow.contains)) return None
    Some(rewriteMaintenance("compact", snap, small, compactedBytes))
  }

  /** External-reader manifest (the reference generates Delta's
    * `symlink_format_manifest` after every curated merge, `cdc.py:261-262`,
    * consumed by Trino/Athena/Hive catalogs): one text file under
    * `_symlink_format_manifest/` listing the absolute URI of every live
    * data file at the current version, swapped in atomically. Engines that
    * cannot replay the graft log read exactly the committed live set —
    * never a partial write. Returns the listed paths.
    *
    * `purgeFirst` is the DV-bearing table's route:
    * [[purgeDeletionVectors]] rewrites EXACTLY the DV-bearing files (the
    * bitmaps die, rows materialize — never the table-wide bin-pack), then
    * the purged state manifests. Without it a DV-bearing table REFUSES
    * (a manifest reader scans raw parquet and cannot apply bitmaps, so it
    * would serve deleted rows) — same refusal as Delta's manifest
    * generation. */
  def writeManifest(purgeFirst: Boolean = false): Seq[String] = {
    val manifestDir = new Path(path, "_symlink_format_manifest")
    if (purgeFirst) purgeDeletionVectors()
    val snap = snapshot()
    // a manifest reader scans raw parquet and cannot apply bitmaps — a
    // manifest over DV-bearing files would serve DELETED rows to every
    // external engine. Delta's manifest generation refuses the same way.
    if (snap.dvFor.nonEmpty)
      throw new IllegalStateException(
        s"cannot write a symlink manifest for $path: ${snap.dvFor.size} live " +
          "file(s) carry deletion vectors external readers cannot apply — " +
          "call writeManifest(purgeFirst = true) (or run REORG TABLE ... " +
          "APPLY (PURGE) / optimize() first)")
    val live = snap.live.map(f => fs.makeQualified(new Path(path, f)).toString)
    FsUtils.replaceFile(spark, new Path(manifestDir, "manifest"),
      live.map(_ + "\n").mkString.getBytes("UTF-8"))
    live
  }

  /** One-row table summary — the graft twin of Delta's `DESCRIBE DETAIL`.
    * Metadata-plane: everything comes from the commit log (file bytes from
    * per-file stats; only pre-stats files pay one shared directory
    * listing). `createdAt` is the oldest RETAINED commit — after a
    * `vacuumLog` trim it reflects the log horizon, like Delta's after log
    * retention. Parses the snapshot (also the protocol gate for the rest
    * of the log) plus the oldest and newest commits, never the whole log. */
  def detail(): DataFrame = {
    import spark.implicits._
    val snap = snapshot()
    val logged = listLog()._1
    require(logged.nonEmpty, s"table does not exist: $path")
    lazy val listed: Map[String, Long] =
      dataFilesOnDisk().map { case (st, rel) => rel -> st.getLen }.toMap
    val bytes = snap.live.map(f =>
      snap.stats.get(f).flatMap(_.bytes).orElse(listed.get(f)).getOrElse(0L)).sum
    val spec = bucketSpec
    Seq((
      "graft", path,
      new java.sql.Timestamp(parseCommit(logged.head).timestampMs),
      new java.sql.Timestamp(parseCommit(logged.last).timestampMs),
      snap.version, snap.live.size.toLong, bytes,
      spec.map(_.keys).getOrElse(Seq.empty[String]),
      spec.map(_.numBuckets).getOrElse(0),
      // Delta's DESCRIBE DETAIL reports tableFeatures the same way: the
      // operator-visible record of what a foreign reader must support
      // (readerFeatures) and what a foreign writer must uphold to commit
      // (writerFeatures)
      snap.featureSet.toSeq.sorted,
      snap.writerFeatureSet.toSeq.sorted))
      .toDF("format", "location", "createdAt", "lastModified", "version",
        "numFiles", "sizeInBytes", "bucketColumns", "numBuckets",
        "readerFeatures", "writerFeatures")
  }

  /** History as a DataFrame, newest first (reference reads `DESCRIBE
    * HISTORY` + `numFiles`, `cdc.py:224-247`). */
  def history(): DataFrame = history(Int.MaxValue)

  /** The newest `limit` history rows — parses only those commits. The
    * snapshot behind `numFiles` is also the protocol gate for the rest. */
  private[graft] def history(limit: Int): DataFrame = {
    import spark.implicits._
    val live = liveFiles().size.toLong
    commitsNewestFirst.take(limit).toList
      .map(c => (c.version, new java.sql.Timestamp(c.timestampMs), c.action,
        c.dataChange, c.add.size.toLong, c.metrics))
      .toDF("version", "timestamp", "operation", "dataChange", "numAddedFiles", "operationMetrics")
      .withColumn("numFiles", lit(live))
  }

  /** GC files removed from the live set longer than `retentionHours` ago
    * (reference vacuums 768h every 25 versions, `cdc.py:264-269`).
    * Returns deleted file names.
    *
    * The default retention comes from [[effectiveSettings]], NOT the
    * session: a table that persisted `vacuum_retention_hours` in
    * TBLPROPERTIES declared how long ITS readers may time-travel/stream —
    * a session-default vacuum must not GC inside that window (properties
    * are table facts, honored identically by every operation). An
    * explicit argument still wins, like Delta's RETAIN clause. */
  def vacuum(retentionHours: Double = -1.0,
      dryRun: Boolean = false): Seq[String] = {
    val retention =
      if (retentionHours >= 0) retentionHours
      else effectiveSettings.vacuumRetentionHours
    val cutoff = System.currentTimeMillis() - (retention * 3600 * 1000).toLong
    val live = liveFiles().toSet
    val cs = commits()
    val aged = cs.filter(_.timestampMs < cutoff)
    // a file is GC-able when some commit removed it, it is not live now,
    // and the REMOVING commit is older than the cutoff
    val removable = aged.flatMap(_.remove).distinct.filterNot(live)
    // change-data files age out on the same clock: reading changes for a
    // vacuumed-out version then fails like time travel does (Delta's CDF
    // retention contract). The commit log keeps the names, so the failure
    // is a missing file, never silently empty changes.
    val agedChanges = aged.flatMap(_.changes.getOrElse(Seq.empty)).distinct
    // DV sidecars age out when SUPERSEDED (their file re-bound, cleared,
    // or removed) — clocked by the SUPERSEDING commit, exactly like
    // removed data files. A restore can re-bind an old sidecar, so the
    // current bindings always win over a recorded supersession.
    val liveDvs = snapshot().dvFor.values.toSet
    val bound = scala.collection.mutable.Map.empty[String, String]
    val superseded = scala.collection.mutable.Map.empty[String, Long]
    cs.foreach { c =>
      c.remove.foreach(f =>
        bound.remove(f).foreach(dv => superseded(dv) = c.timestampMs))
      c.dvs.getOrElse(Map.empty).foreach { case (f, dv) =>
        bound.remove(f).foreach(old => if (old != dv) superseded(old) = c.timestampMs)
        if (dv != DeletionVectors.Cleared) bound(f) = dv
      }
    }
    val agedDvs = superseded.collect {
      case (dv, t) if t < cutoff && !liveDvs(dv) => dv
    }.toSeq
    // ORPHAN sweep (Delta's vacuum semantics): files on disk that NO
    // commit references — a lost version race's staged data files, a
    // crashed writer's DV sidecars or change files — are invisible to the
    // log-driven accounting above and would otherwise leak forever. Aged
    // by file mtime; the retention window is also what protects an
    // IN-FLIGHT writer's staged-but-uncommitted files (same contract as
    // Delta: don't vacuum with retention below your longest write).
    val referencedData = cs.flatMap(c => c.add ++ c.remove).toSet
    val dataOrphans = dataFilesOnDisk()
      .filter { case (st, rel) =>
        !referencedData(rel) && st.getModificationTime < cutoff
      }
      .map(_._2)
    def sideOrphans(dir: String, referenced: Set[String]): Seq[String] = {
      val d = new Path(path, dir)
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq.filter(_.isFile)
        .map(st => s"$dir/${st.getPath.getName}" -> st.getModificationTime)
        .collect { case (rel, mtime) if !referenced(rel) && mtime < cutoff => rel }
    }
    val dvOrphans = sideOrphans(DeletionVectors.Dir,
      cs.flatMap(_.dvs.getOrElse(Map.empty).values).toSet)
    val changeOrphans = sideOrphans(changesDir,
      cs.flatMap(_.changes.getOrElse(Seq.empty)).toSet)
    // crashed writers' STAGING DIRS: `_staging-*` at the root and
    // `.stage-*` under the changes dir are invisible to every reader
    // (underscore/dot prefixes) and to the orphan passes above (those
    // skip hidden paths / non-files), so a crash between the parquet
    // write and the post-rename cleanup would leak a batch-sized
    // directory FOREVER. Aged on the same retention clock that protects
    // in-flight writers' staged files — but on the NEWEST mtime among
    // the dir's recursive children, not the dir inode's own: bucketed
    // stage() lands files in `graft_bucket=N/` subdirectories, so the
    // root staging dir's mtime stays at creation time and the dir's own
    // age would delete a long-running bucketed write mid-flight.
    def newestMtime(p: Path): Long =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else (st.getModificationTime +:
          fs.listStatus(p).toSeq.map(c => newestMtime(c.getPath))).max
      } catch {
        // racing writer/cleaner removed it under us: report "too new" —
        // skipping a vanishing dir this pass is always safe
        case _: java.io.FileNotFoundException => Long.MaxValue
      }
    def stagingOrphans(parent: Path, prefix: String, relPrefix: String): Seq[String] =
      if (!fs.exists(parent)) Seq.empty
      else fs.listStatus(parent).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
          newestMtime(st.getPath) < cutoff)
        .map(st => s"$relPrefix${st.getPath.getName}")
    val stagingDirs =
      stagingOrphans(new Path(path), "_staging-", "") ++
        stagingOrphans(new Path(path, changesDir), ".stage-", s"$changesDir/")
    val all = removable ++ agedChanges ++ agedDvs ++
      dataOrphans ++ dvOrphans ++ changeOrphans ++ stagingDirs
    // Delta's VACUUM DRY RUN: report what WOULD be deleted, touch nothing
    if (!dryRun) {
      (removable ++ agedChanges ++ agedDvs ++ dataOrphans ++ dvOrphans ++
        changeOrphans).foreach(f => fs.delete(new Path(path, f), false))
      stagingDirs.foreach(d => fs.delete(new Path(path, d), true))
    }
    all
  }

}

object GraftTable {
  private[tables] val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftTable])

  def apply(spark: SparkSession, path: String)(
      implicit settings: GraftSettings = GraftSettings.default): GraftTable =
    new GraftTable(spark, path, settings)

  /** Inverse of hive's partition-path escaping (Spark's
    * `ExternalCatalogUtils.escapePathName`): PERCENT-only decoding —
    * '+' is a literal in dir names, so it is protected from
    * URLDecoder's form-decoding ('+' -> space) first. Property-pinned
    * against Spark's own escaper in PropertySpec. A bare '%' not
    * followed by two hex digits (hand-laid trees no escaper wrote)
    * fails with the OFFENDING SEGMENT in the message — convert() is a
    * loud-refusal surface; read paths degrade to the raw string instead
    * ([[hiveUnescapeOrRaw]]). */
  private[graft] def hiveUnescape(raw: String): String =
    try java.net.URLDecoder.decode(raw.replace("+", "%2B"), "UTF-8")
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"cannot percent-decode partition path segment '$raw' — not " +
          "written by Hive/Spark's path escaper (a bare '%' must be " +
          "escaped as '%25')", e)
    }

  /** Read-time twin of [[hiveUnescape]]: an undecodable value passes
    * through RAW (the file still serves; only its partition value is
    * rendered undecoded) — reads must not fail on a tree convert()
    * accepted. */
  private[graft] def hiveUnescapeOrRaw(raw: String): String =
    try hiveUnescape(raw) catch { case _: IllegalArgumentException => raw }

  /** Ordered hive partition KEY names from one nested live name
    * (`k1=v1/k2=v2/file`): THE key-extraction convention every read-side
    * consumer of an adopted tree shares — the native relation and the
    * batch/streaming dir-column synthesis both derive keys here, so a
    * change to the convention lands everywhere at once (convert()'s
    * validation pass keeps its own richer k=v parse for error messages,
    * but records names these functions re-derive identically). */
  private[tables] def dirKeyNames(nestedName: String): Seq[String] =
    nestedName.split('/').dropRight(1).toSeq.map(_.takeWhile(_ != '='))

  /** The scanned file's table-relative LOG name as a column, derived from
    * `_metadata.file_path` by stripping the qualified root prefix (every
    * authority rendering in `qualifiedRoots` — see
    * [[GraftTable.qualifiedRootUris]]); falls back to the basename when
    * no prefix matches. Anything keyed off `snap.live` MUST match on this,
    * never on `_metadata.file_name`: converted trees' live names are
    * nested `k=v/...` relative paths a basename would never equal (or,
    * worse, would equal for the WRONG file when two partitions repeat a
    * basename). */
  private[tables] def relNameColumn(qualifiedRoots: Seq[String]): org.apache.spark.sql.Column = {
    // `_metadata.file_path` is the URI-ENCODED rendering of the on-disk
    // path (SparkPath): a hive-escaped dir `k=a%20b` (value 'a b')
    // renders here as `k=a%2520b`, while log names store the on-disk
    // LITERAL form (convert() records toUri.getPath, which sheds the URI
    // layer). The stripped suffix must therefore shed exactly ONE
    // percent-decode layer before anything compares it against
    // `snap.live` — '+' is a literal in a URI path (never form-encoded),
    // so it is protected from url_decode's form decoding first; a suffix
    // that is not a valid rendering (no SparkPath writes one) passes
    // through raw, mirroring [[hiveUnescapeOrRaw]]'s read-side degrade.
    def uriDecode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(try_url_decode(regexp_replace(c, "\\+", "%2B")), c)
    uriDecode(qualifiedRoots.map(_.stripSuffix("/") + "/")
      .foldLeft(col("_metadata.file_name")) { (acc, prefix) =>
        when(col("_metadata.file_path").startsWith(prefix),
          col("_metadata.file_path").substr(lit(prefix.length + 1), lit(Int.MaxValue)))
          .otherwise(acc)
      })
  }

  /** Synthesize hive-dir partition columns for files adopted by a
    * partitioned-tree [[GraftTable.convert]]: a file living under `k=v/`
    * carries `k`'s value in its PATH, not its pages, so the column is
    * derived from `_metadata.file_path` per row — and COALESCED with the
    * data value, because later DML rewrites stage flat files that carry
    * the column physically (the two layouts coexist in one table).
    * Flat-only file sets (every table that never converted a tree)
    * return the frame untouched — zero plan change. The batch read path
    * ([[GraftTable.readDataFiles]]) applies it, which the streaming source
    * reuses. */
  private[tables] def withDirPartitionColumns(df: DataFrame, files: Seq[String],
      stored: org.apache.spark.sql.types.StructType): DataFrame = {
    val nested = files.find(_.contains("/")).toSeq
    if (nested.isEmpty) return df
    val keys = dirKeyNames(nested.head)
    keys.zipWithIndex.foldLeft(df) { case (acc, (k, i)) =>
      val dt = stored.fields.find(_.name == k).map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)
      // END-anchored at the key's exact depth from the basename: key i of
      // n sits (n - i) segments before the file name, so a k=v segment in
      // the table's ROOT path can never shadow a NESTED file's own value.
      // (Residual edge: a FLAT staged file whose page value is NULL and
      // whose root path's last segments literally spell this key's k=v
      // at the matching depth would coalesce the root's value in — the
      // native-relation path is immune via its segment-count guard.)
      val tail = "/[^/]+" * (keys.length - 1 - i) + "/[^/]+$"
      val raw = regexp_extract(col("_metadata.file_path"),
        "/" + java.util.regex.Pattern.quote(k) + "=([^/]+)" + tail, 1)
      // TWO decode layers: `_metadata.file_path` is the URI-ENCODED
      // rendering (SparkPath) of the on-disk name, which is itself
      // hive-escaped — `part=x:y` lives on disk as `part=x%3Ay` and
      // arrives here as `x%253Ay`. Each layer is percent-only ('+' is a
      // LITERAL in both), but url_decode is a form decoder ('+' ->
      // space) — protect '+' before each application. try_url_decode +
      // coalesce: an undecodable value (a bare '%' some hand-laid tree
      // carries) passes through RAW instead of failing the whole scan —
      // the read-time twin of hiveUnescapeOrRaw.
      def pctDecode(c: org.apache.spark.sql.Column) =
        coalesce(try_url_decode(regexp_replace(c, "\\+", "%2B")), c)
      val decoded = pctDecode(pctDecode(raw))
      val v = when(raw === "" || raw === "__HIVE_DEFAULT_PARTITION__", lit(null))
        .otherwise(decoded).cast(dt)
      if (acc.columns.contains(k)) acc.withColumn(k, coalesce(col(k), v))
      else acc.withColumn(k, v)
    }
  }
}
