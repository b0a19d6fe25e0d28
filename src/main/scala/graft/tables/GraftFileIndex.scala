package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, StringType, StructType, TimestampNTZType, TimestampType}

/** Catalyst `Expression` → [[PredAtom]] extraction — the analysis-time
  * twin of `ColumnBridge.conjuncts` (which walks pre-analysis
  * `ColumnNode`s). [[GraftFileIndex.listFiles]] receives the query's
  * ANALYZED data filters, so the attribute/literal shapes here are the
  * resolved classes, with literal values in Catalyst's INTERNAL
  * representation (UTF8String, Decimal, epoch days/micros) — converted
  * back to the external domain [[StatsPruning]] compares in. Anything
  * unrecognized becomes [[PredOpaque]] and keeps the file: unsupported
  * shapes cost a scan, never correctness. */
private[tables] object ExpressionAtoms {

  def conjuncts(e: Expression): Seq[PredAtom] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    // startswith (col LIKE 'p%') desugars to its range atoms
    case StartsWith(at: AttributeReference, Literal(p, StringType))
        if p != null && p.toString.nonEmpty =>
      val prefix = p.toString
      PredCmp(">=", at.name, prefix) +:
        PrefixBounds.upper(prefix).map(PredCmp("<", at.name, _)).toSeq
    case other => Seq(atom(other))
  }

  private def external(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else dt match {
      case StringType => Some(v.toString)
      case _: DecimalType =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal)
      case DateType =>
        Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType =>
        val us = v.asInstanceOf[Long]
        Some(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case _ => Some(v) // primitives / booleans are already external
    }

  private def cmp(op: String, a: Expression, b: Expression): PredAtom =
    (a, b) match {
      case (at: AttributeReference, Literal(v, dt)) =>
        external(v, dt).map(PredCmp(op, at.name, _)).getOrElse(PredOpaque)
      case _ => PredOpaque
    }

  private val Flip =
    Map(">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=", "=" -> "=")

  private def atom(e: Expression): PredAtom = e match {
    case EqualTo(a, b)            => first(cmp("=", a, b), cmp(Flip("="), b, a))
    case GreaterThan(a, b)        => first(cmp(">", a, b), cmp(Flip(">"), b, a))
    case GreaterThanOrEqual(a, b) => first(cmp(">=", a, b), cmp(Flip(">="), b, a))
    case LessThan(a, b)           => first(cmp("<", a, b), cmp(Flip("<"), b, a))
    case LessThanOrEqual(a, b)    => first(cmp("<=", a, b), cmp(Flip("<="), b, a))
    case In(at: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      val vs = list.map { case Literal(v, dt) => external(v, dt) }
      if (vs.forall(_.isDefined)) PredIn(at.name, vs.map(_.get)) else PredOpaque
    case InSet(at: AttributeReference, hset) =>
      val vs = hset.toSeq.map(external(_, at.dataType))
      if (vs.forall(_.isDefined)) PredIn(at.name, vs.map(_.get)) else PredOpaque
    case IsNull(at: AttributeReference)    => PredNull(at.name, isNull = true)
    case IsNotNull(at: AttributeReference) => PredNull(at.name, isNull = false)
    case _ => PredOpaque
  }

  private def first(a: PredAtom, b: => PredAtom): PredAtom =
    if (a != PredOpaque) a else b
}

/** [[GraftTable]] as a native Spark file-source relation — the Delta
  * architecture: the commit log is the source of truth for BOTH the file
  * list and the schema, handed to Spark's built-in parquet scan through a
  * custom [[FileIndex]].
  *
  * `GraftTable.read()`/`readAt` serve this relation, and what it buys
  * over a plain parquet read of the live files is:
  *
  *  - **Analysis-time data skipping**: Spark calls [[listFiles]] with the
  *    query's pushed data filters, so `readRelation().filter(p)` prunes
  *    files by min/max/bucket stats automatically — callers no longer
  *    need to route predicates through `readWhere` by hand, and JOINED /
  *    subqueried predicates Catalyst derives (e.g. from constant
  *    propagation) prune too.
  *  - **No footer inference**: a mergeSchema read pays one footer read
  *    per FILE per query plan; here the schema comes from the log (Delta
  *    semantics: the table's schema IS the log's latest, missing columns
  *    in old files read as NULL). At 100 TB that is the difference
  *    between a driver-side JSON parse and a million object GETs before
  *    the first task launches.
  *  - **Honest `sizeInBytes`**: live-file bytes feed the optimizer's
  *    broadcast decision, so a small dimension GraftTable auto-broadcasts.
  *
  * Each index instance PINS one snapshot (readers get snapshot isolation
  * across an entire multi-stage query even while writers commit);
  * [[refresh]] re-pins. File statuses come from ONE `listStatus` of the
  * table directory at pin time — O(1) metadata calls, not O(files).
  */
final class GraftFileIndex(private[tables] val table: GraftTable,
    asOf: Long = Long.MaxValue) extends FileIndex {
  import GraftFileIndex.Pinned

  @volatile private var pinned: Pinned = pin()

  private def pin(): Pinned = {
    val snap = table.snapshot(asOf)
    val root = new Path(table.path)
    val fs = root.getFileSystem(
      table.spark.sparkContext.hadoopConfiguration)
    val flatOnly = snap.live.forall(!_.contains("/"))
    val byName: Map[String, FileStatus] =
      if (!fs.exists(root)) Map.empty
      else if (flatOnly)
        fs.listStatus(root).filter(_.isFile).map(s => s.getPath.getName -> s).toMap
      else {
        // partition-converted trees: ONE recursive walk (O(dirs) listings)
        // keyed by relative path — never a per-file getFileStatus RPC
        val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
        graft.lake.FsUtils.dataFiles(table.spark, table.path)
          .map(s => fs.makeQualified(s.getPath).toUri.getPath.stripPrefix(prefix) -> s)
          .toMap
      }
    val statuses = snap.live.map { f =>
      // a live name the listing missed (listing raced a concurrent
      // rename) falls back per file, loudly typed
      f -> byName.getOrElse(f, fs.getFileStatus(new Path(root, f)))
    }.toMap
    Pinned(snap, statuses)
  }

  override def rootPaths: Seq[Path] = Seq(new Path(table.path))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val p = pinned
    val atoms = dataFilters.flatMap(ExpressionAtoms.conjuncts)
    val kept = table.pruneLive(p.snap, atoms)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(p.statuses).toArray))
  }

  override def inputFiles: Array[String] =
    pinned.snap.live.map(f => s"${table.path}/$f").toArray

  override def refresh(): Unit = pinned = pin()

  override def sizeInBytes: Long = pinned.statuses.values.map(_.getLen).sum

  /** The pinned snapshot's version (exposed for tests/observability). */
  def version: Long = pinned.snap.version

  /** The pinned snapshot itself — the base a DML command that read this
    * relation must validate its rewrite against. */
  private[tables] def pinnedSnapshot: LogCheckpoint = pinned.snap

  /** The STORED schema (tombstones + physical-name metadata included). */
  private[tables] def storedSchema: StructType = {
    val sj = pinned.snap.schemaJson.getOrElse(
      throw new IllegalStateException(s"table does not exist: ${table.path}"))
    DataType.fromJson(sj).asInstanceOf[StructType]
  }

  /** What the relation exposes: logical names, mapping metadata stripped
    * (the physical name is an implementation detail — leaking it would
    * survive into frames users write back). */
  private[tables] def dataSchema: StructType =
    ColumnMapping.cleanMetadata(ColumnMapping.logicalSchema(storedSchema))

  /** This index narrowed to `keep` — the file-scoping device behind the
    * pruned MERGE: swapping the narrowed index into the captured analyzed
    * plan (`LogicalRelation.copy`) keeps the relation's ATTRIBUTE IDS, so
    * the user's resolved ON/action expressions still bind, while the scan
    * physically lists only the kept files. Stats/bucket skipping from
    * pushed filters still applies on top (intersection). Shares this
    * instance's pin; `refresh` is a no-op — a rewrite command holds it
    * only for the duration of one commit attempt. */
  private[tables] def restrictTo(keep: Set[String]): FileIndex = new FileIndex {
    override def rootPaths: Seq[Path] = GraftFileIndex.this.rootPaths
    override def partitionSchema: StructType = new StructType()
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val p = pinned
      val atoms = dataFilters.flatMap(ExpressionAtoms.conjuncts)
      val kept = table.pruneLive(p.snap, atoms).filter(keep)
      Seq(PartitionDirectory(InternalRow.empty, kept.map(p.statuses).toArray))
    }
    override def inputFiles: Array[String] =
      pinned.snap.live.filter(keep).map(f => s"${table.path}/$f").toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long =
      pinned.statuses.collect { case (f, st) if keep(f) => st.getLen }.sum
  }
}

private object GraftFileIndex {
  final case class Pinned(snap: LogCheckpoint, statuses: Map[String, FileStatus])
}

object GraftRelation {

  /** The [[GraftFileIndex]]-backed relation for `table`, pinned to the
    * snapshot at `asOf` (default: current). [[GraftSource]] hands this
    * straight to Spark's resolver for `format("graft")` reads, wiring the
    * Delta-style `versionAsOf` reader option through `asOf`. */
  private[tables] def relation(table: GraftTable,
      asOf: Long = Long.MaxValue): HadoopFsRelation = {
    // the index pins the snapshot FIRST: its log read refuses a Spark
    // Connect client session with the remedy named, before any cast below
    val index = new GraftFileIndex(table, asOf)
    // partition-converted trees (live names under k=v/ dirs) derive the
    // partition columns from file PATHS; the graft format patches them
    // into each scanned row (page value coalesced with the path value, so
    // DML-staged flat files that carry the columns as data coexist).
    // Partition-predicate FILE pruning needs no extra machinery: convert
    // recorded each dir value as a min=max stats atom, so listFiles'
    // analysis-time pruner already skips foreign partitions.
    val dataSchema = index.dataSchema
    val dirKeys: Seq[org.apache.spark.sql.types.StructField] =
      index.pinnedSnapshot.live.find(_.contains("/")) match {
        case None => Seq.empty
        case Some(sample) =>
          GraftTable.dirKeyNames(sample).map(k =>
            dataSchema.fields.find(_.name == k)
              .map(f => org.apache.spark.sql.types.StructField(k, f.dataType, f.nullable))
              .getOrElse(org.apache.spark.sql.types.StructField(k, StringType)))
      }
    val rootUri =
      if (dirKeys.isEmpty) ""
      else {
        val root = new Path(table.path)
        root.getFileSystem(table.spark.sparkContext.hadoopConfiguration)
          .makeQualified(root).toUri.getPath
      }
    // a snapshot with outstanding deletion vectors, column renames, or
    // dir-derived partition columns scans through the graft format
    // (bitmap probes / physical-name rewrite / path-value patch inside
    // the reader); the common plain snapshot keeps vanilla parquet —
    // columnar batches, untouched whole-stage codegen
    val dvs = index.pinnedSnapshot.dvFor
    val stored = index.storedSchema
    val format =
      if (dvs.isEmpty && !ColumnMapping.active(stored) && dirKeys.isEmpty)
        new ParquetFileFormat
      else new GraftParquetFileFormat(table.path, dvs,
        if (ColumnMapping.active(stored)) Some(stored) else None,
        dirKeys, rootUri)
    // hand-laid converted trees can record a log schema WITHOUT the
    // dir-derived partition columns (convert() always records them, but a
    // forged/external log may not) — widen the relation schema so those
    // columns resolve; the format patches their path-derived values into
    // each row exactly as it does for recorded keys
    val relationSchema = dirKeys.filterNot(k => dataSchema.fieldNames.contains(k.name))
      .foldLeft(dataSchema)((s, f) => s.add(f))
    HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = relationSchema,
      bucketSpec = None,
      fileFormat = format,
      options = Map.empty)(classic(table))
  }

  private def classic(table: GraftTable) =
    table.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Build the [[GraftFileIndex]]-backed DataFrame for `table` — see the
    * class doc for what this buys over `read()`. The frame serves the
    * snapshot current at the call (re-call for a fresh one). */
  def dataFrame(table: GraftTable, asOf: Long = Long.MaxValue): DataFrame = {
    val rel = relation(table, asOf)
    classic(table).baseRelationToDataFrame(rel)
  }
}
