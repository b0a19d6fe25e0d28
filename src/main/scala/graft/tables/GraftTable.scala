package graft.tables

import graft.conf.GraftSettings
import graft.lake.FsUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization
import java.util.UUID

/** One table commit: which files became live/dead at this version.
  *
  * `dataChange = false` marks rewrites (compaction) that MUST NOT re-trigger
  * incremental consumers — the reference relies on Delta's identical flag
  * (`jibaro/datalake/delta_handler.py:30`).
  */
final case class Commit(
    version: Long,
    action: String,
    dataChange: Boolean,
    timestampMs: Long,
    add: Seq[String],
    remove: Seq[String],
    schemaJson: String,
    metrics: Map[String, String],
    stats: Option[Map[String, FileStats]] = None,
    /** Row-level change files under `_graft_changes/` (Delta CDF-style),
      * recorded by DML commits when `settings.changeDataFeed` is on.
      * `None` = not recorded (pre-CDF commit or feature off); `Some(Nil)`
      * = recorded and the batch produced no change rows. Absent in older
      * logs — json4s decodes the missing field as None. */
    changes: Option[Seq[String]] = None,
    /** DELETION-VECTOR rebindings: data file -> sidecar under
      * `_graft_dv/` ([[DeletionVectors]]). An entry REPLACES the file's
      * previous binding (a second delete writes the merged sidecar); the
      * [[DeletionVectors.Cleared]] sentinel value clears it (restore).
      * Absent in pre-DV logs. */
    dvs: Option[Map[String, String]] = None,
    /** Reader features this commit's CONTENT depends on (Delta's
      * readerFeatures — see [[GraftProtocol]]). Stamped from content at
      * write time; a reader refuses any feature it does not know before
      * serving a row. Absent (= baseline) in pre-gate logs AND on
      * baseline commits, so the common commit pays zero extra bytes. */
    features: Option[Seq[String]] = None,
    /** WRITER features the table holds its writers to as of this commit
      * (Delta's writerFeatures — see [[GraftProtocol]]): CHECK
      * constraints present, change-data-feed expected, append-only
      * declared. A writer refuses to COMMIT to a table requiring a
      * writer feature it does not uphold; reads are never gated by
      * these. Absent (= baseline) in pre-gate logs and on baseline
      * commits. */
    writerFeatures: Option[Seq[String]] = None)

/** Per-column stats of one data file, in portable string form:
  * numerics/strings/dates as their cast-to-string value, timestamps as
  * epoch MICROS (decimal strings don't order lexicographically; micros
  * do compare numerically). `None` min/max = all-null column. */
final case class ColStats(min: Option[String], max: Option[String], nulls: Long)

/** Row count + per-column stats of one data file — the data-skipping
  * index. At 100 TB this is the difference between scanning a table and
  * scanning the handful of files a selective predicate can touch; the
  * log stays KB-sized because stats hold two scalars per column per FILE
  * (files are ~128 MB). Delta/Iceberg keep the identical structure.
  * `bytes` is the file's on-disk size, captured for free at staging time
  * (Delta records the same `size` per add-file): byte-capped streaming
  * admission reads it from the log instead of paying one metadata HEAD
  * per file. None on pre-existing commits — consumers fall back. */
final case class FileStats(rows: Long, cols: Map[String, ColStats],
    bytes: Option[Long] = None)

/** Hash-bucketed layout: rows land in `pmod(xxhash64(keys), numBuckets)`
  * and file names carry their bucket (`b<K>-...`). With a spec set, CDC
  * upserts rewrite ONLY the buckets containing updated keys — at 100 TB
  * the difference between an O(batch) and an O(table) merge. */
final case class BucketSpec(keys: Seq[String], numBuckets: Int) {
  require(keys.nonEmpty && numBuckets > 0, "bucket spec needs keys and buckets")
}

/** The fully-replayed table state as of `version` — what a reader needs to
  * serve CURRENT-state queries without touching any earlier commit file.
  * Persisted every `settings.logCheckpointInterval` commits (Delta's
  * checkpoint mechanism) as `<version>.checkpoint.parquet` (one row per
  * live file, columnar/distributed read — see [[ParquetCheckpoint]]);
  * `<version>.checkpoint.json` files that older writers laid beside them
  * are still read. Opening a table then costs O(interval) log reads
  * instead of O(versions), which is the difference between milliseconds
  * and seconds of driver-side metadata latency once an ingest has
  * committed thousands of times against an object store — and the
  * parquet format keeps the COLD open linear-columnar instead of
  * JSON-AST-shaped at ~1M live files. `stats` is trimmed to LIVE files so
  * the checkpoint stays proportional to the table, not its history. Commit
  * files are never deleted, so history reads (time travel below the
  * checkpoint, CDF, vacuum accounting) replay the raw log exactly as
  * before. */
final case class LogCheckpoint(
    version: Long,
    live: Seq[String],
    schemaJson: Option[String],
    stats: Map[String, FileStats],
    /** Live files' CURRENT deletion-vector bindings (file -> sidecar).
      * Option so pre-DV checkpoint JSONs decode (missing field = None). */
    dvs: Option[Map[String, String]] = None,
    /** Running UNION of every reader feature the history up to `version`
      * required ([[GraftProtocol]]) — monotone, like Delta's protocol
      * action: a vacuumLog-trimmed table still gates foreign readers from
      * its surviving checkpoint alone. Absent = baseline (pre-gate). */
    features: Option[Seq[String]] = None,
    /** Running UNION of every WRITER feature the history up to `version`
      * bound the table to ([[GraftProtocol]]) — monotone, like the reader
      * union: a vacuumLog-trimmed table still gates foreign writers from
      * its surviving checkpoint alone. Absent = baseline (pre-gate). */
    writerFeatures: Option[Seq[String]] = None) {
  /** The DV bindings as a plain map (empty = no deletes outstanding). */
  def dvFor: Map[String, String] = dvs.getOrElse(Map.empty)
  /** Required reader features as a plain set (empty = baseline). */
  def featureSet: Set[String] = features.map(_.toSet).getOrElse(Set.empty)
  /** Required writer features as a plain set (empty = baseline). */
  def writerFeatureSet: Set[String] = writerFeatures.map(_.toSet).getOrElse(Set.empty)
}

/** A versioned parquet table — the engine's stand-in for the Delta tables
  * the reference writes everything to (no delta jar in this environment).
  *
  * Layout:
  * {{{
  *   <path>/_graft_log/00000000000000000001.json   // one JSON commit per version
  *   <path>/part-<uuid>-*.parquet                  // immutable data files
  * }}}
  *
  * Concurrency: commits are made visible by an atomic rename of the
  * version file; readers replay the log (driver-side, tiny) and read
  * exactly the live file set — so reads never observe a partial write,
  * and time travel is `readAt(version)`. Every commit goes through one
  * funnel with Delta-style LOGICAL conflict detection ([[commitRewrite]]):
  * appends and metadata commits commute and retry a lost version race
  * verbatim; disjoint concurrent rewriters (different buckets / provably
  * different key ranges) land without manual retry, overlapping ones
  * fail loudly.
  *
  * Scale: the log holds file NAMES only (KBs per commit); data files are
  * immutable parquet that Spark scans with full pushdown/pruning. Appends
  * are O(batch); `upsert` is a join-based rewrite (see method doc);
  * compaction targets `settings.compactTargetBytes` per file.
  */
final class GraftTable private (
    val spark: SparkSession,
    val path: String,
    settings: GraftSettings) {

  private implicit val fmts: Formats = DefaultFormats
  private val logDir = s"$path/_graft_log"
  private def fs = FsUtils.fs(spark, path)

  // ------------------------------------------------------------ bucketing

  private val metaFile = new Path(logDir, "_meta.json")
  private val BucketName = "^b(\\d+)-".r

  // bucketSpec is consulted on EVERY query plan (pruneLive) and per
  // interleaved commit in conflict loops — without a cache each call pays
  // an exists + open + JSON parse RPC (10-50ms on object stores). The
  // spec is immutable once observable: setBucketSpec refuses both a
  // change (spec already set) and a first declaration on a table with
  // commits, so a resolved Some — or a None on an existing table — can
  // be cached for the handle's lifetime.
  @volatile private var bucketSpecCache: Option[Option[BucketSpec]] = None

  def bucketSpec: Option[BucketSpec] = bucketSpecCache.getOrElse {
    // Caching a None is sound only if no creator can still declare a
    // spec, so observe `exists` BEFORE the meta probe: setBucketSpec
    // refuses once a table has commits, so commits-at-probe-time means
    // no spec can ever appear later. The reverse order is a TOCTOU — a
    // concurrent creator's _meta.json write plus first commit can land
    // between the two checks, and the handle would pin a bucketed table
    // as unbucketed for its lifetime.
    val hadCommits = exists
    val v =
      if (!fs.exists(metaFile)) None
      else {
        val in = fs.open(metaFile)
        try Some(JsonMethods.parse(in).extract[BucketSpec])
        finally in.close()
      }
    if (v.isDefined || hadCommits) bucketSpecCache = Some(v)
    v
  }

  /** Declare the bucketed layout. Must happen before (or agree with) the
    * first write; re-declaring an identical spec is a no-op. */
  def setBucketSpec(keys: Seq[String], numBuckets: Int): Unit = {
    val spec = BucketSpec(keys, numBuckets)
    bucketSpec match {
      case Some(existing) if existing != spec =>
        throw new IllegalStateException(s"table already bucketed as $existing")
      case Some(_) => ()
      case None =>
        require(!exists, "cannot bucket a table that already has data commits")
        fs.mkdirs(new Path(logDir))
        val out = fs.create(metaFile, false)
        try out.write(Serialization.write(spec).getBytes("UTF-8"))
        finally out.close()
        bucketSpecCache = Some(Some(spec))
    }
  }

  // ---------------------------------------------------------- constraints

  private val constraintsFile = new Path(logDir, "_constraints.json")

  /** The persisted CHECK constraints: name → SQL predicate text. Cached
    * per instance keyed by table VERSION (the [[tableProperties]]
    * discipline): constraint DDL on an existing table always publishes a
    * `constraint` commit, so "version unchanged" proves the sidecar is
    * current. Every write path consults this (guards + the per-commit
    * writer-feature stamp); without the cache each consult is an
    * exists+open+parse RPC against the object store. Pre-creation tables
    * (DDL is sidecar-only until data arrives) are never cached. */
  def constraints: Map[String, String] = {
    val v = if (exists) version else -1L
    val cached = constraintsCache
    if (cached != null && v >= 0 && cached._1 == v) return cached._2
    val fresh =
      if (!fs.exists(constraintsFile)) Map.empty[String, String]
      else {
        val in = fs.open(constraintsFile)
        try JsonMethods.parse(in).extract[Map[String, String]]
        finally in.close()
      }
    if (v >= 0) constraintsCache = (v, fresh)
    fresh
  }

  @volatile private var constraintsCache: (Long, Map[String, String]) = null

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
    writeConstraints(cur + (name -> predicateSql))
    recordConstraintCommit("add", name, predicateSql)
  }

  // ------------------------------------------------------ table properties

  private val propertiesFile = new Path(logDir, "_properties.json")

  /** Persisted per-table properties (Delta's TBLPROPERTIES model): known
    * snake_case settings keys OVERRIDE the session [[GraftSettings]] for
    * this table — so `deletion_vectors` / `change_data_feed` /
    * `compact_target_bytes` travel WITH the table and every writer
    * (API, SQL DML, the streaming sink) honors them without session
    * coordination; unknown keys ride along as free-form metadata. */
  def tableProperties: Map[String, String] = {
    // cached per instance, keyed by table VERSION (the [[listLog]]
    // discipline): every cross-handle properties change publishes a
    // commit, so "version unchanged" proves the sidecar is current —
    // and `version` itself revalidates with one existence probe. A DML
    // consults effectiveSettings ~5x; without this each consult is an
    // open+parse RPC against the object store. Pre-creation tables
    // (no log yet, sidecar mutable without commits) are never cached.
    val v = if (exists) version else -1L
    val cached = propsCache
    if (cached != null && v >= 0 && cached._1 == v) return cached._2
    val fresh =
      if (!fs.exists(propertiesFile)) Map.empty[String, String]
      else {
        val in = fs.open(propertiesFile)
        try JsonMethods.parse(in).extract[Map[String, String]]
        finally in.close()
      }
    if (v >= 0) propsCache = (v, fresh)
    fresh
  }

  @volatile private var propsCache: (Long, Map[String, String]) = null

  /** Set (merge) properties. Known settings keys are validated by
    * parsing them immediately — a typo'd value fails HERE, not on some
    * later write. Admin DDL: single-writer, like [[setBucketSpec]]. */
  def setProperties(props: Map[String, String]): Unit = {
    props.foreach { case (k, v) =>
      // validation only — throws on a malformed value for a known key
      GraftSettings.withSetting(settings, k, v)
    }
    writeProperties(tableProperties ++ props)
    recordPropertiesCommit("set", props.keys.toSeq)
  }

  /** Remove properties (absent keys tolerated — Delta's UNSET shape). */
  def unsetProperties(keys: Seq[String]): Unit = {
    writeProperties(tableProperties -- keys)
    recordPropertiesCommit("unset", keys)
  }

  private def writeProperties(props: Map[String, String]): Unit = {
    propsCache = null // own writes visible before the commit publishes
    if (props.isEmpty) { fs.delete(propertiesFile, false); return }
    fs.mkdirs(new Path(logDir))
    val tmp = new Path(logDir, s".properties.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(Serialization.write(props).getBytes("UTF-8"))
    finally out.close()
    fs.delete(propertiesFile, false)
    if (!fs.rename(tmp, propertiesFile)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"failed to publish properties at $path")
    }
  }

  private def recordPropertiesCommit(op: String, keys: Seq[String]): Unit =
    if (exists)
      commitSchemaChange("properties",
        Map("op" -> op, "keys" -> keys.mkString(",")))(identity)

  /** The settings THIS table operates under: session settings overridden
    * by the persisted properties. Consulted per write/maintenance call —
    * one tiny sidecar read against a parquet write's cost. */
  private[tables] def effectiveSettings: GraftSettings =
    tableProperties.foldLeft(settings) { case (s, (k, v)) =>
      GraftSettings.withSetting(s, k, v).getOrElse(s)
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

  /** A file-less, dataChange=false commit through the funnel: it reads no
    * file, so it commutes with every interleaved writer, and `schemaJson`
    * re-reads the current schema per attempt. */
  private def commitMetadata(action: String, info: Map[String, String])(
      schemaJson: () => String): Commit =
    commitRewrite(action, version, Seq.empty, Seq.empty, mayOverlap = _ => false,
      schemaJson, info, dataChange = false)

  private def currentSchemaOrFail: String = snapshot().schemaJson.getOrElse(
    throw new IllegalStateException(s"table does not exist: $path"))

  /** Drop a persisted CHECK constraint. */
  def dropConstraint(name: String, ifExists: Boolean = false): Unit = {
    val cur = constraints
    if (!cur.contains(name)) {
      if (ifExists) return
      throw new IllegalArgumentException(
        s"no constraint named $name on $path (have: ${cur.keys.mkString(", ")})")
    }
    writeConstraints(cur - name)
    recordConstraintCommit("drop", name, cur(name))
  }

  /** Governed protocol DOWNGRADE (Delta's `ALTER TABLE ... DROP FEATURE`):
    * remove `name` from the table's required reader/writer feature union
    * once nothing CURRENT depends on it — the exit ramp the gates need
    * (e.g. REORG PURGE sheds every deletion vector, then `dropFeature
    * ("dv")` lets feature-blind readers serve the table again; the
    * manifest route documents exactly this sequence).
    *
    * Safety: the drop is a commit the snapshot fold SUBTRACTS at its
    * version — later commits re-add the feature the moment content
    * requires it again, and the content-derived self-heal re-adds it if
    * the resulting state still depends on it, so a drop can never
    * under-gate; refusals below make the no-op case loud. Time travel AT
    * versions below the drop still carries the feature (those folds never
    * reach the drop commit) — history keeps its true requirements. A
    * PRE-DROP binary replaying the log keeps the feature in its union
    * (it ignores the drop marker) and over-gates — the conservative-safe
    * direction. The drop force-writes a checkpoint so cold opens start
    * from the reduced union immediately. Admin DDL: single-writer, like
    * [[setBucketSpec]]. */
  def dropFeature(name: String): Commit = {
    require(exists, s"table does not exist: $path")
    val snap = snapshot()
    val required = snap.featureSet ++ snap.writerFeatureSet
    if (!required.contains(name))
      throw new IllegalArgumentException(
        s"table $path does not require feature '$name'" +
          (if (required.isEmpty) " (no features required)"
           else s" (required: ${required.toSeq.sorted.mkString(", ")})"))
    // refuse while CURRENT content/state still depends on it, naming the
    // remedy — a drop that the self-heal would immediately undo is a
    // misunderstanding to surface, not a no-op to hide
    val blocker: Option[String] = name match {
      case GraftProtocol.Dv =>
        Some(s"${snap.dvFor.size} live file(s) still carry deletion " +
          "vectors — purge them first (REORG TABLE ... APPLY (PURGE))")
          .filter(_ => snap.dvFor.nonEmpty)
      case GraftProtocol.ColumnMappingFeature =>
        // overwrite(read()) IS a working remedy: read() serves the
        // logical view with mapping metadata STRIPPED (readDataFiles
        // aliases with the cleaned field metadata), overwrite records the
        // incoming schema verbatim and stages files under its names — so
        // the rewritten table carries logical-named files and a clean
        // schema. Old files' physical names stay correct for time travel
        // (each version reads under ITS commit's schema).
        Some("the schema still carries column-mapping state (renamed/" +
          "dropped columns) — rewrite the table under its final names " +
          "first (overwrite(read()))")
          .filter(_ => snap.schemaJson.exists(GraftProtocol.schemaRequiresMapping))
      case GraftProtocol.PartitionConvert =>
        Some("live files still sit in a converted k=v partition tree — " +
          "flatten first (OPTIMIZE or overwrite)")
          .filter(_ => snap.live.exists(_.contains("/")))
      case GraftProtocol.CheckConstraints =>
        Some(s"CHECK constraint(s) [${constraints.keys.toSeq.sorted.mkString(", ")}] " +
          "are still declared — drop them first")
          .filter(_ => constraints.nonEmpty)
      case GraftProtocol.ChangeDataFeedFeature =>
        Some("table property change_data_feed=true is still set — unset it first")
          .filter(_ => tableProperties.get("change_data_feed")
            .exists(_.equalsIgnoreCase("true")))
      case GraftProtocol.AppendOnlyFeature =>
        Some("table property append_only=true is still set — unset it first")
          .filter(_ => tableProperties.get("append_only")
            .exists(_.equalsIgnoreCase("true")))
      case other =>
        // unreachable for reader features (reads refuse the table first)
        // and refused at the commit gate for writer features — but name
        // the remedy rather than relying on those fences
        Some(s"feature '$other' is not known to this binary — upgrade the " +
          "graft library to manage it")
    }
    blocker.foreach(b => throw new IllegalStateException(
      s"cannot drop feature '$name' from $path: $b"))
    val c = commitMetadata("drop_feature", Map("feature" -> name))(() => currentSchemaOrFail)
    // checkpoint NOW (off-cadence): cold opens and vacuumLog-trimmed
    // tables must start from the union WITHOUT the feature — waiting
    // for the cadence would leave the drop invisible to any reader
    // whose fold starts from the previous checkpoint's union
    maybeWriteCheckpoint(c.version, force = true)
    c
  }

  private def writeConstraints(cs: Map[String, String]): Unit = {
    constraintsCache = null // own writes visible before the commit publishes
    if (cs.isEmpty) { fs.delete(constraintsFile, false); return }
    fs.mkdirs(new Path(logDir))
    val tmp = new Path(logDir, s".constraints.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(Serialization.write(cs).getBytes("UTF-8"))
    finally out.close()
    // delete-then-rename (Hadoop rename refuses an existing destination on
    // some filesystems) — fine under the single-admin-writer DDL contract
    fs.delete(constraintsFile, false)
    if (!fs.rename(tmp, constraintsFile)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"failed to publish constraints at $path")
    }
  }

  /** Constraint DDL on an existing table lands as a metadata commit
    * (dataChange=false, no files) — visible in history, invisible to
    * incremental consumers. A pre-first-commit table has no log schema to
    * stamp, so the DDL is sidecar-only until data arrives. */
  private def recordConstraintCommit(op: String, name: String, pred: String): Unit =
    if (exists)
      commitMetadata("constraint", Map("op" -> op, "name" -> name, "predicate" -> pred)) {
        () => snapshot().schemaJson.getOrElse(Serialization.write(Map.empty[String, String]))
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

  // ------------------------------------------------------------------ log

  /** One listing of the log dir: (commit files, checkpoint files), each
    * sorted by version. A single listStatus RPC — the expensive part of
    * log replay is the per-file OPEN+parse, which [[snapshot]] bounds.
    *
    * CACHED per table instance, revalidated on EVERY access with one
    * existence probe of the next version's commit file: versions are dense
    * ([[commitRewrite]] publishes `base + 1` only once `base` is the head,
    * under the O_EXCL claim mutex, so no version is ever skipped), which
    * makes "v+1 absent" a proof that the cached listing is still current. An external writer's commit is
    * therefore visible immediately — there is NO stale-read window, unlike
    * a TTL cache — while the steady state costs one HEAD-class RPC instead
    * of a LIST plus k opens. On an object store, where every log RPC is
    * 10-50ms, this is what keeps a multi-table ingest's per-batch fixed
    * cost flat: an ingest touches each of its tables' logs many times
    * (exists/version/read/append), and only genuine commits pay a re-list. */
  private def listLog(): (Seq[Path], Seq[Path]) = {
    val cached = listingCache
    if (cached != null) {
      val nextV = cached._1.lastOption.map(versionOf).getOrElse(0L) + 1L
      if (!fs.exists(new Path(logDir, f"$nextV%020d.json"))) return cached
    }
    val dir = new Path(logDir)
    val fresh =
      if (!fs.exists(dir)) (Seq.empty[Path], Seq.empty[Path])
      else {
        val all = fs.listStatus(dir).toSeq.map(_.getPath)
        // checkpoints sort (version, json, parquet) by NAME — so where an
        // older writer left a JSON checkpoint beside the parquet one, the
        // parquet file lists AFTER it and the newest-first reader in
        // [[snapshot]] prefers it
        (all.filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName),
          all.filter(_.getName.matches("\\d{20}\\.checkpoint\\.(json|parquet)")).sortBy(_.getName))
      }
    listingCache = fresh
    fresh
  }

  @volatile private var listingCache: (Seq[Path], Seq[Path]) = null

  /** Drop the cached listing — called after every local mutation of the
    * log (commit publish, checkpoint write/trim), and available to force a
    * re-list. Correctness never depends on calling it: the next-version
    * probe in [[listLog]] detects foreign commits on its own. */
  private def invalidateListing(): Unit = listingCache = null

  private def versionOf(p: Path): Long = p.getName.take(20).toLong

  /** Newest parsed checkpoint, keyed by file name (write-once files). */
  @volatile private var ckptCache: (String, LogCheckpoint) = null

  /** Parsed-commit cache: commit files are immutable once published (the
    * claim protocol in [[writeCommit]] means a name is written exactly
    * once, ever), so parses are cacheable indefinitely. Keyed by file
    * name; cleared wholesale if it ever grows past a bound so a
    * long-history table can't pin unbounded driver memory. */
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Commit]()

  private def parseCommit(p: Path): Commit = {
    val name = p.getName
    val hit = commitCache.get(name)
    if (hit != null) return hit
    val in = try fs.open(p) catch {
      case e: java.io.FileNotFoundException =>
        // a foreign vacuumLog trimmed a commit this handle had listed —
        // the next-version probe can only detect ADDED files, so the
        // stale cache must be dropped here; fail with the trim contract's
        // loud error (a retried call re-lists and succeeds or reports the
        // trimmed horizon)
        invalidateListing()
        throw new IllegalStateException(
          s"commit file $name of $path vanished (log trimmed by a " +
            "concurrent vacuumLog) — retry the operation against the " +
            "re-listed log", e)
    }
    val c = try JsonMethods.parse(in).extract[Commit]
    finally in.close()
    // the protocol gate: EVERY read surface (batch, SQL, native relation,
    // streaming, CDF, time travel, history) parses commits here, so a
    // future-feature commit refuses before any surface serves a row.
    // Checked before caching — a refused commit is never half-admitted.
    GraftProtocol.requireReadable(c.features.getOrElse(Nil), path,
      s"commit v${c.version}")
    if (commitCache.size > 4096) commitCache.clear()
    commitCache.put(name, c)
    c
  }

  /** Every commit, oldest first — read only by [[history]] without a limit
    * (`DESCRIBE HISTORY`) and [[vacuum]]. Per-batch readers
    * parse just their versions ([[commitsInRange]], [[commitsNewestFirst]]);
    * current-state reads go through [[snapshot]]. */
  def commits(): Seq[Commit] = listLog()._1.map(parseCommit)

  /** Commits in `(fromExclusive, toInclusive]`, oldest first — file names
    * are version-filtered BEFORE any parse, so a per-trigger consumer
    * (the streaming sources' admission/tail reads) pays O(range) JSON
    * parses per call, not O(history), even once the log outgrows the
    * parse cache's bound. */
  def commitsInRange(fromExclusive: Long, toInclusive: Long): Seq[Commit] =
    listLog()._1.iterator.filter { p =>
      val v = versionOf(p); v > fromExclusive && v <= toInclusive
    }.map(parseCommit).toSeq

  /** Lazily parsed commits, NEWEST first — for consumers that stop at the
    * first hit (the streaming sink's replay probe): parsing stops the
    * moment the caller stops pulling. */
  def commitsNewestFirst: Iterator[Commit] =
    listLog()._1.reverseIterator.map(parseCommit)

  /** Protocol gate for readers that parse only part of the log: the current
    * snapshot gates the newest checkpoint (whose feature union covers every
    * version below it) and each tail commit, so this refuses exactly what a
    * whole-log walk would, for a snapshot whose parses are cached. */
  private def requireReadableLog(): Unit = snapshot()

  /** Guard for consumers that replay commits in `(fromExclusive, ...]`:
    * throws when the log no longer holds them (trimmed by [[vacuumLog]])
    * — a silent partial replay would be wrong results, not staleness. */
  private[tables] def requireLogSince(fromExclusive: Long, what: String): Unit =
    listLog()._1.headOption.map(versionOf).foreach { oldest =>
      // oldest == 1 means untrimmed: versions below 1 never existed, so a
      // sub-1 start (e.g. startingVersion=0 = full history) is vacuous
      if (oldest > 1 && fromExclusive + 1 < oldest)
        throw new IllegalStateException(
          s"$what needs commits from v${fromExclusive + 1}, but the log of " +
            s"$path is trimmed below v$oldest (vacuumLog) — the requested " +
            "history no longer exists")
    }

  /** Replayed state at `asOf`: the newest checkpoint at or below `asOf`
    * plus only the commit files after it. With no usable checkpoint (none
    * written yet, `asOf` below the oldest one, or an unreadable file) the
    * raw log replays in full — correctness never depends on a checkpoint
    * existing. */
  private[tables] def snapshot(asOf: Long = Long.MaxValue,
      healFromSidecars: Boolean = false): LogCheckpoint = {
    val (commitFiles, ckptFiles) = listLog()
    // newest version first; within a version the PARQUET checkpoint first
    // (the columnar/distributed read — [[ParquetCheckpoint]]) with a JSON
    // checkpoint an older writer laid as per-file fallback. Any unreadable
    // candidate just tries the next — a checkpoint is an optimization,
    // never a correctness input.
    val base = ckptFiles.filter(versionOf(_) <= asOf).reverseIterator.flatMap { p =>
      val cached = ckptCache
      if (cached != null && cached._1 == p.getName) Some(cached._2)
      else try {
        val parsed =
          if (p.getName.endsWith(".parquet"))
            ParquetCheckpoint.read(spark, fs, spark.sessionState.newHadoopConf(),
              p, effectiveSettings.logCheckpointDistributedReadBytes)
          else {
            val in = fs.open(p)
            try JsonMethods.parse(in).extract[LogCheckpoint]
            finally in.close()
          }
        // gate BEFORE caching/serving: a checkpoint is the only feature
        // record that survives vacuumLog, so a trimmed future-feature
        // table must refuse here, not fall back to an older checkpoint
        GraftProtocol.requireReadable(parsed.featureSet, path,
          s"checkpoint v${parsed.version}")
        // every commit records its schema, so live files without one can
        // only come from a hand-laid checkpoint: unreadable, like any other
        require(parsed.live.isEmpty || parsed.schemaJson.isDefined,
          s"checkpoint v${parsed.version} has live files but no schema")
        ckptCache = (p.getName, parsed) // checkpoint files are write-once too
        Some(parsed)
      } catch {
        // unreadable checkpoints degrade (optimization, never correctness);
        // an UNSUPPORTED table is a refusal, not a degrade
        case e: UnsupportedTableFeatureException => throw e
        case scala.util.control.NonFatal(_) => None
      }
    }.nextOption().getOrElse(LogCheckpoint(0L, Seq.empty, None, Map.empty))
    // trimmed-log soundness: versions are dense, so the replay from `base`
    // to `asOf` is complete iff the first commit after base survives (or
    // there is nothing to replay). A missing prefix would SILENTLY yield
    // the wrong snapshot — fail loudly instead (vacuumLog's contract:
    // history below the horizon errors, never lies).
    val head = commitFiles.lastOption.map(versionOf).getOrElse(0L)
    val oldest = commitFiles.headOption.map(versionOf).getOrElse(Long.MaxValue)
    if (math.min(asOf, head) > base.version && base.version + 1 < oldest)
      throw new IllegalStateException(
        s"cannot reconstruct version ${math.min(asOf, head)} of $path: the log " +
          s"is trimmed below v$oldest (vacuumLog) and no checkpoint at or below " +
          "the requested version survives")
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    live ++= base.live
    var schemaJson = base.schemaJson
    var stats = base.stats
    var dvs = base.dvFor
    var feats = base.featureSet
    var wfeats = base.writerFeatureSet
    var v = base.version
    commitFiles
      .filter(p => { val pv = versionOf(p); pv > base.version && pv <= asOf })
      .foreach { p =>
        val c = parseCommit(p)
        c.remove.foreach(live -= _)
        live ++= c.add
        schemaJson = Some(c.schemaJson)
        stats = stats ++ c.stats.getOrElse(Map.empty)
        // a removed file's DV dies with it; an entry rebinds; the Cleared
        // sentinel unbinds (restore to a pre-delete version)
        dvs = dvs -- c.remove
        c.dvs.getOrElse(Map.empty).foreach { case (f, dv) =>
          dvs = if (dv == DeletionVectors.Cleared) dvs - f else dvs + (f -> dv)
        }
        feats ++= c.features.getOrElse(Nil) // monotone union, like Delta
        wfeats ++= c.writerFeatures.getOrElse(Nil)
        // pre-gate self-heal (content side): a commit that RECORDED change
        // files is durable evidence CDF consumers exist, even if the
        // commit predates writer-feature stamping
        if (c.changes.isDefined) wfeats += GraftProtocol.ChangeDataFeedFeature
        // a governed protocol downgrade (Delta's DROP FEATURE,
        // [[dropFeature]]): subtract the named feature from the union
        // accumulated SO FAR — later commits re-add it if their content
        // requires, and the content self-heal below re-adds it if the
        // RESULTING state still depends on it, so a drop can never
        // under-gate. Versions BELOW the drop keep gating (their fold
        // never reaches this commit) — time travel semantics preserved.
        if (c.action == "drop_feature") c.metrics.get("feature").foreach { f =>
          feats -= f; wfeats -= f
        }
        v = c.version
      }
    // content-derived union ON TOP of the recorded sets: a PRE-GATE
    // history (commits written before features existed) still yields a
    // correctly-gated snapshot, so the next checkpoint write self-heals
    // the table's gating — without this, trimming a pre-gate log would
    // leave a checkpoint a feature-blind foreign reader happily misreads
    if (dvs.nonEmpty) feats += GraftProtocol.Dv
    if (live.exists(_.contains("/"))) feats += GraftProtocol.PartitionConvert
    if (schemaJson.exists(GraftProtocol.schemaRequiresMapping))
      feats += GraftProtocol.ColumnMappingFeature
    // STATE-derived writer self-heal — the sidecar expectations the fold
    // cannot see (both version-cached, so this costs one RPC per version
    // change, not per snapshot): a PRE-GATE table with declared
    // constraints/properties writer-gates immediately, not only after its
    // next stamped commit, and a dropFeature racing a constraint/property
    // declaration re-gains the feature here — mirroring the dv content
    // heal above, so neither union can ever under-claim what the current
    // table actually requires. CURRENT-version folds only: the sidecars
    // describe the table NOW, so grafting them onto a time-travel fold
    // would claim writer features the historical version never had (and a
    // fresh asOf fold could disagree with the checkpoint written at that
    // version) — history keeps its true, purely log-derived requirements.
    // `healFromSidecars` forces the heal when the CALLER knows the fold
    // targets the version it just committed ([[maybeWriteCheckpoint]]):
    // without it, a concurrent writer publishing asOf+1 between the commit
    // and this listing advances `head` past asOf and a pre-gate table's
    // checkpoint would silently under-claim its declared writer features.
    if (healFromSidecars || asOf >= head) {
      if (constraints.nonEmpty) wfeats += GraftProtocol.CheckConstraints
      val declaredProps = tableProperties
      if (declaredProps.get("change_data_feed").exists(_.equalsIgnoreCase("true")))
        wfeats += GraftProtocol.ChangeDataFeedFeature
      if (declaredProps.get("append_only").exists(_.equalsIgnoreCase("true")))
        wfeats += GraftProtocol.AppendOnlyFeature
    }
    LogCheckpoint(v, live.toSeq, schemaJson, stats,
      if (dvs.isEmpty) None else Some(dvs),
      if (feats.isEmpty) None else Some(feats.toSeq.sorted),
      if (wfeats.isEmpty) None else Some(wfeats.toSeq.sorted))
  }

  /** Persist [[snapshot]] as `<version>.checkpoint.parquet` when the
    * version hits the configured cadence (or unconditionally with
    * `force = true` — [[dropFeature]] checkpoints its own commit so
    * snapshots immediately start from a union WITHOUT the dropped
    * feature). Runs AFTER the commit claim was released, so it never
    * stretches the claim window. Best-effort: a checkpoint is an
    * optimization, so any failure (a concurrent writer already published
    * it, a transient fs error) is swallowed — readers fall back to the
    * commits themselves. */
  private def maybeWriteCheckpoint(version: Long, force: Boolean = false): Unit = {
    val interval = effectiveSettings.logCheckpointInterval
    if (!force && (interval <= 0 || version % interval != 0)) return
    try {
      // the commit that triggered this checkpoint IS the current version
      // from this writer's viewpoint — request the sidecar heal explicitly
      // so a concurrent v+1 publish can't race it off (see [[snapshot]])
      val snap = snapshot(version, healFromSidecars = true)
      val liveSet = snap.live.toSet
      val trimmed = snap.copy(
        stats = snap.stats.filter { case (f, _) => liveSet(f) },
        dvs = Some(snap.dvFor.filter { case (f, _) => liveSet(f) })
          .filter(_.nonEmpty))
      ParquetCheckpoint.write(fs, spark.sessionState.newHadoopConf(), logDir,
        f"$version%020d.checkpoint.parquet", trimmed)
      invalidateListing() // the listing gained a checkpoint file
      // superseded checkpoints are pure redundancy (every commit file is
      // retained forever) — keep the newest two VERSIONS (a version may
      // still hold a JSON checkpoint an older writer laid) so a reader
      // holding a just-taken listing never loses the file it picked,
      // drop the rest
      val cks = listLog()._2
      val keep = cks.map(versionOf).distinct.sorted.takeRight(2).toSet
      cks.filterNot(p => keep(versionOf(p))).foreach(p => fs.delete(p, false))
      invalidateListing() // ...and may have lost some
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The log's current schema JSON (None when the table does not exist):
    * the evolved-union contract log-schema readers consume. */
  def currentSchemaJson: Option[String] = snapshot().schemaJson

  /** Current version off the commit FILE NAMES — no JSON parse at all. */
  def version: Long =
    listLog()._1.lastOption.map(versionOf).getOrElse(0L)

  def exists: Boolean = listLog()._1.nonEmpty

  /** Live data files at `asOf` (defaults to current). */
  def liveFiles(asOf: Long = Long.MaxValue): Seq[String] = snapshot(asOf).live

  /** The newest version committed at or before `timestampMs` — the
    * Delta `TIMESTAMP AS OF` convention, shared by the SQL time-travel
    * rule and the `timestampAsOf` reader option. */
  def versionAt(timestampMs: Long): Long = {
    requireReadableLog()
    commitsNewestFirst.find(_.timestampMs <= timestampMs).map(_.version)
      .getOrElse(throw new IllegalArgumentException(
        s"no commit at or before timestamp $timestampMs in $path " +
          s"(earliest: ${listLog()._1.headOption.map(parseCommit(_).timestampMs).getOrElse(-1L)})"))
  }

  /** Publish one commit file atomically with real conflict detection.
    *
    * Rename alone cannot detect a version race: POSIX rename OVERWRITES an
    * existing destination, so two writers renaming onto the same version
    * file would silently lose one commit. Protocol: (1) claim the version
    * through the session's [[LogStore]] (default: an O_EXCL create,
    * atomic on local fs and HDFS; S3-class stores plug a conditional-PUT
    * or arbiter-backed store via `spark.graft.logStore.class` — the
    * claim's atomicity is the ONLY storage-specific piece of the
    * protocol); (2) under the claim, check the version file doesn't
    * already exist (a finished writer releases its claim, but its commit
    * file remains forever); (3) write-then-rename so readers never see
    * partial content. Losers throw `concurrent commit`; [[commitRewrite]]
    * catches it, checks the winner against its read set and retries.
    *
    * Crashed-winner recovery is LEASE-based, no FSCK required: a claim
    * older than `spark.graft.logStore.claimTtlMs` (default 10 min; claims
    * are held for milliseconds — the post-commit checkpoint write runs
    * AFTER release, outside the claim window) is broken and re-claimed
    * inline. The mirror-image hazard — a slow-but-alive winner whose
    * lease someone broke — is closed by re-verifying [[LogStore
    * .stillHeld]] immediately before the publish rename: a usurped
    * writer aborts with `concurrent commit` instead of renaming over the
    * usurper's published file. */
  private def writeCommit(c: Commit): Unit = {
    fs.mkdirs(new Path(logDir))
    val name = f"${c.version}%020d.json"
    val dst = new Path(logDir, name)
    val store = LogStore.forSession(spark)
    val dir = new Path(logDir)
    def conflict() = {
      // diagnostic payload: a retry-exhausted writer's error must say WHY
      // the version stayed unavailable (published file vs a held/orphaned
      // claim) — the difference between a livelock and a protocol bug.
      // Probed THROUGH the store seam: with an arbiter store the claim
      // lives in a database row, and a hardcoded marker-file probe would
      // report "no claim" about the very claim that blocked the commit
      val state = try {
        val m = store.claimAgeMs(fs, dir, name) match {
          case Some(age) => s"claim held, age ${age}ms"
          case None      => "no visible claim"
        }
        s"(version file exists=${fs.exists(dst)}; $m)"
      } catch { case scala.util.control.NonFatal(_) => "(state probe failed)" }
      throw new IllegalStateException(
        s"concurrent commit detected for version ${c.version} at $path $state")
    }
    if (!store.tryClaim(fs, dir, name)) {
      val ttl = spark.conf.get(LogStore.ClaimTtlKey,
        LogStore.DefaultClaimTtlMs.toString).toLong
      // witness BEFORE age: the break is scoped to the exact claim whose
      // expiry was observed, so a contender that broke+re-claimed between
      // our two reads keeps its fresh claim (breakClaim compares identity)
      val recovered = ttl > 0 && {
        val witness = store.claimWitness(fs, dir, name)
        store.claimAgeMs(fs, dir, name).exists(_ > ttl) && {
          store.breakClaim(fs, dir, name, witness)
          store.tryClaim(fs, dir, name)
        }
      }
      if (!recovered) conflict()
    }
    try {
      if (fs.exists(dst)) conflict()
      val tmp = new Path(logDir, s".$name.${UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(Serialization.write(c).getBytes("UTF-8"))
      finally out.close()
      // pre-publish re-verify: if FSCK or a lease-break cleared our claim
      // (and possibly handed the version to another writer), the rename
      // below would OVERWRITE its commit — abort instead
      if (!store.stillHeld(fs, dir, name)) {
        fs.delete(tmp, false)
        conflict()
      }
      // publish through the store: atomic no-overwrite (hard link on
      // file:, HDFS-contract rename elsewhere) — even if a dual-holder
      // window opened despite the witness-scoped break, the second
      // publisher FAILS here instead of replacing the first's commit
      if (!store.publish(fs, tmp, dst)) {
        fs.delete(tmp, false)
        conflict()
      }
    } finally {
      // a release failure must NEVER mask the commit's outcome: with an
      // arbiter store this is a network call, and a DB blip after a
      // SUCCESSFUL publish would otherwise convert the success into an
      // exception (a retrying caller would then double-append). The claim
      // row/marker it leaves behind recovers via the TTL break.
      try store.release(fs, dir, name)
      catch {
        case scala.util.control.NonFatal(e) =>
          LogStore.warnReleaseFailed(dir, name, e)
      }
      // whether we published or lost the race, the log changed (or is
      // about to): drop the cached listing so the next read re-lists
      invalidateListing()
    }
  }

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

  /** The recorded schema of `snap`. [[snapshot]] never serves live files
    * without one, so only a table that does not exist yet lacks it. */
  private def schemaOf(snap: LogCheckpoint): String =
    snap.schemaJson.getOrElse(
      throw new IllegalStateException(s"table does not exist: $path"))

  /** The data files [[changesByVersion]] names for one batch of versions,
    * read under the log schema at `version` (the batch's last version):
    * logical column names, dir-derived partition columns, and no footer
    * merge. The files are read as added: deletion vectors bound later
    * are not applied. */
  def readChangedFiles(files: Seq[String], version: Long): DataFrame =
    readDataFiles(files.map(_.stripPrefix(s"$path/")), schemaOf(snapshot(version)))

  /** Driver-side load of the DV bitmaps bound to `files` (only entries
    * for scanned files load — O(scanned DVs), never O(table)). Used by
    * the plan-level apply ([[DeletionVectors.filterDeleted]]); the native
    * relation loads lazily on executors instead. */
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
    prunedFilesOf(snapshot(), predicate)

  private def prunedFilesOf(snap: LogCheckpoint,
      predicate: org.apache.spark.sql.Column): Seq[String] =
    pruneLive(snap,
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
    * invisible, like Delta's dataChange=false). */
  def changesSince(fromExclusive: Long): Seq[String] =
    changesByVersion(fromExclusive).flatMap(_._2)

  /** Same changes grouped per commit version, for consumers that bound
    * batch sizes but must checkpoint on version boundaries. */
  def changesByVersion(fromExclusive: Long): Seq[(Long, Seq[String])] = {
    requireLogSince(fromExclusive, "incremental consumption")
    requireReadableLog()
    commitsInRange(fromExclusive, Long.MaxValue)
      .filter(_.dataChange)
      .map(c => c.version -> c.add.map(f => s"$path/$f"))
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
    if (removesRows && effectiveSettings.appendOnly)
      throw new IllegalStateException(
        s"table $path is append-only (append_only=true): refusing " +
          s"'$action' — it removes or rewrites rows (unset the " +
          "property to run data-changing DML)")
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
    val staged = FsUtils.dataFiles(spark, stagingDir)
    val namesAndStats = staged.map { st =>
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
      if (!fs.rename(p, new Path(path, name)))
        throw new IllegalStateException(s"failed to move staged file $p into $path")
      // stats are keyed bucket-dir-qualified (leaf names repeat across
      // graft_bucket=N/ dirs — see collectStats)
      val stagedKey =
        if (p.getParent.getName.startsWith("graft_bucket="))
          s"${p.getParent.getName}/${p.getName}"
        else p.getName
      // the staging listing already holds the length — record it for free
      name -> statsByStaged.get(stagedKey).map(_.copy(bytes = Some(st.getLen)))
    }
    fs.delete(new Path(stagingDir), true)
    (namesAndStats.map(_._1),
      namesAndStats.collect { case (n, Some(st)) => n -> st }.toMap)
  }

  /** Derive and record the commit's required reader features from its
    * content ([[GraftProtocol.featuresOf]]) and its writer features from
    * table state + content ([[GraftProtocol.writerFeaturesOf]]) — stamped
    * on every attempt of [[commitRewrite]], the one funnel every commit is
    * published through, so no write path can forget either gate. The
    * WRITE-side protocol gate also lives here: a table whose recorded
    * union holds a writer feature this binary does not uphold refuses the
    * commit (reads keep serving — [[parseCommit]]/[[snapshot]]
    * check only the reader set), and a declared append-only table refuses
    * any data-changing commit that removes files or binds deletion
    * vectors (compaction/OPTIMIZE rewrites — dataChange=false, rows
    * preserved — stay allowed, Delta's appendOnly semantics). */
  private def stampFeatures(c: Commit): Commit = {
    // gate BEFORE any claim is attempted: the union survives log trims via
    // the checkpoint, so a hand-laid/future-writer table refuses here even
    // when the commit that recorded the feature is long vacuumed
    GraftProtocol.requireWritable(snapshot().writerFeatureSet, path,
      "the table's commit history/checkpoint")
    val props = tableProperties
    def declared(k: String) = props.get(k).exists(_.equalsIgnoreCase("true"))
    val appendOnlyDeclared = declared("append_only")
    // effectiveSettings already overlays the table properties, so the
    // declared case is subsumed: ONE source of truth for the gate (the
    // separate `declared` probe above exists only for the STAMP, which
    // must bind to table-durable state, not session settings)
    if (effectiveSettings.appendOnly && c.dataChange &&
        (c.remove.nonEmpty ||
          c.dvs.exists(_.values.exists(_ != DeletionVectors.Cleared))))
      throw new IllegalStateException(
        s"table $path is append-only (append_only=true): refusing " +
          s"'${c.action}' — it removes or rewrites rows (unset the " +
          "property to run data-changing DML)")
    c.copy(features = GraftProtocol.featuresOf(c),
      writerFeatures = GraftProtocol.writerFeaturesOf(c,
        hasCheckConstraints = constraints.nonEmpty,
        cdfDeclared = declared("change_data_feed"),
        appendOnlyDeclared = appendOnlyDeclared))
  }

  /** Test seam: invoked once just before a commit's first attempt (inside
    * [[commitRewrite]], which every commit passes through), so specs can
    * deterministically interleave a foreign commit into the
    * snapshot->publish window. No-op in production. */
  private[tables] var onBeforeRewriteCommit: () => Unit = () => ()

  /** The one commit funnel: builds, stamps ([[stampFeatures]]), publishes
    * ([[writeCommit]]), retries and checkpoints EVERY commit, with
    * Delta-style LOGICAL conflict detection.
    *
    * A commit's file sets were computed against the snapshot at
    * `baseVersion`, so it targets EXACTLY `baseVersion + 1` — never a
    * re-read `version + 1`, which would silently publish over an
    * interleaved writer (lost update: our `remove` list wouldn't cover
    * its files, leaving both its rows and our merged output live). When
    * another commit owns that version, the interleaved commits are
    * examined instead of failing outright:
    *
    *  - one REMOVED a file this txn read -> real conflict, fail loudly
    *    (our rewrite was computed from files that no longer exist);
    *  - one ADDED files that `mayOverlap` says can hold rows in this
    *    txn's scope (same buckets for a keyed upsert, stats-compatible
    *    with the predicate for delete/update, every row for overwrite,
    *    restore and convert) -> real conflict (our scan missed rows the
    *    txn semantics must cover);
    *  - otherwise the writes are DISJOINT (different buckets, different
    *    key ranges) and the commit is still valid verbatim: adopt the
    *    new base and retry. Two CDC writers upserting different buckets
    *    of a 100 TB table both land without manual retry. Appends and
    *    metadata commits read no file and pass `mayOverlap = _ => false`,
    *    so they commute with every interleaved writer.
    *
    * `schemaJson` is re-evaluated per attempt — an interleaved append may
    * have widened the log schema, and no commit may narrow it (metadata
    * commits re-read and re-transform the current schema there). A lost
    * claim (`concurrent commit` from [[writeCommit]]) retries up to 20
    * times with a min(250 ms, 20 ms x attempt) backoff; the give-up error
    * carries the last loser's message. */
  private def commitRewrite(action: String, baseVersion: Long,
      add: Seq[String], remove: Seq[String],
      mayOverlap: Commit => Boolean,
      schemaJson: () => String,
      metrics: Map[String, String],
      stats: Map[String, FileStats] = Map.empty,
      changes: Option[Seq[String]] = None,
      dvs: Map[String, String] = Map.empty,
      dataChange: Boolean = true,
      readAlso: Set[String] = Set.empty): Commit = {
    // the read set is every file whose CONTENT this txn's outputs were
    // computed from: the files it removes AND the files it re-binds a
    // deletion vector onto (their surviving rows were scanned too) —
    // plus `readAlso` for whole-state ops (restore reads every current
    // AND target file, including ones its commit doesn't move)
    val readSet = (remove ++ dvs.keys).toSet ++ readAlso
    onBeforeRewriteCommit()
    onBeforeRewriteCommit = () => ()
    var base = baseVersion
    var attempts = 0
    var lost: IllegalStateException = null
    while (attempts < 20) {
      val now = version
      if (now > base) {
        val interleaved = commitsInRange(base, now)
        interleaved.find(c =>
          c.remove.exists(readSet) ||
            // an interleaved DV rebind on a file we read changes the rows
            // our scan saw — same severity as a rewrite of that file
            c.dvs.getOrElse(Map.empty).keys.exists(readSet) ||
            (c.add.nonEmpty && mayOverlap(c)))
          .foreach { c =>
            val why =
              if (c.remove.exists(readSet)) "rewrote file(s) this transaction read"
              else if (c.dvs.getOrElse(Map.empty).keys.exists(readSet))
                "re-bound deletion vector(s) on file(s) this transaction read"
              else "added file(s) that may hold rows in this transaction's scope"
            throw new IllegalStateException(
              s"concurrent ${c.action} commit v${c.version} conflicts with this " +
                s"$action on $path: it $why — re-run against the new table state")
          }
        base = now // disjoint writers: the commit is still valid verbatim
      } else {
        try {
          val c = stampFeatures(Commit(base + 1, action, dataChange,
            System.currentTimeMillis(), add, remove, schemaJson(), metrics,
            if (stats.isEmpty) None else Some(stats), changes,
            if (dvs.isEmpty) None else Some(dvs)))
          writeCommit(c)
          maybeWriteCheckpoint(c.version)
          return c
        } catch {
          case e: IllegalStateException if e.getMessage.contains("concurrent commit") =>
            lost = e
            attempts += 1 // loop re-reads the log and validates the winner
            // linear backoff, capped: the winner needs time to publish its
            // version file, and the ~3.5 s budget must survive a LOADED
            // machine pausing the claim holder (N writers burning their
            // budgets on one stalled winner was an observed flake at 1 s)
            Thread.sleep(math.min(250L, 20L * attempts))
        }
      }
    }
    throw new IllegalStateException(s"$action on $path gave up after $attempts " +
      s"contended commit attempts: ${lost.getMessage}", lost)
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
    val names = FsUtils.dataFiles(spark, stagingDir).map(_.getPath).map { p =>
      val name = s"$changesDir/change-$stagingId-${p.getName.stripPrefix("part-")}"
      if (!fs.rename(p, new Path(path, name)))
        throw new IllegalStateException(s"failed to move change file $p into $path")
      name
    }
    fs.delete(new Path(stagingDir), true)
    names
  }

  private[tables] def tagged(df: DataFrame, changeType: String): DataFrame =
    df.withColumn("_change_type", lit(changeType))

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
      // change FILES are written from logical frames (no mapping); DATA
      // files read under the COMMIT's schema, so synthesis sees the
      // mapping true at that version
      def readChangeFiles(names: Seq[String]): Option[DataFrame] =
        if (names.isEmpty) None
        else Some(spark.read.option("mergeSchema", "true")
          .parquet(names.map(n => s"$path/$n"): _*))
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
    def readOf(files: Seq[String]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(DeletionVectors.filterDeleted(
        readDataFiles(files, schemaOf(snap0)),
        spark, loadDvs(snap0.dvFor, files), qualifiedRootUris))
    val (oldFiles, current, touchedBuckets, keyAtoms) =
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
          (affected, readOf(affected), Some(buckets), Seq(PredOpaque: PredAtom))
        case _ =>
          // unbucketed table: the SAME stats pruning as the SQL MERGE —
          // one min/max aggregate over the batch's keys bounds the files
          // that can hold matched rows (sound: a file whose key range is
          // disjoint from the batch's can lose no row to the anti-join).
          // Key-clustered tables get the bucketed path's O(batch) shape;
          // uniform keys degrade to the old whole-table rewrite.
          val atoms = keyRangeAtoms(updates, keyCols)
          val affected = pruneLive(snap0, atoms)
          (affected, readOf(affected), None, atoms)
      }
    // a keyed upsert rewrites (= removes) every affected file; a batch
    // whose keys touch no stored file is a pure insert and stays allowed
    // on append-only — the funnel's exact remove-scope, probed pre-stage
    preWriteGate("upsert", removesRows = oldFiles.nonEmpty)
    // CDF: the affected-file snapshot and the update batch each feed the
    // merge AND the change-row joins — materialize once, not per consumer
    val snap = if (effectiveSettings.changeDataFeed) current.map(graft.ext.Parallelism.materialize(_)(effectiveSettings)) else current
    val ups = if (effectiveSettings.changeDataFeed) graft.ext.Parallelism.materialize(upserted)(effectiveSettings) else upserted
    val merged = snap match {
      case Some(df) =>
        df.join(updateKeys, keyCols, "left_anti")
          .unionByName(ups, allowMissingColumns = true)
      case None => ups
    }
    val changeFiles: Option[Seq[String]] =
      if (!effectiveSettings.changeDataFeed) None
      else Some(stageChangeRows(snap match {
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
    val (add, stats) = stage(merged)
    commitRewrite("upsert", snap0.version, add, oldFiles,
      // a keyed upsert's scope is its key buckets: an interleaved commit
      // adding files only in OTHER buckets cannot hold our keys (the
      // writer hashed them the same way) — disjoint, safe to retry. An
      // unbucketed table answers with the key-range atoms instead: an
      // interleaved append whose stats prove disjoint keys is safe too.
      mayOverlap = c => touchedBuckets match {
        case Some(bs) => c.add.exists(f => bucketOf(f).forall(bs.contains))
        case None     => mayMatchPredicate(keyAtoms)(c)
      },
      schemaJson = () => unionSchemaJson(merged.schema),
      Map("numOutputFiles" -> add.size.toString,
        "numRewrittenFiles" -> oldFiles.size.toString),
      stats, changes = changeFiles)
  }

  /** Data-skipping atoms bounding a keyed batch: per key column, the
    * batch's [min, max] as range conjuncts — ONE tiny aggregate over the
    * batch. A key whose batch values are all NULL contributes nothing
    * (NULL equals no stored key, so it constrains no file); if no key
    * yields a range the result degrades to [[PredOpaque]] (no pruning,
    * conservative conflicts) rather than an unsound empty-range claim. */
  private def keyRangeAtoms(updates: DataFrame,
      keyCols: Seq[String]): Seq[PredAtom] = {
    val aggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
    val row = updates.agg(aggs.head, aggs.tail: _*).head()
    val atoms = keyCols.zipWithIndex.flatMap { case (k, i) =>
      (row.get(2 * i), row.get(2 * i + 1)) match {
        case (mn, mx) if mn != null && mx != null =>
          Seq(PredCmp(">=", k, mn), PredCmp("<=", k, mx))
        case _ => Seq.empty
      }
    }
    if (atoms.isEmpty) Seq(PredOpaque) else atoms
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
    val root = fs.makeQualified(new Path(path))
    val listed = FsUtils.dataFiles(spark, path)
    require(listed.nonEmpty, s"nothing to convert: no data files under $path")
    require(listed.forall(_.getPath.getName.endsWith(".parquet")),
      s"cannot convert $path: non-parquet data files present")
    val rootPrefix = root.toUri.getPath.stripSuffix("/") + "/"
    def rel(st: org.apache.hadoop.fs.FileStatus): String = {
      val p = fs.makeQualified(st.getPath).toUri.getPath
      require(p.startsWith(rootPrefix), s"internal: $p not under $root")
      p.stripPrefix(rootPrefix)
    }
    val rels = listed.map(rel)
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
    val sizes = listed.map(st => rel(st) -> st.getLen).toMap
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
          isStatType(f.dataType) && !partKeys.contains(f.name)).toSeq, rel)
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
    deleteImpl(predicate,
      org.apache.spark.sql.graftbridge.ColumnBridge.conjuncts(predicate))

  /** [[delete]] with pre-extracted skipping atoms — the SQL DML path
    * extracts them from the ANALYZED Catalyst condition
    * ([[ExpressionAtoms]]) instead of the ColumnNode tree. */
  private[tables] def deleteImpl(predicate: org.apache.spark.sql.Column,
      atoms: Seq[PredAtom]): Option[Commit] = {
    val snap = snapshot() // pinned: file set AND conflict base version
    val affected = pruneLive(snap, atoms)
    if (affected.isEmpty) return None
    // probed before the DV scan OR the rewrite stages anything: either
    // shape removes rows (file drops or DV binds) when it commits at all
    preWriteGate("delete", removesRows = true)
    if (effectiveSettings.deletionVectors)
      dvMark(predicate, atoms, snap, affected, assignments = None) match {
        case Right(commit) => return commit
        case Left(_)       => () // over the cap: fall through to the rewrite
      }
    val srcRaw = DeletionVectors.filterDeleted(
      readDataFiles(affected, schemaOf(snap)),
      spark, loadDvs(snap.dvFor, affected), qualifiedRootUris)
    // CDF consumes the source twice (remaining + deleted rows)
    val src = if (effectiveSettings.changeDataFeed) graft.ext.Parallelism.materialize(srcRaw)(effectiveSettings) else srcRaw
    // SQL DELETE semantics: remove rows where the predicate is TRUE; rows
    // where it is NULL are kept (a bare !predicate would drop them)
    val remaining = src.filter(!coalesce(predicate, lit(false)))
    val changeFiles =
      if (effectiveSettings.changeDataFeed)
        Some(stageChangeRows(tagged(src.filter(coalesce(predicate, lit(false))), "delete")))
      else None
    val (add, stats) = stage(remaining)
    Some(commitRewrite("delete", snap.version, add, affected,
      mayOverlap = mayMatchPredicate(atoms),
      // a DELETE never changes the schema: re-record the CURRENT log
      // schema (per attempt — an interleaved append may widen it).
      // Staging from a parquet read flips nullability, which would break
      // catalog tables' user-specified schema equality on re-resolution.
      schemaJson = () => currentSchemaJson.getOrElse(unionSchemaJson(remaining.schema)),
      Map("numRewrittenFiles" -> affected.size.toString,
        "numOutputFiles" -> add.size.toString), stats, changes = changeFiles))
  }

  /** The deletion-vector DML core, shared by [[deleteImpl]] (no
    * `assignments`) and [[updateImpl]] (update = DV-mark the old row
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
    val raw = readDataFiles(affected, schemaOf(snap))
    assignments.foreach(_.keys.foreach(name =>
      require(raw.columns.contains(name), s"unknown column '$name' in update")))
    val src = DeletionVectors.filterDeleted(raw, spark, loadDvs(snap.dvFor, affected), qualifiedRootUris)
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
      schemaJson = () => currentSchemaJson.getOrElse(unionSchemaJson(raw.schema)),
      Map("numDeletedRows" -> totalMatched.toString,
        "numDeletionVectors" -> newDvs.size.toString,
        "numRemovedFiles" -> deadFiles.size.toString) ++ extraMetrics,
      stats, changes = changeFiles, dvs = newDvs)))
  }

  /** Replace `removeFiles` of the snapshot at `baseVersion` with `merged`
    * as one `action` commit through [[commitRewrite]] — the rewrite
    * primitive behind SQL MERGE and the subquery DML paths.
    *
    *  - `atoms`: the skipping atoms that SCOPED the rewrite (the MERGE's
    *    source-key ranges, a DELETE's condition conjuncts). They drive the
    *    conflict probe: an interleaved append whose stats prove disjoint
    *    keys retries safely instead of conflicting. `PredOpaque` (default)
    *    keeps the conservative any-add-conflicts behavior.
    *  - `evolveSchema`: commit the UNION of the current log schema and the
    *    frame's (MERGE `WITH SCHEMA EVOLUTION` — the additive contract
    *    [[append]] implements); default re-records the current schema. */
  private[tables] def replaceWith(action: String, baseVersion: Long,
      removeFiles: Seq[String], merged: DataFrame,
      metrics: Map[String, String],
      atoms: Seq[PredAtom] = Seq(PredOpaque),
      changes: Option[Seq[String]] = None,
      evolveSchema: Boolean = false): Commit = {
    // backstop for SQL DML callers (their entry points pre-gate earlier,
    // before CDF change rows stage — this covers any future caller)
    preWriteGate(action, removesRows = removeFiles.nonEmpty)
    val (add, stats) = stage(merged)
    commitRewrite(action, baseVersion, add, removeFiles,
      mayOverlap = mayMatchPredicate(atoms),
      schemaJson = () =>
        if (evolveSchema) unionSchemaJson(merged.schema)
        else currentSchemaJson.getOrElse(unionSchemaJson(merged.schema)),
      metrics ++ Map("numOutputFiles" -> add.size.toString,
        "numRewrittenFiles" -> removeFiles.size.toString),
      stats, changes = changes)
  }

  /** Conflict probe for predicate-scoped rewrites: can an interleaved
    * commit's ADDED files hold rows matching the predicate? Answered with
    * the same stats/bucket pruner the rewrite used to pick its files — an
    * interleaved append whose stats prove disjoint key ranges is safe to
    * retry over; missing stats or opaque predicates stay conservative
    * (conflict). */
  private def mayMatchPredicate(atoms: Seq[PredAtom])(c: Commit): Boolean =
    pruneLive(
      LogCheckpoint(c.version, c.add, Some(c.schemaJson), c.stats.getOrElse(Map.empty)),
      atoms).nonEmpty

  /** UPDATE SET: apply `assignments` to rows matching `predicate`, by the
    * same pruned rewrite as [[delete]] — only files that can contain
    * matches are touched. Rows where the predicate is NULL are unchanged
    * (SQL semantics). Returns None when no file can contain a match. */
  def update(predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Option[Commit] =
    updateImpl(predicate,
      org.apache.spark.sql.graftbridge.ColumnBridge.conjuncts(predicate), assignments)

  /** [[update]] with pre-extracted skipping atoms (see [[deleteImpl]]). */
  private[tables] def updateImpl(predicate: org.apache.spark.sql.Column,
      atoms: Seq[PredAtom],
      assignments: Map[String, org.apache.spark.sql.Column]): Option[Commit] = {
    require(assignments.nonEmpty, "update requires assignments")
    val snap = snapshot() // pinned: file set AND conflict base version
    val affected = pruneLive(snap, atoms)
    if (affected.isEmpty) return None
    // same pre-stage probe as deleteImpl: both the DV path and the
    // rewrite path remove/rewrite rows when they commit
    preWriteGate("update", removesRows = true)
    if (effectiveSettings.deletionVectors)
      dvMark(predicate, atoms, snap, affected, Some(assignments)) match {
        case Right(commit) => return commit
        case Left(_)       => () // over the cap: fall through to the rewrite
      }
    val cond = coalesce(predicate, lit(false))
    val srcRaw = DeletionVectors.filterDeleted(
      readDataFiles(affected, schemaOf(snap)),
      spark, loadDvs(snap.dvFor, affected), qualifiedRootUris)
    // CDF consumes the source three times (rewrite + pre/postimage)
    val src = if (effectiveSettings.changeDataFeed) graft.ext.Parallelism.materialize(srcRaw)(effectiveSettings) else srcRaw
    val updated = assignments.foldLeft(src) { case (df, (name, value)) =>
      require(df.columns.contains(name), s"unknown column '$name' in update")
      df.withColumn(name, when(cond, value).otherwise(col(name)))
    }
    val changeFiles =
      if (effectiveSettings.changeDataFeed)
        Some(stageChangeRows(
          tagged(src.filter(cond), "update_preimage")
            .unionByName(tagged(updated.filter(cond), "update_postimage"),
              allowMissingColumns = true)))
      else None
    val (add, stats) = stage(updated)
    Some(commitRewrite("update", snap.version, add, affected,
      mayOverlap = mayMatchPredicate(atoms),
      // UPDATE SET never changes the schema (see the DELETE note)
      schemaJson = () => currentSchemaJson.getOrElse(unionSchemaJson(updated.schema)),
      Map("numRewrittenFiles" -> affected.size.toString,
        "numOutputFiles" -> add.size.toString), stats, changes = changeFiles))
  }

  /** Small-file compaction (reference `jibaro/datalake/delta_handler.py:9-35`):
    * when the live file count exceeds `maxFiles`, rewrite to
    * ceil(totalBytes / compactTargetBytes) files with dataChange=false so
    * incremental consumers skip the rewrite. Returns the commit if run. */
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

  /** Small-file compaction core (reference `jibaro/datalake/delta_handler
    * .py:9-35`): when the live file count exceeds `maxFiles`, rewrite to
    * ceil(totalBytes / compactTargetBytes) files with dataChange=false so
    * incremental consumers skip the rewrite. */
  private def compactWith(maxFiles: Int,
      rewrite: (DataFrame, Int) => DataFrame): Option[Commit] = {
    val snap = snapshot()
    val files = snap.live
    if (files.size <= maxFiles) return None
    // a bucketed stage writes one file per bucket, so a table whose every
    // file carries a distinct bucket id would come back file for file;
    // files without a bucket id (legacy flat writes) still compact
    val spec = bucketSpec
    val ids = files.map(bucketOf)
    if (spec.isDefined && ids.forall(_.isDefined) && ids.distinct.size == ids.size)
      return None
    // log-recorded sizes when present (zero metadata RPCs); HEAD only for
    // files from pre-stats commits
    val totalBytes = files.map(f => snap.stats.get(f).flatMap(_.bytes)
      .getOrElse(fs.getFileStatus(new Path(path, f)).getLen)).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / effectiveSettings.compactTargetBytes).toInt)
    // read EXACTLY the pinned file set, never a fresh snapshot: a commit
    // landing between the pin and the read would have its rows baked into
    // the compacted output while staying live itself — every one of its
    // rows served twice, hidden from incremental consumers by
    // dataChange=false. DVs of the pinned snapshot apply like any read.
    val live = DeletionVectors.filterDeleted(
      readDataFiles(files, schemaOf(snap)), spark,
      loadDvs(snap.dvFor, files), qualifiedRootUris)
    // [[stage]] routes a bucketed table's rows by bucket itself, so a
    // rewrite shuffle before it would be thrown away
    val df =
      if (spec.exists(_.keys.forall(live.columns.contains))) live
      else rewrite(live, target)
    val (add, stats) = stage(df)
    // conflict-checked commit (base = the pinned version): an interleaved
    // rewrite/DV bind on a compacted file means our output holds rows that
    // no longer exist — fail loudly; interleaved appends are disjoint and
    // land the compact against the new base verbatim
    Some(commitRewrite("compact", snap.version, add, files,
      mayOverlap = _ => false,
      schemaJson = () => unionSchemaJson(df.schema),
      Map("numOutputFiles" -> add.size.toString,
        "numRemovedFiles" -> files.size.toString,
        "numCompactedBytes" -> totalBytes.toString),
      stats,
      dataChange = false))
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
    // relativize like vacuum: live names are table-relative paths (a
    // partitioned-tree convert records `k=v/part-...`), so matching on
    // base names would misread every adopted file as missing
    val qualifiedRoot = fs.makeQualified(new Path(path)).toUri.getPath
      .stripSuffix("/") + "/"
    val onDisk = FsUtils.dataFiles(spark, path)
      .map(st => fs.makeQualified(st.getPath).toUri.getPath
        .stripPrefix(qualifiedRoot)).toSet
    val missing = snap.live.filterNot(onDisk)
    // a CRASHED writer's leftovers in the log dir would otherwise live
    // forever: its commit CLAIM blocks that version (the LogStore
    // contract says claims must be operator-recoverable), and its
    // write-temp files (.tmp — commit/checkpoint bodies that never got
    // renamed) are invisible to every reader. Both are held for
    // milliseconds in healthy writes, so age past 10 minutes is
    // decisively stale — FSCK is the operator tool that clears them
    // staleness threshold = the SAME lease TTL writeCommit's recovery
    // honors (spark.graft.logStore.claimTtlMs): two sources of truth for
    // one protocol constant would let repair clear a claim the configured
    // lease still considers live (TTL <= 0 disables lease-breaking, so
    // repair falls back to the default window rather than never clearing)
    val ttlMs = {
      val configured = spark.conf.get(LogStore.ClaimTtlKey,
        LogStore.DefaultClaimTtlMs.toString).toLong
      if (configured > 0) configured else LogStore.DefaultClaimTtlMs
    }
    val staleClaims =
      if (!fs.exists(new Path(logDir))) Seq.empty[Path]
      else fs.listStatus(new Path(logDir)).toSeq
        .filter { st =>
          val n = st.getPath.getName
          (n.endsWith(".claim") || (n.startsWith(".") && n.endsWith(".tmp"))) &&
            st.getModificationTime < System.currentTimeMillis() - ttlMs
        }
        .map(_.getPath)
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
    * rows re-route through the bucket writer, preserving the layout. */
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
    * consumers skip it. None when no DV is live. */
  def purgeDeletionVectors(): Option[Commit] = {
    val snap = snapshot()
    val dvNow = snap.dvFor
    val victims = snap.live.filter(dvNow.contains)
    if (victims.isEmpty) return None
    val stored = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val totalBytes = victims.map(f => snap.stats.get(f).flatMap(_.bytes)
      .getOrElse(fs.getFileStatus(new Path(path, f)).getLen)).sum
    val target = math.max(1,
      math.ceil(totalBytes.toDouble / effectiveSettings.compactTargetBytes).toInt)
    val df = DeletionVectors.filterDeleted(
      readDataFiles(victims, schemaOf(snap)), spark,
      loadDvs(dvNow, victims), qualifiedRootUris)
      .repartition(target)
    val (add, stats) = stage(df)
    Some(commitRewrite("purge", snap.version, add, victims,
      mayOverlap = _ => false,
      schemaJson = () => unionSchemaJson(stored),
      Map("numOutputFiles" -> add.size.toString,
        "numRemovedFiles" -> victims.size.toString,
        "numPurgedDeletionVectors" -> victims.size.toString),
      stats,
      dataChange = false))
  }

  /** The bin-packing core, scoped by pre-extracted predicate atoms (the
    * SQL `OPTIMIZE ... WHERE` entry): only small files whose stats MAY
    * match every atom are packed. The over-approximation is sound —
    * compaction preserves rows exactly, so packing a file the predicate
    * would not have selected costs a rewrite, never correctness. Delta's
    * WHERE selects partitions exactly; file stats are our partition
    * analogue. Empty `atoms` = whole table. */
  private[tables] def optimizeScoped(atoms: Seq[PredAtom]): Option[Commit] = {
    val snap = snapshot()
    if (snap.live.size <= 1 && snap.dvFor.isEmpty) return None
    val inScope: String => Boolean =
      if (atoms.isEmpty) _ => true else pruneLive(snap, atoms).toSet
    val logged = snap.stats
    def sizeOf(f: String): Long =
      logged.get(f).flatMap(_.bytes)
        .getOrElse(fs.getFileStatus(new Path(path, f)).getLen)
    // DV PURGE rides along (Delta's OPTIMIZE does the same): any in-scope
    // file carrying a deletion vector is a rewrite candidate regardless of
    // size — rewriting it materializes the surviving rows and drops the
    // bitmap, restoring the vectorized read path for that data
    val dvNow = snap.dvFor
    val small = snap.live.filter(f => inScope(f) &&
      (dvNow.contains(f) || sizeOf(f) < effectiveSettings.compactTargetBytes))
    if (small.size <= 1 && !small.exists(dvNow.contains)) return None
    val totalBytes = small.map(sizeOf).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / effectiveSettings.compactTargetBytes).toInt)
    // read the small files under the LOG schema: a pre-evolution file's
    // missing columns land as NULL, and the packed output carries the
    // full current schema. Mapping-active snapshots route through the
    // physical-name read; the rewrite also sheds tombstone columns'
    // bytes (old versions still read the ORIGINAL files — time travel
    // is untouched by a dataChange=false rewrite).
    val stored = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val packed = readDataFiles(small, schemaOf(snap))
    val df = DeletionVectors.filterDeleted(packed, spark, loadDvs(dvNow, small), qualifiedRootUris)
      .repartition(target)
    val (add, stats) = stage(df)
    // the bin-packed files are the read set: an interleaved rewrite/DV
    // bind on one conflicts instead of having its pre-rewrite rows
    // resurrected by this commit
    Some(commitRewrite("compact", snap.version, add, small,
      mayOverlap = _ => false,
      schemaJson = () => unionSchemaJson(stored),
      Map("numOutputFiles" -> add.size.toString,
        "numRemovedFiles" -> small.size.toString,
        "numCompactedBytes" -> totalBytes.toString),
      stats,
      dataChange = false))
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
    fs.mkdirs(manifestDir)
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
    val tmp = new Path(manifestDir, s".manifest.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(live.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(manifestDir, "manifest")
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"failed to publish manifest at $dst")
    }
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
      FsUtils.dataFiles(spark, path).map(st => st.getPath.getName -> st.getLen).toMap
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
    // commit names are TABLE-RELATIVE paths (a partitioned-tree convert
    // records `k=v/part-...`), so the listing must relativize the same
    // way — matching on base name alone would misread every adopted
    // partition file as an orphan and delete live data
    val qualifiedRoot = fs.makeQualified(new Path(path)).toUri.getPath
      .stripSuffix("/") + "/"
    val dataOrphans = FsUtils.dataFiles(spark, path)
      .map(st => (st, fs.makeQualified(st.getPath).toUri.getPath
        .stripPrefix(qualifiedRoot)))
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

  /** Trim the COMMIT LOG: delete commit files strictly below the newest
    * checkpoint minus `retainVersions` (the HORIZON), plus the change-data
    * files those commits recorded — the graft twin of Delta's
    * `logRetentionDuration`, counted in versions (deterministic, and what
    * actually bounds the metadata: a year-long ingest's ~100k commit files
    * make the single log `listStatus` itself the bottleneck).
    *
    * Contract:
    *  - CURRENT reads and resumed streaming tails are untouched — replay
    *    starts at the newest checkpoint, and everything at or above
    *    `horizon` survives;
    *  - PER-COMMIT consumers (CDF, streaming tails, `changesSince`) keep
    *    every start point at or above `horizon - 1`; SNAPSHOT time travel
    *    keeps every version at or above the oldest SURVIVING checkpoint
    *    (reconstructing an uncheckpointed version needs the dense commit
    *    prefix, which is exactly what was trimmed). Anything below fails
    *    LOUDLY (the [[requireLogSince]] / [[snapshot]] guards) — trimmed
    *    history errors, it never silently lies;
    *  - REFUSES to trim while a doomed commit's removed data files still
    *    exist on disk: those files are only discoverable through the log
    *    ([[vacuum]]'s accounting), so trimming first would leak them
    *    forever. Run `vacuum()` past its retention first, then this.
    *
    * No-op (returns empty) until a checkpoint exists — the checkpoint IS
    * what replaces the trimmed prefix. Returns the deleted commit file
    * names. */
  def vacuumLog(retainVersions: Int): Seq[String] = {
    require(retainVersions >= 0, "retainVersions must be >= 0")
    val (commitFiles, ckptFiles) = listLog()
    val ckptV = ckptFiles.lastOption.map(versionOf).getOrElse(return Seq.empty)
    val horizon = ckptV - retainVersions
    val doomed = commitFiles.filter(versionOf(_) < horizon)
    if (doomed.isEmpty) return Seq.empty
    val snapNow = snapshot()
    val live = snapNow.live.toSet
    val parsed = doomed.map(parseCommit)
    val liveDvs = snapNow.dvFor.values.toSet
    val stranded = (parsed.flatMap(_.remove).distinct.filterNot(live) ++
      // superseded DV sidecars referenced only by pre-horizon commits are
      // equally log-discoverable-only — trimming first would leak them
      parsed.flatMap(_.dvs.getOrElse(Map.empty).values).distinct
        .filter(_ != DeletionVectors.Cleared).filterNot(liveDvs))
      .filter(f => fs.exists(new Path(path, f)))
    if (stranded.nonEmpty)
      throw new IllegalStateException(
        s"cannot trim the log of $path: ${stranded.size} file(s) referenced only " +
          s"by pre-horizon commits still exist (e.g. ${stranded.take(3).mkString(", ")}) " +
          "and would be orphaned forever — run vacuum() past its retention first")
    // CDF below the horizon dies with its commits: the names recorded in
    // the doomed commits would be unreadable afterwards anyway, and the
    // readChanges guard already fails the range loudly
    parsed.flatMap(_.changes.getOrElse(Seq.empty)).distinct
      .foreach(f => fs.delete(new Path(path, f), false))
    // superseded checkpoints below the horizon can no longer serve a
    // complete replay for any version the guards allow — drop them too
    ckptFiles.filter(versionOf(_) < horizon).foreach(p => fs.delete(p, false))
    val names = doomed.map(_.getName)
    doomed.foreach(p => fs.delete(p, false))
    invalidateListing()
    names
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
