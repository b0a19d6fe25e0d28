package graft.tables

import graft.conf.GraftSettings
import graft.lake.FsUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
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

/** The owner of a table's `_graft_log/` directory: everything a table
  * knows about itself that is not data. [[GraftTable]] mixes it in; it
  * calls no data-side code (staging, reads, DML, maintenance), so the
  * log's protocol reads in one place. Only [[vacuumLog]] looks past the
  * log dir, at the files its trimmed commits name.
  *
  * Layout:
  * {{{
  *   _graft_log/<v%020d>.json                 // one JSON Commit per version
  *   _graft_log/<v%020d>.checkpoint.parquet   // snapshot at v (ParquetCheckpoint)
  *   _graft_log/<v%020d>.checkpoint.json      // same, laid by older writers; still read
  *   _graft_log/_meta.json                    // BucketSpec, create-exclusive, immutable
  *   _graft_log/_constraints.json             // CHECK constraints: name -> SQL predicate
  *   _graft_log/_properties.json              // table properties (TBLPROPERTIES)
  *   _graft_log/.<v%020d>.json.claim          // a writer's claim on version v (default LogStore)
  * }}}
  *
  * It owns replay ([[listLog]], [[parseCommit]], [[snapshot]]), the
  * commit funnel ([[commitRewrite]]) and checkpoints, the sidecars (one
  * reader; one version-keyed cache and one atomic writer for constraints
  * and properties) and the log's own maintenance ([[vacuumLog]]). */
trait GraftLog {
  def spark: SparkSession
  def path: String
  /** Session settings; [[effectiveSettings]] overlays the table's own. */
  protected def settings: GraftSettings

  protected implicit val fmts: Formats = DefaultFormats
  private def logDir = s"$path/_graft_log"
  protected def fs = FsUtils.fs(spark, path)

  // ------------------------------------------------------------- sidecars

  /** One JSON file of the log, parsed: a commit, a legacy checkpoint or a
    * sidecar. */
  private def readJson[T: Manifest](file: Path): T = {
    val in = fs.open(file)
    try JsonMethods.parse(in).extract[T]
    finally in.close()
  }

  /** A sidecar's parsed content, None when the file is absent: the one
    * reader of the bucket spec, the constraints and the properties. */
  private def readSidecar[T: Manifest](file: Path): Option[T] =
    if (fs.exists(file)) Some(readJson[T](file)) else None

  /** A `name -> text` sidecar (CHECK constraints, table properties),
    * cached per handle keyed by table VERSION: on a table with commits
    * every change to it publishes a metadata commit ([[updateSidecar]]),
    * so "version unchanged" proves the cache current — and `version`
    * itself revalidates with one existence probe. Every write path
    * consults both (constraint guards, ~5 [[effectiveSettings]] consults
    * per DML, the per-commit writer-feature stamp); uncached, each consult
    * is an exists+open+parse RPC against the object store. A table with
    * no commit yet is never cached: its sidecar changes without one. */
  protected final class MapSidecar(name: String) {
    private lazy val file = new Path(logDir, name)
    @volatile private var cached: (Long, Map[String, String]) = null

    def get: Map[String, String] = {
      val v = listLog()._1.lastOption.map(versionOf).getOrElse(-1L)
      val c = cached
      if (c != null && v >= 0 && c._1 == v) c._2
      else {
        val fresh = readSidecar[Map[String, String]](file).getOrElse(Map.empty)
        if (v >= 0) cached = (v, fresh)
        fresh
      }
    }

    /** Replace the content atomically; an empty map removes the file. */
    private[GraftLog] def put(content: Map[String, String]): Unit = {
      cached = null // own writes visible before the commit publishes
      if (content.isEmpty) fs.delete(file, false)
      else FsUtils.replaceFile(spark, file,
        Serialization.write(content).getBytes("UTF-8"))
    }
  }

  protected final val constraintsSidecar = new MapSidecar("_constraints.json")
  private val propertiesSidecar = new MapSidecar("_properties.json")

  /** Replace `sidecar` with `content` and, on a table with commits, record
    * the change as a file-less metadata commit: visible in history,
    * invisible to incremental consumers, and the version change that
    * invalidates every handle's cached copy. A table with no commit yet
    * has no log schema to record, so its DDL stays sidecar-only until data
    * arrives. Admin DDL: single-writer, like [[setBucketSpec]]. */
  protected final def updateSidecar(sidecar: MapSidecar,
      content: Map[String, String], action: String,
      info: Map[String, String]): Unit = {
    sidecar.put(content)
    if (exists) commitMetadata(action, info)(() => currentSchemaOrFail)
  }

  private lazy val metaFile = new Path(logDir, "_meta.json")

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
    val v = readSidecar[BucketSpec](metaFile)
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

  /** The persisted CHECK constraints: name → SQL predicate text. Every
    * write path consults this (guards + the per-commit writer-feature
    * stamp); cached per table version ([[MapSidecar]]). */
  def constraints: Map[String, String] = constraintsSidecar.get

  /** Drop a persisted CHECK constraint. */
  def dropConstraint(name: String, ifExists: Boolean = false): Unit = {
    val cur = constraints
    if (!cur.contains(name)) {
      if (ifExists) return
      throw new IllegalArgumentException(
        s"no constraint named $name on $path (have: ${cur.keys.mkString(", ")})")
    }
    updateSidecar(constraintsSidecar, cur - name, "constraint",
      Map("op" -> "drop", "name" -> name, "predicate" -> cur(name)))
  }

  /** Persisted per-table properties (Delta's TBLPROPERTIES model): known
    * snake_case settings keys OVERRIDE the session [[GraftSettings]] for
    * this table — so `deletion_vectors` / `change_data_feed` /
    * `compact_target_bytes` travel WITH the table and every writer
    * (API, SQL DML, the streaming sink) honors them without session
    * coordination; unknown keys ride along as free-form metadata. Cached
    * per table version ([[MapSidecar]]). */
  def tableProperties: Map[String, String] = propertiesSidecar.get

  /** Set (merge) properties. Known settings keys are validated by
    * parsing them immediately — a typo'd value fails HERE, not on some
    * later write. Admin DDL: single-writer, like [[setBucketSpec]]. */
  def setProperties(props: Map[String, String]): Unit = {
    props.foreach { case (k, v) =>
      // validation only — throws on a malformed value for a known key
      GraftSettings.withSetting(settings, k, v)
    }
    updateSidecar(propertiesSidecar, tableProperties ++ props, "properties",
      Map("op" -> "set", "keys" -> props.keys.mkString(",")))
  }

  /** Remove properties (absent keys tolerated — Delta's UNSET shape). */
  def unsetProperties(keys: Seq[String]): Unit =
    updateSidecar(propertiesSidecar, tableProperties -- keys, "properties",
      Map("op" -> "unset", "keys" -> keys.mkString(",")))

  /** Whether the table's own properties set boolean `key` to true — the
    * table-durable declaration the writer-feature stamp binds to, unlike
    * [[effectiveSettings]], which also folds in the session. */
  private def declared(key: String): Boolean =
    tableProperties.get(key).exists(_.equalsIgnoreCase("true"))

  /** The settings THIS table operates under: session settings overridden
    * by the persisted properties. Consulted per write/maintenance call —
    * one tiny sidecar read against a parquet write's cost. */
  private[tables] def effectiveSettings: GraftSettings =
    tableProperties.foldLeft(settings) { case (s, (k, v)) =>
      GraftSettings.withSetting(s, k, v).getOrElse(s)
    }

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
  protected def listLog(): (Seq[Path], Seq[Path]) = {
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

  protected def parseCommit(p: Path): Commit = {
    val name = p.getName
    val hit = commitCache.get(name)
    if (hit != null) return hit
    val c = try readJson[Commit](p) catch {
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

  /** Every commit, oldest first — read only by [[GraftTable.history]]
    * without a limit (`DESCRIBE HISTORY`) and [[GraftTable.vacuum]].
    * Per-batch readers parse just their versions ([[commitsInRange]],
    * [[commitsNewestFirst]]); current-state reads go through [[snapshot]]. */
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
  protected def requireReadableLog(): Unit = snapshot()

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
          else readJson[LogCheckpoint](p)
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
      if (declared("change_data_feed")) wfeats += GraftProtocol.ChangeDataFeedFeature
      if (declared("append_only")) wfeats += GraftProtocol.AppendOnlyFeature
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

  /** The recorded schema of `snap`. [[snapshot]] never serves live files
    * without one, so only a table that does not exist yet lacks it. */
  protected def schemaOf(snap: LogCheckpoint): String =
    snap.schemaJson.getOrElse(
      throw new IllegalStateException(s"table does not exist: $path"))

  protected def currentSchemaOrFail: String = schemaOf(snapshot())

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

  // ---------------------------------------------------------- commit funnel

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

  /** The append-only refusal (Delta's appendOnly), raised from here by
    * both the pre-staging probe ([[GraftTable.preWriteGate]]) and the
    * funnel ([[stampFeatures]]). */
  protected final def requireMayRemoveRows(action: String, removesRows: Boolean): Unit =
    if (removesRows && effectiveSettings.appendOnly)
      throw new IllegalStateException(
        s"table $path is append-only (append_only=true): refusing " +
          s"'$action' — it removes or rewrites rows (unset the " +
          "property to run data-changing DML)")

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
    // effectiveSettings already overlays the table properties, so the
    // declared case is subsumed: ONE source of truth for the gate
    // (`declared` below serves only the STAMP, which must bind to
    // table-durable state, not session settings)
    requireMayRemoveRows(c.action, c.dataChange &&
      (c.remove.nonEmpty ||
        c.dvs.exists(_.values.exists(_ != DeletionVectors.Cleared))))
    c.copy(features = GraftProtocol.featuresOf(c),
      writerFeatures = GraftProtocol.writerFeaturesOf(c,
        hasCheckConstraints = constraints.nonEmpty,
        cdfDeclared = declared("change_data_feed"),
        appendOnlyDeclared = declared("append_only")))
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
  protected def commitRewrite(action: String, baseVersion: Long,
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

  /** A file-less, dataChange=false commit through the funnel: it reads no
    * file, so it commutes with every interleaved writer, and `schemaJson`
    * re-reads the current schema per attempt. */
  protected def commitMetadata(action: String, info: Map[String, String])(
      schemaJson: () => String): Commit =
    commitRewrite(action, version, Seq.empty, Seq.empty, mayOverlap = _ => false,
      schemaJson, info, dataChange = false)

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
          .filter(_ => declared("change_data_feed"))
      case GraftProtocol.AppendOnlyFeature =>
        Some("table property append_only=true is still set — unset it first")
          .filter(_ => declared("append_only"))
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

  // ------------------------------------------------------- log maintenance

  /** A crashed writer's leftovers in the log dir: commit CLAIMS that block
    * their version and write-temp files (`.<name>.<uuid>.tmp` bodies that
    * never got renamed). Both live milliseconds in healthy writes, so age
    * past the SAME lease TTL [[writeCommit]]'s recovery honors
    * (`spark.graft.logStore.claimTtlMs`; the default when TTL <= 0 turns
    * lease-breaking off) is decisively stale. */
  protected def staleLogLeftovers(): Seq[Path] = {
    val ttlMs = {
      val configured = spark.conf.get(LogStore.ClaimTtlKey,
        LogStore.DefaultClaimTtlMs.toString).toLong
      if (configured > 0) configured else LogStore.DefaultClaimTtlMs
    }
    val dir = new Path(logDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        (n.endsWith(".claim") || (n.startsWith(".") && n.endsWith(".tmp"))) &&
          st.getModificationTime < System.currentTimeMillis() - ttlMs
      }
      .map(_.getPath)
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
    *    ([[GraftTable.vacuum]]'s accounting), so trimming first would leak
    *    them forever. Run `vacuum()` past its retention first, then this.
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
