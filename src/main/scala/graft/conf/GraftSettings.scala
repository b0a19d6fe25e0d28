package graft.conf

/** Engine settings.
  *
  * Reproduces the reference's settings surface (ignitz/jibaro,
  * `jibaro/settings/default.toml:3-16` + `jibaro/settings/settings.py:12-32`):
  * the medallion layer -> bucket mapping, the control bucket holding streaming
  * checkpoints and table history, and the compaction policy knobs. Expressed
  * as a plain immutable case class instead of pydantic+TOML; callers pass it
  * implicitly so library code never touches global state.
  *
  * Scale note: `compactTargetBytes` defaults to 128 MiB (a sane parquet file
  * size for a large cluster). The reference's 1 MiB target
  * (`jibaro/datalake/delta_handler.py:25`) is reproducible by setting it
  * explicitly, but 1 MiB files at 100 TB would mean ~10^8 files — a
  * metadata-layer denial of service — so the default is the scaled value.
  */
final case class GraftSettings(
    protocol: String = "file",
    rawBucket: String = "datalake-raw",
    stagedBucket: String = "datalake-staged",
    curatedBucket: String = "datalake-curated",
    controlBucket: String = "spark-control",
    /** Compact a table once it holds more live data files than this
      * (reference `max_num_files_allowed`, `default.toml:16`). A bucketed
      * table is compacted only while some bucket holds several files: a
      * bucketed write keeps one file per bucket, so a bucket holding a
      * single file is never rewritten. */
    maxNumFilesAllowed: Int = 10000,
    /** Target bytes per file when compacting. */
    compactTargetBytes: Long = 128L * 1024 * 1024,
    /** Run GC every N table versions (reference `cdc.py:264-268`). */
    vacuumEveryNVersions: Int = 25,
    /** Retain unreferenced files for this many hours before GC
      * (reference `cdc.py:269`). */
    vacuumRetentionHours: Int = 768,
    /** Hash buckets for curated tables (0 disables). Bucketing lets CDC
      * upserts rewrite only the buckets holding updated keys; size it to
      * ~(table size / executor-comfortable rewrite unit) on a cluster. */
    curatedBuckets: Int = 16,
    /** Broadcast the update-key set during upsert only when the update
      * batch's estimated size is at or below this (bytes). The usual CDC
      * batch is tiny and broadcasting avoids shuffling the table; a bulk
      * backfill batch above the threshold degrades to a shuffle join
      * (AQE picks the strategy) instead of OOMing the driver. */
    upsertBroadcastThresholdBytes: Long = 64L * 1024 * 1024,
    /** Collect per-file min/max/null stats at commit time (one extra
      * aggregation over the just-written files) to power
      * `GraftTable.readWhere` data skipping. Disable for write-latency-
      * critical paths that never run selective scans. */
    collectFileStats: Boolean = true,
    /** Columns to write parquet BLOOM FILTERS for in every data file.
      * Min/max stats prune range predicates but are useless for point
      * lookups on high-cardinality keys with scattered values (every
      * file's [min,max] spans the probe); a bloom filter answers
      * "definitely not in this file/row-group" at ~10 bits/key. The
      * filters live in the parquet footers — Spark's reader consumes them
      * automatically on equality predicates, no engine-side pruning code
      * and nothing added to the commit log. */
    bloomFilterColumns: Seq[String] = Seq.empty,
    /** Broadcast a batch/probe frame into a join against a PERSISTED
      * index store (NearDupIndex / BlockDedupIndex / AnnIndex candidate
      * sets) only when its estimated size is at or below this (bytes).
      * Under the threshold the stored side streams through a broadcast
      * join — a scan with ZERO stored-side shuffle; above it the join
      * degrades to a shuffle (AQE picks the strategy) instead of OOMing
      * the driver on an oversized ingest batch. */
    probeBroadcastThresholdBytes: Long = 64L * 1024 * 1024,
    /** Max distinct bucket keys an [[graft.ext.AnnIndex]] query will plant
      * in its file-pruning IN predicate. Under the cap, the probes' bucket
      * keys prune the clustered buckets store to O(matched files); past it
      * (a bulk probe batch) the query degrades to the full-scan broadcast-
      * join path — Catalyst evaluates the IN list per file, so past a few
      * thousand literals the expression overhead beats the pruning win,
      * and the cap also bounds the driver-side key collect. */
    annPruneMaxKeys: Int = 2048,
    /** How multi-consumer intermediate frames are materialized inside
      * operators (the barrier that stops a shared subplan re-running per
      * consumer — see [[graft.ext.Parallelism.materialize]]):
      * `localCheckpoint` (default) stores blocks on executors with no
      * lineage — fastest, but an executor loss mid-job kills the query;
      * `persist` uses MEMORY_AND_DISK with lineage, ~2x materialization
      * cost but recomputable, for cluster runs that must survive executor
      * loss within a job. */
    barrierMode: String = "localCheckpoint",
    /** Write a log CHECKPOINT (full replayed table state: live files,
      * schema, file stats) every N commits, so opening the table costs
      * O(interval) log-file reads instead of O(versions) — the same
      * mechanism as Delta's `_last_checkpoint`. A long-running ingest
      * commits thousands of times; without checkpoints every read of a
      * 10k-commit table re-opens 10k JSON files driver-side, which on an
      * object store is seconds of pure metadata latency per query.
      * 0 disables (full log replay, the pre-checkpoint behavior). */
    logCheckpointInterval: Int = 20,
    /** Read a PARQUET log checkpoint's rows with a distributed Spark job
      * (executors decode the pages, the driver collects only compact row
      * values — Delta's distributed checkpoint read) once the checkpoint
      * file exceeds this many bytes; below it a driver-side columnar
      * reader opens the one file without scheduling a job. At ~1M live
      * files (100 TB at 128 MiB/file) the checkpoint is ~100 MB and the
      * job path keeps the driver's cold-open cost at collect-size, not
      * parse-size. */
    logCheckpointDistributedReadBytes: Long = 64L * 1024 * 1024,
    /** Record row-level change data (Delta CDF-style) for DML commits —
      * upsert/delete/update write their insert/update_preimage/
      * update_postimage/delete rows under `_graft_changes/` so
      * `GraftTable.readChanges` can serve incremental consumers without
      * diffing snapshots. Append/overwrite/restore changes are synthesized
      * from the commit log for free, so this knob only costs on rewrites.
      * Off by default (one extra write per DML batch), like Delta's
      * `enableChangeDataFeed` table property. */
    changeDataFeed: Boolean = false,
    /** Delete/update via DELETION VECTORS instead of file rewrites
      * (Delta's `enableDeletionVectors`): a DML marks the doomed row
      * POSITIONS in a per-file sidecar bitmap and commits METADATA — the
      * parquet data files stay byte-identical. At 100 TB, deleting 0.1%
      * of rows scattered across the corpus otherwise rewrites nearly
      * every touched file (~the whole table's bytes through the write
      * path); with DVs it is one scan of the affected files plus
      * KB-sized sidecars. Reads apply the bitmaps inside the scan
      * ([[graft.tables.GraftParquetFileFormat]]); OPTIMIZE/compaction
      * purge them by rewriting. Off by default, like Delta. */
    deletionVectors: Boolean = false,
    /** Refuse data-changing commits that remove files or bind deletion
      * vectors (delete/update/upsert-with-matches/overwrite/restore —
      * and FSCK repair's drop-missing-files commit: unset the property
      * for the repair window) — Delta's `appendOnly` table property.
      * Appends, metadata DDL, and row-preserving rewrites
      * (compaction/OPTIMIZE, dataChange=false) stay allowed. As a TABLE
      * property (`append_only=true`) it also stamps the
      * [[graft.tables.GraftProtocol.AppendOnlyFeature]] writer feature so
      * foreign writers that cannot uphold it refuse to commit. */
    appendOnly: Boolean = false,
    /** DV fallback bound: when one DML would mark more than this many
      * positions table-wide, it falls back to the classic pruned rewrite
      * — positions transit the driver to be merged into sidecars, and an
      * unbounded collect is how drivers die. Delta bounds DV growth the
      * same way (rewrites past a deleted-fraction threshold); rewriting
      * also caps read-side bitmap memory. */
    dvMaxDeletedRows: Long = 10L * 1000 * 1000
) {
  def bucketFor(layer: String): String = layer match {
    case Layer.Raw     => rawBucket
    case Layer.Staged  => stagedBucket
    case Layer.Curated => curatedBucket
    case other =>
      throw new IllegalArgumentException(
        s"unknown layer '$other' (expected one of ${Layer.all.mkString(", ")})")
  }
}

object GraftSettings {
  implicit val default: GraftSettings = GraftSettings()

  /** Local-filesystem lake rooted at `root` — buckets become subdirectories.
    * Used by tests and the file-backed MessageBus lab.
    */
  def local(root: String): GraftSettings = GraftSettings(
    protocol = "file",
    rawBucket = s"$root/datalake-raw",
    stagedBucket = s"$root/datalake-staged",
    curatedBucket = s"$root/datalake-curated",
    controlBucket = s"$root/spark-control"
  )

  /** Load settings from a Java-properties file (the reference loads the
    * same surface from TOML via pydantic, `jibaro/settings/settings.py:12-32`
    * + `default.toml`; properties is the zero-dependency JVM equivalent).
    * Keys are the snake_case field names the reference uses; unknown keys
    * are rejected loudly — a typo'd knob silently keeping its default is
    * how prod configs rot. Missing keys keep defaults. */
  def fromProperties(path: String): GraftSettings = {
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala.foldLeft(GraftSettings()) { (s, key) =>
      withSetting(s, key, props.getProperty(key).trim).getOrElse(
        throw new IllegalArgumentException(s"unknown setting '$key' in $path"))
    }
  }

  /** One settings override by snake_case key — shared by the properties
    * file loader and per-table TBLPROPERTIES ([[graft.tables.GraftTable]]
    * `effectiveSettings`). None = unrecognized key; a malformed value for a
    * known key fails HERE, naming the key and the value. */
  def withSetting(s: GraftSettings, key: String, v: String): Option[GraftSettings] = {
    def parsed[T](parse: String => T, expected: String): T =
      try parse(v) catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(s"setting '$key' expects $expected, got '$v'") }
    def int = parsed(_.toInt, "an int")
    def long = parsed(_.toLong, "a long")
    def bool = parsed(_.toBoolean, "true or false")
    key match {
      case "protocol"                          => Some(s.copy(protocol = v))
      case "raw_bucket"                        => Some(s.copy(rawBucket = v))
      case "staged_bucket"                     => Some(s.copy(stagedBucket = v))
      case "curated_bucket"                    => Some(s.copy(curatedBucket = v))
      case "control_bucket"                    => Some(s.copy(controlBucket = v))
      case "max_num_files_allowed"             => Some(s.copy(maxNumFilesAllowed = int))
      case "compact_target_bytes"              => Some(s.copy(compactTargetBytes = long))
      case "vacuum_every_n_versions"           => Some(s.copy(vacuumEveryNVersions = int))
      case "vacuum_retention_hours"            => Some(s.copy(vacuumRetentionHours = int))
      case "curated_buckets"                   => Some(s.copy(curatedBuckets = int))
      case "upsert_broadcast_threshold_bytes"  => Some(s.copy(upsertBroadcastThresholdBytes = long))
      case "probe_broadcast_threshold_bytes"   => Some(s.copy(probeBroadcastThresholdBytes = long))
      case "ann_prune_max_keys"                => Some(s.copy(annPruneMaxKeys = int))
      case "barrier_mode" => Some(s.copy(barrierMode = parsed(
        m => { require(m == "localCheckpoint" || m == "persist"); m }, "localCheckpoint | persist")))
      case "log_checkpoint_interval"           => Some(s.copy(logCheckpointInterval = int))
      case "log_checkpoint_distributed_read_bytes" =>
        Some(s.copy(logCheckpointDistributedReadBytes = long))
      // retired: checkpoints are parquet-only; accepted so old property
      // files still load
      case "log_checkpoint_json_twin_max_files" => Some(s)
      case "collect_file_stats"                => Some(s.copy(collectFileStats = bool))
      case "change_data_feed"                  => Some(s.copy(changeDataFeed = bool))
      case "append_only"                       => Some(s.copy(appendOnly = bool))
      case "deletion_vectors"                  => Some(s.copy(deletionVectors = bool))
      case "dv_max_deleted_rows"               => Some(s.copy(dvMaxDeletedRows = long))
      case "bloom_filter_columns" =>
        Some(s.copy(bloomFilterColumns = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case _ => None
    }
  }
}

/** The three medallion layers (reference `jibaro/datalake/path.py:17-21`). */
object Layer {
  val Raw = "raw"
  val Staged = "staged"
  val Curated = "curated"
  val all: Seq[String] = Seq(Raw, Staged, Curated)
}
