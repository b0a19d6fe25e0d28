package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, StructType}

import graft.conf.GraftSettings

/** Stream offsets ARE positions in the commit log — the table's log is
  * already a totally-ordered, replayable sequence, so the source needs no
  * durable state of its own.
  *
  *  - `snapshotIdx < 0` ("plain"): everything through commit `version` is
  *    delivered (including the initial snapshot, if any).
  *  - `snapshotIdx >= 0` ("mid-snapshot"): the stream is still draining
  *    its INITIAL SNAPSHOT (pinned at `version`) under a rate cap, and the
  *    first `snapshotIdx` files of that snapshot's deterministic
  *    (name-sorted) order are delivered. `(v, total)` collapses to plain
  *    `v`, so plain/mid never ambiguously coexist at the same position.
  *
  * (Deserialized offsets arrive as `SerializedOffset(json)`; both shapes
  * round-trip through [[GraftOffset.fromJson]], and a pre-admission-
  * control checkpoint's bare `version` parses as plain — back-compat.) */
private[tables] final case class GraftOffset(version: Long, snapshotIdx: Long = -1L)
  extends Offset {
  override def json: String =
    if (snapshotIdx < 0) version.toString else s"$version:$snapshotIdx"
}

private[tables] object GraftOffset {
  def fromJson(s: String): GraftOffset = s.split(':') match {
    case Array(v)    => GraftOffset(v.toLong)
    case Array(v, i) => GraftOffset(v.toLong, i.toLong)
    case _ => throw new IllegalArgumentException(s"malformed graft offset '$s'")
  }

  def parse(o: streaming.Offset): GraftOffset = o match {
    case g: GraftOffset => g
    case other          => fromJson(other.json)
  }
}

/** Admission-control plumbing shared by the plain and CDF streaming
  * sources — ONE implementation of rate-cap parsing, AvailableNow target
  * pinning, byte-size memoization, and the capped commit-tail walk, so a
  * fix to the soft/hard cap semantics can never silently apply to one
  * source and not the other. The only per-source variation is WHICH files
  * a commit's batch must read ([[admissionFiles]]). */
private[tables] trait GraftSourceAdmission
  extends SupportsAdmissionControl with SupportsTriggerAvailableNow {

  protected def table: GraftTable
  protected def maxFilesOpt: Option[Int]
  protected def maxBytesOpt: Option[Long]

  /** The files this source must READ to serve commit `c` — its admission
    * weight. Plain source: the added data files. CDF source: recorded
    * change files for DML commits, added+removed files for synthesized
    * appends/overwrites/restores. */
  protected def admissionFiles(c: Commit): Seq[String]

  override def getDefaultReadLimit: ReadLimit = (maxFilesOpt, maxBytesOpt) match {
    case (Some(f), Some(b)) =>
      ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
    case (Some(f), None) => ReadLimit.maxFiles(f)
    case (None, Some(b)) => ReadLimit.maxBytes(b)
    case _               => ReadLimit.allAvailable()
  }

  /** (maxFiles, maxBytes) the engine asked for this batch. `Trigger.Once`
    * passes allAvailable — rate caps are ignored for it, like Delta. An
    * unrecognized shape falls back to the source's own options. */
  protected final def capsOf(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case _: ReadAllAvailable => (None, None)
    case f: ReadMaxFiles     => (Some(f.maxFiles), None)
    case b: ReadMaxBytes     => (None, Some(b.maxBytes))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(capsOf).reduce((a, b) =>
        (a._1.orElse(b._1), a._2.orElse(b._2)))
    case _ => (maxFilesOpt, maxBytesOpt)
  }

  /** AvailableNow drains everything available AT PREPARE TIME, across as
    * many capped batches as that takes — the target is pinned here and
    * `latestOffset` never steps past it. */
  @volatile protected var availableNowCapV: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCapV = Some(table.version)

  /** Size memo for files whose bytes are NOT in the log: one HEAD per
    * file, ever. Without the fallback a pre-stats (or DML-change-file)
    * backlog weighed 0 bytes and maxBytesPerTrigger admitted it all in
    * one micro-batch. */
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  protected final def sizeOf(f: String, logged: Option[Long]): Long = logged.getOrElse {
    val hit = sizeCache.get(f)
    if (hit != null) return hit.longValue()
    // A lagging stream's commit may reference files vacuumed since (an
    // overwrite's removed files, old change files). Weighing is offset
    // arithmetic, not reading: degrade to 0 bytes (cached) and let the
    // READ of that batch surface the real retention error, instead of
    // failing latestOffset for commits whose serving files still exist.
    val len = try {
      graft.lake.FsUtils.fs(table.spark, table.path)
        .getFileStatus(new org.apache.hadoop.fs.Path(table.path, f)).getLen
    } catch { case _: java.io.FileNotFoundException => 0L }
    sizeCache.put(f, len)
    len
  }

  /** Furthest version `w` in `(fromV, head]` whose dataChange commits fit
    * the caps — at least one data commit always advances (a commit is the
    * atomic admission unit; Delta caps the same way), and dataChange=false
    * commits ride along for free. No data commits at all jumps straight
    * to `head` (nothing to rate-limit). O(range) log parses per call via
    * [[GraftLog.commitsInRange]]; bytes are weighed only under a byte
    * cap (no HEADs otherwise). */
  protected final def cappedTail(fromV: Long, head: Long,
      maxF: Option[Int], maxB: Option[Long]): GraftOffset = {
    if (maxF.isEmpty && maxB.isEmpty) return GraftOffset(head)
    val cs = table.commitsInRange(fromV, head)
    var w = fromV
    var files = 0
    var bytes = 0L
    var dataCommits = 0
    for (c <- cs) {
      if (!c.dataChange) w = c.version
      else {
        val names = admissionFiles(c)
        val fits = dataCommits == 0 ||
          (files + names.size <= maxF.getOrElse(Int.MaxValue) &&
            maxB.forall(bytes < _))
        if (!fits) return GraftOffset(w)
        files += names.size
        if (maxB.isDefined)
          bytes += names.map(f =>
            sizeOf(f, c.stats.flatMap(_.get(f)).flatMap(_.bytes))).sum
        dataCommits += 1
        w = c.version
      }
    }
    GraftOffset(if (cs.isEmpty) head else w)
  }
}

/** `spark.readStream.format("graft")` — tail a [[GraftTable]]'s commit
  * log as a micro-batch stream (Delta's streaming-source semantics):
  *
  *  - each micro-batch is the files ADDED by the commits in the offset
  *    range — O(new data), the log is never diffed against a snapshot;
  *  - `dataChange=false` commits (compaction, clustering) are invisible,
  *    exactly as incremental consumers require;
  *  - the FIRST batch of a fresh stream is the table's CURRENT SNAPSHOT
  *    (Delta's default — live files at the stream's first offset, so
  *    rewrites buried in history are irrelevant); the tail after it is
  *    pure log commits;
  *  - a REWRITE commit in the tailed range (upsert/delete/update/
  *    overwrite/restore — anything that removed live files) fails the
  *    stream loudly unless `.option("ignoreChanges", "true")`, which then
  *    emits the rewritten files' rows (possibly re-delivering unchanged
  *    neighbours — the documented Delta `ignoreChanges` contract;
  *    downstream must be idempotent by key);
  *  - `.option("startingVersion", v)` REPLACES the snapshot start with a
  *    log replay of the commits from v on — INCLUSIVE of v itself, the
  *    Delta convention (1 = full history).
  *
  * '''Admission control''' (`maxFilesPerTrigger` / `maxBytesPerTrigger`,
  * the options Delta's source honors): without a cap, a stream resumed
  * over a month of backlog — or a `startingVersion=1` replay of a year of
  * commits — plans ONE micro-batch sized by the outage, the classic
  * streaming OOM at 100 TB. With a cap, [[latestOffset]] walks commits
  * from the engine-provided start offset and stops once the batch holds
  * `maxFilesPerTrigger` files (or the first file crossing
  * `maxBytesPerTrigger`) — always admitting at least one data commit per
  * batch so an oversized commit still flows (a commit is the atomic
  * unit). The initial snapshot is likewise drained in capped slices of
  * its name-sorted file list via mid-snapshot offsets. Implemented
  * through [[SupportsAdmissionControl]] (the engine hands `latestOffset`
  * the previous end offset, so the source stays STATELESS — nothing to
  * recover on restart) and [[SupportsTriggerAvailableNow]] (an
  * AvailableNow drain caps its target at prepare time and then steps
  * through capped batches until it reaches it — without the interface,
  * the engine's wrapper would read one capped batch and stop).
  *
  * The schema is pinned at stream start (the log schema); files written
  * before an additive evolution read the missing columns as NULL, and a
  * schema change COMMITTED MID-STREAM fails the query loudly (Delta
  * semantics: restarting picks up the widened schema) — silently reading
  * on with the pinned schema would project the new columns away for the
  * life of the query.
  */
private[tables] final class GraftStreamSource(
    protected val table: GraftTable,
    options: Map[String, String])(implicit settings: GraftSettings)
  extends Source with GraftSourceAdmission {

  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  private val ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean)
  private val startingVersion = opts.get("startingversion").map(_.toLong)
  protected val maxFilesOpt: Option[Int] = opts.get("maxfilespertrigger").map(_.toInt)
  protected val maxBytesOpt: Option[Long] = opts.get("maxbytespertrigger").map(_.toLong)
  require(maxFilesOpt.forall(_ > 0), "maxFilesPerTrigger must be positive")
  require(maxBytesOpt.forall(_ > 0), "maxBytesPerTrigger must be positive")

  /** Admission weight: the commit's added data files. */
  protected def admissionFiles(c: Commit): Seq[String] = c.add

  /** The table version the schema is pinned at — read FIRST so the
    * schema below comes from this exact version: a commit landing between
    * two separate log listings would otherwise evolve the schema past the
    * pin invisibly (requireUnchangedSchema only checks endV > pin). */
  private val pinVersion: Long = table.version

  /** Stored schema pinned at stream start (tombstones + physical-name
    * metadata) — batches read files under ITS physical names. Metadata
    * DDL never changes physical names, and a rewrite under NEW names
    * (replaceSchema overwrite) fails the stream loudly via
    * [[requireUnchangedSchema]]'s physical-layout check, so every file a
    * batch admits matches the pin. */
  private val storedSchema: StructType =
    GraftStreamSource.storedSchemaOf(table, pinVersion)
  override val schema: StructType =
    ColumnMapping.cleanMetadata(ColumnMapping.logicalSchema(storedSchema))

  /** The initial snapshot pinned at its version: file list sorted by name
    * (a DETERMINISTIC order, so a restarted capped drain resumes at the
    * index it checkpointed) plus the log-recorded byte sizes. */
  @volatile private var snapCache
    : (Long, IndexedSeq[String], Map[String, Long], Map[String, String]) = null
  private def pinnedSnapshot(v: Long)
      : (IndexedSeq[String], Map[String, Long], Map[String, String]) = {
    val c = snapCache
    if (c != null && c._1 == v) return (c._2, c._3, c._4)
    val snap = table.snapshot(v)
    val files = snap.live.sorted.toIndexedSeq
    val sizes = snap.stats.collect { case (f, st) if st.bytes.isDefined => f -> st.bytes.get }
    snapCache = (v, files, sizes, snap.dvFor)
    (files, sizes, snap.dvFor)
  }
  private def snapshotFilesAt(v: Long): IndexedSeq[String] = pinnedSnapshot(v)._1
  /** DV bindings of the pinned initial snapshot: the snapshot batch must
    * not deliver rows already deleted at the stream's first offset. */
  private def snapshotDvsAt(v: Long): Map[String, String] = pinnedSnapshot(v)._3

  /** Files to admit from the front of `files` under the caps: all of them
    * uncapped; under `maxFiles` at most that many; under `maxBytes` stop
    * once the running total reaches the cap (the crossing file is
    * admitted — a soft cap, and never fewer than one file, so an
    * oversized file still flows). */
  private def admit(files: Seq[String], sizes: Map[String, Long],
      maxF: Option[Int], maxB: Option[Long]): Int = {
    if (files.isEmpty) return 0
    if (maxF.isEmpty && maxB.isEmpty) return files.size
    val byCount = maxF.getOrElse(Int.MaxValue)
    var n = 0
    var bytes = 0L
    while (n < files.size && n < byCount && maxB.forall(bytes < _)) {
      if (maxB.isDefined) bytes += sizeOf(files(n), sizes.get(files(n)))
      n += 1
    }
    math.max(n, 1)
  }

  /** One capped step through the initial snapshot at `v0`: admit files
    * from index `from`; reaching the end collapses to the plain offset. */
  private def snapshotStep(v0: Long, from: Int,
      maxF: Option[Int], maxB: Option[Long]): GraftOffset = {
    val (files, sizes, _) = pinnedSnapshot(v0)
    val j = from + admit(files.drop(from), sizes, maxF, maxB)
    if (j >= files.size) GraftOffset(v0) else GraftOffset(v0, j.toLong)
  }

  // cappedTail comes from GraftSourceAdmission (admissionFiles = c.add)

  /** Rate-limited next offset from the engine-provided previous end
    * (null = fresh stream). Returns the start itself when nothing new
    * (the engine compares offsets for equality), null when the stream has
    * no position yet and the table none to offer. */
  override def latestOffset(startOffset: streaming.Offset, limit: ReadLimit): streaming.Offset = {
    val (maxF, maxB) = capsOf(limit)
    val head = availableNowCapV.fold(table.version)(math.min(_, table.version))
    Option(startOffset).map(GraftOffset.parse) match {
      case None =>
        if (head == 0L || startingVersion.exists(head < _)) null
        else startingVersion match {
          case Some(sv) => cappedTail(sv - 1L, head, maxF, maxB)
          case None     => snapshotStep(head, 0, maxF, maxB)
        }
      case Some(cur) if cur.snapshotIdx >= 0 =>
        snapshotStep(cur.version, cur.snapshotIdx.toInt, maxF, maxB)
      case Some(cur) =>
        if (head <= cur.version) cur
        else cappedTail(cur.version, head, maxF, maxB)
    }
  }

  override def getOffset: Option[Offset] =
    // the engine routes SupportsAdmissionControl sources exclusively
    // through latestOffset(start, limit)
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of getOffset")

  /** dataChange commits' added files in `(fromV, toV]`, with the rewrite
    * refusal contract (appends-only is the streaming tail's invariant). */
  private def tailFiles(fromV: Long, toV: Long): Seq[String] = {
    table.requireLogSince(fromV, "the streaming tail")
    val range = table.commitsInRange(fromV, toV).filter(_.dataChange)
    // a deletion-vector rebind changes rows without moving files — the
    // same violation of the appends-only tail contract as a rewrite
    val rewrites = range.filter(c => c.remove.nonEmpty || c.dvs.exists(_.nonEmpty))
    if (rewrites.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"streaming source found rewrite commit(s) " +
          s"${rewrites.map(c => s"v${c.version}(${c.action})").mkString(", ")} " +
          s"in ${table.path} — appends-only is the streaming contract; pass " +
          "option ignoreChanges=true to stream rewritten files (rows may re-deliver)")
    range.flatMap(_.add)
  }

  // pinVersion is declared ABOVE storedSchema (same-version pinning);
  // batches at or below it are historical and legitimately carry OLDER
  // log schemas (read with the pinned one, missing columns as NULL —
  // Delta's contract)

  private def shapeOf(dt: DataType): DataType = GraftCdfStreamSource.shapeOf(dt)

  /** Fail the query loudly when the log schema EVOLVED PAST the pinned
    * one mid-stream — Delta's streaming source does the same, so the
    * consumer restarts and picks up the evolution instead of silently
    * projecting the new columns away for the life of the query.
    *
    * The PHYSICAL layout is checked too: batches read files under the
    * pinned schema's physical column names, which is sound only while
    * every admitted file carries them. A rewrite under NEW physical
    * names (`overwrite(read())` shedding column_mapping after a rename)
    * makes one pinned read schema impossible — files from the two eras
    * disagree on column names, and reading the new era under the old
    * names would silently deliver NULLs. Delta's column-mapping streams
    * refuse non-additive schema changes the same way. */
  private def requireUnchangedSchema(endV: Long): Unit =
    if (endV > pinVersion)
      table.snapshot(endV).schemaJson.foreach { sj =>
        val stored = DataType.fromJson(sj).asInstanceOf[StructType]
        val evolved = ColumnMapping.logicalSchema(stored)
        if (shapeOf(evolved) != shapeOf(schema))
          throw new IllegalStateException(
            s"the schema of ${table.path} changed during the stream (pinned at " +
              s"start: ${schema.simpleString}; log at v$endV: ${evolved.simpleString}) — " +
              "restart the streaming query to pick up the new schema")
        if (shapeOf(ColumnMapping.physicalSchema(stored)) !=
            shapeOf(ColumnMapping.physicalSchema(storedSchema)))
          throw new IllegalStateException(
            s"the PHYSICAL column layout of ${table.path} changed during the " +
              s"stream (a rewrite under new names, e.g. overwrite after a " +
              "rename/drop) — files before and after v" + endV +
              " disagree on their parquet column names, so no single read " +
              "schema serves both eras. Restart the streaming query with a " +
              "FRESH checkpoint to stream the rewritten table from its " +
              "current snapshot")
      }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val e = GraftOffset.parse(end)
    requireUnchangedSchema(e.version)
    // (files to read, snapshot version whose DV bindings apply). Tail
    // files replay their add commits verbatim — fresh files carry no DV
    // at commit time, and a LATER DV rebind in the tailed range already
    // failed the stream (or the user opted into ignoreChanges, whose
    // contract is re-delivery). Snapshot batches DO apply the pinned
    // version's bitmaps: rows deleted before the stream started must not
    // be delivered.
    val (files: Seq[String], dvV: Option[Long]) =
      (start.map(GraftOffset.parse), e) match {
        case (None, GraftOffset(v, idx)) if idx < 0 =>
          startingVersion match {
            // the user-facing startingVersion is INCLUSIVE (Delta convention)
            case Some(sv) => (tailFiles(sv - 1L, v), None)
            // fresh uncapped stream: the snapshot at the first offset IS the
            // first batch — history rewrites are irrelevant
            case None => (snapshotFilesAt(v), Some(v))
          }
        case (None, GraftOffset(v, idx)) => // first capped slice of the snapshot
          (snapshotFilesAt(v).take(idx.toInt), Some(v))
        case (Some(GraftOffset(v0, i)), GraftOffset(v1, j)) if i >= 0 && j >= 0 =>
          require(v0 == v1, s"mid-snapshot offsets disagree on the pinned version ($v0 vs $v1)")
          (snapshotFilesAt(v0).slice(i.toInt, j.toInt), Some(v0))
        case (Some(GraftOffset(v0, i)), GraftOffset(v1, _)) if i >= 0 =>
          // the batch that closes the snapshot drain (and any tail behind
          // it — tail names never collide with the snapshot's dv map)
          (snapshotFilesAt(v0).drop(i.toInt) ++ tailFiles(v0, v1), Some(v0))
        case (Some(GraftOffset(v0, _)), GraftOffset(v1, j)) if j >= 0 =>
          throw new IllegalStateException(
            s"offset went backwards: plain $v0 to mid-snapshot $v1:$j")
        case (Some(GraftOffset(v0, _)), GraftOffset(v1, _)) =>
          (tailFiles(v0, v1), None)
      }
    val spark = table.spark
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        // the batch reader under the PINNED schema: physical-name read
        // when mapping is active, dir-derived partition columns for
        // partition-converted trees
        val raw = table.readDataFiles(files, storedSchema.json)
        dvV.map(v => DeletionVectors.filterDeleted(
          raw, spark, table.loadDvs(snapshotDvsAt(v), files),
          table.qualifiedRootUris))
          .getOrElse(raw)
      }
    StreamBridge.asStreamingFrame(batch)
  }

  override def stop(): Unit = ()
}

private[tables] object GraftStreamSource {
  /** The table's LOGICAL schema (what consumers see). */
  def schemaOf(table: GraftTable): StructType =
    ColumnMapping.cleanMetadata(ColumnMapping.logicalSchema(storedSchemaOf(table)))

  /** The STORED schema — tombstones + physical metadata included. `asOf`
    * pins it to a specific log version (the sources pass the version they
    * pinned FIRST, so schema and pin can never straddle a commit). */
  def storedSchemaOf(table: GraftTable,
      asOf: Long = Long.MaxValue): StructType = {
    val sj = table.snapshot(asOf).schemaJson.getOrElse(throw new IllegalStateException(
      s"cannot stream from a table that does not exist yet: ${table.path}"))
    DataType.fromJson(sj).asInstanceOf[StructType]
  }
}

/** `readStream.format("graft").option("readChangeFeed", "true")` — tail
  * the table's CHANGE FEED as a micro-batch stream (Delta's streaming
  * CDF read): each batch is `readChanges` over a commit range, rows +
  * `_change_type` + `_commit_version`. Unlike the plain source, REWRITE
  * commits are the point — a downstream consumer applies the
  * insert/update/delete images incrementally instead of diffing
  * snapshots.
  *
  * Offsets are plain log versions. A fresh stream POSITIONS at the
  * current version (changes start flowing from the NEXT commit — the
  * Delta default) or replays from `startingVersion` (inclusive).
  * `getBatch(None, v)` is the positioning batch: EMPTY for a fresh tail,
  * the `[startingVersion, v]` replay otherwise — both deterministic
  * under crash-replay with a new source instance, because everything is
  * derived from the offset and the option, never from instance state.
  *
  * Admission control (`maxFilesPerTrigger` / `maxBytesPerTrigger`): a
  * commit's admission weight is the number (bytes) of files its batch
  * must READ — recorded change files for DML commits, added+removed
  * files for synthesized appends/overwrites/restores — and at least one
  * dataChange commit always advances. The schema is pinned at stream
  * start; change frames conform to it by null-filling (historical
  * change files legitimately carry older schemas), and an evolution
  * past the pinned shape fails loudly, like the plain source. */
private[tables] final class GraftCdfStreamSource(
    protected val table: GraftTable,
    options: Map[String, String])(implicit settings: GraftSettings)
  extends Source with GraftSourceAdmission {

  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  private val startingVersion = opts.get("startingversion").map(_.toLong)
  protected val maxFilesOpt: Option[Int] = opts.get("maxfilespertrigger").map(_.toInt)
  protected val maxBytesOpt: Option[Long] = opts.get("maxbytespertrigger").map(_.toLong)
  require(maxFilesOpt.forall(_ > 0), "maxFilesPerTrigger must be positive")
  require(maxBytesOpt.forall(_ > 0), "maxBytesPerTrigger must be positive")

  /** Admission weight: the files this commit's CDF batch must read —
    * recorded change files for DML commits (`c.stats` only covers added
    * data files, so their bytes come from the trait's cached HEAD
    * fallback), added+removed files for synthesized appends/overwrites/
    * restores. */
  protected def admissionFiles(c: Commit): Seq[String] =
    c.changes.getOrElse(c.add ++ c.remove)

  // pin FIRST, then derive the schema at that exact version — a commit
  // landing between two separate listings would otherwise evolve the
  // schema past the pin invisibly (requireUnchangedSchema only checks
  // endV > pin)
  private val pinVersion: Long = table.version
  private val tableSchema: StructType = ColumnMapping.cleanMetadata(
    ColumnMapping.logicalSchema(GraftStreamSource.storedSchemaOf(table, pinVersion)))
  override val schema: StructType = GraftCdfStreamSource.cdfSchema(tableSchema)

  // getDefaultReadLimit / capsOf / availableNowCapV / sizeOf / cappedTail
  // come from GraftSourceAdmission (admissionFiles above is the weight)

  override def latestOffset(startOffset: streaming.Offset, limit: ReadLimit): streaming.Offset = {
    val (maxF, maxB) = capsOf(limit)
    val head = availableNowCapV.fold(table.version)(math.min(_, table.version))
    Option(startOffset).map(GraftOffset.parse) match {
      case None =>
        if (head == 0L || startingVersion.exists(head < _)) null
        // position at sv-1 so the replay flows through CAPPED batches
        // (the positioning batch itself is empty); a fresh tail pins at
        // head — changes start with the next commit, Delta's default
        else GraftOffset(startingVersion.map(_ - 1L).getOrElse(head))
      case Some(cur) =>
        if (head <= cur.version) cur
        else cappedTail(cur.version, head, maxF, maxB)
    }
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of getOffset")

  /** Fail loudly when the log schema evolved past the pinned one —
    * restarting picks up the widened CDF schema (Delta semantics). */
  private def requireUnchangedSchema(endV: Long): Unit =
    if (endV > pinVersion)
      table.snapshot(endV).schemaJson
        // compare LOGICAL schemas, like the plain source: the stored one
        // carries __dropped_* tombstones on any table that ever ran
        // dropColumn, and comparing those against the pinned logical
        // schema would fail EVERY post-start commit, permanently
        .map(sj => ColumnMapping.logicalSchema(
          DataType.fromJson(sj).asInstanceOf[StructType]))
        .filter(s => GraftCdfStreamSource.shapeOf(s) !=
          GraftCdfStreamSource.shapeOf(tableSchema))
        .foreach { evolved =>
          throw new IllegalStateException(
            s"the schema of ${table.path} changed during the CDF stream " +
              s"(pinned: ${tableSchema.simpleString}; log at v$endV: " +
              s"${evolved.simpleString}) — restart the query to pick it up")
        }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val e = GraftOffset.parse(end).version
    requireUnchangedSchema(e)
    val spark = table.spark
    val from: Option[Long] = start.map(GraftOffset.parse(_).version) match {
      case Some(v) => Some(v)
      // positioning batch: empty for a fresh tail, the inclusive replay
      // for startingVersion — derived from the OFFSET, so a restarted
      // instance rebuilds the identical batch
      case None => startingVersion.map(_ - 1L).filter(_ < e)
    }
    val batch = from match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(f) =>
        import org.apache.spark.sql.functions.{col, lit}
        val changes = table.readChanges(f, e)
        // conform to the pinned CDF schema: historical change files may
        // lack later columns (null-fill); extras are projected away.
        // Backtick-quoted lookups — a bare col("a.b") would parse a
        // column literally named `a.b` as a struct-field reference
        changes.select(schema.fields.map { fld =>
          if (changes.columns.contains(fld.name))
            col("`" + fld.name.replace("`", "``") + "`").cast(fld.dataType)
          else lit(null).cast(fld.dataType).as(fld.name)
        }.toSeq: _*)
    }
    StreamBridge.asStreamingFrame(batch)
  }

  override def stop(): Unit = ()
}

private[tables] object GraftCdfStreamSource {
  def cdfSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true)))

  /** Structural shape modulo nullability/metadata: compaction's
    * union-schema commits legitimately widen nullability (a mergeSchema
    * read makes everything nullable), and reading with the pinned
    * nullability stays sound — only a FIELD/TYPE change loses data. */
  private[tables] def shapeOf(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => StructField(f.name, shapeOf(f.dataType))))
      case a: ArrayType => ArrayType(shapeOf(a.elementType))
      case m: MapType   => MapType(shapeOf(m.keyType), shapeOf(m.valueType))
      case other        => other
    }
  }
}

/** `writeStream.format("graft")` — each micro-batch appends as ONE commit
  * carrying (queryKey, batchId) in its metrics, and a replayed batch id
  * (at-least-once redelivery after a crash between the commit and the
  * checkpoint write) is recognized from the log and skipped: the
  * commit-log twin of the (checkpoint, txn) dance every exactly-once sink
  * does. Append mode only — Complete/Update belong to `foreachBatch`
  * compositions where the merge semantics are explicit. */
private[tables] final class GraftStreamSink(
    table: GraftTable,
    fallbackKey: String)(implicit settings: GraftSettings)
  extends Sink {

  /** The txn key is the STREAMING QUERY ID when available (set as a local
    * property by the stream execution thread): it lives INSIDE the
    * checkpoint, so deleting the checkpoint to reprocess mints a new id
    * and the old batch-id stamps stop matching — keying on the checkpoint
    * PATH instead would silently skip every replayed batch id after a
    * reset. The constructor key (checkpointLocation) is only the fallback
    * for direct harness calls outside a stream thread — flagged with a
    * warning, because a real stream silently alternating between the two
    * keys would miss replay detection. */
  private def queryKey(spark: org.apache.spark.sql.SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse {
        GraftStreamSink.log.warn(
          s"sql.streaming.queryId local property is absent — keying the " +
            s"exactly-once txn for ${table.path} on the fallback '$fallbackKey' " +
            "(expected only for direct addBatch calls outside a stream thread)")
        fallbackKey
      }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val key = queryKey(data.sparkSession)
    // batch ids are monotonic per query, so only the NEWEST commit
    // carrying our key matters — the lazy newest-first iterator stops
    // parsing at our last commit: O(distance to it), not O(history),
    // per micro-batch
    val replayed = table.exists && table.commitsNewestFirst
      .find(_.metrics.get(GraftStreamSink.QueryKey).contains(key))
      .flatMap(_.metrics.get(GraftStreamSink.BatchKey))
      .exists(_.toLong >= batchId)
    if (replayed) return
    table.append(StreamBridge.asBatchFrame(data),
      extraMetrics = Map(
        GraftStreamSink.QueryKey -> key,
        GraftStreamSink.BatchKey -> batchId.toString))
  }
}

private[tables] object GraftStreamSink {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftStreamSink])

  val QueryKey = "streamQueryKey"
  val BatchKey = "streamBatchId"

  def keyFrom(parameters: Map[String, String],
      session: org.apache.spark.sql.SparkSession): String =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
    }.orElse(
      // the session-level default Delta accepts: the engine derives the
      // real checkpoint dir under it, and in a real stream the queryId
      // property keys the txn anyway — the fallback only has to be stable
      session.conf.getOption("spark.sql.streaming.checkpointLocation")
    ).getOrElse(throw new IllegalArgumentException(
      // a silent shared fallback key would make two queries writing the
      // same table dedup each other's batch ids — refuse instead
      "graft sink requires .option(\"checkpointLocation\", ...) or the " +
        "spark.sql.streaming.checkpointLocation session default — the " +
        "location keys the exactly-once (queryKey, batchId) transaction"))

  def requireAppend(outputMode: OutputMode): Unit =
    if (outputMode != OutputMode.Append()) throw new IllegalArgumentException(
      s"graft sink supports Append output mode only (got $outputMode) — " +
        "use foreachBatch with GraftTable.upsert/overwrite for Update/Complete")
}
