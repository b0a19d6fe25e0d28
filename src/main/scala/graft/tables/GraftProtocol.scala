package graft.tables

import org.apache.spark.sql.types.{DataType, StructType}

/** A table in this log requires a reader capability this binary does not
  * have. Deliberately its own type: the checkpoint-selection fallback in
  * [[GraftLog.snapshot]] swallows UNREADABLE checkpoints (corruption —
  * an optimization, never a correctness input) but must NOT swallow this —
  * an unsupported table is a refusal, not a degrade. */
final class UnsupportedTableFeatureException(msg: String)
  extends IllegalStateException(msg)

/** Delta-style reader- AND writer-feature gating for the commit log
  * (Delta's minReaderVersion/readerFeatures + minWriterVersion/
  * writerFeatures, reduced to the named-feature sets — the part that
  * matters: a reader that does not KNOW a feature must refuse the table,
  * loudly; a writer that cannot uphold a WRITE-side invariant must refuse
  * to COMMIT while reads keep serving).
  *
  * Why this exists: the log is a durable FORMAT. A v16-era table with
  * deletion vectors opened by a reader that ignores the `dvs` field would
  * silently resurrect deleted rows; one with column mapping would leak
  * physical column names; a partition-converted tree would lose its
  * partition values. Each commit therefore records the reader features its
  * CONTENT depends on, checkpoints carry the running union (so a
  * vacuumLog-trimmed history still gates), and every read surface — batch,
  * SQL, streaming, CDF, time travel — funnels through [[GraftTable]]'s
  * commit/checkpoint parses, which call [[requireReadable]] before serving
  * a single row. An absent `features` field decodes as the empty set, so
  * every pre-gate table reads unchanged.
  *
  * Features are derived from commit CONTENT ([[featuresOf]]) rather than
  * declared by call sites: a new write path cannot forget to stamp the
  * gate, and a hand-laid log gates by what it actually contains.
  */
object GraftProtocol {

  /** Commit carries live deletion-vector bindings ([[DeletionVectors]]):
    * a reader that ignores them resurrects deleted rows. */
  final val Dv = "dv"
  /** Commit schema carries column-mapping metadata ([[ColumnMapping]]):
    * a reader that ignores it serves physical names and dropped columns. */
  final val ColumnMappingFeature = "column_mapping"
  /** Commit adopts nested `k=v/...` file names ([[GraftTable.convert]]):
    * a reader that ignores the layout loses the partition columns the
    * paths carry. */
  final val PartitionConvert = "partition_convert"

  /** Reader features THIS binary implements. A foreign/legacy reader of
    * this log format must refuse any feature outside its own set. */
  val ReaderFeatures: Set[String] = Set(Dv, ColumnMappingFeature, PartitionConvert)

  /** Refuse (loudly, with the feature NAMED) any required feature this
    * reader does not implement. `where` names the artifact that recorded
    * the requirement — commit vN or a checkpoint — so the error points at
    * evidence, not a guess. */
  def requireReadable(required: Iterable[String], table: String, where: String): Unit = {
    val unknown = required.toSet -- ReaderFeatures
    if (unknown.nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"table $table requires reader feature(s) " +
          s"[${unknown.toSeq.sorted.mkString(", ")}] (recorded in $where) " +
          s"that this reader does not support (supported: " +
          s"[${ReaderFeatures.toSeq.sorted.mkString(", ")}]) — upgrade the " +
          "graft library to read this table")
  }

  // ------------------------------------------------------ writer features
  // The mirror half of the protocol (Delta's writerFeatures): features
  // whose INVARIANT lives on the write side. A future/foreign writer that
  // can READ such a table could still commit rows that violate it — rows
  // breaking a CHECK constraint, DML without its change-data files,
  // removals on a table consumers trust to be append-only. The gate is
  // therefore on COMMITS: [[GraftLog.stampFeatures]], run on every
  // attempt of the one commit funnel ([[GraftLog.commitRewrite]]),
  // refuses when the table's recorded union holds a writer feature
  // outside [[WriterFeatures]], with the feature named; every read surface serves unchanged. Like the reader set, the
  // union is monotone (Delta never auto-downgrades protocol) and absent
  // fields decode as baseline, so pre-gate tables write unchanged.

  /** Table declares CHECK constraints in its constraints sidecar
    * (`_graft_log/_constraints.json`, owned by [[GraftLog]]): a writer
    * that ignores the sidecar could commit violating rows. */
  final val CheckConstraints = "check_constraints"
  /** Table expects row-level change data on DML (change_data_feed property
    * or commits that already recorded change files): a writer that ignores
    * it would starve CDF consumers of the rows it rewrote. */
  final val ChangeDataFeedFeature = "change_data_feed"
  /** Table is declared append-only (`append_only` property): a writer that
    * ignores it could remove or rewrite rows consumers trust immutable. */
  final val AppendOnlyFeature = "append_only"

  /** Writer features THIS binary implements/upholds. A foreign/legacy
    * writer of this log format must refuse to commit any feature outside
    * its own set — reads are unaffected. */
  val WriterFeatures: Set[String] =
    Set(CheckConstraints, ChangeDataFeedFeature, AppendOnlyFeature)

  /** Refuse the COMMIT (loudly, with the feature NAMED) when the table
    * requires a writer feature this binary does not uphold. Reads are
    * deliberately not gated by this — serving rows cannot violate a
    * write-side invariant. */
  def requireWritable(required: Iterable[String], table: String, where: String): Unit = {
    val unknown = required.toSet -- WriterFeatures
    if (unknown.nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"table $table requires writer feature(s) " +
          s"[${unknown.toSeq.sorted.mkString(", ")}] (recorded in $where) " +
          s"that this writer does not support (supported: " +
          s"[${WriterFeatures.toSeq.sorted.mkString(", ")}]) — the table " +
          "still READS normally; upgrade the graft library to write to it")
  }

  /** The writer features a commit binds the table to, sorted. Content-
    * derived where the log itself carries the evidence (recorded change
    * files); state-derived for the sidecar-declared expectations the
    * caller passes in (constraints present, `change_data_feed` /
    * `append_only` table properties) — [[GraftLog.stampFeatures]] is the
    * single call site, so no write path can skip the stamp. None when
    * baseline: the common commit pays zero extra log bytes. */
  def writerFeaturesOf(c: Commit, hasCheckConstraints: Boolean,
      cdfDeclared: Boolean, appendOnlyDeclared: Boolean): Option[Seq[String]] = {
    val b = Seq.newBuilder[String]
    if (appendOnlyDeclared) b += AppendOnlyFeature
    if (cdfDeclared || c.changes.isDefined) b += ChangeDataFeedFeature
    if (hasCheckConstraints) b += CheckConstraints
    val fs = b.result().sorted
    if (fs.isEmpty) None else Some(fs)
  }

  /** The reader features `c`'s content depends on, sorted (deterministic
    * log bytes). None when baseline — the common commit pays zero extra
    * log bytes and pre-gate logs stay byte-compatible. */
  def featuresOf(c: Commit): Option[Seq[String]] = {
    val b = Seq.newBuilder[String]
    // column_mapping sorts before dv/partition_convert: keep alphabetical
    if (schemaRequiresMapping(c.schemaJson)) b += ColumnMappingFeature
    if (c.dvs.exists(_.values.exists(_ != DeletionVectors.Cleared))) b += Dv
    if (c.add.exists(_.contains("/"))) b += PartitionConvert
    val fs = b.result()
    if (fs.isEmpty) None else Some(fs)
  }

  // bounded memo keyed by the schema JSON itself: a streaming ingest
  // stamps dozens of commits per batch with the IDENTICAL schema JSON —
  // one map hit beats a JSON parse per commit. A MAP (not a single entry)
  // because one driver interleaving commits across several tables with
  // different schemas would otherwise degrade the memo to zero hits and
  // re-parse per commit; cleared wholesale at a small bound so schema
  // churn can't pin driver memory (the commitCache discipline).
  private val schemaProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Does this schema JSON carry column-mapping state? Shared by the
    * per-commit stamp and the snapshot's content-derived union (the
    * pre-gate-history self-heal in [[GraftLog.snapshot]]). */
  private[tables] def schemaRequiresMapping(schemaJson: String): Boolean = {
    if (schemaJson == null || schemaJson.isEmpty) return false
    val cached = schemaProbeCache.get(schemaJson)
    if (cached != null) return cached
    val r =
      try ColumnMapping.active(DataType.fromJson(schemaJson).asInstanceOf[StructType])
      catch { case scala.util.control.NonFatal(_) => false }
    if (schemaProbeCache.size > 64) schemaProbeCache.clear()
    schemaProbeCache.put(schemaJson, r)
    r
  }
}
