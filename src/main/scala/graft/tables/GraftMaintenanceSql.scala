package graft.tables

import scala.util.matching.Regex

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** Maintenance SQL over graft tables — the Delta statement surface the
  * reference operates through (`DESCRIBE HISTORY` is how it watches
  * curated tables, `jibaro/datalake/cdc.py:224-247`; `VACUUM` is its
  * 768-hour GC cadence, `cdc.py:264-269`; `OPTIMIZE` is the SQL twin of
  * its small-file compaction, `delta_handler.py:9-35`):
  *
  * {{{
  *   VACUUM '/lake/t' [RETAIN 24 HOURS] [DRY RUN]  -- data-file GC
  *   VACUUM '/lake/t' RETAIN 50 VERSIONS       -- commit-LOG trim (vacuumLog)
  *   OPTIMIZE '/lake/t' [WHERE pred] [ZORDER BY (c1, c2)]  -- compaction / clustered rewrite
  *   DESCRIBE HISTORY '/lake/t'
  *   DESCRIBE DETAIL '/lake/t'
  *   RESTORE TABLE '/lake/t' TO VERSION AS OF 3
  *   RESTORE TABLE '/lake/t' TO TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   CONVERT TO GRAFT '/lake/plain_parquet' [NO STATISTICS]
  *   FSCK REPAIR TABLE '/lake/t' [DRY RUN]
  *   ALTER TABLE '/lake/t' ADD CONSTRAINT positive_qty CHECK (qty > 0)
  *   ALTER TABLE '/lake/t' DROP CONSTRAINT [IF EXISTS] positive_qty
  *   ALTER TABLE '/lake/t' DROP FEATURE dv    -- protocol downgrade
  * }}}
  *
  * The target is a quoted path or a catalog table name (`USING graft`).
  * None of these statements exist in vanilla Spark SQL, so the injected
  * parser ([[GraftSqlParser]]) can intercept on the leading keyword
  * without shadowing any built-in; everything else delegates verbatim.
  * Each statement runs through the SAME [[GraftTable]] primitive as the
  * Scala API — one implementation, two surfaces, like the DML rules.
  */
object GraftMaintenanceSql {

  /** A statement target: a filesystem path or a catalog table name,
    * resolved lazily at RUN time (catalog state may change between parse
    * and execution — Delta resolves the same way). */
  sealed trait Target { def resolve(spark: SparkSession): GraftTable }

  final case class PathTarget(path: String) extends Target {
    override def resolve(spark: SparkSession): GraftTable =
      GraftTable(spark, path)(graft.conf.GraftSettings.default)
  }

  final case class IdentTarget(parts: Seq[String]) extends Target {
    override def resolve(spark: SparkSession): GraftTable = {
      val catalog = spark.sessionState.catalog
      val ident = parts match {
        case Seq(t)     => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case _ => throw new IllegalArgumentException(
          s"cannot resolve ${parts.mkString(".")} — use db.table or a quoted path")
      }
      val meta = catalog.getTableMetadata(ident)
      require(meta.provider.exists(_.equalsIgnoreCase("graft")),
        s"${parts.mkString(".")} is not a graft table " +
          s"(provider: ${meta.provider.getOrElse("none")})")
      val loc = meta.storage.locationUri.getOrElse(throw new IllegalStateException(
        s"graft table ${parts.mkString(".")} has no location"))
      GraftTable(spark, loc.toString)(graft.conf.GraftSettings.default)
    }

    /** Does this identifier name a graft-provider catalog table? False
      * for missing tables and other providers — the constraint DDL uses
      * this to hand NON-graft targets back to Spark's own plan instead
      * of failing them (the statement shape is valid v2 SQL there). */
    def isGraftTable(spark: SparkSession): Boolean = {
      val catalog = spark.sessionState.catalog
      val ident = parts match {
        case Seq(t)     => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case _          => return false
      }
      catalog.tableExists(ident) &&
        catalog.getTableMetadata(ident).provider.exists(_.equalsIgnoreCase("graft"))
    }
  }

  /** Execute a delegate-parsed plan (analyze + run, side effects
    * included) for a statement handed back to vanilla Spark. */
  private[tables] def runFallback(spark: SparkSession,
      plan: LogicalPlan): Seq[Row] = {
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, plan).collect()
    Seq.empty
  }
}

import GraftMaintenanceSql._

/** `VACUUM t [RETAIN h HOURS] [DRY RUN]` — data-file GC past retention;
  * returns one row per deleted (or, DRY RUN, deletable) file (Delta
  * prints the touched paths the same way). */
final case class GraftVacuumCommand(target: Target,
    retainHours: Option[Double],
    dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = target.resolve(spark)
    // no RETAIN clause → the TABLE's effective retention (TBLPROPERTIES
    // override included) — vacuum(-1) resolves it inside GraftTable
    t.vacuum(retainHours.getOrElse(-1.0), dryRun = dryRun).map(Row(_))
  }
}

/** `VACUUM t RETAIN n VERSIONS` — commit-LOG trim ([[GraftTable.vacuumLog]],
  * the Delta `logRetentionDuration` twin, counted in versions). */
final case class GraftVacuumLogCommand(target: Target,
    retainVersions: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    target.resolve(spark).vacuumLog(retainVersions).map(Row(_))
}

/** `OPTIMIZE t [ZORDER BY (cols)]` — [[GraftTable.optimize]]: bin-packs
  * only the sub-target-size files (Delta semantics — already-compact
  * files are never rewritten, so the statement stays O(small tail) at
  * scale); ZORDER BY is the global clustered rewrite so data skipping on
  * those columns stays selective. */
final case class GraftOptimizeCommand(target: Target,
    zorderBy: Seq[String],
    where: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("numFilesBefore", LongType, nullable = false)(),
    AttributeReference("numFilesAfter", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = target.resolve(spark)
    val before = t.liveFiles().size.toLong
    where match {
      case Some(predText) =>
        require(zorderBy.isEmpty,
          "ZORDER BY re-clusters the WHOLE table — WHERE cannot scope it")
        // resolve the predicate against the table's own relation so the
        // atom extractor sees bound attributes and coerced literals (the
        // same resolved shapes GraftFileIndex prunes on at query time)
        val analyzed = t.readRelation()
          .filter(org.apache.spark.sql.functions.expr(predText))
          .queryExecution.analyzed
        val atoms = analyzed.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            ExpressionAtoms.conjuncts(f.condition)
        }.flatten
        // a predicate no atom can prune on would silently scope NOTHING
        // (= whole table) — refuse, like Delta refusing a non-partition
        // WHERE, instead of quietly compacting more than the user asked
        require(atoms.exists(_ != PredOpaque),
          s"OPTIMIZE ... WHERE needs a stats-prunable predicate " +
            s"(comparison / IN / IS NULL on a data column); got: $predText")
        t.optimizeScoped(atoms)
      case None => t.optimize(zorderBy)
    }
    Seq(Row(before, t.liveFiles().size.toLong))
  }
}

/** `DESCRIBE DETAIL t` — Delta's one-row table summary
  * ([[GraftTable.detail]]): format, location, timestamps, live-set
  * size/bytes, bucket layout. Metadata-plane. */
final case class GraftDescribeDetailCommand(target: Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("createdAt", TimestampType)(),
    AttributeReference("lastModified", TimestampType)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numFiles", LongType, nullable = false)(),
    AttributeReference("sizeInBytes", LongType, nullable = false)(),
    AttributeReference("bucketColumns", ArrayType(StringType))(),
    AttributeReference("numBuckets", IntegerType, nullable = false)(),
    AttributeReference("readerFeatures", ArrayType(StringType))(),
    AttributeReference("writerFeatures", ArrayType(StringType))())
  override def run(spark: SparkSession): Seq[Row] =
    target.resolve(spark).detail().collect().toSeq
}

/** `DESCRIBE HISTORY t` — the commit log as rows (the reference's
  * monitoring read, `cdc.py:224-247`). Bounded by the (checkpoint-trimmed)
  * log, a metadata-plane collect. */
final case class GraftDescribeHistoryCommand(target: Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp", TimestampType)(),
    AttributeReference("operation", StringType)(),
    AttributeReference("dataChange", BooleanType, nullable = false)(),
    AttributeReference("numAddedFiles", LongType, nullable = false)(),
    AttributeReference("operationMetrics", MapType(StringType, StringType))(),
    AttributeReference("numFiles", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    target.resolve(spark).history().collect().toSeq
}

/** `RESTORE TABLE t TO VERSION AS OF v` / `TO TIMESTAMP AS OF 'ts'` —
  * rolls the live set back as a NEW commit ([[GraftTable.restore]];
  * history is never rewritten). A timestamp restores the newest version
  * committed at or before it ([[GraftTable.versionAt]], the Delta
  * convention shared with the `timestampAsOf` reader option). */
final case class GraftRestoreCommand(target: Target,
    version: Option[Long],
    timestamp: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restoredVersion", LongType, nullable = false)(),
    AttributeReference("commitVersion", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = target.resolve(spark)
    val v = version.getOrElse(t.versionAt(GraftRestoreCommand.parseMs(timestamp.get)))
    val c = t.restore(v)
    Seq(Row(v, c.version))
  }
}

object GraftRestoreCommand {
  /** `'yyyy-MM-dd HH:mm:ss[.f]'` (JVM-local, the `java.sql.Timestamp`
    * round-trip shape) or an ISO-8601 instant — epoch millis. */
  private[tables] def parseMs(s: String): Long =
    try java.sql.Timestamp.valueOf(s).getTime
    catch {
      case _: IllegalArgumentException =>
        java.time.Instant.parse(s).toEpochMilli
    }
}

/** `CONVERT TO GRAFT 'path' [NO STATISTICS]` — adopt an existing parquet
  * directory in place ([[GraftTable.convert]]; Delta's CONVERT TO DELTA:
  * footer stats, no data scan, zero rewrites). Flat dirs and
  * hive-partitioned `k=v` trees both adopt; partition values become
  * per-file skipping atoms. */
final case class GraftConvertCommand(target: Target,
    withStats: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("numConvertedFiles", LongType, nullable = false)(),
    AttributeReference("numConvertedBytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // unlike the other statements, the catalog-table form targets a table
    // that is NOT graft yet: a `USING parquet` table converts in place and
    // its catalog provider flips to graft (Delta's CONVERT does the same)
    val table = target match {
      case PathTarget(p) =>
        GraftTable(spark, p)(graft.conf.GraftSettings.default)
      case IdentTarget(parts) =>
        val catalog = spark.sessionState.catalog
        val ident = parts match {
          case Seq(t)     => TableIdentifier(t)
          case Seq(db, t) => TableIdentifier(t, Some(db))
          case _ => throw new IllegalArgumentException(
            s"cannot resolve ${parts.mkString(".")} — use db.table or a quoted path")
        }
        val meta = catalog.getTableMetadata(ident)
        require(meta.provider.exists(_.equalsIgnoreCase("parquet")),
          s"CONVERT TO GRAFT needs a parquet table or a path, " +
            s"got provider ${meta.provider.getOrElse("none")}")
        val loc = meta.storage.locationUri.getOrElse(throw new IllegalStateException(
          s"table ${parts.mkString(".")} has no location"))
        GraftTable(spark, loc.toString)(graft.conf.GraftSettings.default)
    }
    val c = table.convert(collectStats = withStats)
    // flip the provider only AFTER the convert commit landed — a failed
    // convert must not leave the catalog claiming graft over bare parquet
    target match {
      case IdentTarget(parts) =>
        val catalog = spark.sessionState.catalog
        val ident = parts match {
          case Seq(t)     => TableIdentifier(t)
          case Seq(db, t) => TableIdentifier(t, Some(db))
          case _          => throw new IllegalStateException("unreachable")
        }
        catalog.alterTable(catalog.getTableMetadata(ident).copy(provider = Some("graft")))
        catalog.refreshTable(ident)
      case _ => ()
    }
    Seq(Row(c.metrics("numConvertedFiles").toLong,
      c.metrics("numConvertedBytes").toLong))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (pred)` —
  * [[GraftTable.addConstraint]]: validates existing rows (early-exit
  * scan), persists the predicate, enforced in-plan on every later write.
  *
  * `ALTER TABLE <ident> ...` is also valid Spark 4 v2 syntax, and the
  * interception regex cannot see providers at parse time — so a NON-graft
  * catalog target executes the DELEGATE's parse of the same statement
  * (`fallback`) instead of failing, restoring vanilla semantics for
  * v2/other-provider tables. */
final case class GraftAddConstraintCommand(target: Target,
    name: String, predicateSql: String,
    fallback: Option[LogicalPlan] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("predicate", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = target match {
    case it: IdentTarget if !it.isGraftTable(spark) && fallback.isDefined =>
      GraftMaintenanceSql.runFallback(spark, fallback.get)
    case _ =>
      target.resolve(spark).addConstraint(name, predicateSql)
      Seq(Row(name, predicateSql))
  }
}

/** `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name` —
  * [[GraftTable.dropConstraint]]; non-graft catalog targets delegate,
  * like [[GraftAddConstraintCommand]]. */
final case class GraftDropConstraintCommand(target: Target,
    name: String, ifExists: Boolean,
    fallback: Option[LogicalPlan] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("name", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = target match {
    case it: IdentTarget if !it.isGraftTable(spark) && fallback.isDefined =>
      GraftMaintenanceSql.runFallback(spark, fallback.get)
    case _ =>
      target.resolve(spark).dropConstraint(name, ifExists)
      Seq(Row(name))
  }
}

/** `ALTER TABLE '<path>' DROP FEATURE name` — governed protocol downgrade
  * ([[GraftTable.dropFeature]], Delta's DROP FEATURE): removes `name`
  * from the required reader/writer feature union once nothing current
  * depends on it (refuses with the remedy named otherwise), so e.g. a
  * REORG-purged table stops gating feature-blind readers. PATH targets
  * only (protocol features are a graft-log concept). */
final case class GraftDropFeatureCommand(target: Target, feature: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("feature", StringType, nullable = false)(),
    AttributeReference("commitVersion", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val c = target.resolve(spark).dropFeature(feature)
    Seq(Row(feature, c.version))
  }
}

/** `ALTER TABLE '<path>' SET TBLPROPERTIES ('k'='v', ...)` — persisted
  * per-table properties ([[GraftTable.setProperties]]): known settings
  * keys override the session defaults for THIS table (deletion_vectors,
  * change_data_feed, compact_target_bytes, ...), unknown keys are
  * free-form metadata. PATH targets only — catalog-table TBLPROPERTIES
  * stay vanilla Spark's. */
final case class GraftSetPropertiesCommand(target: Target,
    props: Map[String, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(props.nonEmpty,
      "SET TBLPROPERTIES needs 'key' = 'value' pairs (single-quoted)")
    target.resolve(spark).setProperties(props)
    props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
  }
}

/** `ALTER TABLE '<path>' UNSET TBLPROPERTIES [IF EXISTS] ('k', ...)`. */
final case class GraftUnsetPropertiesCommand(target: Target,
    keys: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("key", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    target.resolve(spark).unsetProperties(keys)
    keys.sorted.map(Row(_))
  }
}

/** `SHOW TBLPROPERTIES '<path>'` for graft path tables. */
final case class GraftShowPropertiesCommand(target: Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    target.resolve(spark).tableProperties.toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** `ALTER TABLE '<path>' RENAME COLUMN a TO b` — metadata-only rename
  * via column mapping ([[GraftTable.renameColumn]]); zero files
  * rewritten. PATH targets only: catalog-table column DDL stays vanilla
  * Spark's to rule on. */
final case class GraftRenameColumnCommand(target: Target,
    from: String, to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("from", StringType, nullable = false)(),
    AttributeReference("to", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    target.resolve(spark).renameColumn(from, to)
    Seq(Row(from, to))
  }
}

/** `ALTER TABLE '<path>' DROP COLUMN [IF EXISTS] c` — metadata-only drop
  * (tombstone) via column mapping ([[GraftTable.dropColumn]]). */
final case class GraftDropColumnCommand(target: Target,
    name: String, ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("column", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = target.resolve(spark)
    // dotted names address nested struct leaves — existence walks the
    // path, recursing through array/map wrappers exactly like dropColumn
    // itself does (IF EXISTS must never no-op on a droppable leaf)
    def leafExists(dt: org.apache.spark.sql.types.DataType,
        path: Seq[String]): Boolean = (dt, path) match {
      case (_, Seq()) => true
      case (s: org.apache.spark.sql.types.StructType, h +: rest) =>
        s.fields.find(_.name == h).exists(f => leafExists(f.dataType, rest))
      case (a: org.apache.spark.sql.types.ArrayType, p) => leafExists(a.elementType, p)
      case (m: org.apache.spark.sql.types.MapType, p) => leafExists(m.valueType, p)
      case _ => false
    }
    val present = t.exists &&
      leafExists(t.read().schema, name.split('.').toSeq)
    if (!present && ifExists) return Seq.empty
    t.dropColumn(name)
    Seq(Row(name))
  }
}

/** `REORG TABLE t APPLY (PURGE)` — Delta's deletion-vector purge:
  * rewrite EXACTLY the files carrying DVs so the bitmaps die, rows
  * materialize, and the vectorized read path (plus symlink manifests)
  * return ([[GraftTable.purgeDeletionVectors]]). Delta's REORG has the
  * same scope — never the table-wide bin-pack, which would rewrite a
  * streaming table's whole small-file tail for one DV. */
final case class GraftReorgCommand(target: Target) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("purgedDeletionVectors", LongType, nullable = false)(),
    AttributeReference("rewrittenFiles", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = target.resolve(spark)
    // report from the COMMIT the purge actually made, not a second
    // snapshot — an interleaved DELETE/purge between two snapshots would
    // make the two numbers describe different table states
    val c = t.purgeDeletionVectors()
    Seq(Row(
      c.flatMap(_.metrics.get("numPurgedDeletionVectors")).map(_.toLong).getOrElse(0L),
      c.map(_.remove.size.toLong).getOrElse(0L)))
  }
}

/** `FSCK REPAIR TABLE t [DRY RUN]` — [[GraftTable.repair]]: drop log
  * references to data files missing on disk (one listing reconciliation)
  * and clear a crashed writer's stale commit-claim markers;
  * DRY RUN reports without committing. */
final case class GraftFsckCommand(target: Target,
    dryRun: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    target.resolve(spark).repair(dryRun).map(Row(_))
}

/** The injected parser: recognizes the graft maintenance statements and
  * delegates EVERYTHING else (including all non-plan parse entry points)
  * to Spark's own parser. Regex-matched rather than a grammar — the
  * statements are keyword-anchored, and for the keywords no vanilla
  * statement can start with (VACUUM/OPTIMIZE/RESTORE/CONVERT TO GRAFT) a
  * grammar miss raises a usage error instead of a misleading delegate
  * parse error. Known accepted collision, same as Delta's grammar:
  * `DESCRIBE history c` (column c of a table literally named "history")
  * parses as DESCRIBE HISTORY of table c. */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // target = 'quoted path' | `backticked` | bare (possibly dotted) name
  private val T = """('[^']*'|`[^`]+`|[\w.$]+)"""
  private val Vacuum: Regex =
    s"""(?is)\\s*VACUUM\\s+$T(?:\\s+RETAIN\\s+(\\d+(?:\\.\\d+)?)\\s+HOURS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  private val VacuumLog: Regex =
    s"""(?is)\\s*VACUUM\\s+$T\\s+RETAIN\\s+(\\d+)\\s+VERSIONS\\s*;?\\s*""".r
  private val Optimize: Regex =
    s"""(?is)\\s*OPTIMIZE\\s+$T(?:\\s+WHERE\\s+(.+?))?(?:\\s+ZORDER\\s+BY\\s+\\(?([^();]+?)\\)?)?\\s*;?\\s*""".r
  private val History: Regex =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$T\\s*;?\\s*""".r
  private val Detail: Regex =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$T\\s*;?\\s*""".r
  private val Restore: Regex =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$T\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*""".r
  private val RestoreTs: Regex =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$T\\s+(?:TO\\s+)?TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*""".r
  private val Convert: Regex =
    s"""(?is)\\s*CONVERT\\s+TO\\s+GRAFT\\s+$T(\\s+NO\\s+STATISTICS)?\\s*;?\\s*""".r
  private val Fsck: Regex =
    s"""(?is)\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$T(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  // CHECK-constraint DDL (Delta's surface; vanilla Spark SQL has no CHECK
  // constraints for v1 tables). Only these two EXACT shapes intercept —
  // any other ALTER TABLE delegates verbatim, so vanilla column/property
  // DDL is untouched.
  private val AddConstraint: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*""".r
  private val DropConstraint: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+DROP\\s+CONSTRAINT(\\s+IF\\s+EXISTS)?\\s+(\\w+)\\s*;?\\s*""".r
  // column-mapping DDL intercepts QUOTED-PATH targets only: a path is
  // never valid vanilla ALTER TABLE syntax, so catalog-table column DDL
  // keeps whatever semantics vanilla Spark gives it
  private val TPath = """('[^']*')"""
  // column names may be DOTTED paths (nested struct leaves: `s.a`)
  private val RenameColumn: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$TPath\\s+RENAME\\s+COLUMN\\s+(\\w+(?:\\.\\w+)*)\\s+TO\\s+(\\w+)\\s*;?\\s*""".r
  private val DropColumn: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$TPath\\s+DROP\\s+COLUMN(\\s+IF\\s+EXISTS)?\\s+(\\w+(?:\\.\\w+)*)\\s*;?\\s*""".r
  // protocol downgrade (Delta's DROP FEATURE) — quoted-path targets only,
  // like the other graft-log-specific DDL
  private val DropFeature: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$TPath\\s+DROP\\s+FEATURE\\s+(\\w+)\\s*;?\\s*""".r
  private val SetProps: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$TPath\\s+SET\\s+TBLPROPERTIES\\s*\\(([^)]*)\\)\\s*;?\\s*""".r
  private val UnsetProps: Regex =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$TPath\\s+UNSET\\s+TBLPROPERTIES(?:\\s+IF\\s+EXISTS)?\\s*\\(([^)]*)\\)\\s*;?\\s*""".r
  private val ShowProps: Regex =
    s"""(?is)\\s*SHOW\\s+TBLPROPERTIES\\s+$TPath\\s*;?\\s*""".r
  // Delta's DV-purge statement: REORG TABLE t APPLY (PURGE) — rewrites
  // exactly the files carrying deletion vectors (OPTIMIZE's purge rule
  // already treats them as candidates regardless of size)
  private val Reorg: Regex =
    s"""(?is)\\s*REORG\\s+TABLE\\s+$T\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*""".r
  // 'k' = 'v' pairs / bare 'k' items inside TBLPROPERTIES(...)
  private val PropPair: Regex = """'([^']*)'\s*=\s*'([^']*)'""".r
  private val PropKey: Regex = """'([^']*)'""".r
  // DESC[RIBE] HISTORY is deliberately absent: `DESCRIBE history` is valid
  // vanilla SQL on a table named "history", so an unmatched describe always
  // delegates; the other keywords can never start a vanilla statement
  private val Keyword: Regex =
    """(?is)\s*(VACUUM|OPTIMIZE|RESTORE|CONVERT\s+TO\s+GRAFT|FSCK)\b.*""".r

  private def target(s: String): Target =
    if (s.startsWith("'")) PathTarget(s.substring(1, s.length - 1))
    else IdentTarget(delegate.parseMultipartIdentifier(s))

  /** The delegate's parse of the same statement, captured for CATALOG
    * targets so the command can hand a non-graft table back to vanilla
    * Spark at run time (providers are invisible at parse time). None for
    * quoted paths (never valid vanilla syntax) or when the delegate
    * cannot parse the statement either. */
  private def identFallback(rawTarget: String,
      sqlText: String): Option[LogicalPlan] =
    if (rawTarget.startsWith("'")) None
    else try Some(delegate.parsePlan(sqlText))
    catch { case _: Exception => None }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case VacuumLog(t, n)  => GraftVacuumLogCommand(target(t), n.toInt)
    case Vacuum(t, h, dry) =>
      GraftVacuumCommand(target(t), Option(h).map(_.toDouble), dryRun = dry != null)
    case Optimize(t, w, z) => GraftOptimizeCommand(target(t),
      Option(z).toSeq.flatMap(_.split(',')).map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty),
      Option(w).map(_.trim).filter(_.nonEmpty))
    case History(t)       => GraftDescribeHistoryCommand(target(t))
    case Detail(t)        => GraftDescribeDetailCommand(target(t))
    case Restore(t, v)    => GraftRestoreCommand(target(t), Some(v.toLong))
    case RestoreTs(t, ts) => GraftRestoreCommand(target(t), None, Some(ts))
    case Convert(t, noSt) => GraftConvertCommand(target(t), withStats = noSt == null)
    case Fsck(t, dry)     => GraftFsckCommand(target(t), dryRun = dry != null)
    case AddConstraint(t, n, pred) =>
      GraftAddConstraintCommand(target(t), n, pred.trim,
        identFallback(t, sqlText))
    case DropConstraint(t, ifEx, n) =>
      GraftDropConstraintCommand(target(t), n, ifExists = ifEx != null,
        fallback = identFallback(t, sqlText))
    case RenameColumn(t, from, to) =>
      GraftRenameColumnCommand(target(t), from, to)
    case DropColumn(t, ifEx, n) =>
      GraftDropColumnCommand(target(t), n, ifExists = ifEx != null)
    case DropFeature(t, f) =>
      GraftDropFeatureCommand(target(t), f)
    case SetProps(t, body) =>
      GraftSetPropertiesCommand(target(t),
        PropPair.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap)
    case UnsetProps(t, body) =>
      GraftUnsetPropertiesCommand(target(t),
        PropKey.findAllMatchIn(body).map(_.group(1)).toSeq)
    case ShowProps(t) =>
      GraftShowPropertiesCommand(target(t))
    case Reorg(t) => GraftReorgCommand(target(t))
    case Keyword(kw)      => throw new IllegalArgumentException(
      s"cannot parse graft ${kw.toUpperCase} statement — usage: " +
        "VACUUM <t> [RETAIN n HOURS | RETAIN n VERSIONS] [DRY RUN] | " +
        "OPTIMIZE <t> [WHERE pred] [ZORDER BY (c1, c2)] | " +
        "DESCRIBE HISTORY <t> | DESCRIBE DETAIL <t> | " +
        "RESTORE [TABLE] <t> [TO] VERSION AS OF n | " +
        "RESTORE [TABLE] <t> [TO] TIMESTAMP AS OF 'ts' | " +
        "CONVERT TO GRAFT <t> [NO STATISTICS] | " +
        "FSCK REPAIR TABLE <t> [DRY RUN]  (t = 'path' or table name)")
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
