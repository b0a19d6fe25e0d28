package graft.tables

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.TimestampType

/** SQL DML over graft tables — `DELETE FROM` / `UPDATE` / `MERGE INTO` /
  * `SELECT ... VERSION AS OF`, the surface Delta exposes on its tables
  * (the reference's core apply IS the Delta MERGE, `jibaro/datalake/
  * cdc.py:203-217`; a SQL-first user reaches for these before any API).
  *
  * Architecture — the Delta pattern, not DSv2 row-level plumbing: Spark's
  * parser already produces `DeleteFromTable` / `UpdateTable` /
  * `MergeIntoTable` and resolves their condition/assignment expressions
  * against the target relation; an injected analyzer rule
  * ([[GraftDmlRule]]) then swaps the resolved node for a runnable command
  * that executes through the SAME [[GraftTable]] primitives the Scala API
  * uses (`deleteOrUpdate`/`replaceWith`), so both surfaces share
  * one implementation: stats/bucket file pruning, CDF recording rules,
  * and [[GraftTable]]'s logical conflict detection all apply identically.
  *
  * Scale shape: DELETE/UPDATE extract skipping atoms from the ANALYZED
  * Catalyst condition ([[ExpressionAtoms]]) so a selective SQL DELETE
  * rewrites O(matching files), exactly like the API path. MERGE with an
  * equi-key ON condition file-prunes too (Delta's merge shape): the
  * source's key min/max become skipping atoms, only files that can hold
  * matches join and rewrite, everything else is retained untouched — a
  * 10-row merge into a 100 TB table rewrites a handful of files, not the
  * corpus. Non-equi merges and merges with `WHEN NOT MATCHED BY SOURCE`
  * clauses (whose scope is genuinely every target row) fall back to the
  * whole-table rewrite. */
object GraftDml {

  /** The [[GraftFileIndex]] behind a resolved DML target, unwrapped
    * through whatever aliases the analyzer added. None = not a graft
    * table, leave the plan for Spark's own (v2) handling. */
  private[tables] def graftIndexOf(plan: LogicalPlan): Option[GraftFileIndex] =
    plan.collectFirst {
      case lr: LogicalRelation => lr.relation
    }.collect {
      case fs: HadoopFsRelation => fs.location
    }.collect {
      case idx: GraftFileIndex => idx
    }

  /** The catalog identifier behind a resolved DML target, when it IS a
    * catalog table (None for path loads). A DML that creates deletion
    * vectors or re-binds them changes state the cached relation's FILE
    * FORMAT was built from — `index.refresh()` re-pins the file list but
    * not the format — so the command must drop the catalog's cached plan
    * and let the next query re-resolve with the right format. */
  private[tables] def tableIdentOf(plan: LogicalPlan): Option[TableIdentifier] =
    plan.collectFirst {
      case lr: LogicalRelation if lr.catalogTable.isDefined =>
        lr.catalogTable.get.identifier
    }

  private[tables] def refreshCatalog(spark: SparkSession,
      ident: Option[TableIdentifier]): Unit =
    ident.foreach(spark.sessionState.catalog.refreshTable)

  /** Pre-resolution SHAPE of a `MERGE WITH SCHEMA EVOLUTION`: which
    * action indexes were STAR clauses (`UPDATE SET *` / `INSERT *`).
    * Spark's resolver erases the distinction — stars expand over the
    * target's columns — but Delta's evolution semantics need it: star
    * clauses populate evolved columns from the source, explicit-list
    * clauses leave them NULL, and a merge with ONLY explicit clauses
    * evolves nothing (Delta evolves just the assignment-referenced
    * columns, and an assignment to a not-yet-existing column cannot
    * resolve on a v1 target at all). Recorded by [[GraftMergeShapeRule]]
    * on the freshly parsed plan; tree tags ride the analyzer's copy
    * chain into [[GraftMergeCommand]]. */
  final case class MergeEvolutionShape(starMatched: Set[Int],
      starNotMatched: Set[Int]) {
    def anyStar: Boolean = starMatched.nonEmpty || starNotMatched.nonEmpty
  }
  private[tables] val EvolutionShapeTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[MergeEvolutionShape](
      "graftMergeEvolutionShape")

  private[tables] def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** A resolved assignment key decomposed to (top-level target attribute,
    * nested field path) — `SET s.a.b = x` arrives as GetStructField
    * chains over the attribute. */
  private[tables] def keyPath(e: Expression,
      op: String): (AttributeReference, List[String]) = e match {
    case a: AttributeReference => (a, Nil)
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      val (a, p) = keyPath(g.child, op)
      (a, p :+ g.extractFieldName)
    case other => throw new UnsupportedOperationException(
      s"graft $op supports column and struct-field assignment keys only, got: $other")
  }

  private def quotedPath(path: Seq[String]): String =
    path.map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  private def fieldTypeOf(dt: org.apache.spark.sql.types.DataType,
      path: Seq[String]): Option[org.apache.spark.sql.types.DataType] = path match {
    case Seq() => Some(dt)
    case h +: t => dt match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.find(_.name == h).map(_.dataType).flatMap(fieldTypeOf(_, t))
      case _ => None
    }
  }

  /** Per top-level column, the effective assignment COLUMN: a whole-column
    * assignment takes its value; nested field assignments (Delta's
    * `UPDATE SET s.a = x` shape) fold `withField` over the column's
    * current value, each value cast to the field's declared type so a
    * literal can't silently drift the struct's schema. Mixing a
    * whole-column and a nested assignment to the same column is refused
    * (ambiguous order — Delta refuses too). */
  private[tables] def effectiveAssigns(assignments: Seq[Assignment], op: String,
      base: String => Column, valueOf: Expression => Column,
      allowNested: Boolean = true): Map[String, Column] =
    assignments.map(a => (keyPath(a.key, op), a.value))
      .groupBy(_._1._1.name).map { case (top, entries) =>
        val whole = entries.filter(_._1._2.isEmpty)
        if (whole.nonEmpty) {
          require(entries.size == 1,
            s"$op: conflicting whole-column and field assignments to '$top'")
          top -> valueOf(whole.head._2)
        } else {
          if (!allowNested) throw new UnsupportedOperationException(
            s"graft $op INSERT assignments must be top-level columns")
          top -> entries.foldLeft(base(top)) { case (c, ((topAttr, path), v)) =>
            val vc = valueOf(v)
            val cast = fieldTypeOf(topAttr.dataType, path).map(vc.cast).getOrElse(vc)
            c.withField(quotedPath(path), cast)
          }
        }
      }

  /** Re-target a resolved condition at a FRESH scan by name: the command
    * applies it to DataFrames it builds itself (the pruned parquet read
    * inside delete/update), whose attribute ids differ from the analyzed
    * plan's. Subquery conditions never take this path — they run through
    * the captured-plan route ([[deleteFromPlan]]/[[updateFromPlan]]),
    * which preserves attribute ids. */
  private[tables] def byName(e: Expression, op: String): Column = {
    require(!hasSubquery(e), s"internal: $op subquery condition must use the plan path")
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
  }

  /** The captured analyzed plan with its graft scan narrowed to `keep` —
    * [[GraftFileIndex.restrictTo]] swapped in via `LogicalRelation.copy`,
    * which PRESERVES the relation's attribute ids, so every resolved
    * condition/assignment expression still binds while the scan lists
    * only the kept files. */
  private[tables] def scopedTo(plan: LogicalPlan, index: GraftFileIndex,
      keep: Set[String]): LogicalPlan = plan.transform {
    case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] &&
        (lr.relation.asInstanceOf[HadoopFsRelation].location eq index) =>
      val fs = lr.relation.asInstanceOf[HadoopFsRelation]
      lr.copy(relation = fs.copy(location = index.restrictTo(keep))(fs.sparkSession))
  }

  /** The files of the pinned snapshot that can hold rows matching `cond`,
    * found by evaluating the ANALYZED plan itself (subqueries included)
    * with the scan's file name attached per row. The scan self-prunes:
    * Catalyst pushes the condition's plain conjuncts down to the graft
    * file index, so stats/bucket skipping still applies before any I/O —
    * which is why `cond` must be the RAW condition (a `coalesce(c,
    * false)` wrapper is one opaque conjunct the pruner can't split, and
    * `.filter` already treats NULL as false). Names are the files' LOG
    * names (table-relative paths, like everything keyed off `snap.live`):
    * converted trees' live names are nested `k=v/...` paths that a
    * basename would never match — restrictTo would keep zero files and
    * the DML would silently no-op. Driver memory is bounded by the
    * table's FILE count (metadata plane — the same bound Delta's
    * merge/DML touched-file discovery carries). */
  private def affectedFiles(spark: SparkSession, plan: LogicalPlan,
      cond: Column, table: GraftTable): Seq[String] =
    PlanBridge.ofRows(spark, plan)
      .withColumn("__graft_f", GraftTable.relNameColumn(table.qualifiedRootUris))
      .filter(cond)
      .select("__graft_f").distinct()
      .collect().map(_.getString(0)).toSeq

  /** DELETE with a subquery condition: evaluate against the captured
    * analyzed plan (attribute ids preserved, so `IN (SELECT ...)` just
    * runs), discover the touched files, rewrite ONLY those — the same
    * O(matching files) shape as the atom-pruned path. */
  private[tables] def deleteFromPlan(spark: SparkSession, index: GraftFileIndex,
      target: LogicalPlan, condition: Expression): Unit = {
    val table = index.table
    val snap = index.pinnedSnapshot
    val condRaw = ColumnBridge.column(condition)
    val cond = coalesce(condRaw, lit(false))
    val affected = affectedFiles(spark, target, condRaw, table)
    if (affected.isEmpty) return
    // pre-stage protocol probe: refuse a gated table before the CDF
    // change rows (or the rewrite) stage a single byte
    table.preWriteGate("delete", removesRows = true)
    // scoped barrier lifecycle: the CDF materialization is freed on exit,
    // NORMAL OR EXCEPTIONAL — a conflict thrown by replaceWith must not
    // pin the scoped scan's blocks for the session's lifetime
    graft.ext.Parallelism.scoped {
      // CDF consumes the scoped scan twice (remaining + deleted rows)
      val scoped = table.cdfShared(
        PlanBridge.ofRows(spark, scopedTo(target, index, affected.toSet)))
      val remaining = scoped.filter(!cond)
      val changeFiles =
        if (table.effectiveSettings.changeDataFeed)
          Some(table.stageChangeRows(table.tagged(scoped.filter(cond), "delete")))
        else None
      table.replaceWith("delete", snap.version, affected, remaining, Map.empty,
        mayOverlap = table.mayMatchPredicate(ExpressionAtoms.conjuncts(condition)),
        changes = changeFiles)
    }
  }

  /** UPDATE with subqueries in the condition or assignment values — the
    * captured-plan twin of [[GraftTable.update]]. `assigns` maps each
    * affected TOP-LEVEL column to its effective value column
    * ([[effectiveAssigns]] — nested field assignments already folded). */
  private[tables] def updateFromPlan(spark: SparkSession, index: GraftFileIndex,
      target: LogicalPlan, assigns: Map[String, Column],
      condition: Option[Expression]): Unit = {
    val table = index.table
    val snap = index.pinnedSnapshot
    val cond = condition
      .map(e => coalesce(ColumnBridge.column(e), lit(false))).getOrElse(lit(true))
    // No WHERE clause (subquery in an assignment value only) rewrites every
    // row by definition — discovery would full-scan the table just to
    // rediscover snap.live. Mirrors the keys-empty branch of MERGE.
    val affected =
      if (condition.isEmpty) snap.live
      else affectedFiles(spark, target, ColumnBridge.column(condition.get), table)
    if (affected.isEmpty) return
    // pre-stage protocol probe, before change rows stage (see deleteFromPlan)
    table.preWriteGate("update", removesRows = true)
    // scoped barrier lifecycle: freed on exit, normal or exceptional
    graft.ext.Parallelism.scoped {
      val scoped = table.cdfShared(
        PlanBridge.ofRows(spark, scopedTo(target, index, affected.toSet)))
      val targetCols = target.output
      def projected(rows: DataFrame, applyAssigns: Boolean): DataFrame =
        rows.select(targetCols.map { a =>
          assigns.get(a.name) match {
            case Some(v) if applyAssigns => v.cast(a.dataType).as(a.name)
            case _ => ColumnBridge.column(a).as(a.name)
          }
        }: _*)
      val updated = scoped.select(targetCols.map { a =>
        assigns.get(a.name) match {
          // per-row gate, like deleteOrUpdate: scoped files hold non-matching
          // rows too — those carry through unchanged
          case Some(v) =>
            when(cond, v.cast(a.dataType))
              .otherwise(ColumnBridge.column(a)).as(a.name)
          case None => ColumnBridge.column(a).as(a.name)
        }
      }: _*)
      val changeFiles =
        if (table.effectiveSettings.changeDataFeed) {
          val matched = scoped.filter(cond)
          Some(table.stageChangeRows(
            table.tagged(projected(matched, applyAssigns = false), "update_preimage")
              .unionByName(
                table.tagged(projected(matched, applyAssigns = true), "update_postimage"),
                allowMissingColumns = true)))
        } else None
      table.replaceWith("update", snap.version, affected, updated, Map.empty,
        mayOverlap = table.mayMatchPredicate(
          condition.map(ExpressionAtoms.conjuncts).getOrElse(Seq(PredOpaque))),
        changes = changeFiles)
    }
  }
}

/** `DELETE FROM t WHERE p` — the same pruned-rewrite as
  * [[GraftTable.delete]]: only files whose stats admit matching rows are
  * rewritten. Subquery conditions (`WHERE id IN (SELECT ...)`) run
  * against the captured analyzed plan instead of being refused. */
final case class GraftDeleteCommand(index: GraftFileIndex,
    target: LogicalPlan,
    condition: Expression,
    catalogIdent: Option[TableIdentifier] = None)
  extends LeafRunnableCommand with SupportsSubquery {
  override def run(spark: SparkSession): Seq[Row] = {
    if (GraftDml.hasSubquery(condition))
      GraftDml.deleteFromPlan(spark, index, target, condition)
    else
      index.table.deleteOrUpdate(
        GraftDml.byName(condition, "DELETE"),
        ExpressionAtoms.conjuncts(condition), None)
    index.refresh()
    GraftDml.refreshCatalog(spark, catalogIdent)
    Seq.empty
  }
}

/** `UPDATE t SET c = v WHERE p` — the pruned rewrite of
  * [[GraftTable.update]]. Column and nested struct-field assignment keys
  * (`SET s.a = x`, Delta's shape — folded through `withField`);
  * subqueries in the condition or assignment values run against the
  * captured analyzed plan. */
final case class GraftUpdateCommand(index: GraftFileIndex,
    target: LogicalPlan,
    assignments: Seq[Assignment],
    condition: Option[Expression],
    catalogIdent: Option[TableIdentifier] = None)
  extends LeafRunnableCommand with SupportsSubquery {
  override def run(spark: SparkSession): Seq[Row] = {
    val subq = condition.exists(GraftDml.hasSubquery) ||
      assignments.exists(a => GraftDml.hasSubquery(a.value))
    if (subq) {
      val attrOf = target.output.map(a => a.name -> a).toMap
      val assigns = GraftDml.effectiveAssigns(assignments, "UPDATE",
        base = name => ColumnBridge.column(attrOf(name)),
        valueOf = ColumnBridge.column)
      GraftDml.updateFromPlan(spark, index, target, assigns, condition)
    } else {
      val assigns = GraftDml.effectiveAssigns(assignments, "UPDATE",
        // backtick-quoted: a column literally named `a.b` must not parse
        // as a struct-field reference
        base = name => col("`" + name.replace("`", "``") + "`"),
        valueOf = e => GraftDml.byName(e, "UPDATE"))
      val cond = condition.map(GraftDml.byName(_, "UPDATE")).getOrElse(lit(true))
      val atoms = condition.map(ExpressionAtoms.conjuncts).getOrElse(Seq(PredOpaque))
      index.table.deleteOrUpdate(cond, atoms, Some(assigns))
    }
    index.refresh()
    GraftDml.refreshCatalog(spark, catalogIdent)
    Seq.empty
  }
}

/** `MERGE INTO target USING source ON cond WHEN ...` with ANSI/Delta
  * semantics:
  *
  *  - matched actions apply FIRST-CLAUSE-WINS in declaration order
  *    (each clause's extra condition gates it); a matched target row no
  *    clause claims is carried through unchanged — exactly ONCE, even
  *    when an insert-only merge legitimately matches it to several
  *    source rows (Delta permits multiple matches there);
  *  - `WHEN NOT MATCHED [BY TARGET]` inserts source rows the join missed;
  *  - `WHEN NOT MATCHED BY SOURCE` updates/deletes target rows with no
  *    source match;
  *  - a target row matching MULTIPLE source rows fails loudly (the ANSI
  *    cardinality rule Delta enforces) whenever matched actions exist;
  *  - `WITH SCHEMA EVOLUTION` follows Delta's semantics (since round
  *    16): a STAR clause (`UPDATE SET *` / `INSERT *`) widens the
  *    target with every new source column and populates them from the
  *    source for the rows it claims; EXPLICIT-list clauses leave
  *    evolved columns NULL for their rows; a merge with only explicit
  *    clauses evolves nothing (Delta evolves just assignment-referenced
  *    columns — and an assignment to a not-yet-existing column cannot
  *    resolve on a v1 target, the same limitation OSS Spark has);
  *    carried-through rows read NULL. The star/explicit distinction is
  *    recorded pre-resolution by [[GraftMergeShapeRule]] (Spark's
  *    resolver expands stars over the target's columns, erasing it).
  *
  * The captured ANALYZED target/source plans are evaluated via
  * [[PlanBridge.ofRows]], preserving attribute ids so the user's ON
  * condition and action expressions bind as-is over the full-outer join.
  *
  * FILE PRUNING (Delta's merge shape): when the ON condition carries
  * equi-key conjuncts (`t.k = <source expr>`) and no NOT-MATCHED-BY-SOURCE
  * clause exists, one tiny aggregate computes the source keys' min/max,
  * the existing stats atoms prune the target to the files that can hold
  * matches, and ONLY those files join and rewrite — proven sound because
  * a target row outside the pruned files can equal no source key, so it
  * is "matched by nothing" and carrying its file through unchanged is
  * exactly the no-clause semantics. The final state commits through
  * [[GraftTable.replaceWith]] — one commit, conflict detection scoped by
  * the same key-range atoms. */
final case class GraftMergeCommand(merge: MergeIntoTable,
    index: GraftFileIndex,
    catalogIdent: Option[TableIdentifier] = None) extends LeafRunnableCommand {

  private val TMark = "__graft_t"
  private val SMark = "__graft_s"
  private val TId = "__graft_tid"

  /** Equi-key conjuncts of the ON condition: (bare target attribute,
    * source-only expression). Extra conjuncts are fine (pruning with a
    * SUBSET of the equi keys stays sound — every match still satisfies
    * the extracted equalities); `t.k` wrapped in casts/functions is
    * skipped (stats speak raw column values). */
  private def equiKeys: Seq[(AttributeReference, Expression)] = {
    val targetIds = merge.targetTable.outputSet
    val sourceIds = merge.sourceTable.outputSet
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // `s.deterministic` is load-bearing: min/max of a nondeterministic
    // source expression says nothing about the value the JOIN will
    // re-evaluate — pruning on it could skip files holding real matches
    split(merge.mergeCondition).collect {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(t: AttributeReference, s)
          if targetIds.contains(t) && s.references.subsetOf(sourceIds) &&
            s.deterministic => (t, s)
      case org.apache.spark.sql.catalyst.expressions.EqualTo(s, t: AttributeReference)
          if targetIds.contains(t) && s.references.subsetOf(sourceIds) &&
            s.deterministic => (t, s)
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val table = index.table
    val snap = index.pinnedSnapshot
    val targetCols = merge.targetTable.output
    merge.targetTable.schema.fieldNames.foreach { n =>
      require(n != TMark && n != SMark && n != TId, s"column name '$n' is reserved")
    }

    // WITH SCHEMA EVOLUTION: the source attributes absent from the target
    // (by case-insensitive name, Spark's resolution default) — but ONLY
    // when some star clause exists (Delta's rule; an explicit-only merge
    // evolves nothing). API-built merges carry no parse-time tag and
    // default to star semantics, the DataFrame analogue of `*`.
    val shape = merge.getTagValue(GraftDml.EvolutionShapeTag)
      .getOrElse(GraftDml.MergeEvolutionShape(
        merge.matchedActions.indices.toSet,
        merge.notMatchedActions.indices.toSet))
    val evolved: Seq[Attribute] =
      if (!merge.withSchemaEvolution || !shape.anyStar) Seq.empty
      else {
        val existing = merge.targetTable.schema.fieldNames.map(_.toLowerCase).toSet
        merge.sourceTable.output.filterNot(a => existing(a.name.toLowerCase))
      }
    evolved.foreach { a =>
      require(a.name != TMark && a.name != SMark && a.name != TId,
        s"evolved column name '${a.name}' is reserved")
    }

    // ---- file pruning from the ON condition's equi keys ----
    val keys = if (merge.notMatchedBySourceActions.isEmpty) equiKeys else Seq.empty
    // When pruning, the source is MATERIALIZED first (Delta's
    // materializeSource): the join must see EXACTLY the rows the min/max
    // aggregate saw — a nondeterministic source query (LIMIT without
    // ORDER, a sampling filter) re-evaluated in the join could otherwise
    // produce keys outside the aggregated range and match rows in files
    // the bound retained. It also means an expensive source subquery
    // computes once, not twice. The barrier honors `settings.barrierMode`:
    // localCheckpoint (default, fastest) pins executor-local blocks with
    // no lineage fallback, so a LARGE merge source (a backfill join) on a
    // real cluster sets `barrier_mode=persist` to survive executor loss
    // mid-merge — same knob, same trade as every ext/ operator.
    implicit val mergeSettings: graft.conf.GraftSettings = table.effectiveSettings
    // scoped barrier lifecycle: source + join materializations are freed
    // on exit, NORMAL OR EXCEPTIONAL — the cardinality check or a commit
    // conflict throwing must not pin a table-sized join's blocks for the
    // session's lifetime (each retried merge would leak another copy)
    graft.ext.Parallelism.scoped {
      val sourceDf = {
        val s0 = PlanBridge.ofRows(spark, merge.sourceTable)
        if (keys.isEmpty) s0
        else if (mergeSettings.barrierMode == "persist" &&
            merge.sourceTable.exists(_.expressions.exists(!_.deterministic)))
          // persist's LINEAGE is the hazard here: an executor loss would
          // re-evaluate a nondeterministic source to different rows, with
          // keys possibly outside the aggregated pruning bound — exactly the
          // corruption materialization exists to prevent. Pin blocks with no
          // lineage instead (fails loudly on executor loss, never silently
          // merges the wrong rows); deterministic sources recompute
          // identically and keep the lineage-backed persist.
          graft.ext.Parallelism.checkpointTracked(s0)
        else graft.ext.Parallelism.materialize(s0)
      }
      val (affected: Seq[String], pruneAtoms: Seq[PredAtom]) =
        if (keys.isEmpty) (snap.live, Seq(PredOpaque))
        // the source keys' min/max bound the files that can hold matches
        // (the rule the API upsert shares)
        else table.keyRangeScope(snap, sourceDf,
          keys.map { case (t, s) => t.name -> ColumnBridge.column(s) })
      // pre-stage protocol probe: an insert-only merge touching no stored
      // file stays allowed on append-only (Delta permits those); any
      // affected file will be removed/rewritten by the commit
      table.preWriteGate("merge", removesRows = affected.nonEmpty)
      val scopedPlan =
        if (affected.size == snap.live.size) merge.targetTable
        else GraftDml.scopedTo(merge.targetTable, index, affected.toSet)

      val target = PlanBridge.ofRows(spark, scopedPlan)
        .withColumn(TId, monotonically_increasing_id())
        .withColumn(TMark, lit(true))
      val source = sourceDf.withColumn(SMark, lit(true))
      // consumed once per WHEN clause + leftovers — barrierMode-switched
      val joined = graft.ext.Parallelism.materialize(target
        .join(source, ColumnBridge.column(merge.mergeCondition), "full_outer"))

      val matched = joined.filter(col(TMark) && col(SMark))
      val sourceOnly = joined.filter(col(SMark) && col(TMark).isNull)
      val targetOnly = joined.filter(col(TMark) && col(SMark).isNull)

      // ANSI cardinality: with matched actions, a target row may match at
      // most one source row — a silent fan-out would apply one row's update
      // and drop the rest nondeterministically
      if (merge.matchedActions.nonEmpty &&
        matched.groupBy(TId).count().filter(col("count") > 1).limit(1).count() > 0)
        throw new IllegalStateException(
          "MERGE: a target row matched multiple source rows — deduplicate the " +
            "source (e.g. Dedup.latestPerKey) or tighten the ON condition")

      def gate(c: Option[Expression]): Column =
        c.map(e => coalesce(ColumnBridge.column(e), lit(false))).getOrElse(lit(true))
      def notPrior(prior: Seq[Option[Expression]]): Column =
        prior.foldLeft(lit(true))((acc, p) => acc && !gate(p))

      /** Project a clause's output in the (possibly evolved) TARGET schema:
        * assigned columns take their expression, the rest keep the target
        * value (updates) or NULL (inserts). Evolved columns read the SOURCE
        * side for STAR clauses (NULL on target-only rows by join
        * construction) and NULL for explicit-list clauses — Delta's
        * per-action evolution values. */
      def projected(rows: DataFrame, assigns: Seq[Assignment],
          forInsert: Boolean, evolveFromSource: Boolean): DataFrame = {
        // nested field keys (UPDATE SET s.a = x) fold withField over the
        // target's current struct; INSERT keys must stay top-level (there
        // is no current value to patch — Delta refuses the same way)
        val byKey: Map[String, Column] = GraftDml.effectiveAssigns(assigns, "MERGE",
          base = name => ColumnBridge.column(targetCols.find(_.name == name).get),
          valueOf = ColumnBridge.column,
          allowNested = !forInsert)
        rows.select(targetCols.map { a =>
          byKey.get(a.name) match {
            case Some(v) => v.cast(a.dataType).as(a.name)
            case None if forInsert => lit(null).cast(a.dataType).as(a.name)
            case None => ColumnBridge.column(a).as(a.name)
          }
        } ++ evolved.map(a =>
          (if (evolveFromSource) ColumnBridge.column(a)
           else lit(null).cast(a.dataType)).as(a.name)): _*)
      }

      /** Carried-through target rows, in the evolved schema (new columns
        * NULL — the row is unchanged, Delta's evolution contract). The
        * `dropDuplicates(TId)` is load-bearing for INSERT-ONLY merges:
        * with no matched actions the ANSI cardinality check is skipped
        * (Delta permits multiple matches there), so a target row matching
        * N source rows appears N times in the join — it must still be
        * written back exactly once. */
      def carried(rows: DataFrame): DataFrame =
        rows.dropDuplicates(TId).select(
          targetCols.map(a => ColumnBridge.column(a).as(a.name)) ++
            evolved.map(a => lit(null).cast(a.dataType).as(a.name)): _*)

      // CDF (Delta merge parity): per claimed action — update pre/postimage
      // pairs, insert rows, delete rows; carried-through rows record nothing
      val cdf = table.effectiveSettings.changeDataFeed
      val changePieces = scala.collection.mutable.ListBuffer.empty[DataFrame]
      def recordChange(df: DataFrame, changeType: String): Unit =
        if (cdf) changePieces += table.tagged(df, changeType)

      def chain(rows: DataFrame, actions: Seq[MergeAction],
          keepUnclaimed: Boolean, forInsert: Boolean,
          starIdx: Set[Int]): Seq[DataFrame] = {
        var prior = Seq.empty[Option[Expression]]
        val outs = actions.zipWithIndex.flatMap { case (act, i) =>
          val mine = rows.filter(gate(act.condition) && notPrior(prior))
          prior :+= act.condition
          act match {
            case UpdateAction(_, assigns, _) =>
              val out = projected(mine, assigns, forInsert = false,
                evolveFromSource = starIdx(i))
              recordChange(carried(mine), "update_preimage")
              recordChange(out, "update_postimage")
              Some(out)
            case InsertAction(_, assigns) =>
              val out = projected(mine, assigns, forInsert = forInsert,
                evolveFromSource = starIdx(i))
              recordChange(out, "insert")
              Some(out)
            case _: DeleteAction =>
              recordChange(carried(mine), "delete")
              None // contributes nothing to the new state
            case other => throw new UnsupportedOperationException(
              s"unsupported MERGE action: $other")
          }
        }
        val leftover =
          if (keepUnclaimed) Seq(carried(rows.filter(notPrior(prior))))
          else Seq.empty
        outs ++ leftover
      }

      val pieces =
        chain(matched, merge.matchedActions, keepUnclaimed = true,
          forInsert = false, starIdx = shape.starMatched) ++
          chain(sourceOnly, merge.notMatchedActions, keepUnclaimed = false,
            forInsert = true, starIdx = shape.starNotMatched) ++
          chain(targetOnly, merge.notMatchedBySourceActions, keepUnclaimed = true,
            forInsert = false, starIdx = Set.empty) // no source side to evolve from
      val merged = pieces.reduce(_.unionByName(_))
      val changeFiles =
        if (!cdf) None
        else if (changePieces.isEmpty) Some(Seq.empty[String]) // recorded, no rows
        else Some(table.stageChangeRows(
          changePieces.reduce(_.unionByName(_, allowMissingColumns = true))))

      table.replaceWith("merge", snap.version, affected, merged,
        Map("mergeClauses" -> (merge.matchedActions.size + merge.notMatchedActions.size +
          merge.notMatchedBySourceActions.size).toString,
          "numTargetFilesSkipped" -> (snap.live.size - affected.size).toString),
        mayOverlap = table.mayMatchPredicate(pruneAtoms),
        changes = changeFiles,
        evolveSchema = merge.withSchemaEvolution && evolved.nonEmpty)
    } // Parallelism.scoped — frees the source + join barriers
    index.refresh()
    // catalog tables pin their creation-time schema as the data source's
    // userSpecifiedSchema; an evolved log schema must be mirrored into
    // the catalog or every later re-resolution fails the equality check
    // (Delta updates the metastore on evolution the same way)
    if (merge.withSchemaEvolution && evolved.nonEmpty)
      catalogIdent.foreach(id =>
        spark.sessionState.catalog.alterTableDataSchema(id, index.dataSchema))
    GraftDml.refreshCatalog(spark, catalogIdent)
    Seq.empty
  }
}

/** `INSERT INTO` / `INSERT OVERWRITE` a graft catalog table — routed
  * through the COMMIT PROTOCOL. Without this interception Spark's
  * `InsertIntoHadoopFsRelationCommand` (planned for any HadoopFsRelation,
  * which the native graft relation is) would write parquet files straight
  * into the table directory BEHIND the log — invisible orphans on append,
  * and overwrite mode clears the directory, log included: silent table
  * destruction. The command's query arrives already coerced to the table
  * schema (by-position with casts, Spark's insert contract); columns are
  * re-labeled to the table's names before the commit. */
final case class GraftInsertCommand(index: GraftFileIndex,
    query: LogicalPlan, columnNames: Seq[String],
    overwrite: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val df = PlanBridge.ofRows(spark, query).toDF(columnNames: _*)
    if (overwrite) index.table.overwrite(df) else index.table.append(df)
    index.refresh()
    Seq.empty
  }
}

/** Observation-only rule on the UNRESOLVED plan (hint-resolution batch,
  * which runs before the main resolution): records every `MERGE WITH
  * SCHEMA EVOLUTION`'s star/explicit action shape as a tree tag before
  * Spark's resolver expands the stars away — see
  * [[GraftDml.MergeEvolutionShape]]. No plan rewrite. */
final class GraftMergeShapeRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case m: MergeIntoTable if m.withSchemaEvolution &&
          m.getTagValue(GraftDml.EvolutionShapeTag).isEmpty =>
        m.setTagValue(GraftDml.EvolutionShapeTag, GraftDml.MergeEvolutionShape(
          m.matchedActions.zipWithIndex
            .collect { case (_: UpdateStarAction, i) => i }.toSet,
          m.notMatchedActions.zipWithIndex
            .collect { case (_: InsertStarAction, i) => i }.toSet))
      case _ => ()
    }
    plan
  }
}

/** The analyzer rule (injected post-hoc via [[graft.GraftExtensions]])
  * that swaps Spark's resolved DML plans over graft targets for the
  * commands above. Non-graft targets pass through untouched. */
final class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // runs AFTER the built-in DataSourceAnalysis in the same post-hoc
    // batch, so inserts arrive as the already-planned file-write command
    case i: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
        if i.fileIndex.exists(_.isInstanceOf[GraftFileIndex]) =>
      require(i.staticPartitions.isEmpty && i.partitionColumns.isEmpty,
        "graft tables do not use hive-style partitions — cluster/bucket " +
          "via GraftTable settings instead")
      GraftInsertCommand(i.fileIndex.get.asInstanceOf[GraftFileIndex],
        i.query, i.outputColumns.map(_.name),
        overwrite = i.mode == org.apache.spark.sql.SaveMode.Overwrite)
    case d @ DeleteFromTable(target, condition) if d.resolved =>
      GraftDml.graftIndexOf(target)
        .map(GraftDeleteCommand(_, target, condition,
          GraftDml.tableIdentOf(target)): LogicalPlan).getOrElse(d)
    case u @ UpdateTable(target, assignments, condition) if u.resolved =>
      GraftDml.graftIndexOf(target)
        .map(GraftUpdateCommand(_, target, assignments, condition,
          GraftDml.tableIdentOf(target)): LogicalPlan).getOrElse(u)
    case m: MergeIntoTable if m.resolved =>
      GraftDml.graftIndexOf(m.targetTable)
        .map(GraftMergeCommand(m, _,
          GraftDml.tableIdentOf(m.targetTable)): LogicalPlan).getOrElse(m)
    case other => other
  }
}

/** Resolution rule for ANSI time travel over graft catalog tables:
  * `SELECT ... FROM t VERSION AS OF 3` / `TIMESTAMP AS OF '...'` resolves
  * to the snapshot-pinned relation (`versionAsOf` reader-option twin).
  * A timestamp resolves to the newest commit at or before it, Delta's
  * convention. Non-graft relations pass through to Spark's own (v2)
  * time-travel handling. */
final class GraftTimeTravelRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftTableOf(nameParts: Seq[String]): Option[GraftTable] = {
    val catalog = spark.sessionState.catalog
    val ident = nameParts match {
      case Seq(t)     => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case _          => return None
    }
    if (!catalog.tableExists(ident)) return None
    val meta = catalog.getTableMetadata(ident)
    if (!meta.provider.exists(_.equalsIgnoreCase("graft"))) return None
    meta.storage.locationUri.map(loc =>
      GraftTable(spark, loc.toString)(graft.conf.GraftSettings.default))
  }

  private def versionFor(table: GraftTable, ts: Option[Expression],
      version: Option[String]): Long = version.map(_.toLong).getOrElse {
    val expr = ts.getOrElse(throw new IllegalArgumentException(
      "time travel needs VERSION AS OF or TIMESTAMP AS OF"))
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val micros = Cast(expr, TimestampType, Some(zone)).eval(null)
    require(micros != null, s"cannot evaluate TIMESTAMP AS OF $expr")
    table.versionAt(micros.asInstanceOf[Long] / 1000L)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) =>
      graftTableOf(u.multipartIdentifier).map { table =>
        val v = versionFor(table, ts, version)
        SubqueryAlias(u.multipartIdentifier.last,
          PlanBridge.ofRows(spark, // analyzed LogicalRelation of the pinned scan
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
              .baseRelationToDataFrame(GraftRelation.relation(table, v))
              .queryExecution.analyzed).queryExecution.logical)
      }.getOrElse(tt)
  }
}
