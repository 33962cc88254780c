package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteAction, InsertAction, LogicalPlan, MergeAction, Project,
  UpdateAction}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, count, lit,
  monotonically_increasing_id, when}
import org.apache.spark.sql.graftshim.{exprColumn, ofRows}
import org.apache.spark.sql.types.StructType

import SnapshotStore.StatsPred

/** SQL `MERGE INTO` / `UPDATE` on named catalog tables — the two
  * row-level DML statements Spark's planner refuses for plain v2 tables
  * (`does not support MERGE INTO TABLE`, thrown at strategy time).
  * [[GraftCatalogRelationRule]] converts the RESOLVED analyzer plans
  * ([[org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable]] /
  * [[org.apache.spark.sql.catalyst.plans.logical.UpdateTable]]) into
  * these leaf commands — the same conversion pattern as DELETE FROM.
  *
  * Both commands are READ-MODIFY-WRITE against the catalog HEAD (not
  * the analysis-time manifest pin): the result is computed from the
  * current head and committed through a COMPARE-AND-SWAP
  * ([[Catalog.replaceTableIf]] / [[Catalog.updateWhereIf]]) that fails
  * when a concurrent commit moved the table, in which case the fold
  * recomputes from the new head — publishing a merge of a stale base
  * would silently drop the interleaved commit (the [[SnapshotStore
  * .optimize]] restart rule lifted to the catalog). Each statement is
  * exactly ONE catalog transaction.
  */
private[sources] object GraftDml {

  private[sources] val TFlag = "__graft_merge_t"
  private[sources] val SFlag = "__graft_merge_s"
  private[sources] val Rid = "__graft_merge_rid"

  /** Re-resolve `table` at the catalog HEAD and expose it as a frame
    * whose output carries the ANALYSIS-TIME ExprIds (`targetOutput`),
    * so the statement's captured condition/assignment expressions
    * resolve against the freshly-read plan. Fails loudly when the
    * schema drifted between analysis and execution. Returns the frame
    * plus the head's manifest rel (the CAS token) and schema. */
  private[sources] def currentTarget(spark: SparkSession, catRoot: String,
      table: String, targetOutput: Seq[Attribute])
      : (DataFrame, String, StructType) = {
    val snap = Catalog.snapshot(catRoot).getOrElse(sys.error(
      s"catalog under $catRoot has no committed versions"))
    val rel = snap.tables.getOrElse(table, sys.error(
      s"catalog under $catRoot has no table $table"))
    val m = Catalog.tableManifest(catRoot, table, Some(snap.version)).get
    // DML speaks the LOGICAL view: conditions/assignments name logical
    // columns, rewrites produce logical frames (the Catalog write
    // paths translate to physical at their boundary)
    val schema = SnapshotStore.logicalSchema(m)
    require(schema.fieldNames.toSeq == targetOutput.map(_.name),
      s"graft DML: schema of $table changed between analysis " +
        s"[${targetOutput.map(_.name).mkString(",")}] and execution " +
        s"[${schema.fieldNames.mkString(",")}] — re-run the statement")
    val folded = GraftTable.tableFor(spark,
      Paths.get(catRoot, table).toString, m)
    val foldPlan = folded.queryExecution.analyzed
    val t = ofRows(spark, Project(
      foldPlan.output.zip(targetOutput).map { case (n, o) =>
        Alias(n, o.name)(exprId = o.exprId) }, foldPlan))
    (t, rel, schema)
  }

  /** Resolve an assignment KEY to its top-level target column name —
    * nested-field assignment is refused loudly (immutable parquet files
    * cannot patch a struct member in place; rewrite the whole column). */
  private def keyName(key: Expression,
      targetOutput: Seq[Attribute]): String = key match {
    case a: AttributeReference =>
      targetOutput.find(_.exprId == a.exprId).map(_.name)
        .getOrElse(a.name)
    case other => throw new UnsupportedOperationException(
      "graft DML: only top-level column assignments are supported, " +
        s"got: $other (rewrite the whole column for nested updates)")
  }

  private[sources] def assignmentMap(as: Seq[Assignment],
      targetOutput: Seq[Attribute]): Map[String, Column] = {
    val pairs = as.map(a => keyName(a.key, targetOutput) ->
      exprColumn(a.value))
    val dup = pairs.groupBy(_._1).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"graft DML: column(s) assigned more than once: ${dup.mkString(",")}")
    pairs.toMap
  }

  /** Align a computed value to its target field: cast to the column
    * type, and for NOT NULL columns wrap in AssertNotNull — a RUNTIME
    * constraint check (the outer join and CASE chains type as nullable
    * even when every surviving row is provably non-null, and a merge
    * that genuinely assigns NULL into a NOT NULL column must fail
    * loudly, not silently violate the table's DDL). */
  private[sources] def enforceField(c: Column,
      f: org.apache.spark.sql.types.StructField): Column = {
    val cast = c.cast(f.dataType)
    if (f.nullable) cast
    else exprColumn(
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
        org.apache.spark.sql.graftshim.columnExprEager(cast)))
  }

  /** ANALYSIS-TIME validation of a converted MERGE's clause list —
    * everything here is data-independent, so it fails at conversion
    * (inside the analyzer) before any job runs: assignment keys must be
    * top-level target columns assigned at most once, INSERT clauses
    * must cover every column, and unknown action kinds refuse. The
    * execution path re-derives the same structures (cheap, and keeps
    * the command self-contained). */
  private[sources] def validateActions(matched: Seq[MergeAction],
      notMatched: Seq[MergeAction], bySource: Seq[MergeAction],
      targetOutput: Seq[Attribute], schema: StructType): Unit =
    (matched ++ notMatched ++ bySource).foreach {
      case u: UpdateAction => assignmentMap(u.assignments, targetOutput)
      case _: DeleteAction => ()
      case i: InsertAction =>
        val m = assignmentMap(i.assignments, targetOutput)
        val missing = schema.fieldNames.filterNot(m.contains)
        require(missing.isEmpty, "graft MERGE: INSERT must assign " +
          s"every column; missing: ${missing.mkString(",")}")
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: unsupported action $other")
    }

  /** One MERGE branch: `guard` selects it (scope AND the action's
    * condition), `keep` says whether the row survives, `values` gives
    * each output column. Branches are evaluated IN ORDER — the first
    * whose guard holds decides the row (the SQL MERGE contract). */
  private[sources] final case class Branch(guard: Column, keep: Boolean,
      values: String => Column)

  private[sources] def actionBranches(scope: Column,
      actions: Seq[MergeAction], targetOutput: Seq[Attribute],
      schema: StructType, defaultKeep: Boolean,
      targetVal: String => Column): Seq[Branch] = {
    val acted = actions.map { a =>
      val guard = a.condition
        .map(c => scope && exprColumn(c)).getOrElse(scope)
      a match {
        case u: UpdateAction =>
          val m = assignmentMap(u.assignments, targetOutput)
          Branch(guard, keep = true, c => m.getOrElse(c, targetVal(c)))
        case _: DeleteAction =>
          Branch(guard, keep = false, targetVal)
        case i: InsertAction =>
          val m = assignmentMap(i.assignments, targetOutput)
          val missing = schema.fieldNames.filterNot(m.contains)
          require(missing.isEmpty, "graft MERGE: INSERT must assign " +
            s"every column; missing: ${missing.mkString(",")}")
          Branch(guard, keep = true, m(_))
        case other => throw new UnsupportedOperationException(
          s"graft MERGE: unsupported action $other")
      }
    }
    // no action matched inside this scope: keep (pass the row through
    // unchanged) for target-bearing scopes, drop for source-only
    acted :+ Branch(scope, defaultKeep, targetVal)
  }

  /** Ordered-branch fold into one keep flag + per-column CASE chains,
    * then filter + project. */
  private[sources] def foldBranches(j: DataFrame, branches: Seq[Branch],
      schema: StructType): DataFrame = {
    val keep = branches.foldRight(lit(false)) { (b, acc) =>
      when(b.guard, lit(b.keep)).otherwise(acc)
    }
    val cols = schema.fields.map { f =>
      enforceField(
        branches.foldRight(lit(null).cast(f.dataType)) { (b, acc) =>
          when(b.guard, b.values(f.name).cast(f.dataType)).otherwise(acc)
        }, f).as(f.name)
    }
    j.filter(keep).select(cols.toSeq: _*)
  }
}

/** SQL `MERGE INTO graft.main.t USING src ON cond WHEN ...` — general
  * conditions and assignments (anything Catalyst resolved), all three
  * clause families, first-matching-clause semantics. Execution is the
  * standard copy-on-write merge fold (the Delta CoW lane): target
  * full/left outer-joins the source on `cond` with presence flags, one
  * ordered CASE chain per column picks the surviving value, and the
  * result replaces the table through ONE CAS catalog transaction.
  * A target row matching MULTIPLE source rows is refused loudly (the
  * Delta cardinality rule — the outer join would otherwise duplicate
  * pass-through rows and make update order nondeterministic); the check
  * is a column-pruned second aggregate over the join, O(join keys).
  * Cost shape is O(base + source) per statement — batch changelogs and
  * merge on a cadence; the O(changes) streaming lane is
  * [[SnapshotStore.mergeOnReadOnce]]. */
final case class GraftMergeIntoCommand(catRoot: String, table: String,
    targetOutput: Seq[Attribute], source: LogicalPlan, cond: Expression,
    matched: Seq[MergeAction], notMatched: Seq[MergeAction],
    bySource: Seq[MergeAction]) extends LeafRunnableCommand {
  import GraftDml._

  // a concurrent commit to the table fails the CAS: recompute from the
  // new head (the restart rule of SnapshotStore.retrying)
  override def run(spark: SparkSession): Seq[Row] =
    SnapshotStore.retrying(s"graft MERGE on $catRoot/$table") {
      val (t, rel, schema) =
        currentTarget(spark, catRoot, table, targetOutput)
      require(!schema.fieldNames.exists(_.startsWith("__graft_merge")),
        "graft MERGE: reserved column prefix __graft_merge in table")
      val t2 = t.withColumn(Rid, monotonically_increasing_id())
        .withColumn(TFlag, lit(true))
      val s2 = ofRows(spark, source).withColumn(SFlag, lit(true))
      // source-only rows only matter when an INSERT clause exists —
      // a left join keeps every target row (matched or not) either way
      val joinType = if (notMatched.nonEmpty) "full_outer" else "left_outer"
      val j = t2.join(s2, exprColumn(cond), joinType)
      val matchedC = col(TFlag).isNotNull && col(SFlag).isNotNull
      val tOnly = col(TFlag).isNotNull && col(SFlag).isNull
      val sOnly = col(TFlag).isNull && col(SFlag).isNotNull
      // Delta's cardinality rule: >1 source row per target row would
      // both duplicate pass-through rows (outer-join multiplicity) and
      // make WHEN MATCHED nondeterministic. Column pruning reduces this
      // pre-pass to the join keys + flags.
      val dup = j.filter(matchedC).groupBy(col(Rid))
        .agg(count(lit(1)).as("__graft_n"))
        .filter(col("__graft_n") > 1).limit(1).count()
      require(dup == 0L,
        "graft MERGE: a target row matched multiple source rows — " +
          "refusing a nondeterministic merge (aggregate the source to " +
          "one row per key first)")
      val targetVal: String => Column = c =>
        exprColumn(targetOutput.find(_.name == c).getOrElse(sys.error(
          s"graft MERGE: unknown target column $c")))
      val branches =
        actionBranches(matchedC, matched, targetOutput, schema,
          defaultKeep = true, targetVal) ++
        actionBranches(tOnly, bySource, targetOutput, schema,
          defaultKeep = true, targetVal) ++
        actionBranches(sOnly, notMatched, targetOutput, schema,
          defaultKeep = false, targetVal)
      val merged = foldBranches(j, branches, schema).to(schema)
      Catalog.replaceTableIf(catRoot, table, rel, merged)
        .map(_ => Seq.empty[Row])
    }
}

/** SQL `UPDATE graft.main.t SET ... [WHERE p]`. Two commit lanes, both
  * ONE catalog transaction:
  *
  *   - LAYER PAIR (O(changed rows) written, base untouched): when `p`
  *     translates exactly to the stats-predicate language, the matching
  *     rows are read through the PRUNED scan, rewritten with the
  *     assignments, and committed as `deleteTransform(p)` + one
  *     add-only layer ([[Catalog.updateWhereIf]]) — the CDC runbook
  *     shape; OPTIMIZE folds it away.
  *   - COPY-ON-WRITE fallback: arbitrary predicates (or none) rewrite
  *     the table as one CASE projection + CAS overwrite.
  *
  * Assignments may reference the old row (`SET v = v + 1`); unassigned
  * columns keep their values; NULL predicates keep rows un-updated (SQL
  * three-valued logic, same rule as DELETE's NULL-keeps). */
final case class GraftUpdateCommand(catRoot: String, table: String,
    targetOutput: Seq[Attribute], assignments: Seq[Assignment],
    cond: Option[Expression]) extends LeafRunnableCommand {
  import GraftDml._

  override def run(spark: SparkSession): Seq[Row] = {
    val pred: Option[StatsPred] =
      cond.flatMap(GraftSqlTable.condToStatsPred)
    // a concurrent commit to the table fails the CAS: recompute
    SnapshotStore.retrying(s"graft UPDATE on $catRoot/$table") {
      val (t, rel, schema) =
        currentTarget(spark, catRoot, table, targetOutput)
      val setMap = assignmentMap(assignments, targetOutput)
      val targetVal: String => Column = c =>
        exprColumn(targetOutput.find(_.name == c).get)
      val committed = pred match {
        case Some(p) =>
          // layer pair: only the TRUE rows are read (pruned by the same
          // predicate) and rewritten; everything else is metadata
          val updated = t.filter(exprColumn(cond.get))
            .select(schema.fields.map(f =>
              enforceField(setMap.getOrElse(f.name, targetVal(f.name)),
                f).as(f.name)).toSeq: _*)
          Catalog.updateWhereIf(catRoot, table, rel, p,
            updated.to(schema))
        case None =>
          val hit = cond.map(c => coalesce(exprColumn(c), lit(false)))
            .getOrElse(lit(true))
          val rewritten = t.select(schema.fields.map(f =>
            enforceField(
              when(hit, setMap.getOrElse(f.name, targetVal(f.name))
                .cast(f.dataType))
                .otherwise(targetVal(f.name)), f).as(f.name)).toSeq: _*)
          Catalog.replaceTableIf(catRoot, table, rel,
            rewritten.to(schema))
      }
      committed.map(_ => Seq.empty[Row])
    }
  }
}
