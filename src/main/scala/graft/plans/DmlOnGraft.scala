package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GetStructField, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.graft.GraftSqlBridge

import graft.sources.{GraftSparkTable, GraftTable}

/** SQL `UPDATE` / `DELETE` for graft tables — the same analyzer-rewrite
  * recipe as `MergeIntoGraftRule`: a RESOLVED `UpdateTable` /
  * `DeleteFromTable` whose target is a graft DSv2 relation becomes a
  * runnable command before Spark's row-level-operation machinery would
  * refuse the non-SupportsRowLevelOperations table.
  *
  * THREE execution arms, chosen by the target's head alone:
  *
  *  - PLAIN flat tables route through the MERGE-ON-READ engines
  *    (`commitUpdateImpl` / `commitDeleteVector`) — no base file is
  *    rewritten; the commit mints dir-scoped tombstones (plus a
  *    replacement dir for UPDATE), which is exactly the fast path a
  *    lake user expects from a point DML statement at 100 TB.
  *  - POSITIONAL heads (pdv=) continue their chain through
  *    `commitPositionalDelete` / `commitPositionalUpdate` — a
  *    key-tombstone commit there refuses, since one version cannot
  *    merge two deletion-vector regimes.
  *  - INDEX-BEARING (stats=/bloom=), partitionBy and colmap targets
  *    route through a COPY-ON-WRITE rewrite, `GraftTable.rewriteHead`:
  *    the survivors/updated snapshot commits as the next version with
  *    the index RE-DERIVED from its self-described manifest
  *    declarations (statenc registry names / bloom column set) and the
  *    partition and bucket layout preserved — the one rewrite the SQL
  *    MERGE door and the purges share. Indexed tables are precisely the
  *    big tables where point DML matters, so refusing them (the
  *    round-16 posture) was the wrong trade.
  *
  * Identity (MoR arm): SQL statements carry no key declaration, so both
  * commands use FULL-ROW identity — the tombstone keys every column,
  * killing the matched rows by exact value within their chain dir. This
  * is semantically exact with no uniqueness contract: any row
  * value-equal to a matched row satisfies the same deterministic
  * condition, so it is itself matched (and, for UPDATE, contributes its
  * own replacement row — duplicates preserve their multiplicity). The
  * trade (full-row DV probes force the scan to read every column until
  * the DV is purged) is documented at `commitUpdateImpl`; declared-key
  * API calls remain the narrow-probe path. */
object GraftDml {

  private[plans] def graftTarget(plan: LogicalPlan)
      : Option[(LogicalPlan, String)] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case g: GraftSparkTable => Some((plan, g.dir))
        case _ => None
      }
      case _ => None
    }

  /** The snapshot version the resolved target RELATION is pinned to —
    * the version MERGE's full-outer join actually reads, and therefore
    * the only sound `expectVersion` for its commit (a run-time
    * currentVersion could already be someone else's newer head). */
  private[plans] def graftSnapshotVersion(plan: LogicalPlan): Option[Int] =
    plan match {
      case SubqueryAlias(_, child) => graftSnapshotVersion(child)
      case r: DataSourceV2Relation => r.table match {
        case g: GraftSparkTable => Some(g.snapshotVersion)
        case _ => None
      }
      case _ => None
    }

  /** A resolved condition/assignment expression, re-expressed so it
    * binds BY NAME against the snapshot frames the engines read (their
    * attributes carry different exprIds than the DSv2 relation's).
    * Subqueries are refused — their plans reference the pre-DML
    * snapshot and cannot travel through a by-name rebind; and a
    * non-deterministic condition is refused because full-row identity
    * stands on "value-equal rows agree on the condition". */
  private[plans] def portable(e: Expression): Column = {
    require(e.deterministic,
      "UPDATE/DELETE conditions on graft tables must be deterministic " +
        "(full-row MoR identity requires value-equal rows to agree on " +
        s"the condition): $e")
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      "subqueries in UPDATE/DELETE conditions are not supported on " +
        "graft tables — materialize the subquery and MERGE instead")
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
  }

  /** SET assignments → per-top-level-column portable values. A plain
    * column assignment passes through; a NESTED struct-field assignment
    * (`SET s.f = expr`, any depth) rebuilds the struct via
    * `Column.withField` on the PRE-update struct, so several fields of
    * one struct compose and the SQL simultaneous-assignment rule holds
    * (every right-hand side reads pre-update values). Refused:
    * assigning the same path twice, assigning a column AND one of its
    * fields, one path a prefix of another (ambiguous order), and field
    * names containing '.' (withField would mis-nest them). */
  private[plans] def assignments(spark: SparkSession,
      as: Seq[Assignment]): Seq[(String, Column)] = {
    def path(e: Expression): (String, Seq[String]) = e match {
      case a: AttributeReference => (a.name, Nil)
      case g: GetStructField =>
        val (n, p) = path(g.child); (n, p :+ g.extractFieldName)
      case other => sys.error(
        s"UPDATE assignment key must be a plain column or a nested " +
          s"struct field (got $other)")
    }
    val parts: Seq[(String, Seq[String], Expression)] =
      as.map { a => val (n, p) = path(a.key); (n, p, a.value) }
    parts.foreach { case (n, p, _) =>
      require(!p.exists(_.contains(".")),
        s"nested UPDATE on '$n': field names containing '.' are not " +
          s"supported (${p.mkString("/")})")
    }
    val resolver = spark.sessionState.conf.resolver
    val order = parts.map(_._1).foldLeft(Seq.empty[String])((acc, n) =>
      if (acc.exists(resolver(_, n))) acc else acc :+ n)
    order.map { n =>
      val mine = parts.filter(p => resolver(p._1, n))
      if (mine.exists(_._2.isEmpty))
        require(mine.size == 1,
          s"UPDATE assigns column '$n' more than once (or both the " +
            "column and one of its nested fields)")
      mine.map(_._2).combinations(2).foreach { case Seq(p1, p2) =>
        require(p1 != p2 && !p1.startsWith(p2) && !p2.startsWith(p1),
          s"UPDATE assigns overlapping paths under '$n': " +
            s"${p1.mkString(".")} vs ${p2.mkString(".")}")
      }
      if (mine.head._2.isEmpty) n -> portable(mine.head._3)
      else n -> mine.foldLeft(
        GraftSqlBridge.column(UnresolvedAttribute(Seq(n)))) {
          case (c, (_, p, v)) => c.withField(p.mkString("."), portable(v))
        }
    }
  }

  /** SERIALIZABLE OCC retry for the SQL mutation doors: a concurrent
    * commit between a statement's snapshot resolution and its publish
    * surfaces as ConcurrentModificationException (the expectVersion pin
    * or the atomic-publish loss — never a silent overwrite); re-running
    * the WHOLE body re-resolves the head, re-decides the MoR/CoW arm
    * (the racer may have attached an index or re-laid out the table)
    * and recomputes against the new snapshot — the statement lands as
    * if it ran strictly after the racer, which is exactly serial
    * execution. Bounded attempts: a hot table that keeps losing races
    * eventually surfaces the conflict to the caller. */
  private[plans] def withOccRetry[A](body: => A): A =
    GraftTable.retryOnConflict(GraftTable.occAttempts)(_ => body)

  /** Layouts the MoR engines refuse but the copy-on-write arm serves
    * (a colmap head additionally NORMALIZES: the rewrite's fresh files
    * carry the logical names and the mapping clears). */
  private[plans] def needsCow(hdrs: Map[String, String]): Boolean =
    hdrs.contains("stats") || hdrs.contains("bloom") ||
      hdrs.contains("partby") || hdrs.contains("colmap")
}

/** The analyzer rule: injected via `GraftExtensions`, fires inside the
  * resolution fixed-point once the statement is resolved. */
case class UpdateDeleteGraftRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case u: UpdateTable if u.resolved && u.childrenResolved =>
        GraftDml.graftTarget(u.table) match {
          case Some((_, d)) => GraftUpdateCommand(u, d)
          case None => u
        }
      case d: DeleteFromTable if d.resolved && d.childrenResolved =>
        GraftDml.graftTarget(d.table) match {
          case Some((_, t)) => GraftDeleteCommand(d, t)
          case None => d
        }
    }
}

/** `UPDATE gt.t SET c = expr[, s.f = expr, …] [WHERE cond]` → one
  * commit: merge-on-read for plain flat tables (dir-scoped full-row
  * tombstones + a replacement dir), POSITIONAL merge-on-read for pdv
  * heads (new cumulative sidecar + staged replacement rows — untouched
  * files never rewrite), copy-on-write with index re-derivation for
  * stats=/bloom=/partitionBy targets. Nested-field
  * assignments rebuild their struct (`GraftDml.assignments`). */
case class GraftUpdateCommand(update: UpdateTable, dir: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = GraftDml.withOccRetry {
    val sets = GraftDml.assignments(spark, update.assignments)
    val cond = update.condition.map(GraftDml.portable).getOrElse(lit(true))
    val fs = GraftTable.fsOf(spark, dir)
    val cur = GraftTable.currentVersion(fs, dir).getOrElse(
      sys.error(s"no committed version under $dir to update"))
    val hdrs = GraftTable.headersOf(fs, dir, cur)
    if (GraftDml.needsCow(hdrs)) {
      val resolver = spark.sessionState.conf.resolver
      // copy-on-write, pinned to `cur`: an interleaved commit fails the
      // pin or loses the publish, never is erased by this rewrite
      GraftTable.rewriteHead(spark, dir, cur, "UPDATE",
          "UPDATE (SQL, copy-on-write)") {
        val snap = GraftTable.readVersion(spark, dir, cur)
        val cols = snap.columns.toSeq
        sets.foreach { case (c, _) =>
          require(cols.exists(resolver(_, c)),
            s"SET column '$c' is not a column of the table ($cols)") }
        // SIMULTANEOUS assignment (the SQL rule) in ONE select; a NULL
        // condition leaves the row unmodified, like the MoR arm's filter
        val condT = coalesce(cond, lit(false))
        snap.select(cols.map { c =>
          sets.find { case (sc, _) => resolver(sc, c) } match {
            case Some((_, v)) =>
              when(condT, v.cast(snap.schema(c).dataType))
                .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
      }
    } else if (hdrs.contains("pdv"))
      // POSITIONAL arm (VERDICT r19 item 4): continuing a pdv chain —
      // tombstone matched positions, stage replacement rows, keep every
      // untouched file unrewritten (a key-tombstone update on a pdv
      // head refuses: one version cannot merge two DV regimes; the old
      // CoW routing rewrote the WHOLE snapshot per UPDATE)
      GraftTable.commitPositionalUpdate(spark, dir, cond, sets,
        "UPDATE (SQL, positional)", expectVersion = Some(cur))
    else
      // pinned to the version the ARM DECISION was made on: a racer
      // that attached an index (or re-laid out the table) between this
      // door's header read and the impl's own must surface as the
      // retryable CME, re-entering through needsCow on the new head
      GraftTable.commitUpdateImpl(spark, dir, keyColsOpt = None, cond,
        sets, "UPDATE (SQL)", expectVersion = Some(cur))
    Seq.empty
  }
}

/** `DELETE FROM gt.t [WHERE cond]` → one commit: merge-on-read
  * tombstones for plain flat tables, positional tombstones for pdv
  * heads, copy-on-write survivor rewrite (index re-derived, layout
  * preserved) for indexed/partitioned ones.
  * Version resolution happens ONCE and pins the commit (`expectVersion`
  * on the MoR arm): the gate, the snapshot and the commit can never
  * read different heads. */
case class GraftDeleteCommand(delete: DeleteFromTable, dir: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = GraftDml.withOccRetry {
    val cond = GraftDml.portable(delete.condition)
    val fs = GraftTable.fsOf(spark, dir)
    val cur = GraftTable.currentVersion(fs, dir).getOrElse(
      sys.error(s"no committed version under $dir to delete from"))
    val hdrs = GraftTable.headersOf(fs, dir, cur)
    if (GraftDml.needsCow(hdrs))
      // survivors keep rows whose condition is FALSE or NULL — SQL
      // DELETE removes only TRUE matches
      GraftTable.rewriteHead(spark, dir, cur, "DELETE",
        "DELETE (SQL, copy-on-write)")(GraftTable.readVersion(spark, dir, cur)
        .where(!coalesce(cond, lit(false))))
    else if (hdrs.contains("pdv"))
      // POSITIONAL arm: continuing a pdv chain (a key-tombstone commit
      // on a pdv head refuses — one version cannot merge two DV
      // regimes). The predicate evaluates over the RAW files (a row
      // already position-tombstoned re-tombstones idempotently);
      // NULL-condition rows are not matches, like both other arms.
      GraftTable.commitPositionalDelete(spark, dir, cond,
        "DELETE (SQL, positional)", expectVersion = Some(cur))
    else {
      val snapshot = GraftTable.readVersion(spark, dir, cur)
      GraftTable.commitDeleteVector(spark, dir, snapshot.where(cond),
        snapshot.columns.toSeq, "DELETE (SQL)", expectVersion = Some(cur))
    }
    Seq.empty
  }
}
