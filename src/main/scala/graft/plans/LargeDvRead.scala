package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Command, DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.{GraftSparkTable, GraftTable}

/** Path-read bucket SPJ (VERDICT r17 missing item 4 / next-round 7).
  *
  * A bucket-layout scan reports `KeyGroupedPartitioning(bucket(n, key))`;
  * Spark resolves the transform's function against the RELATION's
  * function catalog (`DataSourceV2Relation.funCatalog`, consumed by
  * V2ScanPartitioningAndOrdering). The catalog door provides one —
  * `GraftCatalog` is a FunctionCatalog — but a path read
  * (`spark.read.format("graft").load(dir)`) builds its relation with
  * `catalog = None`, so the report was silently ignored and the join
  * shuffled again. This rule gives such relations the missing face: a
  * shared, name-initialized GraftCatalog attached as the relation's
  * catalog (identifier stays None — nothing else consults it on a read
  * path), so both doors plan the same shuffle-free bucket join. Narrow
  * by construction: only graft tables that DECLARE a bucket layout,
  * only when no catalog is present. */
case class PathBucketCatalogRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case r: DataSourceV2Relation if r.catalog.isEmpty &&
          r.table.isInstanceOf[GraftSparkTable] &&
          r.table.asInstanceOf[GraftSparkTable].bucketFn.isDefined =>
        r.copy(catalog = Some(PathBucketCatalogRule.functionCatalog))
    }
}

object PathBucketCatalogRule {
  /** One shared instance: stateless beyond its name, and only its
    * FunctionCatalog face (bucket transform resolution) is consulted. */
  private lazy val functionCatalog: graft.sources.GraftCatalog = {
    val c = new graft.sources.GraftCatalog
    c.initialize("graft_path",
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    c
  }
}

/** The large-deletion-vector READ tier (injected via `GraftExtensions`).
  *
  * The DSv2 scan's default DV path collects every tombstone key to the
  * driver and broadcasts a set probe to the readers — the right plan
  * for point deletes (no join in the plan, binary per-row probe), but a
  * driver-memory ceiling under a large un-purged delete: millions of
  * keys materialize on the driver before the scan can even plan. Past
  * the size gate (`spark.graft.dv.broadcastMaxKeys`, tombstone count
  * read from the DV dir's parquet footers — O(dv files) metadata, no
  * data), this rule rewrites the resolved graft relation into the
  * DISTRIBUTED merge-on-read plan the API read path already serves:
  * base scan LEFT ANTI JOIN the DV parquet on null-safe key equality
  * (per chain-dir for scoped DVs), WITHOUT the broadcast hint — the
  * hint would collect the build side on the driver again; un-hinted,
  * the anti-join shuffles (or AQE broadcasts if it turns out small),
  * so no single node ever holds the full key set. The relation's
  * output attribute ids are preserved through an aliasing Project, so
  * everything already resolved against the relation binds unchanged.
  *
  * Relations in MUTATION-TARGET or command-subject position are spared
  * (pinned by reference, see apply) — rewriting them would break
  * target resolution; the READ side of those same statements still
  * gets the distributed plan. */
case class LargeDvReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Relations in mutation-target / command-subject position, pinned
    // by OBJECT IDENTITY (name-based matching could pin a self-join's
    // read side too): UPDATE/DELETE/MERGE targets, INSERT/DSv2-write
    // tables, and any command's direct relation child (DESCRIBE and
    // friends). Those doors pin and mutate the relation identity —
    // rewriting them would break target resolution. The READ side of
    // the same statements (a CTAS or INSERT-INTO-other SELECTing from
    // a large-DV table — exactly the high-volume export this tier
    // exists for) stays eligible. A pinned target that is itself
    // large-DV keeps the set-probe ceiling, bounded by
    // purge/compaction.
    val pinned = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def pin(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => pinned.add(r); ()
      case _ => ()
    }
    plan.foreach {
      case u: UpdateTable => pin(u.table)
      case d: DeleteFromTable => pin(d.table)
      case m: MergeIntoTable => pin(m.targetTable)
      case i: InsertIntoStatement => pin(i.table)
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        pin(w.table)
      case c: Command => c.children.foreach {
        case r: DataSourceV2Relation => pinned.add(r); ()
        case org.apache.spark.sql.catalyst.plans.logical
            .SubqueryAlias(_, r: DataSourceV2Relation) => pinned.add(r); ()
        case _ => ()
      }
      case _ => ()
    }
    plan.resolveOperators {
      case r: DataSourceV2Relation if !pinned.contains(r)
          && r.table.isInstanceOf[GraftSparkTable]
          && {
            val g = r.table.asInstanceOf[GraftSparkTable]
            // two header states route reads to the API plan: a
            // too-large key DV (distributed anti-join tier) and a
            // POSITIONAL sidecar (pdv= — the probe-merged scan, which
            // the DSv2 path does not build; its newScanBuilder refuses
            // as the backstop)
            g.dvServedByAntiJoin || g.headers.contains("pdv")
          } =>
        val g = r.table.asInstanceOf[GraftSparkTable]
        val child = GraftTable
          .readVersion(spark, g.dir, g.snapshotVersion,
            dvBroadcastHint = false)
          .queryExecution.analyzed
        val resolver = spark.sessionState.conf.resolver
        // re-serve the anti-join plan under the RELATION's attribute
        // ids, so already-resolved parents bind unchanged
        Project(r.output.map { o =>
          val src = child.output.find(a => resolver(a.name, o.name))
            .getOrElse(sys.error(
              s"large-DV fallback lost column '${o.name}' of ${g.name()}"))
          Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, child)
    }
  }
}
