package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expr.{CosineSimilarity, NGrams}

/** Library entry point via `spark.sql.extensions` (or
  * `SparkSession.builder.withExtensions`): registers the custom Catalyst
  * expressions PERMANENTLY into every session built on the config —
  * cluster deployments get `graft_cosine` / `graft_ngrams` in plain SQL
  * with zero per-session `Graft.registerFunctions` calls.
  *
  * Usage: `--conf spark.sql.extensions=graft.GraftExtensions`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // auto-rewrite abs(x−y)<=W theta joins into bucketed equi-joins
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBucketing())
    // plan the custom per-key top-k logical node (two-level exec);
    // Graft.topKPerKey also injects this per-session via
    // experimental.extraStrategies for sessions built without extensions
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // plan the deferred-action TVF leaf (graft_optimize / vacuum /
    // expire / maintain / restore / clone run at EXECUTION, not at
    // plan build — EXPLAIN must not mutate)
    ext.injectPlannerStrategy(_ => graft.plans.GraftActionStrategy)
    // SQL MERGE INTO over graft DSv2 targets: rewrite the resolved
    // MergeIntoTable into the snapshot-commit command before Spark's
    // row-level-operation rewrite refuses the non-row-level table
    ext.injectResolutionRule(session =>
      graft.plans.MergeIntoGraftRule(session))
    // SQL UPDATE / DELETE over graft DSv2 targets — same recipe,
    // routed through the merge-on-read engines (no base-file rewrite)
    ext.injectResolutionRule(session =>
      graft.plans.UpdateDeleteGraftRule(session))
    // large-deletion-vector READ tier: past the footer-counted size
    // gate, serve the relation through the distributed anti-join plan
    // instead of the driver-collected broadcast set probe
    ext.injectResolutionRule(session =>
      graft.plans.LargeDvReadRule(session))
    // path reads of bucket-layout tables get the FunctionCatalog face
    // the catalog door already has, so bucket SPJ works through BOTH
    // doors instead of silently shuffling on the path one
    ext.injectResolutionRule(session =>
      graft.plans.PathBucketCatalogRule(session))
    // a global sort whose runtime input AQE would read as one partition
    // shuffles to a single partition: no range-sampling job
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSortSinglePartition)
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NGrams].getName, "graft_ngrams"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NGrams(exprs.head, 3)))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow_fps"),
      new ExpressionInfo(classOf[graft.expr.WinnowFingerprints].getName,
        "graft_winnow_fps"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expr.WinnowFingerprints(exprs.head)))
    // the versioned store's SQL TVF surface (graft_version /
    // graft_changes), cluster-wide; per-session twin in
    // Graft.registerFunctions — both delegate to the same builders
    ext.injectTableFunction((
      FunctionIdentifier("graft_version"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_version"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.versionTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_changes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.changesTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_history"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_history"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.historyTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_stats"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_stats"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.statsTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_typed_changes"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_typed_changes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.typedChangesTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_bloom"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.bloomTvf(exprs)))
    // ACTION TVFs — the OPTIMIZE / VACUUM / retention SQL surface
    ext.injectTableFunction((
      FunctionIdentifier("graft_optimize"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_optimize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.optimizeTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_vacuum"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_vacuum"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.vacuumTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_expire"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_expire"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.expireTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_maintain"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_maintain"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.maintainTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_restore"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_restore"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.restoreTvf(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_clone"),
      new ExpressionInfo(graft.sources.GraftTable.getClass.getName,
        "graft_clone"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.Graft.cloneTvf(exprs)))
  }
}
