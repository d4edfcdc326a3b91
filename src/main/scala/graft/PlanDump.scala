package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans for headline queries —
  * the `.explain("formatted")` evidence behind PERF.md's claims. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.session()
    val keys = Seq("scan_filter_pushdown", "join_multiway_star",
      "agg_group_pricing", "topk_orders", "win_latest_dedup",
      "stream_tumbling_1h", "text_minhash_dedup", "vec_ivf_topk",
      "vec_knn_join", "text_simhash_neardup", "join_skew_salted",
      "text_langid_ngram",
      // round-3 scale showcases
      "join_asof_latest", "join_interval_events", "join_range_bucketed",
      "join_bucketed_colocated", "scan_partition_prune",
      "vec_neardup_pairs",
      // round-8 additions: the custom two-level operator and PQ-ADC
      "topk_per_key", "vec_pq_adc_topk",
      // round-9: write-side compaction evidence (the returned read-back
      // plan shows the 4-file scan the coalesce produced) and the
      // composed IVF×PQ funnel (broadcasts + TakeOrdered, no window)
      "sink_compact_small_files", "vec_ivf_pq_topk",
      // round-9 later batches: DPP firing in the fact scan's
      // PartitionFilters, the bitmap rollup's tiny post-level-1
      // shuffles, and the span-dedup hash-frequency re-probe
      "scan_dpp_prune", "agg_bitmap_distinct", "text_span_dedup",
      // the no-global-window approx decile tier
      "text_perplexity_bucket_approx",
      // round-10: multi-table LSH funnel (broadcast hyperplanes +
      // id-only candidate exchange + TakeOrdered), the store-served
      // variant (signature scan replaces recompute), and the pre-reduced
      // full-outer reconciliation
      "vec_lsh_topk", "vec_lsh_index_serve", "dq_reconcile_sides",
      // round-11: the composed corpus pipeline (one tokenize projection
      // feeding gate/dedup/decontaminate/pack), the native winnow
      // expression inside whole-stage codegen, the batch run of the
      // stream-stream interval join, and the manifest-resolved
      // time-travel reads
      "etl_llm_corpus_pipeline", "text_winnow_neardup",
      "stream_interval_join", "table_time_travel",
      // the MinHash serve plan: the signature subtree is a parquet scan
      // of the GraftTable store, not an explode+groupBy recompute
      "text_minhash_index_serve",
      // round-12: the multi-file layout scan (PartitionFilters pruning
      // 12 of ~84 month dirs + pushed quantity predicate), the MERGE
      // read-back (both versions resolved through the manifest), the
      // null-padding outer interval join, and the cluster-scoped
      // semantic dedup (broadcast centroids, within-bucket pair join)
      "scan_multifile_layout", "table_merge_upsert",
      "stream_outer_interval_join", "vec_semantic_dedup",
      // round-13: the log-skipping band read (the scan's file list came
      // from the manifest — note the few input files), its 2-D
      // rectangle variant over the z-ordered layout, the MoR
      // deletion-vector read (broadcast anti-join over the shared base
      // dir), and the exact-integer sequence-packing window
      "scan_stats_skipping", "scan_stats_skipping_2d",
      "table_delete_dv", "text_pack_sequences",
      // round-14: the append CDC fast path (the returned union's append
      // deltas are plain scans — no join, no exchange over snapshots),
      // the Bloom-served point lookup (note the bounded file list), the
      // typed CDF (ONE full-outer join + generate), and the compacted
      // chain read-back (single-dir scan)
      "table_cdc_incremental", "scan_bloom_skipping", "table_cdc_typed",
      "table_compact_chain",
      // the OPTIMIZE-ZORDER serve: the returned band aggregate's scan
      // holds only the manifest-selected files of the re-clustered
      // layout (compare the full-width pre-optimize read the key's
      // full_scan_before literal pins)
      "table_optimize_zorder",
      // round-15: the DSv2 door — the manifest-pruned BatchScan (the
      // GraftScan's pushed filters + the few planned files), the
      // manifest-statistics broadcast join, the scoped-DV MoR-update
      // read (per-dir scans + one broadcast anti-join), and the
      // tail-compacted band read (statrel path resolution)
      "table_dsv2_prune", "table_dsv2_stats_join", "table_update_dv",
      "table_recluster_tail",
      // round-16: the index-extended chain read (band + Bloom resolve
      // across head AND appended dirs — note the bounded file lists),
      // the SQL UPDATE read-back (per-dir scans + broadcast anti-join
      // over the full-row scoped DV), and the SQL-maintained compacted
      // read (single-dir scan after graft_maintain folded the chain)
      "table_dsv2_write_indexed", "table_update_sql",
      "table_maintain_sql",
      // round-17: the CoW-indexed DML read-back (band + Bloom resolve
      // through the REBUILT index), the partitioned-chain DSv2 read
      // (partition pruning across two partby dirs), the renamed-column
      // read (physical-name scan, logical output), and the upsert
      // sink's MoR fold read (per-dir scans + one broadcast anti-join)
      "table_update_sql_indexed", "table_dsv2_write_partby",
      "table_alter_rename_sql", "table_stream_write_update",
      // round-17 session 2: the metadata-only aggregate (a bare one-row
      // GraftMetaAggScan — no aggregate, no exchange, no file), its
      // grouped variant (one row per partition dir), and the two
      // storage-partitioned joins (SortMergeJoin with NO exchange under
      // it — identity transform and bucket(n, key) through the
      // function catalog)
      "table_meta_agg_pushdown", "table_meta_agg_groupby",
      "table_spj_join", "table_bucket_spj_join",
      // round-18: the large-DV read tier (the relation rewritten to a
      // distributed LeftAnti join — no broadcast HINT, though AQE may
      // still choose broadcast from runtime sizes at this sf) and the
      // sorted bucket SPJ (SortMergeJoin with NO exchange and NO Sort
      // under it — SupportsReportOrdering over the sortw= layout)
      "table_dv_scale_gate", "table_sorted_spj_join",
      // round-19: the positional-DV merged read (NO join node — the
      // codegen'd graft_pos_deleted probe filters inside the scan, and
      // the fully-deleted file is absent from the v3 side's file list),
      // the JDBC import (range-sliced JDBCRelation scan, both
      // predicates in PushedFilters), and the multi-insert read-back
      "table_dv_positional", "source_jdbc_import", "etl_multi_insert",
      // round-20: the positional MoR UPDATE — the merged read across a
      // delete→update chain still has NO join node (the replacement
      // dir's files flow beside the shared base files; the probe
      // filters tombstoned positions inside the scan stage)
      "table_dv_update_positional",
      // the one-pass funnel: one events scan, one user_id hash exchange,
      // no join (the three-join form scanned events five times)
      "report_funnel")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (headline queries, ")
      .append(sfDir).append(")\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`. See PERF.md for\n")
      .append("what each plan is evidence of.\n")
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      sb.append(s"\n## $k\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(6000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    spark.stop()
  }
}
