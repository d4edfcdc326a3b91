package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.T.{dround, t, dec, rate, money, oDec, oRate, oMoney}

/** Round-10 additions (8 keys, all oracled):
  *
  *  - `vec_lsh_topk` / `vec_lsh_batch_topk` / `vec_lsh_index_serve` —
  *    multi-table sign-LSH ANN: single probe, batched probes, and
  *    store-served (incrementally ingested signature index); the library
  *    surface is Graft.{lshSignatures, lshProbeBuckets, lshCandidates}.
  *  - `stream_foreachbatch_upsert` — foreachBatch serving-table upsert
  *    (merge logic in StreamingOps.{latestPerUser, upsertBatch,
  *    upsertStreamWriter}); the key replays events through the real
  *    incremental merge in 3 chunks, and the associative/commutative
  *    reduction makes the fixpoint equal the oracle's one-shot
  *    latest-per-user.
  *  - `sink_bloom_rowgroup` — parquet split-block bloom filters on the
  *    write path (footer-verified row-group skipping structure).
  *  - `dq_reconcile_sides` — two-sided exact-decimal reconciliation.
  *  - `report_pattern_conversions` — MATCH_RECOGNIZE-lite sequence regex.
  *  - `text_winnow_neardup` — rolling-hash fingerprint near-dup pairs.
  *
  * `vec_lsh_topk` completes the ANN family's scale-path pair: the suite
  * has IVF bucketing (vec_ivf_topk, vec_ivf_pq_topk) but no LSH bucketing
  * over the embedding column (text MinHash-LSH is a different space).
  * Sign-random-hyperplane LSH is the cosine-metric analogue, in its
  * standard MULTI-TABLE form: L=8 independent tables of k=8 sign bits
  * each; a vector's table-t signature bit b is [cos(v, h_{t,b}) ≥ 0]; the
  * probe fetches, per table, its own bucket plus the k Hamming-1
  * neighbors (multiprobe), the candidate union is deduplicated, and only
  * candidates are exactly scored. Single-table k-bit LSH is useless on a
  * near-isotropic corpus (measured 0–20% recall here); the (k, L,
  * multiprobe) amplification is what makes LSH an algorithm rather than a
  * hash partition — this corpus' true top-10 sit at cosine ≈ 0.31–0.41
  * (per-bit agreement ≈ 0.61, the hard case), and k=8, L=8, radius-1
  * measures 50–80% recall@10 scanning ≈ 26% of the corpus (sf0.001/0.01/
  * 0.1). Production embedding corpora with neighbor cosine ≥ 0.7 reach
  * ≥ 95% recall at far smaller scan fractions with the same structure; k
  * and L are the tuning levers and the candidate-fraction/recall pair is
  * asserted in Round10Spec.
  *
  * Determinism canon: the 64 "random" hyperplanes are corpus vectors
  * vec_id 8..71 (the vec_ivf_topk seed idiom — no RNG; the DuckDB oracle
  * replays the identical funnel), scores round to 6 dp for display only,
  * ordering is (raw cosine DESC, vec_id ASC).
  *
  * 100 TB posture: hyperplanes are a 64-row broadcast; signatures are one
  * map-side-combinable SUM per (vector, table) — the broadcast
  * nested-loop join keeps all of a vector's sign bits in its partition,
  * and in a real deployment signatures are computed once at ingest, so
  * serving never shuffles vectors. The probe's candidate buckets are a
  * 72-row broadcast; candidate ids dedupe through an id-only exchange
  * (8 bytes/row, not vectors); scoring is a broadcast semi-join +
  * TakeOrdered over ~26% of the corpus. No all-pairs stage anywhere.
  */
object Round10Ops {
  private val K = 8 // sign bits per table
  private val L = 8 // hash tables

  /** 64-row broadcast hyperplane set (corpus vectors 8..71); hid encodes
    * (table, bit) as tid = hid div K, bit = hid mod K. */
  private[graft] def lshHyperplanes(e: DataFrame): DataFrame =
    broadcast(e.filter(col("vec_id").between(8, 8 + K * L - 1))
      .select((col("vec_id") - 8).cast(IntegerType).as("hid"),
        col("embedding").as("h_emb")))

  /** Per-(vector, table) sign signatures for `part` — the ingest-time
    * computation: one broadcast nested-loop + one map-side-combinable
    * SUM, shuffling only (vec_id, tid, partial bucket). */
  private[graft] def lshSignatures(part: DataFrame, hyps: DataFrame): DataFrame =
    part.crossJoin(hyps)
      .select(col("vec_id"), expr(s"hid div $K").as("tid"),
        when(expr("graft_cosine(embedding, h_emb)") >= 0,
          expr(s"shiftleft(1L, hid % $K)")).otherwise(lit(0L)).as("bit"))
      .groupBy("vec_id", "tid")
      .agg(sum("bit").as("bucket"))

  /** Serve probe vec_id=0 from a (vec_id, tid, bucket) signature relation:
    * multiprobe buckets → id-deduped candidates → exact re-score → top-10.
    * MUST stay semantically identical to the inline vec_lsh_topk funnel —
    * both keys share one oracle. */
  private def lshServe(sig: DataFrame, e: DataFrame): DataFrame = {
    val cand = sig.filter(col("vec_id") === 0)
      .select(col("tid"), explode(sequence(lit(0), lit(K))).as("j"),
        col("bucket"))
      .select(col("tid"), when(col("j") === K, col("bucket"))
        .otherwise(expr("bucket ^ shiftleft(1L, j)")).as("bucket"))
    val cids = sig.filter(col("vec_id") =!= 0)
      .join(broadcast(cand), Seq("tid", "bucket"))
      .select("vec_id").distinct()
    val probeVec = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("p_emb"))
    e.join(cids, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(probeVec))
      .select(col("vec_id"), col("label"),
        expr("graft_cosine(embedding, p_emb)").as("raw"))
      .orderBy(col("raw").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), col("label"), dround(col("raw"), 6).as("cos_sim"))
  }

  /** Watermark-driven incremental daily load with a SINGLE atomic commit
    * of (table version, watermark) — the manifest idiom of a lakehouse
    * transaction log, in miniature. Store layout under `dir`:
    *
    *   v<N>_<id>/            immutable table versions (parquet)
    *   manifest/commit_<N>   one file per committed version: the data
    *                         dir it names, its schema, and the
    *                         watermark it includes as metadata
    *
    * It is an ordinary GraftTable: readers resolve the CURRENT table
    * exclusively through the manifest (`GraftTable.read`), so a
    * half-staged version is invisible by construction. A load run
    * stages version N+1 to a fresh dir first and then commits it,
    * naming that dir, with one file create+rename — atomic on any
    * Hadoop filesystem (the commit file either exists with its full
    * content or not at all). Crash anywhere before the commit: the
    * manifest still names (N, wm), the retry recomputes the SAME batch
    * from the SAME watermark into another fresh dir, and the crashed
    * run's dir stays unreferenced until `vacuum` reclaims it — no
    * double count, which is exactly the window the previous
    * delete-then-rename + trailing-watermark form left open
    * (Round11Spec kills a run between stage and commit and proves the
    * retry converges to the one-shot recompute). Two concurrent loads
    * cannot both land: one loses the commit of N+1 and throws.
    *
    * Partials are associative at a pinned DECIMAL(30,2) store width, so
    * any run partitioning reaches the same table as one full recompute. */
  private[graft] def incrementalDailyLoad(s: SparkSession, d: String,
      dir: String, cut: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val (v, headers) = stageDailyVersion(s, d, dir, cut)
    commitDailyVersion(fs, dir, v, headers, cut)
  }

  /** Latest committed (version, watermark) from the manifest, if any.
    * Thin wrapper over the general GraftTable manifest (the watermark is
    * the version's metadata string). */
  private[graft] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[(Int, Long)] =
    graft.sources.GraftTable.readManifest(fs, dir)
      .map { case (v, m) => (v, m.toLong) }

  /** The manifest-resolved current daily table — the ONLY sanctioned read
    * path; never point a reader at a `v*` dir directly. */
  private[graft] def currentDaily(s: SparkSession, dir: String): DataFrame =
    graft.sources.GraftTable.read(s, dir)

  private[graft] def currentWatermark(s: SparkSession, dir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    readManifest(fs, dir).map(_._2).getOrElse(Long.MinValue)
  }

  /** First (crash-prone) half of a load run: compute the (watermark,
    * cut] batch, fold it into the current committed table, and stage
    * the result as the NEXT version's dir — WITHOUT committing. Returns
    * the staged version number and the headers its commit names (the
    * staged dir and its schema). */
  private[graft] def stageDailyVersion(s: SparkSession, d: String,
      dir: String, cut: Long): (Int, Map[String, String]) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val prev = readManifest(fs, dir)
    val wm = prev.map(_._2).getOrElse(Long.MinValue)
    // Frontier predicate on ts ITSELF, not unix_micros(ts): Catalyst
    // unwraps the loader's NTZ→LTZ cast and pushes GreaterThan(ts, …) /
    // LessThanOrEqual(ts, …) into the parquet scan (row-group min/max
    // skipping — plan-audited in Round10Spec), while a predicate on the
    // derived micros column pushes nothing and re-scans the history
    // every run. Sentinel bounds skip their side entirely
    // (timestamp_micros(Long.MinValue/MaxValue) would overflow the
    // timestamp range).
    val lower =
      if (wm == Long.MinValue) lit(true)
      else col("ts") > timestamp_micros(lit(wm))
    val upper =
      if (cut == Long.MaxValue) lit(true)
      else col("ts") <= timestamp_micros(lit(cut))
    val batch = graft.T.events(s, d)
      .filter(lower && upper)
      .select(to_date(col("ts")).as("day"), col("value"))
    val part = batch.groupBy("day")
      .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sv"))
      .select(col("day"), col("cnt"), col("sv").cast(DecimalType(30, 2)).as("sv"))
    val merged = prev match {
      case Some((v, _)) =>
        graft.sources.GraftTable.readVersion(s, dir, v).unionByName(part)
          .groupBy("day")
          .agg(sum("cnt").as("cnt"), sum("sv").cast(DecimalType(30, 2)).as("sv"))
      case None => part
    }
    val vNew = prev.map(_._1 + 1).getOrElse(0)
    (vNew, Map("data" -> graft.sources.GraftTable.stage(merged, dir, vNew),
      "schema" -> graft.sources.GraftTable.schemaEncode(merged.schema)))
  }

  /** Second half: the atomic commit of the staged version — its
    * headers, the watermark as the version's metadata and retain=1 (one
    * prior version kept as a grace window for readers that resolved the
    * manifest just before this commit). */
  private[graft] def commitDailyVersion(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Int, headers: Map[String, String], wm: Long): Unit =
    graft.sources.GraftTable.commit(fs, dir, v, wm.toString, headers,
      retain = 1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The ingest/serving split the LSH design assumes, made literal:
    // signatures are computed INCREMENTALLY (two ingest chunks, each one
    // signature pass over only ITS vectors, appended to a parquet
    // signature store bucketed by the LSH table id) and the probe is
    // served FROM THE STORE with zero signature recomputation — query-
    // time cost is bucket-pruned reads + exact re-score of candidates.
    // Result is provably identical to the from-scratch funnel: this key
    // shares vec_lsh_topk's oracle verbatim. Signature appends commute
    // (disjoint vec_id sets), so ingest order is irrelevant — the same
    // argument as stream_foreachbatch_upsert's merge.
    "vec_lsh_index_serve" -> ((s, d) => {
      graft.Graft.registerFunctions(s)
      val dir = s"target/tmp/lshidx_${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      val e = t(s, d, "embeddings")
      val hyps = lshHyperplanes(e)
      (0 to 1).foreach { i =>
        lshSignatures(e.filter(pmod(col("vec_id"), lit(2)) === i), hyps)
          // one file per tid per chunk, not one per (tid × shuffle
          // partition) — the suite's partitioned-sink discipline
          .repartition(col("tid"))
          .write.mode("append").partitionBy("tid").parquet(dir)
      }
      lshServe(s.read.parquet(dir).select("vec_id", "tid", "bucket"), e)
    }),

    "vec_lsh_topk" -> ((s, d) => {
      graft.Graft.registerFunctions(s)
      val e = t(s, d, "embeddings")
      // 64 deterministic hyperplanes = corpus vectors 8..71; hid encodes
      // (table, bit) as tid = hid div K, bit = hid mod K.
      val hyps = broadcast(e.filter(col("vec_id").between(8, 8 + K * L - 1))
        .select((col("vec_id") - 8).cast(IntegerType).as("hid"),
          col("embedding").as("h_emb")))
      // Per-(vector, table) signature. cos ≥ 0 ⇔ dot ≥ 0 (norms are
      // positive); both engines score in double precision from the same
      // floats. Narrow shuffle: (vec_id, tid, partial bucket) only.
      val sig = e.crossJoin(hyps)
        .select(col("vec_id"), expr(s"hid div $K").as("tid"),
          when(expr("graft_cosine(embedding, h_emb)") >= 0,
            expr(s"shiftleft(1L, hid % $K)")).otherwise(lit(0L)).as("bit"))
        .groupBy("vec_id", "tid")
        .agg(sum("bit").as("bucket"))
        // probe and candidate sides both read sig — unpersisted, the
        // signature subtree runs twice (vec_ivf_topk precedent).
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Multiprobe: per table, own bucket (j=K sentinel) + K bit flips.
      val cand = sig.filter(col("vec_id") === 0)
        .select(col("tid"), explode(sequence(lit(0), lit(K))).as("j"),
          col("bucket"))
        .select(col("tid"), when(col("j") === K, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1L, j)")).as("bucket"))
      // Candidate union, deduped on the 8-byte id before any scoring.
      val cids = sig.filter(col("vec_id") =!= 0)
        .join(broadcast(cand), Seq("tid", "bucket"))
        .select("vec_id").distinct()
      val probeVec = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p_emb"))
      e.join(cids, Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(probeVec))
        .select(col("vec_id"), col("label"),
          expr("graft_cosine(embedding, p_emb)").as("raw"))
        .orderBy(col("raw").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), col("label"), dround(col("raw"), 6).as("cos_sim"))
    }),

    // Batched LSH serving: top-5 neighbors for EIGHT probes (vec_id
    // 1..8) in one pass — the realistic serving shape. The signature
    // pass is shared across probes (it's probe-independent), the
    // candidate-bucket set is |probes|×L×(k+1) = 576 broadcast rows, and
    // candidate (p_id, vec_id) pairs dedupe through an id-only exchange
    // before exactly one scoring join. Per-probe cost amortizes: the
    // corpus-side work (signatures) is paid once for the whole batch.
    "vec_lsh_batch_topk" -> ((s, d) => {
      graft.Graft.registerFunctions(s)
      val e = t(s, d, "embeddings")
      val hyps = broadcast(e.filter(col("vec_id").between(8, 8 + K * L - 1))
        .select((col("vec_id") - 8).cast(IntegerType).as("hid"),
          col("embedding").as("h_emb")))
      val sig = e.crossJoin(hyps)
        .select(col("vec_id"), expr(s"hid div $K").as("tid"),
          when(expr("graft_cosine(embedding, h_emb)") >= 0,
            expr(s"shiftleft(1L, hid % $K)")).otherwise(lit(0L)).as("bit"))
        .groupBy("vec_id", "tid")
        .agg(sum("bit").as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = sig.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("p_id"), col("tid"),
          explode(sequence(lit(0), lit(K))).as("j"), col("bucket"))
        .select(col("p_id"), col("tid"), when(col("j") === K, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1L, j)")).as("bucket"))
      val pairs = sig.join(broadcast(cand), Seq("tid", "bucket"))
        .filter(col("vec_id") =!= col("p_id"))
        .select("p_id", "vec_id").distinct()
      val probeVecs = broadcast(e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("p_id"), col("embedding").as("p_emb")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("p_id")
        .orderBy(col("raw").desc, col("vec_id").asc)
      e.join(pairs, Seq("vec_id"))
        .join(probeVecs, Seq("p_id"))
        .select(col("p_id"), col("vec_id"), col("label"),
          expr("graft_cosine(embedding, p_emb)").as("raw"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("p_id"), col("rank"), col("vec_id"), col("label"),
          dround(col("raw"), 6).as("cos_sim"))
        .orderBy("p_id", "rank")
    }),

    // Parquet bloom-filter data skipping on the WRITE path: the sink
    // embeds a split-block bloom filter for event_id in every row group
    // (footer-verified in Round10Spec), so a selective point lookup can
    // skip row groups whose filter rules the key out — the storage-level
    // companion to min/max pruning (which needs sorted layout; blooms
    // work for high-cardinality point predicates on ANY layout).
    // Dictionary encoding is disabled for the bloomed column because
    // parquet-mr (correctly) skips the bloom when a chunk is fully
    // dict-encoded — the dict page already answers membership exactly.
    // That matches the scale reality: at 100 TB a key column's
    // cardinality overflows the 1 MB dict-page budget, the writer falls
    // back to plain encoding, and the bloom becomes the only per-group
    // membership structure. The query round-trips the sink and runs the
    // point lookup, so the skipping read is oracle-checked.
    "sink_bloom_rowgroup" -> ((s, d) => {
      val dir = s"target/tmp/bloom_${new java.io.File(d).getName}"
      graft.T.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .option("parquet.bloom.filter.expected.ndv#event_id", "100000")
        .option("parquet.enable.dictionary#event_id", "false")
        .parquet(dir)
      s.read.parquet(dir)
        .filter(col("event_id").isin(42L, 777L, 4242L))
        .orderBy("event_id")
    }),

    // Two-sided reconciliation — the payments-lake control report: the
    // booked side (orders.o_totalprice) against the recomputed side
    // (lineitem charges aggregated per order), full-outer joined and
    // classified into matched / mismatch / left_only / right_only with
    // the total absolute delta per class. Exact DECIMAL end to end (a
    // recon that can drift by float rounding is worthless); the join is
    // a key-partitioned shuffle on orderkey (both sides pre-reduced to
    // one row per key, so shuffle volume is |orders|, not |lineitem|).
    "dq_reconcile_sides" -> ((s, d) => {
      val booked = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("booked"))
      val computed = t(s, d, "lineitem")
        .select(col("l_orderkey").as("k"),
          (dec(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))) *
            (lit(1) + rate(col("l_tax")))).as("amt"))
        .groupBy("k").agg(sum("amt").as("computed"))
      booked.join(computed, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("booked").isNull, "right_only")
            .when(col("computed").isNull, "left_only")
            // decimal literal, NOT lit(0.01): a double literal would
            // promote the exact-decimal delta to double for the compare
            // (DuckDB compares decimal-exact), and an exact-boundary
            // delta of 0.01 could then classify differently per engine
            .when(abs(col("booked") - col("computed")) <=
              lit(BigDecimal("0.01")).cast(DecimalType(3, 2)), "matched")
            .otherwise("mismatch"))
        .groupBy("status")
        .agg(count(lit(1)).as("cnt"),
          money(sum(abs(coalesce(col("booked"), lit(0)) -
            coalesce(col("computed"), lit(0))))).as("abs_delta"))
        .orderBy("status")
    }),

    // High-watermark incremental ETL — the daily-load idiom of an
    // Airflow-orchestrated lake, made explicit: persistent state (the
    // watermark) records the event-time frontier already loaded; each
    // run processes ONLY (watermark, cut] rows, folds per-day partial
    // aggregates ADDITIVELY into the cumulative daily table (exact
    // decimal partials at a pinned DECIMAL(30,2) store width, so
    // merge order can't change a cent), stages the next table version,
    // and makes (version, watermark) visible in ONE atomic manifest
    // commit — crash anywhere, the retry can't double-count
    // (Round11Spec). Because count/sum partials
    // are associative, N incremental runs ≡ one full recompute — which
    // is exactly what the oracle executes. A run with nothing new is a
    // provable no-op (spec). At 100 TB this is the difference between
    // scanning a day and scanning a history; the same shape drops onto
    // dt-partitioned storage with dynamic partition overwrite.
    "etl_incremental_watermark" -> ((s, d) => {
      val dir = s"target/tmp/wmetl_${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      // run 1 loads through Jan 15 00:00 UTC; run 2 loads the rest
      incrementalDailyLoad(s, d, dir, 1705276800000000L)
      incrementalDailyLoad(s, d, dir, Long.MaxValue)
      currentDaily(s, dir)
        .select(col("day"), col("cnt"),
          money(col("sv")).as("sum_val"))
        .orderBy("day")
    }),

    // Image near-dup via perceptual hash (t2=N rows-only: the aHash needs
    // the JDK PNG codec, which no SQL oracle can replay; Round10Spec
    // recomputes hashes from the closed-form synthetic pixels instead).
    // See Multimodal.phashNearDup for the banded-join scale argument.
    "mm_phash_neardup" -> ((s, d) => Multimodal.phashNearDup(s, d)),

    // Rolling-hash fingerprint near-dup (winnowing-style): every 16-char
    // window hashes to a 20-bit polynomial fingerprint (constants 31^k
    // mod 1000003, precomputed and inlined IDENTICALLY into the Spark
    // expression and the oracle SQL — exact integer arithmetic, no
    // overflow: max term ≈ 255·1e6·16 ≪ 2^63); fingerprints with
    // fp % 32 == 0 are selected (≈ 1/32 of windows — deterministic
    // winnowing), ultra-common fingerprints (doc frequency > 64:
    // boilerplate, the classic hot-key blowup at scale) and singletons
    // are dropped, and documents sharing ≥ 3 surviving fingerprints are
    // reported. Shuffles carry (doc_id, fp) pairs — ~1/32 of window
    // volume — and the pair join is an equi-join on fp with per-key
    // fan-out capped at 64² by the df filter: bounded by construction,
    // never all-pairs. The hash is windowed-parallel (transform over
    // positions, whole-stage codegen), not a stateful scan.
    //
    // Guarantee boundary (measured at sf0.1): mod-p selection is
    // Manber-style — expected 1 fingerprint per 32 windows but NO
    // per-window minimum, so documents much shorter than ~3·32+15 chars
    // may select < 3 fingerprints and evade the pair threshold (2 of 8
    // exact-dup pairs at sf0.1, both docs ≤ 135 chars). That is the
    // intended division of labor: exact dups of ANY length are caught
    // unconditionally by text_exact_dedup's sha2 hash-groupBy; winnow
    // fingerprints exist to catch long-document containment and
    // near-duplication that whole-document hashing cannot.
    // Round10Spec pins exact-dup recall above the length boundary.
    "text_winnow_neardup" -> ((s, d) => {
      // The windowed hash is the native codegen'd WinnowFingerprints
      // expression (graft.expr): one pass over a primitive code-point
      // array per document, selection inside the kernel, so only the
      // ~1/32 selected fingerprints ever become rows. Value-identical to
      // the built-in filter(transform(...)) formulation it replaced
      // (ExprSpec pins equality; the SQL-array version allocated a
      // UTF8String per character and benched ~4 s at sf0.1 — this is
      // sub-second). Constants 31^k mod 1000003 live in the expression
      // and IDENTICALLY in the oracle SQL.
      // Docs shorter than one 16-char window have no fingerprints BY
      // DEFINITION and are excluded up front (mirrored in the oracle's
      // WHERE; the expression also returns an empty array for them, but
      // the explicit guard keeps both engines' row sets aligned). Exact
      // dups of any length remain text_exact_dedup's job.
      graft.Graft.registerFunctions(s)
      val sel = t(s, d, "documents")
        .filter(length(col("text")) >= 16)
        .select(col("doc_id"),
          explode(expr("graft_winnow_fps(text)")).as("fp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keepFp = sel.groupBy("fp").agg(count(lit(1)).as("nd"))
        .filter(col("nd").between(2, 64)).select("fp")
      val kept = sel.join(keepFp, "fp")
      kept.as("a").join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).cast(LongType).as("shared"))
        .filter(col("shared") >= 3)
        .orderBy("a_id", "b_id")
    }),

    // Sequence-pattern analytics (MATCH_RECOGNIZE-lite): per (user, day),
    // build the event-initial string in (ts, event_id) total order and
    // count non-overlapping conversion patterns view→…→click→…→purchase
    // with no intervening purchase (regex v[^p]*c[^p]*p). One shuffle to
    // the (user, day) grain; the sequence lives as one row per key (a
    // day of events per user — bounded), and the regex scan is
    // per-group, embarrassingly parallel. Both engines run greedy
    // leftmost non-overlapping matching, so the count is engine-stable.
    "report_pattern_conversions" -> ((s, d) => {
      val ev = graft.T.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("ts_ns"), col("event_id"),
          substring(col("event_type"), 1, 1).as("letter"))
      ev.groupBy("user_id", "day")
        .agg(array_sort(collect_list(struct(col("ts_ns"), col("event_id"),
          col("letter")))).as("evs"))
        .select(col("user_id"), col("day"),
          array_join(expr("transform(evs, x -> x.letter)"), "").as("seq"))
        .select(col("user_id"), col("day"),
          length(col("seq")).as("n_events"),
          regexp_count(col("seq"), lit("v[^p]*c[^p]*p")).cast(IntegerType)
            .as("n_conversions"))
        .filter(col("n_conversions") > 0)
        .orderBy("user_id", "day")
    }),

    // foreachBatch upsert, exercised through the REAL incremental merge:
    // the events table is replayed in 3 deterministic chunks
    // (event_id mod 3) through StreamingOps.upsertBatch — read current
    // table → union → latest-per-user → staged write → atomic swap — and
    // the final serving table is returned. Because the reduction is
    // associative/commutative over a total order, the fixpoint equals
    // the one-shot batch latest-per-user, which is what the oracle
    // computes; chunk order and replay count cannot change it
    // (idempotence golden-tested in Round10Spec with a MemoryStream).
    "stream_foreachbatch_upsert" -> ((s, d) => {
      val dir = s"target/tmp/upsert_${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      val ev = graft.T.events(s, d)
        .select("user_id", "ts", "event_id", "event_type", "value")
      (0 to 2).foreach { i =>
        StreamingOps.upsertBatch(s, ev.filter(pmod(col("event_id"), lit(3)) === i), dir)
      }
      s.read.parquet(dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    })
  )

  private val lshTopkOracle: String =
    s"WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
      s"hyp AS (SELECT CAST(vec_id - 8 AS INT) AS hid, emb AS h_emb FROM e WHERE vec_id BETWEEN 8 AND ${8 + K * L - 1}), " +
      s"sig AS (SELECT e.vec_id, h.hid // $K AS tid, " +
      "CAST(SUM(CASE WHEN list_cosine_similarity(e.emb, h.h_emb) >= 0 " +
      s"THEN (1::BIGINT << (h.hid % $K)) ELSE 0 END) AS BIGINT) AS bucket " +
      s"FROM e, hyp h GROUP BY e.vec_id, h.hid // $K), " +
      "probe AS (SELECT tid, bucket FROM sig WHERE vec_id = 0), " +
      s"cand AS (SELECT p.tid, CASE WHEN t.j = $K THEN p.bucket " +
      "ELSE xor(p.bucket, (1::BIGINT << t.j)) END AS bucket " +
      s"FROM probe p, (SELECT unnest(range(0, ${K + 1})) AS j) t), " +
      "cids AS (SELECT DISTINCT s.vec_id FROM sig s JOIN cand c " +
      "ON s.tid = c.tid AND s.bucket = c.bucket WHERE s.vec_id <> 0), " +
      "pv AS (SELECT emb AS p_emb FROM e WHERE vec_id = 0) " +
      "SELECT e.vec_id, e.label, round(list_cosine_similarity(e.emb, pv.p_emb), 6) AS cos_sim " +
      "FROM e JOIN cids USING (vec_id), pv " +
      "ORDER BY list_cosine_similarity(e.emb, pv.p_emb) DESC, e.vec_id LIMIT 10"

  val oracleSql: Map[String, String] = Map(
    "vec_lsh_topk" -> lshTopkOracle,
    // The store-served funnel must produce the identical result — the
    // strongest possible check that incremental ingest loses nothing.
    "vec_lsh_index_serve" -> lshTopkOracle,

    "vec_lsh_batch_topk" ->
      (s"WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        s"hyp AS (SELECT CAST(vec_id - 8 AS INT) AS hid, emb AS h_emb FROM e WHERE vec_id BETWEEN 8 AND ${8 + K * L - 1}), " +
        s"sig AS (SELECT e.vec_id, h.hid // $K AS tid, " +
        "CAST(SUM(CASE WHEN list_cosine_similarity(e.emb, h.h_emb) >= 0 " +
        s"THEN (1::BIGINT << (h.hid % $K)) ELSE 0 END) AS BIGINT) AS bucket " +
        s"FROM e, hyp h GROUP BY e.vec_id, h.hid // $K), " +
        "cand AS (SELECT p.vec_id AS p_id, p.tid, " +
        s"CASE WHEN t.j = $K THEN p.bucket ELSE xor(p.bucket, (1::BIGINT << t.j)) END AS bucket " +
        s"FROM sig p, (SELECT unnest(range(0, ${K + 1})) AS j) t WHERE p.vec_id BETWEEN 1 AND 8), " +
        "pairs AS (SELECT DISTINCT c.p_id, s.vec_id FROM sig s JOIN cand c " +
        "ON s.tid = c.tid AND s.bucket = c.bucket WHERE s.vec_id <> c.p_id), " +
        "pv AS (SELECT vec_id AS p_id, emb AS p_emb FROM e WHERE vec_id BETWEEN 1 AND 8), " +
        "scored AS (SELECT pr.p_id, pr.vec_id, e.label, " +
        "list_cosine_similarity(e.emb, pv.p_emb) AS raw, " +
        "ROW_NUMBER() OVER (PARTITION BY pr.p_id " +
        "ORDER BY list_cosine_similarity(e.emb, pv.p_emb) DESC, pr.vec_id ASC) AS rank " +
        "FROM pairs pr JOIN e ON pr.vec_id = e.vec_id JOIN pv ON pr.p_id = pv.p_id) " +
        "SELECT p_id, CAST(rank AS INT) AS rank, vec_id, label, round(raw, 6) AS cos_sim " +
        "FROM scored WHERE rank <= 5 ORDER BY p_id, rank"),

    "sink_bloom_rowgroup" ->
      ("SELECT event_id, user_id, event_type, value FROM events " +
        "WHERE event_id IN (42, 777, 4242) ORDER BY event_id"),

    "etl_incremental_watermark" ->
      (s"SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt, " +
        s"${oMoney(s"SUM(${oDec("value")})")} AS sum_val " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    "text_winnow_neardup" -> {
      val P = (0 until 16).map(k => BigInt(31).modPow(k, 1000003).toLong)
      val terms = (0 until 16)
        .map(k => s"ascii(substr(text, i + ${15 - k}, 1)) * ${P(k)}")
        .mkString(" + ")
      s"WITH w AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(text) - 15), " +
        s"i -> ($terms) % 1000003)) AS fp FROM documents WHERE length(text) >= 16), " +
        "sel AS (SELECT DISTINCT doc_id, fp FROM w WHERE fp % 32 = 0), " +
        "keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 64), " +
        "kept AS (SELECT s.doc_id, s.fp FROM sel s JOIN keep USING (fp)) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS shared " +
        "FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY a_id, b_id"
    },

    "report_pattern_conversions" ->
      ("WITH seqs AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT user_id, day, CAST(length(seq) AS INT) AS n_events, " +
        "CAST(length(regexp_split_to_array(seq, 'v[^p]*c[^p]*p')) - 1 AS INT) AS n_conversions " +
        "FROM seqs WHERE length(regexp_split_to_array(seq, 'v[^p]*c[^p]*p')) > 1 " +
        "ORDER BY user_id, day"),

    "dq_reconcile_sides" ->
      (s"WITH booked AS (SELECT o_orderkey AS k, ${oDec("o_totalprice")} AS booked FROM orders), " +
        s"computed AS (SELECT l_orderkey AS k, SUM(${oDec("l_extendedprice")} * " +
        s"(1 - ${oRate("l_discount")}) * (1 + ${oRate("l_tax")})) AS computed " +
        "FROM lineitem GROUP BY 1), " +
        "j AS (SELECT CASE WHEN booked IS NULL THEN 'right_only' " +
        "WHEN computed IS NULL THEN 'left_only' " +
        "WHEN abs(booked - computed) <= 0.01 THEN 'matched' " +
        "ELSE 'mismatch' END AS status, " +
        "abs(COALESCE(booked, 0) - COALESCE(computed, 0)) AS delta " +
        "FROM booked FULL OUTER JOIN computed USING (k)) " +
        s"SELECT status, CAST(COUNT(*) AS BIGINT) AS cnt, ${oMoney("SUM(delta)")} AS abs_delta " +
        "FROM j GROUP BY status ORDER BY status"),

    "stream_foreachbatch_upsert" ->
      ("SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value " +
        "FROM (SELECT user_id, ts, event_id, event_type, value, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY user_id")
  )
}
