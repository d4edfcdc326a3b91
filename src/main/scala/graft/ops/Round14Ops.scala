package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.T.{t, dec, money, oDec, oMoney}
import graft.sources.GraftTable

/** Round-14 additions — the manifest's OPERATIONAL ring closes (ranked
  * 1–8 in the round-13 review): checkpoint compaction makes every
  * full-history manifest read O(1 + suffix), append commits give the
  * write path an O(new-data) fast lane that CDC, OCC retry and
  * statistics all ride, and the write boundary gains the two guards
  * production tables die without (schema compatibility, time-based
  * retention):
  *
  *  - `table_cdc_incremental` — append-only CDC without snapshots: each
  *    `commitAppend` records the one dir it added, and `versionDelta`
  *    serves that version's delta as a plain scan of the NEW files — no
  *    exchange, no read of the previous snapshot (the exceptAll path
  *    pays one hash shuffle of BOTH). Round14Spec pins the physical
  *    claim: the delta plan's input files all live in the marker dir.
  *
  *  - `table_merge_full` — MERGE with all three arms: changelog rows
  *    carry an op column (U/I/D); WHEN MATCHED AND op='D' THEN DELETE,
  *    WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED AND op<>'D' THEN
  *    INSERT. Both versions read back — time travel still serves the
  *    deleted keys at v0.
  *
  *  - `table_schema_enforce` — the write-time schema gate: a typo'd
  *    column name is REFUSED before anything stages (no version, no
  *    orphan dir, error names the field), while the same shape change
  *    declared with allowEvolution = true commits fine.
  *
  *  - `table_append_occ` — blind appends under OCC contention: two
  *    racing `commitAppendWithRetry` writers stage ONCE each; the race
  *    loser re-commits its already-staged dir under the next version
  *    number without re-executing or re-writing anything (an append
  *    reads no snapshot, so there is nothing to re-derive — Delta's
  *    conflict checker lands blind appends for the same reason).
  *
  *  - `table_retention_expire` — time-based retention: versions whose
  *    (writer-recorded, monotone-clamped) commit instant has aged past
  *    the horizon lose their data dirs — never the current version,
  *    never a dir a live version still references — and stay loudly
  *    unreadable; history survives forever.
  *
  *  - `table_checkpoint_history` — the manifest checkpoint serving
  *    DESCRIBE HISTORY and TIMESTAMP AS OF: one consolidated read plus
  *    the post-checkpoint suffix instead of one open per commit file
  *    (Round14Spec counts the FS calls at 50+ commits). The asof
  *    column also pins the round's ts clamp: version 5's own commit
  *    instant resolves to exactly version 5 with NO sleep between
  *    commits, because clamped timestamps are strictly increasing.
  *
  *  - `scan_stats_skipping_null` — IS NULL / IS NOT NULL file skipping
  *    from the stats line's per-column null counts: an all-null file
  *    serves no IS-NOT-NULL row, a null-free file no IS-NULL row, and
  *    both prune from the manifest without listing or opening anything.
  *
  *  - `table_append_stats` — the skipping index extends INCREMENTALLY:
  *    an append commit computes stats over its new files only (the hot
  *    ones) and merges the predecessor's line, so metadata-only counts
  *    and band reads keep serving across the whole chain without ever
  *    re-scanning old data.
  *
  *  - `table_stream_rows` — the read half of the lakehouse loop at DATA
  *    granularity: a subscriber follows the manifest and receives each
  *    new version's appended ROWS (via the CDC fast path), exactly
  *    once across a mid-history restart — the checkpointed file-stream
  *    source dedupes commit files, so the restarted query resumes at
  *    the first unseen version.
  */
object Round14Ops {

  /** Orders projected to the (key, price) shape the table keys commit.
    * money-per-row canon: round(DECIMAL, 4) cast double — exact and
    * hash-identical in both engines. */
  private def ordersKP(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(col("o_orderkey"),
      money(dec(col("o_totalprice"))).as("price"))

  /** Fresh table dir under target/tmp, keyed by SF so the three scale
    * factors never share state. */
  private def freshDir(s: SparkSession, d: String, tag: String): String =
    graft.T.freshDir(s, d, tag)

  /** The null-clustered stats table `scan_stats_skipping_null` reads:
    * orders range-partitioned by DATE (orderkey tiebreak for balanced
    * ranges) with late_price null exactly for pre-1997 rows, so whole
    * files land all-null or null-free — the layout that makes BOTH
    * null-band directions prune. Committed with per-file stats
    * including null counts. */
  private[graft] def nullClusteredTable(s: SparkSession, d: String): String = {
    val dir = freshDir(s, d, "nullskip")
    val clustered = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        when(col("o_orderdate") >= to_timestamp(lit("1997-01-01")),
          money(dec(col("o_totalprice")))).as("late_price"))
      .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
    GraftTable.commitNextIsolated(s, dir, clustered, "null-clustered",
      statsEnc = Seq(
        // parquet serves o_orderdate as TIMESTAMP_NTZ; session TZ is
        // UTC so the `us` encoding's TimestampType cast is value-identical
        "o_orderdate" -> "us",
        // a decimal: `id` records its LONG cast (the scan fallback)
        "late_price" -> "id"))
    dir
  }

  /** The incrementally-statted append chain `table_append_stats`
    * serves: pre-1996 orders as the statted base, 1996+ appended with
    * stats computed over the NEW files only and merged into the
    * predecessor's line (both slices range-clustered by date so band
    * reads prune within each dir too). */
  private[graft] def appendStatsTable(s: SparkSession, d: String): String = {
    val dir = freshDir(s, d, "appendstats")
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate"),
      money(dec(col("o_totalprice"))).as("price"))
    // TIMESTAMP_NTZ parquet column; UTC session makes the `us` cast exact
    val statsEnc = Seq("o_orderdate" -> "us")
    GraftTable.commitNextIsolated(s, dir,
      o.filter(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
        .repartitionByRange(4, col("o_orderdate"), col("o_orderkey")),
      "base: pre-1996", statsEnc = statsEnc)
    GraftTable.commitAppend(s, dir,
      o.filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")))
        .repartitionByRange(4, col("o_orderdate"), col("o_orderkey")),
      "append: 1996+", statsEnc = statsEnc)
    dir
  }

  /** The three-arm merge fixture `table_merge_full` /
    * `table_cdc_typed` / `table_mv_typed_maintain` share: v0 = customer
    * balances (key, bal); v1 = the U/I/D merge — changelog rows derived
    * deterministically from orders (op='D' tombstones custkey % 10 = 3,
    * op='I' arrives under fresh keys custkey + 10M for % 10 = 0 — never
    * in base — the rest are op='U' balance deltas; customers with no
    * orders are the untouched arm), resolved in ONE full-outer
    * key-partitioned join: a matched D drops the key, U updates, I
    * inserts. Returns the committed table dir. Its oracle twin is
    * `oMergeCtes`. */
  private[graft] def mergeFixture(s: SparkSession, d: String,
      tag: String): String = {
    val dir = freshDir(s, d, tag)
    val base = t(s, d, "customer")
      .select(col("c_custkey").as("key"), dec(col("c_acctbal")).as("bal"))
    GraftTable.commitNextIsolated(s, dir, base, "base")
    val chg = t(s, d, "orders").groupBy("o_custkey")
      .agg(sum(dec(col("o_totalprice"))).as("delta"))
      .select(
        when(col("o_custkey") % 10 === 0, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")).as("ckey"),
        when(col("o_custkey") % 10 === 3, lit("D"))
          .when(col("o_custkey") % 10 === 0, lit("I"))
          .otherwise(lit("U")).as("op"),
        col("delta"))
    val merged = GraftTable.read(s, dir)
      .join(chg, col("key") === col("ckey"), "full")
      // WHEN MATCHED AND op='D' THEN DELETE; a not-matched D is a
      // no-op (nothing to delete)
      .filter(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("key"), col("ckey")).as("key"),
        (coalesce(col("bal"), lit(0).cast(DecimalType(12, 2))) +
          coalesce(col("delta"), lit(0).cast(DecimalType(12, 2)))).as("bal"))
    GraftTable.commitNextIsolated(s, dir, merged, "merge U/I/D")
    dir
  }

  /** Base + two appends: orders sliced by o_orderkey % 3 committed as
    * v0 (isolated) then v1, v2 (append commits) — the fixture the CDC,
    * OCC and streaming keys share. */
  private[graft] def appendChain(s: SparkSession, d: String, tag: String): String = {
    val dir = freshDir(s, d, tag)
    val o = ordersKP(s, d)
    GraftTable.commitNextIsolated(s, dir,
      o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "base load")
    GraftTable.commitAppend(s, dir,
      o.filter(pmod(col("o_orderkey"), lit(3)) === 1), "append slice 1")
    GraftTable.commitAppend(s, dir,
      o.filter(pmod(col("o_orderkey"), lit(3)) === 2), "append slice 2")
    dir
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Append-only CDC: every version's delta served WITHOUT touching
    // the previous snapshot — v1/v2 resolve from their append= marker
    // to a plain scan of the added dir (Round14Spec pins inputFiles ⊆
    // marker dir and a join/exchange-free plan); v0's delta is its full
    // content. The three deltas tile the table exactly, which is what
    // the oracle recomputes: version ≡ o_orderkey % 3. At 10⁵ append
    // commits this is the difference between a cdcSubscribe consumer
    // paying O(2 snapshots) per version and O(files added).
    "table_cdc_incremental" -> ((s, d) => {
      val dir = appendChain(s, d, "cdcinc")
      def delta(v: Int): DataFrame =
        GraftTable.versionDelta(s, dir, v)
          .select(lit(v).as("version"), col("o_orderkey"), col("price"))
      delta(0).unionByName(delta(1)).unionByName(delta(2))
        .orderBy("version", "o_orderkey")
    }),

    // MERGE with the full three-arm semantics (fixture + arm derivation
    // in `mergeFixture`). Both versions read back so the oracle pins
    // that v0 STILL SERVES the deleted keys (snapshot isolation; a
    // merge that mutated v0 in place hash-mismatches on the version-0
    // rows).
    "table_merge_full" -> ((s, d) => {
      val dir = mergeFixture(s, d, "mergefull")
      def snap(v: Int): DataFrame =
        GraftTable.readVersion(s, dir, v)
          .select(lit(v).as("version"), col("key"), money(col("bal")).as("bal"))
      snap(0).unionByName(snap(1)).orderBy("version", "key")
    }),

    // The write-time schema gate, both directions in one history: the
    // typo'd commit (price → prise) throws BEFORE staging — version
    // count stays 1 and the error names the field — while the same
    // writer's declared evolution (adding o_orderpriority with
    // allowEvolution = true) commits as v1. n_refused and n_versions
    // sit inside the oracle: a gate that silently let the typo through
    // (or that blocked the declared evolution) flips them.
    "table_schema_enforce" -> ((s, d) => {
      val dir = freshDir(s, d, "schemagate")
      val o = t(s, d, "orders")
      GraftTable.commitNextIsolated(s, dir,
        o.select(col("o_orderkey"), dec(col("o_totalprice")).as("price")),
        "base 2-col schema")
      val refused =
        try {
          GraftTable.commitNextIsolated(s, dir,
            o.select(col("o_orderkey"), dec(col("o_totalprice")).as("prise")),
            "typo'd column")
          0L
        } catch { case _: IllegalArgumentException => 1L }
      GraftTable.commitNextIsolated(s, dir,
        o.select(col("o_orderkey"), dec(col("o_totalprice")).as("price"),
          col("o_orderpriority")),
        "declared evolution: +o_orderpriority", allowEvolution = true)
      val nv = GraftTable.versions(GraftTable.fsOf(s, dir), dir).size
      GraftTable.read(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderpriority")).as("n_priority"),
          money(sum(col("price"))).as("sum_price"))
        .select(col("n_rows"), col("n_priority"), col("sum_price"),
          lit(refused).as("n_refused"), lit(nv).as("n_versions"))
    }),

    // Blind appends under OCC contention: two latched writers append
    // disjoint slices through commitAppendWithRetry. Exactly one wins
    // version 1; the loser's CME re-commits its ALREADY-STAGED dir as
    // version 2 — no second write, no transform re-execution (an
    // append reads no snapshot; Round14Spec counts both), no orphan
    // for vacuum. Final state is arrival-order-independent (disjoint
    // key slices commute), so the oracle recomputes it sequentially;
    // n_versions = 3 pins that the loser landed rather than failing
    // or double-applying.
    "table_append_occ" -> ((s, d) => {
      val dir = freshDir(s, d, "appendocc")
      val o = ordersKP(s, d)
      GraftTable.commitNextIsolated(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "base")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val latch = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(1, 2).map { slice =>
        new Thread(() => {
          latch.await()
          try GraftTable.commitAppendWithRetry(s, dir,
            o.filter(pmod(col("o_orderkey"), lit(3)) === slice),
            s"append slice $slice")
          catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      val nv = GraftTable.versions(GraftTable.fsOf(s, dir), dir).size
      GraftTable.read(s, dir)
        .groupBy(pmod(col("o_orderkey"), lit(3)).as("slice"))
        .agg(count(lit(1)).as("n"), money(sum(dec(col("price")))).as("rev"))
        .select(col("slice"), col("n"), col("rev"), lit(nv).as("n_versions"))
        .orderBy("slice")
    }),

    // Time-based retention against a BACK-DATED history (the explicit
    // tsMs commit hook — the documented import/test escape from the
    // clock clamp): v0 and v1 carry ancient commit instants, v2 the
    // recent one; expireVersions at a fixed horizon reclaims exactly
    // {0, 1} — the current version is never touched — and the expired
    // versions stay loudly unreadable while their commit files (and so
    // history) survive. Every instant is a literal, so the whole key
    // is deterministic wall-clock-free.
    "table_retention_expire" -> ((s, d) => {
      val dir = freshDir(s, d, "retain")
      val fs = GraftTable.fsOf(s, dir)
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      def commitAt(v: Int, df: DataFrame, ts: Long): Unit = {
        GraftTable.stage(df, dir, v)
        GraftTable.commit(fs, dir, v, s"load v$v", tsMs = Some(ts))
      }
      commitAt(0, n.filter(col("n_nationkey") < 10), 1000000L)
      commitAt(1, n.filter(col("n_nationkey") < 20), 2000000L)
      commitAt(2, n, 3000000000000L)
      val reclaimed = GraftTable.expireVersions(fs, dir,
        retainMs = 1000000L, nowMs = 3000000001000L) // cutoff ≈ ts(v2)
      val nHist = GraftTable.versions(fs, dir).size
      GraftTable.read(s, dir)
        .select(col("n_nationkey"), col("n_name"),
          lit(reclaimed.size.toLong).as("n_reclaimed"),
          lit(nHist).as("n_history"))
        .orderBy("n_nationkey")
    }),

    // DESCRIBE HISTORY + TIMESTAMP AS OF through the manifest
    // CHECKPOINT: twelve commits, a checkpoint consolidated at v9, two
    // commits after it — history resolves from one checkpoint read
    // plus the 2-commit suffix (Round14Spec counts the FS calls; here
    // the oracle pins the RESULT is checkpoint-invariant). asof_v5
    // additionally pins the commit-time clamp: version 5's own instant
    // resolves to exactly version 5 with no sleeps, because clamped
    // ts= headers are strictly increasing at any clock resolution.
    "table_checkpoint_history" -> ((s, d) => {
      graft.Graft.registerFunctions(s)
      val dir = freshDir(s, d, "cphist")
      val fs = GraftTable.fsOf(s, dir)
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      (0 until 10).foreach(i =>
        GraftTable.commitNext(s, dir,
          n.filter(col("n_nationkey") < (i + 1) * 2), s"load $i"))
      GraftTable.checkpoint(fs, dir)
      (10 until 12).foreach(i =>
        GraftTable.commitNext(s, dir,
          n.filter(col("n_nationkey") < (i + 1) * 2), s"load $i"))
      val asof = GraftTable.versionAsOf(fs, dir,
        GraftTable.commitTimeMs(fs, dir, 5)).get
      s.sql("SELECT version, metadata, has_stats, has_dv, n_rows " +
        s"FROM graft_history('$dir')")
        .withColumn("asof_v5", lit(asof))
        .orderBy("version")
    }),

    // IS NULL / IS NOT NULL file skipping from the stats line's null
    // counts: late_price is null exactly for pre-1997 orders, and the
    // layout range-clusters by order date — so early files are
    // ALL-null (skippable for IS NOT NULL: nulls = rows) and late
    // files null-FREE (skippable for IS NULL: nulls = 0). Both band
    // reads resolve their file sets from the manifest alone, re-apply
    // the predicate row-level, and must match the raw recompute —
    // Round14Spec pins that each direction actually pruned files and
    // opened exactly the null-consistent set.
    "scan_stats_skipping_null" -> ((s, d) => {
      val dir = nullClusteredTable(s, d)
      def band(isNull: Boolean, tag: String): DataFrame = {
        val (df, _, _) = GraftTable.readStatsBands(s, dir, 0,
          Seq(GraftTable.NullBand("late_price", isNull)))
        df.filter(if (isNull) col("late_price").isNull
          else col("late_price").isNotNull)
          .agg(count(lit(1)).as("n"), money(sum(dec(col("late_price"))))
            .as("rev"))
          .select(lit(tag).as("band"), col("n"), col("rev"))
      }
      band(isNull = false, "not_null").unionByName(band(isNull = true, "is_null"))
        .orderBy("band")
    }),

    // The skipping index maintained INCREMENTALLY across an append
    // chain: the base commit records stats for its files, the append
    // computes stats over its NEW files only and merges the
    // predecessor's line (re-keyed table-relative) — so the
    // metadata-only COUNT(*) spans the whole chain from one stats line
    // and a date-band read resolves files across BOTH data dirs
    // without listing either. The band sits entirely inside the
    // appended slice, so pruning must also skip every base file
    // (Round14Spec pins the opened set).
    "table_append_stats" -> ((s, d) => {
      val dir = appendStatsTable(s, d)
      val fs = GraftTable.fsOf(s, dir)
      val nMeta = GraftTable.rowCountOf(fs, dir, 1)
        .getOrElse(sys.error(s"no merged stats in $dir v1"))
      val (bandDf, _, _) = GraftTable.readStatsBands(s, dir, 1,
        Seq(GraftTable.RangeBand("o_orderdate",
          graft.T.epochUs("1997-03-01"), graft.T.epochUs("1997-09-01") - 1L)))
      bandDf
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-03-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-09-01")))
        .agg(count(lit(1)).as("n_band"), money(sum(dec(col("price"))))
          .as("rev_band"))
        .select(lit(nMeta).as("n_meta"), col("n_band"), col("rev_band"))
    }),

    // The read half of the lakehouse loop at DATA granularity, restart
    // included: a cdcSubscribe consumer receives each version's
    // appended ROWS (via the CDC fast path — no snapshot diff), is
    // STOPPED after versions 0–1, and a restarted subscription on the
    // same checkpoint picks up exactly the one version committed in
    // between — the file-stream source's processed-files log is what
    // makes redelivery impossible. The union of everything received
    // tiles the table exactly once (version ≡ o_orderkey % 3), and
    // n_after_restart = 1 pins the restart semantics inside the
    // oracle: a replay would re-deliver v0/v1 (duplicating rows), a
    // gap would lose slice 2.
    "table_stream_rows" -> ((s, d) => {
      val dir = freshDir(s, d, "streamrows")
      val cp = freshDir(s, d, "streamrowscp")
      val o = ordersKP(s, d)
      GraftTable.commitNextIsolated(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "base load")
      GraftTable.commitAppend(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 1), "append slice 1")
      val got =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, DataFrame)]()
      def subscribeAll(): Unit = {
        val q = GraftTable.cdcSubscribe(s, dir, cp,
          (v, _, delta) => { got.add((v, delta)); () })
        try q.processAllAvailable() finally q.stop()
      }
      subscribeAll() // delivers v0, v1
      val seenBefore = got.size
      GraftTable.commitAppend(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 2), "append slice 2")
      subscribeAll() // restart on the same checkpoint: delivers ONLY v2
      val afterRestart = got.size - seenBefore
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.map { case (v, delta) =>
        delta.select(lit(v).as("version"), col("o_orderkey"), col("price"))
      }.reduce(_ unionByName _)
        .withColumn("n_after_restart", lit(afterRestart.toLong))
        .orderBy("version", "o_orderkey")
    }),

    // OPTIMIZE: base + append leave a 2-dir chain; compactChain folds
    // it back to ONE dir (a coalesce rewrite — narrow, no shuffle) as
    // v2, and the chain keeps growing on top (v3 appends the last
    // slice). The final snapshot tiles orders exactly; the dir counts
    // and the v1≡v2 row/revenue identity (compaction rewrites bytes,
    // never rows) sit inside the oracle hash. This is the other half of
    // the append trade: appends keep writes O(new data), compaction
    // keeps reads O(bounded dirs) — a 10⁵-append chain without it pays
    // per-dir listing forever.
    "table_compact_chain" -> ((s, d) => {
      val dir = freshDir(s, d, "compact")
      val o = ordersKP(s, d)
      GraftTable.commitNextIsolated(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "base load")
      GraftTable.commitAppend(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 1), "append slice 1")
      val fs = GraftTable.fsOf(s, dir)
      val dirsBefore = GraftTable.dataDirsOf(fs, dir, 1).size
      def snapAgg(v: Int): (Long, java.math.BigDecimal) = {
        // exact DECIMAL sum — associative, so the identity check cannot
        // flake on the compaction's different partitioning
        val r = GraftTable.readVersion(s, dir, v)
          .agg(count(lit(1)),
            sum(col("price").cast(DecimalType(18, 4)))).collect()(0) // 1 row
        (r.getLong(0), r.getDecimal(1))
      }
      val before = snapAgg(1)
      val cv = GraftTable.compactChain(s, dir, targetFiles = 2, "optimize")
      val after = snapAgg(cv)
      val dirsCompacted = GraftTable.dataDirsOf(fs, dir, cv).size
      GraftTable.commitAppend(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 2), "append slice 2")
      val dirsFinal = GraftTable.dataDirsOf(fs, dir, cv + 1).size
      GraftTable.read(s, dir)
        .withColumn("n_dirs_before", lit(dirsBefore.toLong))
        .withColumn("n_dirs_compacted", lit(dirsCompacted.toLong))
        .withColumn("n_dirs_final", lit(dirsFinal.toLong))
        .withColumn("compact_preserves",
          lit(before._1 == after._1 && before._2.compareTo(after._2) == 0))
        .orderBy("o_orderkey")
    }),

    // Point-lookup file skipping through the per-file Bloom sidecar:
    // orders clustered by ORDERKEY, so every file's [min,max] custkey
    // range spans the whole domain and the stats line could prune
    // NOTHING for `o_custkey = ?` — the Bloom index is what turns the
    // equality probe into a bounded file set (and the absent-key probe
    // into ~zero opens; Round14bSpec counts both read sets against
    // per-file ground truth). Results never depend on the index: the
    // row-level equality re-applies after the file-level skip, which is
    // exactly what the oracle recomputes from the raw table.
    "scan_bloom_skipping" -> ((s, d) => {
      val dir = freshDir(s, d, "bloomskip")
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          money(dec(col("o_totalprice"))).as("price"))
        .repartitionByRange(8, col("o_orderkey"))
      GraftTable.commitNextIsolated(s, dir, o, "bloom on o_custkey",
        bloomCol = Some("o_custkey"))
      // deterministic probes at every SF: the smallest customer in
      // orders (present), and one far past the domain (absent)
      val probe = t(s, d, "orders")
        .agg(min(col("o_custkey"))).collect()(0).getLong(0) // 1 row
      val (hitDf, _, _) = GraftTable.readBloomEq(s, dir, 0, "o_custkey", probe)
      val (absDf, _, _) =
        GraftTable.readBloomEq(s, dir, 0, "o_custkey", probe + 100000000L)
      val hits = hitDf.filter(col("o_custkey") === probe)
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("price"))).as("rev")) // exact decimal re-sum
      val absent = absDf.filter(col("o_custkey") === probe + 100000000L)
        .agg(count(lit(1)).as("n_absent"))
      hits.crossJoin(absent) // two 1-row aggregates
        .select(lit(probe).as("probe_custkey"), col("n_orders"),
          money(col("rev")).as("rev"), col("n_absent"))
    }),

    // Typed CHANGE DATA FEED over the three-arm merge: v0 = customer
    // balances, v1 = the U/I/D merge; changeFeed derives insert /
    // delete / update_preimage / update_postimage rows from ONE
    // full-outer key join of the two snapshots — and the untouched arm
    // (customers with no orders) emits NOTHING, which the oracle's
    // recompute pins (an extra feed row for an unchanged key
    // hash-mismatches). The append tier of the same API serves inserts
    // with no join at all (Round14bSpec pins that plan).
    "table_cdc_typed" -> ((s, d) => {
      val dir = mergeFixture(s, d, "cdctyped")
      GraftTable.changeFeed(s, dir, 1, Seq("key"))
        .select(col("key"), money(col("bal")).as("bal"), col("change_type"))
        .orderBy("key", "change_type")
    }),

    // The Bloom index survives the chain: the base commit AND the
    // append each carry their own self-described `_bloom` sidecar (the
    // append gate refuses a bloom-less append onto an indexed table),
    // and a point lookup probes dir by dir — the probed customer's
    // orders span both slices, so a chain walk that missed either dir
    // would under-count inside the oracle hash. n_dirs = 2 pins that
    // the probe really served from a two-dir chain.
    "table_append_bloom" -> ((s, d) => {
      val dir = freshDir(s, d, "appendbloom")
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          money(dec(col("o_totalprice"))).as("price"))
      GraftTable.commitNextIsolated(s, dir,
        o.filter(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
          .repartitionByRange(4, col("o_orderkey")),
        "base: pre-1996", bloomCol = Some("o_custkey"))
      GraftTable.commitAppend(s, dir,
        o.filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")))
          .repartitionByRange(4, col("o_orderkey")),
        "append: 1996+", bloomCol = Some("o_custkey"))
      val nDirs =
        GraftTable.dataDirsOf(GraftTable.fsOf(s, dir), dir, 1).size
      val probe = t(s, d, "orders")
        .agg(min(col("o_custkey"))).collect()(0).getLong(0) // 1 row
      val (bdf, _, _) = GraftTable.readBloomEq(s, dir, 1, "o_custkey", probe)
      bdf.filter(col("o_custkey") === probe)
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("price"))).as("rev0")) // exact decimal re-sum
        .select(lit(probe).as("probe_custkey"), col("n_orders"),
          money(col("rev0")).as("rev"), lit(nDirs.toLong).as("n_dirs"))
    }),

    // Incremental materialized-view maintenance from the TYPED feed —
    // the classic CDF consumer: a per-bucket (count, sum) aggregate is
    // folded forward with feed deltas only (insert adds, delete
    // subtracts, update applies post − pre), never re-reading the new
    // snapshot's aggregate. The oracle recomputes the merged snapshot's
    // aggregate directly, so any classification error, missed arm, or
    // double-applied image breaks the hash. At 100 TB this is the
    // difference between O(changes) and O(table) per refresh; in
    // production the feed rows arrive from cdcSubscribeTyped (append
    // versions join-free) instead of being derived locally.
    "table_mv_typed_maintain" -> ((s, d) => {
      val dir = mergeFixture(s, d, "mvtyped")
      val mv0 = GraftTable.readVersion(s, dir, 0)
        .groupBy(pmod(col("key"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n0"), sum(col("bal")).as("t0"))
      val ct = col("change_type")
      val adj = GraftTable.changeFeed(s, dir, 1, Seq("key"))
        .groupBy(pmod(col("key"), lit(10)).as("bucket"))
        .agg(
          sum(when(ct.isin("insert", "update_postimage"), col("bal"))
            .when(ct.isin("delete", "update_preimage"), -col("bal")))
            .as("dt"),
          sum(when(ct === "insert", 1L)
            .when(ct === "delete", -1L).otherwise(0L)).as("dn"))
      mv0.join(adj, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n"),
          money(coalesce(col("t0"), lit(0).cast(DecimalType(12, 2))) +
            coalesce(col("dt"), lit(0).cast(DecimalType(12, 2))))
            .as("total"))
        // a group whose members were ALL deleted folds to n = 0; a
        // direct recompute serves no row for it — drop empty groups,
        // the MV convention that keeps fold ≡ recompute
        .filter(col("n") > 0)
        .orderBy("bucket")
    }),

    // DECLARED table constraints (Delta's CHECK/NOT NULL model plus an
    // opt-in UNIQUE): declared once at v0, enforced on EVERY subsequent
    // write BEFORE staging and carried through appends and deletes.
    // Three violation flavors each refuse without minting a version —
    // a negative-price rewrite (check), an append re-using live keys
    // (unique, validated against the current snapshot), a null-custkey
    // rewrite (notnull, enforced through the header a DV commit carried
    // forward) — while the conforming fresh-key append and the MoR
    // delete land. n_refused=3 / n_versions=3 sit inside the oracle:
    // a gate that let any violation through (or that blocked a valid
    // write, or that dropped the header at the dv hop) flips them.
    "table_constraints_enforce" -> ((s, d) => {
      val dir = freshDir(s, d, "constraints")
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        money(dec(col("o_totalprice"))).as("price"))
      GraftTable.commitNextIsolated(s, dir, o, "base + constraints",
        constraints = Seq("notnull:o_custkey", "check:price >= 0",
          "unique:o_orderkey"))
      def refused(body: => Unit): Long =
        try { body; 0L } catch { case _: IllegalStateException => 1L }
      val rCheck = refused {
        GraftTable.commitNextIsolated(s, dir,
          o.withColumn("price", -col("price")), "negative prices")
      }
      val rUnique = refused {
        GraftTable.commitAppend(s, dir, o, "duplicate keys")
      }
      GraftTable.commitAppend(s, dir,
        o.withColumn("o_orderkey", col("o_orderkey") + 100000000L),
        "fresh keys") // conforming: unique checked vs the snapshot
      GraftTable.commitDeleteVector(s, dir,
        GraftTable.read(s, dir)
          .filter(col("o_custkey") % 10 === 7).select("o_custkey").distinct(),
        Seq("o_custkey"), "delete bucket 7")
      val rNull = refused {
        GraftTable.commitNextIsolated(s, dir,
          o.withColumn("o_custkey", lit(null).cast("bigint")),
          "null custkeys") // notnull header survived the dv hop
      }
      val nv = GraftTable.versions(GraftTable.fsOf(s, dir), dir).size
      GraftTable.read(s, dir)
        .groupBy((col("o_custkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(dec(col("price"))).as("rev0"))
        .select(col("bucket"), col("n"), money(col("rev0")).as("rev"),
          lit(rCheck + rUnique + rNull).as("n_refused"),
          lit(nv.toLong).as("n_versions"))
        .orderBy("bucket")
    }),

    // OPTIMIZE ZORDER BY: v0 commits lineitem in ARRIVAL order
    // (hash-scattered on orderkey) with 2-D stats — every file's
    // (shipdate, quantity) rectangle is full-width, so the manifest
    // band read opens ALL files (full_scan_before pins it). One
    // clustered compaction later — range-normalized Morton interleave
    // of the same two ordinals, ONE deliberate shuffle — the identical
    // band read opens a strict subset (pruned_after), and the band
    // aggregate still matches the raw recompute inside the oracle
    // hash. This is the OPTIMIZE-ZORDER maintenance loop a real table
    // runs: append in arrival order all day, re-cluster once, and the
    // skipping index becomes tight again without touching readers.
    "table_optimize_zorder" -> ((s, d) => {
      val dir = freshDir(s, d, "optzorder")
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          money(dec(col("l_extendedprice"))).as("price"))
      val dims: GraftTable.ClusterCols = Seq(
        "l_shipdate" -> ((c: Column) => unix_micros(c.cast(TimestampType))),
        "l_quantity" -> ((c: Column) => c))
      val enc = Seq("l_shipdate" -> "us", "l_quantity" -> "id")
      GraftTable.commitNextIsolated(s, dir,
        li.repartition(8, col("l_orderkey")), "arrival order",
        statsEnc = enc)
      val bands = Seq(
        GraftTable.RangeBand("l_shipdate",
          graft.T.epochUs("1995-06-01"), graft.T.epochUs("1995-09-01") - 1L),
        GraftTable.RangeBand("l_quantity", 10L, 25L))
      val (_, hit0, total0) = GraftTable.readStatsBands(s, dir, 0, bands)
      val cv = GraftTable.compactChain(s, dir, targetFiles = 16,
        "optimize zorder (l_shipdate, l_quantity)",
        statsEnc = enc, clusterBy = dims)
      val (bandDf, hit1, total1) = GraftTable.readStatsBands(s, dir, cv, bands)
      bandDf
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-06-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-09-01")) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 25)
        .agg(count(lit(1)).as("n"), money(sum(dec(col("price"))))
          .as("revenue"))
        .select(col("n"), col("revenue"),
          lit(hit0.size.toLong == total0.toLong).as("full_scan_before"),
          lit(hit1.size.toLong < total1.toLong).as("pruned_after"))
    }),

    // The one-call maintenance pass (the nightly job): a 3-dir append
    // chain folds to ONE dir (maxChainDirs=2 tripped), the manifest
    // checkpoints through the compacted version, zero-horizon retention
    // reclaims all three now-unreferenced chain dirs (n_expired=3 — the
    // compact-THEN-expire ordering is what frees them), and the served
    // snapshot still tiles orders exactly. History survives: 4 versions
    // in the manifest, checkpoint covering the newest.
    "table_maintenance_pass" -> ((s, d) => {
      val dir = appendChain(s, d, "maint")
      val rep = GraftTable.maintain(s, dir, maxChainDirs = 2,
        targetFiles = 2, retainMs = 0L, vacuumGraceMs = 0L)
      val fs = GraftTable.fsOf(s, dir)
      val nv = GraftTable.versions(fs, dir).size
      val nDirs = GraftTable.dataDirsOf(fs, dir,
        rep.compacted.getOrElse(sys.error("chain must have compacted"))).size
      GraftTable.read(s, dir)
        .withColumn("n_versions", lit(nv.toLong))
        .withColumn("n_dirs", lit(nDirs.toLong))
        .withColumn("n_expired", lit(rep.expired.size.toLong))
        .withColumn("checkpointed_to", lit(rep.checkpointedTo.toLong))
        .orderBy("o_orderkey")
    })
  )

  private val oSliceTile =
    s"SELECT CAST(o_orderkey % 3 AS INT) AS version, o_orderkey, " +
      s"${oMoney(oDec("o_totalprice"))} AS price FROM orders"

  /** Oracle twin of `mergeFixture`: the base / chg / m CTE chain the
    * three merge-derived oracles share (base = v0, m = v1). */
  private[ops] val oMergeCtes =
    s"base AS (SELECT c_custkey AS key, ${oDec("c_acctbal")} AS bal " +
      "FROM customer), " +
      s"chg AS (SELECT CASE WHEN o_custkey % 10 = 0 " +
      "THEN o_custkey + 10000000 ELSE o_custkey END AS ckey, " +
      "CASE WHEN o_custkey % 10 = 3 THEN 'D' " +
      "WHEN o_custkey % 10 = 0 THEN 'I' ELSE 'U' END AS op, " +
      s"SUM(${oDec("o_totalprice")}) AS delta FROM orders GROUP BY 1, 2), " +
      "m AS (SELECT COALESCE(key, ckey) AS key, " +
      "COALESCE(bal, 0) + COALESCE(delta, 0) AS bal " +
      "FROM base FULL JOIN chg ON key = ckey " +
      "WHERE op IS NULL OR op <> 'D')"

  val oracleSql: Map[String, String] = Map(
    // The three version deltas tile orders exactly: delta(v) ≡ the
    // slice o_orderkey % 3 = v.
    "table_cdc_incremental" ->
      s"$oSliceTile ORDER BY version, o_orderkey",

    // Replay of the three merge arms; v0 must still serve every key.
    "table_merge_full" ->
      (s"WITH $oMergeCtes " +
        s"SELECT 0 AS version, key, ${oMoney("bal")} AS bal FROM base " +
        s"UNION ALL SELECT 1 AS version, key, ${oMoney("bal")} AS bal FROM m " +
        "ORDER BY version, key"),

    // The typo was refused (n_refused=1, n_versions=2 — it created
    // nothing); the declared evolution serves the full 3-column table.
    "table_schema_enforce" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(o_orderpriority) AS BIGINT) AS n_priority, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS sum_price, " +
        "CAST(1 AS BIGINT) AS n_refused, 2 AS n_versions FROM orders"),

    // Sequential recompute of the commuting appends; 3 versions pins
    // that the race loser landed (2 = lost append, 4 = double-apply).
    "table_append_occ" ->
      ("SELECT CAST(o_orderkey % 3 AS INT) AS slice, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS rev, " +
        "3 AS n_versions FROM orders GROUP BY 1 ORDER BY slice"),

    // v2 (full nation) serves; exactly versions {0,1} were reclaimed;
    // all 3 commit files survive as history.
    "table_retention_expire" ->
      ("SELECT n_nationkey, n_name, CAST(2 AS BIGINT) AS n_reclaimed, " +
        "3 AS n_history FROM nation ORDER BY n_nationkey"),

    // The checkpointed history is a pure literal (n_rows NULL — no
    // stats recorded); the clamp resolves v5's instant to v5.
    "table_checkpoint_history" ->
      ("SELECT * FROM (SELECT CAST(i AS INT) AS version, " +
        "'load ' || CAST(i AS VARCHAR) AS metadata, FALSE AS has_stats, " +
        "FALSE AS has_dv, CAST(NULL AS BIGINT) AS n_rows, 5 AS asof_v5 " +
        "FROM generate_series(0, 11) t(i)) ORDER BY version"),

    // Skipping must not change results: both nullability bands
    // recomputed off the raw table (the empty-sum rev of the IS NULL
    // band is NULL in both engines).
    "scan_stats_skipping_null" ->
      (s"WITH src AS (SELECT CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' " +
        s"THEN ${oMoney(oDec("o_totalprice"))} END AS late_price FROM orders) " +
        "SELECT 'is_null' AS band, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("late_price")})")} AS rev FROM src " +
        "WHERE late_price IS NULL " +
        "UNION ALL " +
        "SELECT 'not_null' AS band, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("late_price")})")} AS rev FROM src " +
        "WHERE late_price IS NOT NULL " +
        "ORDER BY band"),

    // The merged stats line must count the WHOLE chain; the band
    // aggregate matches the raw recompute.
    "table_append_stats" ->
      ("SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_meta, " +
        "CAST(COUNT(*) AS BIGINT) AS n_band, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS rev_band " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-03-01' " +
        "AND o_orderdate < TIMESTAMP '1997-09-01'"),

    // Everything received tiles orders exactly once; exactly one
    // version arrived after the restart.
    "table_stream_rows" ->
      (s"SELECT version, o_orderkey, price, CAST(1 AS BIGINT) " +
        s"AS n_after_restart FROM ($oSliceTile) " +
        "ORDER BY version, o_orderkey"),

    // The compacted chain still tiles orders exactly; 2 dirs fold to 1
    // and grow back to 2 on the next append; compaction preserved the
    // v1 snapshot bit-for-bit (count + exact decimal revenue).
    "table_compact_chain" ->
      (s"SELECT o_orderkey, ${oMoney(oDec("o_totalprice"))} AS price, " +
        "CAST(2 AS BIGINT) AS n_dirs_before, " +
        "CAST(1 AS BIGINT) AS n_dirs_compacted, " +
        "CAST(2 AS BIGINT) AS n_dirs_final, " +
        "TRUE AS compact_preserves " +
        "FROM orders ORDER BY o_orderkey"),

    // The Bloom-served probe must agree with the raw recompute (file
    // skipping admits false positives, never false negatives — the
    // row-level filter decides), and the absent key serves zero rows.
    "scan_bloom_skipping" ->
      ("WITH p AS (SELECT MIN(o_custkey) AS ck FROM orders) " +
        "SELECT p.ck AS probe_custkey, " +
        "CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS rev, " +
        "CAST(0 AS BIGINT) AS n_absent " +
        "FROM p LEFT JOIN orders o ON o.o_custkey = p.ck GROUP BY p.ck"),

    // Replay of the typed diff: full-outer key join of the two
    // snapshots, one row per insert/delete, two per update, NONE for
    // the untouched arm.
    "table_cdc_typed" ->
      (s"WITH $oMergeCtes, " +
        "f AS (SELECT b.key AS bk, b.bal AS bbal, m.key AS mk, m.bal AS mbal " +
        "FROM base b FULL JOIN m ON b.key = m.key) " +
        s"SELECT mk AS key, ${oMoney("mbal")} AS bal, " +
        "'insert' AS change_type FROM f WHERE bk IS NULL " +
        s"UNION ALL SELECT bk, ${oMoney("bbal")}, 'delete' " +
        "FROM f WHERE mk IS NULL " +
        s"UNION ALL SELECT bk, ${oMoney("bbal")}, 'update_preimage' " +
        "FROM f WHERE bk IS NOT NULL AND mk IS NOT NULL AND bbal <> mbal " +
        s"UNION ALL SELECT mk, ${oMoney("mbal")}, 'update_postimage' " +
        "FROM f WHERE bk IS NOT NULL AND mk IS NOT NULL AND bbal <> mbal " +
        "ORDER BY key, change_type"),

    // The chain-probed point lookup must agree with the raw recompute
    // (both dirs served); the chain is exactly two dirs.
    "table_append_bloom" ->
      ("WITH p AS (SELECT MIN(o_custkey) AS ck FROM orders) " +
        "SELECT p.ck AS probe_custkey, " +
        "CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS rev, " +
        "CAST(2 AS BIGINT) AS n_dirs " +
        "FROM p LEFT JOIN orders o ON o.o_custkey = p.ck GROUP BY p.ck"),

    // The incrementally folded MV must equal the merged snapshot's
    // direct aggregate, bucket by bucket.
    "table_mv_typed_maintain" ->
      (s"WITH $oMergeCtes " +
        "SELECT key % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney("SUM(bal)")} AS total FROM m GROUP BY 1 ORDER BY bucket"),

    // Two tilings of orders (base + fresh-key append) minus the deleted
    // custkey bucket; exactly three writes were refused and three
    // versions exist (base, append, delete — no refusal minted one).
    "table_constraints_enforce" ->
      (s"WITH t AS (SELECT o_custkey, ${oDec("o_totalprice")} AS p " +
        "FROM orders UNION ALL " +
        s"SELECT o_custkey, ${oDec("o_totalprice")} AS p FROM orders) " +
        "SELECT o_custkey % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney("SUM(p)")} AS rev, " +
        "CAST(3 AS BIGINT) AS n_refused, CAST(3 AS BIGINT) AS n_versions " +
        "FROM t WHERE o_custkey % 10 <> 7 GROUP BY 1 ORDER BY bucket"),

    // The re-clustered band aggregate matches the raw recompute; the
    // arrival-order layout opened every file, the z-ordered one pruned.
    "table_optimize_zorder" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")})")} AS revenue, " +
        "TRUE AS full_scan_before, TRUE AS pruned_after " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-06-01' " +
        "AND l_shipdate < TIMESTAMP '1995-09-01' " +
        "AND CAST(l_quantity AS BIGINT) >= 10 " +
        "AND CAST(l_quantity AS BIGINT) <= 25"),

    // Maintenance preserved every row; the chain folded to one dir, all
    // three old dirs expired, history and checkpoint reach version 3.
    "table_maintenance_pass" ->
      (s"SELECT o_orderkey, ${oMoney(oDec("o_totalprice"))} AS price, " +
        "CAST(4 AS BIGINT) AS n_versions, CAST(1 AS BIGINT) AS n_dirs, " +
        "CAST(3 AS BIGINT) AS n_expired, " +
        "CAST(3 AS BIGINT) AS checkpointed_to " +
        "FROM orders ORDER BY o_orderkey")
  )
}
