package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.T.{t, dec, money, oDec, oMoney}
import graft.sources.GraftTable

/** Round-13 additions — the manifest becomes a data-skipping INDEX and
  * the streaming/concurrent write paths land (ranked 1–3 in the
  * round-12 review), plus the 2-D layout proof and partition evolution:
  *
  *  - `scan_stats_skipping` — log-based data skipping: the commit
  *    records per-file (rows, min/max) statistics and a date-band read
  *    selects its files FROM THE MANIFEST — skipped files are never
  *    listed, never opened, their footers never fetched. The 10⁵-file
  *    lever: footer-based skipping (sink_range_clustered) still pays a
  *    full listing + one open per file; this pays O(stats line).
  *
  *  - `stream_table_sink` — exactly-once streaming ingest INTO the
  *    versioned store: each micro-batch commits as an atomic version
  *    with its epoch id in the commit metadata, and a REPLAYED batch
  *    (restart re-delivery) detects its epoch and becomes a no-op. The
  *    key replays one chunk deliberately and exposes the version count,
  *    so idempotence is oracle-checked, not just spec-asserted.
  *
  *  - `table_concurrent_merge` — the OCC commit loop under real
  *    contention: two writers merge DISJOINT changelogs concurrently
  *    through `GraftTable.commitWithRetry`; the race loser re-reads the
  *    winner's snapshot, re-applies its merge, and BOTH land. Final
  *    state ≡ sequential application (the merges commute), which is
  *    what the oracle recomputes.
  *
  *  - `sink_zorder_clustered` — 2-D file skipping: lineitem written
  *    z-ordered (Morton-interleaved ship-day × quantity), so a 2-D band
  *    read prunes on per-file min/max RECTANGLES — the multi-dimensional
  *    companion of sink_range_clustered's 1-D disjointness proof.
  *
  *  - `table_partition_evolution` — a LAYOUT change committed as a
  *    version: v0 unpartitioned, v1 the same rows month-partitioned;
  *    cross-version reads span both layouts transparently because each
  *    version's data location (and hence directory shape) resolves
  *    through its own commit record.
  *
  *  - `agg_sliding_distinct_hll` — the documented 100 TB swap for
  *    agg_sliding_distinct_users: HLL sketches instead of exact
  *    distincts for the rolling-uniques report (rows-only; Round13Spec
  *    bounds the error against the exact tier).
  */
object Round13Ops {

  private def epochUs(date: String): Long = graft.T.epochUs(date)

  /** L2² between a scaled-BIGINT vector column and a DOUBLE centroid
    * column, as an UNROLLED 64-term sum. Left-associated `+` adds the
    * terms in exactly the order the sequence-fold canon
    * (Round9Ops.fullL2) and DuckDB's list_sum-over-generate_series
    * mirror do, so the doubles are bit-identical — but unlike a
    * higher-order `aggregate` lambda (interpreted per element, outside
    * whole-stage codegen), the unrolled expression codegens: the Lloyd
    * loop runs this over n×k pairs per assignment, and the swap cut
    * vec_semantic_dedup ~3× (5.1 s → ~1.8 s warm at sf0.1, now inside
    * the iterative-trainer family norm alongside vec_kmeans_train and
    * graph_pagerank). */
  private def scaledL2(xs: String, cs: String): String =
    (1 to 64).map { i =>
      val d = s"(CAST(element_at($xs, $i) AS DOUBLE) - element_at($cs, $i))"
      s"$d * $d"
    }.mkString(" + ")

  /** Trained-codebook cluster assignment for `vec_semantic_dedup` —
    * kmeansTrain's Lloyd loop re-expressed in an ORACLE-MIRRORABLE
    * arithmetic: embeddings are quantized to scaled integers
    * (floor(x·2²⁰) — float32→double is exact, ×2²⁰ is exact, floor is
    * deterministic), so every per-cluster per-dimension SUM is exact
    * integer arithmetic (order-independent ⇒ partition-invariant, the
    * same property kmeansTrain buys with BigDecimal accumulators — but
    * unlike BigDecimal-of-double, mirrorable in DuckDB, whose DECIMAL
    * tops out at 38 digits). Centroid components are then
    * CAST(sum AS DOUBLE)/CAST(count AS DOUBLE): both operands exact
    * (< 2⁵³), so IEEE division yields bit-identical doubles in any
    * engine, and the assignment argmin — a fixed-order 64-term double
    * fold with (dist, cid) tie-break — is bit-identical too. k scales
    * with the corpus as ceil(√n) (the SemDeDup posture: within-cluster
    * pair cost is Σ(n/k)² ≈ n^1.5/k at balanced clusters, so k must
    * grow with n; the driver-side artifact is only the k×64 codebook,
    * exactly kmeansTrain's posture). `iters` fixed Lloyd rounds (assign
    * → exact-mean update, empty clusters keep their centroid) make the
    * training replayable as chained CTEs on the oracle side; the
    * convergence-tolerance variant stays kmeansTrain's domain
    * (vec_kmeans_train). Returns (vec_id, cid, embedding). */
  private[graft] def semanticAssignTrained(s: SparkSession, d: String,
      iters: Int = 2): DataFrame = {
    val e = t(s, d, "embeddings")
    val v = e.select(col("vec_id"),
      expr("transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0))")
        .as("xs"))
    // k = ceil(sqrt(n)): ONE driver-side count (the codebook-size
    // parameter, same boundedness class as kmeansTrain's seed collect)
    val k = math.ceil(math.sqrt(e.count().toDouble)).toLong
    def assign(cents: DataFrame): DataFrame =
      v.crossJoin(broadcast(cents))
        .withColumn("dist", expr(scaledL2("xs", "cs")))
        .groupBy("vec_id")
        .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"),
          first(col("xs")).as("xs"))
    def update(assigned: DataFrame, cents: DataFrame): DataFrame = {
      val means = assigned
        .select(col("cid"), posexplode(col("xs")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("cs2"))
      // empty cluster keeps its previous centroid (Lloyd degeneracy
      // handling, same as kmeansTrain)
      cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cs2"), col("cs")).as("cs"))
    }
    val c0 = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"),
        expr("transform(xs, x -> CAST(x AS DOUBLE))").as("cs"))
    // The rounds chain as ONE DataFrame lineage: round i's subtree is
    // embedded 2^(iters-i) times in the final plan (each round
    // references its predecessor twice), which is fine BECAUSE iters is
    // pinned small — at iters=2 that is 4 evaluations of a bounded
    // n×k crossJoin inside one job. The alternative (collect the k×64
    // codebook per round, kmeansTrain's posture) measured SLOWER here
    // (5.3 s vs 5.1 s at sf0.1 pre-unroll): each extra job pays
    // planning + codegen that dwarfs the 90k-row compute. The real
    // lever was the codegen'd scaledL2 above (~3×). Growing iters is
    // what flips the lineage trade — the iterative tier is
    // kmeansTrain, not this function.
    var cents = c0
    for (_ <- 1 to iters) cents = update(assign(cents), cents)
    assign(cents).select(col("vec_id"), col("cid"))
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
  }

  /** The DuckDB mirror of `semanticAssignTrained`: the identical
    * quantize → (assign, exact-mean update)×iters → final-assign chain
    * as CTEs. Exposed so Round12Ops' vec_semantic_dedup oracle and any
    * future codebook consumer replay the same training. */
  private[graft] def semanticAssignOracleCtes: String = {
    def a(v: String, c: String, out: String, keepXs: Boolean): String = {
      val cols = if (keepXs) "vec_id, xs, cid" else "vec_id, cid"
      s"d_$out AS (SELECT $v.vec_id, $v.xs, c.cid, " +
        "list_sum(list_transform(generate_series(1, 64), " +
        s"i -> (CAST($v.xs[i] AS DOUBLE) - c.cs[i]) * " +
        s"(CAST($v.xs[i] AS DOUBLE) - c.cs[i]))) AS dist FROM $v, $c c), " +
        s"$out AS (SELECT $cols FROM (SELECT *, ROW_NUMBER() OVER " +
        s"(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d_$out) WHERE rn = 1)"
    }
    def u(aT: String, cPrev: String, out: String): String =
      s"u_$out AS (SELECT cid, i, CAST(SUM(xs[i]) AS DOUBLE) / " +
        s"CAST(COUNT(*) AS DOUBLE) AS m FROM $aT, generate_series(1, 64) t(i) " +
        "GROUP BY cid, i), " +
        s"$out AS (SELECT $cPrev.cid, COALESCE(uu.cs, $cPrev.cs) AS cs " +
        s"FROM $cPrev LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cs " +
        s"FROM u_$out GROUP BY cid) uu USING (cid))"
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
      "v AS (SELECT vec_id, list_transform(emb, " +
      "x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS xs FROM e), " +
      "kk AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k FROM e), " +
      "c0 AS (SELECT vec_id AS cid, list_transform(xs, x -> CAST(x AS DOUBLE)) AS cs " +
      "FROM v WHERE vec_id < (SELECT k FROM kk)), " +
      a("v", "c0", "a0", keepXs = true) + ", " +
      u("a0", "c0", "c1") + ", " +
      a("v", "c1", "a1", keepXs = true) + ", " +
      u("a1", "c1", "c2") + ", " +
      a("v", "c2", "a2", keepXs = false) + ", " +
      "af AS (SELECT a2.vec_id, a2.cid, e.emb FROM a2 JOIN e USING (vec_id))"
  }

  /** Commit the range-clustered lineitem layout as GraftTable version 0
    * WITH per-file l_shipdate statistics in the commit record; returns
    * the table dir. Factored out so Round13Spec can audit the stats and
    * the opened-file count on the same commit the key serves. */
  private[graft] def statsClusteredTable(s: SparkSession, d: String): String = {
    val dir = s"target/tmp/gstats_${new java.io.File(d).getName}"
    GraftTable.fsOf(s, dir)
      .delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"),
        dec(col("l_extendedprice")).as("price"))
      // ORDER BY clustering (sink_range_clustered's layout) is what makes
      // per-file ranges disjoint and stats-skipping effective; stats are
      // recorded as ordinal longs (epoch-µs for the timestamp column)
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
    GraftTable.commitNextIsolated(s, dir, li, "clustered on l_shipdate",
      // parquet serves the column as TIMESTAMP_NTZ; session TZ is UTC so
      // the `us` encoding's TimestampType cast is value-identical, and
      // epoch micros is the ordinal-long encoding the stats contract wants
      statsEnc = Seq("l_shipdate" -> "us"))
    dir
  }

  /** The z-ordered lineitem frame shared by the plain-parquet layout
    * (sink_zorder_clustered) and the stats-committed table
    * (scan_stats_skipping_2d). */
  private def zorderFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"),
        col("l_quantity").cast(LongType).as("l_quantity"),
        dec(col("l_extendedprice")).as("price"))
      .withColumn("zx",
        datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
          .cast(LongType).bitwiseAND(lit(65535L)))
      // dimension NORMALIZATION: ship-day spans ~2500 ordinals (12
      // bits) but quantity only 50 (6 bits) — raw interleaving would
      // leave all of z's high bits to the date and the curve degrades
      // to a 1-D date sort (quantity rectangles full-width in every
      // file). Scaling quantity ×64 puts both dimensions on ~12 bits,
      // so the interleaved high bits alternate between them — the
      // range-normalization every production z-order performs before
      // interleaving.
      .withColumn("zy", (col("l_quantity") * 64L).bitwiseAND(lit(65535L)))
      .withColumn("z", Round5Ops.morton16(col("zx"), col("zy")))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("zx", "zy", "z")

  /** Commit the z-ordered lineitem layout as GraftTable version 0 with
    * per-file statistics on BOTH clustered dimensions — the 2-D stats
    * index scan_stats_skipping_2d serves from. Factored out for
    * Round13Spec's rectangle-set audit. */
  private[graft] def zorderStatsTable(s: SparkSession, d: String): String = {
    val dir = s"target/tmp/gzstats_${new java.io.File(d).getName}"
    GraftTable.fsOf(s, dir)
      .delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
    GraftTable.commitNextIsolated(s, dir, zorderFrame(s, d),
      "z-ordered on (l_shipdate, l_quantity)",
      statsEnc = Seq("l_shipdate" -> "us", "l_quantity" -> "id"))
    dir
  }

  /** Write the z-ordered lineitem layout; returns its path. The Morton
    * key interleaves ship-day (days since 1992-01-01) with quantity, so
    * range-partitioning + sorting on it co-locates rows close in BOTH
    * dimensions — per-file min/max rectangles on (l_shipdate,
    * l_quantity) become tight, and a 2-D band read skips most files on
    * footer stats alone. The key column itself is dropped before the
    * write: z-order is a LAYOUT property, not data. Factored out so
    * Round13Spec can audit the per-file rectangles. */
  private[graft] def zorderLayout(s: SparkSession, d: String): String = {
    val dir = s"target/tmp/zorderclust_${new java.io.File(d).getName}"
    zorderFrame(s, d).write.mode("overwrite").parquet(dir)
    dir
  }

  /** The 2-D band report every file of the z-ordered layout is judged
    * against: a 3-month ship-date band × a 16-wide quantity band. */
  private[graft] def zorderBandScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-06-01")) &&
        col("l_shipdate") < to_timestamp(lit("1995-09-01")) &&
        col("l_quantity") >= 10 && col("l_quantity") <= 25)
      .agg(count(lit(1)).as("n"), money(sum(col("price"))).as("revenue"))

  /** One exactly-once micro-batch step for the stream-table sink: fold
    * the batch into the current latest-per-user snapshot and commit the
    * new state as the next version, keyed by `epoch` — a replayed epoch
    * evaluates and writes NOTHING (commitEpoch's by-name contract).
    * This is the transform `GraftTable.streamingSink` runs per batch;
    * the batch twin below and Round13Spec's MemoryStream golden test
    * drive the same function. */
  private[graft] def upsertEpoch(s: SparkSession, dir: String,
      batch: DataFrame, epoch: Long): Option[Int] =
    GraftTable.commitEpoch(s, dir, epoch) {
      val fs = GraftTable.fsOf(s, dir)
      // currentVersion, not readManifest: existence is all this needs,
      // and readManifest would read (and discard) the newest commit's
      // whole content every micro-batch
      val merged = GraftTable.currentVersion(fs, dir) match {
        case Some(_) =>
          StreamingOps.latestPerUser(GraftTable.read(s, dir).unionByName(batch))
        case None => StreamingOps.latestPerUser(batch)
      }
      merged
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Log-based data skipping: the band's files are resolved from the
    // manifest's per-file statistics — readStatsBand hands back ONLY the
    // overlapping files' paths, so the scan below never lists the data
    // dir and never opens a skipped footer. The band predicate is then
    // re-applied row-level (file granularity ≠ row granularity — the
    // same contract as partition pruning), and the pushed filter still
    // prunes row groups INSIDE the surviving files. Oracled against the
    // raw recompute: skipping must not change results. At 10⁵ files the
    // listing+footer pass this removes IS the scan bottleneck; the
    // manifest line is O(files) tiny integers read once.
    "scan_stats_skipping" -> ((s, d) => {
      val dir = statsClusteredTable(s, d)
      val (band, _, _) = GraftTable.readStatsBand(s, dir, 0, "l_shipdate",
        epochUs("1996-03-01"), epochUs("1996-06-01") - 1L)
      band
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-06-01")))
        .agg(count(lit(1)).as("n"), money(sum(col("price"))).as("revenue"))
    }),

    // Exactly-once streaming ingest into the versioned store, replay
    // included: the events table arrives as three deterministic chunks
    // (event_id mod 3) committed via upsertEpoch, and epoch 1's chunk is
    // DELIVERED TWICE — the restart-replay case — so the idempotence
    // contract sits inside the oracle: were the replay double-applied as
    // a fourth version, n_versions would be 4, and were the fold wrong,
    // the latest-per-user rows would mismatch the one-shot batch
    // recompute (same fixpoint argument as stream_foreachbatch_upsert:
    // the reduction is associative/commutative over a total (ts,
    // event_id) order, so chunking cannot change it). At 100 TB each
    // version commit is O(manifest) and the fold reads |users| serving
    // rows + one micro-batch — never event history.
    "stream_table_sink" -> ((s, d) => {
      val dir = s"target/tmp/gstreamsink_${new java.io.File(d).getName}"
      val fs = GraftTable.fsOf(s, dir)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      val ev = graft.T.events(s, d)
        .select("user_id", "ts", "event_id", "event_type", "value")
      Seq(0L, 1L, 1L, 2L).foreach { e => // epoch 1 replayed deliberately
        upsertEpoch(s, dir, ev.filter(pmod(col("event_id"), lit(3)) === e), e)
      }
      val nv = GraftTable.versions(fs, dir).size
      GraftTable.read(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"),
          lit(nv).as("n_versions"))
        .orderBy("user_id")
    }),

    // The OCC commit loop under REAL contention: two threads merge
    // disjoint changelogs (even / odd customer keys) into the same
    // table concurrently through commitWithRetry. Exactly one wins
    // version 1; the loser's CME sends it back around the loop — it
    // re-reads the winner's snapshot, re-applies ITS merge to that, and
    // commits version 2. Both changelogs land regardless of arrival
    // order because the merges commute (disjoint keys, and the update
    // arm is addition), which is exactly why the final state is
    // deterministic and the oracle can recompute it sequentially. The
    // exposed n_versions pins that the loser retried rather than
    // silently dropping (2 would mean a lost merge, 4 a double-apply).
    // At scale this is Delta's conflict-retry protocol: the price of a
    // lost race is one re-stage of the WRITER's delta, never a reader
    // stall — readers keep snapshot isolation throughout.
    "table_concurrent_merge" -> ((s, d) => {
      val dir = s"target/tmp/gconcmerge_${new java.io.File(d).getName}"
      val fs = GraftTable.fsOf(s, dir)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      GraftTable.commitNextIsolated(s, dir,
        t(s, d, "customer")
          .select(col("c_custkey").as("key"), dec(col("c_acctbal")).as("bal")),
        "base")
      def changelog(parity: Int): DataFrame =
        t(s, d, "orders").filter(col("o_custkey") % 2 === parity)
          .groupBy(col("o_custkey").as("ckey"))
          .agg(sum(dec(col("o_totalprice"))).as("delta"))
      def merge(chg: DataFrame)(cur: Option[DataFrame]): DataFrame =
        cur.getOrElse(sys.error("base version must exist"))
          .join(chg, col("key") === col("ckey"), "full")
          .select(coalesce(col("key"), col("ckey")).as("key"),
            (coalesce(col("bal"), lit(0).cast(DecimalType(12, 2))) +
              coalesce(col("delta"), lit(0).cast(DecimalType(12, 2)))).as("bal"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val latch = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(0, 1).map { parity =>
        new Thread(() => {
          latch.await()
          try GraftTable.commitWithRetry(s, dir, merge(changelog(parity)),
            s"merge parity $parity")
          catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      val nv = GraftTable.versions(fs, dir).size
      GraftTable.read(s, dir)
        .select(col("key"), money(col("bal")).as("bal"), lit(nv).as("n_versions"))
        .orderBy("key")
    }),

    // 2-D LOG-BASED skipping: the z-ordered table's commit carries
    // per-file stats on BOTH clustered dimensions, and the rectangle
    // read resolves its file set from the manifest with a conjunctive
    // hyper-rectangle test — no listing, no footers (the log-serve
    // companion of sink_zorder_clustered's footer proof, and the 2-D
    // multiplicative-pruning payoff of scan_stats_skipping's 1-D
    // machinery). Band predicates re-applied row-level as always;
    // Round13Spec pins opened == rectangle-overlap set.
    "scan_stats_skipping_2d" -> ((s, d) => {
      val dir = zorderStatsTable(s, d)
      val (rect, _, _) = GraftTable.readStatsRect(s, dir, 0, Seq(
        ("l_shipdate", epochUs("1997-03-01"), epochUs("1997-06-01") - 1L),
        ("l_quantity", 30L, 45L)))
      rect
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-06-01")) &&
          col("l_quantity").between(30, 45))
        .agg(count(lit(1)).as("n"), money(sum(col("price"))).as("revenue"))
    }),

    // TIMESTAMP AS OF time travel: resolve the snapshot a wall-clock
    // instant saw from the ts= commit headers (writer-recorded ms, not
    // FS mtime — the round-12 advisory), then read that version through
    // the manifest. Three versions of a growing nation slice; the probe
    // instant is v1's own commit time, so the read must serve EXACTLY
    // v1's rows — a later version leaking in (or v0 serving) flips the
    // oracle. The 2 ms spacers pin strict ts monotonicity at the
    // header's ms granularity; at scale the resolution scan is
    // O(versions) header reads, never data.
    "table_time_travel_asof" -> ((s, d) => {
      val dir = s"target/tmp/gasof_${new java.io.File(d).getName}"
      val fs = GraftTable.fsOf(s, dir)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      GraftTable.commitNext(s, dir, n.filter(col("n_nationkey") < 10), "v0")
      Thread.sleep(2)
      GraftTable.commitNext(s, dir, n.filter(col("n_nationkey") < 20), "v1")
      Thread.sleep(2)
      GraftTable.commitNext(s, dir, n, "v2")
      val asOf = GraftTable.versionAsOf(fs, dir,
        GraftTable.commitTimeMs(fs, dir, 1)).get
      GraftTable.readVersion(s, dir, asOf)
        .select(col("n_nationkey"), col("n_name"),
          lit(asOf).as("asof_version"))
        .orderBy("n_nationkey")
    }),

    // MERGE-ON-READ delete via deletion vectors — the other half of the
    // delete trade table_delete_rows (copy-on-write) demonstrates. v1
    // and v2 delete WITHOUT rewriting a single data file: each commit
    // shares v0's data dir and carries a cumulative tombstone-key dir
    // applied as a broadcast anti-join at read (at 100 TB: deleting 10
    // rows from a 1 TB file costs a key list + an O(manifest) commit,
    // not a rewrite — and reads stay shuffle-free because the DV
    // broadcasts). v3 is the PURGE (Delta's REORG): survivors
    // materialized once, dv-free reads again. All four versions'
    // aggregates oracled — time travel must see exactly each version's
    // deletes; Round13Spec pins the physical claims (shared data dir,
    // base files byte-identical, cumulative tombstone counts).
    "table_delete_dv" -> ((s, d) => {
      val dir = s"target/tmp/gdv_${new java.io.File(d).getName}"
      GraftTable.fsOf(s, dir)
        .delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      GraftTable.commitNextIsolated(s, dir,
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).as("price")),
        "base load")
      GraftTable.commitDeleteVector(s, dir,
        GraftTable.read(s, dir).filter(col("o_orderstatus") === "F"),
        Seq("o_orderkey"), "MoR delete: status F")
      GraftTable.commitDeleteVector(s, dir,
        GraftTable.read(s, dir).filter(col("price") > 300000),
        Seq("o_orderkey"), "MoR delete: price > 300k")
      GraftTable.purgeDeleteVector(s, dir)
      def snap(v: Int): DataFrame =
        GraftTable.readVersion(s, dir, v)
          .agg(count(lit(1)).as("n_rows"), money(sum(col("price"))).as("rev"))
          .select(lit(v).as("version"), col("n_rows"), col("rev"))
      snap(0).unionByName(snap(1)).unionByName(snap(2)).unionByName(snap(3))
        .orderBy("version")
    }),

    // DESCRIBE HISTORY from plain SQL: graft_history('<dir>') — the
    // audit TVF over the manifest (O(versions) commit-file reads, no
    // data) — driven across every commit flavor this format has:
    // convention (no headers beyond ts=), isolated+stats (n_rows
    // surfaces from the stats line), deletion-vector (has_dv), purge.
    // The nation fixture is SF-independent, so the history is a pure
    // literal the oracle states outright. commit_ms is wall clock and
    // stays out of the oracled projection (its monotonicity is
    // spec-checked instead).
    "table_describe_history" -> ((s, d) => {
      graft.Graft.registerFunctions(s)
      val dir = s"target/tmp/ghist_${new java.io.File(d).getName}"
      GraftTable.fsOf(s, dir)
        .delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      GraftTable.commitNext(s, dir, n.filter(col("n_nationkey") < 10), "v0 load")
      GraftTable.commitNextIsolated(s, dir, n, "full load",
        statsEnc = Seq("n_nationkey" -> "id"))
      // a MoR delete on a stats-bearing head refuses since round 17 —
      // the deliberate index drop is itself a commit flavor the history
      // must surface
      GraftTable.commitNextIsolated(s, dir, n, "index dropped")
      GraftTable.commitDeleteVector(s, dir,
        GraftTable.read(s, dir).filter(col("n_nationkey") < 5),
        Seq("n_nationkey"), "dv delete")
      GraftTable.purgeDeleteVector(s, dir)
      s.sql("SELECT version, metadata, has_stats, has_dv, n_rows " +
        s"FROM graft_history('$dir') ORDER BY version")
    }),

    // Metadata-only COUNT(*): the answer comes from the manifest's
    // per-file row counts (summed at commit time from the parquet
    // footers of the just-written, still-hot files) — serving the count
    // touches ZERO data files, the transaction-log capability every
    // lakehouse format leans on for table-stat queries. Round13Spec
    // proves the point physically: the count still serves with the
    // version's data dir moved away. At 10⁵ files this turns a
    // full-listing + footer sweep into one O(stats-line) read.
    "agg_count_metadata_only" -> ((s, d) => {
      val dir = statsClusteredTable(s, d)
      val n = GraftTable.rowCountOf(GraftTable.fsOf(s, dir), dir, 0)
        .getOrElse(sys.error(s"no stats in $dir v0"))
      s.range(1).select(lit(n).as("n_rows"))
    }),

    // SHALLOW CLONE: version 0 of the clone is a metadata-only
    // reference to the source's current data dir (the same data=
    // indirection isolated commits use, pointed across sibling table
    // dirs — no file copied, stats travel with the reference), after
    // which the clone evolves INDEPENDENTLY: its v1 appends rows in its
    // own directory and the source's version history stays length 1 —
    // which the exposed n_src_versions pins inside the oracle. The
    // zero-copy dev/test-fork idiom: at 100 TB a clone costs one commit
    // file, not a table copy.
    "table_clone_shallow" -> ((s, d) => {
      val base = new java.io.File(d).getName
      val src = s"target/tmp/gclsrc_$base"
      val dst = s"target/tmp/gclone_$base"
      val fs = GraftTable.fsOf(s, src)
      fs.delete(new org.apache.hadoop.fs.Path(src), true) // pure-function reset
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      GraftTable.commitNextIsolated(s, src,
        t(s, d, "nation").select(col("n_nationkey"), col("n_name")),
        "source load")
      GraftTable.cloneShallow(s, src, dst)
      GraftTable.commitNextIsolated(s, dst,
        GraftTable.read(s, dst).unionByName(
          t(s, d, "region").select((col("r_regionkey") + 100).as("n_nationkey"),
            col("r_name").as("n_name"))),
        "clone evolution: +regions")
      val nSrc = GraftTable.versions(fs, src).size
      GraftTable.read(s, dst)
        .select(col("n_nationkey"), col("n_name"),
          lit(nSrc).as("n_src_versions"))
        .orderBy("n_nationkey")
    }),

    // 2-D band read over the z-ordered layout — served straight off the
    // files, where parquet min/max footer stats now describe tight
    // (ship-date × quantity) rectangles: most files' rectangles miss
    // the query rectangle entirely and are skipped before a single row
    // group decompresses. A 1-D sort would make ONE of the two
    // predicates unselective at file level; Morton interleaving is what
    // buys selectivity on both. Oracle = the same band off the
    // unclustered original (layout must never change results);
    // Round13Spec reads the per-file rectangles back and counts the
    // overlap set.
    "sink_zorder_clustered" -> ((s, d) => zorderBandScan(s, zorderLayout(s, d))),

    // A LAYOUT change as a committed version: v0 holds the rows
    // unpartitioned, v1 the SAME rows as a month-partitioned directory
    // tree (one file per month — the partitioned-sink discipline).
    // Readers of v0 and v1 use the same readVersion call — the commit's
    // data= indirection is what lets directory SHAPE evolve per version
    // with no reader-side branching, the metadata-only re-layout every
    // table format promises. The oracle pins both versions serving
    // identical aggregates; Round13Spec pins the mechanics (v0's files
    // byte-untouched by the v1 commit; v1's month-band read listing
    // only pruned partitions).
    "table_partition_evolution" -> ((s, d) => {
      val dir = s"target/tmp/gpartevo_${new java.io.File(d).getName}"
      GraftTable.fsOf(s, dir)
        .delete(new org.apache.hadoop.fs.Path(dir), true) // pure-function reset
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), dec(col("o_totalprice")).as("price"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      GraftTable.commitNext(s, dir, o, "unpartitioned load")
      GraftTable.commitNextIsolated(s, dir,
        GraftTable.read(s, dir).repartition(col("ym")),
        "relayout: partitioned by ym", partitionBy = Seq("ym"))
      def snap(v: Int): DataFrame =
        GraftTable.readVersion(s, dir, v)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("ym")).as("n_months"),
            money(sum(col("price"))).as("sum_price"))
          .select(lit(v).as("version"), col("n_rows"), col("n_months"),
            col("sum_price"))
      snap(0).unionByName(snap(1)).orderBy("version")
    }),

    // t2=N (rows-only): the documented 100 TB swap for
    // agg_sliding_distinct_users — per-window HyperLogLog++ cardinality
    // instead of the exact (window, user) dedup shuffle. The sketch
    // merge is associative/commutative, so the shuffle carries one
    // ~12 KB sketch per (window, partition) instead of every distinct
    // (window, user) pair — at 100 TB that is the difference between
    // shuffling |windows × users| rows and |windows × partitions|
    // sketches. rsd 0.01 (2¹⁴ registers): at the fixture's per-window
    // cardinalities HLL++'s linear-counting regime is exact, and at
    // 100 TB cardinalities the error concentrates at ~1%. No SQL
    // oracle: DuckDB's approx_count_distinct is a different sketch;
    // Round13Spec bounds the error against the exact tier (≤5%)
    // window by window.
    "agg_sliding_distinct_hll" -> ((s, d) =>
      graft.T.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("users_approx"),
          count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("users_approx"), col("n"))
        .orderBy("ws"))
  )

  val oracleSql: Map[String, String] = Map(
    // Skipping must not change results: the band aggregate recomputed
    // off the raw table.
    "scan_stats_skipping" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")})")} AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-03-01' " +
        "AND l_shipdate < TIMESTAMP '1996-06-01'"),

    // The stream fold's fixpoint = the one-shot latest-per-user batch
    // recompute; 3 versions pins the replayed epoch as a no-op.
    "stream_table_sink" ->
      ("WITH r AS (SELECT user_id, ts, event_id, event_type, value, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) " +
        "SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value, " +
        "3 AS n_versions FROM r WHERE rn = 1 ORDER BY user_id"),

    // Sequential replay of the two commuting merges; 3 versions pins
    // that the race loser retried and landed instead of failing.
    "table_concurrent_merge" ->
      (s"WITH base AS (SELECT c_custkey AS key, ${oDec("c_acctbal")} AS bal FROM customer), " +
        s"a AS (SELECT o_custkey AS ckey, SUM(${oDec("o_totalprice")}) AS delta " +
        "FROM orders WHERE o_custkey % 2 = 0 GROUP BY 1), " +
        s"b AS (SELECT o_custkey AS ckey, SUM(${oDec("o_totalprice")}) AS delta " +
        "FROM orders WHERE o_custkey % 2 = 1 GROUP BY 1), " +
        "m1 AS (SELECT COALESCE(key, ckey) AS key, " +
        "COALESCE(bal, 0) + COALESCE(delta, 0) AS bal " +
        "FROM base FULL JOIN a ON key = ckey), " +
        "m2 AS (SELECT COALESCE(key, ckey) AS key, " +
        "COALESCE(bal, 0) + COALESCE(delta, 0) AS bal " +
        "FROM m1 FULL JOIN b ON key = ckey) " +
        s"SELECT key, ${oMoney("bal")} AS bal, 3 AS n_versions " +
        "FROM m2 ORDER BY key"),

    // Every version's view replayed: v1 minus F, v2 additionally minus
    // the high-price band, v3 ≡ v2 after the purge rewrite.
    "table_delete_dv" -> {
      val o = s"SELECT o_orderkey, o_orderstatus, ${oDec("o_totalprice")} AS price FROM orders"
      def snap(v: Int, where: String) =
        s"SELECT $v AS version, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
          s"${oMoney("SUM(price)")} AS rev FROM ($o) $where"
      snap(0, "") + " UNION ALL " +
        snap(1, "WHERE o_orderstatus <> 'F'") + " UNION ALL " +
        snap(2, "WHERE o_orderstatus <> 'F' AND NOT price > 300000") +
        " UNION ALL " +
        snap(3, "WHERE o_orderstatus <> 'F' AND NOT price > 300000") +
        " ORDER BY version"
    },

    // The history of a nation-sized table is a pure literal.
    "table_describe_history" ->
      ("SELECT * FROM (VALUES " +
        "(0, 'v0 load', FALSE, FALSE, CAST(NULL AS BIGINT)), " +
        "(1, 'full load', TRUE, FALSE, CAST(25 AS BIGINT)), " +
        "(2, 'index dropped', FALSE, FALSE, CAST(NULL AS BIGINT)), " +
        "(3, 'dv delete', FALSE, TRUE, CAST(NULL AS BIGINT)), " +
        "(4, 'purge deletion vector', FALSE, FALSE, CAST(NULL AS BIGINT))" +
        ") t(version, metadata, has_stats, has_dv, n_rows) ORDER BY version"),

    // The manifest's row-count sum must equal the real count.
    "agg_count_metadata_only" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem",

    // Clone v1 = source rows + the appended evolution; source history
    // still length 1.
    "table_clone_shallow" ->
      ("SELECT n_nationkey, n_name, 1 AS n_src_versions FROM (" +
        "SELECT n_nationkey, n_name FROM nation " +
        "UNION ALL SELECT r_regionkey + 100 AS n_nationkey, r_name AS n_name " +
        "FROM region) ORDER BY n_nationkey"),

    // Log-resolved 2-D rectangle read ≡ the raw recompute.
    "scan_stats_skipping_2d" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")})")} AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-03-01' " +
        "AND l_shipdate < TIMESTAMP '1997-06-01' " +
        "AND CAST(l_quantity AS BIGINT) BETWEEN 30 AND 45"),

    // The instant of v1's commit must see exactly v1's rows.
    "table_time_travel_asof" ->
      ("SELECT n_nationkey, n_name, 1 AS asof_version FROM nation " +
        "WHERE n_nationkey < 20 ORDER BY n_nationkey"),

    // The z-ordered layout must serve the same 2-D band aggregate as
    // the unclustered original.
    "sink_zorder_clustered" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")})")} AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-06-01' " +
        "AND l_shipdate < TIMESTAMP '1995-09-01' " +
        "AND CAST(l_quantity AS BIGINT) >= 10 AND CAST(l_quantity AS BIGINT) <= 25"),

    // Both layouts serve identical aggregates — re-layout is
    // metadata-only from a reader's point of view.
    "table_partition_evolution" -> {
      val row = "CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT) AS n_months, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS sum_price FROM orders"
      s"SELECT 0 AS version, $row UNION ALL SELECT 1 AS version, $row ORDER BY version"
    }
  )
}
