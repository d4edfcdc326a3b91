package graft

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.ops.{Round13Ops, StreamingOps}
import graft.sources.GraftTable

/** Round-13 mechanics the SQL oracles cannot see: the manifest-level
  * stats skip ratio (opened files counted against the range-overlap
  * set), streaming replay idempotence across a checkpoint-recovery
  * restart, the OCC retry under a FORCED deterministic conflict, the
  * z-order per-file rectangle audit, partition-evolution file
  * immutability + pruning, the HLL error bound, the trained semantic
  * codebook's cluster-size/threshold-margin pins, the vacuum grace
  * window, and the manifest feed's one-row-per-version contract over
  * header-bearing commit files. */
class Round13Spec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def epochUs(date: String): Long =
    java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000L

  // ---- scan_stats_skipping --------------------------------------------------

  test("scan_stats_skipping: the manifest selects fewer files than the version holds, and exactly the range-overlap set") {
    val dir = Round13Ops.statsClusteredTable(spark, sf)
    val lo = epochUs("1996-03-01")
    val hi = epochUs("1996-06-01") - 1L
    val (band, opened, total) = GraftTable.readStatsBand(
      spark, dir, 0, "l_shipdate", lo, hi)
    assert(total > 1, s"clustered layout should hold several files ($total)")
    assert(opened.nonEmpty && opened.size < total,
      s"log skipping must open a strict subset: ${opened.size} of $total")
    // Independent recompute of the overlap set from the FILES themselves
    // (footer truth): the manifest must name exactly the files whose
    // actual [min,max] intersects the band — no false skips, no
    // gratuitous opens.
    val fs = GraftTable.fsOf(spark, dir)
    val data = spark.read.parquet(
      s"$dir/${GraftTable.dataDirOf(fs, dir, 0)}")
    val tsUs = unix_micros(col("l_shipdate").cast(TimestampType))
    val actual = data
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("f"))
      .agg(min(tsUs).as("lo"), max(tsUs).as("hi"))
      .collect()
      .filter(r => r.getAs[Long]("hi") >= lo && r.getAs[Long]("lo") <= hi)
      .map(_.getAs[String]("f")).toSet
    assert(opened.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet == actual,
      s"manifest overlap set != footer overlap set")
    // and skipping must not change results: band read + row-level filter
    // equals the full-scan recompute
    val bandRows = band
      .filter(tsUs >= lo && tsUs <= hi).count()
    val fullRows = data.filter(tsUs >= lo && tsUs <= hi).count()
    assert(bandRows == fullRows, s"band read lost rows: $bandRows vs $fullRows")
  }

  // ---- stream_table_sink ----------------------------------------------------

  test("stream_table_sink: checkpoint-recovery replay of the last batch mints no new version and leaves the fixpoint intact") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "target/tmp/gsink_golden"
    val ckpt = "target/tmp/gsink_golden_ckpt"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    fs.delete(new Path(ckpt), true)
    val b1 = Seq(
      UpEv(1L, ts("2024-01-01 10:00:00"), 100L, "click", 1.0),
      UpEv(2L, ts("2024-01-01 10:01:00"), 101L, "view", 2.0))
    val b2 = Seq(
      UpEv(1L, ts("2024-01-01 11:00:00"), 102L, "purchase", 9.0),
      UpEv(3L, ts("2024-01-01 11:02:00"), 103L, "signup", 3.0),
      UpEv(2L, ts("2024-01-01 09:00:00"), 104L, "click", 7.0)) // older: loses
    val mem = MemoryStream[UpEv]
    // statsEnc on the sink: every streamed version carries the
    // skipping index, so the ingest half of the lakehouse loop feeds
    // log-skippable reads directly (asserted at the end)
    def start() = GraftTable.streamingSink(dir, ckpt, mem.toDF(),
      transform = (cur, b) => StreamingOps.latestPerUser(
        cur.map(_.unionByName(b)).getOrElse(b)),
      statsEnc = Seq("user_id" -> "id"))
    val q1 = start()
    mem.addData(b1: _*); q1.processAllAvailable()
    mem.addData(b2: _*); q1.processAllAvailable(); q1.stop()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    def state() = GraftTable.read(spark, dir).orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSeq
    val fixpoint = StreamingOps.latestPerUser((b1 ++ b2).toDF())
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSeq
    assert(state() == fixpoint && fixpoint ==
      Seq(1L -> 102L, 2L -> 101L, 3L -> 103L))
    // Simulate the crash window foreachBatch replays: the sink ran for
    // batch 1 but the engine died before recording it — drop the
    // streaming commit log's last entry and restart from the same
    // checkpoint. The engine re-delivers batch 1; commitEpoch sees
    // `epoch=1` already committed and the replay must evaluate NOTHING.
    fs.delete(new Path(s"$ckpt/commits/1"), false)
    val q2 = start()
    q2.processAllAvailable()
    // post-restart ingest continues the SAME version history exactly once
    mem.addData(UpEv(2L, ts("2024-01-01 12:00:00"), 105L, "refund", 1.5))
    q2.processAllAvailable(); q2.stop()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2),
      s"replayed batch minted a version: ${GraftTable.versions(fs, dir)}")
    assert(GraftTable.meta(fs, dir, 2) == "epoch=2")
    assert(state() == Seq(1L -> 102L, 2L -> 105L, 3L -> 103L))
    // the streamed versions are log-skippable: stats rode each epoch
    // commit, the metadata count serves, and a user-band read resolves
    // its files from the manifest
    assert(GraftTable.rowCountOf(fs, dir, 2).contains(3L))
    val (band, opened, _) = GraftTable.readStatsBand(
      spark, dir, 2, "user_id", 2L, 3L)
    assert(opened.nonEmpty &&
      band.filter(col("user_id").between(2, 3)).count() == 2)
  }

  // ---- table_concurrent_merge -----------------------------------------------

  test("commitWithRetry: a FORCED commit conflict re-applies the loser's transform against the winner's snapshot — both merges land") {
    import spark.implicits._
    val dir = "target/tmp/gocc_forced"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir,
      Seq((0L, 10L), (1L, 10L), (2L, 10L)).toDF("k", "v"), "base")
    val aRead = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val aSnapshots = new java.util.concurrent.atomic.AtomicInteger(0)
    // A's transform: +1 on even keys — but it HOLDS after reading its
    // snapshot until B has committed, so A's first commit MUST conflict.
    def mergeA(cur: Option[org.apache.spark.sql.DataFrame]) = {
      aSnapshots.incrementAndGet()
      val base = cur.get
      aRead.countDown()
      bDone.await()
      base.withColumn("v",
        when(col("k") % 2 === 0, col("v") + 1).otherwise(col("v")))
    }
    var aVersion = -1
    val tA = new Thread(() => {
      aVersion = GraftTable.commitWithRetry(spark, dir, mergeA, "A: +1 even")
    })
    tA.start()
    aRead.await() // A holds a stale snapshot of v0
    // B: +100 on odd keys, commits v1 while A is paused
    val bVersion = GraftTable.commitWithRetry(spark, dir,
      cur => cur.get.withColumn("v",
        when(col("k") % 2 === 1, col("v") + 100).otherwise(col("v"))),
      "B: +100 odd")
    bDone.countDown()
    tA.join()
    assert(bVersion == 1 && aVersion == 2,
      s"expected B=1, A=2 after retry; got B=$bVersion A=$aVersion")
    assert(aSnapshots.get() == 2,
      "the loser must RE-READ and re-apply, not re-publish stale staging")
    val got = GraftTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(0L -> 11L, 1L -> 110L, 2L -> 11L),
      s"both merges must land: $got")
  }

  // ---- sink_zorder_clustered ------------------------------------------------

  test("sink_zorder_clustered: per-file (shipdate × quantity) rectangles — few files overlap the query rectangle, skipped files provably disjoint") {
    val dir = Round13Ops.zorderLayout(spark, sf)
    val tsUs = unix_micros(col("l_shipdate").cast(TimestampType))
    val rects = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(tsUs).as("xlo"), max(tsUs).as("xhi"),
        min("l_quantity").as("ylo"), max("l_quantity").as("yhi"))
      .collect()
      .map(r => (r.getAs[String]("f"), r.getAs[Long]("xlo"),
        r.getAs[Long]("xhi"), r.getAs[Long]("ylo"), r.getAs[Long]("yhi")))
    val (qxlo, qxhi) = (epochUs("1995-06-01"), epochUs("1995-09-01") - 1L)
    val (qylo, qyhi) = (10L, 25L)
    val overlap = rects.filter { case (_, xlo, xhi, ylo, yhi) =>
      xhi >= qxlo && xlo <= qxhi && yhi >= qylo && ylo <= qyhi
    }
    assert(rects.length >= 8,
      s"z-order layout should hold several files (${rects.length})")
    assert(overlap.nonEmpty && overlap.length * 2 <= rects.length,
      s"2-D skipping must prune at least half the files: " +
        s"${overlap.length} of ${rects.length} overlap")
    // the skipped files are PROVABLY non-overlapping — and therefore
    // contribute zero band rows: all band rows live in the overlap set
    val overlapPaths = overlap.map(_._1).toSet
    val bandRowsAll = spark.read.parquet(dir)
      .filter(tsUs.between(qxlo, qxhi) &&
        col("l_quantity").between(qylo, qyhi)).count()
    val bandRowsOverlap = spark.read.parquet(overlapPaths.toSeq: _*)
      .filter(tsUs.between(qxlo, qxhi) &&
        col("l_quantity").between(qylo, qyhi)).count()
    assert(bandRowsAll == bandRowsOverlap && bandRowsAll > 0,
      s"band rows outside the overlap set: $bandRowsAll vs $bandRowsOverlap")
    // Morton interleaving must buy selectivity in BOTH dimensions: a
    // 1-D shipdate sort makes every file's quantity range full-width,
    // so the quantity predicate alone would prune nothing
    val qOnly = rects.count { case (_, _, _, ylo, yhi) =>
      yhi >= qylo && ylo <= qyhi }
    assert(qOnly < rects.length,
      "quantity ranges are full-width in every file — no 2-D clustering")
  }

  test("scan_stats_skipping_2d: the manifest's 2-D rectangle test opens exactly the overlap set, pruning multiplicatively") {
    val dir = Round13Ops.zorderStatsTable(spark, sf)
    val bands = Seq(
      ("l_shipdate", epochUs("1997-03-01"), epochUs("1997-06-01") - 1L),
      ("l_quantity", 30L, 45L))
    val (_, opened, total) = GraftTable.readStatsRect(spark, dir, 0, bands)
    assert(total >= 8 && opened.nonEmpty && opened.size * 2 <= total,
      s"2-D log skipping must prune at least half: ${opened.size} of $total")
    // the manifest's read set must equal the footer-truth overlap set
    val fs = GraftTable.fsOf(spark, dir)
    val tsUs = unix_micros(col("l_shipdate").cast(TimestampType))
    val actual = spark.read.parquet(
        s"$dir/${GraftTable.dataDirOf(fs, dir, 0)}")
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("f"))
      .agg(min(tsUs).as("xlo"), max(tsUs).as("xhi"),
        min("l_quantity").as("ylo"), max("l_quantity").as("yhi"))
      .collect()
      .filter { r =>
        r.getAs[Long]("xhi") >= bands(0)._2 && r.getAs[Long]("xlo") <= bands(0)._3 &&
        r.getAs[Long]("yhi") >= bands(1)._2 && r.getAs[Long]("ylo") <= bands(1)._3
      }
      .map(_.getAs[String]("f")).toSet
    assert(opened.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet == actual)
    // and each single band alone prunes LESS than the conjunction —
    // the multiplicative payoff of clustering both dimensions
    val oneD = bands.map(b =>
      GraftTable.readStatsRect(spark, dir, 0, Seq(b))._2.size)
    assert(oneD.forall(_ >= opened.size),
      s"conjunction opened more than a single band: $oneD vs ${opened.size}")
  }

  test("agg_count_metadata_only: the count serves from the manifest even with the version's data offline") {
    val dir = Round13Ops.statsClusteredTable(spark, sf)
    val fs = GraftTable.fsOf(spark, dir)
    val fromLog = GraftTable.rowCountOf(fs, dir, 0).get
    val real = GraftTable.readVersion(spark, dir, 0).count()
    assert(fromLog == real, s"manifest count $fromLog != data count $real")
    // the proof the key's claim rests on: move the data away — the
    // metadata count still answers, while a data read now fails loudly
    val data = GraftTable.dataDirOf(fs, dir, 0)
    fs.rename(new Path(s"$dir/$data"), new Path(s"$dir/.offline_$data"))
    assert(GraftTable.rowCountOf(fs, dir, 0).contains(real),
      "metadata-only count touched the data path")
    intercept[IllegalArgumentException] {
      GraftTable.readVersion(spark, dir, 0)
    }
    fs.rename(new Path(s"$dir/.offline_$data"), new Path(s"$dir/$data"))
  }

  test("cloneShallow: zero data files written, reads serve the source's bytes, evolution stays private to the clone") {
    import spark.implicits._
    val src = "target/tmp/gclspec_src"
    val dst = "target/tmp/gclspec_dst"
    val fs = GraftTable.fsOf(spark, src)
    fs.delete(new Path(src), true)
    fs.delete(new Path(dst), true)
    GraftTable.commitNextIsolated(spark, src,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), "src v0",
      statsEnc = Seq("k" -> "id"))
    GraftTable.cloneShallow(spark, src, dst)
    // metadata-only clone: the clone dir holds ONLY its manifest
    assert(fs.listStatus(new Path(dst)).map(_.getPath.getName).toSeq ==
      Seq("manifest"), "shallow clone wrote data files")
    // reads resolve through the reference; stats traveled
    assert(GraftTable.read(spark, dst).orderBy("k").collect().toSeq ==
      GraftTable.read(spark, src).orderBy("k").collect().toSeq)
    assert(GraftTable.rowCountOf(fs, dst, 0).contains(3L))
    // clone evolution is invisible to the source
    GraftTable.commitNextIsolated(spark, dst,
      GraftTable.read(spark, dst).unionByName(Seq((4L, "d")).toDF("k", "s")),
      "clone v1")
    assert(GraftTable.versions(fs, src) == Seq(0))
    assert(GraftTable.read(spark, src).count() == 3)
    assert(GraftTable.read(spark, dst).count() == 4)
    // the clone's vacuum never reaches across the reference
    assert(GraftTable.vacuum(fs, dst, graceMs = 0L).isEmpty)
    assert(GraftTable.read(spark, src).count() == 3)
    // a second clone of the same target is refused
    intercept[IllegalArgumentException] {
      GraftTable.cloneShallow(spark, src, dst)
    }
  }

  test("commitDeleteVector: deletes rewrite NOTHING — shared data dir, byte-identical base files, cumulative tombstones, purge rewrites once") {
    import spark.implicits._
    val dir = "target/tmp/gdv_spec"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c"), (5L, "a"))
        .toDF("k", "tag"), "base")
    def files(data: String) =
      fs.listStatus(new Path(s"$dir/$data")).filter(_.isFile)
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .sortBy(_._1).toSeq
    val d0 = GraftTable.dataDirOf(fs, dir, 0)
    val base0 = files(d0)
    // v1: MoR-delete tag 'a' — data dir SHARED, files untouched
    GraftTable.commitDeleteVector(spark, dir,
      GraftTable.read(spark, dir).filter(col("tag") === "a"), Seq("k"),
      "dv: tag a")
    assert(GraftTable.dataDirOf(fs, dir, 1) == d0,
      "a MoR delete must not mint a data dir")
    assert(files(d0) == base0, "a MoR delete touched base files")
    assert(GraftTable.read(spark, dir).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L))
    // v0 time travel still serves everything
    assert(GraftTable.readVersion(spark, dir, 0).count() == 5)
    // v2: second delete stacks cumulatively (k=4), tombstones = 3+1
    GraftTable.commitDeleteVector(spark, dir,
      GraftTable.read(spark, dir).filter(col("k") === 4), Seq("k"), "dv: k=4")
    val dv2dir = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("dv2_")).toSeq
    assert(dv2dir.size == 1)
    assert(spark.read.parquet(s"$dir/${dv2dir.head}").count() == 4,
      "v2's DV must carry the cumulative tombstone set (3 + 1 keys)")
    assert(GraftTable.read(spark, dir).collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    assert(GraftTable.readVersion(spark, dir, 1).count() == 2,
      "v1's view must not see v2's delete")
    // the purge materializes survivors in a FRESH dir; reads dv-free
    GraftTable.purgeDeleteVector(spark, dir)
    assert(GraftTable.dataDirOf(fs, dir, 3) != d0)
    assert(GraftTable.read(spark, dir).collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    // base files STILL untouched — only the purge wrote new data
    assert(files(d0) == base0)
  }

  test("graft_history: commit timestamps are non-decreasing and every commit flavor surfaces its headers") {
    import spark.implicits._
    val dir = "target/tmp/ghist_spec"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L).toDF("k"), "v0")
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L, 3L).toDF("k"), "v1",
      statsEnc = Seq("k" -> "id"))
    // a MoR delete on the stats-bearing head now refuses (the index
    // would be silently dropped) — drop the index DELIBERATELY first,
    // which is itself a commit flavor history must surface
    intercept[GraftTable.IndexRedeclarationRequired] {
      GraftTable.commitDeleteVector(spark, dir,
        Seq(1L).toDF("k"), Seq("k"), "refused dv")
    }
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L, 3L).toDF("k"),
      "v2 index dropped")
    GraftTable.commitDeleteVector(spark, dir,
      Seq(1L).toDF("k"), Seq("k"), "v3 dv")
    val h = GraftTable.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getAs[Int]("version")).toSeq == Seq(0, 1, 2, 3))
    val ms = h.map(_.getAs[Long]("commit_ms"))
    assert(ms.sliding(2).forall(p => p(0) <= p(1)),
      s"commit_ms must be non-decreasing: ${ms.toSeq}")
    assert(h.map(_.getAs[Boolean]("has_stats")).toSeq ==
      Seq(false, true, false, false))
    assert(h.map(_.getAs[Boolean]("has_dv")).toSeq ==
      Seq(false, false, false, true))
    assert(h(1).getAs[Long]("n_rows") == 3L && h(0).isNullAt(
      h(0).fieldIndex("n_rows")))
    // the SQL surface serves the same rows
    Graft.registerFunctions(spark)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_history('$dir')")
      .collect()(0).getLong(0) == 4L)
  }

  test("graft_stats: the skipping index is queryable from SQL, and a SQL-computed overlap set equals the engine's read set") {
    val dir = Round13Ops.statsClusteredTable(spark, sf)
    Graft.registerFunctions(spark)
    val lo = epochUs("1996-03-01")
    val hi = epochUs("1996-06-01") - 1L
    // the same overlap decision the engine makes, written as plain SQL
    // over the stats relation — an ops notebook's layout audit
    val sqlSet = spark.sql(
      s"SELECT file FROM graft_stats('$dir', 0) " +
        s"WHERE col = 'l_shipdate' AND max >= ${lo}L AND min <= ${hi}L")
      .collect().map(_.getString(0)).toSet
    val (_, opened, total) = GraftTable.readStatsBand(
      spark, dir, 0, "l_shipdate", lo, hi)
    // compare DATA-DIR-RELATIVE paths (the FileStats.file contract) —
    // basename truncation would collide under a partitioned layout
    val dataPrefix =
      s"$dir/${GraftTable.dataDirOf(GraftTable.fsOf(spark, dir), dir, 0)}/"
    assert(sqlSet == opened.map(_.stripPrefix(dataPrefix)).toSet)
    assert(sqlSet.nonEmpty && sqlSet.size < total)
    // row counts from the stats relation reconcile with the metadata
    // count API
    val sumRows = spark.sql(
      s"SELECT CAST(SUM(rows) / COUNT(DISTINCT col) AS BIGINT) " +
        s"FROM graft_stats('$dir', 0)").collect()(0).getLong(0)
    assert(GraftTable.rowCountOf(GraftTable.fsOf(spark, dir), dir, 0)
      .contains(sumRows))
  }

  // ---- table_partition_evolution --------------------------------------------

  test("table_partition_evolution: v0's files stay byte-untouched by the re-layout, v1's month read is partition-pruned") {
    import graft.T.{t, dec}
    val dir = "target/tmp/gpartevo_spec"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    val o = t(spark, sf, "orders")
      .select(col("o_orderkey"), dec(col("o_totalprice")).as("price"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
    GraftTable.commitNextIsolated(spark, dir, o, "unpartitioned load")
    def fileState(p: Path): Map[String, (Long, Long)] =
      fs.listStatus(p).filter(_.isFile).map(st =>
        st.getPath.getName ->
          ((st.getLen, st.getModificationTime))).toMap
    val v0Dir = new Path(s"$dir/${GraftTable.dataDirOf(fs, dir, 0)}")
    val v0Before = fileState(v0Dir)
    assert(v0Before.nonEmpty)
    GraftTable.commitNextIsolated(spark, dir,
      GraftTable.read(spark, dir).repartition(col("ym")),
      "relayout: partitioned by ym", partitionBy = Seq("ym"))
    // v0 byte-untouched: same names, lengths, modification times
    assert(fileState(v0Dir) == v0Before,
      "the re-layout commit touched version 0's files")
    // v1 is a real partitioned tree, and a month read prunes to one dir
    val month = GraftTable.readVersion(spark, dir, 1)
      .filter(col("ym") === "1995-03")
    val plan = month.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.contains("PartitionFilters: []"), plan.take(1500))
    val filesRead = month.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty && filesRead.forall(_.contains("ym=1995-03")),
      s"month read listed beyond its partition: ${filesRead.take(3).toSeq}")
    // both layouts serve the same relation
    assert(GraftTable.readVersion(spark, dir, 0).count() ==
      GraftTable.readVersion(spark, dir, 1).count())
  }

  // ---- agg_sliding_distinct_hll ---------------------------------------------

  test("agg_sliding_distinct_hll: per-window HLL cardinality within 5% of the exact rolling-uniques tier (sf0.01)") {
    val d = "/root/testdata/sf0.01"
    val approx = SparkEntry.queries("agg_sliding_distinct_hll")(spark, d)
      .select(col("ws"), col("users_approx"))
    val exact = SparkEntry.queries("agg_sliding_distinct_users")(spark, d)
      .select(col("ws"), col("users").as("users_exact"))
    val joined = approx.join(exact, Seq("ws"), "full").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val a = r.getAs[Long]("users_approx")
      val e = r.getAs[Long]("users_exact")
      assert(math.abs(a - e) <= math.max(1L, (0.05 * e).toLong),
        s"window ${r.get(0)}: approx $a vs exact $e breaches 5%")
    }
  }

  // ---- vec_semantic_dedup (trained codebook) --------------------------------

  test("vec_semantic_dedup: trained clusters are balanced (max size bounded) and no pair sits within 1e-6 of the 0.35 threshold") {
    Graft.registerFunctions(spark)
    val assign = Round13Ops.semanticAssignTrained(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = assign.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    val sizes = assign.groupBy("cid").count().collect().map(_.getLong(1))
    assert(sizes.sum == n)
    assert(sizes.length <= k, s"${sizes.length} clusters from a k=$k codebook")
    // the within-cluster pair bound the key's scale story rests on:
    // max cluster ≤ 4×(n/k) ⇒ per-cluster pair cost ≤ 16·(n/k)²
    val bound = 4L * (n / k + 1)
    assert(sizes.max <= bound,
      s"max cluster ${sizes.max} exceeds 4×(n/k)=$bound — k must scale up")
    // threshold-margin pin (round-12 advisory): the float boundary can
    // never flip a pair between Spark and DuckDB cosine folds
    val margin = assign.as("a").join(assign.as("b"),
        col("a.cid") === col("b.cid") && col("b.vec_id") < col("a.vec_id"))
      .select(abs(expr("graft_cosine(a.embedding, b.embedding)") - 0.35)
        .as("m"))
      .agg(min("m")).collect()(0).getDouble(0)
    assert(margin > 1e-6,
      f"a within-cluster pair sits $margin%.2e from the 0.35 threshold")
    assign.unpersist()
  }

  test("currentVersion: the _last hint is written post-publish, heals when stale, and any corruption degrades to the listing") {
    import spark.implicits._
    val dir = "target/tmp/ghint"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    def hintPath = new Path(s"$dir/manifest/_last")
    def writeHint(s: String): Unit = {
      val o = fs.create(hintPath, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    (0 to 2).foreach(i =>
      GraftTable.commitNextIsolated(spark, dir, Seq(i.toLong).toDF("k"), s"v$i"))
    // hint tracks the publishes and resolution agrees with the listing
    assert(fs.exists(hintPath))
    assert(GraftTable.currentVersion(fs, dir).contains(2))
    assert(GraftTable.versions(fs, dir).max == 2)
    // STALE hint (crash between publish and hint write): probe-forward
    // finds the newer commits the hint missed
    writeHint("0")
    assert(GraftTable.currentVersion(fs, dir).contains(2),
      "a stale hint must heal by probing forward")
    // hint AHEAD of truth (should be impossible — post-publish write —
    // but a reader must never trust it): falls back to the listing
    writeHint("99")
    assert(GraftTable.currentVersion(fs, dir).contains(2))
    // torn/corrupt hint: same fallback
    writeHint("not-a-number")
    assert(GraftTable.readManifest(fs, dir).map(_._1).contains(2))
    // and the next commit repairs the hint
    GraftTable.commitNextIsolated(spark, dir, Seq(9L).toDF("k"), "v3")
    assert(GraftTable.currentVersion(fs, dir).contains(3))
    // the underscore name keeps the hint invisible to the streaming
    // feed — pinned end-to-end by the cdcSubscribe specs, which commit
    // (and therefore write hints) while subscribed
  }

  test("GraftTable op algebra (model-based): random commit/DV/purge/clone interleavings match an in-memory model at every step") {
    import spark.implicits._
    // The table's user-visible state is a pure fold of the op sequence;
    // this drives random interleavings of every write-path flavor and
    // checks the REAL table against an in-memory model after each op —
    // snapshot correctness at every step, full history + version
    // density + hint sanity at the end. The property that matters:
    // nothing about WHICH op produced a version (convention, isolated,
    // MoR delete, purge) is observable through the read path.
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      val dir = s"target/tmp/gmodel_$seed"
      val fs = GraftTable.fsOf(spark, dir)
      fs.delete(new Path(dir), true)
      var model = Vector.empty[Set[Long]] // per-version expected keys
      def cur = model.last
      def df(ks: Set[Long]) = ks.toSeq.sorted.toDF("k")
      def freshKeys() =
        (0 until (3 + rnd.nextInt(6))).map(_ => rnd.nextInt(50).toLong).toSet
      // v0: base load
      val base = freshKeys() + 0L
      GraftTable.commitNextIsolated(spark, dir, df(base), "base")
      model = Vector(base)
      (1 to 12).foreach { i =>
        rnd.nextInt(4) match {
          case 0 => // full-snapshot commit of fresh keys
            val ks = freshKeys()
            GraftTable.commitNextIsolated(spark, dir, df(ks), s"load $i")
            model :+= ks
          case 1 => // isolated commit of a transformed snapshot
            val ks = cur.map(_ + 100L)
            GraftTable.commitNextIsolated(spark, dir, df(ks), s"shift $i")
            model :+= ks
          case 2 => // MoR delete of a random subset (may be empty)
            val dead = cur.filter(_ => rnd.nextBoolean())
            GraftTable.commitDeleteVector(spark, dir, df(dead), Seq("k"),
              s"dv $i")
            model :+= (cur -- dead)
          case 3 => // purge: rewrite the current view
            GraftTable.purgeDeleteVector(spark, dir, s"purge $i")
            model :+= cur
        }
        assert(GraftTable.read(spark, dir).collect()
          .map(_.getLong(0)).toSet == cur,
          s"seed=$seed step=$i: table diverged from the model")
      }
      // full history replays exactly; versions dense; hint sane
      model.indices.foreach { v =>
        assert(GraftTable.readVersion(spark, dir, v).collect()
          .map(_.getLong(0)).toSet == model(v),
          s"seed=$seed: version $v diverged from the model")
      }
      assert(GraftTable.versions(fs, dir) == model.indices.toSeq)
      assert(GraftTable.currentVersion(fs, dir).contains(model.size - 1))
      // a clone taken NOW equals the final view (dv or not)
      val cdir = s"target/tmp/gmodel_${seed}_clone"
      fs.delete(new Path(cdir), true)
      GraftTable.cloneShallow(spark, dir, cdir)
      assert(GraftTable.read(spark, cdir).collect()
        .map(_.getLong(0)).toSet == cur)
    }
  }

  // ---- vacuum grace window --------------------------------------------------

  test("vacuum grace window: a just-orphaned staging dir survives until the grace passes") {
    import spark.implicits._
    val dir = "target/tmp/gvacuum_grace"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L).toDF("k"), "v0")
    // a slow writer stages for v1 …
    Seq(3L).toDF("k").write.parquet(s"$dir/v1_slowwriter")
    // … while a faster writer takes v1
    GraftTable.commitNextIsolated(spark, dir, Seq(4L, 5L).toDF("k"), "fast v1")
    // the orphan is young: a graced vacuum must leave it for the
    // in-flight writer to fail its own commit on
    assert(GraftTable.vacuum(fs, dir, graceMs = 3600L * 1000).isEmpty,
      "vacuum reclaimed a staging dir younger than the grace window")
    assert(fs.exists(new Path(s"$dir/v1_slowwriter")))
    // grace expired (0 ms): the orphan is reclaimable garbage
    assert(GraftTable.vacuum(fs, dir, graceMs = 0L) == Seq("v1_slowwriter"))
    assert(!fs.exists(new Path(s"$dir/v1_slowwriter")))
    // the committed table never noticed
    assert(GraftTable.read(spark, dir).count() == 2)
  }

  // ---- manifest feed: one row per version over header-bearing commits -------

  test("cdcSubscribe: isolated and empty-metadata commits each feed exactly one row, headers stripped") {
    import spark.implicits._
    val dir = "target/tmp/cdc_headers"
    val ckpt = "target/tmp/cdc_headers_ckpt"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    fs.delete(new Path(ckpt), true)
    val received = collection.mutable.ListBuffer[(Int, String, Long)]()
    def onDelta(v: Int, m: String,
        delta: org.apache.spark.sql.DataFrame): Unit = {
      val n = delta.count()
      received.synchronized { received += ((v, m, n)) }
    }
    // v0: a commit with EMPTY metadata (zero-byte before the
    // ts= header existed — the silently-dropped case of the advisory)
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L).toDF("k"))
    // v1: ISOLATED commit — its file carries data= and ts= headers (the
    // double-emit case of the advisory)
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L, 3L).toDF("k"), "iso v1")
    val q = GraftTable.cdcSubscribe(spark, dir, ckpt, onDelta)
    q.processAllAvailable()
    // v2: isolated with stats headers too
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L, 3L, 4L).toDF("k"),
      "iso v2",
      statsEnc = Seq("k" -> "id"))
    q.processAllAvailable()
    // v3: drop the index deliberately (a MoR delete on a stats head now
    // refuses), then v4: a deletion-vector commit — its dv= header must
    // strip too (the strip pattern is derived from headerKeys, so a new
    // header can never leak into subscriber metadata again)
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L, 3L, 4L).toDF("k"),
      "drop idx v3")
    GraftTable.commitDeleteVector(spark, dir, Seq(4L).toDF("k"), Seq("k"),
      "dv v4")
    q.processAllAvailable()
    q.stop()
    // FULL-list equality: pins exactly-once cardinality AND clean
    // metadata for every commit flavor (a double-delivery or a leaked
    // dv= header both fail here with the whole feed in the message).
    // v3's delta is empty (a same-rows rewrite) and so is v4's — a dv
    // commit shares its predecessor's data, so exceptAll of the two
    // snapshots removes rows, never adds.
    assert(received.toList == List((0, "", 2L), (1, "iso v1", 1L),
      (2, "iso v2", 1L), (3, "drop idx v3", 0L), (4, "dv v4", 0L)),
      s"feed must be one row per version with headers stripped: " +
        s"${received.toList}")
  }

  test("deletion vectors interoperate: clones keep tombstones, stats+dv refuse to mix, partitioned stats key by relative path, orphan dvs vacuum") {
    import spark.implicits._
    val src = "target/tmp/gdvx_src"
    val dst = "target/tmp/gdvx_dst"
    val fs = GraftTable.fsOf(spark, src)
    fs.delete(new Path(src), true)
    fs.delete(new Path(dst), true)
    GraftTable.commitNextIsolated(spark, src,
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("k", "tag"), "base")
    GraftTable.commitDeleteVector(spark, src,
      Seq(2L).toDF("k"), Seq("k"), "dv")
    // clone of a dv-bearing snapshot must NOT resurrect deleted rows
    GraftTable.cloneShallow(spark, src, dst)
    assert(GraftTable.read(spark, dst).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "shallow clone dropped the source's deletion vector")
    // stats describing raw files under a dv would lie — refused loudly
    intercept[IllegalArgumentException] {
      GraftTable.commit(fs, src, 99, "bad", Map("data" -> "v0",
        "dv" -> "dvX;k", "stats" -> GraftTable.TableStats(Seq("k"), Nil).encoded,
        "statenc" -> "k:id"))
    }
    // a partitioned layout CAN carry stats: relative-path keying keeps
    // one stats row per physical file and readStatsBand reads through
    // the partition subdirs
    val pdir = "target/tmp/gdvx_part"
    fs.delete(new Path(pdir), true)
    GraftTable.commitNextIsolated(spark, pdir,
      Seq((1L, "a"), (2L, "a"), (5L, "b"), (9L, "b")).toDF("k", "p"),
      "partitioned+stats", partitionBy = Seq("p"),
      statsEnc = Seq("k" -> "id"))
    val st = GraftTable.statsOf(fs, pdir, 0).get
    assert(st.files.forall(_.file.contains("p=")),
      s"stats must key by relative path: ${st.files.map(_.file)}")
    val (band, opened, total) = GraftTable.readStatsBand(
      spark, pdir, 0, "k", 5L, 9L)
    assert(total == st.files.size && opened.size < total)
    // the partition COLUMN must survive the leaf-file read (basePath
    // pins discovery to the data dir) — same schema as the empty branch
    assert(band.columns.contains("p"), band.columns.toSeq.toString)
    assert(band.filter(col("k").between(5, 9) && col("p") === "b")
      .count() == 2)
    // an orphan dv staging dir (race-losing delete) is vacuumable; the
    // LIVE dv dir referenced by src's v1 commit is not
    Seq(9L).toDF("k").write.parquet(s"$src/dv1_orphan99")
    val reclaimed = GraftTable.vacuum(fs, src, graceMs = 0L)
    assert(reclaimed == Seq("dv1_orphan99"), reclaimed)
    assert(GraftTable.read(spark, src).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "vacuum reclaimed the live deletion vector")
  }
}
