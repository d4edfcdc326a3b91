package graft

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.{Round12Ops, StreamingOps}
import graft.sources.GraftTable

/** Event fixture with an id, for the outer-join grain. */
case class EvId(ts: Timestamp, event_type: String, value: Double,
    user_id: Long, event_id: Long)

/** Round-12 table-operation mechanics: the commit-race arbitration, the
  * halves of merge/compact/CDC that an SQL oracle cannot see (file
  * counts, version intactness, exactly-once streaming delivery), and the
  * multi-file scan's plan posture. */
class Round12Spec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("GraftTable commit: two racing writers — exactly one wins, loser gets CME, winner's metadata serves") {
    val dir = "target/tmp/race_gtable"
    val fs = GraftTable.fsOf(spark, dir)
    (0 until 20).foreach { i =>
      fs.delete(new Path(dir), true)
      val latch = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 2).map { tid =>
        new Thread(() => {
          latch.await()
          try {
            GraftTable.commit(fs, dir, 0, s"writer$tid",
              Map("data" -> s"v0_writer$tid"))
            results.add(s"win$tid")
          }
          catch {
            case _: java.util.ConcurrentModificationException =>
              results.add(s"lose$tid")
            case e: Throwable => results.add(s"err:${e.getClass.getName}")
          }
        })
      }
      threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
      val rs = results.toArray.map(_.toString).toSeq.sorted
      assert(rs.count(_.startsWith("win")) == 1, s"iteration $i: $rs")
      assert(rs.count(_.startsWith("lose")) == 1, s"iteration $i: $rs")
      val winner = rs.find(_.startsWith("win")).get.stripPrefix("win")
      assert(GraftTable.meta(fs, dir, 0) == s"writer$winner",
        s"iteration $i: manifest serves the loser's metadata")
    }
  }

  test("commitNextIsolated: divergent racing writers never mix data — winner serves exactly its rows, vacuum reclaims the loser") {
    val dir = "target/tmp/race_isolated"
    val fs = GraftTable.fsOf(spark, dir)
    (0 until 5).foreach { i =>
      fs.delete(new Path(dir), true)
      GraftTable.commitNextIsolated(spark, dir,
        spark.range(0, 3).toDF("k"), "base")
      val latch = new java.util.concurrent.CountDownLatch(1)
      val outcome = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      // both writers stage DIVERGENT content for the SAME next version in
      // writer-private dirs (a shared v1 dir would let the winner
      // publish the loser's bytes),
      // then race the commit point
      val threads = Seq(("a", 10L), ("b", 20L)).map { case (tag, n) =>
        new Thread(() => {
          latch.await()
          val data = s"v1_$tag"
          try {
            spark.range(0, n).toDF("k").write.mode("overwrite")
              .parquet(s"$dir/$data")
            GraftTable.commit(fs, dir, 1, tag, Map("data" -> data))
            outcome.add(s"win:$tag:$n")
          } catch {
            case _: java.util.ConcurrentModificationException =>
              outcome.add(s"lose:$tag")
            case e: Throwable => outcome.add(s"err:${e.getClass.getName}")
          }
        })
      }
      threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
      val rs = outcome.toArray.map(_.toString).toSeq.sorted
      assert(rs.count(_.startsWith("win")) == 1, s"iteration $i: $rs")
      assert(rs.count(_.startsWith("lose")) == 1, s"iteration $i: $rs")
      val Array(_, winTag, winN) =
        rs.find(_.startsWith("win")).get.split(":")
      // the manifest names the WINNER's dir; its rows serve exactly
      assert(GraftTable.dataDirOf(fs, dir, 1) == s"v1_$winTag")
      assert(GraftTable.meta(fs, dir, 1) == winTag)
      assert(GraftTable.readVersion(spark, dir, 1).count() == winN.toLong,
        s"iteration $i: winner's version must serve the winner's bytes")
      // the loser's staging is an unreachable orphan until vacuum
      val loserTag = if (winTag == "a") "b" else "a"
      assert(fs.exists(new Path(s"$dir/v1_$loserTag")))
      assert(GraftTable.vacuum(fs, dir) == Seq(s"v1_$loserTag"))
      assert(!fs.exists(new Path(s"$dir/v1_$loserTag")))
      assert(GraftTable.readVersion(spark, dir, 1).count() == winN.toLong)
      assert(GraftTable.readVersion(spark, dir, 0).count() == 3)
    }
  }

  test("table_merge_upsert: pre-merge version is row-identical to the base snapshot AFTER the merge commit") {
    SparkEntry.queries("table_merge_upsert")(spark, sf).collect()
    val dir = s"target/tmp/gmerge_${new java.io.File(sf).getName}"
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    assert(GraftTable.meta(fs, dir, 0) == "base")
    assert(GraftTable.meta(fs, dir, 1) == "merged")
    val v0 = GraftTable.readVersion(spark, dir, 0)
      .orderBy("key").collect().toSeq
    val base = T.t(spark, sf, "customer")
      .select(col("c_custkey").as("key"), T.dec(col("c_acctbal")).as("bal"))
      .orderBy("key").collect().toSeq
    assert(v0 == base, "merge commit must not disturb the committed v0 data")
  }

  test("table_compact_version: file count drops across the OPTIMIZE commit; both versions stay readable") {
    SparkEntry.queries("table_compact_version")(spark, sf).collect()
    val dir = s"target/tmp/gcompact_${new java.io.File(sf).getName}"
    val fs = GraftTable.fsOf(spark, dir)
    def files(v: Int): Int =
      new java.io.File(s"$dir/${GraftTable.dataDirOf(fs, dir, v)}")
        .listFiles().count(_.getName.startsWith("part-"))
    assert(files(0) == 64, s"fragmented layout expected 64 shards, got ${files(0)}")
    assert(files(1) <= 4, s"compacted layout expected <=4 files, got ${files(1)}")
    assert(GraftTable.readVersion(spark, dir, 0).count() ==
      GraftTable.readVersion(spark, dir, 1).count())
  }

  test("scan_multifile_layout: many-directory layout, partition-pruned and filter-pushed scan") {
    val dir = Round12Ops.multifileLayout(spark, sf)
    val months = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("ship_month="))
    assert(months > 32, s"expected a many-directory layout, got $months")
    val df = Round12Ops.multifileScan(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), p.take(2000))
    assert(!p.contains("PartitionFilters: []"), p.take(2000))
    assert(p.contains("LessThan(l_quantity,25"), p.take(2000))
    // pruning must restrict the scan to the 12 selected month directories
    // (AQE wraps the plan in an AdaptiveSparkPlanExec LEAF — unwrap it)
    val unwrapped = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    val scanned = unwrapped.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }
    assert(scanned.contains(12), s"expected 12 pruned partitions, got $scanned of $months")
  }

  test("stream_outer_interval_join: null-padded click emits only after the watermark proves no match can arrive") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EvId]
    val q = StreamingOps.clickPurchaseLeftJoin(mem.toDF())
      .writeStream.format("memory").queryName("outerij")
      .outputMode(OutputMode.Append).start()
    // Batch 1: u1's click will never convert; u3's click converts at
    // 10:20. Watermark after this batch: 10:20 - 10 min = 10:10 — far
    // before u1's 11:00 interval end, so no null-padded row may exist.
    mem.addData(
      EvId(ts("2024-01-01 10:00:00"), "click", 0.0, 1L, 101L),
      EvId(ts("2024-01-01 10:00:00"), "click", 0.0, 3L, 102L),
      EvId(ts("2024-01-01 10:20:00"), "purchase", 9.5, 3L, 103L))
    q.processAllAvailable()
    val after1 = spark.table("outerij").collect()
    assert(!after1.exists(_.isNullAt(3)),
      s"null-padded row emitted before the watermark allowed it: ${after1.toSeq}")
    // Batch 2 advances BOTH sides' event time to 14:00 (the per-side
    // watermark nodes sit after the click/purchase filters, and the
    // query watermark is their MIN — a purchase alone would leave the
    // click watermark at 9:50 and block eviction forever) → watermark
    // 13:50, past 10:00 + 1 h + 10 min. The users are disjoint so batch
    // 2/3 rows match nothing. Batch 3 triggers the eviction flush.
    mem.addData(
      EvId(ts("2024-01-01 14:00:00"), "click", 0.0, 8L, 104L),
      EvId(ts("2024-01-01 14:00:00"), "purchase", 1.0, 9L, 105L))
    q.processAllAvailable()
    mem.addData(
      EvId(ts("2024-01-01 15:00:00"), "click", 0.0, 10L, 106L),
      EvId(ts("2024-01-01 15:00:00"), "purchase", 1.0, 11L, 107L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("outerij").collect()
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length == 1 && u1.head.isNullAt(3) && u1.head.isNullAt(4),
      s"expected exactly one null-padded row for u1's click, got ${rows.toSeq}")
    val u3 = rows.filter(_.getAs[Long]("user_id") == 3L)
    assert(u3.length == 1 && u3.head.getAs[Double]("p_val") == 9.5,
      s"matched pair must emit normally: ${rows.toSeq}")
  }

  test("mm_audio_energy: JDK WAV codec round-trip matches the closed-form integer waveform") {
    import graft.ops.Multimodal
    // codec path: real AudioSystem decode returns exactly the synthesized
    // integer sawtooth at the declared rate
    val (rate, samples) = Multimodal.decodeWav(Multimodal.wavPayload(42L))
    assert(rate == 8000)
    assert(samples.length == Multimodal.wavSampleCount(42L))
    assert(samples.toSeq ==
      samples.indices.map(i => Multimodal.sampleAt(42L, i)))
    // pipeline features for one doc vs a from-scratch recompute that
    // never touches the WAV bytes
    val row = SparkEntry.queries("mm_audio_energy")(spark, sf)
      .filter(col("doc_id") === 7L).collect()(0)
    val n = Multimodal.wavSampleCount(7L)
    val sig = (0 until n).map(i => Multimodal.sampleAt(7L, i).toDouble)
    val rms = sig.grouped(256).map { fr =>
      math.sqrt(fr.map(s => s * s).sum / fr.length)
    }.toSeq
    assert(row.getAs[Int]("n_samples") == n)
    assert(row.getAs[Int]("n_frames") == rms.length)
    assert(row.getAs[Int]("peak_frame") == rms.indexOf(rms.max))
    assert(row.getAs[Double]("peak_rms") ==
      graft.expr.DuckRound.round(rms.max, 6))
    assert(row.getAs[Double]("mean_rms") ==
      graft.expr.DuckRound.round(rms.sum / rms.length, 6))
  }

  test("retention GC understands isolated data dirs: old versions' uuid dirs are reclaimed, retained ones kept") {
    val dir = "target/tmp/gisogc"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    // four isolated commits with retain=1 on the last: versions 0 and 1
    // (below v - retain = 2) must lose their DATA dirs, 2 and 3 stay
    (0 to 2).foreach { i =>
      GraftTable.commitNextIsolated(spark, dir,
        spark.range(0, 3 + i).toDF("k"), s"v$i")
    }
    val fourth = spark.range(0, 9).toDF("k")
    val fsNames0 = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    assert(fsNames0.count(_.startsWith("v")) == 3, fsNames0)
    // retain=1 on the v3 commit triggers GC of v0/v1 data
    val v3 = {
      val v = GraftTable.readManifest(fs, dir).map(_._1 + 1).getOrElse(0)
      val data = s"v${v}_gc-test"
      fourth.write.parquet(s"$dir/$data")
      GraftTable.commit(fs, dir, v, "v3", Map("data" -> data), retain = 1)
      v
    }
    assert(v3 == 3)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    // commit HISTORY intact, old data dirs gone, retained dirs present
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2, 3))
    assert(!names.exists(n => n.startsWith("v0_") || n.startsWith("v1_")),
      s"retention must reclaim isolated v0/v1 data dirs: $names")
    assert(GraftTable.readVersion(spark, dir, 2).count() == 5)
    assert(GraftTable.readVersion(spark, dir, 3).count() == 9)
    intercept[IllegalArgumentException] {
      GraftTable.readVersion(spark, dir, 0)
    }
  }

  test("sink_range_clustered: per-file l_shipdate ranges are pairwise disjoint (min/max skipping is effective)") {
    val dir = graft.ops.Round12Ops.rangeClusteredLayout(spark, sf)
    // compare in epoch-µs: the written file round-trips as NTZ
    val tsUs = unix_micros(col("l_shipdate")
      .cast(org.apache.spark.sql.types.TimestampType))
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(tsUs).as("lo"), max(tsUs).as("hi"))
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1, "range clustering should produce several files")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(lo2 >= hi,
          s"file ranges overlap: hi=$hi lo2=$lo2 — min/max skipping defeated")
      case _ =>
    }
  }

  test("graft_version/graft_changes: the version history is queryable from plain SQL") {
    val dir = "target/tmp/gtvf"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 5).toDF("k"), "v0")
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 8).toDF("k"), "v1")
    Graft.registerFunctions(spark)
    assert(spark.sql(s"SELECT * FROM graft_version('$dir', 0)").count() == 5)
    assert(spark.sql(s"SELECT * FROM graft_version('$dir', 1)").count() == 8)
    val delta = spark.sql(s"SELECT k FROM graft_changes('$dir', 1) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(delta == Seq(5L, 6L, 7L))
    // TVFs compose like any relation: join the delta in SQL
    val joined = spark.sql(
      s"SELECT COUNT(*) FROM graft_changes('$dir', 1) c " +
        s"JOIN graft_version('$dir', 1) v ON c.k = v.k")
      .collect()(0).getLong(0)
    assert(joined == 3)
  }

  test("graft_changes via spark.sql.extensions: the TVFs inject cluster-wide, no per-session call") {
    val dir = "target/tmp/gtvf_ext"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 4).toDF("k"), "v0")
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 6).toDF("k"), "v1")
    // fresh session built WITH the extensions (RangeJoinRuleSpec's
    // pattern) — no Graft.registerFunctions call anywhere
    val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]").withExtensions(new GraftExtensions).getOrCreate()
      val delta = s2.sql(s"SELECT k FROM graft_changes('$dir', 1) ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(delta == Seq(4L, 5L))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(prevDefault.orNull)
      org.apache.spark.sql.SparkSession.setActiveSession(prevActive.orNull)
    }
  }

  test("Observation: observe() metrics match the query's own aggregates (pipeline monitoring surface)") {
    // the observability idiom a production pipeline attaches to every
    // stage: named metrics ride the SAME job as the real work (no
    // second scan), collected driver-side after the action
    val obs = org.apache.spark.sql.Observation("graft_metrics")
    val df = T.t(spark, sf, "orders")
      .observe(obs, count(lit(1)).as("n"),
        sum(T.dec(col("o_totalprice"))).as("total"))
      .filter(col("o_totalprice") > 0)
    df.count()
    val direct = T.t(spark, sf, "orders")
      .agg(count(lit(1)), sum(T.dec(col("o_totalprice")))).collect()(0)
    assert(obs.get("n") == direct.getLong(0))
    assert(obs.get("total") == direct.getDecimal(1))
  }

  test("CACHE TABLE surface: cached relation serves from InMemoryTableScan, then uncaches") {
    val name = "r12_cache_probe"
    T.t(spark, sf, "nation").createOrReplaceTempView(name)
    spark.catalog.cacheTable(name)
    try {
      val df = spark.table(name).groupBy("n_regionkey").count()
      df.collect() // materialize the cache
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan") ||
        p.contains("TableCacheQueryStage") || p.contains("InMemoryRelation"),
        p)
    } finally {
      spark.catalog.uncacheTable(name)
      spark.catalog.dropTempView(name)
    }
    ()
  }

  test("readAsOf: timestamp time-travel resolves the snapshot current at each instant") {
    val dir = "target/tmp/gasof"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 3).toDF("k"), "v0")
    // commit instants come from the ts= header the WRITER recorded (ms
    // wall clock inside the commit file) — NOT from FS mtime, whose
    // granularity is filesystem-dependent (the round-12 advisory). The
    // 2 ms sleep only guarantees distinct millisecond readings.
    val t0 = GraftTable.commitTimeMs(fs, dir, 0)
    Thread.sleep(2)
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 8).toDF("k"), "v1")
    val t1 = GraftTable.commitTimeMs(fs, dir, 1)
    assert(t1 > t0, "publish instants must be distinguishable")
    // at t0 the table was v0; at t1 (and after) it is v1; before t0 it
    // did not exist
    assert(GraftTable.readAsOf(spark, dir, t0).count() == 3)
    assert(GraftTable.readAsOf(spark, dir, t1).count() == 8)
    assert(GraftTable.readAsOf(spark, dir, t1 + 60000).count() == 8)
    intercept[RuntimeException] {
      GraftTable.readAsOf(spark, dir, t0 - 60000)
    }
  }

  test("checkedCommit: expectation violations refuse the commit by name; no version is created") {
    import spark.implicits._
    val dir = "target/tmp/gchecked"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    val rules = Seq(
      "k_not_null" -> col("k").isNotNull,
      "v_positive" -> (col("v") > 0))
    val good = Seq((Option(1L), 10.0), (Option(2L), 20.0)).toDF("k", "v")
    assert(GraftTable.checkedCommit(spark, dir, good, rules, "ok") == 0)
    // one row violates each rule (a NULL predicate counts as a violation)
    val bad = Seq((Option(3L), -5.0), (Option.empty[Long], 1.0)).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      GraftTable.checkedCommit(spark, dir, bad, rules, "bad")
    }
    assert(e.getMessage.contains("k_not_null=1"), e.getMessage)
    assert(e.getMessage.contains("v_positive=1"), e.getMessage)
    // the refused write left NO trace: same single version, same rows
    assert(GraftTable.versions(fs, dir) == Seq(0))
    assert(GraftTable.read(spark, dir).count() == 2)
  }

  test("cdcSubscribe drives incremental MV maintenance to the batch fixpoint") {
    val src = "target/tmp/cdcmv_src"
    val mv = "target/tmp/cdcmv_mv"
    val ckpt = "target/tmp/cdcmv_ckpt"
    val fs = GraftTable.fsOf(spark, src)
    Seq(src, mv, ckpt).foreach(p => fs.delete(new Path(p), true))
    // the onDelta handler = table_cdc_maintain_agg's fold, driven by the
    // SUBSCRIPTION instead of a batch loop: per-bucket (cnt, sum)
    // partials merged into the previous MV state
    def fold(delta: org.apache.spark.sql.DataFrame): Unit = {
      val part = delta.groupBy((col("k") % 3).as("b"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("s"))
      val merged = GraftTable.readManifest(fs, mv) match {
        case Some(_) => GraftTable.read(spark, mv).unionByName(part)
          .groupBy("b").agg(sum(col("cnt")).as("cnt"), sum(col("s")).as("s"))
        case None => part
      }
      GraftTable.commitNextIsolated(spark, mv, merged)
    }
    GraftTable.commitNextIsolated(spark, src, spark.range(0, 5).toDF("k"), "v0")
    val q = GraftTable.cdcSubscribe(spark, src, ckpt,
      (_, _, delta) => fold(delta))
    q.processAllAvailable()
    GraftTable.commitNextIsolated(spark, src, spark.range(0, 9).toDF("k"), "v1")
    q.processAllAvailable()
    GraftTable.commitNextIsolated(spark, src, spark.range(0, 12).toDF("k"), "v2")
    q.processAllAvailable()
    q.stop()
    val got = GraftTable.read(spark, mv).orderBy("b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = spark.range(0, 12).toDF("k")
      .groupBy((col("k") % 3).as("b"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("s"))
      .orderBy("b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"subscription-maintained MV $got != recompute $want")
    // three source versions → three MV versions (one fold per delta)
    assert(GraftTable.versions(fs, mv) == Seq(0, 1, 2))
  }

  test("GraftTable cdcSubscribe: each version's delta exactly once; checkpoint restart never replays") {
    val dir = "target/tmp/cdc_gtable"
    val ckpt = "target/tmp/cdc_ckpt"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    fs.delete(new Path(ckpt), true)
    val received =
      collection.mutable.ListBuffer[(Int, String, Seq[Long])]()
    def onDelta(v: Int, m: String,
        delta: org.apache.spark.sql.DataFrame): Unit = {
      val keys = delta.collect().map(_.getLong(0)).toSeq.sorted
      received.synchronized { received += ((v, m, keys)) }
    }
    // v0 exists before subscribing (and is itself a delta to deliver)
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 5).toDF("k"), "v0")
    val q = GraftTable.cdcSubscribe(spark, dir, ckpt, onDelta)
    q.processAllAvailable()
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 8).toDF("k"), "v1")
    q.processAllAvailable()
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 10).toDF("k"), "v2")
    q.processAllAvailable()
    q.stop()
    assert(received.toList == List(
      (0, "v0", Seq(0L, 1L, 2L, 3L, 4L)),
      (1, "v1", Seq(5L, 6L, 7L)),
      (2, "v2", Seq(8L, 9L))), received.toList)
    // Restart against the same checkpoint: nothing replays…
    val q2 = GraftTable.cdcSubscribe(spark, dir, ckpt, onDelta)
    q2.processAllAvailable()
    assert(received.size == 3, s"restart replayed commits: ${received.toList}")
    // …and a post-restart commit arrives exactly once.
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 12).toDF("k"), "v3")
    q2.processAllAvailable()
    q2.stop()
    assert(received.toList.last == ((3, "v3", Seq(10L, 11L))), received.toList)
    assert(received.size == 4, received.toList)
  }
}
