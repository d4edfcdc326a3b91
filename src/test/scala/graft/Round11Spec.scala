package graft

import org.apache.spark.sql.functions._

/** Round-11 hardening specs. */
class Round11Spec extends SparkSpec {

  test("etl_incremental_watermark: crash between stage and commit cannot double-count") {
    val dir = "target/tmp/wmetl_crash"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val cut1 = 1705276800000000L // Jan 15 00:00 UTC

    // run 1 commits normally
    ops.Round10Ops.incrementalDailyLoad(spark, sf, dir, cut1)
    def table() = ops.Round10Ops.currentDaily(spark, dir)
      .select(col("day"), col("cnt"), T.money(col("sv")).as("sum_val"))
      .orderBy("day").collect().toSeq
    val afterRun1 = table()

    // run 2 "crashes": the next version is fully staged on disk but the
    // manifest commit never happens — the exact window the old
    // swap-then-write-watermark sequence double-counted in
    val (_, crashed) =
      ops.Round10Ops.stageDailyVersion(spark, sf, dir, Long.MaxValue)

    // a reader AFTER the crash still resolves run 1's table and
    // watermark — the orphaned staging dir is invisible
    assert(ops.Round10Ops.currentWatermark(spark, dir) === cut1)
    assert(table() === afterRun1,
      "reader observed an uncommitted staged version")

    // the RETRY of run 2 must converge to the one-shot recompute — the
    // staged-but-uncommitted batch must not be applied twice
    ops.Round10Ops.incrementalDailyLoad(spark, sf, dir, Long.MaxValue)
    val oneShot = T.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        T.money(sum(T.dec(col("value")))).as("sum_val"))
      .orderBy("day").collect().toSeq
    assert(table() === oneShot,
      "retry after stage-crash double-counted the last batch")
    assert(ops.Round10Ops.currentWatermark(spark, dir) === Long.MaxValue)
    // the crashed run's dir was never named by a commit: vacuum reclaims
    // exactly it, and every dir the retained versions name survives
    val live = sources.GraftTable.versions(fs, dir)
      .flatMap(v => sources.GraftTable.dataDirsOf(fs, dir, v))
    assert(!live.contains(crashed("data")))
    assert(sources.GraftTable.vacuum(fs, dir) === Seq(crashed("data")))
    live.foreach(d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d")), d))
    assert(table() === oneShot)
  }

  test("vec_ivf_index_serve: store-served result equals the from-scratch funnel; store is cid-partitioned") {
    val served = SparkEntry.queries("vec_ivf_index_serve")(spark, sf).collect().toSeq
    val funnel = SparkEntry.queries("vec_ivf_pq_topk")(spark, sf).collect().toSeq
    assert(served === funnel,
      "incremental ingest + store-served probe diverged from the one-shot funnel")
    // both store tables are physically partitioned by the coarse bucket,
    // so the nprobe restriction at serve time is a partition prune
    val base = s"target/tmp/ivfidx_${new java.io.File(sf).getName}"
    for (tbl <- Seq("assign", "codes")) {
      val parts = new java.io.File(s"$base/$tbl").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cid="))
      assert(parts.length >= 2, s"$tbl store not partitioned by cid: ${parts.toSeq}")
    }
  }

  test("report_pattern_latency: span decomposition agrees with the regex count; latencies sane") {
    import org.apache.spark.sql.Row
    val lat = SparkEntry.queries("report_pattern_latency")(spark, sf)
      .collect().map { case Row(u: Long, d: java.sql.Date, n: Int, m: Double) =>
        ((u, d.toString), (n, m)) }.toMap
    val conv = SparkEntry.queries("report_pattern_conversions")(spark, sf)
      .collect().map { case Row(u: Long, d: java.sql.Date, _: Int, n: Int) =>
        ((u, d.toString), n) }.toMap
    // the windowed span decomposition must count EXACTLY the greedy
    // leftmost non-overlapping regex matches — same keys, same counts
    assert(lat.keySet === conv.keySet)
    lat.foreach { case (k, (n, m)) =>
      assert(n === conv(k), s"span count != regex count at $k")
      assert(m > 0, s"non-positive median latency at $k: a purchase cannot precede its view")
    }
  }

  test("phashNearDup: 8-band candidate set equals brute force at the default radius") {
    val ph = ops.Multimodal.phashTable(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for {
      (a, ha) <- ph; (b, hb) <- ph
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    val got = ops.Multimodal.phashNearDup(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact set equality: pigeonhole banding + exact re-check must have
    // 100% recall AND no false pairs — the round-10 4x16 banding was
    // only complete at radius 3 and this assertion is what was missing
    assert(got === expect,
      s"missed: ${(expect -- got).take(5)}; spurious: ${(got -- expect).take(5)}")
    // the guarantee boundary is enforced, not assumed
    intercept[IllegalArgumentException] {
      ops.Multimodal.phashNearDup(spark, sf, maxHamming = 8)
    }
  }

  test("text_winnow_neardup: docs shorter than one window are excluded, not mis-hashed") {
    // The fixture corpus has min doc length 44, so the short-doc path
    // only exists in regenerated testdata — drive the EXPRESSION
    // directly with a synthetic short doc to pin the guard. A 10-char
    // doc must contribute zero fingerprint rows (not an ANSI index
    // error, not an ascii('')=0-padded hash).
    import spark.implicits._
    val docs = Seq((1L, "short text"), (2L, "x" * 40)).toDF("doc_id", "text")
    docs.createOrReplaceTempView("r11_short_docs")
    val P = (0 until 16).map(k => BigInt(31).modPow(k, 1000003).toLong)
    val terms = (0 until 16)
      .map(k => s"element_at(cs, i + ${15 - k}) * ${P(k)}L").mkString(" + ")
    val fps = spark.sql(
      s"""SELECT doc_id, explode(filter(transform(sequence(1, size(cs) - 15),
         |i -> ($terms) % 1000003), x -> x % 32 = 0)) AS fp
         |FROM (SELECT doc_id, transform(split(text, ''), c -> ascii(c)) AS cs
         |      FROM r11_short_docs WHERE length(text) >= 16)""".stripMargin)
      .collect().map(_.getLong(0))
    assert(!fps.contains(1L), "10-char doc produced fingerprints")
  }

  test("upsertBatch: no committed row is lost across swaps; old dir cleaned up") {
    import spark.implicits._
    val dir = "target/tmp/upsert_r11"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.delete(new org.apache.hadoop.fs.Path(dir + ".old"), true)
    fs.delete(new org.apache.hadoop.fs.Path(dir + ".next"), true)
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val t1 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T00:00:00Z"))
    val b1 = Seq((1L, t0, 10L, "view", 1.0), (2L, t0, 11L, "click", 2.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val b2 = Seq((1L, t1, 12L, "purchase", 3.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    ops.StreamingOps.upsertBatch(spark, b1, dir)
    ops.StreamingOps.upsertBatch(spark, b2, dir)
    val rows = spark.read.parquet(dir)
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // user 1 upserted to its latest event, user 2 untouched
    assert(rows === Seq((1L, 12L), (2L, 11L)))
    // the rename-aside scratch dirs do not accumulate
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".next")))
  }

  test("file-source streaming survives a restart: checkpointed watermark finalizes windows exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = "target/tmp/fstream"
    val srcDir = s"$base/src"; val cpDir = s"$base/cp"; val outDir = s"$base/out"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    // split events at the time midpoint: file batch 1 = early half,
    // file batch 2 = late half (so batch 2's data advances the watermark
    // past batch 1's windows)
    val ev = T.events(spark, sf).select(col("ts"), col("event_type"), col("value"))
    val Array(tmin, tmax) = ev.agg(unix_micros(min("ts")), unix_micros(max("ts")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val tmid = tmin + (tmax - tmin) / 2
    ev.filter(unix_micros(col("ts")) <= tmid).write.mode("append").parquet(srcDir)

    def runAvailable(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
      val q = ops.StreamingOps.tumblingStream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", cpDir)
        .option("path", outDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not self-terminate")
    }

    // run 1: watermark starts at epoch → nothing finalizes yet
    runAvailable()
    // run 2: RESTART from the checkpoint with the late half appended.
    // The recovered watermark is max(batch-1 ts) − 10 min, so exactly
    // the batch-1 windows that closed before it must emit — once.
    ev.filter(unix_micros(col("ts")) > tmid).write.mode("append").parquet(srcDir)
    runAvailable()

    // After run 2's data batch, a no-data batch advances the watermark
    // to max(all ts) − 10 min and finalizes every window closed before
    // it — so the sink must equal the batch aggregate restricted to
    // those windows, with NO duplicates from the restart.
    val wm2 = tmax - 10L * 60 * 1000000
    val expected = ops.StreamingOps.tumblingAgg(ev)
      .filter(unix_micros(col("ws")) + 3600000000L <= wm2)
      .orderBy("ws", "event_type").collect().toSeq
    val emitted = spark.read.parquet(outDir)
      .orderBy("ws", "event_type").collect().toSeq
    assert(emitted.nonEmpty, "restart finalized no windows")
    assert(emitted === expected,
      "checkpoint-recovered stream diverged from the batch aggregate")
  }

  test("GraftTable: staged-but-uncommitted invisible; time travel exact; retention GCs data, keeps history") {
    import graft.sources.GraftTable
    import spark.implicits._
    val dir = "target/tmp/gtable_spec"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

    val v0rows = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val v1rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    assert(GraftTable.commitNextIsolated(spark, dir, v0rows, "first") === 0)

    // stage v1 WITHOUT commit: latest read must still be v0
    val staged1 = GraftTable.stage(v1rows, dir, 1)
    assert(GraftTable.read(spark, dir).count() === 2)
    assert(GraftTable.versions(fs, dir) === Seq(0))

    // commit v1; v0 stays readable by number with its metadata (time travel)
    GraftTable.commit(fs, dir, 1, "second", Map("data" -> staged1))
    assert(GraftTable.read(spark, dir).count() === 3)
    assert(GraftTable.readVersion(spark, dir, 0).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(GraftTable.meta(fs, dir, 0) === "first")
    assert(GraftTable.versions(fs, dir) === Seq(0, 1))

    // a reader that resolved v1 BEFORE the next commit keeps its
    // snapshot (immutable data dirs)
    val snapshot = GraftTable.read(spark, dir)
    assert(GraftTable.commitNextIsolated(spark, dir, v0rows, "third") === 2)
    assert(snapshot.count() === 3)

    // retention: commit v3 with retain=1 → v0/v1 data gone, commit
    // history intact, readVersion fails loudly for the GC'd version
    GraftTable.commit(fs, dir, 3, "fourth",
      Map("data" -> GraftTable.stage(v1rows, dir, 3)), retain = 1)
    assert(GraftTable.versions(fs, dir) === Seq(0, 1, 2, 3))
    assert(GraftTable.readVersion(spark, dir, 2).count() === 2)
    intercept[IllegalArgumentException] {
      GraftTable.readVersion(spark, dir, 0)
    }
    // never-committed version also fails loudly
    intercept[IllegalArgumentException] {
      GraftTable.readVersion(spark, dir, 9)
    }

    // optimistic concurrency: two writers race version 4 — each stages
    // to its own dir, exactly one commit wins, the loser throws instead
    // of silently last-writer-winning, and the winner's metadata and
    // rows survive the attempt
    val winner = GraftTable.stage(v0rows, dir, 4)
    val loser = GraftTable.stage(v1rows, dir, 4)
    assert(winner != loser)
    GraftTable.commit(fs, dir, 4, "winner", Map("data" -> winner))
    intercept[java.util.ConcurrentModificationException] {
      GraftTable.commit(fs, dir, 4, "loser", Map("data" -> loser))
    }
    assert(GraftTable.meta(fs, dir, 4) === "winner")
    assert(GraftTable.dataDirOf(fs, dir, 4) === winner)
    assert(GraftTable.read(spark, dir).count() === 2)
    assert(GraftTable.vacuum(fs, dir) === Seq(loser))
  }

  test("T.events ns-long branch: a synthetic nanos-encoded events table yields the same contract") {
    // The LongType branch has been dormant since the round-9 testdata
    // regeneration switched to timestamp[us]; this synthetic fixture
    // keeps it LIVE-tested so a future ns regeneration can't surprise.
    // Spark can't write timestamp[ns] parquet, but nanosAsLong surfaces
    // ns as a plain LONG named ts — which is exactly what the branch
    // dispatches on, so a LONG ts column IS the branch's input shape.
    import spark.implicits._
    val dir = "target/tmp/ns_events"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val nsBase = 1705312800000000000L // 2024-01-15T10:00:00Z in epoch-ns
    Seq(
      (1L, nsBase + 123456789L, 10L, "click", 1.5, "{}"),
      (2L, nsBase + 999L, 11L, "purchase", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = T.events(spark, dir)
    assert(ev.schema.fields.map(f => (f.name, f.dataType)).toSeq === Seq(
      "event_id" -> org.apache.spark.sql.types.LongType,
      "ts_ns" -> org.apache.spark.sql.types.LongType,
      "user_id" -> org.apache.spark.sql.types.LongType,
      "event_type" -> org.apache.spark.sql.types.StringType,
      "value" -> org.apache.spark.sql.types.DoubleType,
      "props" -> org.apache.spark.sql.types.StringType,
      "ts" -> org.apache.spark.sql.types.TimestampType))
    val rows = ev.orderBy("event_id")
      .select(col("ts_ns"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ts_ns keeps full ns precision; ts truncates to µs by integer div
    assert(rows(0) === ((nsBase + 123456789L, (nsBase + 123456789L) / 1000)))
    assert(rows(1) === ((nsBase + 999L, nsBase / 1000)))
  }

  test("relation cache: cold concurrent events/t access never deadlocks or recurses") {
    // the round-11 'Recursive update' bug was identity-hash dependent —
    // a fresh session makes every cache key cold, and 8 threads racing
    // events() (whose builder itself calls t()) plus all 10 tables
    // exercises the nested-resolution path under contention
    val s2 = org.apache.spark.sql.graft.GraftSqlBridge.cloneSession(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 24).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            if (i % 3 == 0) T.events(s2, sf).count()
            else T.t(s2, sf, T.tables(i % T.tables.size)).count()
        })
      }
      tasks.foreach { f =>
        assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) > 0)
      }
    } finally pool.shutdown()
  }

  test("text_minhash_index_serve: store-served assignment equals from-scratch; two committed versions") {
    val served = SparkEntry.queries("text_minhash_index_serve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val scratch = ops.MinHashDedup.dedupAssign(T.t(spark, sf, "documents"))
      .select(col("doc_id"), col("rep"),
        (col("doc_id") =!= col("rep")).as("is_dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(served === scratch,
      "incremental signature ingest changed the dedup assignment")
    assert(served.nonEmpty)
    // the store really is versioned: one commit per ingest chunk
    val dir = s"target/tmp/mhidx_${new java.io.File(sf).getName}"
    val fs = graft.sources.GraftTable.fsOf(spark, dir)
    assert(graft.sources.GraftTable.versions(fs, dir) === Seq(0, 1))
    // snapshot v0 holds exactly the first chunk's signature rows
    val v0 = graft.sources.GraftTable.readVersion(spark, dir, 0)
    assert(v0.filter(pmod(col("doc_id"), lit(2)) =!= 0).count() === 0)
  }

  test("etl_llm_corpus_pipeline: stages compose — dedup'd, decontaminated, fully packed") {
    val out = SparkEntry.queries("etl_llm_corpus_pipeline")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // every accepted doc lands in exactly one bin: per source, doc
    // ranges of consecutive bins must not overlap
    out.groupBy(_.getAs[String]("source")).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getAs[Long]("seq_id"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ => ()
      }
      // packing invariant: every bin except possibly the last crosses
      // its 2048 boundary (cum div 2048 can only advance when it does)
      sorted.init.foreach { r =>
        assert(r.getAs[Long]("tokens") > 0L && r.getAs[Long]("n_docs") > 0L)
      }
    }
    // the gate actually gates: accepted docs < corpus docs (bench split
    // alone guarantees strictness at every SF)
    val accepted = out.map(_.getAs[Long]("n_docs")).sum
    val total = T.t(spark, sf, "documents").count()
    assert(accepted < total)
    // no bench doc survives: first/last doc ids are never % 97 == 0
    out.foreach { r =>
      assert(r.getAs[Long]("first_doc") % 97 != 0L)
      assert(r.getAs[Long]("last_doc") % 97 != 0L)
    }
  }
}
