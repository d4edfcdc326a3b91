package graft

import org.apache.spark.sql.functions._

case class UpEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
  event_type: String, value: Double)

/** Round-10: multi-table sign-LSH ANN (`vec_lsh_topk`) and the
  * foreachBatch incremental upsert sink. */
class Round10Spec extends SparkSpec {

  private def lsh = ops.Round10Ops.queries("vec_lsh_topk")(spark, sf)

  test("vec_lsh_topk: 10 rows, cos_sim non-increasing, probe excluded") {
    val rows = lsh.collect()
    assert(rows.length === 10)
    val sims = rows.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("vec_lsh_topk: recall vs brute force and candidate-fraction bound") {
    Graft.registerFunctions(spark)
    val e = T.t(spark, sf, "embeddings")
    val n = e.count()
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("p_emb")))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(probe)
      .select(col("vec_id"), expr("graft_cosine(embedding, p_emb)").as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = lsh.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(got).size / 10.0
    // Deterministic funnel on deterministic data: sf0.001 measures 0.8
    // exactly. ≥ 0.5 leaves seed-regeneration headroom on a corpus whose
    // true neighbors sit at cosine ≈ 0.35 (the hard, near-isotropic case).
    assert(recall >= 0.5, s"recall@10 = $recall < 0.5")
    // The prune must be real: candidates ≤ 40% of the corpus (measures
    // ≈ 26% at k=8, L=8, radius-1 across all three SFs).
    val hyps = broadcast(e.filter(col("vec_id").between(8, 71))
      .select((col("vec_id") - 8).cast("int").as("hid"),
        col("embedding").as("h_emb")))
    val sig = e.crossJoin(hyps)
      .select(col("vec_id"), expr("hid div 8").as("tid"),
        when(expr("graft_cosine(embedding, h_emb)") >= 0,
          expr("shiftleft(1L, hid % 8)")).otherwise(lit(0L)).as("bit"))
      .groupBy("vec_id", "tid").agg(sum("bit").as("bucket"))
    val cand = sig.filter(col("vec_id") === 0)
      .select(col("tid"), explode(sequence(lit(0), lit(8))).as("j"), col("bucket"))
      .select(col("tid"), when(col("j") === 8, col("bucket"))
        .otherwise(expr("bucket ^ shiftleft(1L, j)")).as("bucket"))
    val nCand = sig.filter(col("vec_id") =!= 0)
      .join(broadcast(cand), Seq("tid", "bucket"))
      .select("vec_id").distinct().count()
    assert(nCand <= 0.4 * n, s"LSH scanned $nCand of $n — prune not real")
    assert(nCand >= 10, s"only $nCand candidates — buckets degenerate")
  }

  test("vec_lsh_batch_topk: 8 probes x top-5, per-probe ranks total, no self-matches") {
    val rows = ops.Round10Ops.queries("vec_lsh_batch_topk")(spark, sf).collect()
    assert(rows.length === 40)
    val byProbe = rows.groupBy(_.getAs[Long]("p_id"))
    assert(byProbe.keySet === (1L to 8L).toSet)
    byProbe.foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to 5))
      assert(!rs.map(_.getAs[Long]("vec_id")).contains(p), s"self-match for probe $p")
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("Graft LSH library API reproduces the key's candidate set exactly") {
    Graft.registerFunctions(spark)
    val e = T.t(spark, sf, "embeddings")
    val hyps = e.filter(col("vec_id").between(8, 71))
      .select((col("vec_id") - 8).cast("int").as("hid"),
        col("embedding").as("h_emb"))
    val sigs = Graft.lshSignatures(e, hyps, k = 8, l = 8)
    val pb = Graft.lshProbeBuckets(sigs.filter(col("vec_id") === 0), k = 8)
    val apiCands = Graft.lshCandidates(sigs, pb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // Inline funnel (the oracle-gated key's shape), re-derived:
    val sig = e.crossJoin(broadcast(e.filter(col("vec_id").between(8, 71))
        .select((col("vec_id") - 8).cast("int").as("hid"),
          col("embedding").as("h_emb"))))
      .select(col("vec_id"), expr("hid div 8").as("tid"),
        when(expr("graft_cosine(embedding, h_emb)") >= 0,
          expr("shiftleft(1L, hid % 8)")).otherwise(lit(0L)).as("bit"))
      .groupBy("vec_id", "tid").agg(sum("bit").as("bucket"))
    val cand = sig.filter(col("vec_id") === 0)
      .select(col("tid"), explode(sequence(lit(0), lit(8))).as("j"), col("bucket"))
      .select(col("tid"), when(col("j") === 8, col("bucket"))
        .otherwise(expr("bucket ^ shiftleft(1L, j)")).as("bucket"))
    val inlineCands = sig.filter(col("vec_id") =!= 0)
      .join(broadcast(cand), Seq("tid", "bucket"))
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(apiCands === inlineCands)
    assert(apiCands.nonEmpty)
  }

  test("vec_lsh_index_serve: store-served result equals the from-scratch funnel; store is tid-partitioned") {
    val fresh = ops.Round10Ops.queries("vec_lsh_topk")(spark, sf).collect().toSeq
    val served = ops.Round10Ops.queries("vec_lsh_index_serve")(spark, sf).collect().toSeq
    assert(served === fresh,
      "incremental signature ingest changed the served result")
    // Store layout: one directory per LSH table id → a serving read with
    // a tid predicate is partition-pruned to 1/L of the index.
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path("target/tmp/lshidx_sf0.001")
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("tid=")).sorted
    assert(parts.toSeq === (0 until 8).map(i => s"tid=$i"))
  }

  test("text_winnow_neardup: catches every exact-dup pair above the length boundary (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    val docs = T.t(spark, big, "documents")
    val a = docs.select(col("doc_id").as("a_id"), col("text"),
      length(col("text")).as("la"))
    val b = docs.select(col("doc_id").as("b_id"), col("text"),
      length(col("text")).as("lb"))
    val exactPairs = a.join(b, Seq("text"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "la", "lb").collect()
    assert(exactPairs.length >= 5, "fixture drifted: expected dup groups at sf0.1")
    val got = ops.Round10Ops.queries("text_winnow_neardup")(spark, big)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Above ~3·32+15 chars the expected selected-fingerprint count is
    // ≥ 3 with margin; every exact-dup pair there must surface. Short
    // dups below the boundary are text_exact_dedup's responsibility.
    val longPairs = exactPairs.filter(r =>
      math.min(r.getAs[Int]("la"), r.getAs[Int]("lb")) >= 150)
    assert(longPairs.nonEmpty)
    longPairs.foreach { r =>
      val p = (r.getLong(0), r.getLong(1))
      assert(got.contains(p), s"long exact-dup pair $p missed by winnow")
    }
  }

  test("etl_incremental_watermark: N runs == one recompute; empty run is a no-op; watermark advances") {
    val dir = "target/tmp/wmetl_test"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // three uneven incremental runs instead of the key's two
    Seq(1704844800000000L, 1705708800000000L, Long.MaxValue).foreach { cut =>
      ops.Round10Ops.incrementalDailyLoad(spark, sf, dir, cut)
    }
    def table() = ops.Round10Ops.currentDaily(spark, dir)
      .select(col("day"), col("cnt"), T.money(col("sv")).as("sum_val"))
      .orderBy("day").collect().toSeq
    val threeRuns = table()
    // the daily store is an ordinary GraftTable: the generic manifest
    // read serves it, and retain = 1 left the last two version dirs
    assert(sources.GraftTable.read(spark, dir).collect().toSet ==
      ops.Round10Ops.currentDaily(spark, dir).collect().toSet)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath
      .getName).filter(_.startsWith("v")).sorted.toSeq ==
      Seq(1, 2).map(sources.GraftTable.dataDirOf(fs, dir, _)))
    val oneShot = T.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        T.money(sum(T.dec(col("value")))).as("sum_val"))
      .orderBy("day").collect().toSeq
    assert(threeRuns === oneShot)
    // watermark is at the frontier; a fourth run finds nothing new and
    // must leave the table byte-identical
    assert(ops.Round10Ops.currentWatermark(spark, dir) === Long.MaxValue)
    ops.Round10Ops.incrementalDailyLoad(spark, sf, dir, Long.MaxValue)
    assert(table() === threeRuns)
    // Scale posture: the frontier predicate must reach the parquet scan
    // (pushed min/max filter on ts), not evaluate post-scan on a derived
    // column — otherwise every incremental run re-scans the history.
    val plan = T.events(spark, sf)
      .filter(col("ts") > timestamp_micros(lit(1705276800000000L)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      s"frontier filter not pushed to scan:\n${plan.take(800)}")
  }

  test("mm_phash_neardup: closed-form hash parity, pair validity, brightness-invariant dup found") {
    // Recompute every aHash from the synthetic gradient's closed form —
    // no ImageIO — proving the decode→sample→threshold path end to end
    // (PNG is lossless and TYPE_3BYTE_BGR stores sRGB verbatim).
    def expectedHash(docId: Long, textLen: Int): Long = {
      val w = 16 + (docId % 48).toInt
      val h = 16 + math.floorMod(textLen, 48)
      val base = (docId % 255).toInt
      val lum = (0 until 64).map { i =>
        val x = (i % 8) * w / 8; val y = (i / 8) * h / 8
        val v = (x * 31 + y * 7 + base) & 0xFFFFFF
        (299 * ((v >> 16) & 0xFF) + 587 * ((v >> 8) & 0xFF) +
          114 * (v & 0xFF)) / 1000
      }
      val mean = lum.map(_.toLong).sum / 64
      (0 until 64).foldLeft(0L) { (acc, i) =>
        if (lum(i) > mean) acc | (1L << (63 - i)) else acc
      }
    }
    val lens = T.t(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hashes = ops.Multimodal.phashTable(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.size === lens.size)
    hashes.foreach { case (id, got) =>
      assert(got === expectedHash(id, lens(id)), s"hash mismatch for doc $id")
    }
    // Pair validity: hamming recomputed from the hashes, bounded, a<b.
    val pairs = ops.Round10Ops.queries("mm_phash_neardup")(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, hm) = (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))
      assert(a < b)
      assert(hm <= 6)
      assert(java.lang.Long.bitCount(hashes(a) ^ hashes(b)) === hm)
    }
    // aHash is brightness-shift invariant: docs 0 and 288 share geometry
    // (same docId % 48, same textLen % 48) but differ in gradient base —
    // their hashes must still collide exactly (hamming 0).
    assert(pairs.exists(r => r.getAs[Int]("hamming") == 0),
      "expected at least one brightness-shifted exact-hash pair")
  }

  test("dq_reconcile_sides: classes partition the key universe; deltas non-negative") {
    val rows = ops.Round10Ops.queries("dq_reconcile_sides")(spark, sf).collect()
    val byStatus = rows.map(r => r.getAs[String]("status") ->
      (r.getAs[Long]("cnt"), r.getAs[Double]("abs_delta"))).toMap
    val nOrders = T.t(spark, sf, "orders").count()
    val nComputed = T.t(spark, sf, "lineitem").select("l_orderkey").distinct.count()
    // left classes cover exactly the orders keys; right classes exactly
    // the lineitem keys (full-outer partition property).
    val leftCnt = Seq("matched", "mismatch", "left_only")
      .map(s => byStatus.get(s).map(_._1).getOrElse(0L)).sum
    val rightCnt = Seq("matched", "mismatch", "right_only")
      .map(s => byStatus.get(s).map(_._1).getOrElse(0L)).sum
    assert(leftCnt === nOrders)
    assert(rightCnt === nComputed)
    assert(rows.forall(_.getAs[Double]("abs_delta") >= 0.0))
  }

  test("sink_bloom_rowgroup: bloom filter lands in the parquet footer and the lookup is exact") {
    import scala.jdk.CollectionConverters._
    val res = ops.Round10Ops.queries("sink_bloom_rowgroup")(spark, sf).collect()
    val expected = T.events(spark, sf)
      .filter(col("event_id").isin(42L, 777L, 4242L))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect()
    assert(res.toSeq === expected.toSeq)
    // Footer-level proof the write option took effect: every row group's
    // event_id column chunk must carry a bloom-filter offset.
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path("target/tmp/bloom_sf0.001")
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = rdr.getFooter.getBlocks.asScala
        assert(blocks.nonEmpty)
        blocks.foreach { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == "event_id").get
          assert(cc.getBloomFilterOffset > 0,
            s"no bloom filter for event_id in $p")
        }
      } finally rdr.close()
    }
  }

  test("foreachBatch upsert: streaming micro-batches reach the batch fixpoint; replay is a no-op") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = "target/tmp/upsert_golden"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val b1 = Seq(
      UpEv(1L, ts("2024-01-01 10:00:00"), 100L, "click", 1.0),
      UpEv(2L, ts("2024-01-01 10:01:00"), 101L, "view", 2.0))
    val b2 = Seq(
      UpEv(1L, ts("2024-01-01 11:00:00"), 102L, "purchase", 9.0), // overwrites user 1
      UpEv(3L, ts("2024-01-01 11:02:00"), 103L, "signup", 3.0),
      UpEv(2L, ts("2024-01-01 09:00:00"), 104L, "click", 7.0)) // OLDER than user 2's row — must lose
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UpEv]
    val q = ops.StreamingOps.upsertStreamWriter(spark, mem.toDF(), dir).start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    def table() = spark.read.parquet(dir).orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSeq
    val expected = ops.StreamingOps.latestPerUser((b1 ++ b2).toDF())
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSeq
    assert(table() === expected)
    assert(table() === Seq(1L -> 102L, 2L -> 101L, 3L -> 103L))
    // At-least-once delivery: re-applying an already-applied batch must
    // not change the table (the sink-level exactly-once argument).
    ops.StreamingOps.upsertBatch(spark, b2.toDF(), dir)
    assert(table() === expected)
  }

  test("streaming checkpoint recovery: per-user state survives a query restart") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import org.apache.spark.sql.streaming.OutputMode
    def ts(s: String) = Timestamp.valueOf(s)
    val ckpt = "target/tmp/ckpt_recovery"
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    // The memory sink refuses to restart from an existing checkpoint;
    // foreachBatch is the recovery-compatible collection pattern (and
    // the one a real deployment uses).
    val out = collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val collect: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, _) => {
        val rows = b.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        out.synchronized { out ++= rows }
      }
    def start() =
      ops.StreamingOps.statefulRunningCount(spark, mem.toDF())
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update).start()
    val q1 = start()
    mem.addData(Ev(ts("2024-01-01 10:00:00"), "click", 1.5, 7L))
    q1.processAllAvailable(); q1.stop()
    assert(out.synchronized(out.toSet) === Set((7L, 1L, 1.5)))
    // Restart a NEW query from the same checkpoint: the per-user state
    // must be restored from the state store, so the next event
    // CONTINUES the count instead of restarting at 1 — the
    // exactly-once restart story for stateful streaming.
    val q2 = start()
    mem.addData(Ev(ts("2024-01-01 10:01:00"), "view", 2.5, 7L))
    q2.processAllAvailable(); q2.stop()
    assert(out.synchronized(out.toSet).contains((7L, 2L, 4.0)),
      s"state not recovered across restart: ${out.synchronized(out.toSet)}")
  }

  test("vec_lsh_topk: plan has broadcast candidate join, no corpus cartesian") {
    val plan = lsh.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), "expected broadcast joins")
    // The only nested-loop joins must be against broadcast one/64-row
    // sides (hyperplanes, probe vector) — never corpus × corpus.
    assert(!plan.contains("CartesianProduct"),
      "corpus-side cartesian product found")
  }
}
