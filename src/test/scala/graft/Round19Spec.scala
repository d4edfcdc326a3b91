package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.GraftTable

/** Round-19: loud quadratic-guard on exact Jaccard, JDBC door, ETL
  * multi-insert fan-out, positional DV sidecars, MERGE rebase across an
  * additive racer schema (VERDICT r18 "Next round" items). */
class Round19Spec extends SparkSpec {

  private def fresh(tag: String): String = {
    val dir = s"target/tmp/r19spec_$tag"
    GraftTable.fsOf(spark, dir)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    dir
  }

  test("jaccardPairs refuses oversized input loudly instead of " +
      "silently truncating; explicit slices still run") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok$i common words here"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.ops.LlmOps.jaccardPairs(docs, 0.8, maxDocs = 10L)
    }
    assert(e.getMessage.contains("all-pairs") &&
      e.getMessage.contains("maxDocs=10") &&
      e.getMessage.toLowerCase.contains("minhash"),
      s"refusal must name the bound and the LSH escape hatch: ${e.getMessage}")
    // an explicit slice under the bound runs and finds the planted dup
    val dup = Seq((100L, "alpha beta gamma"), (101L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val got = graft.ops.LlmOps.jaccardPairs(dup, 0.8, maxDocs = 10L).collect()
    assert(got.length == 1 && got(0).getLong(0) == 100L &&
      got(0).getLong(1) == 101L)
  }

  test("JDBC import door: the filter is COMPILED INTO the JDBC scan " +
      "(PushedFilters) and the read is range-sliced into 8 partitions") {
    val src = T.t(spark, sf, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), T.dec(col("o_totalprice")).as("price"))
    val url = graft.ops.Round19Ops.stageDerby(spark, sf, "jdbcspec",
      "ORDERS_SPEC", src, Map("o_orderstatus" -> 1))
    val q = spark.read.jdbc(url, "ORDERS_SPEC", "o_orderkey", 1L, 6000L, 8,
      graft.ops.Round19Ops.jdbcProps)
      .filter(col("price") > 1000 && col("o_orderstatus") === "F")
      .select("o_orderkey", "price")
    assert(q.rdd.getNumPartitions == 8,
      "the import must fan out over 8 range-sliced JDBC connections")
    // the scan node's metadata string truncates at 100 chars by default,
    // cutting off the second pushed filter — widen it for the assert
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    val plan = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
      q.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(price") &&
      plan.contains("EqualTo(o_orderstatus"),
      s"both predicates must push into the per-slice JDBC SQL:\n$plan")
    // values survive the round trip exactly (decimal + key)
    val viaParquet = src
      .filter(col("price") > 1000 && col("o_orderstatus") === "F")
      .select("o_orderkey", "price").collect()
      .map(r => (r.getLong(0), r.getDecimal(1))).toSeq.sortBy(_._1)
    val viaJdbc = q.collect()
      .map(r => (r.getLong(0), r.getDecimal(1))).toSeq.sortBy(_._1)
    assert(viaJdbc == viaParquet)
  }

  /** Two-file pdv fixture as an append chain (v0 holds exactly the 'lo'
    * keys 1..4, the appended v1 holds 5..12) — a coalesced union would
    * collapse to ONE write partition, so separate commits are the only
    * guaranteed per-group file split. The pdv versions start at 2. */
  private def pdvBase(tag: String): String = {
    import spark.implicits._
    val dir = fresh(tag)
    GraftTable.commitNextIsolated(spark, dir,
      (1L to 4L).map(k => (k, k * 10L, "lo")).toDF("k", "v", "g")
        .coalesce(1), "lo")
    GraftTable.commitAppend(spark, dir,
      (5L to 12L).map(k => (k, k * 10L, "hi")).toDF("k", "v", "g")
        .coalesce(1), "hi")
    dir
  }

  test("positional DV: the merged read has NO join node, probes inside " +
      "the scan, and the fully-deleted file leaves the file list") {
    val dir = pdvBase("pdv_plan")
    GraftTable.commitPositionalDelete(spark, dir,
      col("k") === 7L, "one row of the hi file")
    val v1 = GraftTable.readVersion(spark, dir, 2)
    val p1 = v1.queryExecution.executedPlan.toString
    assert(!p1.contains("Join"), s"positional merge must not join:\n$p1")
    assert(p1.contains("graft_pos_deleted"),
      s"the sidecar probe must sit in the plan as a filter:\n$p1")
    assert(v1.inputFiles.length == 2, "both files still live at v1")
    assert(v1.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      ((1L to 12L).filterNot(_ == 7L)))
    // cumulative second delete kills the ENTIRE lo file
    GraftTable.commitPositionalDelete(spark, dir, col("g") === "lo",
      "the whole lo file")
    val v2 = GraftTable.readVersion(spark, dir, 3)
    assert(v2.inputFiles.length == 1,
      s"the fully-deleted file must be skipped, got ${v2.inputFiles.toSeq}")
    assert(v2.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      ((5L to 12L).filterNot(_ == 7L)))
    // time travel: the first delete's version still serves the lo rows
    assert(GraftTable.readVersion(spark, dir, 2).count() == 11)
    // delete EVERYTHING: the read is an empty frame under the declared
    // schema, no file opened
    GraftTable.commitPositionalDelete(spark, dir, lit(true), "drop all")
    val v3 = GraftTable.readVersion(spark, dir, 4)
    assert(v3.count() == 0 &&
      v3.columns.toSeq == Seq("k", "v", "g"))
  }

  test("positional DV: a matched-nothing delete mints an EMPTY sidecar " +
      "that later cumulative deletes and reads absorb") {
    val dir = pdvBase("pdv_empty")
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 999L,
      "matches nothing")
    assert(GraftTable.readVersion(spark, dir, 2).count() == 12,
      "a no-op delete must serve every row")
    // the cumulative union over the EMPTY predecessor sidecar must not
    // trip parquet schema inference
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 3L, "real")
    assert(GraftTable.readVersion(spark, dir, 3)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 12L).filterNot(_ == 3L))
    // CDC over a pdv version: the generic snapshot diff reads MERGED
    // snapshots, so the positional delete surfaces as exactly one
    // delete row
    val feed = GraftTable.changeFeed(spark, dir, 3, Seq("k"))
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(feed == Seq((3L, "delete")), s"unexpected feed: $feed")
  }

  test("positional DV: the STREAMING door refuses a pdv head loudly " +
      "(the micro-batch path cannot merge sidecars)") {
    val dir = pdvBase("pdv_stream")
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 2L, "mor")
    val cp = fresh("pdv_stream_cp")
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("memory").queryName("r19_pdv_stream")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("purgePositionalDv")),
      s"expected the pdv refusal in the failure chain: ${chain(e)}")
  }

  test("positional DV lifecycle: rewrite doors refuse a pdv head until " +
      "purge; the two DV regimes refuse to mix; purge restores them") {
    import spark.implicits._
    val dir = pdvBase("pdv_life")
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 2L, "mor")
    // appends refuse
    val eApp = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dir,
        Seq((99L, 990L, "hi")).toDF("k", "v", "g"), "tick")
    }
    assert(eApp.getMessage.contains("purgePositionalDv"))
    // the key-tombstone door refuses
    val eDv = intercept[IllegalArgumentException] {
      GraftTable.commitDeleteVector(spark, dir,
        Seq(Tuple1(3L)).toDF("k"), Seq("k"), "keyed")
    }
    assert(eDv.getMessage.contains("POSITIONAL"))
    // ...and vice versa: a positional delete refuses a key-DV head
    val dir2 = pdvBase("pdv_life2")
    GraftTable.commitDeleteVector(spark, dir2,
      Seq(Tuple1(3L)).toDF("k"), Seq("k"), "keyed")
    val ePos = intercept[IllegalArgumentException] {
      GraftTable.commitPositionalDelete(spark, dir2, col("k") === 2L, "pos")
    }
    assert(ePos.getMessage.contains("KEY tombstones"))
    // purge materializes survivors and clears the header
    val pv = GraftTable.purgePositionalDv(spark, dir)
    val fs = GraftTable.fsOf(spark, dir)
    assert(!GraftTable.headersOf(fs, dir, pv).contains("pdv"))
    assert(GraftTable.readVersion(spark, dir, pv)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 12L).filterNot(_ == 2L))
    // and the append door re-opens
    GraftTable.commitAppend(spark, dir,
      Seq((99L, 990L, "hi")).toDF("k", "v", "g"), "tick")
    assert(GraftTable.readVersion(spark, dir, pv + 1).count() == 12)
  }

  test("positional DV through the SQL/DSv2 door: SELECT serves the " +
      "merged rows via the extension rewrite; MERGE reads merged and " +
      "its CoW commit drops the sidecar") {
    val dir = pdvBase("pdv_sql")
    GraftTable.commitPositionalDelete(spark, dir,
      col("k") <= 4L, "kill the lo file")
    spark.conf.set("spark.sql.catalog.gt19",
      classOf[graft.sources.GraftCatalog].getName)
    val abs = new java.io.File(dir).getAbsolutePath
    val got = spark.sql(s"SELECT k FROM gt19.`$abs` ORDER BY k")
    assert(!got.queryExecution.executedPlan.toString.contains("Join"))
    assert(got.collect().map(_.getLong(0)).toSeq == (5L to 12L))
    // the same through the path door
    assert(spark.read.format("graft").load(dir).count() == 8)
    // SQL MERGE on a pdv head is CORRECT, not refused: GraftMergeCommand
    // executes its body as plain query plans, so the extension rewrite
    // serves the target MERGED (the full-outer join never sees the
    // tombstoned rows) and the CoW commit drops pdv= naturally
    spark.range(1).selectExpr("id AS k", "id AS v", "'x' AS g")
      .createOrReplaceTempView("r19_pdv_src")
    spark.sql(s"MERGE INTO gt19.`$abs` t USING r19_pdv_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    val fs = GraftTable.fsOf(spark, dir)
    assert(!GraftTable.headersOf(fs, dir, 3).contains("pdv"),
      "the merged CoW rewrite must drop the positional sidecar")
    val after = GraftTable.readVersion(spark, dir, 3)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == (0L +: (5L to 12L)),
      s"tombstoned keys must stay deleted through the MERGE: $after")
  }

  test("SQL DML on a pdv head: DELETE continues the positional chain, " +
      "UPDATE continues POSITIONALLY (new sidecar + staged replacement " +
      "rows, untouched files unrewritten)") {
    val dir = pdvBase("pdv_dml")
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 2L, "api mor")
    spark.conf.set("spark.sql.catalog.gt19d",
      classOf[graft.sources.GraftCatalog].getName)
    val abs = new java.io.File(dir).getAbsolutePath
    val fs = GraftTable.fsOf(spark, dir)
    // DELETE on the pdv head continues POSITIONALLY (a key-tombstone
    // commit would refuse) — cumulative with the API delete
    spark.sql(s"DELETE FROM gt19d.`$abs` WHERE k = 7")
    assert(GraftTable.headersOf(fs, dir, 3).contains("pdv"))
    assert(GraftTable.readVersion(spark, dir, 3)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 12L).filterNot(Set(2L, 7L)))
    // UPDATE continues positionally (VERDICT r19 item 4): the matched
    // row's position tombstones, its replacement stages in a NEW dir,
    // the sidecar carries, and the untouched base files are SHARED
    // with the previous version — an UPDATE touching one row must not
    // rewrite the table
    val filesBefore = GraftTable.readVersion(spark, dir, 3)
      .inputFiles.toSet
    spark.sql(s"UPDATE gt19d.`$abs` SET v = v + 1 WHERE k = 5")
    val h4 = GraftTable.headersOf(fs, dir, 4)
    assert(h4.contains("pdv"),
      "the positional UPDATE arm must carry a pdv= sidecar, not CoW")
    val after = GraftTable.readVersion(spark, dir, 4)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == (1L to 12L).filterNot(Set(2L, 7L))
      .map(k => (k, if (k == 5L) 51L else k * 10L)))
    val filesAfter = GraftTable.readVersion(spark, dir, 4)
      .inputFiles.toSet
    assert(filesBefore.subsetOf(filesAfter),
      "every pre-update data file must be SHARED, not rewritten")
    assert((filesAfter -- filesBefore).size == 1,
      "exactly one staged replacement file for the one matched row")
    // still no join anywhere in the merged read
    assert(!GraftTable.readVersion(spark, dir, 4)
      .queryExecution.executedPlan.toString.contains("Join"))
    // and the chain stays updatable: a second positional UPDATE on the
    // replacement row itself (k=5 now lives in the staged dir)
    spark.sql(s"UPDATE gt19d.`$abs` SET v = v + 100 WHERE k = 5")
    assert(GraftTable.readVersion(spark, dir, 5)
      .where(col("k") === 5L).select("v").collect()
      .map(_.getLong(0)).toSeq == Seq(151L))
  }

  test("positional DV travels shallow clone and compaction applies it") {
    val dir = pdvBase("pdv_clone_src")
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 9L, "mor")
    val dst = fresh("pdv_clone_dst")
    GraftTable.cloneShallow(spark, dir, dst)
    assert(GraftTable.readVersion(spark, dst, 0)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 12L).filterNot(_ == 9L))
    // compaction reads the merged snapshot and mints a pdv-free rewrite
    val cv = GraftTable.compactChain(spark, dir)
    val fs = GraftTable.fsOf(spark, dir)
    assert(!GraftTable.headersOf(fs, dir, cv).contains("pdv"))
    assert(GraftTable.readVersion(spark, dir, cv).count() == 11)
  }

  /** Analyze (but do NOT execute) a SQL statement — the analyzer applies
    * MergeIntoGraftRule, so the result for a MERGE on a graft target is
    * the runnable GraftMergeCommand pinned to the CURRENT head. */
  private def analyzedMerge(sql: String): graft.plans.GraftMergeCommand = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    spark.sessionState.analyzer.executeAndCheck(parsed,
      new org.apache.spark.sql.catalyst.QueryPlanningTracker()) match {
      case c: graft.plans.GraftMergeCommand => c
      case other => fail(s"expected GraftMergeCommand, got $other")
    }
  }

  test("a raced MERGE rebases across an ADDITIVE racer (metadata-only " +
      "ADD COLUMN): both land, the merge null-fills the new column") {
    import spark.implicits._
    val dir = fresh("addrace")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("key", "v"), "base")
    spark.conf.set("spark.sql.catalog.gt19m",
      classOf[graft.sources.GraftCatalog].getName)
    val abs = new java.io.File(dir).getAbsolutePath
    Seq((2L, 200L), (4L, 400L)).toDF("ckey", "delta")
      .createOrReplaceTempView("r19m_src")
    // pin the statement at v0 …
    val cmd = analyzedMerge(
      s"""MERGE INTO gt19m.`$abs` t USING r19m_src s ON t.key = s.ckey
         |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
         |WHEN NOT MATCHED THEN INSERT (key, v) VALUES (s.ckey, s.delta)
         |""".stripMargin)
    // … then race with a METADATA-ONLY widen: same files, appended
    // nullable column — every row reads NULL for it, so the rebase is
    // value-lossless
    GraftTable.commitAddColumns(spark, abs, Seq(("tag", "string")),
      "racer adds a column")
    cmd.run(spark)
    val fs = GraftTable.fsOf(spark, abs)
    assert(GraftTable.versions(fs, abs).size == 3,
      "base + ADD COLUMN + exactly one merge commit")
    // the merged head carries the WIDENED schema, new column all-NULL,
    // and the merge arms applied on the racer's head
    val got = GraftTable.read(spark, abs).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) "NULL" else r.getString(2))).toSeq
    assert(GraftTable.read(spark, abs).columns.toSeq ==
      Seq("key", "v", "tag"))
    assert(got == Seq((1L, 10L, "NULL"), (2L, 220L, "NULL"),
      (3L, 30L, "NULL"), (4L, 400L, "NULL")))
    // and the widened schema is LIVE: the next write must carry tag
    val eNarrow = intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, abs,
        Seq((9L, 90L)).toDF("key", "v"), "narrowing")
    }
    assert(eNarrow.getMessage.toLowerCase.contains("schema"))
  }

  test("a raced MERGE whose source reads the target through the API " +
      "door (v1 parquet plan) refuses to rebase") {
    import spark.implicits._
    val dir = fresh("selfsrc_v1")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("key", "v"), "base")
    spark.conf.set("spark.sql.catalog.gt19m",
      classOf[graft.sources.GraftCatalog].getName)
    val abs = new java.io.File(dir).getAbsolutePath
    // the source is the TARGET read through GraftTable.read — a v1
    // parquet plan over the table's data dirs, invisible to a
    // DSv2-only self-source check
    GraftTable.read(spark, abs)
      .selectExpr("key AS ckey", "v * 2 AS delta")
      .createOrReplaceTempView("r19m_self")
    val cmd = analyzedMerge(
      s"""MERGE INTO gt19m.`$abs` t USING r19m_self s ON t.key = s.ckey
         |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
         |""".stripMargin)
    GraftTable.commitNextIsolated(spark, abs,
      GraftTable.read(spark, abs).withColumn("v", col("v") + 1L),
      "racer", expectVersion = Some(0))
    val e = intercept[java.util.ConcurrentModificationException](
      cmd.run(spark))
    assert(e.getMessage.contains("source reads the same"),
      s"the v1-plan self-source must be detected: ${e.getMessage}")
    assert(GraftTable.versions(GraftTable.fsOf(spark, abs), abs).size == 2)
  }

  test("etl_multi_insert: both sink writes are served from the persisted " +
      "projection — one source scan, two InMemoryTableScan-fed inserts") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = SparkEntry.queries("etl_multi_insert")(spark, sf).collect()
      assert(out.nonEmpty)
      // the listener fires asynchronously — poll until both sink writes
      // have reported (bounded)
      def sinkWrites(): Array[String] = plans.toArray(Array.empty[String])
        .filter(p => p.contains("InsertIntoHadoopFsRelationCommand") &&
          (p.contains("minsday") || p.contains("minstype")))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sinkWrites().length < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val writes = sinkWrites()
      assert(writes.length == 2, s"expected 2 sink writes, saw ${writes.length}")
      writes.foreach { p =>
        assert(p.contains("InMemoryTableScan"),
          s"a sink write bypassed the persisted projection:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
