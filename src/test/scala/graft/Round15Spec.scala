package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftTable

/** Round-15 surface: the DSv2 table (`spark.read.format("graft")`),
  * manifest-pruned scans, DV-filtered reads, manifest statistics. */
class Round15Spec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"target/tmp/r15_${tag}"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    dir
  }

  test("dsv2: current snapshot and time travel match the API read path") {
    val dir = freshDir("dsv2read")
    val n = T.t(spark, sf, "nation").select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, n.where(col("n_nationkey") < 10),
      "v0")
    GraftTable.commitNextIsolated(spark, dir, n, "v1")

    val cur = spark.read.format("graft").load(dir)
    assert(cur.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    assert(cur.count() == n.count())
    assert(cur.exceptAll(GraftTable.read(spark, dir)).isEmpty &&
      GraftTable.read(spark, dir).exceptAll(cur).isEmpty)

    val v0 = spark.read.format("graft").option("version", 0).load(dir)
    assert(v0.count() == 10)
    assert(v0.exceptAll(GraftTable.readVersion(spark, dir, 0)).isEmpty)

    // timestampAsOf resolves through the ts= headers like readAsOf
    val fs = GraftTable.fsOf(spark, dir)
    val t0 = GraftTable.commitTimeMs(fs, dir, 0)
    val asOf = spark.read.format("graft")
      .option("timestampAsOf", t0.toString).load(dir)
    assert(asOf.count() == 10)
  }

  /** Files the physical scan actually plans, from the BatchScanExec's
    * partitions — the read-set truth every pruning assertion audits. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect { case b: BatchScanExec => b }
    assert(scans.size == 1, s"expected one BatchScanExec, got $plan")
    scans.head.inputPartitions.flatMap {
      case fp: FilePartition => fp.files.map(_.toPath.toUri.getPath).toSeq
      case _ => Seq.empty
    }
  }

  test("dsv2: pushed band filter prunes files through statenc stats") {
    val dir = freshDir("dsv2band")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), T.dec(col("o_totalprice")).as("o_totalprice"))
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
    GraftTable.commitNextIsolated(spark, dir, o, "banded",
      statsEnc = Seq("o_orderdate" -> "us"))

    val t = spark.read.format("graft").load(dir)
    val all = plannedFiles(t.select(col("o_orderkey")))
    assert(all.size == 4, s"expected 4 files, planned $all")

    val lo = java.sql.Date.valueOf("1995-06-01")
    val hi = java.sql.Date.valueOf("1995-06-30")
    val sliced = t.where(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
    val planned = plannedFiles(sliced)
    assert(planned.nonEmpty && planned.size < all.size,
      s"band should prune: planned ${planned.size} of ${all.size}")
    // the pruned read is still row-exact vs the API path
    val apiRows = GraftTable.read(spark, dir)
      .where(col("o_orderdate") >= lo && col("o_orderdate") <= hi).count()
    assert(sliced.count() == apiRows && apiRows > 0)
    // per-file ground truth: planned files == files that actually hold
    // matching rows (tight ranges by construction of the sorted layout)
    val truth = GraftTable.read(spark, dir)
      .where(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
      .select(input_file_name()).distinct()
      .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
    assert(truth.subsetOf(planned.toSet),
      s"pruning must never drop a matching file: $truth vs $planned")
  }

  test("dsv2: bloom equality probe prunes to the sidecar's candidates") {
    val dir = freshDir("dsv2bloom")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey")).repartition(6)
    GraftTable.commitNextIsolated(spark, dir, o, "bloomed",
      bloomCol = Some("o_custkey"))
    val t = spark.read.format("graft").load(dir)
    val all = plannedFiles(t.select(col("o_orderkey")))
    assert(all.size == 6)

    // an absent key plans NOTHING (the 10^5-file point of the index)
    val absent = t.where(col("o_custkey") === lit(-12345L))
    assert(plannedFiles(absent).isEmpty && absent.count() == 0)

    // a present key plans exactly the sidecar's candidate set and stays
    // row-exact
    val key = o.select("o_custkey").where(col("o_custkey").isNotNull)
      .head().getLong(0)
    val hitDf = t.where(col("o_custkey") === lit(key))
    val (apiDf, apiHit, total) =
      GraftTable.readBloomEq(spark, dir, 0, "o_custkey", key)
    assert(total == 6)
    val plannedHit = plannedFiles(hitDf).toSet
    val apiHitCanon = apiHit
      .map(p => GraftTable.fsOf(spark, dir)
        .makeQualified(new org.apache.hadoop.fs.Path(p))
        .toUri.normalize().getPath).toSet
    assert(plannedHit == apiHitCanon,
      s"DSv2 and API bloom read-sets must agree: $plannedHit vs $apiHitCanon")
    assert(hitDf.count() ==
      GraftTable.read(spark, dir).where(col("o_custkey") === key).count())
  }

  test("dsv2: deletion vector applies inside the scan, key col prunable") {
    val dir = freshDir("dsv2dv")
    val c = T.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    GraftTable.commitNextIsolated(spark, dir, c, "base")
    val dead = c.where(col("c_custkey") % 7 === 0).select("c_custkey")
    GraftTable.commitDeleteVector(spark, dir, dead, Seq("c_custkey"))

    val t = spark.read.format("graft").load(dir)
    val api = GraftTable.read(spark, dir)
    assert(t.count() == api.count())
    assert(t.exceptAll(api).isEmpty && api.exceptAll(t).isEmpty)
    // a projection that DROPS the key column still filters by it (the
    // scan force-reads the key internally and projects it back out)
    val names = t.select(col("c_name"))
    assert(names.schema.fieldNames.toSeq == Seq("c_name"))
    assert(names.count() == api.count())
    // time travel BEFORE the delete sees everything
    assert(spark.read.format("graft").option("version", 0).load(dir)
      .count() == c.count())
  }

  test("dsv2: manifest statistics flip the join to broadcast exactly when small") {
    val dir = freshDir("dsv2stats")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
    GraftTable.commitNextIsolated(spark, dir, o, "statted",
      statsEnc = Seq("o_orderdate" -> "us"))
    // the probe side is lineitem — far over any threshold we pick, so
    // the ONLY broadcast candidate is the graft scan itself
    val li = T.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))

    def joinPlan(pruned: Boolean): String = {
      val t = spark.read.format("graft").load(dir)
      val right =
        if (pruned) t.where(col("o_orderdate") >=
          java.sql.Date.valueOf("1995-06-01") &&
          col("o_orderdate") < java.sql.Date.valueOf("1995-07-01"))
        else t
      val j = li.join(right, li("l_orderkey") === right("o_orderkey"))
      val plan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      plan.toString
    }
    // threshold between the pruned slice's size and the 8-file full
    // size: the SAME join flips on manifest pruning alone, at initial
    // planning time (inputPlan — before any AQE runtime re-plan)
    val fs = GraftTable.fsOf(spark, dir)
    val dataDir = GraftTable.dataDirsOf(fs, dir, 0).head
    val sizes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$dataDir"))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen)
    val threshold = sizes.min * 3 // ≥ the ~1-2 pruned files, < all 8
    assert(threshold < sizes.sum)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      val full = joinPlan(pruned = false)
      val sliced = joinPlan(pruned = true)
      assert(!full.contains("BroadcastHashJoin"),
        s"full scan (${sizes.sum}B) must exceed the $threshold threshold:\n$full")
      assert(sliced.contains("BroadcastHashJoin"),
        s"pruned scan must broadcast under the $threshold threshold:\n$sliced")
    }
  }

  test("catalog: SQL addressing, time travel, create/drop") {
    spark.conf.set("spark.sql.catalog.gt",
      classOf[graft.sources.GraftCatalog].getName)
    val dir = freshDir("cat")
    val n = T.t(spark, sf, "nation").select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, n.where(col("n_nationkey") < 5),
      "v0")
    GraftTable.commitNextIsolated(spark, dir, n, "v1")
    val abs = new java.io.File(dir).getAbsolutePath

    assert(spark.sql(s"SELECT * FROM gt.`$abs`").count() == n.count())
    assert(spark.sql(s"SELECT * FROM gt.`$abs` VERSION AS OF 0")
      .count() == 5)
    val t0 = GraftTable.commitTimeMs(GraftTable.fsOf(spark, dir), dir, 0)
    assert(spark.sql(
      s"SELECT * FROM gt.`$abs` TIMESTAMP AS OF " +
        s"timestamp_millis(${t0}L)").count() == 5)

    // warehouse-resolved names + CREATE/DROP round trip
    spark.conf.set("spark.sql.catalog.wh",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wh.warehouse", "target/tmp/r15_wh")
    val fsw = GraftTable.fsOf(spark, "target/tmp/r15_wh")
    fsw.delete(new org.apache.hadoop.fs.Path("target/tmp/r15_wh"), true)
    spark.sql("CREATE TABLE wh.t15 (k BIGINT, s STRING) USING graft")
    assert(spark.sql("SELECT * FROM wh.t15").count() == 0)
    // the minted v0 carries the schema header: the gate now binds
    GraftTable.commitNextIsolated(spark, "target/tmp/r15_wh/t15",
      spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS s"))
    assert(spark.sql("SELECT * FROM wh.t15").count() == 3)
    assert(spark.sql("SHOW TABLES IN wh").collect()
      .map(_.getString(1)).contains("t15"))
    spark.sql("DROP TABLE wh.t15")
    assert(!new java.io.File("target/tmp/r15_wh/t15").exists())
  }

  test("merge sql: all five arm shapes, snapshot isolation, single resolve") {
    spark.conf.set("spark.sql.catalog.gt",
      classOf[graft.sources.GraftCatalog].getName)
    val dir = freshDir("mergesql")
    GraftTable.commitNextIsolated(spark, dir, spark.range(6)
      .selectExpr("id AS k", "CAST(id * 10 AS BIGINT) AS v"), "base")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.range(5).selectExpr("id + 2 AS k", "CAST(id + 100 AS BIGINT) AS v")
      .createOrReplaceTempView("r15src")

    // matched+cond update / matched delete / not-matched+cond insert /
    // not-matched-by-source update — first-match-wins within each arm
    spark.sql(
      s"""MERGE INTO gt.`$abs` t USING r15src s ON t.k = s.k
         |WHEN MATCHED AND s.v % 2 = 0 THEN UPDATE SET v = s.v
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.k < 6 THEN INSERT (k, v) VALUES (s.k, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN UPDATE SET v = -1
         |""".stripMargin)
    // base k=0..5 (v=10k), src k=2..6 (v=100..104):
    //   k=0: not matched by source, cond true  -> v = -1
    //   k=1: not matched by source, cond false -> kept v=10
    //   k=2: matched, s.v=100 even  -> v=100
    //   k=3: matched, s.v=101 odd   -> DELETE
    //   k=4: matched, s.v=102 even  -> v=102
    //   k=5: matched, s.v=103 odd   -> DELETE
    //   k=6: not matched, cond false (k<6 fails) -> NOT inserted
    val got = GraftTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, -1L), (1L, 10L), (2L, 100L), (4L, 102L)))
    // snapshot isolation: v0 still serves the pre-merge rows
    assert(GraftTable.readVersion(spark, dir, 0).count() == 6)

    // plan audit: the merge resolves the snapshot in ONE join and it is
    // FULL OUTER — no second resolve, no accidental cartesian (the
    // command executes eagerly, so the resolve QE is exposed through
    // the observability hook)
    val qe = graft.plans.GraftMergeCommand.lastResolve
      .getOrElse(fail("merge resolve plan not captured"))
    val plan = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.joinType.toString
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.joinType.toString
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.joinType.toString
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.joinType.toString
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        "Cross"
    }
    assert(joins == Seq("FullOuter"),
      s"merge must resolve in exactly one FULL OUTER join:\n$plan")

    // UPDATE SET * / INSERT * expansion
    spark.sql(
      s"""MERGE INTO gt.`$abs` t USING r15src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val got2 = GraftTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((0L, -1L), (1L, 10L), (2L, 100L), (3L, 101L),
      (4L, 102L), (5L, 103L), (6L, 104L)))
  }

  test("mor update: base files untouched, reads exact, updates compose") {
    val dir = freshDir("morupd")
    val fs = GraftTable.fsOf(spark, dir)
    val c = T.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"),
        T.dec(col("c_acctbal")).as("bal")).repartition(3)
    GraftTable.commitNextIsolated(spark, dir, c, "base")
    val baseDir = GraftTable.dataDirsOf(fs, dir, 0).head
    def fileState(): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$baseDir"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    val before = fileState()

    // v1: double the balance of custkeys % 5 == 0
    val v1 = GraftTable.commitUpdate(spark, dir, Seq("c_custkey"),
      col("c_custkey") % 5 === 0,
      Seq("bal" -> (col("bal") * 2)), "double the fives")
    assert(v1 == 1)
    assert(fileState() == before, "base files must stay byte-untouched")

    val expect1 = c.withColumn("bal",
      when(col("c_custkey") % 5 === 0, (col("bal") * 2).cast(
        org.apache.spark.sql.types.DecimalType(12, 2)))
        .otherwise(col("bal")))
    val got1 = GraftTable.read(spark, dir)
    assert(got1.count() == c.count())
    assert(got1.exceptAll(expect1).isEmpty && expect1.exceptAll(got1).isEmpty)

    // v2: second update overlapping the first (the % 10 == 0 keys were
    // already doubled — their CURRENT value must be the input)
    GraftTable.commitUpdate(spark, dir, Seq("c_custkey"),
      col("c_custkey") % 10 === 0,
      Seq("bal" -> (col("bal") + 100)), "bump the tens")
    val expect2 = expect1.withColumn("bal",
      when(col("c_custkey") % 10 === 0, (col("bal") + 100).cast(
        org.apache.spark.sql.types.DecimalType(12, 2)))
        .otherwise(col("bal")))
    val got2 = GraftTable.read(spark, dir)
    assert(got2.exceptAll(expect2).isEmpty && expect2.exceptAll(got2).isEmpty)
    assert(fileState() == before)

    // time travel: every version still serves its own state
    assert(GraftTable.readVersion(spark, dir, 0).exceptAll(c).isEmpty)
    assert(GraftTable.readVersion(spark, dir, 1).exceptAll(expect1).isEmpty)

    // DSv2 reads the scoped-DV version identically (per-dir repack)
    val dsv2 = spark.read.format("graft").load(dir)
    assert(dsv2.exceptAll(got2).isEmpty && got2.exceptAll(dsv2).isEmpty)
    // ... and with the key column projected away
    assert(dsv2.select("bal").count() == c.count())

    // delete-after-update composes (scoped continuation)
    GraftTable.commitDeleteVector(spark, dir,
      spark.range(1).selectExpr("CAST(5 AS BIGINT) AS c_custkey"),
      Seq("c_custkey"))
    val got3 = GraftTable.read(spark, dir)
    assert(got3.where(col("c_custkey") === 5).count() == 0)
    assert(got3.count() == c.count() - 1)
    // purge returns the table to DV-free reads with identical rows
    GraftTable.purgeDeleteVector(spark, dir)
    val hdrs4 = GraftTable.headersOf(fs, dir, 4)
    assert(!hdrs4.contains("dv") && !hdrs4.contains("update"))
    assert(GraftTable.read(spark, dir).exceptAll(got3).isEmpty)
  }

  test("mor update: typed change feed classifies pre/post images join-free") {
    val dir = freshDir("morcdf")
    val n = T.t(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, n, "base")
    GraftTable.commitUpdate(spark, dir, Seq("n_nationkey"),
      col("n_nationkey") < 3,
      Seq("n_name" -> upper(col("n_name"))), "shout the low keys")

    val feed = GraftTable.changeFeed(spark, dir, 1, Seq("n_nationkey"))
    val rows = feed.orderBy("change_type", "n_nationkey").collect()
      .map(r => (r.getAs[String]("change_type"),
        r.getAs[Number]("n_nationkey").longValue, r.getAs[String]("n_name")))
      .toSeq
    val lows = n.where(col("n_nationkey") < 3)
      .orderBy("n_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
    assert(rows ==
      lows.map { case (k, nm) => ("update_postimage", k, nm.toUpperCase) } ++
      lows.map { case (k, nm) => ("update_preimage", k, nm) })

    // join-free: the feed's plan carries NO join exec (pre-images ride
    // one broadcast semi-join — allowed; full-outer diff is not)
    val plan = feed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val fullOuter = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.toString == "FullOuter" => j
    }
    assert(fullOuter.isEmpty,
      s"update CDF must not pay the full-outer diff:\n$plan")

    // a second update's feed carries only ITS OWN delta (tombstone
    // exceptAll — not the cumulative set)
    GraftTable.commitUpdate(spark, dir, Seq("n_nationkey"),
      col("n_nationkey") === 7,
      Seq("n_name" -> lower(col("n_name"))), "whisper seven")
    val feed2 = GraftTable.changeFeed(spark, dir, 2, Seq("n_nationkey"))
    assert(feed2.count() == 2)
    assert(feed2.where(col("n_nationkey") =!= 7).count() == 0)
  }

  test("occ partitions: disjoint writers commit without re-execution") {
    val dir = freshDir("occparts")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), T.money(T.dec(col("o_totalprice"))).as("price"))
      .withColumn("p", pmod(col("o_orderkey"), lit(4)).cast("string"))
    // born partition-mapped: v0 covers all four partitions
    GraftTable.replacePartitionsWithRetry(spark, dir, "p",
      _ => o, "base load")
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.dataDirsOf(fs, dir, 0).size == 4)

    // two latched writers on DISJOINT partition sets: each transform
    // must evaluate exactly ONCE — the race loser re-commits its
    // already-staged result (no second stage, no orphan)
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(parts: Seq[Int], bump: Int): Thread = new Thread(() => {
      try {
        latch.await()
        GraftTable.replacePartitionsWithRetry(spark, dir, "p", { snap =>
          evals.incrementAndGet()
          snap.get.filter(col("p").isin(parts.map(_.toString): _*))
            .withColumn("price", col("price") + bump)
        }, s"bump $parts")
      } catch { case t: Throwable => errs.add(t) }
    })
    val (ta, tb) = (writer(Seq(0, 1), 1000), writer(Seq(2), 2000))
    ta.start(); tb.start(); latch.countDown(); ta.join(); tb.join()
    assert(errs.isEmpty, s"writers failed: ${errs.toArray.toSeq}")
    assert(evals.get() == 2,
      s"disjoint writers must each evaluate once (got ${evals.get()})")
    assert(GraftTable.versions(fs, dir).size == 3)

    // final state is order-independent: both bumps landed, p=3 untouched
    val got = GraftTable.read(spark, dir)
    val expect = o.withColumn("price",
      when(col("p").isin("0", "1"), col("p").cast("int") * 0 + col("price") + 1000)
        .when(col("p") === "2", col("price") + 2000)
        .otherwise(col("price")))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // the untouched partition's entry is the ORIGINAL staged subdir
    val (_, m0) = GraftTable.pmapDecode(
      GraftTable.headersOf(fs, dir, 0)("pmap"))
    val (_, m2) = GraftTable.pmapDecode(
      GraftTable.headersOf(fs, dir, 2)("pmap"))
    assert(m2("3") == m0("3"), "untouched partition must keep its entry")

    // OVERLAPPING writers: the loser must RE-EXECUTE (3 evals total)
    val evals2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch2 = new java.util.concurrent.CountDownLatch(1)
    def clasher(bump: Int): Thread = new Thread(() => {
      try {
        latch2.await()
        GraftTable.replacePartitionsWithRetry(spark, dir, "p", { snap =>
          evals2.incrementAndGet()
          snap.get.filter(col("p") === "0")
            .withColumn("price", col("price") + bump)
        }, s"clash $bump")
      } catch { case t: Throwable => errs.add(t) }
    })
    val (tc, td) = (clasher(1), clasher(10))
    tc.start(); td.start(); latch2.countDown(); tc.join(); td.join()
    assert(errs.isEmpty, s"clashers failed: ${errs.toArray.toSeq}")
    assert(evals2.get() == 3,
      s"overlapping loser must re-execute (got ${evals2.get()} evals)")
    // serial semantics: both bumps apply (re-execution read the
    // winner's rows), whatever the interleaving
    val p0 = GraftTable.read(spark, dir).where(col("p") === "0")
    val base0 = expect.where(col("p") === "0")
    assert(p0.count() == base0.count())
    val diff = p0.join(base0.withColumnRenamed("price", "bp"),
      Seq("o_orderkey", "p"))
      .where(col("price") =!= col("bp") + 11)
    assert(diff.isEmpty, "both overlapping bumps must apply serially")
  }

  test("tail compaction: head untouched, band reads tighten, rows identical") {
    val dir = freshDir("tailcomp")
    val fs = GraftTable.fsOf(spark, dir)
    val us = GraftTable.StatsEnc.ordinal("us")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        T.money(T.dec(col("o_totalprice"))).as("price"))
    // head: clustered pre-1995 slice; tail: two ARRIVAL-ORDER appends
    // (hashed by key, so their per-file date rectangles are full-width)
    val head = o.where(col("o_orderdate") < lit("1995-01-01").cast("timestamp_ntz"))
      .repartitionByRange(4, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions("o_orderdate")
    val late = o.where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz"))
    GraftTable.commitNextIsolated(spark, dir, head, "clustered head",
      statsEnc = Seq("o_orderdate" -> "us"))
    GraftTable.commitAppend(spark, dir,
      late.where(col("o_orderkey") % 2 === 0).repartition(4, col("o_orderkey")),
      "arrival slice A", statsEnc = Seq("o_orderdate" -> "us"))
    GraftTable.commitAppend(spark, dir,
      late.where(col("o_orderkey") % 2 === 1).repartition(4, col("o_orderkey")),
      "arrival slice B", statsEnc = Seq("o_orderdate" -> "us"))

    val headDir = GraftTable.dataDirsOf(fs, dir, 0).head
    def headState(): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$headDir"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    val headBefore = headState()
    val before = GraftTable.read(spark, dir)
    val (loUs, hiUs) = (T.epochUs("1996-03-01"), T.epochUs("1996-03-31"))
    val (_, hitBefore, totalBefore) =
      GraftTable.readStatsBand(spark, dir, 2, "o_orderdate", loUs, hiUs)

    // fold ONLY the tail, re-clustered on the date ordinal
    val v = GraftTable.compactChainTail(spark, dir, targetFiles = 8,
      clusterBy = Seq("o_orderdate" -> us),
      statsEnc = Seq("o_orderdate" -> "us"))
    assert(v == 3)
    assert(headState() == headBefore, "head files must stay byte-untouched")
    assert(GraftTable.dataDirsOf(fs, dir, 3) ==
      Seq(headDir, GraftTable.dataDirsOf(fs, dir, 3)(1)))

    // row identity across the operation
    val after = GraftTable.read(spark, dir)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)

    // the band read now opens FEWER files for the same slice (the tail
    // was arrival-ordered — every tail file overlapped every band)
    val (bandDf, hitAfter, totalAfter) =
      GraftTable.readStatsBand(spark, dir, 3, "o_orderdate", loUs, hiUs)
    assert(hitAfter.size < hitBefore.size,
      s"tail clustering must tighten the band read: " +
        s"${hitAfter.size}/${totalAfter} vs ${hitBefore.size}/$totalBefore")
    // ... and still serves the band's exact rows (path resolution across
    // the statrel commit shape)
    val exact = bandDf.where(
      col("o_orderdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
      col("o_orderdate") <= lit("1996-03-31").cast("timestamp_ntz")).count()
    val truth = before.where(
      col("o_orderdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
      col("o_orderdate") <= lit("1996-03-31").cast("timestamp_ntz")).count()
    assert(exact == truth && truth > 0)

    // a further append extends the spanning stats line (statrel re-key)
    GraftTable.commitAppend(spark, dir,
      late.limit(0), "empty tick", statsEnc = Seq("o_orderdate" -> "us"))
    val (_, hit4, _) =
      GraftTable.readStatsBand(spark, dir, 4, "o_orderdate", loUs, hiUs)
    assert(hit4.toSet == hitAfter.toSet)

    // a RENAMED column folds through both tail doors: the folded files
    // keep their physical names, like the untouched head dir, so the
    // new version must keep the colmap= that maps the logical name onto
    // them — every renamed value reads back as before the fold
    Seq("compactChainTail", "maintain").foreach { door =>
      val rdir = freshDir(s"tailcomp_renamed_$door")
      val rows = o.select(col("o_orderkey"), col("price"))
      GraftTable.commitNextIsolated(spark, rdir,
        rows.where(col("o_orderkey") % 3 === 0), "head")
      (1 to 2).foreach(i => GraftTable.commitAppend(spark, rdir,
        rows.where(col("o_orderkey") % 3 === i), s"tail $i"))
      GraftTable.commitRenameColumns(spark, rdir, Seq("price" -> "amount"))
      val pre = GraftTable.read(spark, rdir)
      assert(pre.where(col("amount").isNull).isEmpty, door)
      val folded =
        if (door == "compactChainTail") GraftTable.compactChainTail(spark, rdir)
        else GraftTable.maintain(spark, rdir, maxChainDirs = 2,
          incremental = true).compacted.get
      assert(GraftTable.dataDirsOf(fs, rdir, folded).size == 2, door)
      val post = GraftTable.read(spark, rdir)
      assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty,
        s"$door: the fold changed the rows of a renamed chain")
    }
  }

  test("bloom: executor-built multi-column sidecar serves both keys") {
    val dir = freshDir("mcbloom")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .repartition(6)
    // buildBloomSidecar returns only (col, m, k) metadata — the word
    // rows never reach the driver (signature-level guarantee; the
    // sidecar is written by the final task where the words live)
    GraftTable.commitNextIsolated(spark, dir, o, "two keys",
      bloomCols = Seq("o_custkey", "o_orderpriority"))
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.headersOf(fs, dir, 0)("bloom").split(";").length == 2)

    // the audit relation lists one row per (file, column)
    val bt = GraftTable.bloomTable(spark, dir, 0).collect()
    assert(bt.map(_.getAs[String]("col")).distinct.sorted.toSeq ==
      Seq("o_custkey", "o_orderpriority"))
    assert(bt.length == 12)

    // NO FALSE NEGATIVES, per column: every (value → file) truth pair
    // must be in the probe's candidate set
    for (c <- Seq("o_custkey", "o_orderpriority")) {
      val truth = GraftTable.read(spark, dir)
        .select(col(c), input_file_name().as("f")).distinct().collect()
        .map(r => (r.get(0), new java.net.URI(r.getString(1)).getPath))
      val byVal = truth.groupBy(_._1)
      byVal.take(20).foreach { case (v, pairs) =>
        val (_, hit, total) = GraftTable.readBloomEq(spark, dir, 0, c, v)
        assert(total == 6)
        val hitCanon = hit.map(p => fs.makeQualified(
          new org.apache.hadoop.fs.Path(p)).toUri.normalize().getPath).toSet
        assert(pairs.map(_._2).toSet.subsetOf(hitCanon),
          s"false negative probing $c = $v")
      }
    }

    // an absent key reads nothing; a string probe works (the priority
    // column) — type-tagged hashing both sides
    assert(GraftTable.readBloomEq(spark, dir, 0, "o_custkey",
      java.lang.Long.valueOf(-977L))._2.isEmpty)
    assert(GraftTable.readBloomEq(spark, dir, 0, "o_orderpriority",
      "9-NO_SUCH")._2.isEmpty)

    // DSv2: conjunct probes on BOTH columns intersect their candidates
    val t = spark.read.format("graft").load(dir)
    val row = o.where(col("o_custkey").isNotNull).head()
    val (ck, pr) = (row.getLong(1), row.getString(2))
    val both = t.where(col("o_custkey") === ck &&
      col("o_orderpriority") === pr)
    val pBoth = plannedFiles(both).toSet
    val pCk = plannedFiles(t.where(col("o_custkey") === ck)).toSet
    val pPr = plannedFiles(t.where(col("o_orderpriority") === pr)).toSet
    assert(pBoth == pCk.intersect(pPr),
      "conjunct probes must intersect per-column candidate sets")
    assert(both.count() ==
      GraftTable.read(spark, dir).where(col("o_custkey") === ck &&
        col("o_orderpriority") === pr).count())
  }

  test("cdc rate control: bounded batches, exactly-once across a restart mid-backlog") {
    val dir = freshDir("cdcrate")
    val cp = freshDir("cdcrate_cp")
    def commitSlice(i: Int): Unit =
      GraftTable.commitNextIsolated(spark,
        dir, spark.range(i * 10, i * 10 + 10).toDF("id"), s"tick $i")
    (0 until 5).foreach(commitSlice) // 5-version backlog

    val batches = collection.mutable.ArrayBuffer.empty[Seq[Int]]
    def drain(max: Int): Unit = {
      val q = GraftTable.commitFeed(spark, dir, maxVersionsPerTrigger = max)
        .writeStream
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val vs = b.collect().map(_.getAs[Int]("version")).sorted.toSeq
            if (vs.nonEmpty) batches.synchronized { batches += vs }
            ()
        }
        .start()
      q.awaitTermination()
    }
    // the backlog drains in ceil(5/2) bounded batches, version order
    drain(max = 2)
    assert(batches.toSeq == Seq(Seq(0, 1), Seq(2, 3), Seq(4)),
      s"got $batches")

    // restart MID-BACKLOG: 3 more versions, same checkpoint — resumes
    // at the first unseen commit, replays nothing, still bounded
    (5 until 8).foreach(commitSlice)
    batches.clear()
    drain(max = 2)
    assert(batches.toSeq == Seq(Seq(5, 6), Seq(7)), s"got $batches")
  }

  test("dsv2: keep-sets are scan-local — a union of two filters on ONE loaded table prunes independently") {
    val dir = freshDir("dsv2iso")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
    GraftTable.commitNextIsolated(spark, dir, o, "banded",
      statsEnc = Seq("o_orderdate" -> "us"))
    val t = spark.read.format("graft").load(dir) // ONE table instance
    def band(from: String, to: String) =
      t.where(col("o_orderdate") >= lit(from).cast("timestamp_ntz") &&
        col("o_orderdate") < lit(to).cast("timestamp_ntz"))
    // two disjoint bands through the SAME table: each must see its own
    // rows (a shared mutable keep-set would serve one band's files to
    // both branches and drop rows)
    val u = band("1993-02-01", "1993-03-01")
      .unionByName(band("1997-06-01", "1997-07-01"))
    val truth = o.where(
      (col("o_orderdate") >= lit("1993-02-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1993-03-01").cast("timestamp_ntz")) ||
      (col("o_orderdate") >= lit("1997-06-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp_ntz"))).count()
    assert(u.count() == truth && truth > 0)
    // ... and the band after a full-table read of the same instance
    assert(t.count() == o.count())
  }

  test("dsv2: band pruning stays sound across a tail-compaction (statrel) commit") {
    val dir = freshDir("dsv2statrel")
    val us = GraftTable.StatsEnc.ordinal("us")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val cut = lit("1995-01-01").cast("timestamp_ntz")
    GraftTable.commitNextIsolated(spark, dir,
      o.where(col("o_orderdate") < cut)
        .repartitionByRange(3, col("o_orderdate"), col("o_orderkey"))
        .sortWithinPartitions("o_orderdate"),
      "head", statsEnc = Seq("o_orderdate" -> "us"))
    GraftTable.commitAppend(spark, dir,
      o.where(col("o_orderdate") >= cut).repartition(3, col("o_orderkey")),
      "tail", statsEnc = Seq("o_orderdate" -> "us"))
    GraftTable.compactChainTail(spark, dir, targetFiles = 4,
      clusterBy = Seq("o_orderdate" -> us),
      statsEnc = Seq("o_orderdate" -> "us"))

    val t = spark.read.format("graft").load(dir)
    val sliced = t.where(
      col("o_orderdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
      col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
    val truth = GraftTable.read(spark, dir).where(
      col("o_orderdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
      col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz")).count()
    // sound (exact rows) AND effective (fewer files than the table's 7)
    assert(sliced.count() == truth && truth > 0)
    val planned = plannedFiles(sliced)
    val all = plannedFiles(t.select(col("o_orderkey")))
    assert(planned.nonEmpty && planned.size < all.size,
      s"statrel band must prune: ${planned.size} of ${all.size}")
  }

  test("dsv2 write: save/append/overwrite mint versions through the manifest") {
    val dir = freshDir("dsv2write")
    val n = T.t(spark, sf, "nation").select(col("n_nationkey"), col("n_name"))

    // first write to an EMPTY dir mints v0 (embryonic table; Spark's
    // catalog-less V2 save allows Append/Overwrite modes only)
    n.where(col("n_nationkey") < 10).write.format("graft")
      .mode("append").save(dir)
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.currentVersion(fs, dir).contains(0))
    assert(GraftTable.read(spark, dir).count() == 10)

    // append mode = an append commit (marker present, CDC fast path)
    n.where(col("n_nationkey") >= 10).write.format("graft")
      .mode("append").save(dir)
    assert(GraftTable.headersOf(fs, dir, 1).contains("append"))
    assert(GraftTable.read(spark, dir).count() == n.count())
    assert(GraftTable.versionDelta(spark, dir, 1).count() ==
      n.where(col("n_nationkey") >= 10).count())

    // overwrite = truncate-and-replace as the next full version
    n.where(col("n_nationkey") < 5).write.format("graft")
      .mode("overwrite").save(dir)
    assert(GraftTable.read(spark, dir).count() == 5)
    assert(GraftTable.readVersion(spark, dir, 1).count() == n.count())

    // the write-time schema gate guards the DSv2 door too — and the
    // refused write leaves no version and no staged orphan
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).length
    intercept[Exception] {
      n.selectExpr("n_nationkey", "n_name AS wrong_name")
        .write.format("graft").mode("append").save(dir)
    }
    assert(GraftTable.currentVersion(fs, dir).contains(2))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).length == before)

    // declared constraints enforce on DSv2-written rows
    val cdir = freshDir("dsv2wc")
    GraftTable.commitNextIsolated(spark, cdir,
      spark.range(3).selectExpr("id AS k"), "base",
      constraints = Seq("check:k >= 0"))
    intercept[Exception] {
      spark.range(-2, 1).selectExpr("id AS k")
        .write.format("graft").mode("append").save(cdir)
    }
    assert(GraftTable.currentVersion(GraftTable.fsOf(spark, cdir), cdir)
      .contains(0))
    spark.range(3, 5).selectExpr("id AS k")
      .write.format("graft").mode("append").save(cdir)
    assert(GraftTable.read(spark, cdir).count() == 5)

    // SQL INSERT INTO through the catalog door
    spark.conf.set("spark.sql.catalog.gt",
      classOf[graft.sources.GraftCatalog].getName)
    val abs = new java.io.File(cdir).getAbsolutePath
    spark.sql(s"INSERT INTO gt.`$abs` VALUES (7), (8)")
    assert(GraftTable.read(spark, cdir).count() == 7)
    // a REGISTRY-declared (statenc) chain auto-extends its index on a
    // DSv2 append (round 16; lambda-ordinal chains still refuse —
    // Round16Spec pins that half)
    val idir = freshDir("dsv2wi")
    GraftTable.commitNextIsolated(spark, idir,
      spark.range(4).selectExpr("id AS k"), "indexed",
      statsEnc = Seq("k" -> "id"))
    spark.range(9, 11).selectExpr("id AS k")
      .write.format("graft").mode("append").save(idir)
    val ih = GraftTable.headersOf(GraftTable.fsOf(spark, idir), idir, 1)
    assert(ih.contains("stats") && ih.contains("statenc"))
    val (_, iOpened, iTotal) = GraftTable.readStatsBand(
      spark, idir, 1, "k", 9L, 10L)
    assert(iOpened.nonEmpty && iOpened.size < iTotal)
  }

  test("maintain incremental: the nightly pass folds only the tail") {
    val dir = freshDir("maintinc")
    val us = GraftTable.StatsEnc.ordinal("us")
    val o = T.t(spark, sf, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val cut = lit("1995-01-01").cast("timestamp_ntz")
    GraftTable.commitNextIsolated(spark, dir,
      o.where(col("o_orderdate") < cut)
        .repartitionByRange(3, col("o_orderdate"), col("o_orderkey"))
        .sortWithinPartitions("o_orderdate"),
      "head", statsEnc = Seq("o_orderdate" -> "us"))
    val late = o.where(col("o_orderdate") >= cut)
    (0 until 3).foreach(i => GraftTable.commitAppend(spark, dir,
      late.where(col("o_orderkey") % 3 === i), s"tick $i",
      statsEnc = Seq("o_orderdate" -> "us")))
    val fs = GraftTable.fsOf(spark, dir)
    val headDir = GraftTable.dataDirsOf(fs, dir, 0).head
    val headMtimes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$headDir"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val before = GraftTable.read(spark, dir)
    val rep = GraftTable.maintain(spark, dir, maxChainDirs = 2,
      targetFiles = 4, clusterBy = Seq("o_orderdate" -> us),
      statsEnc = Seq("o_orderdate" -> "us"), incremental = true)
    assert(rep.compacted.contains(4) && rep.compactionRefused.isEmpty)
    assert(GraftTable.dataDirsOf(fs, dir, 4).size == 2)
    assert(GraftTable.dataDirsOf(fs, dir, 4).head == headDir)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$headDir"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap ==
      headMtimes, "the head must survive the nightly pass untouched")
    val after = GraftTable.read(spark, dir)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
  }

  test("dsv2: deletion vectors on a BINARY key column match both doors") {
    val dir = freshDir("dsv2binkey")
    val d = spark.range(20).selectExpr(
      "sha2(CAST(id AS STRING), 256) AS h", "unhex(md5(CAST(id AS STRING))) AS bin_key", "id AS v")
    GraftTable.commitNextIsolated(spark, dir, d, "binary-keyed")
    GraftTable.commitDeleteVector(spark, dir,
      d.where(col("v") % 4 === 0).select("bin_key"), Seq("bin_key"))
    val api = GraftTable.read(spark, dir)
    val dsv2 = spark.read.format("graft").load(dir)
    assert(api.count() == 15)
    assert(dsv2.count() == 15,
      "binary tombstone keys must match in the DSv2 reader (Array[Byte] " +
        "equality is reference identity — keys are normalized)")
    assert(dsv2.select("v").exceptAll(api.select("v")).isEmpty)
  }

  test("dsv2 streaming: the manifest as a micro-batch source, exactly once") {
    val dir = freshDir("dsv2stream")
    val cp = freshDir("dsv2stream_cp")
    def tick(i: Int): Unit =
      if (i == 0)
        GraftTable.commitNextIsolated(spark, dir,
          spark.range(0, 10).toDF("id"), "v0")
      else GraftTable.commitAppend(spark, dir,
        spark.range(i * 10, i * 10 + 10).toDF("id"), s"tick $i")
    (0 until 3).foreach(tick) // v0 snapshot + 2 appends

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", 2)
        .load(dir)
        .writeStream
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val ids = b.collect().map(_.getLong(0))
            ids.foreach(rows.add)
            if (ids.nonEmpty) batchSizes.add(ids.length)
            ()
        }
        .start()
      q.awaitTermination()
    }
    drain()
    assert(rows.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      (0L until 30L), s"got ${rows.size} rows")
    // admission control shaped the catch-up: (v0+v1) then v2
    assert(batchSizes.toArray.toSeq == Seq(20, 10), s"got $batchSizes")

    // restart with the same checkpoint: only NEW versions replay
    (3 until 5).foreach(tick)
    rows.clear(); batchSizes.clear()
    drain()
    assert(rows.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      (30L until 50L),
      s"restart must resume at the first unseen version (${rows.size})")

    // a rewrite version refuses loudly (added-files-only posture)
    GraftTable.commitNextIsolated(spark, dir,
      spark.range(0, 7).toDF("id"), "rewrite")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getMessage.contains("not an append commit") ||
      Option(e.getCause).exists(_.getMessage.contains("not an append commit")),
      s"rewrites must refuse: ${e.getMessage.take(300)}")
  }

  test("dsv2 runtime filtering: a broadcast join's keys prune files at execution") {
    val dir = freshDir("dsv2rf")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey")).repartition(6)
    GraftTable.commitNextIsolated(spark, dir, o, "bloomed",
      bloomCol = Some("o_custkey"))
    // the dim's selective predicate is on a NON-key column (a filter
    // on the join key itself constant-folds into a static pushed
    // filter — nothing left to prune dynamically)
    val key = o.agg(min(col("o_custkey"))).head().getLong(0)
    val nameOf = T.t(spark, sf, "customer")
      .where(col("c_custkey") === key).select("c_name").head().getString(0)
    val dim = T.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"))
      .where(col("c_name") === nameOf)

    val t = spark.read.format("graft").load(dir)
    val j = t.join(dim, t("o_custkey") === dim("c_custkey"))
    val n = j.collect().length.toLong
    assert(n == o.where(col("o_custkey") === key).count() && n > 0)

    // the executed plan carried runtime filters into the scan, and the
    // scan's manifest verdict fired on the build side's key values
    val plan = j.queryExecution.executedPlan
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case other => other.collect {
        case b: BatchScanExec => Seq(b)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Nil
      }.flatten
    }
    val graftScans = scans(plan)
      .filter(_.scan.isInstanceOf[graft.sources.GraftScan])
    assert(graftScans.nonEmpty, s"no graft scan in: $plan")
    assert(graftScans.exists(_.runtimeFilters.nonEmpty),
      s"the join must inject runtime filters into the graft scan: $plan")
    assert(graftScans.exists(
      _.scan.asInstanceOf[graft.sources.GraftScan].runtimePruned),
      "the scan's manifest verdict must have fired at runtime")
  }
}
