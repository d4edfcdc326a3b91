package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.GraftTable

/** Round-16 surface: atomic Bloom sidecar publish + read-back gate,
  * SQL UPDATE/DELETE, the streaming write door, index-preserving DSv2
  * writes, catalog ALTER TABLE, SQL maintenance, DV binary-key probes. */
class Round16Spec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"target/tmp/r16_${tag}"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    dir
  }

  // ---- 1. atomic sidecar publish + read-back gate ----------------------

  test("bloom: build→probe stress loop stays false-negative-free") {
    // the driver's one-off table_bloom_multicol red was a suspected
    // torn sidecar publish; this loop rebuilds the index from scratch
    // repeatedly and audits completeness + probe truth each round
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .repartition(6)
    for (round <- 1 to 6) {
      val dir = freshDir(s"bloomstress$round")
      GraftTable.commitNextIsolated(spark, dir, o, s"round $round",
        bloomCols = Seq("o_custkey", "o_orderpriority"))
      val fs = GraftTable.fsOf(spark, dir)
      val hdr = GraftTable.headersOf(fs, dir, 0)("bloom")
      assert(hdr.split(";").length == 2)
      // the published sidecar is COMPLETE: every data file in every
      // section (the read-back gate's own invariant, re-checked cold)
      val bt = GraftTable.bloomTable(spark, dir, 0).collect()
      assert(bt.length == 12, s"round $round: expected 6 files × 2 cols")
      // truth check on a sample of keys: no false negative anywhere
      val truth = GraftTable.read(spark, dir)
        .select(col("o_custkey"), input_file_name().as("f"))
        .distinct().limit(40).collect()
        .map(r => (r.get(0), new java.net.URI(r.getString(1)).getPath))
      truth.groupBy(_._1).take(8).foreach { case (v, pairs) =>
        val (_, hit, total) = GraftTable.readBloomEq(
          spark, dir, 0, "o_custkey", v)
        assert(total == 6)
        val hitCanon = hit.map(p => fs.makeQualified(new Path(p))
          .toUri.normalize().getPath).toSet
        assert(pairs.map(_._2).toSet.subsetOf(hitCanon),
          s"round $round: false negative probing o_custkey = $v")
      }
    }
  }

  test("bloom: the read-back gate refuses torn or incomplete sidecars") {
    val dir = freshDir("bloomgate")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey")).repartition(4)
    GraftTable.commitNextIsolated(spark, dir, o, "bloomed",
      bloomCol = Some("o_custkey"))
    val fs = GraftTable.fsOf(spark, dir)
    val hdrs = GraftTable.headersOf(fs, dir, 0)
    val Array(_, mS, kS) = hdrs("bloom").split(";")(0).split('|')
    val (m, k) = (mS.toInt, kS.toInt)
    val dataDir = hdrs("data")
    val sidecar = new Path(s"$dir/$dataDir/_bloom")
    val in = fs.open(sidecar)
    val full =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val files = full.split("\n").filter(_.split('|').length == 2)
      .map(l => java.net.URLDecoder.decode(l.split('|')(0), "UTF-8")).toSet
    assert(files.size == 4)

    // intact sidecar passes the audit
    GraftTable.auditBloomSidecar(fs, sidecar, Seq("o_custkey"), m, k, files)

    def overwrite(content: String): Unit = {
      val out = fs.create(sidecar, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // (a) a missing file line — the silent-false-negative shape
    overwrite(full.linesIterator.toSeq.dropRight(1).mkString("\n"))
    val eA = intercept[IllegalArgumentException] {
      GraftTable.auditBloomSidecar(fs, sidecar, Seq("o_custkey"), m, k, files)
    }
    assert(eA.getMessage.contains("covers"))
    // (b) a truncated hex line (torn mid-write)
    overwrite(full.trim.dropRight(32))
    val eB = intercept[IllegalArgumentException] {
      GraftTable.auditBloomSidecar(fs, sidecar, Seq("o_custkey"), m, k, files)
    }
    assert(eB.getMessage.contains("short-width") ||
      eB.getMessage.contains("covers"))
    // (c) a wrong/missing section
    overwrite(full)
    val eC = intercept[IllegalArgumentException] {
      GraftTable.auditBloomSidecar(fs, sidecar,
        Seq("o_custkey", "o_orderkey"), m, k, files)
    }
    assert(eC.getMessage.contains("sections"))
  }

  test("bloom: a stale ._bloomtmp_ temp is vacuumed, a fresh one kept") {
    val dir = freshDir("bloomlitter")
    val o = T.t(spark, sf, "nation").select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, o, "bloomed",
      bloomCol = Some("n_nationkey"))
    val fs = GraftTable.fsOf(spark, dir)
    val dataDir = GraftTable.headersOf(fs, dir, 0)("data")
    // a crashed attempt's leftover temp, backdated past the 10-min floor
    val stale = new Path(s"$dir/$dataDir/._bloomtmp_deadbeef")
    fs.create(stale, true).close()
    val old = System.currentTimeMillis() - 11 * 60 * 1000L
    fs.setTimes(stale, old, old)
    // an in-flight attempt's fresh temp must survive
    val freshTmp = new Path(s"$dir/$dataDir/._bloomtmp_cafebabe")
    fs.create(freshTmp, true).close()

    val reclaimed = GraftTable.vacuum(fs, dir, graceMs = 0L)
    assert(reclaimed.exists(_.endsWith("._bloomtmp_deadbeef")),
      s"stale bloom temp not reclaimed: $reclaimed")
    assert(!fs.exists(stale))
    assert(fs.exists(freshTmp), "fresh in-flight temp must not be yanked")
    assert(fs.exists(new Path(s"$dir/$dataDir/_bloom")),
      "the published sidecar itself must never be reclaimed")
    // probes still serve after the vacuum
    // int32 column → Int probe (xxhash64 hashes type-tagged bytes)
    val (df, _, _) = GraftTable.readBloomEq(spark, dir, 0, "n_nationkey", 7)
    assert(df.where(col("n_nationkey") === 7).count() == 1)
  }

  // ---- 2. SQL UPDATE / DELETE --------------------------------------------

  private def withCatalog(name: String): Unit =
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)

  /** (name, length, mtime) of every data file under `$dir/$dd` — the
    * byte-identity witness for MoR fast-path claims. */
  private def fileSigs(dir: String, dd: String): Seq[(String, Long, Long)] = {
    val fs = GraftTable.fsOf(spark, dir)
    fs.listStatus(new Path(s"$dir/$dd")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  test("sql: UPDATE takes the MoR fast path — dv + replacement, base intact") {
    val dir = freshDir("sqlupdate")
    val base = T.t(spark, sf, "customer")
      .select(col("c_custkey").as("key"), T.dec(col("c_acctbal")).as("bal"))
      .repartition(3)
    GraftTable.commitNextIsolated(spark, dir, base, "base")
    val fs = GraftTable.fsOf(spark, dir)
    val baseDir = GraftTable.headersOf(fs, dir, 0)("data")
    val before = fileSigs(dir, baseDir)

    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"UPDATE gt16.`$abs` SET bal = bal * 2 WHERE key % 5 = 0")

    // MoR shape: the new version re-references the base dir UNCHANGED,
    // adds a replacement dir, and carries a scoped full-row dv
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1("data").split(",").head == baseDir)
    assert(h1.contains("update"), "UPDATE must mint a replacement dir")
    assert(h1("dv").endsWith(";scoped"))
    assert(h1("dv").split(";")(1).split(",").toSeq ==
      Seq("key", "bal"), "SQL UPDATE keys the tombstone by FULL ROW")
    assert(fileSigs(dir, baseDir) == before,
      "base files must be byte-identical (no rewrite)")

    // row truth, both snapshots
    val expect1 = base
      .withColumn("bal", when(col("key") % 5 === 0, col("bal") * 2)
        .otherwise(col("bal")).cast(base.schema("bal").dataType))
    val got1 = GraftTable.read(spark, dir)
    assert(got1.count() == base.count())
    assert(got1.exceptAll(expect1).isEmpty && expect1.exceptAll(got1).isEmpty)
    val got0 = GraftTable.readVersion(spark, dir, 0)
    assert(got0.exceptAll(base).isEmpty && base.exceptAll(got0).isEmpty)
  }

  test("sql: DELETE takes the MoR fast path and composes after UPDATE") {
    val dir = freshDir("sqldelete")
    val base = T.t(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("st"),
        T.dec(col("o_totalprice")).as("price"))
    GraftTable.commitNextIsolated(spark, dir, base, "base")
    val fs = GraftTable.fsOf(spark, dir)
    val baseDir = GraftTable.headersOf(fs, dir, 0)("data")
    val before = fileSigs(dir, baseDir)

    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"DELETE FROM gt16.`$abs` WHERE st = 'F'")
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1.contains("dv") && !h1.contains("update"))
    assert(fileSigs(dir, baseDir) == before)
    val live1 = GraftTable.read(spark, dir)
    assert(live1.count() == base.where(col("st") =!= "F").count())

    // UPDATE after DELETE: full-row identities agree, the chains compose
    spark.sql(s"UPDATE gt16.`$abs` SET price = price + 1 WHERE key % 7 = 0")
    val live2 = GraftTable.read(spark, dir)
    val expect2 = base.where(col("st") =!= "F")
      .withColumn("price", when(col("key") % 7 === 0, col("price") + 1)
        .otherwise(col("price")).cast(base.schema("price").dataType))
    assert(live2.exceptAll(expect2).isEmpty && expect2.exceptAll(live2).isEmpty)

    // a second DELETE composes too, and a deleted row stays dead
    spark.sql(s"DELETE FROM gt16.`$abs` WHERE key % 3 = 0")
    val live3 = GraftTable.read(spark, dir)
    val expect3 = expect2.where(col("key") % 3 =!= 0)
    assert(live3.exceptAll(expect3).isEmpty && expect3.exceptAll(live3).isEmpty)
  }

  test("sql: UPDATE handles duplicate rows and set-column conditions exactly") {
    val dir = freshDir("sqldup")
    import spark.implicits._
    // duplicates by full row AND rows differing only in the SET column:
    // the shapes that break key-based identity are exact under full-row
    val rows = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, -5L), (2L, -5L),
      (3L, 7L)).toDF("k", "v").repartition(2)
    GraftTable.commitNextIsolated(spark, dir, rows, "base")
    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    // condition ON the set column — unsound for non-unique narrow keys,
    // exact here
    spark.sql(s"UPDATE gt16.`$abs` SET v = 0 WHERE v < 0")
    val got = GraftTable.read(spark, dir).as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 0L),
      (2L, 0L), (3L, 7L)), s"got ${got.toSeq}")

    spark.sql(s"DELETE FROM gt16.`$abs` WHERE k = 1 AND v = 10")
    val got2 = GraftTable.read(spark, dir).as[(Long, Long)].collect().sorted
    assert(got2.toSeq == Seq((1L, 20L), (2L, 0L), (2L, 0L), (3L, 7L)))
  }

  // ---- 3. streaming WRITE door -------------------------------------------

  test("stream write: each epoch appends one version, exactly once across a crash-window restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = freshDir("streamwrite")
    val ckpt = freshDir("streamwrite_ckpt")
    val fs = GraftTable.fsOf(spark, dir)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDF().toDF("id", "tag").writeStream
      .format("graft")
      .option("path", new java.io.File(dir).getAbsolutePath)
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    mem.addData((1L, "a"), (2L, "b")); q1.processAllAvailable()
    mem.addData((3L, "c")); q1.processAllAvailable(); q1.stop()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    // replay idempotence is keyed (query, epoch) — Delta's (txnAppId,
    // version) rule
    assert(GraftTable.meta(fs, dir, 0).startsWith("epoch=0;query=") &&
      GraftTable.meta(fs, dir, 1).startsWith("epoch=1;query="))
    // v1 is an APPEND commit re-referencing v0's dir — the CDC/stream
    // read fast path holds for the sink table
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1.contains("append") && h1("data").split(",").length == 2)
    def rows() = GraftTable.read(spark, dir).as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // CRASH WINDOW: the sink committed epoch 1 but the engine died
    // before recording it — drop the streaming commit log's last entry
    // and restart. The engine re-delivers batch 1; the epoch probe must
    // mint nothing and delete the duplicate staged dir.
    fs.delete(new Path(s"$ckpt/commits/1"), false)
    val q2 = start()
    q2.processAllAvailable()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1),
      "a replayed epoch must not mint a version")
    assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // no stray staging dir either (the replay's twin is gone; the ep
    // dirs that remain are exactly the committed versions' data dirs)
    val referencedEp = GraftTable.versions(fs, dir)
      .flatMap(v => GraftTable.headersOf(fs, dir, v)("data").split(","))
      .toSet
    val strays = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n.startsWith("ep") && !referencedEp.contains(n)).toSeq
    assert(strays.isEmpty, s"replay left staged dirs: $strays")

    // post-restart ingest continues the SAME history exactly once
    mem.addData((4L, "d")); q2.processAllAvailable(); q2.stop()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2))
    assert(GraftTable.meta(fs, dir, 2).startsWith("epoch=2;query="))
    assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // the sink table is itself a valid streaming SOURCE: replay the
    // append history through the read door and reach the same rows
    val outCkpt = freshDir("streamwrite_outckpt")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q3 = spark.readStream.format("graft")
      .load(new java.io.File(dir).getAbsolutePath)
      .writeStream
      .option("checkpointLocation", outCkpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.synchronized {
          got ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q3.awaitTermination(60000)
    assert(got.sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("stream write: OutputMode refusal, empty epochs, vacuum of dead-run staging") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = freshDir("streamwrite2")
    val fs = GraftTable.fsOf(spark, dir)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // Complete mode refuses loudly at query start
    val e = intercept[Exception] {
      val q = mem.toDF().toDF("id", "tag")
        .groupBy("tag").count()
        .writeStream.format("graft")
        .outputMode("complete")
        .option("path", new java.io.File(dir).getAbsolutePath)
        .option("checkpointLocation", freshDir("streamwrite2_ckpt"))
        .start()
      mem.addData((1L, "a")); q.processAllAvailable(); q.stop()
      q.exception.foreach(throw _)
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("Append only") ||
        e.getMessage.toLowerCase.contains("truncate") ||
        Option(e.getCause).exists(_.getMessage.contains("Append only"))),
      s"unexpected refusal: ${e.getMessage}")

    // a dead run's orphaned ep staging dir is vacuum-reclaimable
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a")).toDF("id", "tag"), "base")
    val orphan = new Path(s"$dir/ep7_deadrun0")
    fs.mkdirs(orphan)
    fs.create(new Path(orphan, "part-0-7.parquet"), true).close()
    val old = System.currentTimeMillis() - 11 * 60 * 1000L
    fs.setTimes(new Path(orphan, "part-0-7.parquet"), old, old)
    fs.setTimes(orphan, old, old)
    val reclaimed = GraftTable.vacuum(fs, dir, graceMs = 0L)
    assert(reclaimed.contains("ep7_deadrun0"), s"got $reclaimed")
    assert(!fs.exists(orphan))
  }

  // ---- 4. index-preserving DSv2/SQL writes -------------------------------

  /** Files the physical scan actually plans (read-set truth). */
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

  private def indexedOrdersFixture(tag: String): (String, String) = {
    val dir = freshDir(tag)
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val cut = lit("1997-01-01").cast("timestamp_ntz")
    GraftTable.commitNextIsolated(spark, dir,
      o.where(col("o_orderdate") < cut)
        .repartitionByRange(4, col("o_orderdate"), col("o_orderkey"))
        .sortWithinPartitions("o_orderdate"),
      "indexed head", statsEnc = Seq("o_orderdate" -> "us"),
      bloomCols = Seq("o_custkey"))
    (dir, new java.io.File(dir).getAbsolutePath)
  }

  test("dsv2: a write appended to a statenc+bloom chain keeps pruning live") {
    val (dir, abs) = indexedOrdersFixture("idxappend")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val cut = lit("1997-01-01").cast("timestamp_ntz")
    val tail = o.where(col("o_orderdate") >= cut).repartition(3)
    tail.write.format("graft").mode("append").save(abs)

    val fs = GraftTable.fsOf(spark, dir)
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1.contains("append") && h1.contains("stats") &&
      h1.contains("bloom") && h1("statenc").contains("o_orderdate"))
    // the merged stats line covers BOTH dirs' files, table-relative
    val st = GraftTable.TableStats.decode(h1("stats"))
    val dirs = h1("data").split(",").toSeq
    assert(dirs.length == 2 &&
      dirs.forall(dd => st.files.exists(_.file.startsWith(s"$dd/"))),
      s"stats must span the chain: ${st.files.map(_.file).take(3)}")

    // row identity: skipping machinery must not change results
    val all = spark.read.format("graft").load(abs)
    assert(all.count() == o.count())
    assert(all.exceptAll(o).isEmpty && o.exceptAll(all).isEmpty)

    // band pruning still fires on the DSv2 scan (strict file subset)
    val band = all.where(
      col("o_orderdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1996-06-01").cast("timestamp_ntz"))
    val planned = plannedFiles(band)
    val total = st.files.size
    assert(planned.nonEmpty && planned.size < total,
      s"band should prune: planned ${planned.size} of $total")

    // the Bloom index extended: a tail-only key probes false-negative-
    // free across the chain, per dir
    val tailKey = tail.select(col("o_custkey")).head().getLong(0)
    val (pdf, hit, totalB) = GraftTable.readBloomEq(
      spark, dir, 1, "o_custkey", tailKey)
    assert(totalB == total)
    assert(pdf.where(col("o_custkey") === tailKey).count() ==
      o.where(col("o_custkey") === tailKey).count())
    assert(hit.nonEmpty && hit.size < totalB)

    // SQL INSERT INTO drives the same door
    withCatalog("gt16")
    spark.sql(s"INSERT INTO gt16.`$abs` " +
      "SELECT CAST(9999991 AS BIGINT), CAST(424242 AS BIGINT), " +
      "TIMESTAMP_NTZ '1999-01-01 00:00:00'")
    val h2 = GraftTable.headersOf(fs, dir, 2)
    assert(h2.contains("stats") && h2.contains("bloom"))
    val (pdf2, hit2, _) = GraftTable.readBloomEq(
      spark, dir, 2, "o_custkey", 424242L)
    assert(hit2.size == 1 &&
      pdf2.where(col("o_custkey") === 424242L).count() == 1)
  }

  test("sql: MERGE on an indexed target re-indexes the merged snapshot") {
    val (dir, abs) = indexedOrdersFixture("idxmerge")
    withCatalog("gt16")
    import spark.implicits._
    val src = Seq((1L, 7777777L), (2L, 7777777L)).toDF("okey", "ckey")
    src.createOrReplaceTempView("r16_merge_src")
    spark.sql(
      s"""MERGE INTO gt16.`$abs` t USING r16_merge_src s
         |ON t.o_orderkey = s.okey
         |WHEN MATCHED THEN UPDATE SET o_custkey = s.ckey
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderdate)
         |  VALUES (s.okey, s.ckey, TIMESTAMP_NTZ '1996-06-15 00:00:00')
         |""".stripMargin)
    val fs = GraftTable.fsOf(spark, dir)
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1.contains("stats") && h1.contains("bloom") &&
      h1.contains("statenc"), s"MERGE must re-index, got ${h1.keySet}")
    // the recomputed Bloom index serves the merged keys
    val (pdf, hit, _) = GraftTable.readBloomEq(spark, dir, 1,
      "o_custkey", 7777777L)
    assert(hit.nonEmpty &&
      pdf.where(col("o_custkey") === 7777777L).count() == 2)
    // and the recomputed band index stays row-exact
    val lo = graft.T.epochUs("1996-06-01"); val hi = graft.T.epochUs("1996-07-01") - 1
    // (the merged snapshot may land as a single file, so prune
    // TIGHTNESS is not asserted here — recomputed-band row-exactness is)
    val (band, opened, totalF) = GraftTable.readStatsBand(
      spark, dir, 1, "o_orderdate", lo, hi)
    assert(opened.nonEmpty && opened.size <= totalF)
    val expected = GraftTable.read(spark, dir).where(
      col("o_orderdate") >= lit("1996-06-01").cast("timestamp_ntz") &&
        col("o_orderdate") <= lit("1996-06-30").cast("timestamp_ntz"))
    assert(band.where(
      col("o_orderdate") >= lit("1996-06-01").cast("timestamp_ntz") &&
        col("o_orderdate") <= lit("1996-06-30").cast("timestamp_ntz"))
      .count() == expected.count())
  }

  test("stream write: epochs onto an indexed sink chain extend the index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = freshDir("idxstream")
    val fs = GraftTable.fsOf(spark, dir)
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 100L)).toDF("k", "v"), "indexed base",
      statsEnc = Seq("k" -> "id"), bloomCols = Seq("k"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream.format("graft")
      .option("path", new java.io.File(dir).getAbsolutePath)
      .option("checkpointLocation", freshDir("idxstream_ckpt"))
      .start()
    mem.addData((2L, 200L)); q.processAllAvailable()
    mem.addData((3L, 300L)); q.processAllAvailable(); q.stop()
    val h2 = GraftTable.headersOf(fs, dir, 2)
    assert(h2.contains("stats") && h2.contains("bloom") &&
      h2.contains("statenc"), s"streamed epochs must extend: ${h2.keySet}")
    val (pdf, hit, total) = GraftTable.readBloomEq(spark, dir, 2, "k", 3L)
    assert(total == 3 && hit.size == 1 &&
      pdf.where(col("k") === 3L).count() == 1)
    val (_, opened, _) = GraftTable.readStatsBand(spark, dir, 2, "k", 2L, 2L)
    assert(opened.size == 1)
  }

  // ---- 6. ALTER TABLE ADD COLUMN -----------------------------------------

  test("sql: ALTER TABLE ADD COLUMNS is metadata-only with NULL backfill") {
    val dir = freshDir("altersql")
    val base = T.t(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, base, "base")
    val fs = GraftTable.fsOf(spark, dir)
    val baseDir = GraftTable.headersOf(fs, dir, 0)("data")
    val before = fileSigs(dir, baseDir)

    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"ALTER TABLE gt16.`$abs` " +
      "ADD COLUMNS (region_code INT, note STRING)")
    // metadata-only: same data dir, byte-identical files
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1("data") == baseDir)
    assert(fileSigs(dir, baseDir) == before)

    // API read: new columns surface as typed NULLs at the end
    val r = GraftTable.read(spark, dir)
    assert(r.schema.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "region_code", "note"))
    assert(r.schema("region_code").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(r.where(col("region_code").isNull && col("note").isNull)
      .count() == base.count())
    // DSv2/SQL read serves the same
    val sqlRead = spark.sql(s"SELECT * FROM gt16.`$abs`")
    assert(sqlRead.schema.fieldNames.toSeq == r.schema.fieldNames.toSeq)
    assert(sqlRead.where(col("note").isNull).count() == base.count())
    // v0 time travel keeps ITS schema
    assert(GraftTable.readVersion(spark, dir, 0).schema.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name"))

    // the write gate binds the NEW schema from here on: the narrow
    // frame refuses, the wide one lands
    val e = intercept[Exception] {
      GraftTable.commitNextIsolated(spark, dir, base, "narrow again")
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    GraftTable.commitNextIsolated(spark, dir,
      base.withColumn("region_code", (col("n_nationkey") % 5).cast("int"))
        .withColumn("note", lit("x")),
      "filled")
    assert(GraftTable.read(spark, dir)
      .where(col("region_code").isNotNull).count() == base.count())

    // DROP became metadata-only in round 17 — the column leaves the
    // schema, files untouched; retypes still refuse loudly
    spark.sql(s"ALTER TABLE gt16.`$abs` DROP COLUMN note")
    assert(!GraftTable.read(spark, dir).columns.contains("note"))
    val e2 = intercept[Exception] {
      spark.sql(
        s"ALTER TABLE gt16.`$abs` ALTER COLUMN region_code TYPE BIGINT")
    }
    assert(e2.getMessage.contains("not supported"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE gt16.`$abs` ADD COLUMNS (region_code INT)")
    }
    assert(e3.getMessage.contains("already exists"), e3.getMessage)
  }

  test("sql: DML full-row identity is exact over NULL-bearing columns") {
    val dir = freshDir("nulldml")
    import spark.implicits._
    val rows = Seq((1L, Some("a")), (2L, None), (3L, None), (4L, Some("d")))
      .toDF("k", "tag").repartition(2)
    GraftTable.commitNextIsolated(spark, dir, rows, "base")
    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    // delete a NULL-keyed row: the tombstone tuple holds a NULL — the
    // null-safe anti-join must still kill it (and only it)
    spark.sql(s"DELETE FROM gt16.`$abs` WHERE k = 2")
    val afterDelete = GraftTable.read(spark, dir)
      .select(col("k")).as[Long].collect().sorted.toSeq
    assert(afterDelete == Seq(1L, 3L, 4L), s"got $afterDelete")
    // update THROUGH a NULL: rows with tag NULL get one; the old
    // NULL-bearing rows must die exactly once
    spark.sql(s"UPDATE gt16.`$abs` SET tag = 'filled' WHERE tag IS NULL")
    val after = GraftTable.read(spark, dir)
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(after == Seq((1L, Some("a")), (3L, Some("filled")),
      (4L, Some("d"))), s"got $after")
    // and the DSv2 read path agrees with the API read
    val dsv2 = spark.read.format("graft").load(abs)
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(dsv2 == after)
  }

  // ---- 7. SQL maintenance surface ----------------------------------------

  test("sql: graft_optimize / graft_vacuum / graft_expire drive maintenance from SQL text") {
    import spark.implicits._
    val dir = freshDir("sqlmaint")
    val fs = GraftTable.fsOf(spark, dir)
    def chunk(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i * 10)).toDF("k", "v").repartition(2)
    GraftTable.commitNextIsolated(spark, dir, chunk(0, 100), "head",
      statsEnc = Seq("k" -> "id"), bloomCols = Seq("k"))
    GraftTable.commitAppend(spark, dir, chunk(100, 200), "a1",
      statsEnc = Seq("k" -> "id"), bloomCols = Seq("k"))
    GraftTable.commitAppend(spark, dir, chunk(200, 300), "a2",
      statsEnc = Seq("k" -> "id"), bloomCols = Seq("k"))

    // OPTIMIZE from SQL: one dir, index re-derived from the manifest
    val rep = spark.sql(s"SELECT * FROM graft_optimize('$dir', 2)")
      .collect()(0)
    assert(rep.getAs[Int]("version") == 3 && rep.getAs[Long]("n_dirs") == 1L)
    val h3 = GraftTable.headersOf(fs, dir, 3)
    assert(h3.contains("stats") && h3.contains("statenc") &&
      h3.contains("bloom"), s"OPTIMIZE must re-index: ${h3.keySet}")
    val (pdf, hit, total) = GraftTable.readBloomEq(spark, dir, 3, "k", 250L)
    assert(total == rep.getAs[Long]("n_files").toInt &&
      pdf.where(col("k") === 250L).count() == 1 && hit.size >= 1)
    val (_, opened, totalB) = GraftTable.readStatsBand(
      spark, dir, 3, "k", 0L, 50L)
    assert(opened.size < totalB || totalB == 1)
    assert(GraftTable.read(spark, dir).count() == 300)

    // VACUUM from SQL: a planted orphan staging dir is reclaimed
    val orphan = new Path(s"$dir/v2_deadbeef")
    fs.mkdirs(orphan)
    fs.create(new Path(orphan, "part-0.parquet"), true).close()
    val vac = spark.sql(s"SELECT * FROM graft_vacuum('$dir', 0)")
      .as[String].collect().toSeq
    assert(vac.contains("v2_deadbeef"), s"got $vac")
    assert(!fs.exists(orphan))

    // retention from SQL: nothing is old enough — zero rows, all
    // versions still readable
    assert(spark.sql(
      s"SELECT * FROM graft_expire('$dir', ${Long.MaxValue})").count() == 0)
    assert(GraftTable.readVersion(spark, dir, 0).count() == 100)
  }

  // ---- 5. column statistics for CBO --------------------------------------

  test("cbo: manifest column stats drive filter-selectivity estimates") {
    val dir = freshDir("cbostats")
    // key-clustered statenc table — the manifest records per-file
    // min/max in registry (id) ordinals
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    GraftTable.commitNextIsolated(spark, dir, o, "clustered",
      statsEnc = Seq("o_orderkey" -> "id"))
    val abs = new java.io.File(dir).getAbsolutePath

    val oldCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      val scanDf = spark.read.format("graft").load(abs)
      val rel = scanDf.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r
      }.head
      val attrStats = rel.stats.attributeStats
      // the scan RELATION carries manifest-truth column stats
      val keyStat = attrStats.find(_._1.name == "o_orderkey")
        .map(_._2).getOrElse(fail(s"no o_orderkey colStat in $attrStats"))
      val expMin = o.agg(min(col("o_orderkey"))).head().getLong(0)
      val expMax = o.agg(max(col("o_orderkey"))).head().getLong(0)
      assert(keyStat.min.contains(expMin) && keyStat.max.contains(expMax),
        s"colStat min/max ${keyStat.min}/${keyStat.max} != " +
          s"$expMin/$expMax")
      assert(keyStat.nullCount.isDefined &&
        keyStat.nullCount.get == BigInt(0), s"${keyStat.nullCount}")

      // a range filter's ESTIMATED row count shrinks accordingly — the
      // selectivity signal CBO join planning feeds on (without column
      // stats the estimate would be the blind default, nowhere near the
      // narrow slice)
      val total = o.count()
      val cut = expMin + (expMax - expMin) * 9 / 10
      val filtered = spark.read.format("graft").load(abs)
        .where(col("o_orderkey") >= cut)
      val fStats = filtered.queryExecution.optimizedPlan.stats
      val actual = o.where(col("o_orderkey") >= cut).count()
      assert(fStats.rowCount.isDefined, "CBO must estimate a row count")
      val est = fStats.rowCount.get.toLong
      // range estimation from true min/max: a ~10% slice must estimate
      // FAR below the table count and within a loose band of actual
      assert(est < total / 2 && est > 0,
        s"estimate $est not selective (total $total, actual $actual)")
      assert(est <= actual * 3 + 10 && est * 3 + 10 >= actual,
        s"estimate $est too far from actual $actual")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", oldCbo)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  // ---- review-pass regressions -------------------------------------------

  test("stream write: a second query into the same sink is NOT mistaken for a replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = freshDir("twoqueries")
    val fs = GraftTable.fsOf(spark, dir)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(ckpt: String, batches: Seq[Seq[(Long, String)]]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("id", "tag").writeStream.format("graft")
        .option("path", new java.io.File(dir).getAbsolutePath)
        .option("checkpointLocation", ckpt)
        .start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    // query A commits epochs 0..1
    run(freshDir("twoqueries_ckptA"),
      Seq(Seq((1L, "a")), Seq((2L, "a"))))
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    // query B: FRESH checkpoint — its epoch ids restart at 0; a
    // bare-epoch probe would silently discard its whole early history
    run(freshDir("twoqueries_ckptB"), Seq(Seq((3L, "b"))))
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2),
      "a new query's epoch 0 must LAND, not be dropped as a replay")
    import spark.implicits._
    val got = GraftTable.read(spark, dir).as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "a"), (3L, "b")), s"got $got")
  }

  test("sql: ALTER works on convention-path and unindexed append chains") {
    import spark.implicits._
    // a plain rewrite head: the alter re-references its data= dir
    val dir = freshDir("alterconv")
    GraftTable.commitNextIsolated(spark, dir, Seq((1L, "x")).toDF("k", "t"), "v0")
    withCatalog("gt16")
    spark.sql(s"ALTER TABLE gt16.`${new java.io.File(dir).getAbsolutePath}` " +
      "ADD COLUMNS (extra INT)")
    val r = GraftTable.read(spark, dir)
    assert(r.columns.toSeq == Seq("k", "t", "extra") && r.count() == 1)

    // unindexed APPEND chain (a streaming sink's shape): statrel must
    // not ride without a stats line
    val dir2 = freshDir("alterappend")
    GraftTable.commitNextIsolated(spark, dir2,
      Seq((1L, "x")).toDF("k", "t"), "v0")
    GraftTable.commitAppend(spark, dir2, Seq((2L, "y")).toDF("k", "t"), "a1")
    spark.sql(s"ALTER TABLE gt16.`${new java.io.File(dir2).getAbsolutePath}` " +
      "ADD COLUMNS (extra INT)")
    val r2 = GraftTable.read(spark, dir2)
    assert(r2.columns.toSeq == Seq("k", "t", "extra") && r2.count() == 2)
    assert(r2.where(col("extra").isNull).count() == 2)
  }

  test("sql: MERGE raises a cardinality violation on multi-matched target rows") {
    import spark.implicits._
    val dir = freshDir("mergecard")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "base")
    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    Seq((1L, 100L), (1L, 200L), (3L, 300L)).toDF("k", "v")
      .createOrReplaceTempView("r16_card_src")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO gt16.`$abs` t USING r16_card_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir) == Seq(0),
      "a refused merge must mint nothing")
    // the explicit escape hatch accepts one-output-per-match
    spark.conf.set("spark.graft.merge.allowMultipleMatches", "true")
    try {
      spark.sql(s"""MERGE INTO gt16.`$abs` t USING r16_card_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin)
      assert(GraftTable.read(spark, dir).count() == 4) // 1×2 + 2 + 3
    } finally spark.conf.unset("spark.graft.merge.allowMultipleMatches")
    // sole unconditional DELETE is the sound carve-out: no error
    val dir2 = freshDir("mergecard2")
    GraftTable.commitNextIsolated(spark, dir2,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "base")
    spark.sql(s"""MERGE INTO gt16.`${new java.io.File(dir2).getAbsolutePath}`
      | t USING r16_card_src s ON t.k = s.k
      |WHEN MATCHED THEN DELETE
      |""".stripMargin)
    assert(GraftTable.read(spark, dir2).as[(Long, Long)].collect().toSeq ==
      Seq((2L, 20L)))
  }

  test("sql: DELETE on a registry-indexed target takes the copy-on-write arm — index re-derived and live") {
    val dir = freshDir("delidx16")
    val n = T.t(spark, sf, "nation").select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, n, "indexed",
      statsEnc = Seq("n_nationkey" -> "id"))
    withCatalog("gt16")
    spark.sql(s"DELETE FROM gt16.`${new java.io.File(dir).getAbsolutePath}`" +
      " WHERE n_nationkey = 1")
    // survivors exact, and the rewritten version still carries a LIVE
    // stats index — the band read resolves through it (it throws on an
    // index-less commit) and genuinely serves the surviving keys
    val keys = GraftTable.read(spark, dir)
      .select(col("n_nationkey")).collect().map(_.getInt(0)).toSet
    assert(!keys.contains(1) && keys.contains(0) && keys.contains(2))
    val (band, _, _) =
      GraftTable.readStatsBand(spark, dir, 1, "n_nationkey", 0L, 3L)
    assert(band.where(col("n_nationkey").between(0, 3))
      .collect().map(_.getInt(0)).toSet == Set(0, 2, 3))
  }

  test("sql: DML composes with ALTER — tombstones key the backfilled column") {
    import spark.implicits._
    val dir = freshDir("alterdml")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "t"), "base")
    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"ALTER TABLE gt16.`$abs` ADD COLUMNS (extra INT)")
    // full-row tombstones now include the NULL-backfilled column; the
    // single-dir DV read must conform the declared schema before the
    // anti-join or it cannot even resolve `extra`
    spark.sql(s"DELETE FROM gt16.`$abs` WHERE k = 2")
    val got = GraftTable.read(spark, dir)
      .select(col("k"), col("t"), col("extra")).as[(Long, String, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (3L, "c", None)), s"got $got")
    // and an UPDATE filling the altered column after the delete
    spark.sql(s"UPDATE gt16.`$abs` SET extra = 7 WHERE k = 3")
    val got2 = GraftTable.read(spark, dir)
      .select(col("k"), col("extra")).as[(Long, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(got2 == Seq((1L, None), (3L, Some(7))), s"got $got2")
  }

  test("sql: UPDATE assignments are simultaneous (SET a = b, b = a swaps)") {
    import spark.implicits._
    val dir = freshDir("swapset")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "a", "b"), "base")
    withCatalog("gt16")
    spark.sql(s"UPDATE gt16.`${new java.io.File(dir).getAbsolutePath}` " +
      "SET a = b, b = a WHERE k = 1")
    val got = GraftTable.read(spark, dir).as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 20L, 10L), (2L, 30L, 40L)),
      s"a sequential fold would yield (1,20,20): $got")
  }

  test("dsv2: an overwrite of an indexed table re-indexes the replacement") {
    val (dir, abs) = indexedOrdersFixture("idxoverwrite")
    val replacement = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .limit(500).repartition(2)
    replacement.write.format("graft").mode("overwrite").save(abs)
    val fs = GraftTable.fsOf(spark, dir)
    val h1 = GraftTable.headersOf(fs, dir, 1)
    assert(h1.contains("stats") && h1.contains("bloom") &&
      h1.contains("statenc"),
      s"overwrite must re-index, not strip: ${h1.keySet}")
    // the re-derived index serves the replacement rows
    val k = replacement.select(col("o_custkey")).head().getLong(0)
    val (pdf, hit, _) = GraftTable.readBloomEq(spark, dir, 1, "o_custkey", k)
    assert(hit.nonEmpty && pdf.where(col("o_custkey") === k).count() ==
      replacement.where(col("o_custkey") === k).count())
  }

  // ---- SQL surface completion: RESTORE / CLONE / CTAS --------------------

  test("sql: graft_restore is a metadata-only rewind that carries every header") {
    val dir = freshDir("sqlrestore")
    val o = T.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val fs = GraftTable.fsOf(spark, dir)
    // v0: an INDEXED version (statenc + bloom) — the restore must bring
    // the index back, not just the rows
    GraftTable.commitNextIsolated(spark, dir,
      o.repartitionByRange(3, col("o_orderdate"), col("o_orderkey"))
        .sortWithinPartitions("o_orderdate"),
      "good load", statsEnc = Seq("o_orderdate" -> "us"),
      bloomCols = Seq("o_custkey"))
    val v0Files = fileSigs(dir, GraftTable.headersOf(fs, dir, 0)("data"))
    // v1: a bad overwrite (no index)
    GraftTable.commitNextIsolated(spark, dir,
      o.limit(10), "bad load")
    assert(GraftTable.read(spark, dir).count() == 10)

    val rep = spark.sql(s"SELECT * FROM graft_restore('$dir', 0)").collect()(0)
    assert(rep.getAs[Int]("restored_to") == 0 &&
      rep.getAs[Int]("new_version") == 2)
    // the head serves v0's snapshot again — same data dir, bytes intact
    val h2 = GraftTable.headersOf(fs, dir, 2)
    assert(h2("data") == GraftTable.headersOf(fs, dir, 0)("data"))
    assert(fileSigs(dir, h2("data")) == v0Files,
      "restore must be metadata-only (no rewrite)")
    assert(GraftTable.read(spark, dir).count() == o.count())
    // the index rode along: band + bloom probes serve on the new head
    assert(h2.contains("stats") && h2.contains("statenc") &&
      h2.contains("bloom"))
    val ck = o.select(col("o_custkey")).head().getLong(0)
    val (pdf, hit, total) = GraftTable.readBloomEq(spark, dir, 2,
      "o_custkey", ck)
    assert(total == 3 && hit.nonEmpty &&
      pdf.where(col("o_custkey") === ck).count() ==
        o.where(col("o_custkey") === ck).count())
    // history preserved: v1's bad load is still readable (forensics)
    assert(GraftTable.readVersion(spark, dir, 1).count() == 10)
    // a never-committed version refuses
    val e = intercept[Exception] {
      GraftTable.restoreVersion(spark, dir, 99)
    }
    assert(e.getMessage.contains("never committed"), e.getMessage)

    // and a RETENTION-RECLAIMED version refuses with the GC message —
    // a restore that minted a version over vanished data would poison
    // every read of the new head
    import spark.implicits._
    val dir2 = freshDir("sqlrestore_gc")
    val fs2 = GraftTable.fsOf(spark, dir2)
    GraftTable.commitNextIsolated(spark, dir2,
      Seq((1L, "a")).toDF("k", "t"), "v0")
    GraftTable.commitNextIsolated(spark, dir2,
      Seq((2L, "b")).toDF("k", "t"), "v1")
    val expired = GraftTable.expireVersions(fs2, dir2, retainMs = 1L,
      nowMs = System.currentTimeMillis() + 600000L)
    assert(expired.contains(0), s"fixture: v0 should expire, got $expired")
    val e2 = intercept[Exception] {
      GraftTable.restoreVersion(spark, dir2, 0)
    }
    assert(e2.getMessage.contains("garbage-collected"), e2.getMessage)
  }

  test("sql: graft_clone zero-copies and CTAS lands through the catalog") {
    import spark.implicits._
    val src = freshDir("clonesrc")
    val dst = freshDir("clonedst")
    GraftTable.commitNextIsolated(spark, src,
      Seq((1L, "a"), (2L, "b")).toDF("k", "t"), "v0")
    GraftTable.commitAppend(spark, src,
      Seq((3L, "c")).toDF("k", "t"), "a1")
    val rep = spark.sql(
      s"SELECT * FROM graft_clone('$src', '$dst')").collect()(0)
    assert(rep.getAs[Int]("src_version") == 1 &&
      rep.getAs[Int]("dst_version") >= 0)
    assert(GraftTable.read(spark, dst).as[(Long, String)]
      .collect().sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // CREATE TABLE AS SELECT through the catalog door
    withCatalog("gt16")
    val ctasDir = freshDir("ctas")
    val abs = new java.io.File(ctasDir).getAbsolutePath
    spark.sql(s"CREATE TABLE gt16.`$abs` AS " +
      "SELECT id AS k, id * 2 AS dbl FROM range(5)")
    val got = GraftTable.read(spark, ctasDir).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == (0L until 5L).map(i => (i, i * 2)).toSeq, s"got $got")
    // and the catalog can read it back by SQL
    assert(spark.sql(s"SELECT COUNT(*) FROM gt16.`$abs`")
      .head().getLong(0) == 5)
  }

  test("sql: UPDATE on a Bloom-indexed target rewrites copy-on-write with the index live; non-deterministic conditions refuse") {
    val dir = freshDir("sqldmlrefuse")
    val n = T.t(spark, sf, "nation").select(col("n_nationkey"), col("n_name"))
    GraftTable.commitNextIsolated(spark, dir, n, "bloomed",
      bloomCol = Some("n_nationkey"))
    withCatalog("gt16")
    val abs = new java.io.File(dir).getAbsolutePath
    // the indexed target takes the copy-on-write arm: the update lands
    // and the REBUILT Bloom index serves the updated row (readBloomEq
    // throws on an index-less commit)
    spark.sql(s"UPDATE gt16.`$abs` SET n_name = 'X' WHERE n_nationkey = 1")
    // the probe literal must match the column's RUNTIME type (INT here
    // — xxhash64 hashes type-tagged bytes)
    val probed = GraftTable.readBloomEq(spark, dir, 1, "n_nationkey",
      java.lang.Integer.valueOf(1))
      ._1.where(col("n_nationkey") === 1)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(probed == Seq((1, "X")), s"got $probed")
    assert(GraftTable.read(spark, dir).where(col("n_name") === "X")
      .count() == 1L)
    // non-deterministic conditions refuse (full-row identity contract)
    val dir2 = freshDir("sqldmlrand")
    GraftTable.commitNextIsolated(spark, dir2, n, "plain")
    val abs2 = new java.io.File(dir2).getAbsolutePath
    val e2 = intercept[Exception] {
      spark.sql(s"DELETE FROM gt16.`$abs2` WHERE rand() < 0.5")
    }
    assert(e2.getMessage.contains("deterministic"), e2.getMessage)
  }
}
