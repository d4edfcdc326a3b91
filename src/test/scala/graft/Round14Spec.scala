package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.ops.Round14Ops
import graft.sources.GraftTable

/** Latches the append-OCC spec's blocking UDF reaches through a STATIC
  * module reference: the UDF body runs in executor task threads (same
  * JVM under local[*], but the closure is still serialized, and
  * CountDownLatch is not Serializable — a captured latch would fail at
  * task serialization; the module access resolves to the singleton). */
private[graft] object R14Gate {
  val evals = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var staging: java.util.concurrent.CountDownLatch = _
  @volatile var resume: java.util.concurrent.CountDownLatch = _
}

/** Round-14 mechanics the SQL oracles cannot see: the manifest
  * checkpoint's O(1 + suffix) FS-call budget (counted through a
  * wrapping FileSystem) with graceful degradation on corruption, the
  * CDC fast path's plan shape (input files ⊆ the append marker dir, no
  * join/exchange) and its row-identity with the exceptAll path, a
  * FORCED append-OCC conflict where the loser lands WITHOUT
  * re-evaluating or re-staging, the schema gate's no-version/no-orphan
  * refusals in every flavor, time-based retention against back-dated
  * histories (including append chains whose dirs live versions still
  * reference), the commit-timestamp clamp, unusable-hint repair, the
  * vacuum grace window keyed off file (not dir) mtimes, and the
  * null-count skip sets audited against per-file truth. */
class Round14Spec extends SparkSpec {

  private def fresh(name: String): (String, FileSystem) = {
    val dir = s"target/tmp/$name"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    (dir, fs)
  }

  private def tinyDf(tag: Int): DataFrame = {
    import spark.implicits._
    Seq((tag.toLong, s"row$tag")).toDF("k", "s")
  }

  /** FS-call counter: every manifest read in GraftTable goes through
    * open / listStatus / getFileStatus (exists) on the passed
    * FileSystem, so wrapping it is a complete probe census. */
  private class CountingFs(raw: FileSystem) extends FilterFileSystem(raw) {
    val opens = new java.util.concurrent.atomic.AtomicInteger(0)
    val lists = new java.util.concurrent.atomic.AtomicInteger(0)
    override def open(f: Path, bufferSize: Int)
        : org.apache.hadoop.fs.FSDataInputStream = {
      opens.incrementAndGet(); super.open(f, bufferSize)
    }
    override def listStatus(f: Path): Array[FileStatus] = {
      lists.incrementAndGet(); super.listStatus(f)
    }
    def reset(): Unit = { opens.set(0); lists.set(0) }
  }

  // ---- manifest checkpoint --------------------------------------------------

  test("checkpoint: history + versionAsOf resolve in O(1 + suffix) FS calls at 55 commits — and degrade to per-file reads on a corrupt checkpoint") {
    val (dir, fs) = fresh("g14_cp")
    (0 until 55).foreach(i => GraftTable.commitNext(spark, dir, tinyDf(i),
      s"load $i"))
    assert(GraftTable.checkpoint(fs, dir) == 49 + 5,
      "checkpoint covers the full 55-commit history") // 54 = current
    // re-checkpoint at a STALE point to exercise the suffix: rebuild the
    // table state as checkpoint-at-49 + commits 50..54 by checkpointing
    // BEFORE the last five commits instead
    val (dir2, fs2) = fresh("g14_cp2")
    (0 until 50).foreach(i => GraftTable.commitNext(spark, dir2, tinyDf(i),
      s"load $i"))
    assert(GraftTable.checkpoint(fs2, dir2) == 49)
    (50 until 55).foreach(i => GraftTable.commitNext(spark, dir2, tinyDf(i),
      s"load $i"))
    val counting = new CountingFs(fs2)
    val hist = GraftTable.historyRows(counting, dir2)
    assert(hist.map(_._1) == (0 until 55) &&
      hist.map(_._2) == (0 until 55).map(i => s"load $i"),
      "checkpoint-resolved history must equal the per-file truth")
    assert(counting.lists.get() == 0,
      s"dense-range resolution through the hint must never list the " +
        s"manifest (listed ${counting.lists.get()} times)")
    // budget: hint read + checkpoint read + the 5-commit suffix (+ the
    // final probe misses are exists calls, not opens)
    assert(counting.opens.get() <= 9,
      s"history at 55 commits with a checkpoint-at-49 must read O(1 + " +
        s"suffix) files, not one per commit: ${counting.opens.get()} opens")
    counting.reset()
    val asOfTs = GraftTable.commitTimeMs(fs2, dir2, 52)
    counting.reset()
    assert(GraftTable.versionAsOf(counting, dir2, asOfTs).contains(52))
    assert(counting.lists.get() == 0 && counting.opens.get() <= 9,
      s"versionAsOf budget blown: ${counting.opens.get()} opens, " +
        s"${counting.lists.get()} lists")
    // CORRUPT the checkpoint: readers must fall back to per-file reads
    // (more opens) and still answer identically
    val out = fs2.create(new Path(s"$dir2/manifest/_checkpoint"), true)
    try out.write("v=9999\ngarbage".getBytes("UTF-8")) finally out.close()
    assert(GraftTable.readCheckpoint(fs2, dir2).isEmpty,
      "a corrupt checkpoint must be detected, not trusted")
    counting.reset()
    val degraded = GraftTable.historyRows(counting, dir2)
    assert(degraded == hist, "degraded history must equal checkpointed")
    assert(counting.opens.get() >= 55,
      s"without a usable checkpoint the walk is per-file " +
        s"(${counting.opens.get()} opens) — proves the checkpoint was " +
        "the thing saving the reads")
    // versions() itself never lists with a fresh hint — the commitEpoch
    // per-micro-batch probe rides this
    counting.reset()
    assert(GraftTable.versions(counting, dir2) == (0 until 55))
    assert(counting.lists.get() == 0,
      "versions() must resolve from the hint + forward probes, not a listing")
  }

  // ---- append fast-path CDC -------------------------------------------------

  test("versionDelta on an append version: input files ⊆ the marker dir, no join/exchange in the plan, rows ≡ the exceptAll recompute") {
    val dir = Round14Ops.appendChain(spark, sf, "14cdcspec")
    val fs = GraftTable.fsOf(spark, dir)
    val dirs1 = GraftTable.dataDirsOf(fs, dir, 1)
    val added1 = dirs1.last
    assert(dirs1.size == 2 && GraftTable.dataDirsOf(fs, dir, 2).size == 3,
      "append versions reference the whole chain")
    val delta = GraftTable.versionDelta(spark, dir, 1)
    assert(delta.inputFiles.nonEmpty &&
      delta.inputFiles.forall(_.contains(s"/$added1/")),
      s"fast-path delta must read ONLY the marker dir $added1")
    val plan = delta.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, "fast path must not diff snapshots")
    // semantic identity with the general path: exceptAll of the two
    // snapshots, multiset-compared via a full-row groupBy count
    val slow = GraftTable.readVersion(spark, dir, 1)
      .exceptAll(GraftTable.readVersion(spark, dir, 0))
    def counted(df: DataFrame) = df.groupBy("o_orderkey", "price")
      .count().orderBy("o_orderkey").collect().toSeq
    assert(counted(delta) == counted(slow),
      "fast-path delta must be row-identical to the exceptAll path")
  }

  // ---- append-only OCC ------------------------------------------------------

  test("commitAppendWithRetry under a FORCED conflict: the loser lands without re-evaluating or re-staging — no orphans, both appends served") {
    import spark.implicits._
    val (dir, fs) = fresh("g14_appendocc")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((0L, "base")).toDF("k", "s"), "base")
    R14Gate.evals.set(0)
    R14Gate.staging = new java.util.concurrent.CountDownLatch(1)
    R14Gate.resume = new java.util.concurrent.CountDownLatch(1)
    // A's rows pass through a blocking UDF: evaluation (= the ONE
    // parquet write) signals `staging` and holds until B has committed,
    // so A's first commit attempt MUST hit the CME path deterministically
    val gateUdf = udf((k: Long) => {
      R14Gate.evals.incrementAndGet()
      R14Gate.staging.countDown()
      R14Gate.resume.await()
      k
    })
    val dfA = Seq((10L, "a1"), (11L, "a2"), (12L, "a3")).toDF("k", "s")
      .repartition(1).withColumn("k", gateUdf(col("k")))
    var aVersion = -1
    val tA = new Thread(() => {
      aVersion = GraftTable.commitAppendWithRetry(spark, dir, dfA, "A append")
    })
    tA.start()
    R14Gate.staging.await() // A is mid-write against snapshot v0
    val bVersion = GraftTable.commitAppend(spark, dir,
      Seq((20L, "b1")).toDF("k", "s"), "B append")
    R14Gate.resume.countDown()
    tA.join()
    assert(bVersion == 1 && aVersion == 2,
      s"B must win v1 while A retries into v2 (got B=$bVersion A=$aVersion)")
    assert(R14Gate.evals.get() == 3,
      s"the loser must NOT re-evaluate its rows (3 rows evaluated once; " +
        s"got ${R14Gate.evals.get()} evaluations)")
    // the loser's staged dir was REUSED, not re-staged: base + A + B =
    // exactly 3 data dirs on disk, and nothing for vacuum to reclaim
    val dataDirs = fs.listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("v")).toSet
    assert(dataDirs.size == 3,
      s"one staged dir per writer, reused on retry: $dataDirs")
    assert(GraftTable.vacuum(fs, dir).isEmpty,
      "a lost append race must leave no orphan")
    val got = GraftTable.read(spark, dir).orderBy("k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 10L, 11L, 12L, 20L),
      s"both appends and the base must serve: $got")
    // and v2's delta is exactly A's rows — the fast path composes with
    // the retry (the marker names the reused dir)
    assert(GraftTable.versionDelta(spark, dir, 2).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
  }

  // ---- schema gate ----------------------------------------------------------

  test("schema gate: typo'd/dropped/retyped columns are refused BEFORE staging (no version, no orphan); declared evolution and append-exact rules hold") {
    import spark.implicits._
    val (dir, fs) = fresh("g14_schema")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10.5)).toDF("k", "price"), "base")
    val before = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    // misspelled column: refused, names the field, creates NOTHING
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, dir,
        Seq((1L, 10.5)).toDF("k", "prise"), "typo")
    }
    assert(e1.getMessage.contains("prise") && e1.getMessage.contains("price"),
      s"error must name the offending fields: ${e1.getMessage}")
    assert(GraftTable.versions(fs, dir) == Seq(0), "no version on refusal")
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet == before,
      "refusal happens BEFORE staging — no orphan dir")
    // retype without declaration: refused (double -> string)
    intercept[IllegalArgumentException] {
      GraftTable.commitNext(spark, dir,
        Seq((1L, "x")).toDF("k", "price"), "retype")
    }
    // commitWithRetry is gated too, before its write
    intercept[IllegalArgumentException] {
      GraftTable.commitWithRetry(spark, dir,
        cur => cur.get.withColumn("extra", lit(1)), "undeclared add")
    }
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet == before)
    // declared evolution commits and records the NEW schema for the
    // next gate
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10.5, "u")).toDF("k", "price", "tag"), "declared",
      allowEvolution = true)
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    // an append must match EXACTLY — even with allowEvolution there is
    // no append-evolution (the reader unions physical schemas)
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dir, Seq((2L, 1.0)).toDF("k", "price"),
        "narrow append")
    }
    assert(e2.getMessage.contains("append"), e2.getMessage)
    // matching append passes
    GraftTable.commitAppend(spark, dir,
      Seq((2L, 2.5, "v")).toDF("k", "price", "tag"), "ok append")
    assert(GraftTable.read(spark, dir).count() == 2)
  }

  test("append refusals close every unreadable-version hole: partitioned predecessor, widened decimal, stats drop/mismatch — all refused BEFORE staging") {
    import spark.implicits._
    // partitioned predecessor: a flat append would make the union
    // unreadable (conflicting directory structures) — refused up front
    val (dirP, fsP) = fresh("g14_appendpart")
    GraftTable.commitNextIsolated(spark, dirP,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "price"),
      "partitioned base", partitionBy = Seq("p"))
    val beforeP = fsP.listStatus(new Path(dirP)).map(_.getPath.getName).toSet
    val eP = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dirP,
        Seq((3L, "c", 30.0)).toDF("k", "p", "price"), "flat append")
    }
    assert(eP.getMessage.contains("partitionBy"), eP.getMessage)
    assert(fsP.listStatus(new Path(dirP)).map(_.getPath.getName).toSet
      == beforeP, "refused append must stage nothing")
    // ...and the partby marker survives a MoR delete, so the refusal
    // still fires N versions later
    GraftTable.commitDeleteVector(spark, dirP,
      Seq(Tuple1(1L)).toDF("k"), Seq("k"), "dv")
    intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dirP,
        Seq((3L, "c", 30.0)).toDF("k", "p", "price"), "still flat")
    }
    // widened decimal: lossless for full commits, but an append reader
    // unions PHYSICAL parquet schemas — exactness is the contract
    val (dirW, _) = fresh("g14_appendwiden")
    GraftTable.commitNextIsolated(spark, dirW,
      Seq((1L, BigDecimal("10.50"))).toDF("k", "price")
        .select(col("k"), col("price").cast("decimal(12,2)").as("price")),
      "narrow base")
    val eW = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dirW,
        Seq((2L, BigDecimal("20.50"))).toDF("k", "price")
          .select(col("k"), col("price").cast("decimal(22,2)").as("price")),
        "widened append")
    }
    assert(eW.getMessage.contains("append"), eW.getMessage)
    // stats discipline: silent index drop and column mismatch both
    // refused before the write
    val (dirS, fsS) = fresh("g14_appendstatsgate")
    GraftTable.commitNextIsolated(spark, dirS,
      Seq((1L, 5L)).toDF("k", "m"), "statted base",
      statsEnc = Seq("k" -> "id"))
    val beforeS = fsS.listStatus(new Path(dirS)).map(_.getPath.getName).toSet
    val eS1 = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dirS, Seq((2L, 6L)).toDF("k", "m"),
        "statless append")
    }
    assert(eS1.getMessage.contains("skipping index"), eS1.getMessage)
    val eS2 = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dirS, Seq((2L, 6L)).toDF("k", "m"),
        "wrong stat col", statsEnc = Seq("m" -> "id"))
    }
    assert(eS2.getMessage.contains("stat columns"), eS2.getMessage)
    assert(fsS.listStatus(new Path(dirS)).map(_.getPath.getName).toSet
      == beforeS, "stats refusals must stage nothing")
    // the aligned append still works
    GraftTable.commitAppend(spark, dirS, Seq((2L, 6L)).toDF("k", "m"),
      "aligned", statsEnc = Seq("k" -> "id"))
    assert(GraftTable.rowCountOf(fsS, dirS, 1).contains(2L))
    // and dataDirOf refuses the multi-dir version instead of handing
    // back a nonexistent comma-joined path
    val eD = intercept[IllegalArgumentException] {
      GraftTable.dataDirOf(fsS, dirS, 1)
    }
    assert(eD.getMessage.contains("dataDirsOf"), eD.getMessage)
  }

  test("re-checkpointing is O(suffix) and leaves no tmp/crc litter in the manifest dir") {
    val (dir, fs) = fresh("g14_cp_incr")
    (0 until 20).foreach(i => GraftTable.commitNext(spark, dir, tinyDf(i),
      s"load $i"))
    GraftTable.checkpoint(fs, dir)
    (20 until 25).foreach(i => GraftTable.commitNext(spark, dir, tinyDf(i),
      s"load $i"))
    val counting = new CountingFs(fs)
    GraftTable.checkpoint(counting, dir)
    assert(counting.opens.get() <= 9,
      s"a re-checkpoint must resolve its prefix from the previous " +
        s"checkpoint, not re-read every commit file " +
        s"(${counting.opens.get()} opens for 25 commits)")
    // the refreshed checkpoint covers everything and the manifest dir
    // holds no leftover tmp or orphaned crc sidecars
    assert(GraftTable.readCheckpoint(fs, dir).map(_._1).contains(24))
    val names = fs.listStatus(new Path(s"$dir/manifest"))
      .map(_.getPath.getName).toSeq
    assert(!names.exists(_.contains("_cptmp_")),
      s"checkpoint tmp litter: $names")
    val raw = new java.io.File(s"$dir/manifest").list().toSeq
    assert(!raw.exists(_.contains("_cptmp_")),
      s"orphaned checkpoint tmp/crc sidecars on disk: $raw")
  }

  // ---- time-based retention -------------------------------------------------

  test("expireVersions: back-dated versions lose their data (never the current, never a dir a live version references); expired reads fail loudly; history survives") {
    import spark.implicits._
    // plain history: independent dirs per version
    val (dir, fs) = fresh("g14_retain")
    def commitAt(v: Int, ts: Long): Unit = {
      GraftTable.stage(Seq((v.toLong, s"v$v")).toDF("k", "s"), dir, v)
      GraftTable.commit(fs, dir, v, s"load $v", tsMs = Some(ts))
    }
    commitAt(0, 1000L); commitAt(1, 2000L); commitAt(2, 5000L)
    val reclaimed = GraftTable.expireVersions(fs, dir,
      retainMs = 1000L, nowMs = 4000L) // cutoff 3000: v0, v1 expire
    assert(reclaimed == Seq(0, 1), s"exactly the aged set: $reclaimed")
    val err = intercept[IllegalArgumentException] {
      GraftTable.readVersion(spark, dir, 0)
    }
    assert(err.getMessage.contains("garbage-collected"), err.getMessage)
    assert(GraftTable.read(spark, dir).count() == 1, "current still serves")
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2),
      "commit files are history, forever")
    // current version is NEVER expired even when ancient
    assert(GraftTable.expireVersions(fs, dir, retainMs = 1000L,
      nowMs = 100000L).isEmpty)
    // append chain: the expired base's dir is referenced by the live
    // tip, so nothing is reclaimable and EVERY version stays readable
    val (dir2, fs2) = fresh("g14_retain_chain")
    GraftTable.commitNextIsolated(spark, dir2,
      Seq((0L, "base")).toDF("k", "s"), "base")
    GraftTable.commitAppend(spark, dir2, Seq((1L, "a")).toDF("k", "s"), "a1")
    assert(GraftTable.expireVersions(fs2, dir2, retainMs = 0L,
      nowMs = System.currentTimeMillis() + 60000L).isEmpty,
      "an expired version fully shadowed by live references is kept")
    assert(GraftTable.readVersion(spark, dir2, 0).count() == 1)
  }

  // ---- commit-timestamp clamp -----------------------------------------------

  test("commit timestamps clamp to parent+1: a future-dated predecessor cannot make TIMESTAMP AS OF non-monotone") {
    import spark.implicits._
    val (dir, fs) = fresh("g14_clamp")
    val future = System.currentTimeMillis() + 3600000L // 1h ahead
    GraftTable.stage(Seq((0L, "a")).toDF("k", "s"), dir, 0)
    GraftTable.commit(fs, dir, 0, "future-dated", tsMs = Some(future))
    // clock path: now << ts(v0), so the clamp must land at ts(v0)+1
    GraftTable.commitNext(spark, dir, Seq((1L, "b")).toDF("k", "s"), "clamped")
    assert(GraftTable.commitTimeMs(fs, dir, 1) == future + 1,
      "ts(v1) must clamp to ts(v0)+1 under clock skew")
    assert(GraftTable.versionAsOf(fs, dir, future).contains(0) &&
      GraftTable.versionAsOf(fs, dir, future + 1).contains(1),
      "AS OF stays monotone across the skew")
  }

  // ---- hint repair ----------------------------------------------------------

  test("an UNUSABLE _last hint (ahead-of-truth or corrupt) is repaired on read, so the listing cost does not recur") {
    import spark.implicits._
    val (dir, fs) = fresh("g14_hint")
    (0 until 3).foreach(i =>
      GraftTable.commitNext(spark, dir, Seq((i.toLong, "x")).toDF("k", "s"),
        s"v$i"))
    def hintContent(): String = {
      val in = fs.open(new Path(s"$dir/manifest/_last"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def plant(s: String): Unit = {
      val out = fs.create(new Path(s"$dir/manifest/_last"), true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    plant("999") // ahead of truth: a restored/partially-copied table dir
    assert(GraftTable.currentVersion(fs, dir).contains(2))
    assert(hintContent().trim == "2", "ahead-of-truth hint must be repaired")
    plant("not-a-number")
    assert(GraftTable.currentVersion(fs, dir).contains(2))
    assert(hintContent().trim == "2", "corrupt hint must be repaired")
  }

  // ---- vacuum grace via file mtimes -----------------------------------------

  test("vacuum grace keys off the newest FILE mtime, not the dir's: an old-looking dir with a fresh file inside survives the window") {
    import spark.implicits._
    val (dir, fs) = fresh("g14_vacgrace")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((0L, "base")).toDF("k", "s"), "base")
    // orphan staging dir for the CURRENT version number (a racing
    // writer's leftovers), with a synthetically ANCIENT dir mtime but a
    // fresh file inside — the object-store shape where dir mtimes lie
    val orphan = s"$dir/v0_deadbeef"
    Seq((9L, "orphan")).toDF("k", "s").write.parquet(orphan)
    val old = System.currentTimeMillis() - 86400000L
    fs.setTimes(new Path(orphan), old, -1)
    assert(GraftTable.vacuum(fs, dir, graceMs = 3600000L).isEmpty,
      "fresh files inside must protect the dir regardless of dir mtime")
    // age the FILES too: now provably abandoned, reclaimed
    fs.listStatus(new Path(orphan)).foreach(st =>
      fs.setTimes(st.getPath, old, -1))
    assert(GraftTable.vacuum(fs, dir, graceMs = 3600000L) == Seq("v0_deadbeef"))
  }

  // ---- null-count skipping --------------------------------------------------

  test("null-band skip sets match per-file truth: IS NULL opens only null-bearing files, IS NOT NULL only files with a non-null, both prune") {
    val dir = Round14Ops.nullClusteredTable(spark, sf)
    val fs = GraftTable.fsOf(spark, dir)
    val dataDir = GraftTable.dataDirOf(fs, dir, 0)
    // per-file truth from the files themselves
    val truth = spark.read.parquet(s"$dir/$dataDir")
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("f"))
      .agg(count(lit(1)).as("rows"), count(col("late_price")).as("nonnull"))
      .collect()
      .map(r => (r.getAs[String]("f"), r.getAs[Long]("rows"),
        r.getAs[Long]("nonnull")))
    def opened(isNull: Boolean): Set[String] = {
      val (_, paths, total) = GraftTable.readStatsBands(spark, dir, 0,
        Seq(GraftTable.NullBand("late_price", isNull)))
      assert(paths.size < total, s"null band (isNull=$isNull) must prune")
      paths.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    }
    val withNulls = truth.filter(t => t._2 > t._3).map(_._1).toSet
    val withValues = truth.filter(_._3 > 0).map(_._1).toSet
    assert(opened(true) == withNulls,
      "IS NULL must open exactly the files holding a null")
    assert(opened(false) == withValues,
      "IS NOT NULL must open exactly the files holding a value")
  }

  // ---- incremental append stats ---------------------------------------------

  test("append-merged stats: the chain's one stats line spans both dirs, the metadata count covers everything, and a band inside the appended slice opens no base file") {
    val dir = Round14Ops.appendStatsTable(spark, sf)
    val fs = GraftTable.fsOf(spark, dir)
    val Seq(baseDir, addedDir) = GraftTable.dataDirsOf(fs, dir, 1)
    val st = GraftTable.statsOf(fs, dir, 1).get
    val baseFiles = fs.listStatus(new Path(s"$dir/$baseDir"))
      .count(_.getPath.getName.endsWith(".parquet"))
    val addedFiles = fs.listStatus(new Path(s"$dir/$addedDir"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(st.files.size == baseFiles + addedFiles,
      s"merged line must cover the whole chain: ${st.files.size} vs " +
        s"$baseFiles + $addedFiles")
    assert(st.files.forall(f =>
      f.file.startsWith(s"$baseDir/") || f.file.startsWith(s"$addedDir/")),
      "append stats are table-relative")
    assert(GraftTable.rowCountOf(fs, dir, 1)
      .contains(GraftTable.readVersion(spark, dir, 1).count()),
      "metadata-only count must equal the served chain")
    // a 1997 band sits wholly inside the appended (1996+) slice: every
    // opened file must come from the appended dir
    def epochUs(date: String): Long =
      java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli * 1000L
    val (_, paths, total) = GraftTable.readStatsBands(spark, dir, 1,
      Seq(GraftTable.RangeBand("o_orderdate",
        epochUs("1997-03-01"), epochUs("1997-09-01") - 1L)))
    assert(paths.nonEmpty && paths.size < total)
    assert(paths.forall(_.contains(s"/$addedDir/")),
      s"band inside the appended slice must skip every base file: $paths")
  }
}
