package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.GraftTable

/** Round-14 second ring — mechanics the SQL oracles cannot see:
  * chain compaction's physical claims (the compacted version reads ONE
  * dir with a bounded file count, predecessors keep serving across the
  * boundary, retention then reclaims the old chain while the compacted
  * version survives, a deletion vector is PURGED by the rewrite, and
  * the index-drop gates refuse silent loss), the Bloom index's read
  * sets audited against per-file ground truth (superset of truth,
  * genuinely pruning, near-zero opens for absent keys) plus its
  * sidecar invisibility and encode/decode round trip, and the typed
  * change feed's classification matrix (insert / delete / pre+post
  * images, the untouched arm emitting nothing), its join-free append
  * tier, its MoR-delete reading, and the typed subscriber delivering
  * each version's feed exactly once. */
class Round14bSpec extends SparkSpec {

  private def fresh(name: String): (String, FileSystem) = {
    val dir = s"target/tmp/$name"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    (dir, fs)
  }

  private def kv(pairs: (Long, String)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("k", "s")
  }

  // ---- chain compaction -----------------------------------------------------

  test("compactChain folds the chain to one dir with a bounded file count; predecessors and time travel survive; retention then reclaims the old dirs") {
    val (dir, fs) = fresh("g14b_compact")
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, s"r$i")).toDF("k", "s")
    GraftTable.commitNextIsolated(spark, dir, base.repartition(4), "base")
    GraftTable.commitAppend(spark, dir,
      (40L until 60L).map(i => (i, s"r$i")).toDF("k", "s").repartition(3),
      "append")
    assert(GraftTable.dataDirsOf(fs, dir, 1).size == 2)
    val cv = GraftTable.compactChain(spark, dir, targetFiles = 2, "optimize")
    assert(cv == 2)
    // ONE dir, at most targetFiles files, and the read touches only it
    val dirs = GraftTable.dataDirsOf(fs, dir, cv)
    assert(dirs.size == 1, s"compacted version must reference one dir: $dirs")
    val snap = GraftTable.readVersion(spark, dir, cv)
    assert(snap.inputFiles.nonEmpty &&
      snap.inputFiles.forall(_.contains(s"/${dirs.head}/")),
      "compacted read must touch only the compacted dir")
    assert(snap.inputFiles.length <= 2,
      s"coalesce(2) must leave at most 2 files (${snap.inputFiles.length})")
    assert(snap.count() == 60 &&
      GraftTable.readVersion(spark, dir, 1).count() == 60,
      "compaction preserves rows and the predecessor keeps serving")
    // the chain continues on top of the compacted version
    GraftTable.commitAppend(spark, dir,
      (60L until 70L).map(i => (i, s"r$i")).toDF("k", "s"), "append after")
    assert(GraftTable.dataDirsOf(fs, dir, 3).size == 2 &&
      GraftTable.read(spark, dir).count() == 70)
    // retention: age versions 0..2 out; the compacted dir stays because
    // version 3 (an append on top) still references it
    val oldDirs =
      (GraftTable.dataDirsOf(fs, dir, 1).toSet --
        GraftTable.dataDirsOf(fs, dir, 3).toSet).toSeq
    assert(oldDirs.size == 2, "the two pre-compaction dirs are unreferenced")
    // retainMs = 0: everything not current and not referenced by a
    // live version expires immediately
    GraftTable.expireVersions(fs, dir, retainMs = 0L)
    oldDirs.foreach(d0 => assert(!fs.exists(new Path(s"$dir/$d0")),
      s"unreferenced pre-compaction dir $d0 must be reclaimed"))
    dirs.foreach(d0 => assert(fs.exists(new Path(s"$dir/$d0")),
      "the compacted dir is still referenced by the live append chain"))
    assert(GraftTable.read(spark, dir).count() == 70,
      "the live chain serves unchanged after retention")
  }

  test("compactChain APPLIES a deletion vector (purge-by-rewrite) and the compacted commit carries no dv") {
    val (dir, fs) = fresh("g14b_compactdv")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), "base")
    GraftTable.commitDeleteVector(spark, dir,
      kv(2L -> "-", 4L -> "-").select(col("k")), Seq("k"), "delete 2,4")
    val cv = GraftTable.compactChain(spark, dir)
    assert(GraftTable.readVersion(spark, dir, cv)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      "the rewrite must apply the tombstones")
    // no dv on the compacted version: the read touches only the
    // compacted data dir — a surviving dv would pull in the tombstone
    // dir and an anti-join
    val snap = GraftTable.readVersion(spark, dir, cv)
    val dataDir = GraftTable.dataDirOf(fs, dir, cv)
    assert(snap.inputFiles.forall(_.contains(s"/$dataDir/")),
      "compacted version must read only its own data dir (dv purged)")
    assert(snap.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "no anti-join after the purge-by-rewrite")
  }

  test("compactChain refuses to silently drop the skipping indexes, and rebuilds them when re-declared") {
    val (dir, fs) = fresh("g14b_compactstats")
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("k", "m")
      .repartitionByRange(4, col("k"))
    val statsEnc = Seq("k" -> "id")
    GraftTable.commitNextIsolated(spark, dir, df, "statted",
      statsEnc = statsEnc, bloomCol = Some("m"))
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.compactChain(spark, dir, 2, statsEnc = statsEnc) // no bloom
    }
    assert(e1.getMessage.contains("Bloom"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.compactChain(spark, dir, 2, bloomCol = Some("m")) // no stats
    }
    assert(e2.getMessage.contains("stats"), e2.getMessage)
    assert(GraftTable.versions(fs, dir) == Seq(0),
      "refused compactions create no version")
    val cv = GraftTable.compactChain(spark, dir, 2,
      statsEnc = statsEnc, bloomCol = Some("m"))
    val st = GraftTable.statsOf(fs, dir, cv).get
    val snap = GraftTable.readVersion(spark, dir, cv)
    assert(st.files.map(_.rows).sum == 100 &&
      st.files.size == snap.inputFiles.length,
      "stats must be recomputed over exactly the compacted files")
    val (probeDf, hit, total) = GraftTable.readBloomEq(spark, dir, cv, "m", 3L)
    assert(total == st.files.size && hit.nonEmpty &&
      probeDf.filter(col("m") === 3L).count() == 14, // i%7==3, i<100
      "the rebuilt Bloom index serves the compacted layout")
  }

  test("commit refuses a stats= line that no statenc= line describes") {
    val (dir, fs) = fresh("g14b_statenc")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir, Seq((1L, 2L)).toDF("k", "m"),
      "statted", statsEnc = Seq("k" -> "id", "m" -> "id"))
    val h = GraftTable.headersOf(fs, dir, 0) - "ts"
    val bare = h - "statenc"
    val e = intercept[IllegalArgumentException] {
      GraftTable.commit(fs, dir, 1, "stats without statenc", bare)
    }
    assert(e.getMessage.contains("statenc"), e.getMessage)
    // the same columns in another order do not describe the line either
    intercept[IllegalArgumentException] {
      GraftTable.commit(fs, dir, 1, "reordered statenc",
        bare + ("statenc" -> "m:id,k:id"))
    }
    assert(GraftTable.versions(fs, dir) == Seq(0),
      "refused commits create no version")
    GraftTable.commit(fs, dir, 1, "described", h)
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
  }

  test("compactChain preserves a partitionBy layout") {
    val (dir, fs) = fresh("g14b_compactpart")
    import spark.implicits._
    val df = (0L until 30L).map(i => (i, s"p${i % 3}")).toDF("k", "p")
    GraftTable.commitNextIsolated(spark, dir, df, "partitioned",
      partitionBy = Seq("p"))
    val cv = GraftTable.compactChain(spark, dir)
    val dataDir = GraftTable.dataDirOf(fs, dir, cv)
    assert((0 to 2).forall(i =>
      fs.exists(new Path(s"$dir/$dataDir/p=p$i"))),
      "the compacted dir must keep the p=<val> layout partition pruning needs")
    val snap = GraftTable.readVersion(spark, dir, cv)
    assert(snap.count() == 30 &&
      snap.filter(col("p") === "p1").count() == 10)
  }

  test("clustered compaction (OPTIMIZE ZORDER): the re-clustered band read set equals footer truth and prunes; 1-D clustering sorts; misuse refuses") {
    val (dir, fs) = fresh("g14b_optz")
    import spark.implicits._
    // 1024 rows over a 32×32 grid, hash-scattered at commit: every
    // file's (x, y) rectangle is full-width
    val df = (0L until 1024L).map(i => (i, i % 32L, i / 32L)).toDF("k", "x", "y")
    val dims: GraftTable.ClusterCols = Seq("x" -> (c => c), "y" -> (c => c))
    val enc = Seq("x" -> "id", "y" -> "id")
    GraftTable.commitNextIsolated(spark, dir,
      df.repartition(8, col("k")), "arrival", statsEnc = enc)
    val bands = Seq(GraftTable.RangeBand("x", 4L, 11L),
      GraftTable.RangeBand("y", 4L, 11L)) // an 8×8 of the 32×32 grid
    val (_, hit0, total0) = GraftTable.readStatsBands(spark, dir, 0, bands)
    assert(hit0.size == total0, "arrival-order rectangles skip nothing")
    val cv = GraftTable.compactChain(spark, dir, targetFiles = 16,
      "optimize", statsEnc = enc, clusterBy = dims)
    val (bdf, hit1, total1) = GraftTable.readStatsBands(spark, dir, cv, bands)
    assert(total1 == 16 && hit1.size * 2 <= total1,
      s"z-ordered 2-D band must prune at least half (${hit1.size}/$total1)")
    // the manifest's read set must equal per-file FOOTER truth: open
    // every file of the compacted dir and recompute its overlap
    val dataDir = GraftTable.dataDirOf(fs, dir, cv)
    val truth = GraftTable.readVersion(spark, dir, cv)
      .filter(col("x").between(4, 11) && col("y").between(4, 11))
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    // compare dir-relative names: hit paths are table-relative, the
    // row-derived truth absolute file:// URIs
    def rel(p: String) =
      p.substring(p.indexOf(s"/$dataDir/") + dataDir.length + 2)
    assert(truth.map(rel).subsetOf(hit1.map(rel).toSet),
      "every file truly holding band rows is in the read set")
    assert(bdf.filter(col("x").between(4, 11) && col("y").between(4, 11))
      .count() == 64, "the band serves exactly the 8×8 grid cells")
    // 1-D clusterBy = range-sort compaction: the band localizes to a
    // file subset too
    val (dir1, _) = fresh("g14b_optz1d")
    GraftTable.commitNextIsolated(spark, dir1,
      df.repartition(8, col("k")), "arrival",
      statsEnc = Seq("k" -> "id"))
    val c1 = GraftTable.compactChain(spark, dir1, targetFiles = 8,
      "sort by k", statsEnc = Seq("k" -> "id"),
      clusterBy = Seq("k" -> (c => c)))
    val (_, h1d, t1d) = GraftTable.readStatsBands(spark, dir1, c1,
      Seq(GraftTable.RangeBand("k", 0L, 127L)))
    assert(h1d.size == 1 && t1d == 8,
      s"a sorted eighth must resolve to ONE file (${h1d.size}/$t1d)")
    // misuse refuses before anything stages
    intercept[IllegalArgumentException] {
      GraftTable.compactChain(spark, dir1, 4,
        statsEnc = Seq("k" -> "id"),
        clusterBy = Seq("k" -> (c => c), "x" -> (c => c), "y" -> (c => c)))
    }
    val (dirP, _) = fresh("g14b_optzpart")
    GraftTable.commitNextIsolated(spark, dirP,
      (0L until 30L).map(i => (i, s"p${i % 3}")).toDF("k", "p"),
      "partitioned", partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      GraftTable.compactChain(spark, dirP, 4,
        clusterBy = Seq("k" -> (c => c)))
    }
  }

  // ---- Bloom index ----------------------------------------------------------

  test("readBloomEq read sets: superset of per-file truth, genuinely pruning, near-zero opens for absent keys; results identical to the full scan") {
    val (dir, fs) = fresh("g14b_bloom")
    import spark.implicits._
    // 4 range-clustered files on k; c is k/100 so each c value lives in
    // exactly ONE file — the layout where per-file truth is knowable
    val df = (0L until 400L).map(i => (i, i / 100L)).toDF("k", "c")
      .repartitionByRange(4, col("k"))
    GraftTable.commitNextIsolated(spark, dir, df, "bloom on c",
      bloomCol = Some("c"))
    val full = GraftTable.readVersion(spark, dir, 0)
    (0L until 4L).foreach { v =>
      // per-file ground truth from the rows themselves (inputFiles is
      // filter-blind — it lists the whole relation)
      val truth = full.filter(col("c") === v).select(input_file_name())
        .distinct().collect().map(_.getString(0)).toSet
      val (bdf, hit, total) = GraftTable.readBloomEq(spark, dir, 0, "c", v)
      assert(total == 4)
      assert(truth.subsetOf(bdf.inputFiles.map("file://" + _).toSet ++
        bdf.inputFiles.toSet),
        s"candidates must cover every file truly holding c=$v")
      assert(hit.size < total,
        s"probing c=$v must prune at least one of $total files (got ${hit.size})")
      assert(bdf.filter(col("c") === v).count() == 100,
        "bloom-served rows must equal the full-scan answer")
    }
    // absent key: zero rows always; with m=1024 over 100 keys/file the
    // false-positive rate is ~0 — allow at most one FP file
    val (adf, ahit, _) = GraftTable.readBloomEq(spark, dir, 0, "c", 999L)
    assert(ahit.size <= 1, s"absent key should open ~0 files (${ahit.size})")
    assert(adf.filter(col("c") === 999L).count() == 0)
    // the sidecar is invisible to scans and present on disk
    val dataDir = GraftTable.dataDirOf(fs, dir, 0)
    assert(fs.exists(new Path(s"$dir/$dataDir/_bloom")))
    assert(full.count() == 400, "the sidecar must not join the scan")
  }

  test("Bloom error paths: no index, wrong column, dv exclusion at the commit boundary; encode/decode round trip incl. the all-null file") {
    val (dir, fs) = fresh("g14b_bloomerr")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "x")).toDF("k", "s"), "no bloom")
    val e1 = intercept[RuntimeException] {
      GraftTable.readBloomEq(spark, dir, 0, "k", 1L)
    }
    assert(e1.getMessage.contains("no Bloom index"), e1.getMessage)
    val (dir2, _) = fresh("g14b_bloomerr2")
    GraftTable.commitNextIsolated(spark, dir2,
      Seq((1L, "x"), (2L, "y")).toDF("k", "s"), "bloom on k",
      bloomCol = Some("k"))
    val e2 = intercept[RuntimeException] {
      GraftTable.readBloomEq(spark, dir2, 0, "s", "x")
    }
    assert(e2.getMessage.contains("List(k), not 's'"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      GraftTable.commit(fs, dir, 1, "both", Map("data" -> "v0",
        "dv" -> "dvdir;k", "bloom" -> "k|1024|4"))
    }
    assert(e3.getMessage.contains("bloom"), e3.getMessage)
    // key tombstones name logical columns, colmap'd files physical ones:
    // no door mints the pair, and commit() refuses it outright
    val e3b = intercept[IllegalArgumentException] {
      GraftTable.commit(fs, dir, 1, "dv+colmap", Map("data" -> "v0",
        "schema" -> "k2:bigint,s:string", "colmap" -> "k2:k",
        "dv" -> "dvdir;k2"))
    }
    assert(e3b.getMessage.contains("dv= and colmap="), e3b.getMessage)
    // round trip: a file whose indexed column is all null gets an
    // EMPTY filter — decode preserves it and every probe skips it
    val (dir3, fs3) = fresh("g14b_bloomnull")
    val nulls = Seq((1L, Option.empty[java.lang.Long]),
      (2L, Option.empty[java.lang.Long])).toDF("k", "c")
    GraftTable.commitNextIsolated(spark, dir3, nulls.coalesce(1),
      "all-null", bloomCol = Some("c"))
    val (ndf, nhit, ntotal) = GraftTable.readBloomEq(spark, dir3, 0, "c", 7L)
    assert(ntotal == 1 && nhit.isEmpty && ndf.count() == 0,
      "an all-null file's empty filter must skip every probe")
    val _ = fs3
  }

  test("append chains extend the Bloom index: per-dir sidecars, chain-walking probes, and the gate refusing every partial-index flavor") {
    val (dir, fs) = fresh("g14b_bloomchain")
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, i / 50L)).toDF("k", "c")
      .repartitionByRange(2, col("k"))
    GraftTable.commitNextIsolated(spark, dir, base, "base",
      bloomCol = Some("c"))
    // gate: bloom-less append onto an indexed table refuses pre-write
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dir,
        Seq((200L, 9L)).toDF("k", "c"), "no bloom")
    }
    assert(e1.getMessage.contains("bloomCol"), e1.getMessage)
    // gate: mismatched column refuses
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, dir,
        Seq((200L, 9L)).toDF("k", "c"), "wrong col", bloomCol = Some("k"))
    }
    assert(e2.getMessage.contains("must match"), e2.getMessage)
    // gate: bloomCol append onto a PLAIN table refuses
    val (plain, _) = fresh("g14b_bloomchainplain")
    GraftTable.commitNextIsolated(spark, plain,
      Seq((1L, 1L)).toDF("k", "c"), "plain")
    val e3 = intercept[IllegalArgumentException] {
      GraftTable.commitAppend(spark, plain,
        Seq((2L, 2L)).toDF("k", "c"), "bloom onto plain",
        bloomCol = Some("c"))
    }
    assert(e3.getMessage.contains("requires the current version"),
      e3.getMessage)
    assert(GraftTable.versions(fs, dir) == Seq(0),
      "refused appends create no version")
    // a proper append: its dir gets its OWN sidecar; a value living
    // ONLY in the appended slice is found by the chain walk
    GraftTable.commitAppend(spark, dir,
      (100L until 150L).map(i => (i, 7L)).toDF("k", "c").coalesce(1),
      "append c=7", bloomCol = Some("c"))
    val dirs = GraftTable.dataDirsOf(fs, dir, 1)
    assert(dirs.size == 2 &&
      dirs.forall(d0 => fs.exists(new Path(s"$dir/$d0/_bloom"))),
      "every chain dir must carry its own sidecar")
    val (bdf7, hit7, total) = GraftTable.readBloomEq(spark, dir, 1, "c", 7L)
    assert(total == 3, s"2 base files + 1 appended ($total)")
    assert(hit7.forall(_.contains(s"/${dirs.last}/")) &&
      bdf7.filter(col("c") === 7L).count() == 50,
      "the append-only value must resolve to the appended dir alone")
    val (bdf0, _, _) = GraftTable.readBloomEq(spark, dir, 1, "c", 0L)
    assert(bdf0.filter(col("c") === 0L).count() == 50,
      "base-resident values still serve through the chain probe")
  }

  test("shallow clones carry the Bloom index — single dir and append chain (self-contained sidecars resolve through the ../ reference)") {
    import spark.implicits._
    val (parent, _) = fresh("g14b_bloomclone")
    val src = s"$parent/src"
    val dst = s"$parent/dst"
    val srcChain = s"$parent/srcchain"
    val dstChain = s"$parent/dstchain"
    val fs = GraftTable.fsOf(spark, src)
    val df = (0L until 100L).map(i => (i, i / 50L)).toDF("k", "c")
      .repartitionByRange(2, col("k"))
    GraftTable.commitNextIsolated(spark, src, df, "base",
      bloomCol = Some("c"))
    GraftTable.cloneShallow(spark, src, dst)
    val (cdf, chit, _) = GraftTable.readBloomEq(spark, dst, 0, "c", 1L)
    assert(chit.nonEmpty && cdf.filter(col("c") === 1L).count() == 50,
      "single-dir clone must serve point lookups through the reference")
    GraftTable.commitNextIsolated(spark, srcChain, df, "base",
      bloomCol = Some("c"))
    GraftTable.commitAppend(spark, srcChain,
      (100L until 120L).map(i => (i, 7L)).toDF("k", "c").coalesce(1),
      "append", bloomCol = Some("c"))
    GraftTable.cloneShallow(spark, srcChain, dstChain)
    val (kdf, khit, ktotal) =
      GraftTable.readBloomEq(spark, dstChain, 0, "c", 7L)
    assert(ktotal == 3 && khit.size == 1 &&
      kdf.filter(col("c") === 7L).count() == 20,
      "chain clone must probe every referenced dir's own sidecar")
    val _ = fs
  }

  test("band reads serve an append chain rooted in a shallow clone (no basePath over the ../src reference)") {
    import spark.implicits._
    val (parent, _) = fresh("g14b_clonestats")
    val src = s"$parent/src"
    val dst = s"$parent/dst"
    val statsEnc = Seq("k" -> "id")
    GraftTable.commitNextIsolated(spark, src,
      (0L until 80L).map(i => (i, i % 4L)).toDF("k", "c")
        .repartitionByRange(4, col("k")),
      "statted base", statsEnc = statsEnc)
    GraftTable.cloneShallow(spark, src, dst)
    GraftTable.commitAppend(spark, dst,
      (80L until 100L).map(i => (i, 9L)).toDF("k", "c").coalesce(1),
      "append onto the clone", statsEnc = statsEnc)
    val (bdf, hit, total) = GraftTable.readStatsBands(spark, dst, 1,
      Seq(GraftTable.RangeBand("k", 85L, 99L)))
    assert(total == 5 && hit.size == 1 &&
      bdf.filter(col("k") >= 85L).count() == 15,
      s"the clone-rooted chain's band must serve (${hit.size}/$total)")
  }

  test("changeFeed refuses a DECLARED retype (only lossless widening aligns)") {
    val (dir, _) = fresh("g14b_cdfretype")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "9999999999.99")).toDF("k", "b")
        .select(col("k"), col("b").cast("decimal(23,2)").as("b")), "wide")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "5.00")).toDF("k", "b")
        .select(col("k"), col("b").cast("decimal(12,2)").as("b")),
      "declared narrowing", allowEvolution = true)
    val e = intercept[IllegalArgumentException] {
      GraftTable.changeFeed(spark, dir, 1, Seq("k")).collect()
    }
    assert(e.getMessage.contains("retype"), e.getMessage)
  }

  test("maintain swallows ONLY index-redeclaration refusals — genuine misuse propagates") {
    val (dir, _) = fresh("g14b_maintmisuse")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      (0L until 30L).map(i => (i, s"p${i % 3}")).toDF("k", "p"),
      "partitioned", partitionBy = Seq("p"))
    // clusterBy on a partitionBy layout is programmer error, not a
    // survivable misdeclaration
    intercept[IllegalArgumentException] {
      GraftTable.maintain(spark, dir, clusterBy = Seq("k" -> (c => c)))
    }
    // whereas a forgotten index redeclaration is reported and survived
    val (dir2, _) = fresh("g14b_maintrefused")
    GraftTable.commitNextIsolated(spark, dir2,
      (0L until 30L).map(i => (i, i % 3L)).toDF("k", "c"),
      "bloomed", bloomCol = Some("c"))
    GraftTable.commitAppend(spark, dir2,
      Seq((30L, 1L)).toDF("k", "c"), "a1", bloomCol = Some("c"))
    val rep = GraftTable.maintain(spark, dir2, maxChainDirs = 1)
    assert(rep.compacted.isEmpty &&
      rep.compactionRefused.exists(_.contains("bloomCol")) &&
      rep.checkpointedTo == 1,
      s"the pass must survive and report the refusal: $rep")
  }

  test("maintain: below-threshold chains are left alone; a second pass is a no-op; expired history still audits") {
    val (dir, fs) = fresh("g14b_maintain")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a")).toDF("k", "s"), "base")
    GraftTable.commitAppend(spark, dir, Seq((2L, "b")).toDF("k", "s"), "a1")
    // 2 dirs <= maxChainDirs: no compaction, but checkpoint + vacuum run
    val r0 = GraftTable.maintain(spark, dir, maxChainDirs = 4)
    assert(r0.compacted.isEmpty && r0.checkpointedTo == 1 &&
      r0.expired.isEmpty)
    GraftTable.commitAppend(spark, dir, Seq((3L, "c")).toDF("k", "s"), "a2")
    GraftTable.commitAppend(spark, dir, Seq((4L, "d")).toDF("k", "s"), "a3")
    val r1 = GraftTable.maintain(spark, dir, maxChainDirs = 2,
      retainMs = 0L, vacuumGraceMs = 0L)
    assert(r1.compacted.contains(4) && r1.checkpointedTo == 4 &&
      r1.expired == Seq(0, 1, 2, 3), s"$r1")
    assert(GraftTable.read(spark, dir).count() == 4)
    // second pass: nothing left to fold or reclaim (idempotent)
    val r2 = GraftTable.maintain(spark, dir, maxChainDirs = 2,
      retainMs = 0L, vacuumGraceMs = 0L)
    assert(r2.compacted.isEmpty && r2.expired.isEmpty &&
      r2.vacuumed.isEmpty, s"$r2")
    // history survives the expiry: all 5 versions audit, expired data
    // fails loudly
    assert(GraftTable.history(spark, dir).count() == 5)
    intercept[Exception] { GraftTable.readVersion(spark, dir, 1).count() }
  }

  test("graft_bloom TVF: per-file saturation from plain SQL, chain dirs included") {
    val (dir, _) = fresh("g14b_bloomtvf")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      (0L until 100L).map(i => (i, i % 5L)).toDF("k", "c").coalesce(2),
      "base", bloomCol = Some("c"))
    GraftTable.commitAppend(spark, dir,
      (100L until 120L).map(i => (i, 9L)).toDF("k", "c").coalesce(1),
      "append", bloomCol = Some("c"))
    Graft.registerFunctions(spark)
    val rows = spark.sql(
      s"SELECT file, m, k, bits_set, saturation " +
        s"FROM graft_bloom('$dir', 1) ORDER BY dir_name, file").collect()
    assert(rows.length == 3, s"2 base files + 1 appended (${rows.length})")
    rows.foreach { r =>
      assert(r.getAs[Int]("m") >= 1024 && r.getAs[Int]("k") == 4)
      val sat = r.getAs[Double]("saturation")
      assert(r.getAs[Int]("bits_set") > 0 && sat > 0 && sat < 0.5,
        s"a 1-5 distinct-value file's filter must be sparse ($sat)")
    }
  }

  test("graft_typed_changes TVF: the typed feed from plain SQL") {
    val (dir, _) = fresh("g14b_cdftvf")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "b", 3L -> "c"), "v0")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "B", 4L -> "d"), "v1")
    Graft.registerFunctions(spark)
    val rows = spark.sql(
      s"SELECT k, s, change_type FROM graft_typed_changes('$dir', 1, 'k') " +
        "ORDER BY k, change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      (2L, "B", "update_postimage"), (2L, "b", "update_preimage"),
      (3L, "c", "delete"), (4L, "d", "insert")),
      s"got ${rows.toSeq}")
  }

  test("string-typed Bloom column probes with the same hash the build used") {
    val (dir, _) = fresh("g14b_bloomstr")
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"name_${i % 50}"))
      .toDF("k", "name").repartitionByRange(4, col("k"))
    GraftTable.commitNextIsolated(spark, dir, df, "bloom on name",
      bloomCol = Some("name"))
    val (bdf, hit, total) = GraftTable.readBloomEq(
      spark, dir, 0, "name", "name_7")
    assert(hit.nonEmpty && hit.size <= total &&
      bdf.filter(col("name") === "name_7").count() == 4,
      "string probes must find every true row")
  }

  // ---- typed change feed ----------------------------------------------------

  test("changeFeed classification matrix: insert / delete / update pre+post; the untouched arm emits NOTHING") {
    val (dir, _) = fresh("g14b_cdf")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), "v0")
    GraftTable.commitNextIsolated(spark, dir,
      kv(2L -> "b", 3L -> "X", 4L -> "d", 5L -> "e"), "v1: -1 ~3 +5")
    val feed = GraftTable.changeFeed(spark, dir, 1, Seq("k"))
      .select("k", "s", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set(
      (1L, "a", "delete"),
      (3L, "c", "update_preimage"),
      (3L, "X", "update_postimage"),
      (5L, "e", "insert")),
      s"got $feed")
  }

  test("changeFeed append tier: all inserts, join-free plan reading only the marker dir") {
    val (dir, fs) = fresh("g14b_cdfappend")
    GraftTable.commitNextIsolated(spark, dir, kv(1L -> "a"), "base")
    GraftTable.commitAppend(spark, dir, kv(2L -> "b", 3L -> "c"), "append")
    val feed = GraftTable.changeFeed(spark, dir, 1, Seq("k"))
    val added = GraftTable.dataDirsOf(fs, dir, 1).last
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains(s"/$added/")),
      "append-tier feed must read only the marker dir")
    assert(feed.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "append-tier feed must not join snapshots")
    assert(feed.select("change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
  }

  test("changeFeed over a MoR delete version yields exactly the tombstoned keys as deletes") {
    val (dir, _) = fresh("g14b_cdfdv")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "b", 3L -> "c"), "base")
    GraftTable.commitDeleteVector(spark, dir,
      kv(2L -> "-").select(col("k")), Seq("k"), "delete 2")
    val feed = GraftTable.changeFeed(spark, dir, 1, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(feed == Set((2L, "delete")),
      s"a MoR delete's typed feed is its tombstones: $feed")
  }

  test("changeFeed diffs across an undeclared column REORDER (the same identity the schema gate draws)") {
    val (dir, _) = fresh("g14b_cdfreorder")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "v0 (k, s)")
    // reordered SELECT commits undeclared — by-name identity
    GraftTable.commitNextIsolated(spark, dir,
      Seq(("b", 2L), ("x", 3L)).toDF("s", "k").select("s", "k"),
      "v1 (s, k) reordered")
    val feed = GraftTable.changeFeed(spark, dir, 1, Seq("k"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
        r.getAs[String]("change_type"))).toSet
    assert(feed == Set((1L, "a", "delete"), (3L, "x", "insert")),
      s"got $feed")
  }

  test("changeFeed refuses mismatched columns between the versions") {
    val (dir, _) = fresh("g14b_cdfschema")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir, kv(1L -> "a"), "v0")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a", 9L)).toDF("k", "s", "extra"), "v1 evolved",
      allowEvolution = true)
    val e = intercept[IllegalArgumentException] {
      GraftTable.changeFeed(spark, dir, 1, Seq("k")).collect()
    }
    assert(e.getMessage.contains("share a schema"), e.getMessage)
  }

  // ---- declared constraints -------------------------------------------------

  test("constraint declarations: syntax and unknown columns refuse at declaration; NULL passes CHECK (ANSI); dropConstraints is the declared escape") {
    val (dir, fs) = fresh("g14b_constraints")
    import spark.implicits._
    val df = Seq((1L, Some(5L)), (2L, None)).toDF("k", "x")
    intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, dir, df, "bad kind",
        constraints = Seq("primary:k"))
    }
    intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, dir, df, "bad col",
        constraints = Seq("notnull:nope"))
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      GraftTable.commitNextIsolated(spark, dir, df, "bad sql",
        constraints = Seq("check:k >>> 1"))
    }
    assert(GraftTable.versions(fs, dir).isEmpty,
      "refused declarations create no version")
    // NULL x passes `check:x > 0` — the ANSI unknown-is-not-a-violation
    // rule; a declared notnull is what forbids the null itself
    GraftTable.commitNextIsolated(spark, dir, df, "declared",
      constraints = Seq("check:x > 0", "unique:k"))
    assert(GraftTable.versions(fs, dir) == Seq(0))
    // carried forward automatically and enforced on the next commit
    val e = intercept[IllegalStateException] {
      GraftTable.commitNextIsolated(spark, dir,
        Seq((1L, Some(-1L))).toDF("k", "x"), "violates carried check")
    }
    assert(e.getMessage.contains("check:x > 0"), e.getMessage)
    // the declared drop stops the carry; the same rows then commit
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, Some(-1L))).toDF("k", "x"), "dropped",
      dropConstraints = true)
    assert(GraftTable.versions(fs, dir) == Seq(0, 1),
      "dropConstraints must let the write through")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, Some(-2L)), (1L, Some(-3L))).toDF("k", "x"), "no gate left")
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2),
      "after the drop nothing re-enforces")
  }

  test("constraints survive the append/dv/clone/compact hops and enforce at each") {
    val (parent, fs) = fresh("g14b_chops")
    import spark.implicits._
    val src = s"$parent/src"
    GraftTable.commitNextIsolated(spark, src,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), "base",
      constraints = Seq("notnull:x", "unique:k"))
    // append: within-batch dup refused, snapshot clash refused,
    // fresh keys land
    intercept[IllegalStateException] {
      GraftTable.commitAppend(spark, src,
        Seq((3L, 30L), (3L, 31L)).toDF("k", "x"), "dup in batch")
    }
    intercept[IllegalStateException] {
      GraftTable.commitAppend(spark, src,
        Seq((2L, 99L)).toDF("k", "x"), "clashes with snapshot")
    }
    GraftTable.commitAppend(spark, src,
      Seq((3L, 30L)).toDF("k", "x"), "fresh key")
    // dv hop carries the header; the next write still enforces
    GraftTable.commitDeleteVector(spark, src,
      Seq(Tuple1(1L)).toDF("k"), Seq("k"), "delete 1")
    intercept[IllegalStateException] {
      GraftTable.commitNextIsolated(spark, src,
        Seq((9L, Option.empty[java.lang.Long])).toDF("k", "x").selectExpr(
          "k", "CAST(x AS BIGINT) AS x"), "null x after dv")
    }
    // compaction re-enforces the carried set and keeps carrying it
    val cv = GraftTable.compactChain(spark, src)
    assert(GraftTable.statsOf(fs, src, cv).isEmpty,
      "a stats-less table's compaction must not mint a stats header")
    intercept[IllegalStateException] {
      GraftTable.commitAppend(spark, src,
        Seq((3L, 40L)).toDF("k", "x"), "clash after compact")
    }
    // the clone inherits and enforces independently
    val dst = s"$parent/dst"
    GraftTable.cloneShallow(spark, src, dst)
    intercept[IllegalStateException] {
      GraftTable.commitAppend(spark, dst,
        Seq((3L, 50L)).toDF("k", "x"), "clash in the clone")
    }
    GraftTable.commitAppend(spark, dst,
      Seq((7L, 70L)).toDF("k", "x"), "fresh key in the clone")
    assert(GraftTable.read(spark, dst).count() == 3,
      "clone: {2,3} after the delete, +7 appended")
  }

  test("constraints enforce and carry on EVERY write path: commitNext and commitWithRetry included") {
    val (dir, fs) = fresh("g14b_callpaths")
    import spark.implicits._
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L)).toDF("k", "x"), "declared",
      constraints = Seq("check:x > 0"))
    // convention-path commit: violation refused, no version minted
    intercept[IllegalStateException] {
      GraftTable.commitNext(spark, dir,
        Seq((2L, -5L)).toDF("k", "x"), "bad via commitNext")
    }
    // OCC transform commit: violation refused BEFORE staging
    intercept[IllegalStateException] {
      GraftTable.commitWithRetry(spark, dir,
        _ => Seq((2L, -5L)).toDF("k", "x"), "bad via retry loop")
    }
    assert(GraftTable.versions(fs, dir) == Seq(0))
    // a conforming commitWithRetry lands AND carries the header, so the
    // NEXT write still enforces
    GraftTable.commitWithRetry(spark, dir,
      _ => Seq((2L, 20L)).toDF("k", "x"), "good via retry loop")
    intercept[IllegalStateException] {
      GraftTable.commitNextIsolated(spark, dir,
        Seq((3L, -1L)).toDF("k", "x"), "header must have carried")
    }
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
  }

  test("cdcSubscribeTyped delivers each version's typed feed exactly once") {
    val (dir, _) = fresh("g14b_cdftyped")
    val (cp, _) = fresh("g14b_cdftypedcp")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "b"), "base")
    GraftTable.commitAppend(spark, dir, kv(3L -> "c"), "append")
    GraftTable.commitNextIsolated(spark, dir,
      kv(1L -> "a", 2L -> "B", 3L -> "c"), "rewrite: ~2")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val q = GraftTable.cdcSubscribeTyped(spark, dir, cp, Seq("k"),
      (v, _, feed) => {
        feed.collect().foreach(r =>
          got.add((v, s"${r.getLong(0)}:${r.getString(1)}:${r.getString(2)}")))
        ()
      })
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val byV = got.asScala.toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(byV(0) == Set("1:a:insert", "2:b:insert"))
    assert(byV(1) == Set("3:c:insert"))
    assert(byV(2) == Set("2:b:update_preimage", "2:B:update_postimage"))
  }
}
