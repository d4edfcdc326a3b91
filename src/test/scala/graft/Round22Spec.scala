package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.DistNtile

/** Round-22 (optimization round 2): the distributed exact ntile that
  * replaced the two single-partition WindowExec query paths (VERDICT
  * r21 item 1) must reproduce the window ntile BIT-FOR-BIT — including
  * the uneven-bucket arithmetic (n % k leftover rows go to the FIRST
  * buckets), the n < k edge, and multi-partition inputs where the
  * global rank is assembled from per-partition offsets. */
class Round22Spec extends SparkSpec {

  /** (value, unique key) rows spread over several input partitions,
    * with heavy ties on `v` so the tie-break column is load-bearing. */
  private def fixture(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong)
      .repartition(7) // more input partitions than the 4 shuffle partitions
      .select(col("id").as("key"), pmod(col("id") * 37, lit(11)).as("v"))
  }

  private def oracle(n: Int, k: Int, desc: Boolean) = fixture(n)
    .withColumn("b", ntile(k).over(Window.orderBy(
      if (desc) col("v").desc else col("v").asc, col("key"))).cast("long"))

  private def dist(n: Int, k: Int, desc: Boolean) = DistNtile.withNtile(
    fixture(n), k, col("v"), desc, col("key"), "b")

  private def check(n: Int, k: Int, desc: Boolean = false): Unit = {
    val exp = oracle(n, k, desc).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val got = dist(n, k, desc).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.size == n, s"n=$n k=$k: lost/duplicated rows (${got.size})")
    assert(got == exp, s"n=$n k=$k desc=$desc: bucket mismatch " +
      got.toSeq.sortBy(_._1).zip(exp.toSeq.sortBy(_._1))
        .filter(p => p._1 != p._2).take(5).toString)
  }

  test("DistNtile matches window ntile: even split") { check(100, 5) }

  test("DistNtile matches window ntile: uneven split (n % k != 0)") {
    check(103, 5) // first 3 buckets get 21 rows, the rest 20
    check(97, 10)
  }

  test("DistNtile matches window ntile: descending lead column") {
    check(103, 5, desc = true)
    check(97, 10, desc = true)
  }

  test("DistNtile matches window ntile: n < k (one row per bucket)") {
    check(7, 10)
  }

  test("DistNtile matches window ntile: k = 1") { check(50, 1) }

  test("DistNtile matches window ntile: degenerate lead (all ties)") {
    import spark.implicits._
    val df = spark.range(60).repartition(5)
      .select(col("id").as("key"), lit(7L).as("v"))
    val exp = df.withColumn("b",
      ntile(4).over(Window.orderBy(col("v"), col("key"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val got = DistNtile.withNtile(df, 4, col("v"), false, col("key"), "b")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == exp)
  }

  test("DistNtile multi-dim flattened pass matches per-dim window ntile") {
    import spark.implicits._
    val df = spark.range(150).repartition(6)
      .select(col("id").as("key"),
        pmod(col("id") * 37, lit(11)).as("v1"),
        pmod(col("id") * 13 + 5, lit(29)).as("v2"))
    val exp = df
      .withColumn("a", ntile(5).over(
        Window.orderBy(col("v1"), col("key"))).cast("long"))
      .withColumn("b", ntile(7).over(
        Window.orderBy(col("v2").desc, col("key"))).cast("long"))
      .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
      .toMap
    // NOTE: k must match per call — dims share one k, so check each k
    // with its own call but in the flattened multi-dim shape
    val gotA = DistNtile.withNtiles(df, 5,
      Seq((col("v1"), false, "a")), col("key"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val gotB = DistNtile.withNtiles(df, 7,
      Seq((col("v2"), true, "b")), col("key"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // and the genuinely multi-dim call (same k) against two windows
    val exp2 = df
      .withColumn("a", ntile(4).over(
        Window.orderBy(col("v1"), col("key"))).cast("long"))
      .withColumn("b", ntile(4).over(
        Window.orderBy(col("v2").desc, col("key"))).cast("long"))
      .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
      .toMap
    val got2 = DistNtile.withNtiles(df, 4, Seq(
      (col("v1"), false, "a"), (col("v2"), true, "b")), col("key"))
      .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
      .toMap
    assert(gotA == exp.map { case (k, v) => (k, v._1) })
    assert(gotB == exp.map { case (k, v) => (k, v._2) })
    assert(got2 == exp2)
  }

  test("delete chain: footer-based prev counts mark a file fully dead " +
      "only when the SECOND delete kills its remainder") {
    import graft.sources.GraftTable
    val dir = "target/tmp/r22spec_delchain"
    GraftTable.fsOf(spark, dir)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val base = spark.range(20).select(col("id").as("k"),
      (col("id") % 2).as("par"))
      .repartitionByRange(2, col("par"))
    GraftTable.commitNextIsolated(spark, dir, base, "base")
    // delete half of one parity class, then the rest of it: the first
    // commit must NOT skip the file (prev=0, dead=5 < footer 10); the
    // second must (prev=5 via FOOTERS of the prev sidecar, dead=10 ==
    // footer 10)
    GraftTable.commitPositionalDelete(spark, dir,
      col("par") === 0 && col("k") < 10, "del 1")
    val fs = GraftTable.fsOf(spark, dir)
    def skipsOf(v: Int): Set[String] = {
      val hdrs = GraftTable.headersOf(fs, dir, v)
      GraftTable.pdvSkips(fs, s"$dir/${hdrs("pdv")}")
    }
    assert(skipsOf(1).isEmpty, "half-dead file must not be skipped")
    GraftTable.commitPositionalDelete(spark, dir,
      col("par") === 0, "del 2")
    assert(skipsOf(2).size == 1,
      "the even-parity file is now fully dead and must be in _skips")
    // survivors unaffected
    val rows = GraftTable.read(spark, dir).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(rows == (0L until 20L).filter(_ % 2 == 1).toSet)
    // the chain goes on: a positional update stages a replacement file,
    // a matched-nothing delete, then a delete of the replacement's only
    // row. At every version _skips must be exactly the data files with
    // rows of which every _metadata.row_index is in the sidecar —
    // computed from the rows themselves
    GraftTable.commitPositionalUpdate(spark, dir, col("k") === 1L,
      Seq("par" -> lit(7L)), "update k=1")
    GraftTable.commitPositionalDelete(spark, dir, col("k") === 999L,
      "matches nothing")
    GraftTable.commitPositionalDelete(spark, dir,
      col("k") === 1L && col("par") === 7L, "kill the replacement")
    def deadFromRows(v: Int): Set[String] = {
      val hdrs = GraftTable.headersOf(fs, dir, v)
      val data = spark.read.parquet(
        GraftTable.dataDirsOf(fs, dir, v).map(d => s"$dir/$d"): _*)
        .select(element_at(split(col("_metadata.file_path"), "/"), -1)
          .as("f"), col("_metadata.row_index").as("p"))
      val sidecar = spark.read.parquet(s"$dir/${hdrs("pdv")}")
      val live = data.join(sidecar,
        data("f") === sidecar("__file") && data("p") === sidecar("__pos"),
        "left_anti")
      def files(df: org.apache.spark.sql.DataFrame) =
        df.select("f").distinct().collect().map(_.getString(0)).toSet
      files(data) -- files(live)
    }
    (1 to 5).foreach(v => assert(skipsOf(v) == deadFromRows(v),
      s"version $v: _skips ${skipsOf(v)} vs rows ${deadFromRows(v)}"))
    assert(skipsOf(5).size == 2,
      "the replacement file's only row died: it joins _skips")
    assert(GraftTable.read(spark, dir).select("k").collect()
      .map(_.getLong(0)).toSet == rows - 1L)
  }

  test("epoch upsert: cumulative dv stays duplicate-free WITHOUT a " +
      "distinct (anti-join disjointness), fold unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.GraftTable
    import spark.implicits._
    val dir = "target/tmp/r22spec_upsnd"
    val ckpt = "target/tmp/r22spec_upsnd_ckpt"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("tag", "x")
      .groupBy("tag").agg(sum(col("x")).as("total"))
      .writeStream.format("graft")
      .outputMode("update")
      .option("path", new java.io.File(dir).getAbsolutePath)
      .option("upsertKeys", "tag")
      .option("checkpointLocation", ckpt)
      .start()
    // the same key updates in EVERY epoch: each epoch tombstones its
    // predecessors' image of "a" in several dirs — the hot path for a
    // union that no longer deduplicates
    mem.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
    mem.addData(("a", 10L), ("c", 3L)); q.processAllAvailable()
    mem.addData(("a", 100L), ("b", 20L)); q.processAllAvailable()
    mem.addData(("a", 1000L)); q.processAllAvailable()
    q.stop()
    val state = GraftTable.read(spark, dir)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(state == Seq(("a", 1111L), ("b", 22L), ("c", 3L)), s"got $state")
    // the head's dv sidecar must hold ZERO duplicate (key, dir) pairs
    val cur = GraftTable.versions(fs, dir).max
    val hdrs = GraftTable.headersOf(fs, dir, cur)
    val dvDir = hdrs("dv").split(";", 3)(0)
    val tombs = spark.read.parquet(s"$dir/$dvDir")
    assert(tombs.count() == tombs.distinct().count(),
      "cumulative dv sidecar holds duplicate tombstones")
  }

  test("blockTopK norm-hoist: matches the naive 3-FMA enumeration " +
      "bit-for-bit, incl. ties at the heap threshold and the diagonal") {
    // naive reference: the pre-hoist arithmetic, full enumeration + sort
    def naive(bi: Int, bj: Int, va: Array[IdVec], vb: Array[IdVec],
        k: Int): Seq[(Long, Long, Double)] = {
      val all = for {
        x <- va.toSeq; y <- vb.toSeq
        if x.id != y.id && (bi != bj || x.id < y.id)
      } yield {
        var dp = 0.0; var na = 0.0; var nb = 0.0
        val n = math.min(x.embedding.length, y.embedding.length)
        var m = 0
        while (m < n) {
          val p = x.embedding(m).toDouble; val q = y.embedding(m).toDouble
          dp += p * q; na += p * p; nb += q * q; m += 1
        }
        if (na == 0.0 || nb == 0.0) None
        else Some((math.min(x.id, y.id), math.max(x.id, y.id),
          dp / (math.sqrt(na) * math.sqrt(nb))))
      }
      all.flatten.sortBy(t => (-t._3, t._1, t._2)).take(k)
    }
    def sorted(it: Iterator[(Long, Long, Double)]) =
      it.toSeq.sortBy(t => (-t._3, t._1, t._2))
    val rnd = new scala.util.Random(42)
    def vec(seed: Int, dim: Int = 8): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2f - 1f)
    }
    // heavy cosine TIES at the heap boundary: many scaled copies of the
    // same direction (cosine exactly 1.0 among them) force the
    // cos == worst path where only the id tie-break decides eviction
    val base = vec(7)
    val ties = (0L until 30L).map(i =>
      IdVec(i, base.map(x => x * (i + 1)))).toArray
    val mixed = ties ++ (30L until 60L).map(i => IdVec(i, vec(i.toInt))).toArray
    assert(sorted(Graft.blockTopK(0, 0, mixed, mixed, 10)) ==
      naive(0, 0, mixed, mixed, 10), "diagonal block with cosine ties")
    val a = (0L until 25L).map(i => IdVec(i, vec(i.toInt))).toArray
    val b = (100L until 125L).map(i => IdVec(i, vec(i.toInt))).toArray
    assert(sorted(Graft.blockTopK(0, 1, a, b, 7)) == naive(0, 1, a, b, 7),
      "off-diagonal block pair")
    // zero-norm vectors are skipped on BOTH paths
    val withZero = a :+ IdVec(999L, Array.fill(8)(0f))
    assert(sorted(Graft.blockTopK(0, 1, withZero, b, 7)) ==
      naive(0, 1, withZero, b, 7), "zero-norm vector skipped")
    // unequal lengths take the inline fallback (min-length fold)
    val ragged = a :+ IdVec(500L, vec(500, dim = 5))
    assert(sorted(Graft.blockTopK(0, 1, ragged, b, 9)) ==
      naive(0, 1, ragged, b, 9), "ragged lengths: inline fallback")
    // k larger than the candidate count
    assert(sorted(Graft.blockTopK(0, 1, a.take(2), b.take(2), 50)) ==
      naive(0, 1, a.take(2), b.take(2), 50), "k > candidates")
  }

  test("DistNtile plans no single-partition window over the data") {
    val bad = dist(200, 5, desc = false).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"${bad.size} unpartitioned Window node(s)")
  }

  test("rfm and perplexity-bucket queries carry NO unpartitioned window") {
    Seq("report_rfm_segments", "text_perplexity_bucket").foreach { k =>
      val df = SparkEntry.queries(k)(spark, sf)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$k still plans ${bad.size} single-partition Window node(s)")
    }
  }
}
