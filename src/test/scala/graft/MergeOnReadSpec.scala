package graft

import graft.sources.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The four merge-on-read commit doors — the API key delete and key
  * update (dv= tombstones) and the positional delete and update (pdv=
  * sidecars) — share one head gate, so what each admits is one matrix
  * over the head layouts; and both purges share one body pinned to the
  * version it read. */
class MergeOnReadSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = new java.io.File(s"target/tmp/mor_$tag").getAbsolutePath
    GraftTable.fsOf(spark, dir).delete(new Path(dir), true)
    dir
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def rows = {
    import spark.implicits._
    (0L until 20L).map(k => (k, k % 3)).toDF("key", "cust").coalesce(1)
  }

  private def plain(dir: String): Unit =
    GraftTable.commitNextIsolated(spark, dir, rows, "plain")

  /** Head layouts, each minted on a fresh dir. */
  private val heads: Seq[(String, String => Unit)] = Seq(
    "dv" -> { dir => plain(dir)
      GraftTable.commitDeleteVector(spark, dir,
        GraftTable.read(spark, dir).where(col("key") === 5L), Seq("key"), "dv") },
    "pdv" -> { dir => plain(dir)
      GraftTable.commitPositionalDelete(spark, dir, col("key") === 5L, "pdv") },
    "pmap" -> { dir => GraftTable.replacePartitionsWithRetry(spark, dir,
      "cust", _ => rows, "pmap") },
    "colmap" -> { dir => plain(dir)
      GraftTable.commitRenameColumns(spark, dir, Seq("cust" -> "c2")) },
    "partby" -> { dir => GraftTable.commitNextIsolated(spark, dir, rows,
      "partby", partitionBy = Seq("cust")) },
    "index" -> { dir => GraftTable.commitNextIsolated(spark, dir, rows,
      "index", statsEnc = Seq("key" -> "id"), bloomCol = Some("cust")) })

  /** Doors, each touching key 1 only. */
  private val doors: Seq[(String, (String, Option[Int]) => Int)] = Seq(
    "key delete" -> { (dir, ev) =>
      import spark.implicits._
      GraftTable.commitDeleteVector(spark, dir, Seq(1L).toDF("key"),
        Seq("key"), "key delete", expectVersion = ev) },
    "key update" -> { (dir, ev) =>
      GraftTable.commitUpdateImpl(spark, dir, Some(Seq("key")),
        col("key") === 1L, Seq("cust" -> lit(7L)), "key update",
        expectVersion = ev) },
    "positional delete" -> { (dir, ev) =>
      GraftTable.commitPositionalDelete(spark, dir, col("key") === 1L,
        "positional delete", expectVersion = ev) },
    "positional update" -> { (dir, ev) =>
      GraftTable.commitPositionalUpdate(spark, dir, col("key") === 1L,
        Seq("cust" -> lit(7L)), "positional update", expectVersion = ev) })

  /** (door, head) → the substring its refusal names; absent pairs are
    * admitted. `index` heads refuse with IndexRedeclarationRequired. */
  private val refusals: Map[(String, String), String] = {
    val common = Map("pmap" -> "partition-mapped",
      "colmap" -> "renamed/dropped-column", "index" -> "skipping index")
    Map(
      "key delete" -> (common + ("pdv" -> "POSITIONAL")),
      "key update" -> (common + ("pdv" -> "purgePositionalDv") +
        ("partby" -> "partitionBy")),
      "positional delete" -> (common + ("dv" -> "KEY tombstones") +
        ("partby" -> "partitionBy")),
      "positional update" -> (common + ("dv" -> "dv=") +
        ("partby" -> "partitionBy")))
      .toSeq.flatMap { case (door, m) => m.map { case (h, s) => ((door, h), s) } }
      .toMap
  }

  test("each merge-on-read door admits or refuses each head layout by " +
      "name, and a refusal leaves no version and no dir behind") {
    for ((head, make) <- heads; (door, run) <- doors) {
      val clue = s"$door on a $head head: "
      val dir = freshDir(s"${head}_${door.replace(' ', '_')}")
      make(dir)
      val fs = GraftTable.fsOf(spark, dir)
      val before = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
      val head0 = GraftTable.currentVersion(fs, dir).get
      refusals.get((door, head)) match {
        case Some(named) =>
          val e = withClue(clue)(intercept[IllegalArgumentException](
            run(dir, None)))
          assert(messages(e).exists(_.contains(named)), clue + messages(e))
          assert(head != "index" ||
            e.isInstanceOf[GraftTable.IndexRedeclarationRequired], clue + e)
          assert(GraftTable.currentVersion(fs, dir).contains(head0),
            clue + "minted a version")
          val after = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
          assert(after == before, clue + s"left ${after -- before}")
        case None =>
          assert(run(dir, None) == head0 + 1, clue + "was not admitted")
          val h = GraftTable.headersOf(fs, dir, head0 + 1)
          assert(h.contains(if (door.startsWith("positional")) "pdv" else "dv"),
            clue + h.keySet)
          val keys = GraftTable.read(spark, dir).select("key", "cust")
            .collect().map(r => (r.getLong(0),
              r.get(1).asInstanceOf[Number].longValue)).toMap
          if (head.endsWith("dv"))
            assert(!keys.contains(5L), clue + "resurrected the head's delete")
          if (door.endsWith("delete")) assert(!keys.contains(1L), clue + keys)
          else assert(keys.get(1L).contains(7L), clue + keys)
      }
    }
  }

  test("a stale expectVersion on an index-bearing head surfaces as the " +
      "conflict at every door, never as the layout refusal") {
    val dir = freshDir("stale_index")
    plain(dir)
    GraftTable.commitNextIsolated(spark, dir, rows, "index",
      statsEnc = Seq("key" -> "id"), bloomCol = Some("cust"))
    val fs = GraftTable.fsOf(spark, dir)
    for ((door, run) <- doors) {
      withClue(s"$door: ")(intercept[java.util.ConcurrentModificationException](
        run(dir, Some(0))))
      assert(GraftTable.versions(fs, dir) == Seq(0, 1), door)
    }
  }

  test("a purge refuses with the conflict when a DELETE lands after it " +
      "read its snapshot, instead of resurrecting the deleted rows") {
    import spark.implicits._
    HookedFileSystem.register(spark)
    val dir = HookedFileSystem.path(freshDir("purge_race"))
    plain(dir)
    GraftTable.commitDeleteVector(spark, dir,
      Seq(2L).toDF("key"), Seq("key"), "dv delete")
    val fs = GraftTable.fsOf(spark, dir)
    // the purge's snapshot read opens the head's commit file; the racing
    // DELETE lands right then, as version 2
    HookedFileSystem.once(_.getName == "commit_1") {
      GraftTable.commitDeleteVector(spark, dir,
        Seq(3L).toDF("key"), Seq("key"), "racing delete")
    }
    try {
      intercept[java.util.ConcurrentModificationException](
        GraftTable.purgeDeleteVector(spark, dir))
      assert(!HookedFileSystem.pending, "the racing DELETE never ran")
    } finally HookedFileSystem.disarm()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2))
    val keys = GraftTable.read(spark, dir).select("key").collect()
      .map(_.getLong(0)).toSet
    assert(keys == (0L until 20L).toSet -- Set(2L, 3L))
    // a purge of the settled head still converges
    assert(GraftTable.purgeDeleteVector(spark, dir) == 3)
    assert(!GraftTable.headersOf(fs, dir, 3).contains("dv"))
    assert(GraftTable.read(spark, dir).count() == 18L)
  }

  test("a purge re-lays its survivors out under the head's partitionBy " +
      "and bucket declarations") {
    import spark.implicits._
    val dir = freshDir("purge_layout")
    val bucketed = (0L until 40L).map(k => (k, (k % 4).toInt, k * 10))
      .toDF("key", "b", "amt")
    GraftTable.commitNextIsolated(spark, dir, bucketed, "bucketed",
      partitionBy = Seq("b"), bucketFn = Some((4, "key")))
    GraftTable.commitDeleteVector(spark, dir,
      Seq(3L, 7L, 8L, 20L, 33L).toDF("key"), Seq("key"), "dv delete")
    val before = GraftTable.read(spark, dir)
    val v = GraftTable.purgeDeleteVector(spark, dir)
    val fs = GraftTable.fsOf(spark, dir)
    val hdrs = GraftTable.headersOf(fs, dir, v)
    assert(hdrs.keySet == Set("bucketfn", "data", "partby", "schema", "ts"),
      hdrs.keySet.toSeq.sorted)
    assert(hdrs("partby") == "b" &&
      GraftTable.bucketFnOf(hdrs).contains((4, "key", "b")))
    // the partition dirs are the layout the declarations describe
    val parts = fs.listStatus(new Path(s"$dir/${hdrs("data")}"))
      .map(_.getPath.getName).filter(_.startsWith("b=")).toSet
    assert(parts == (0 until 4).map(b => s"b=$b").toSet, parts)
    val after = GraftTable.read(spark, dir)
    assert(after.count() == 35L)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
  }
}
