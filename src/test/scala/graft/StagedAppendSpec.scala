package graft

import graft.sources.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three doors that publish a staged dir onto a chain — the API
  * `commitAppend`, a DSv2 `mode("append")` batch write and a streaming
  * epoch — share one gate and one publish step, so the same rows
  * appended onto the same indexed chain encode the same version, and a
  * head none of them may extend refuses at every door before anything
  * is left staged. */
class StagedAppendSpec extends SparkSpec {

  private val enc = Seq("key" -> "id")

  private def freshDir(tag: String): String = {
    val dir = new java.io.File(s"target/tmp/stagedappend_$tag")
      .getAbsolutePath
    GraftTable.fsOf(spark, dir).delete(new Path(dir), true)
    dir
  }

  private def base(dir: String): Unit =
    GraftTable.commitNextIsolated(spark, dir,
      spark.range(0, 4000, 1, 4).select(col("id").as("key"),
        (col("id") * 7919 % 503).as("cust")),
      "base", statsEnc = enc, bloomCol = Some("cust"))

  private val added = (4000L until 4300L).map(k => (k, k * 7919 % 503))

  /** Every parquet file name, and every dir name the chain's versions
    * reference, replaced by a role-stable token: what is left is the
    * encoding itself. */
  private def normalise(dir: String, s: String): String = {
    val fs = GraftTable.fsOf(spark, dir)
    val h1 = GraftTable.headersOf(fs, dir, 1)
    s.replace(h1("append"), "NEW")
      .replace(GraftTable.headersOf(fs, dir, 0)("data"), "BASE")
      .replaceAll("part-[^|;,/\\n]*?\\.parquet", "part.parquet")
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def streamOnce(dir: String, rows: Seq[(Long, Long)],
      upsertKeys: Option[String] = None,
      cols: Seq[String] = Seq("key", "cust")): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)]
    val w = mem.toDF().toDF(cols: _*).writeStream.format("graft")
      .option("path", dir)
      .option("checkpointLocation", freshDir(s"ckpt_${dir.hashCode}"))
    val q = upsertKeys.fold(w)(k => w.option("upsertKeys", k)).start()
    try { mem.addData(rows: _*); q.processAllAvailable() }
    finally q.stop()
    q.exception.foreach(throw _)
  }

  test("API, DSv2 and streaming appends of the same rows onto the same " +
      "statenc+Bloom chain write equal stats=, statenc=, bloom= headers " +
      "and equal _bloom bytes") {
    import spark.implicits._
    val dirs = Seq("api", "dsv2", "stream").map(freshDir)
    dirs.foreach(base)
    val rows: DataFrame = added.toDF("key", "cust").coalesce(1)
    GraftTable.commitAppend(spark, dirs(0), rows, "append",
      statsEnc = enc, bloomCol = Some("cust"))
    rows.write.format("graft").mode("append").save(dirs(1))
    streamOnce(dirs(2), added)
    val encoded = dirs.map { dir =>
      val fs = GraftTable.fsOf(spark, dir)
      val h = GraftTable.headersOf(fs, dir, 1)
      val sidecar = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/${h("append")}/_bloom")), "UTF-8")
      (Seq("stats", "statenc", "bloom").map(k => k -> normalise(dir, h(k))),
        normalise(dir, sidecar))
    }
    assert(encoded(0)._1.map(_._1) == Seq("stats", "statenc", "bloom"))
    assert(encoded(1) == encoded(0), s"DSv2 vs API: ${encoded.take(2)}")
    assert(encoded(2) == encoded(0), s"stream vs API: ${encoded}")
    // and the three chains serve the same rows
    val counts = dirs.map(GraftTable.read(spark, _).count())
    assert(counts == Seq(4300L, 4300L, 4300L), s"got $counts")
  }

  test("a dv=, pdv=, pmap= or colmap= head refuses at every door with a " +
      "named error and leaves no staging dir behind") {
    import spark.implicits._
    def plain(tag: String): String = {
      val dir = freshDir(tag)
      GraftTable.commitNextIsolated(spark, dir,
        (0L until 20L).map(k => (k, k % 3)).toDF("key", "cust").coalesce(1),
        "plain")
      dir
    }
    val heads: Seq[(String, String, String => Unit)] = Seq(
      ("dv", "purgeDeleteVector", dir => GraftTable.commitDeleteVector(
        spark, dir, Seq(Tuple1(1L)).toDF("key"), Seq("key"), "dv")),
      ("pdv", "purgePositionalDv", dir => GraftTable.commitPositionalDelete(
        spark, dir, col("key") === 2L, "pdv")),
      ("pmap", "partition-mapped", dir => GraftTable.replacePartitionsWithRetry(
        spark, dir, "cust", _ => (0L until 20L).map(k => (k, k % 3))
          .toDF("key", "cust"), "pmap")),
      ("colmap", "renamed/dropped-column", dir => GraftTable
        .commitRenameColumns(spark, dir, Seq("cust" -> "c2"))))
    // each door writes rows under the head's logical column names
    val doors: Seq[(String, (String, Seq[String]) => Unit)] = Seq(
      "api" -> ((dir, cols) => GraftTable.commitAppend(spark, dir,
        Seq((9000L, 1L)).toDF(cols: _*), "api")),
      "dsv2" -> ((dir, cols) => Seq((9000L, 1L)).toDF(cols: _*)
        .write.format("graft").mode("append").save(dir)),
      "stream" -> ((dir, cols) =>
        streamOnce(dir, Seq((9000L, 1L)), cols = cols)),
      // the upsert folds onto a DV of its own keys; every other head
      // refuses it too
      "upsert" -> ((dir, cols) =>
        streamOnce(dir, Seq((9000L, 1L)), Some("key"), cols)))
    for ((head, named, make) <- heads; (door, write) <- doors
         if !(head == "dv" && door == "upsert")) {
      val cols = if (head == "colmap") Seq("key", "c2") else Seq("key", "cust")
      val dir =
        if (head == "pmap") freshDir(s"${head}_$door") else plain(s"${head}_$door")
      make(dir)
      val fs = GraftTable.fsOf(spark, dir)
      val before = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
      val versions = GraftTable.versions(fs, dir)
      val e = withClue(s"$door onto a $head head: ") {
        intercept[Exception](write(dir, cols))
      }
      assert(messages(e).exists(_.contains(named)),
        s"$door onto a $head head: ${messages(e)}")
      assert(GraftTable.versions(fs, dir) == versions,
        s"$door onto a $head head minted a version")
      val after = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
      assert(after == before, s"$door onto a $head head left ${after -- before}")
    }
  }

  test("a DSv2 append whose columns do not match the table's fails " +
      "naming the column") {
    import spark.implicits._
    val dir = freshDir("misnamed")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 2L)).toDF("key", "cust"), "base")
    val e = intercept[Exception] {
      Seq((3L, 4L)).toDF("key", "c2").write.format("graft").mode("append")
        .save(dir)
    }
    assert(messages(e).exists(m => m.contains("`c2`") &&
      !m.contains("INVALID_ATTRIBUTE_NAME_SYNTAX")), messages(e))
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir) == Seq(0))
  }
}
