package graft

import graft.sources.GraftTable
import org.apache.hadoop.fs.Path

/** Job-count pins for the index-bearing commit doors on a table shaped
  * like the benchmark's `idx` table (flat, min/max stats on `key` under
  * the registered `id` encoding, a Bloom filter on `cust`): with the
  * index step reading footers and the Bloom build reading under the
  * commit's schema, none of them runs a schema-inference job or a
  * stats scan. The counts are pinned so a door that regrows a pass
  * shows here. */
class CommitJobsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val idxEnc = Seq("key" -> "id")

  private def freshDir(tag: String): String = {
    val dir = new java.io.File(s"target/tmp/cjobs_$tag").getAbsolutePath
    GraftTable.fsOf(spark, dir).delete(new Path(dir), true)
    dir
  }

  private def rows(from: Long, n: Long) =
    spark.range(from, from + n).select(col("id").as("key"),
      (col("id") * 7919 % 5003).as("cust"), (col("id") % 1000).as("amt"),
      (col("id") % 365).cast("int").as("day"))

  /** (jobs, schema-inference jobs, stats scans) of `body`. */
  private def counts(body: => Unit): (Int, Int, Int) = {
    val (jobs, plans) = JobRecorder.record(spark)(body)
    (jobs.size, jobs.count(_.schemaInference), plans.count(_.contains("__rows")))
  }

  test("the recorder sees a schema-inference job and a stats scan") {
    val dir = freshDir("controls")
    rows(0, 100).write.parquet(dir)
    assert(counts(spark.read.parquet(dir).schema)._2 == 1)
    assert(counts(GraftTable.computeStats(spark, dir,
      Seq("key" -> GraftTable.StatsEnc.ordinal("id"))))._3 == 1)
  }

  test("stats+Bloom commitNextIsolated, commitAppend and SQL UPDATE run " +
      "no inference job and no stats scan") {
    val dir = freshDir("idx")
    val base = rows(0, 20000).repartitionByRange(8, col("key"))
    val isolated = counts(GraftTable.commitNextIsolated(spark, dir, base,
      "base", statsEnc = idxEnc, bloomCol = Some("cust")))
    val append = counts(GraftTable.commitAppend(spark, dir,
      rows(20000, 500), "append", statsEnc = idxEnc, bloomCol = Some("cust")))
    spark.conf.set("spark.sql.catalog.gcjobs", "graft.sources.GraftCatalog")
    val update = counts(spark.sql(
      s"UPDATE gcjobs.`$dir` SET amt = amt + 7 WHERE key % 100 = 3"))
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.headersOf(fs, dir, 2).contains("bloom"))
    assert(GraftTable.statsOf(fs, dir, 2).isDefined)
    Seq("isolated" -> isolated, "append" -> append, "update" -> update)
      .foreach { case (door, (_, inference, scans)) =>
        assert(inference == 0, s"$door ran $inference schema-inference jobs")
        assert(scans == 0, s"$door ran $scans stats scans")
      }
    // isolated: range-partition sample, shuffle map stage, write, Bloom
    // build; append: write, Bloom build; UPDATE: copy-on-write rewrite,
    // Bloom build
    assert((isolated._1, append._1, update._1) == ((4, 2, 2)),
      "job counts per door moved")
  }
}
