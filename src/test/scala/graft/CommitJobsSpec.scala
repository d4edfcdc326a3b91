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
    val scan = counts(GraftTable.computeStats(spark, dir, rows(0, 1).schema,
      idxEnc))
    assert(scan._2 == 0 && scan._3 == 1, s"stats scan under a schema: $scan")
  }

  test("a tail compaction reads its tail under a known schema") {
    val chain = freshDir("tail")
    GraftTable.commitNextIsolated(spark, chain,
      rows(0, 2000).repartitionByRange(4, col("key")), "base",
      statsEnc = idxEnc, bloomCol = Some("cust"))
    Seq(2000L, 2500L).foreach(from => GraftTable.commitAppend(spark, chain,
      rows(from, 500), "append", statsEnc = idxEnc, bloomCol = Some("cust")))
    val before = GraftTable.read(spark, chain).collect().toSet
    val tail = counts(GraftTable.compactChainTail(spark, chain,
      statsEnc = idxEnc, bloomCol = Some("cust")))
    val fs = GraftTable.fsOf(spark, chain)
    assert(GraftTable.dataDirsOf(fs, chain, 3).size == 2)
    assert(GraftTable.read(spark, chain).collect().toSet == before)
    assert(tail._2 == 0 && tail._3 == 0, s"tail compaction: $tail")
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

  test("a DSv2 append, a streaming append epoch, a band read and a Bloom " +
      "read run no schema-inference job") {
    val dir = freshDir("doors")
    GraftTable.commitNextIsolated(spark, dir,
      rows(0, 20000).repartitionByRange(8, col("key")), "base",
      statsEnc = idxEnc, bloomCol = Some("cust"))
    val dsv2 = JobRecorder.record(spark) {
      rows(20000, 500).coalesce(1).write.format("graft").mode("append")
        .save(dir)
    }._1
    val epoch = JobRecorder.record(spark) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[(Long, Long, Long, Int)]
      val q = mem.toDF().toDF("key", "cust", "amt", "day")
        .writeStream.format("graft").option("path", dir)
        .option("checkpointLocation", freshDir("doors_ckpt")).start()
      try {
        mem.addData((20500L until 21000L).map(k =>
          (k, k * 7919 % 5003, k % 1000, (k % 365).toInt)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }._1
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2))
    val band = JobRecorder.record(spark) {
      GraftTable.readStatsBand(spark, dir, 2, "key", 100L, 200L)._1.count()
    }._1
    val bloom = JobRecorder.record(spark) {
      GraftTable.readBloomEq(spark, dir, 2, "cust", 42L)._1.count()
    }._1
    val inferring = Seq("dsv2" -> dsv2, "epoch" -> epoch, "band" -> band,
      "bloom" -> bloom).filter(_._2.exists(_.schemaInference))
    assert(inferring.isEmpty, s"schema-inference jobs ran: $inferring")
    // DSv2 and the epoch: write, Bloom build; each read: the count's
    // scan and its final aggregate
    assert((dsv2.size, epoch.size, band.size, bloom.size) == ((2, 2, 2, 2)),
      s"job counts moved: dsv2 $dsv2, epoch $epoch, band $band, bloom $bloom")
  }

  test("merge-on-read doors keep their job counts: SQL DELETE and UPDATE " +
      "on a plain head, a key-DV purge, the positional delete and update") {
    val dir = freshDir("mor")
    GraftTable.commitNextIsolated(spark, dir,
      rows(0, 20000).repartitionByRange(8, col("key")), "base")
    spark.conf.set("spark.sql.catalog.gcjobs", "graft.sources.GraftCatalog")
    def jobs(body: => Unit): Int = JobRecorder.record(spark)(body)._1.size
    val delete = jobs(spark.sql(
      s"DELETE FROM gcjobs.`$dir` WHERE key % 100 = 3"))
    val update = jobs(spark.sql(
      s"UPDATE gcjobs.`$dir` SET amt = amt + 7 WHERE key % 100 = 5"))
    val purge = jobs(GraftTable.purgeDeleteVector(spark, dir))
    val pdelete = jobs(GraftTable.commitPositionalDelete(spark, dir,
      col("key") % 100 === 7, "positional delete"))
    val pupdate = jobs(GraftTable.commitPositionalUpdate(spark, dir,
      col("key") % 100 === 9, Seq("amt" -> (col("amt") + 1)),
      "positional update"))
    val fs = GraftTable.fsOf(spark, dir)
    assert(Seq(1, 2).forall(GraftTable.headersOf(fs, dir, _).contains("dv")))
    assert(Seq(4, 5).forall(GraftTable.headersOf(fs, dir, _).contains("pdv")))
    assert(GraftTable.read(spark, dir).count() == 19600L)
    // measured before the merge-on-read doors shared one gate, one
    // sidecar step and one purge body; the refactor moved none of them
    assert((delete, update, purge, pdelete, pupdate) == ((2, 9, 3, 4, 4)),
      s"job counts moved: delete $delete, update $update, purge $purge, " +
        s"positional delete $pdelete, positional update $pupdate")
  }

  test("the change feed's append fast path builds its delta with no job") {
    val dir = freshDir("delta")
    GraftTable.commitNextIsolated(spark, dir, rows(0, 1000), "base")
    GraftTable.commitAppend(spark, dir, rows(1000, 200), "append")
    // the append= dir is read under the version's declared schema, so
    // no schema-inference job runs before an action
    val (jobs, _) = JobRecorder.record(spark) {
      GraftTable.versionDelta(spark, dir, 1)
      ()
    }
    assert(jobs.isEmpty, s"building the append delta ran jobs: $jobs")
    val delta = GraftTable.versionDelta(spark, dir, 1)
    assert(delta.columns.toSeq == Seq("key", "cust", "amt", "day"))
    assert(delta.collect().toSet == rows(1000, 200).collect().toSet)
  }
}
