package graft

import graft.sources.{GraftDvInfo, GraftTable}
import org.apache.hadoop.fs.Path

/** The DSv2 read of a deletion-vector head: the catalog builds a fresh
  * table per statement, and the tombstone set is loaded through the
  * typed sidecar reader (no schema-inference job) once per DV dir, then
  * served from memory to every later statement on that DV. A new DV
  * commit writes a new dir, so its first read loads again; the
  * anti-join tier for large DVs never touches the loaded sets. */
class DvLoadSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def freshDir(tag: String): String = {
    val dir = new java.io.File(s"target/tmp/dvload_$tag").getAbsolutePath
    GraftTable.fsOf(spark, dir).delete(new Path(dir), true)
    dir
  }

  test("SQL reads of a scoped-DV head load the DV once per DV dir; the " +
      "anti-join tier neither reads nor fills the loaded sets") {
    val dir = freshDir("scoped")
    GraftTable.commitNextIsolated(spark, dir, spark.range(0, 3000)
      .select(col("id").as("key"), (col("id") % 1000).as("amt")), "base")
    spark.conf.set("spark.sql.catalog.gcdvload", "graft.sources.GraftCatalog")
    val t = s"gcdvload.`$dir`"
    spark.sql(s"UPDATE $t SET amt = amt + 1 WHERE key % 10 = 1")
    spark.sql(s"DELETE FROM $t WHERE key % 10 = 2")
    val fs = GraftTable.fsOf(spark, dir)
    assert(GraftTable.headersOf(fs, dir, 2)("dv").endsWith(";scoped"))

    def point(k: Long): Seq[(Long, Long)] =
      spark.sql(s"SELECT key, amt FROM $t WHERE key = $k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def range(lo: Long, hi: Long): Seq[(Long, Long)] =
      spark.sql(s"SELECT key, amt FROM $t WHERE key BETWEEN $lo AND $hi")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def live(deleted: Long => Boolean)(lo: Long, hi: Long) =
      (lo to hi).filter(k => k % 10 != 2 && !deleted(k))
        .map(k => (k, k % 1000 + (if (k % 10 == 1) 1 else 0)))
    def counters = (GraftDvInfo.driverCollects.get(), GraftDvInfo.memoHits.get())

    val (c0, h0) = counters
    var got: Seq[(Long, Long)] = Nil
    val first = JobRecorder.record(spark) { got = point(11) }._1
    assert(got == Seq((11L, 12L)))
    assert(first.count(_.schemaInference) == 0, first.toString)
    assert(counters == ((c0 + 1, h0)), "the first read loads the DV once")

    val second = JobRecorder.record(spark) { got = point(11) }._1
    assert(got == Seq((11L, 12L)))
    assert(second.size == 1, second.toString)
    assert(counters == ((c0 + 1, h0 + 1)), "a second read reuses the load")
    assert(range(0, 40) == live(_ => false)(0, 40))
    assert(counters == ((c0 + 1, h0 + 2)))

    // a further DELETE writes a new DV dir: its first read loads it, and
    // the deleted key is gone
    spark.sql(s"DELETE FROM $t WHERE key = 11")
    val (c1, _) = counters
    assert(point(11).isEmpty)
    assert(range(0, 40) == live(_ == 11)(0, 40))
    assert(counters._1 == c1 + 1)

    withConf("spark.graft.dv.broadcastMaxKeys" -> "10") {
      // a loaded DV is not read by the anti-join tier…
      val before = counters
      assert(range(0, 40) == live(_ == 11)(0, 40))
      assert(counters == before, "the anti-join tier read the loaded set")
      // …and a new one is not loaded by it
      spark.sql(s"DELETE FROM $t WHERE key = 21")
      val (c2, h2) = counters
      assert(range(0, 40) == live(Set(11L, 21L))(0, 40))
      assert(point(21).isEmpty)
      assert(counters == ((c2, h2)), "the anti-join tier loaded the DV")
    }
    val (c3, h3) = counters
    assert(range(0, 40) == live(Set(11L, 21L))(0, 40))
    assert(counters == ((c3 + 1, h3)),
      "the anti-join tier's reads left no loaded set behind")
  }
}
