package graft

import org.apache.spark.sql.{DataFrame, Row}

/** `SmallSortSinglePartition`: a global sort over materialized stages
  * whose runtime size is within AQE's one-partition coalescing bound
  * shuffles to a single partition (no range-sampling job); every other
  * range exchange keeps its range partitioning. */
class SmallSortSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** ~100 grouped rows behind one hash shuffle. */
  private def agg: DataFrame = spark.range(0, 20000, 1, 4)
    .select((col("id") % 97).as("k"), col("id").as("v"))
    .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))

  /** A groupBy → orderBy: the sort's input is one materialized stage.
    * `tieKey` sorts on a 3-valued key only, so row order among ties is
    * whatever the shuffle delivers. */
  private def grouped(tieKey: Boolean = false): DataFrame =
    if (tieKey) agg.orderBy(col("k") % 3) else agg.orderBy(col("s").desc, col("k"))

  /** Rows, final physical plan and job count of one collect. */
  private def run(df: DataFrame): (Seq[Row], String, Int) = {
    var rows = Seq.empty[Row]
    val (jobs, _) = JobRecorder.record(spark) { rows = df.collect().toSeq }
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    (rows, finalPlan, jobs.size)
  }

  private def single(p: String) = p.contains("Exchange SinglePartition")
  private def ranged(p: String) = p.contains("Exchange rangepartitioning")

  test("a small groupBy → orderBy shuffles to one partition, one job fewer") {
    val (rows, p, jobs) = run(grouped())
    assert(single(p) && !ranged(p), p)
    // the range form: the same query over a one-partition bound below
    // its input
    val (rangeRows, rp, rangeJobs) = withConf(minSize -> "1")(run(grouped()))
    assert(ranged(rp) && !single(rp), rp)
    assert(jobs == rangeJobs - 1, s"$jobs jobs vs $rangeJobs in the range form")
    assert(rows == rangeRows)
  }

  test("a scan-rooted sort (no materialized stage) keeps its range exchange") {
    val p = run(T.t(spark, sf, "customer").orderBy("c_acctbal", "c_custkey"))._2
    assert(ranged(p) && !single(p), p)
  }

  test("an input over AQE's one-partition bound keeps its range exchange") {
    val p = withConf(minSize -> "64")(run(grouped())._2)
    assert(ranged(p) && !single(p), p)
  }

  test("with coalescing disabled the range exchange stays") {
    val p = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(run(grouped())._2)
    assert(ranged(p) && !single(p), p)
  }

  test("a user repartitionByRange is never rewritten") {
    val p = run(agg.repartitionByRange(2, col("k")).sortWithinPartitions("k"))._2
    assert(ranged(p) && p.contains("REPARTITION_BY_NUM") && !single(p), p)
  }

  test("rows and order are the same at 1 and 4 shuffle partitions and as the range form") {
    val at4 = run(grouped())
    val at1 = withConf("spark.sql.shuffle.partitions" -> "1")(run(grouped()))
    assert(single(at4._2), at4._2)
    assert(at1._1 == at4._1)
    // ties: rows of equal sort key reach the one sorter in the order of
    // their map stage in both forms, and the sort is stable
    val ties = run(grouped(tieKey = true))
    val tiesRange = withConf(minSize -> "1")(run(grouped(tieKey = true)))
    assert(single(ties._2) && ranged(tiesRange._2), ties._2)
    assert(ties._1 == tiesRange._1)
  }
}
