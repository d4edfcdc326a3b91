package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import Verify.jsonQuote

/** sf1 headline spike (VERDICT r18 "Next round" item 8): materialize a
  * 10×-amplified copy of the sf0.1 tables under target/sf1 (driver
  * testdata stops at sf0.1), run ONLY the 13 BASELINE.md headline keys
  * there, and calibrate against DuckDB same-boot on the same files —
  * the overhead-amortization evidence PERF.md records (sub-second
  * sf0.1 ratios are dominated by Spark's fixed planning/stage floor;
  * at sf1 the floor amortizes and the ratios shrink toward the engine's
  * real throughput).
  *
  * Amplification = crossJoin with a 10-replica index, every JOIN KEY
  * shifted `k*10+rep` so per-key fanout and group sizes are preserved
  * exactly (no cross-replica joins, no artificial skew), materialized
  * to parquet so DuckDB reads the identical files. Non-joined dims
  * (region, nation, part, supplier) copy verbatim.
  */
object Sf1Spike {
  private val N = 10

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = "target/sf1"
    val spark = Bench.session()

    def amp(df: DataFrame, keys: Seq[String]): DataFrame = {
      val rep = spark.range(N).toDF("rep_idx")
      keys.foldLeft(df.crossJoin(rep)) { (d, k) =>
        d.withColumn(k, col(k) * N + col("rep_idx"))
      }.drop("rep_idx")
        // spread over 32 files: the broadcast-side crossJoin otherwise
        // lands everything in ONE sub-maxPartitionBytes file, which
        // Spark scans single-task (DuckDB parallelizes row groups inside
        // a file, so the comparison silently became 32-vs-1 threads)
        .repartition(32)
    }

    if (!Files.exists(Paths.get(s"$outDir/lineitem.parquet"))) {
      val gens: Seq[(String, DataFrame)] = Seq(
        "region" -> T.t(spark, srcDir, "region"),
        "nation" -> T.t(spark, srcDir, "nation"),
        "supplier" -> T.t(spark, srcDir, "supplier"),
        "part" -> T.t(spark, srcDir, "part"),
        "customer" -> amp(T.t(spark, srcDir, "customer"), Seq("c_custkey")),
        "orders" -> amp(T.t(spark, srcDir, "orders"),
          Seq("o_orderkey", "o_custkey")),
        "lineitem" -> amp(T.t(spark, srcDir, "lineitem"), Seq("l_orderkey")),
        "events" -> amp(T.t(spark, srcDir, "events"),
          Seq("event_id", "user_id")),
        "documents" -> amp(T.t(spark, srcDir, "documents"), Seq("doc_id")),
        "embeddings" -> amp(T.t(spark, srcDir, "embeddings"), Seq("vec_id")))
      gens.foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        System.err.println(s"[sf1] wrote $name")
      }
    }

    Bench.warmTables(spark, outDir)

    def runOnce(k: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, outDir).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    def r(d: Double): Double = math.round(d * 1000.0) / 1000.0

    val results = Bench.headlineKeys.map { k =>
      runOnce(k) // warm
      k -> r(med(Seq.fill(3)(runOnce(k))))
    }
    val total = r(results.map(_._2).sum)

    val calibration =
      Bench.calibrate(outDir, "target/sf1_calib_sql.json", total, timeoutS = 600)

    val qJson = results.map { case (k, v) => s"${jsonQuote(k)}:$v" }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"sf1_headline","value":$total,"unit":"sec","queries":$qJson,"calibration":$calibration,"sf":"$outDir"}"""
    Files.writeString(Paths.get("target/sf1_spike.json"), json)
    println(json)
    spark.stop()
  }
}
