package graft

/** Same-JVM interleaved A/B of one SQLConf value across suite keys.
  * Runs A,B,A,B,... per key (conf restored after each), so ambient
  * drift hits both arms equally; prints per-key medians. */
object ConfAB {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ConfAB <conf> <valueB> <key> [key...]")
    val confKey = args(0); val valueB = args(1); val keys = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    val valueA = spark.conf.get(confKey)
    Bench.warmTables(spark, sfDir)
    def run(key: String, v: String): Double = {
      spark.conf.set(confKey, v)
      try {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(key)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } finally spark.conf.set(confKey, valueA)
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(s"A=$confKey=$valueA  B=$confKey=$valueB  (per key: warm A,B then 5x interleaved)")
    var sumA = 0.0; var sumB = 0.0
    keys.foreach { key =>
      run(key, valueA); run(key, valueB) // warm both plans
      val as = collection.mutable.ArrayBuffer[Double]()
      val bs = collection.mutable.ArrayBuffer[Double]()
      (0 until 5).foreach { _ => as += run(key, valueA); bs += run(key, valueB) }
      val (ma, mb) = (med(as.toSeq), med(bs.toSeq))
      sumA += ma; sumB += mb
      println(f"$key%28s A ${ma}%7.3f  B ${mb}%7.3f  B/A ${mb / ma}%5.2f")
    }
    println(f"${"TOTAL"}%28s A ${sumA}%7.3f  B ${sumB}%7.3f  B/A ${sumB / sumA}%5.2f")
    spark.stop()
  }
}
