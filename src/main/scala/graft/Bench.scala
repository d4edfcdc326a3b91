package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import Verify.jsonQuote

object Bench {
  /** The 13 BASELINE.md headline keys: the stdout line's `queries` and
    * `spread` maps, and the set `Sf1Spike` times at sf1. */
  val headlineKeys: Seq[String] = Seq("agg_group_pricing", "topk_orders",
    "join_multiway_star", "win_latest_dedup", "stream_tumbling_1h",
    "agg_count_distinct", "fn_json_pack", "agg_rollup", "vec_cosine_topk",
    "vec_knn_join", "text_wordcount_topk", "text_lang_stats",
    "text_exact_dedup")

  /** The one SparkSession every entry point (Bench, Verify, PlanDump,
    * Sf1Spike, QueryTrace, ConfAB) runs under: the benched
    * configuration, `local[SPARK_GRAFT_CPUS]` (default 4) with as many
    * shuffle partitions. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // production parity: the cluster extensions (incl. the MERGE
      // INTO rewrite, which binds only at session build)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // The interleaved protocol runs ~190 other queries between two
      // samples of the same query; the default 100-entry codegen class
      // cache evicts every compiled class in between, so each sample
      // re-pays Janino compilation that a production (steady-plan)
      // deployment compiles once. Size the cache to hold the whole
      // suite's generated classes — benchmarking steady-state execution,
      // not the compiler.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    // SPARK_GRAFT_CONF="k=v;k=v" — ad-hoc config overrides for local
    // perf experiments (the driver sets nothing; defaults above are the
    // benched configuration).
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads every source table under `sfDir` once, so the first timed
    * query does not pay a table's cold read. Guarded per table (round-9
    * lesson: one broken loader in warm-up crashed the whole bench, rc=1
    * with zero timings — a single-table failure must cost one table's
    * warmth, not the round's bench). */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    T.tables.foreach { name =>
      try {
        if (name == "events") T.events(spark, sfDir).count()
        else spark.read.parquet(s"$sfDir/$name.parquet").count()
      } catch { case e: Throwable =>
        System.err.println(s"[warm-up] $name failed: ${e.getMessage}")
      }
    }

  /** Runs tools/calibrate.py: DuckDB times the headline keys' oracle SQL
    * on the parquet under `dataDir` and reports the ratio against
    * `sparkTotal`. Returns its one-line JSON, or "null" when python3,
    * duckdb or the script is missing, fails or times out. */
  private[graft] def calibrate(dataDir: String, sqlFile: String,
      sparkTotal: Double, timeoutS: Long): String = try {
    val sqls = headlineKeys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    val sqlJson = sqls.map { case (k, q) => s"${jsonQuote(k)}:${jsonQuote(q)}" }
      .mkString("{", ",", "}")
    Files.createDirectories(Paths.get(sqlFile).getParent)
    Files.writeString(Paths.get(sqlFile), sqlJson)
    val script = Paths.get("tools/calibrate.py")
    if (!Files.exists(script)) "null" else {
      val pb = new ProcessBuilder("python3", script.toString, dataDir,
        sqlFile, sparkTotal.toString)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      // stdout is one short JSON line (< pipe buffer), so waitFor
      // cannot deadlock on an unread stream.
      val done = proc.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); "null" }
      else {
        val out = new String(proc.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        if (proc.exitValue == 0 && out.startsWith("{") && out.endsWith("}"))
          out
        else "null"
      }
    }
  } catch { case _: Throwable => "null" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // Warm up codegen/scheduler/FS cache so the first timed query does
    // not absorb session start cost, and touch EVERY table once — the
    // alphabetically-first queries otherwise pay each table's cold read.
    warmTables(spark, sfDir)
    spark.range(100).groupBy((org.apache.spark.sql.functions.col("id") % 5)
      .as("k")).count().count()
    // First use of broadcast exchange, window exec, and the parquet write
    // committer each pays one-time init — take it out of the first
    // queries that happen to use them.
    locally {
      import org.apache.spark.sql.functions._
      val warm = spark.range(100)
        .select(col("id"), pmod(col("id"), lit(5)).as("k"))
      warm.join(broadcast(spark.range(5).toDF("k")), "k")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
        .groupBy("k").agg(count(lit(1))).count()
      warm.write.mode("overwrite").parquet("target/tmp/bench_warm")
    }
    // BASELINE.md's DuckDB numbers are per-query medians (of 3 runs);
    // time each query as a median too so the comparison is like-for-like
    // (a single cold run would also charge Spark's one-time codegen
    // compile to the query, which the baseline's medians exclude).
    // Medians of different odd sample counts stay comparable — Spark
    // uses 5 for the spread telemetry below.
    // One UNTIMED warm-up run per query first (declared as "warmup" in
    // the output JSON): standard JVM practice (JMH) — the first
    // execution of a query JIT-compiles its generated code and Spark
    // internals, a one-time compile cost that pollutes even the median
    // of 3 when run 1 is several times slower; DuckDB (AOT native) has
    // no analogous first-run compile tax, so warming the JIT is what
    // makes the median measure the same thing on both engines.
    // 5 timed runs by default (was 3): round-7 vs round-6 ran the
    // IDENTICAL binary and still swung individual queries 2-4× between
    // driver runs — single-run (and thin-median) numbers cannot support
    // per-query perf verdicts on this shared machine. min/median/max
    // over 5 runs goes into the output so a verdict can cite the spread.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt)
    val warmups = math.max(0, sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "1").toInt)
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (dev iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    // INTERLEAVED protocol: the samples for one query are spread across
    // N full round-robin passes over the whole suite, NOT taken
    // back-to-back. Round 8 showed why back-to-back sampling is unsound
    // on a shared machine: a several-minute ambient-contention window
    // poisoned one contiguous alphabetical block of queries INCLUDING
    // all five of their samples (agg_collect_sorted — a 25-row broadcast
    // join — recorded min 1.27 s, physically impossible as steady
    // state), while untouched neighbors stayed at their historical
    // 0.2 s. With round-robin passes the same window would dilute into
    // one elevated sample of many different queries, and each query's
    // median across passes shakes it off. A whole pass takes minutes, so
    // consecutive samples of one query are also minutes apart — medians
    // now sample the environment at suite scale, not block scale.
    // A query that throws still gets a (meaningless) time sample so the
    // pass structure stays intact, but the failure is RECORDED — the
    // bench total must never silently exclude broken queries (round-9
    // verdict: runOnce swallowed Throwables, so a broken query would
    // have benched as ~0 s with no trace).
    val errors = collection.mutable.LinkedHashMap[String, String]()
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // full recompute every run: queries that persist() intermediates
      // must not serve pass 2+ from the cache manager
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replace('\n', ' ').take(300)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Warm-up = whole untimed passes (JIT the generated code of every
    // query before ANY timed sample exists, same intent as before).
    (0 until warmups).foreach { _ => suite.foreach { case (name, fn) => runOnce(name, fn) } }
    // Warm-up failures must not leak into the timed verdict: a key that
    // failed ONLY during warm-up (transient tmp-dir state) would
    // otherwise be reported in failed/failed_keys even with 5 clean
    // timed samples. Keep them as a separate telemetry field instead.
    val warmupErrors = errors.toMap
    errors.clear()
    val samples = collection.mutable.LinkedHashMap[String, Vector[Double]](
      suite.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    (0 until runs).foreach { _ =>
      suite.foreach { case (name, fn) => samples(name) = samples(name) :+ runOnce(name, fn) }
    }
    val results = suite.map { case (name, _) => name -> samples(name).sorted }
    def r(v: Double): Double = math.rint(v * 1000) / 1000
    def med(ts: Seq[Double]): Double = ts(ts.size / 2)
    // "queries" stays name→median (the driver's parse contract); the
    // spread map carries [min, median, max] alongside it.
    def toJson(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) => s"\"" + k + "\":" + r(med(ts)) }
        .mkString("{", ",", "}")
    def toSpreadJson(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) =>
        "\"" + k + "\":[" + r(ts.head) + "," + r(med(ts)) + "," + r(ts.last) + "]"
      }.mkString("{", ",", "}")
    // Failed keys are EXCLUDED from the total: a key that throws records
    // near-zero "samples" (the time to raise), which would bias the
    // headline low exactly when the suite is broken. The failure itself
    // stays loud via failed/failed_keys/errors — the total just refuses
    // to count garbage samples as speed.
    val okResults = results.filter(kv => !errors.contains(kv._1))
    val total = r(okResults.map(kv => med(kv._2)).sum)
    // Full per-query map (100+ entries, several KB) goes to a file; the
    // stdout contract line carries only the BASELINE.md headline queries,
    // keeping it a few hundred bytes so the driver's tail capture can never
    // clip the line head (r1/r2 both lost the full-map line to truncation
    // and recorded parsed=null).
    val headline = okResults.filter(kv => headlineKeys.contains(kv._1))
    val errJson = errors
      .map { case (k, v) => s"${jsonQuote(k)}:${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    val headlineTotal = r(headline.map(kv => med(kv._2)).sum)
    // Same-boot DuckDB calibration (round-10 verdict item 1): BASELINE.md
    // was recorded on a boot this shared machine no longer resembles
    // (PERF.md measured 1.9-2.1x ambient drift), so the acceptance ratio
    // is only meaningful against DuckDB re-run NOW, on the same files.
    // The SQL is taken from SparkEntry.oracleSql for the headline keys —
    // single-sourced, so the calibrated pair always runs the same query
    // text the correctness gate checks. Failure of the helper (no
    // python3/duckdb outside the driver machine) degrades to null, never
    // breaks the bench.
    val calibration =
      calibrate(sfDir, "target/calib_sql.json", headlineTotal, timeoutS = 180)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"warmup":$warmups,"stat":"median","protocol":"interleaved","failed":${errors.size},"warmup_failed":${warmupErrors.size},"errors":$errJson,"calibration":$calibration,"queries":${toJson(results)},"spread":${toSpreadJson(results)},"sf":"$sfDir"}"""
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/bench.json"), fullJson)
    } catch { case _: Throwable => () }
    // stdout line stays a few hundred bytes (headline spread only); the
    // full per-key spread map (every suite query) lives in
    // target/bench.json.
    // stdout carries the failed-key COUNT and names (bounded); the full
    // error messages live in target/bench.json's errors map.
    val failedKeys = errors.keys.toSeq.sorted.take(20).map(jsonQuote)
      .mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"warmup":$warmups,"stat":"median","protocol":"interleaved","n_queries":${results.size},"failed":${errors.size},"failed_keys":$failedKeys,"queries":${toJson(headline)},"spread":${toSpreadJson(headline)},"headline_total":$headlineTotal,"calibration":$calibration,"full":"target/bench.json","sf":"$sfDir"}"""
    println(json)
    spark.stop()
  }
}
