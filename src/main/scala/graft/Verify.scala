package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle map as the exact JSON the driver reads — shared with the
    * type-audit spec so what's audited is what ships. */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
    .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // a STALE forensics dump from a round that wrote it inside outDir
    // would still surface as a phantom key in the driver's enumeration
    // (it globs outDir/*) — the dump now lives in a sibling dir, and
    // any leftover is removed before the fresh dump
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).delete(
      new org.apache.hadoop.fs.Path(s"$outDir/_forensics"), true)
    // SPARK_GRAFT_ONLY=k1,k2 restricts the dump (dev iteration aid; the
    // driver sets nothing and gets the full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A failed key used to leave NO trace in the output dir, so the
    // driver's correctness file OMITTED it instead of recording a failure
    // (round 9: 55 keys vanished without a single red row). Collect every
    // failure and write verify_errors.json alongside oracle_sql.json so
    // mass breakage is visible as failures, not absence.
    val errors = collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .take(500)
      }
    }
    // Bloom-probe forensics: when either point-probe key ran, dump the
    // decoded sidecars + per-probe hit-file lists under _forensics/ so
    // a driver-side red carries its evidence. Best-effort — a forensics
    // failure must never break the correctness dump.
    try {
      val ran = Seq("table_bloom_multicol", "table_dsv2_write_indexed")
        .filter(k => only.forall(_.contains(k)) && !errors.contains(k))
      if (ran.nonEmpty)
        ops.BloomForensics.dump(spark, sfDir, outDir, ran.toSet)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] bloom forensics failed: ${e.getMessage}")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    val errJson = errors
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} key(s) FAILED: " +
        errors.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
