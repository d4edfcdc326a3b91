package graft

import graft.sources.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The commit index step: per-file stats read from the written files'
  * parquet footers must equal the scan's (`computeStats`) byte for byte
  * wherever the footer path applies, and the scan must still run where
  * it does not; the one-pass Bloom build must write exactly the sidecar
  * an independent driver-side oracle computes with `bloomPositions`. */
class CommitIndexSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"target/tmp/cidx_$tag"
    GraftTable.fsOf(spark, dir).delete(new Path(dir), true)
    dir
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame whose partitions ARE the given row groups, in order — so
    * each group becomes exactly one written file (an empty first group
    * still writes its zero-row file). */
  private def filesOf(schema: StructType, groups: Seq[Row]*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(groups, groups.size).flatMap(identity),
      schema)

  /** Stats-scan queries (`computeStats`' grouped pass) run by `body`. */
  private def statsScans(body: => Unit): Int =
    JobRecorder.record(spark)(body)._2.count(_.contains("__rows"))

  private val typed = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DateType), StructField("t", TimestampType)))
  private val typedEnc = Seq("b" -> "id", "s" -> "id", "i" -> "id",
    "l" -> "id", "d" -> "days", "t" -> "us")

  private def typedRow(n: Long): Row =
    if (n % 7 == 3) Row(null, null, null, null, null, null)
    else Row((n % 120 - 60).toByte, (n * 31 % 30000 - 15000).toShort,
      (n * 7919 % 2000000 - 1000000).toInt,
      if (n == 5) Long.MinValue + 1 else n * 1000003L - 40000000L,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n * 3 - 9000)),
      java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(n * 86399L - 100000000L, n * 1000L)))

  /** zero-row file, all-null file, a multi-row-group file, a small one */
  private def writeTyped(path: String): Unit =
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
        "parquet.block.size" -> "2048") {
      filesOf(typed, Nil,
        Seq.fill(5)(Row(null, null, null, null, null, null)),
        (0L until 3000L).map(typedRow), (3000L until 3010L).map(typedRow))
        .write.parquet(path)
    }

  test("footer stats equal the scan's on every id/days/us width, nulls, " +
      "empty and multi-row-group files") {
    val p = freshDir("typed")
    writeTyped(p)
    val files = GraftTable.writtenFiles(spark, p)
    assert(files.size == 4)
    assert(files.map(_.rows).sorted == Seq(0L, 5L, 10L, 3000L))
    assert(files.exists(_.footer.getBlocks.size >= 2),
      "the fixture must hold a multi-row-group file")
    val footer = GraftTable.footerStats(files, typed, typedEnc)
    val scan = GraftTable.computeStats(spark, p, typed,
      GraftTable.StatsEnc.validateAndMerge(spark, Nil, typedEnc))
    assert(footer.map(_.encoded) == Some(scan.encoded))
    // the all-null and zero-row files carry the empty-range sentinel
    assert(scan.files.count(f => f.mins.forall(_ == Long.MaxValue)) == 2)
  }

  test("footer stats equal the scan's on a partitionBy layout with " +
      "space, + and % in its values") {
    val p = freshDir("parts")
    val rows = (0L until 60L).map(n =>
      Row(if (n % 9 == 0) null else n * 17 - 400, Seq("a b", "c+d", "e%f")((n % 3).toInt)))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType)))
    filesOf(schema, rows.take(30), rows.drop(30))
      .write.partitionBy("p").parquet(p)
    val files = GraftTable.writtenFiles(spark, p)
    assert(files.size == 6)
    val footer = GraftTable.footerStats(files, schema, Seq("k" -> "id"))
    val scan = GraftTable.computeStats(spark, p, schema,
      Seq("k" -> GraftTable.StatsEnc.ordinal("id")))
    assert(footer.map(_.encoded) == Some(scan.encoded))
    assert(scan.files.map(_.file.takeWhile(_ != '/')).toSet ==
      Set("p=a b", "p=c+d", "p=e%25f"))
    // a partition column has no footer stats: the scan serves it
    assert(GraftTable.footerStats(files, schema, Seq("p" -> "id")).isEmpty)
  }

  test("commitNextIsolated takes the footer path: stats line equals the " +
      "scan's and no stats scan runs") {
    val dir = freshDir("door")
    val df = filesOf(typed, Nil, (0L until 50L).map(typedRow),
      Seq.fill(3)(Row(null, null, null, null, null, null)))
    val n = statsScans(withConf(
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      GraftTable.commitNextIsolated(spark, dir, df, "typed",
        statsEnc = typedEnc)
    })
    assert(n == 0, s"$n stats scans on a footer-exact commit")
    val fs = GraftTable.fsOf(spark, dir)
    val dataDir = GraftTable.headersOf(fs, dir, 0)("data")
    assert(GraftTable.statsOf(fs, dir, 0).map(_.encoded) ==
      Some(GraftTable.computeStats(spark, s"$dir/$dataDir", typed,
        GraftTable.StatsEnc.validateAndMerge(spark, Nil, typedEnc)).encoded))
  }

  test("the scan fallback serves INT96 timestamps, a date under us, a " +
      "decimal under id and lambda statsCols, with equal output") {
    val schema = StructType(Seq(StructField("t", TimestampType),
      StructField("d", DateType), StructField("m", DecimalType(9, 2)),
      StructField("l", LongType)))
    val rows = (0L until 40L).map(n => Row(
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(n * 3600L)),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n * 11)),
      java.math.BigDecimal.valueOf(n * 1234 - 20000, 2),
      if (n % 5 == 0) null else n * n))
    val df = filesOf(schema, rows.take(25), rows.drop(25))
    val lambda: Column => Column = c => c * 2
    val cases: Seq[(String, GraftTable.StatsCols, Seq[(String, String)])] = Seq(
      ("int96", Nil, Seq("t" -> "us")),
      ("dateus", Nil, Seq("d" -> "us")),
      ("decid", Nil, Seq("m" -> "id")),
      ("lambda", Seq("l" -> lambda), Nil),
      ("mixed", Seq("l" -> lambda), Seq("d" -> "days")))
    cases.foreach { case (tag, lambdas, enc) =>
      val dir = freshDir(s"fb_$tag")
      // INT96 is Spark's default timestamp output type; pinned here so
      // a session-wide setting cannot turn the case into a footer one
      val n = statsScans(withConf(
          "spark.sql.parquet.outputTimestampType" -> "INT96") {
        GraftTable.commitNextIsolated(spark, dir, df, tag,
          statsCols = lambdas, statsEnc = enc)
      })
      assert(n == 1, s"$tag: expected the scan fallback, saw $n stats scans")
      val fs = GraftTable.fsOf(spark, dir)
      val data = s"$dir/${GraftTable.headersOf(fs, dir, 0)("data")}"
      val eff = GraftTable.StatsEnc.validateAndMerge(spark, lambdas, enc)
      assert(GraftTable.statsOf(fs, dir, 0).map(_.encoded) ==
        Some(GraftTable.computeStats(spark, data, schema, eff).encoded), tag)
      if (lambdas.isEmpty)
        assert(GraftTable.footerStats(GraftTable.writtenFiles(spark, data),
          schema, enc).isEmpty, tag)
    }
  }

  // ---- Bloom sidecar oracle ------------------------------------------------

  /** The sidecar a commit's bloom= header vouches for, built on the
    * driver from collected rows: m from the largest file's row count,
    * bits from `bloomPositions`, one section per column, files in name
    * order (every fixture name is ASCII). */
  private def oracleSidecar(dataPath: String, schema: StructType,
      cols: Seq[String], k: Int = 4): String = {
    val prefix = s"/${new Path(dataPath).getName}/"
    def rel(u: String): String = u.substring(u.indexOf(prefix) + prefix.length)
    val df = spark.read.schema(schema).parquet(dataPath)
    val names = df.inputFiles.toSeq.map(rel).sorted
    val rows = df.select(input_file_name() +: cols.map(col): _*).collect()
      .toSeq.map(r => (rel(r.getString(0)), r))
    val perFile = rows.groupBy(_._1)
    val maxRows = math.max(1L, names.map(f =>
      perFile.get(f).map(_.size.toLong).getOrElse(0L)).max)
    val m = math.min(1L << 24,
      math.max(1024L, ((maxRows * 12 + 63) / 64) * 64)).toInt
    cols.zipWithIndex.map { case (c, ci) =>
      s"$c|$m|$k\n" + names.map { f =>
        val bits = new Array[Long](m / 64)
        perFile.getOrElse(f, Nil).foreach { case (_, r) =>
          if (!r.isNullAt(ci + 1))
            GraftTable.bloomPositions(r.get(ci + 1), m, k)
              .foreach(p => bits(p >> 6) |= 1L << (p & 63))
        }
        s"${java.net.URLEncoder.encode(f, "UTF-8")}|" +
          bits.map(l => f"$l%016x").mkString
      }.mkString("\n")
    }.mkString("\n") + "\n"
  }

  private def sidecarOf(dir: String, v: Int): (String, String) = {
    val fs = GraftTable.fsOf(spark, dir)
    val data = s"$dir/${GraftTable.headersOf(fs, dir, v)("data").split(",").last}"
    val in = fs.open(new Path(s"$data/_bloom"))
    try (data, scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  private val keyed = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType)))
  private def keyedRow(n: Long): Row =
    Row(if (n % 11 == 0) null else n * 7 - 300,
      if (n % 13 == 0) null else s"cust-${n % 97}")

  test("bloom: two-section sidecar with all-null and zero-row files " +
      "equals the driver-side oracle") {
    val dir = freshDir("bloom2")
    val df = filesOf(keyed, Nil, Seq.fill(4)(Row(null, null)),
      (0L until 500L).map(keyedRow), (500L until 520L).map(keyedRow))
    GraftTable.commitNextIsolated(spark, dir, df, "two keys",
      bloomCols = Seq("id", "name"))
    val (data, got) = sidecarOf(dir, 0)
    assert(got == oracleSidecar(data, keyed, Seq("id", "name")))
    assert(GraftTable.headersOf(GraftTable.fsOf(spark, dir), dir, 0)("bloom") ==
      "id|6016|4;name|6016|4")
    // every file has its line, the empty ones all-zero
    val lines = got.split("\n").filter(_.contains('|')).filter(_.split('|').length == 2)
    assert(lines.length == 8 && lines.count(_.split('|')(1).forall(_ == '0')) == 4)
  }

  test("bloom: sidecars of different m built in one session both equal " +
      "the oracle") {
    // the probe projection leaves m out, so the second build reuses the
    // first one's generated class: the modulus must still be its own
    val small = freshDir("bloom_m1")
    GraftTable.commitNextIsolated(spark, small,
      filesOf(keyed, (0L until 300L).map(keyedRow)), "small",
      bloomCols = Seq("id", "name"))
    val large = freshDir("bloom_m2")
    GraftTable.commitNextIsolated(spark, large,
      filesOf(keyed, (0L until 3000L).map(keyedRow), (3000L until 3100L)
        .map(keyedRow)), "large", bloomCols = Seq("id", "name"))
    val fs = GraftTable.fsOf(spark, small)
    assert(GraftTable.headersOf(fs, small, 0)("bloom") ==
      "id|3648|4;name|3648|4")
    assert(GraftTable.headersOf(fs, large, 0)("bloom") ==
      "id|36032|4;name|36032|4")
    Seq(small, large).foreach { dir =>
      val (data, got) = sidecarOf(dir, 0)
      assert(got == oracleSidecar(data, keyed, Seq("id", "name")), dir)
    }
  }

  test("bloom: a file split across several read tasks merges its " +
      "partial arrays to the oracle's bits") {
    val dir = freshDir("bloomsplit")
    val rows = (0L until 6000L).map(n => Row(n * 2654435761L % 1000003L,
      s"v${n * 31 % 5003}"))
    val df = filesOf(keyed, rows.take(5000), rows.drop(5000))
    val jobs = withConf("parquet.block.size" -> "8192",
        "spark.sql.files.maxPartitionBytes" -> "16384",
        "spark.sql.files.openCostInBytes" -> "0") {
      JobRecorder.record(spark)(GraftTable.commitNextIsolated(spark, dir, df,
        "split", bloomCols = Seq("id", "name")))._1
    }
    val (data, got) = sidecarOf(dir, 0)
    val big = GraftTable.writtenFiles(spark, data).maxBy(_.rows)
    assert(big.footer.getBlocks.size >= 3, "the big file needs row groups")
    // the bloom job's map stage read more splits than there are files
    assert(jobs.exists(_.tasks > 3), jobs.toString)
    assert(got == oracleSidecar(data, keyed, Seq("id", "name")))
  }

  test("bloom: partitionBy layout and an append chain dir match the " +
      "oracle; a torn sidecar is refused by the audit") {
    val dir = freshDir("bloomparts")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", StringType)))
    val rows = (0L until 90L).map(n =>
      Row(n * 13, Seq("a b", "c+d", "e%f")((n % 3).toInt)))
    GraftTable.commitNextIsolated(spark, dir, filesOf(schema, rows),
      "parts", partitionBy = Seq("p"), bloomCols = Seq("id"))
    val (pdata, pgot) = sidecarOf(dir, 0)
    assert(pgot == oracleSidecar(pdata, StructType(schema.take(1)), Seq("id")))
    assert(pgot.contains("p%3Da%2520b%2F"), pgot.take(300))

    val adir = freshDir("bloomappend")
    GraftTable.commitNextIsolated(spark, adir,
      filesOf(keyed, (0L until 40L).map(keyedRow)), "base",
      bloomCols = Seq("id", "name"))
    GraftTable.commitAppend(spark, adir,
      filesOf(keyed, (40L until 90L).map(keyedRow), Nil), "append",
      bloomCols = Seq("id", "name"))
    val (adata, agot) = sidecarOf(adir, 1)
    assert(agot == oracleSidecar(adata, keyed, Seq("id", "name")))

    // a missing file line would read as "provably absent": refused
    val fs = GraftTable.fsOf(spark, adir)
    val sidecar = new Path(s"$adata/_bloom")
    val files = GraftTable.writtenFiles(spark, adata).map(_.uri).toSet
    val Array(_, m, k) = agot.linesIterator.next().split('|')
    GraftTable.auditBloomSidecar(fs, sidecar, Seq("id", "name"),
      m.toInt, k.toInt, files)
    val out = fs.create(sidecar, true)
    try out.write(agot.linesIterator.toSeq.dropRight(1).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val e = intercept[IllegalArgumentException] {
      GraftTable.auditBloomSidecar(fs, sidecar, Seq("id", "name"),
        m.toInt, k.toInt, files)
    }
    assert(e.getMessage.contains("covers"))
  }
}
