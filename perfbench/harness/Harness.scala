package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.sources.GraftTable

/** JVM side of the benchmark: one SparkSession, one client, a closed loop.
  *
  * `Harness <job file>` reads `key=value` lines written by `run.py`, runs
  * the set-up, the untimed warm pass and the timed loop of one workload,
  * and writes tab-separated records to the job's `out` file. Records are
  * kept in memory and written once at the end. With `trace=1` it also
  * records spans (op, build, action, planning phases, jobs, stages) and
  * task counters through Spark's public listener interfaces. All times are
  * epoch microseconds. Output checks are made by `run.py` afterwards. */
object Harness {
  private val clock0 = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = clock0 + System.nanoTime() / 1000L

  private val records = ArrayBuffer.empty[String]
  def emit(fields: Any*): Unit = records.synchronized {
    records += fields.map(f => String.valueOf(f).replace('\t', ' ')
      .replace('\n', ' ')).mkString("\t")
  }

  val OpProp = "perfbench.op"

  def main(args: Array[String]): Unit = {
    val job = scala.io.Source.fromFile(args(0)).getLines()
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toVector
    def one(k: String): String = job.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"job file lacks $k"))
    def all(k: String): Vector[String] = job.collect { case (`k`, v) => v }
    val work = one("work")
    val trace = one("trace") == "1"
    val cpus = one("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.catalog.gc", "graft.sources.GraftCatalog")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    emit("mark", "session", nowUs())
    if (trace) {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val run = new Runner(spark, work, trace, one("seconds").toDouble)
    try {
      one("workload") match {
        case "lake_cycle" => run.lake(one("inputs"), all("op"), one("warm_cycles").toInt)
        case _ => run.olap(one("inputs"), one("keys").split(",").toSeq,
          all("pass").map(_.split(",").toSeq))
      }
    } finally {
      // stopping drains the listener bus, so the traced records are whole
      spark.stop()
      jvmTotals()
      val pw = new java.io.PrintWriter(one("out"), "UTF-8")
      try records.foreach(pw.println) finally pw.close()
    }
  }

  private def jvmTotals(): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    emit("jvm", gcMs, jitMs, heapPeak)
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .take(300)

  /** Job, stage and task records, and the planning phases of every query
    * execution. Phases are attributed to ops by time in `run.py`; jobs
    * carry the op id through a local property. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def opOf(stage: Int): String = stageOp.getOrDefault(stage, "-")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .getOrElse("-")
      e.stageIds.foreach(s => stageOp.put(s, op))
      emit("job", op, e.jobId, "start", e.time * 1000L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("job", "-", e.jobId, "end", e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      emit("stage", opOf(s.stageId), s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L) * 1000L,
        s.completionTime.getOrElse(0L) * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val failed = if (e.reason == org.apache.spark.Success) 0 else 1
      val m = e.taskMetrics
      if (m == null) emit("task", opOf(e.stageId), failed, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else emit("task", opOf(e.stageId), failed, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        emit("phase", name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
  }
}

final class Runner(spark: SparkSession, work: String, trace: Boolean,
    seconds: Double) {
  import Harness.{emit, nowUs}

  private var seq = 0

  /** Times one op; `body` returns a result digest for the output check. */
  private def op(kind: String, name: String)(body: => String): Unit = {
    seq += 1
    if (trace) spark.sparkContext.setLocalProperty(Harness.OpProp, seq.toString)
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = nowUs()
    val (ok, info) =
      try (1, body) catch { case e: Throwable => (0, Harness.message(e)) }
    val t1 = nowUs()
    emit("op", seq, kind, name, t0, t1, ok, info)
    if (trace) {
      emit("codegen", seq, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
      spark.sparkContext.setLocalProperty(Harness.OpProp, null)
    }
  }

  private def span[A](name: String)(f: => A): A = {
    val t0 = nowUs()
    try f finally if (trace) emit("span", seq, name, t0, nowUs())
  }

  /** Runs whole rounds until `seconds` have passed (at least one). */
  private def timedLoop(rounds: Seq[() => Unit]): Unit = {
    val t0 = nowUs()
    var i = 0
    while (i == 0 || (nowUs() - t0) < seconds * 1e6) {
      rounds(i % rounds.size)()
      i += 1
    }
    emit("timed", t0, nowUs(), i)
  }

  // ---- olap_sf01 ----------------------------------------------------------

  def olap(dir: String, warmKeys: Seq[String], passes: Seq[Seq[String]]): Unit = {
    val queries = SparkEntry.queries
    // the untimed warm pass below touches every input; the timed ops also
    // write through the noop sink, whose first use pays its own set-up
    spark.range(1).write.format("noop").mode("overwrite").save()
    // untimed warm pass; its result dumps are the output check
    warmKeys.foreach { k =>
      spark.catalog.clearCache()
      val t0 = nowUs()
      try {
        queries(k)(spark, dir).write.mode("overwrite")
          .parquet(s"$work/dump/$k")
        emit("warm", k, 1, "", t0, nowUs())
      } catch { case e: Throwable => emit("warm", k, 0, Harness.message(e), t0, nowUs()) }
    }
    def read(k: String): Unit = {
      spark.catalog.clearCache()
      val df = span("build")(queries(k)(spark, dir))
      span("action")(df.write.format("noop").mode("overwrite").save())
    }
    // untimed passes as timed: after the first run of each key the JIT
    // keeps speeding passes up for several more
    for (_ <- 1 to 4) warmKeys.foreach(k => try read(k) catch { case _: Throwable => () })
    emit("setup", nowUs())
    timedLoop(passes.map { keys => () =>
      keys.foreach(k => op("read", k) { read(k); "" })
    })
  }

  // ---- lake_cycle --------------------------------------------------------

  private val idxEnc = Seq("key" -> "id")
  private def tdir(t: String): String = s"$work/lake/$t"
  private def ident(t: String): String = s"gc.`${tdir(t)}`"
  private val Cols = "key, cust, amt, day"

  /** Order-free digest of (key, cust, amt, day) rows: "count:sum of a
    * per-row hash". The same arithmetic is in lake.py. */
  private def digest(df: DataFrame): String = {
    val rows = df.selectExpr(Cols.split(", ").toIndexedSeq: _*).collect()
    var sum = 0L
    rows.foreach { r =>
      sum += Digest.row(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
    }
    s"${rows.length}:$sum"
  }

  private def version(t: String): Int = {
    val fs = GraftTable.fsOf(spark, tdir(t))
    GraftTable.currentVersion(fs, tdir(t)).get
  }

  private def lakeOp(inputs: String, t: String, name: String,
      a: Seq[String]): String = {
    val d = tdir(t)
    def sql(q: String): Unit = span("action")(spark.sql(q))
    def read(q: => DataFrame): String = {
      val df = span("build")(q)
      span("action")(digest(df))
    }
    name match {
      case "base" =>
        val df = spark.read.parquet(s"$inputs/${a(0)}")
          .repartitionByRange(8, col("key"))
        if (t.endsWith("idx")) GraftTable.commitNextIsolated(spark, d, df,
          "base", statsEnc = idxEnc, bloomCol = Some("cust"))
        else GraftTable.commitNextIsolated(spark, d, df, "base")
        s"v${version(t)}"
      case "append" =>
        val df = span("build")(spark.read.parquet(s"$inputs/${a(0)}"))
        span("action") {
          if (t.endsWith("idx")) GraftTable.commitAppend(spark, d, df, "append",
            statsEnc = idxEnc, bloomCol = Some("cust"))
          else GraftTable.commitAppend(spark, d, df, "append")
        }
        s"v${version(t)}"
      case "merge" =>
        span("build")(spark.read.parquet(s"$inputs/${a(0)}")
          .createOrReplaceTempView("merge_src"))
        sql(s"MERGE INTO ${ident(t)} t USING merge_src s ON t.key = s.key " +
          "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET cust = s.cust, amt = s.amt, day = s.day " +
          "WHEN NOT MATCHED THEN INSERT (key, cust, amt, day) " +
          "VALUES (s.key, s.cust, s.amt, s.day)")
        s"v${version(t)}"
      case "update" =>
        sql(s"UPDATE ${ident(t)} SET amt = amt + 7 WHERE key % ${a(0)} = ${a(1)}")
        s"v${version(t)}"
      case "delete" =>
        sql(s"DELETE FROM ${ident(t)} WHERE key % ${a(0)} = ${a(1)}")
        s"v${version(t)}"
      case "purge" =>
        span("action")(GraftTable.purgeDeleteVector(spark, d))
        s"v${version(t)}"
      case "maintain" =>
        // expire by version count: keep the last `a(0)` versions
        span("action") {
          val fs = GraftTable.fsOf(spark, d)
          val cur = version(t)
          val keep = a(0).toInt
          if (cur >= keep) GraftTable.expireVersions(fs, d, 0L,
            nowMs = GraftTable.commitTimeMs(fs, d, cur - keep))
          if (t.endsWith("idx")) GraftTable.maintain(spark, d, targetFiles = 8,
            statsEnc = idxEnc, bloomCol = Some("cust"),
            clusterBy = Seq("key" -> ((c: org.apache.spark.sql.Column) => c)),
            vacuumGraceMs = 0L)
          else GraftTable.maintain(spark, d, targetFiles = 8, vacuumGraceMs = 0L)
        }
        s"v${version(t)}"
      case "point" =>
        read(spark.sql(s"SELECT $Cols FROM ${ident(t)} WHERE key = ${a(0)}"))
      case "range" =>
        read(spark.sql(s"SELECT $Cols FROM ${ident(t)} " +
          s"WHERE key BETWEEN ${a(0)} AND ${a(1)}"))
      case "tt" =>
        val v = math.max(0, version(t) - a(2).toInt)
        s"v$v|" + read(GraftTable.readVersion(spark, d, v)
          .where(col("key").between(a(0).toLong, a(1).toLong)))
    }
  }

  /** Files a commit added (trace only): bytes and count of the parquet
    * files under the table that were not there before, and the number
    * of data dirs the new head reads. */
  private val filesBefore = collection.mutable.Map.empty[String, Set[(String, Long)]]
  private def commitRecord(t: String): Unit = if (trace) {
    val fs = GraftTable.fsOf(spark, tdir(t))
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(tdir(t)), true)
    val now = collection.mutable.Set.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) now += (f.getPath.toString -> f.getLen)
    }
    val added = now.toSet -- filesBefore.getOrElse(t, Set.empty)
    filesBefore(t) = now.toSet
    val v = version(t)
    emit("commitrec", seq, t, v, GraftTable.dataDirsOf(fs, tdir(t), v).size,
      added.toSeq.map(_._2).sum, added.size)
  }

  /** `ops` lines are "cycle|table|op|args…"; cycle 0 holds the base
    * commits. Cycles up to `warmCycles` run untimed as part of set-up;
    * the timed loop then runs whole cycles. Every result is recorded for
    * the row-model check. */
  def lake(inputs: String, ops: Seq[String], warmCycles: Int): Unit = {
    val cycles = ops.map { l =>
      val f = l.split("\\|")
      (f(0).toInt, f(1), f(2), f.drop(3).toSeq)
    }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    def kind(name: String) = name match {
      case "point" | "range" | "tt" => "read"
      case _ => "commit"
    }
    val (setup, timed) = cycles.splitAt(warmCycles + 1)
    setup.flatten.foreach { case (_, t, n, a) =>
      val t0 = nowUs()
      val (ok, r) = try (1, lakeOp(inputs, t, n, a)) catch {
        case e: Throwable => (0, Harness.message(e))
      }
      emit("setupop", t, n, ok, r, t0, nowUs())
    }
    Seq("idx", "mor").foreach(commitRecord)
    emit("setup", nowUs())
    var c = 0
    val t0 = nowUs()
    while (c < timed.size && (c == 0 || (nowUs() - t0) < seconds * 1e6)) {
      timed(c).foreach { case (_, t, n, a) =>
        op(kind(n), s"$t.$n")(lakeOp(inputs, t, n, a))
        if (kind(n) == "commit") commitRecord(t)
      }
      c += 1
    }
    emit("timed", t0, nowUs(), c)
    // final snapshots: the row check and the plain-parquet size for space_amp
    Seq("idx", "mor").foreach { t =>
      val snap = GraftTable.read(spark, tdir(t))
      val plain = s"$work/lake_plain/$t"
      snap.write.mode("overwrite").parquet(plain)
      emit("final", t, digest(snap), version(t), Digest.bytes(spark, tdir(t)),
        Digest.bytes(spark, plain))
    }
  }
}

object Digest {
  private val M = 2147483647L
  /** Per-row hash, summed over rows; the same arithmetic is in lake.py. */
  def row(key: Long, cust: Long, amt: Long, day: Int): Long =
    ((key % M) * 1000003L % M + cust * 10007L + amt * 101L + day) % M

  /** Bytes of every regular file under `dir`. */
  def bytes(spark: SparkSession, dir: String): Long = {
    val fs = GraftTable.fsOf(spark, dir)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }
}

/** Prints `SparkEntry.oracleSql` for the keys named in the arguments as
  * one JSON object, for the DuckDB side of the output check. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    def q(s: String): String = graft.Verify.jsonQuote(s)
    println(args.toSeq.flatMap(k => sql.get(k).map(v => s"${q(k)}:${q(v)}"))
      .mkString("{", ",", "}"))
  }
}
