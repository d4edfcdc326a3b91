package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution

/** Per-job decomposition of one suite key under the bench config — job
  * durations, inter-job gaps, task counts — plus a median wall over 5
  * warm runs, per-phase times, a hot-frame sample, and the final
  * adaptive plan the traced run executed. */
object QueryTrace {
  /** Frames a thread reports RUNNABLE in while it only waits for work —
    * selector polls, socket accepts, the reference handler, a park caught
    * mid-transition — and that would otherwise lead the hot-frame
    * histogram. */
  private val idleWaits = Set(
    "io.netty.channel.epoll.Native.epollWait0",
    "io.netty.channel.epoll.Native.epollWait",
    "io.netty.channel.epoll.Native.epollBusyWait0",
    "sun.nio.ch.EPoll.wait",
    "sun.nio.ch.Net.accept",
    "sun.nio.ch.Net.poll",
    "java.lang.ref.Reference.waitForReferencePendingList",
    "jdk.internal.misc.Unsafe.park")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val key = args.headOption.getOrElse("topk_orders")
    val spark = Bench.session()
    Bench.warmTables(spark, sfDir)
    // runs the plan `df.count()` runs, keeping its QueryExecution so the
    // final (post-AQE) form of what executed can be printed
    def run(): (Double, QueryExecution) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val counted = SparkEntry.queries(key)(spark, sfDir).groupBy().count()
      counted.collect()
      ((System.nanoTime() - t0) / 1e9, counted.queryExecution)
    }
    def once(): Double = run()._1
    def phases(): String = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan
      val t3 = System.nanoTime()
      val n = df.count()
      val t4 = System.nanoTime()
      f"build ${(t1 - t0) / 1e9}%.3f optimize ${(t2 - t1) / 1e9}%.3f " +
        f"physical ${(t3 - t2) / 1e9}%.3f count(rows=$n) ${(t4 - t3) / 1e9}%.3f"
    }
    (0 until 3).foreach(_ => once()) // warm codegen/JIT
    val walls = (0 until 5).map(_ => once()).sorted
    (0 until 3).foreach(_ => println("phases: " + phases()))
    // guide §7.3: sample every thread during one run; histogram the hot
    // frames of non-idle threads to see where the driver gap goes
    locally {
      val hot = collection.mutable.Map[String, Int]().withDefaultValue(0)
      @volatile var sampling = true
      val sampler = new Thread(() => {
        val self = Thread.currentThread()
        while (sampling) {
          Thread.getAllStackTraces.forEach { (t, st) =>
            if ((t ne self) && st.nonEmpty &&
                t.getState == Thread.State.RUNNABLE &&
                !idleWaits(st.head.getClassName + "." + st.head.getMethodName)) {
              val frame = st.find(f =>
                f.getClassName.startsWith("org.apache.spark") ||
                f.getClassName.startsWith("graft") ||
                f.getClassName.startsWith("org.codehaus") ||
                f.getClassName.startsWith("scala.collection"))
                .getOrElse(st.head)
              hot(frame.getClassName + "." + frame.getMethodName) += 1
            }
          }
          Thread.sleep(10)
        }
      })
      sampler.setDaemon(true); sampler.start()
      (0 until 5).foreach(_ => once())
      sampling = false; sampler.join(500)
      println("=== hot frames (5 runs, 10ms sampling) ===")
      hot.toSeq.sortBy(-_._2).take(25).foreach { case (f, n) =>
        println(f"$n%5d  $f") }
    }
    val jobs = collection.mutable.ArrayBuffer[(Int, Long, String)]()
    val ends = collection.mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += ((js.jobId, js.time,
          "stages=" + js.stageInfos.size +
          " tasks=" + js.stageInfos.map(_.numTasks).sum +
          " [" + js.stageInfos.map(_.name.take(50)).mkString(" | ") + "]")) }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ends.synchronized { ends(je.jobId) = je.time }
    }
    spark.sparkContext.addSparkListener(listener)
    val (tracedWall, tracedQe) = run()
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300)
    println(f"=== $key traced wall $tracedWall%.3f s; 5-run walls ${walls.map(w => f"$w%.3f").mkString(",")} ===")
    // jobs may overlap (broadcasts run beside the main job), so the
    // driver gap is the wall minus the UNION of the job intervals
    val byStart = jobs.toSeq.sortBy(_._2)
    val intervals = byStart.map { case (id, start, desc) =>
      val end = ends.getOrElse(id, start)
      println(f"job $id%4d start +${(start - byStart.head._2) / 1000.0}%6.3fs " +
        f"dur ${(end - start) / 1000.0}%6.3fs  $desc")
      (start, end)
    }
    val (busy, _) = intervals.foldLeft((0L, Long.MinValue)) {
      case ((tot, reach), (a, b)) =>
        (tot + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
    }
    if (intervals.nonEmpty)
      println(f"jobs cover ${busy / 1000.0}%6.3fs of $tracedWall%.3fs wall; " +
        f"driver gap ${tracedWall - busy / 1000.0}%6.3fs")
    println("=== final adaptive plan of the traced run ===")
    println(tracedQe.executedPlan.toString.take(12000))
    spark.stop()
  }
}
