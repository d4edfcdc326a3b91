package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Jobs and SQL executions one piece of driver code runs, recorded by a
  * `SparkListener`. The listener bus delivers events asynchronously but
  * in order, so the recorder drains it by running one marker job of its
  * own and waiting for that job's end event. */
object JobRecorder {
  final case class Job(id: Int, stages: Int, tasks: Int,
      rdds: Seq[String], inSql: Boolean) {
    /** The one-task footer-merge job `spark.read.parquet` runs to infer
      * a schema: a parallelized file list, outside any SQL execution. */
    def schemaInference: Boolean =
      !inSql && rdds.contains("ParallelCollectionRDD")
  }

  private val marker = "graft-job-recorder-drain"

  /** Runs `body`; returns its jobs and the physical plan description of
    * every SQL execution it started. */
  def record(spark: SparkSession)(body: => Unit): (Seq[Job], Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == marker)
          markerJob = e.jobId
        else jobs.add(Job(e.jobId, e.stageInfos.size,
          e.stageInfos.map(_.numTasks).sum,
          e.stageInfos.flatMap(_.rddInfos.map(_.name)),
          e.properties != null &&
            e.properties.getProperty("spark.sql.execution.id") != null))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "drain the listener bus")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (jobs.asScala.toSeq.sortBy(_.id), plans.asScala.toSeq)
  }
}
