package org.apache.spark.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the Spark jobs and SQL executions a block starts, for specs
  * that assert exact job counts. Lives under `org.apache.spark` for the
  * listener bus's drain call, so a count never misses a late event. */
object JobRecorder {

  /** One started job: the long call site of its final stage. */
  final case class Job(callSite: String) {
    /** The call site's first line: the outermost Spark method the user
      * code called, e.g. `DataFrameReader.parquet` for a
      * footer-inference job. */
    def entry: String = callSite.linesIterator.nextOption().getOrElse("")
    def isParquetRead: Boolean = entry.contains("DataFrameReader")
  }

  final case class Recording(jobs: Seq[Job], sqlPlans: Seq[String])

  def record(sc: SparkContext)(body: => Unit): Recording = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.add(Job(s.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(l)
    Recording(jobs.asScala.toSeq, plans.asScala.toSeq)
  }
}
