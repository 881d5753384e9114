package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scheduler events one [[observe]]d body caused. */
  final class SparkEvents {
    private[TestSpark] val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    private[TestSpark] val submitted = new ConcurrentLinkedQueue[StageInfo]
    private[TestSpark] val completed = new ConcurrentLinkedQueue[StageInfo]

    def jobs: Seq[SparkListenerJobStart] = jobStarts.asScala.toSeq
    /** `spark.job.description` of every job that carried one. */
    def jobDescriptions: Seq[String] =
      jobs.flatMap(j => Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))))
    /** Task count of every submitted stage, in submission order. */
    def stageTasks: Seq[Int] = submitted.asScala.toSeq.map(_.numTasks)
    /** Input records of every completed stage, in completion order. A
      * stage over a cached relation reads its cached batches, a handful of
      * records, where a stage over the store reads each row.
      */
    def stageRecordsRead: Seq[Long] = completed.asScala.toSeq
      .flatMap(s => Option(s.taskMetrics)).map(_.inputMetrics.recordsRead)
    def shuffleRecordsWritten: Long = completed.asScala.toSeq
      .flatMap(s => Option(s.taskMetrics))
      .map(_.shuffleWriteMetrics.recordsWritten).sum
  }

  /** Runs `body` under a job/stage listener. The listener bus is async, so
    * before the listener comes off it is drained with
    * `LiveListenerBus.waitUntilEmpty`: every event the body posted has then
    * been delivered, with no fixed sleep.
    */
  def observe[A](body: => A): (A, SparkEvents) = {
    val ev = new SparkEvents
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        ev.jobStarts.add(j): Unit
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        ev.submitted.add(s.stageInfo): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        ev.completed.add(s.stageInfo): Unit
    }
    spark.sparkContext.addSparkListener(l)
    val a = try body finally {
      try Bridge.waitListenerBusEmpty(spark.sparkContext, 10000L)
      finally spark.sparkContext.removeSparkListener(l)
    }
    (a, ev)
  }
}
