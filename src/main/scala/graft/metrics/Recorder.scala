package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** graft's one SparkListener: what the Spark jobs, stages and tasks of one
  * [[Recorder.observe]]d body did, and what failed under it. Per job it
  * keeps the start event (its properties hold the job group and
  * `spark.job.description`), per stage the submitted and the completed
  * `StageInfo` and one sample per finished task, and it counts failed
  * tasks and removed executors.
  */
final class Recorder private () extends SparkListener {
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]
  private val submitted = new ConcurrentLinkedQueue[StageInfo]
  private val completed = new ConcurrentLinkedQueue[StageInfo]
  private val tasks = new ConcurrentLinkedQueue[Recorder.Task]
  private val failed = new AtomicLong
  private val lost = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit = jobStarts.add(j): Unit
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    submitted.add(s.stageInfo): Unit
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    completed.add(s.stageInfo): Unit
  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    lost.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != org.apache.spark.Success) failed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) tasks.add(Recorder.Task(e.stageId, e.taskInfo.duration,
      m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)): Unit
  }

  def jobs: Seq[SparkListenerJobStart] = jobStarts.asScala.toSeq
  /** `spark.job.description` of every job that carried one. */
  def jobDescriptions: Seq[String] =
    jobs.flatMap(j => Option(j.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))))
  /** Task count of every submitted stage, in submission order. */
  def stageTasks: Seq[Int] = submitted.asScala.toSeq.map(_.numTasks)
  /** Input records of every completed stage, in completion order (a
    * stage over a cached relation reads a handful of cached batches).
    */
  def stageRecordsRead: Seq[Long] = completed.asScala.toSeq
    .flatMap(s => Option(s.taskMetrics)).map(_.inputMetrics.recordsRead)
  def shuffleRecordsWritten: Long = completed.asScala.toSeq
    .flatMap(s => Option(s.taskMetrics))
    .map(_.shuffleWriteMetrics.recordsWritten).sum
  def failedTasks: Long = failed.get
  def executorsLost: Long = lost.get

  /** One JSON object per stage that finished a task, by stage id: task
    * count, records and shuffle bytes summed over its tasks, and the skew
    * ratio (max task time / median task time), the signal that the route
    * stage's salted repartition defeats source skew.
    */
  def stagesJson: String = tasks.asScala.toSeq.groupBy(_.stage).toSeq.sortBy(_._1)
    .map { case (id, ts) =>
      val durs = ts.map(_.ms).sorted
      val (max, median) = (durs.last, durs(durs.size / 2))
      val skew = if (median <= 0) 1.0 else max.toDouble / median
      s"""{"stage":$id,"tasks":${ts.size},"records_read":${ts.map(_.read).sum},"records_written":${ts.map(_.written).sum},"shuffle_read_bytes":${ts.map(_.shuffleRead).sum},"shuffle_write_bytes":${ts.map(_.shuffleWrite).sum},"max_task_ms":$max,"median_task_ms":$median,"skew_ratio":${f"$skew%.2f"}}"""
    }.mkString("[", ",", "]")
}

object Recorder {
  /** One finished task's metrics: duration (ms), records, shuffle bytes. */
  private final case class Task(stage: Int, ms: Long, read: Long, written: Long,
      shuffleRead: Long, shuffleWrite: Long)

  /** Runs `body` with a fresh [[Recorder]] on `sc`'s listener bus and
    * returns its outcome with what it recorded, counts included when it
    * throws. Before the recorder comes off, the async bus is drained (at
    * most 10 s), so every event the body posted has been delivered, with
    * no fixed sleep.
    */
  def observe[A](sc: SparkContext)(body: => A): (Try[A], Recorder) = {
    val r = new Recorder
    sc.addSparkListener(r)
    val a = try Try(body) finally {
      try Bridge.waitListenerBusEmpty(sc, 10000L)
      finally sc.removeSparkListener(r)
    }
    (a, r)
  }
}
