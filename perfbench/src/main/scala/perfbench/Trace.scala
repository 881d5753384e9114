package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Sample statistics shared by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Nearest-rank percentile (p in [0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  /** The tail: the highest nearest-rank percentile that still has at least
    * ten samples above it, never below the median. Returns
    * (value, percentile, sample count).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val s = xs.sorted
    val idx = math.max(n - 11, (n - 1) / 2)
    val pct = 100.0 * (idx + 1) / n
    (s(idx), pct, n)
  }
}

/** One timed call into a layer. `parent` is the index of the enclosing span
  * (-1 for a root), `req` the request it belongs to (a job, batch or pass).
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, req: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` just runs its body; enabled, it
  * records the call's start, end, parent and request id. Spans are written
  * out only when the benchmark ends.
  */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** The innermost open span of this thread, -1 if none. */
  def current: Int = open.get.headOption.getOrElse(-1)

  /** Record `body` as a span; `parent` defaults to this thread's open span
    * and is passed explicitly for calls handed to other threads.
    */
  def span[A](name: String, req: String, parent: Int = -2)(body: => A): A =
    if (!enabled) body
    else {
      val p = if (parent == -2) current else parent
      val idx = spans.synchronized { spans += Span(name, System.nanoTime(), 0L, p, req); spans.length - 1 }
      open.set(idx :: open.get)
      try body
      finally {
        open.set(open.get.tail)
        val end = System.nanoTime()
        spans.synchronized { spans(idx) = spans(idx).copy(endNs = end) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time per span: its duration minus the union of its children's
    * intervals (children of one span may overlap when calls run on several
    * threads).
    */
  def selfTimesMs: Seq[(Span, Double)] = {
    val ss = all
    val children = ss.indices.groupBy(i => ss(i).parent)
    ss.indices.map { i =>
      val s = ss(i)
      val kids = children.getOrElse(i, Nil).map(ss).map(k =>
        (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s, (s.endNs - s.startNs - covered) / 1e6)
    }
  }

  def toJson: String = {
    val sb = new StringBuilder("[")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"i":$i,"name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"req":"${Json.esc(s.req)}"}""")
    }
    sb.append("]").toString
  }
}

/** Spark counters per job group, from a listener the benchmark owns.
  * Searches run under the product's `graft-job-<id>` groups; every other call
  * runs under a group the benchmark sets around it.
  */
final class GroupCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsRead = 0L
    var outputBytes = 0L
    val stageSkew = mutable.ArrayBuffer.empty[Double]
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("(none)")
    acc(g).synchronized(acc(g).jobs += 1)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(stageGroup.getOrDefault(e.stageId, "(none)"))
    a.synchronized {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
    stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      .synchronized(stageTaskMs.get(e.stageId) += m.executorRunTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val ts = Option(stageTaskMs.remove(id)).map(_.toSeq).getOrElse(Nil)
    if (ts.length >= 2) {
      val med = Stats.median(ts.map(_.toDouble))
      val a = acc(stageGroup.getOrDefault(id, "(none)"))
      a.synchronized(a.stageSkew += ts.max / math.max(1.0, med))
    }
  }

  def groups: Map[String, Acc] = byGroup.asScala.toMap

  /** Sum over the groups that `keep` selects. */
  def total(keep: String => Boolean): Map[String, Double] = {
    val sel = groups.filter { case (g, _) => keep(g) }.values.toSeq
    def s(f: Acc => Long) = sel.map(a => a.synchronized(f(a))).sum.toDouble
    val skews = sel.flatMap(a => a.synchronized(a.stageSkew.toVector))
    Map(
      "spark.jobs" -> s(_.jobs),
      "spark.task_cpu_ms" -> s(_.cpuNs) / 1e6,
      "spark.gc_ms" -> s(_.gcMs),
      "spark.shuffle_write_bytes" -> s(_.shuffleWrite),
      "spark.spill_bytes" -> s(_.spill),
      "spark.output_bytes" -> s(_.outputBytes),
      "spark.records_read" -> s(_.recordsRead),
      "spark.max_task_over_median" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }

  /** Drain the listener bus so late task-end events are counted. */
  def drain(sc: SparkContext): Unit = {
    try {
      val m = sc.getClass.getMethod("listenerBus")
      val bus = m.invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(10000L))
    } catch { case _: Throwable => Thread.sleep(200) }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
