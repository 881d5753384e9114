package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run found: counted operations, named failures and metrics.
  * `e2e` holds the values printed with tracing off, `layers` the traced
  * per-layer values, `info` every workload-specific end-to-end metric
  * (printed by name, with unit, for reading; not part of the gate).
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  /** One checked operation; a failed check is counted and named. */
  def check(name: String, ok: Boolean, detail: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (errors.length < 20) errors += s"$name: $detail" }
  }

  def error(name: String, detail: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (errors.length < 20) errors += s"$name: $detail"
  }

  /** A workload-specific end-to-end metric, for the info line. */
  def note(name: String, value: Double, unit: String, extra: String = ""): Unit =
    info(name) = s"""{"value":${Json.num(value)},"unit":"$unit"$extra}"""

  def noteTail(name: String, xs: Seq[Double], unit: String): Unit = {
    val (v, pct, n) = Stats.tail(xs)
    note(name, v, unit, s""","percentile":${Json.num(pct)},"samples":$n""")
  }
}

/** Run context: the session, the tracer, the owned listener and scratch. */
final class Ctx(val conf: Conf, var spark: SparkSession, val out: Outcome) {
  val tr = new Tracer(false)
  val counters = new GroupCounters
  private var listening = false

  def dir(name: String): String = {
    val f = new File(conf.scratch, name); f.mkdirs(); f.getAbsolutePath
  }

  /** Tracing on: spans recorded and the Spark listener attached. */
  def tracing(on: Boolean): Unit = {
    tr.enabled = on
    if (on && !listening) { spark.sparkContext.addSparkListener(counters); listening = true }
    if (!on && listening) {
      counters.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters); listening = false
    }
  }

  /** Run `body` under the benchmark's own Spark job group. */
  def group[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-${conf.workload}-$name", name, interruptOnCancel = true)
    try body finally sc.clearJobGroup()
  }

  def timeMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Closed loop: run `op` until `seconds` have passed, at least `minOps`
    * times and a whole number of `roundTo` ops, while `more()` holds (a
    * workload with a finite stock of inputs stops early when it runs out);
    * returns the per-op samples in ms.
    */
  def loop(seconds: Double, minOps: Int = 1, roundTo: Int = 1, more: () => Boolean = () => true)(
      op: Int => Double): Vector[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val xs = Vector.newBuilder[Double]
    var i = 0
    while (more() && (i < minOps || System.nanoTime() < end || i % roundTo != 0)) { xs += op(i); i += 1 }
    val r = xs.result()
    println(s"[perfbench] samples ms: ${r.map(x => f"$x%.0f").mkString(" ")}")
    r
  }

  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-phase"); t.setDaemon(true); t
  }

  /** A phase with a time limit: on a stall or an exception the phase is
    * recorded as a named failure, its Spark jobs are cancelled and the run
    * continues (the result then reports correct = false).
    */
  def phase[A](name: String, limitSec: Double)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val f = pool.submit(() => body)
    try Some(f.get((limitSec * 1000).toLong, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        out.error(s"phase $name", f"timed out after $limitSec%.0f s")
        f.cancel(true); spark.sparkContext.cancelAllJobs(); None
      case e: java.util.concurrent.ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        out.error(s"phase $name", s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").take(300)}")
        None
    } finally println(f"[perfbench] phase $name: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      f"(JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s)")
  }
}

final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
    scratch: String, cores: Int, result: String)

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "search_jobs" -> SearchJobs.run,
    "live_views" -> LiveViews.run,
    "curation_funnel" -> CurationFunnel.run)

  def session(conf: Conf, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(conf.scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(conf.scratch, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (Files.isReadable(f)) {
      val line = Files.readAllLines(f).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } else Runtime.getRuntime.totalMemory() / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("scratch"), m("cores").toInt, m("result"))
    val body = Workloads.getOrElse(conf.workload,
      throw new IllegalArgumentException(s"unknown workload ${conf.workload}"))
    val out = new Outcome
    val ctx = new Ctx(conf, session(conf, conf.cores), out)
    try body(ctx)
    catch { case e: Throwable => out.error("workload", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    ctx.tracing(false)
    out.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    write(conf, out, ctx)
    println(f"[perfbench] result written (JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s)")
    try ctx.spark.stop() catch { case _: Throwable => () }
    println(f"[perfbench] session stopped (JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s)")
    sys.exit(0) // a thread left behind by a failed phase must not hold the JVM open
  }

  private def write(conf: Conf, out: Outcome, ctx: Ctx): Unit = {
    def obj(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val json =
      s"""{"workload":"${conf.workload}","attempted":${out.attempted},"failed":${out.failed},""" +
      s""""errors":[${out.errors.map(e => "\"" + Json.esc(e) + "\"").mkString(",")}],""" +
      s""""e2e":${obj(out.e2e)},"layers":${obj(out.layers)},""" +
      s""""info":${out.info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(conf.result), json.getBytes(StandardCharsets.UTF_8))
    if (conf.trace)
      Files.write(Paths.get(conf.result + ".spans.json"), ctx.tr.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

/** Shared pieces of the traced run. */
object Traced {
  /** Report the Spark listener's counters for the traced phase, per
    * operation (`ops` = jobs, batches or passes traced), so they do not grow
    * with the number of operations that fit in the window.
    */
  def sparkCounters(ctx: Ctx, ops: Int): Map[String, Double] = {
    ctx.counters.drain(ctx.spark.sparkContext)
    val t = ctx.counters.total(_ => true)
    val n = math.max(1, ops).toDouble
    Seq("spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.gc_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.jobs" -> "count",
      "spark.output_bytes" -> "bytes").foreach { case (k, u) => ctx.out.layers(k) = (t(k) / n, u) }
    ctx.out.layers("spark.max_task_over_median") = (t("spark.max_task_over_median"), "ratio")
    ctx.out.layers("spark.cached_bytes") =
      (ctx.spark.sparkContext.getRDDStorageInfo.map(r => (r.memSize + r.diskSize).toDouble).sum, "bytes")
    t
  }

  /** The traced phase: operations run in pairs, one untraced and one traced
    * doing the same work, the order alternating from pair to pair (and whole
    * pairs of pairs), with the Spark listener attached throughout.
    * `op(pair, traced)` returns the operation's wall time in ms. Reports the
    * tracing overhead: the geometric mean over pairs of traced / untraced,
    * minus 1, in which a cost that falls on the first (or second) run of a
    * pair cancels out. Also reports how much of the traced operations' wall
    * time the children of the `root` spans cover; returns (untraced, traced)
    * samples.
    */
  def alternate(ctx: Ctx, root: String, seconds: Double, minPairs: Int, more: () => Boolean = () => true)(
      op: (Int, Boolean) => Double): (Vector[Double], Vector[Double]) = {
    val (u, t) = (Vector.newBuilder[Double], Vector.newBuilder[Double])
    val ratios = Vector.newBuilder[Double]
    var first = 0.0
    ctx.tracing(true)
    ctx.loop(seconds, minPairs * 2, roundTo = 4, more) { i =>
      val pair = i / 2
      val traced = (i % 2 == 1) == (pair % 2 == 0)
      ctx.tr.enabled = traced
      val ms = op(pair, traced)
      (if (traced) t else u) += ms
      if (i % 2 == 0) first = ms
      else ratios += (if (traced) ms / first else first / ms)
      ms
    }
    ctx.tr.enabled = true
    val (untraced, tracedXs, rs) = (u.result(), t.result(), ratios.result())
    if (rs.nonEmpty) ctx.out.layers("trace.overhead_ratio") = (math.exp(rs.map(math.log).sum / rs.length) - 1.0, "ratio")
    val roots = ctx.tr.selfTimesMs.filter { case (s, _) => s.name == root && s.parent < 0 }
    val rootMs = roots.map(_._1.ms).sum
    val rootSelf = roots.map(_._2).sum
    ctx.out.layers("trace.blocking_steps_share") = ((rootMs - rootSelf) / math.max(1e-9, tracedXs.sum), "ratio")
    ctx.out.layers("trace.root_self_share") = (rootSelf / math.max(1e-9, rootMs), "ratio")
    (untraced, tracedXs)
  }

  /** Median over requests of the summed duration of spans named `name`. */
  def perReqMs(ctx: Ctx, name: String): Double = {
    val xs = ctx.tr.all.filter(_.name == name).groupBy(_.req).values.map(_.map(_.ms).sum).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}
